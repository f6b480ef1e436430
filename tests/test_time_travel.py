"""Time travel (``CdcEngine.state_as_of``): reconstruct the state as
of any applied batch by LWW-folding the change feed's committed prefix
— the Iceberg snapshot-read / Delta VERSION AS OF analog, with zero
stored snapshots (cost = one scan of the net-changes prefix + one hash
aggregate, never a state copy).

Reference anchor: the reference has no history at all — each monthly
drop overwrites the database (db/sqlite_builder.py). The graft's feed
makes every committed batch a readable snapshot for free.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rfb_cnpj_etl_spark.engine import CdcEngine, MaintenancePolicy

LOG_SCHEMA = (
    "repo string, path string, commit string, lang string, content string,"
    " lsn long, op string"
)


def row(repo, path, content, lsn, op="upsert"):
    return (repo, path, f"c{lsn}", "python", content, lsn, op)


def engine(spark, tmp_path, name="e"):
    return CdcEngine(
        spark,
        str(tmp_path / f"{name}_state"),
        str(tmp_path / f"{name}_m.jsonl"),
        normalize=None,
        changes_dir=str(tmp_path / f"{name}_changes"),
    )


def snap_tuples(df):
    return sorted(
        (r["repo"], r["path"], r["content"], r["lsn"]) for r in df.collect()
    )


class TestStateAsOf:
    def test_midpoint_and_final_snapshots(self, spark, tmp_path):
        log = spark.createDataFrame(
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(8)]       # w0
            + [row("r", "p1", "v1b", 11), row("r", "p2", None, 12, "delete")]  # w1
            + [row("r", "p1", "v1c", 21), row("r", "pX", "vx", 22)],   # w2
            LOG_SCHEMA,
        )
        eng = engine(spark, tmp_path)
        entries = eng.replay(log, batch_size=10)
        assert len(entries) == 3

        # as-of window 0: the raw inserts
        s0 = eng.state_as_of(entries[0]["batch_id"])
        assert snap_tuples(s0) == sorted(
            ("r", f"p{i}", f"v{i}", i + 1) for i in range(8)
        )
        # as-of window 1: p1 updated, p2 gone
        s1 = snap_tuples(eng.state_as_of(entries[1]["batch_id"]))
        assert ("r", "p1", "v1b", 11) in s1
        assert not any(t[1] == "p2" for t in s1)
        assert len(s1) == 7
        # as-of the last batch ≡ final_state, including the digest
        cols = ["repo", "path", "content", "lsn", "content_sha256"]
        last = eng.state_as_of(entries[-1]["batch_id"])
        a = sorted(map(tuple, last.select(*cols).collect()))
        b = sorted(map(tuple, eng.final_state().select(*cols).collect()))
        assert a == b and len(a) == 8

    def test_delete_then_reinsert_across_batches(self, spark, tmp_path):
        log = spark.createDataFrame(
            [row("r", "a", "v1", 1)]
            + [row("r", "a", None, 11, "delete")]
            + [row("r", "a", "v3", 21)],
            LOG_SCHEMA,
        )
        eng = engine(spark, tmp_path)
        e = eng.replay(log, batch_size=10)
        assert snap_tuples(eng.state_as_of(e[0]["batch_id"])) == [
            ("r", "a", "v1", 1)
        ]
        assert snap_tuples(eng.state_as_of(e[1]["batch_id"])) == []
        assert snap_tuples(eng.state_as_of(e[2]["batch_id"])) == [
            ("r", "a", "v3", 21)
        ]

    def test_schema_evolution_mid_history(self, spark, tmp_path):
        """Add-column evolution: the feed's older dirs lack the new
        column; mergeSchema presents one evolved schema (old rows NULL)
        and the fold reproduces the evolved final state."""
        eng = engine(spark, tmp_path)
        b1 = spark.createDataFrame(
            [row("r", "a", "v1", 1), row("r", "b", "v1", 2)], LOG_SCHEMA
        )
        e1 = eng.replay(b1, batch_size=10)
        b2 = spark.createDataFrame(
            [("r", "a", "c11", "python", "v2", 11, "upsert", 9000)],
            LOG_SCHEMA + ", stars long",
        )
        e2 = eng.replay(b2, batch_size=10)
        assert e2[0]["added_columns"] == ["stars"]

        feed = eng.change_feed()
        assert "stars" in feed.columns  # mergeSchema across batch dirs

        snap = eng.state_as_of(e2[0]["batch_id"])
        got = {
            (r["repo"], r["path"], r["content"], r["stars"])
            for r in snap.collect()
        }
        assert got == {("r", "a", "v2", 9000), ("r", "b", "v1", None)}
        # pre-evolution snapshot still readable (no stars dir at all)
        s1 = eng.state_as_of(e1[0]["batch_id"])
        assert snap_tuples(s1) == [("r", "a", "v1", 1), ("r", "b", "v1", 2)]

    def test_errors_unknown_pruned_and_uncovered(self, spark, tmp_path):
        log = spark.createDataFrame(
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(9)], LOG_SCHEMA
        )
        eng = engine(spark, tmp_path)
        entries = eng.replay(log, batch_size=3)  # lsn 1..9 → windows 0..3
        assert len(entries) == 4
        with pytest.raises(ValueError, match="not in the manifest"):
            eng.state_as_of("no_such_batch")
        # retention prunes the oldest dir → snapshot must refuse, not
        # silently reconstruct from a partial feed
        eng.maintain(
            MaintenancePolicy(
                max_files_per_bucket=10_000, changes_retention_batches=2
            )
        )
        with pytest.raises(ValueError, match="pruned"):
            eng.state_as_of(entries[-1]["batch_id"])

        # history that predates the feed is rejected too
        e2 = CdcEngine(
            spark,
            str(tmp_path / "s2"),
            str(tmp_path / "m2.jsonl"),
            normalize=None,
        )
        first = e2.replay(log.filter(F.col("lsn") <= 3), batch_size=3)
        e2.changes_dir = str(tmp_path / "c2_late")
        second = e2.replay(log, batch_size=3)
        with pytest.raises(ValueError, match="predates the change feed"):
            e2.state_as_of(second[-1]["batch_id"])
        assert first[0]["batch_id"] != second[0]["batch_id"]

    def test_requires_changes_dir(self, spark, tmp_path):
        eng = CdcEngine(
            spark, str(tmp_path / "s"), str(tmp_path / "m.jsonl"),
            normalize=None,
        )
        with pytest.raises(ValueError, match="changes_dir"):
            eng.state_as_of("x")


class TestTimeTravelFuzz:
    def test_every_snapshot_matches_prefix_lww(self, spark, tmp_path):
        """Seeded fuzz: random window sizes and merge modes, feed on —
        state_as_of at EVERY committed batch must equal a pure LWW over
        the log prefix ``lsn <= batch.lsn_hi`` (windows are contiguous
        LSN ranges, so that prefix is exactly the applied history)."""
        import random

        from rfb_cnpj_etl_spark.gen import synthesize_changelog
        from rfb_cnpj_etl_spark.operators.dedup import last_writer_wins_agg

        log = synthesize_changelog(
            spark, 1500, n_repos=3, n_paths=60, delete_ratio=0.2,
            hot_repo_fraction=0.3,
        ).cache()
        for seed in (5, 42):
            rng = random.Random(seed)
            eng = CdcEngine(
                spark,
                str(tmp_path / f"s{seed}"),
                str(tmp_path / f"m{seed}.jsonl"),
                merge_mode=rng.choice(["cow", "auto"]),
                changes_dir=str(tmp_path / f"c{seed}"),
            )
            entries = eng.replay(
                log, batch_size=rng.choice([150, 400, 700])
            )
            assert len(entries) >= 3
            for e in entries:
                snap = {
                    (r["repo"], r["path"], r["content"], r["lsn"])
                    for r in eng.state_as_of(e["batch_id"]).collect()
                }
                exp_df = last_writer_wins_agg(
                    log.filter(F.col("lsn") <= e["lsn_hi"]),
                    ["repo", "path"],
                )
                exp = {
                    (r["repo"], r["path"], r["content"], r["lsn"])
                    for r in exp_df.filter(F.col("op") != "delete").collect()
                }
                assert snap == exp, f"seed {seed} batch {e['batch_id']}"

    def test_pointer_protocol_snapshot(self, spark, tmp_path):
        """The feed is protocol-independent (plain per-batch dirs);
        time travel must work unchanged on a pointer-committed store."""
        log = spark.createDataFrame(
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(6)]
            + [row("r", "p0", None, 11, "delete")],
            LOG_SCHEMA,
        )
        eng = CdcEngine(
            spark,
            str(tmp_path / "state"),
            str(tmp_path / "m.jsonl"),
            normalize=None,
            commit_protocol="pointer",
            changes_dir=str(tmp_path / "changes"),
        )
        entries = eng.replay(log, batch_size=10)
        assert snap_tuples(eng.state_as_of(entries[0]["batch_id"])) == sorted(
            ("r", f"p{i}", f"v{i}", i + 1) for i in range(6)
        )
        cols = ["repo", "path", "content", "lsn"]
        a = sorted(map(tuple, eng.state_as_of(entries[-1]["batch_id"])
                       .select(*cols).collect()))
        b = sorted(map(tuple, eng.final_state().select(*cols).collect()))
        assert a == b and len(a) == 5


class TestStreamingChangeFeed:
    def test_stream_epochs_publish_feed_and_time_travel(self, spark, tmp_path):
        from rfb_cnpj_etl_spark.streaming.pipeline import StreamingCdcPipeline

        src = str(tmp_path / "src")
        rows = [row("r", f"p{i}", f"v{i}", i + 1) for i in range(6)] + [
            row("r", "p0", "v0b", 10),
            row("r", "p1", None, 11, "delete"),
        ]
        # several files so availableNow yields >1 epoch at 1 file/trigger
        for i, chunk in enumerate([rows[:6], rows[6:]]):
            spark.createDataFrame(chunk, LOG_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        pipe = StreamingCdcPipeline(
            spark,
            src,
            str(tmp_path / "state"),
            str(tmp_path / "m.jsonl"),
            str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
            changes_dir=str(tmp_path / "changes"),
        )
        pipe.run_until_drained()
        eng = pipe.engine
        merge_entries = [e for e in eng.manifest.entries() if "mode" in e]
        assert len(merge_entries) >= 2
        assert all("change_rows" in e for e in merge_entries)
        # the feed's fold as-of the last epoch ≡ the streamed state
        cols = ["repo", "path", "content", "lsn"]
        a = sorted(
            map(tuple, eng.state_as_of(merge_entries[-1]["batch_id"])
                .select(*cols).collect())
        )
        b = sorted(map(tuple, eng.final_state().select(*cols).collect()))
        assert a == b and len(a) == 5  # 6 inserts, p1 deleted


class TestFeedAsStreamSource:
    def test_feed_stream_drains_published_batches(self, spark, tmp_path):
        """change_feed_stream: the feed's batch=* dirs are a Structured
        Streaming source; the stream maps change_type back to op."""
        from rfb_cnpj_etl_spark.streaming.pipeline import change_feed_stream

        log = spark.createDataFrame(
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(8)]
            + [row("r", "p1", None, 11, "delete")],
            LOG_SCHEMA,
        )
        eng = engine(spark, tmp_path)
        eng.replay(log, batch_size=10)  # 2 windows → 2 feed dirs

        stream = change_feed_stream(
            spark, eng.changes_dir, max_files_per_trigger=1
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("feed_tail")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.sql("select * from feed_tail")
        assert sorted(got.columns) == sorted(
            ["repo", "path", "commit", "lang", "content", "lsn", "op"]
        )
        ops = {
            (r["repo"], r["path"], r["op"], r["lsn"]) for r in got.collect()
        }
        assert ("r", "p1", "delete", 11) in ops
        assert len(ops) == 9  # 8 inserts + 1 delete

    def test_downstream_pipeline_tails_feed_across_restarts(
        self, spark, tmp_path
    ):
        """Continuous chaining: stage N keeps publishing feed batches;
        stage N+1 (StreamingCdcPipeline(source_is_feed=True)) drains,
        stage N publishes MORE, stage N+1 resumes on the same
        checkpoint and must discover the new batch=* dirs — ending
        hash-equal to the upstream state."""
        from rfb_cnpj_etl_spark.streaming.pipeline import StreamingCdcPipeline

        up = engine(spark, tmp_path, "up")
        leg1 = spark.createDataFrame(
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(6)], LOG_SCHEMA
        )
        up.replay(leg1, batch_size=10)

        def drain():
            StreamingCdcPipeline(
                spark,
                up.changes_dir,
                str(tmp_path / "down_state"),
                str(tmp_path / "down_m.jsonl"),
                str(tmp_path / "down_ckpt"),
                source_is_feed=True,
            ).run_until_drained()

        drain()
        leg2 = spark.createDataFrame(
            [row("r", "p0", "v0b", 11), row("r", "p1", None, 12, "delete"),
             row("r", "pZ", "vz", 13)],
            LOG_SCHEMA,
        )
        up.replay(leg2, batch_size=10)
        drain()  # same checkpoint → only the new feed dirs are read

        cols = ["repo", "path", "content_sha256", "lsn"]
        down = CdcEngine(
            spark, str(tmp_path / "down_state"),
            str(tmp_path / "down_m.jsonl"), normalize=None,
        )
        a = sorted(map(tuple, up.final_state().select(*cols).collect()))
        b = sorted(map(tuple, down.final_state().select(*cols).collect()))
        assert a == b and len(a) == 6  # 6+1 inserts − 1 delete


class TestSnapshotCli:
    def test_snapshot_verb_writes_parquet(self, spark, tmp_path, capsys):
        import json

        from rfb_cnpj_etl_spark import cli

        state, man = str(tmp_path / "state"), str(tmp_path / "m.jsonl")
        changes, logdir = str(tmp_path / "changes"), str(tmp_path / "log")
        spark.createDataFrame(
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(6)]
            + [row("r", "p0", None, 12, "delete")],
            LOG_SCHEMA,
        ).write.parquet(logdir)
        assert cli.main(
            ["replay", "--state", state, "--manifest", man,
             "--log", logdir, "--changes-dir", changes,
             "--batch-size", "10"]  # delete at lsn 12 → second window
        ) == 0
        capsys.readouterr()
        eng = CdcEngine(spark, state, man, normalize=None, changes_dir=changes)
        first = [e for e in eng.manifest.entries() if "mode" in e][0]
        out_dir = str(tmp_path / "snap")
        assert cli.main(
            ["snapshot", "--state", state, "--manifest", man,
             "--changes-dir", changes, "--as-of", first["batch_id"],
             "--out", out_dir]
        ) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["rows"] == 6  # pre-delete snapshot
        assert spark.read.parquet(out_dir).count() == 6
