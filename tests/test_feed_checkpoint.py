"""Snapshot checkpoints inside the change feed
(``CdcEngine.checkpoint_feed`` — the Iceberg
expire-snapshots-behind-a-kept-snapshot analog).

Why: ``state_as_of`` folds the feed prefix, which grows with TOTAL
churn, and feed retention destroyed time travel outright. A checkpoint
caps the fold at O(state-at-checkpoint + churn-since) and makes
retention prune only covered dirs. Reference anchor: the reference has
no history at all — each monthly drop rebuilds the database
(db/sqlite_builder.py:170-177); the checkpoint is the graft's bounded
replacement for that reset.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from rfb_cnpj_etl_spark.engine import CdcEngine, MaintenancePolicy

LOG_SCHEMA = (
    "repo string, path string, commit string, lang string, content string,"
    " lsn long, op string"
)


def row(repo, path, content, lsn, op="upsert"):
    return (repo, path, f"c{lsn}", "python", content, lsn, op)


def engine(spark, tmp_path, name="e", **kw):
    return CdcEngine(
        spark,
        str(tmp_path / f"{name}_state"),
        str(tmp_path / f"{name}_m.jsonl"),
        normalize=None,
        changes_dir=str(tmp_path / f"{name}_changes"),
        **kw,
    )


def snap_tuples(df):
    return sorted(
        (r["repo"], r["path"], r["content"], r["lsn"]) for r in df.collect()
    )


def three_window_log(spark):
    return spark.createDataFrame(
        [row("r", f"p{i}", f"v{i}", i + 1) for i in range(8)]  # w0
        + [row("r", "p1", "v1b", 11), row("r", "p2", None, 12, "delete")]
        + [row("r", "p1", "v1c", 21), row("r", "pX", "vx", 22)],  # w2
        LOG_SCHEMA,
    )


class TestCheckpointFeed:
    def test_checkpoint_equals_state_and_is_idempotent(self, spark, tmp_path):
        eng = engine(spark, tmp_path)
        entries = eng.replay(three_window_log(spark), batch_size=10)
        res = eng.checkpoint_feed()  # default: newest batch
        assert res == {
            "checkpoint_of": entries[-1]["batch_id"],
            "rows": 8,
            "reused": False,
        }
        cp_dir = os.path.join(
            eng.changes_dir, f"checkpoint={entries[-1]['batch_id']}"
        )
        got = snap_tuples(spark.read.parquet(cp_dir))
        want = snap_tuples(
            eng.final_state().select("repo", "path", "content", "lsn")
        )
        assert got == want
        # no engine-internal columns leak into the published snapshot
        cols = set(spark.read.parquet(cp_dir).columns)
        assert not cols & {"bucket", "content_sha256", "op", "change_type"}
        # idempotent reuse — and the advisory manifest entry committed
        again = eng.checkpoint_feed(entries[-1]["batch_id"])
        assert again["reused"] is True and again["rows"] == 8
        cps = [
            e for e in eng.manifest.entries() if "checkpoint_of" in e
        ]
        assert len(cps) == 1 and cps[0]["checkpoint_rows"] == 8

    def test_as_of_folds_from_checkpoint_after_prefix_prune(
        self, spark, tmp_path
    ):
        """The headline property: checkpoint at a midpoint, destroy
        every covered feed dir, and every LATER batch is still exactly
        reconstructible (while earlier ones still refuse loudly)."""
        eng = engine(spark, tmp_path)
        entries = eng.replay(three_window_log(spark), batch_size=10)
        assert len(entries) == 3
        mid = entries[1]["batch_id"]
        res = eng.checkpoint_feed(mid)  # historical → state_as_of path
        assert res["reused"] is False and res["rows"] == 7
        for e in entries[:2]:  # simulate retention of covered dirs
            shutil.rmtree(
                os.path.join(eng.changes_dir, f"batch={e['batch_id']}")
            )
        # as-of the checkpoint batch itself: pure checkpoint read
        s1 = snap_tuples(eng.state_as_of(mid))
        assert ("r", "p1", "v1b", 11) in s1 and len(s1) == 7
        # as-of the final batch: checkpoint + the one surviving feed dir
        cols = ["repo", "path", "content", "lsn", "content_sha256"]
        a = sorted(
            map(tuple, eng.state_as_of(entries[-1]["batch_id"])
                .select(*cols).collect())
        )
        b = sorted(map(tuple, eng.final_state().select(*cols).collect()))
        assert a == b and len(a) == 8
        # pre-checkpoint history is gone and says so
        with pytest.raises(ValueError, match="pruned"):
            eng.state_as_of(entries[0]["batch_id"])

    def test_delete_then_reinsert_across_checkpoint(self, spark, tmp_path):
        log = spark.createDataFrame(
            [row("r", "a", "v1", 1), row("r", "b", "vb", 2)]
            + [row("r", "a", None, 11, "delete")]
            + [row("r", "a", "v3", 21)],
            LOG_SCHEMA,
        )
        eng = engine(spark, tmp_path)
        e = eng.replay(log, batch_size=10)
        eng.checkpoint_feed(e[1]["batch_id"])  # 'a' is deleted here
        shutil.rmtree(
            os.path.join(eng.changes_dir, f"batch={e[0]['batch_id']}")
        )
        shutil.rmtree(
            os.path.join(eng.changes_dir, f"batch={e[1]['batch_id']}")
        )
        assert snap_tuples(eng.state_as_of(e[1]["batch_id"])) == [
            ("r", "b", "vb", 2)
        ]
        assert snap_tuples(eng.state_as_of(e[2]["batch_id"])) == [
            ("r", "a", "v3", 21),
            ("r", "b", "vb", 2),
        ]

    def test_late_enabled_feed_bootstraps_via_checkpoint(
        self, spark, tmp_path
    ):
        """An engine that ran without ``changes_dir`` can enable it,
        checkpoint the live state (no feed coverage needed for the
        newest batch), and gain time travel for everything after."""
        log = three_window_log(spark)
        eng = CdcEngine(
            spark,
            str(tmp_path / "s"),
            str(tmp_path / "m.jsonl"),
            normalize=None,
        )
        first = eng.replay(log.filter(F.col("lsn") <= 10), batch_size=5)
        assert len(first) == 2  # so first[0] genuinely predates the cp
        eng.changes_dir = str(tmp_path / "c_late")
        res = eng.checkpoint_feed()  # snapshot of the feed-less history
        assert res["checkpoint_of"] == first[-1]["batch_id"]
        later = eng.replay(log, batch_size=5)
        new = [e for e in later if e["batch_id"] not in
               {x["batch_id"] for x in first}]
        assert new and all("change_rows" in e for e in new)
        cols = ["repo", "path", "content", "lsn"]
        a = sorted(map(tuple, eng.state_as_of(new[-1]["batch_id"])
                       .select(*cols).collect()))
        b = sorted(map(tuple, eng.final_state().select(*cols).collect()))
        assert a == b and len(a) == 8
        # batches before the checkpoint stay honestly unavailable
        with pytest.raises(ValueError, match="predates the change feed"):
            eng.state_as_of(first[0]["batch_id"])

    def test_schema_evolution_across_checkpoint(self, spark, tmp_path):
        eng = engine(spark, tmp_path)
        b1 = spark.createDataFrame(
            [row("r", "a", "v1", 1), row("r", "b", "v1", 2)], LOG_SCHEMA
        )
        e1 = eng.replay(b1, batch_size=10)
        eng.checkpoint_feed(e1[0]["batch_id"])
        b2 = spark.createDataFrame(
            [("r", "a", "c11", "python", "v2", 11, "upsert", 9000)],
            LOG_SCHEMA + ", stars long",
        )
        e2 = eng.replay(b2, batch_size=10)
        assert e2[0]["added_columns"] == ["stars"]
        shutil.rmtree(
            os.path.join(eng.changes_dir, f"batch={e1[0]['batch_id']}")
        )
        snap = eng.state_as_of(e2[0]["batch_id"])
        got = {
            (r["repo"], r["path"], r["content"], r["stars"])
            for r in snap.collect()
        }
        # checkpoint rows (pre-evolution) NULL-fill the added column
        assert got == {("r", "a", "v2", 9000), ("r", "b", "v1", None)}

    def test_torn_staging_invisible_and_recomputed(self, spark, tmp_path):
        eng = engine(spark, tmp_path)
        entries = eng.replay(three_window_log(spark), batch_size=10)
        bid = entries[-1]["batch_id"]
        torn = os.path.join(
            eng.changes_dir, f"checkpoint={bid}.staging"
        )
        os.makedirs(torn)
        with open(os.path.join(torn, "junk"), "w") as f:
            f.write("torn write")
        assert eng.feed.checkpoints() == {}  # torn staging invisible
        res = eng.checkpoint_feed(bid)
        assert res["reused"] is False and res["rows"] == 8
        assert not os.path.isdir(torn)  # staging consumed by the publish
        assert bid in eng.feed.checkpoints()

    def test_newest_checkpoint_refuses_uncommitted_live_state(
        self, spark, tmp_path
    ):
        """Merge-then-crash window: the state already holds a batch the
        manifest never committed (the feed publishes BEFORE the state
        mutates, so that batch's feed dir exists uncommitted). The
        newest-batch fast path must refuse — a live-state snapshot
        labeled with the prior batch id would contain the uncommitted
        rows — and work again once replay re-drives the batch."""
        import json as _json

        eng = engine(spark, tmp_path)
        eng.replay(three_window_log(spark), batch_size=10)
        # commits live as one segment file each until the fold; drop
        # the newest = the crash landed just before its manifest commit
        segs_dir = str(tmp_path / "e_m.jsonl.segs")
        newest = sorted(os.listdir(segs_dir))[-1]
        with open(os.path.join(segs_dir, newest), encoding="utf-8") as f:
            assert "mode" in _json.load(f)  # it IS the merge commit
        os.remove(os.path.join(segs_dir, newest))
        eng2 = engine(spark, tmp_path)
        with pytest.raises(ValueError, match="not manifest-committed"):
            eng2.checkpoint_feed()
        # explicit non-newest checkpoints fold committed feed dirs only
        # and stay correct in the window
        committed = [e["batch_id"] for e in eng2.feed.merge_entries()]
        assert eng2.checkpoint_feed(committed[0])["reused"] is False
        # re-driving replay recommits the batch; the fast path unblocks
        eng2.replay(three_window_log(spark), batch_size=10)
        res = eng2.checkpoint_feed()
        assert res["reused"] is False and res["rows"] == 8

    def test_errors(self, spark, tmp_path):
        eng = engine(spark, tmp_path)
        with pytest.raises(ValueError, match="no applied batches"):
            eng.checkpoint_feed()
        entries = eng.replay(
            spark.createDataFrame([row("r", "a", "v", 1)], LOG_SCHEMA),
            batch_size=10,
        )
        with pytest.raises(ValueError, match="not in the manifest"):
            eng.checkpoint_feed("no_such_batch")
        no_feed = CdcEngine(
            spark, str(tmp_path / "s2"), str(tmp_path / "m2.jsonl"),
            normalize=None,
        )
        with pytest.raises(ValueError, match="changes_dir"):
            no_feed.checkpoint_feed()
        assert entries  # engine with feed unaffected by the error paths


class TestCheckpointAwareRetention:
    def test_retention_prunes_only_covered_dirs(self, spark, tmp_path):
        """With a checkpoint at batch 1 of 4 and retention=1: only the
        two covered dirs go (uncovered dirs are load-bearing for time
        travel and stay, even though the count target says prune 3) —
        and time travel to the newest batch still works afterwards."""
        log = spark.createDataFrame(
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(12)],
            LOG_SCHEMA,
        )
        eng = engine(spark, tmp_path)
        entries = eng.replay(log, batch_size=3)
        # absolute-LSN windows: [0,3) holds lsn 1-2, then 3 per window
        assert len(entries) == 5
        eng.checkpoint_feed(entries[1]["batch_id"])
        report = eng.maintain(
            MaintenancePolicy(
                max_files_per_bucket=10_000, changes_retention_batches=1
            )
        )
        pruned = [
            a for a in report["actions"] if a["store"] == "change_feed"
        ]
        assert pruned and pruned[0]["removed_batch_dirs"] == 2
        left = sorted(
            d for d in os.listdir(eng.changes_dir) if d.startswith("batch=")
        )
        assert left == sorted(
            f"batch={e['batch_id']}" for e in entries[2:]
        )
        cols = ["repo", "path", "content", "lsn"]
        a = sorted(map(tuple, eng.state_as_of(entries[-1]["batch_id"])
                       .select(*cols).collect()))
        b = sorted(map(tuple, eng.final_state().select(*cols).collect()))
        assert a == b and len(a) == 12

    def test_retention_without_checkpoint_unchanged(self, spark, tmp_path):
        """No checkpoint → the original opt-in count prune (documented
        as trading time travel for space)."""
        log = spark.createDataFrame(
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(9)],
            LOG_SCHEMA,
        )
        eng = engine(spark, tmp_path)
        entries = eng.replay(log, batch_size=3)
        eng.maintain(
            MaintenancePolicy(
                max_files_per_bucket=10_000, changes_retention_batches=2
            )
        )
        left = [
            d for d in os.listdir(eng.changes_dir) if d.startswith("batch=")
        ]
        assert len(left) == 2
        with pytest.raises(ValueError, match="pruned"):
            eng.state_as_of(entries[-1]["batch_id"])

    def test_policy_auto_checkpoint_cadence(self, spark, tmp_path):
        """feed_checkpoint_every: maintenance publishes the checkpoint
        itself (at the newest batch — live-state read), re-arms only
        after enough NEW batches, and runs before the retention prune so
        one policy keeps the feed bounded and time-travel-safe with no
        manual step."""
        eng = engine(spark, tmp_path)
        policy = MaintenancePolicy(
            max_files_per_bucket=10_000,
            feed_checkpoint_every=3,
            changes_retention_batches=1,
        )
        log = spark.createDataFrame(
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(6)],
            LOG_SCHEMA,
        )
        entries = eng.replay(log, batch_size=3)
        assert len(entries) == 3  # lsn 1-2, 3-5, 6
        report = eng.maintain(policy)
        cp_actions = [
            a for a in report["actions"]
            if a["store"] == "change_feed" and a["action"] == "checkpoint"
        ]
        assert len(cp_actions) == 1
        assert cp_actions[0]["checkpoint_of"] == entries[-1]["batch_id"]
        # the SAME maintenance cycle then pruned the covered dirs
        pruned = [
            a for a in report["actions"]
            if a["store"] == "change_feed" and a["action"] == "prune"
        ]
        assert pruned and pruned[0]["removed_batch_dirs"] == 2
        # cadence re-arms: 2 more batches < every=3 → no new checkpoint
        # (absolute-LSN windows: lsn 12-17 spans exactly [12,15)+[15,18))
        more = spark.createDataFrame(
            [row("r", f"q{i}", f"w{i}", 12 + i) for i in range(6)],
            LOG_SCHEMA,
        )
        entries2 = eng.replay(more, batch_size=3)
        assert len(entries2) == 2
        report2 = eng.maintain(policy)
        assert not [
            a for a in report2["actions"] if a.get("action") == "checkpoint"
        ]
        # third new batch crosses the cadence → a second checkpoint
        entries3 = eng.replay(
            spark.createDataFrame([row("r", "z", "vz", 30)], LOG_SCHEMA),
            batch_size=3,
        )
        report3 = eng.maintain(policy)
        cp3 = [
            a for a in report3["actions"] if a.get("action") == "checkpoint"
        ]
        assert len(cp3) == 1
        assert cp3[0]["checkpoint_of"] == entries3[-1]["batch_id"]
        # the whole history stays reachable through it all
        cols = ["repo", "path", "content", "lsn"]
        a = sorted(map(tuple, eng.state_as_of(entries3[-1]["batch_id"])
                       .select(*cols).collect()))
        b = sorted(map(tuple, eng.final_state().select(*cols).collect()))
        assert a == b and len(a) == 13

    def test_policy_checkpoint_noop_without_feed_or_batches(
        self, spark, tmp_path
    ):
        """The knob is inert on a feed-less engine and on an engine
        whose newest batch is already checkpointed."""
        no_feed = CdcEngine(
            spark, str(tmp_path / "s2"), str(tmp_path / "m2.jsonl"),
            normalize=None,
        )
        policy = MaintenancePolicy(
            max_files_per_bucket=10_000, feed_checkpoint_every=1
        )
        assert no_feed.maintain(policy)["actions"] == []
        eng = engine(spark, tmp_path)
        eng.replay(
            spark.createDataFrame([row("r", "a", "v", 1)], LOG_SCHEMA),
            batch_size=10,
        )
        r1 = eng.maintain(policy)
        assert [a["action"] for a in r1["actions"]] == ["checkpoint"]
        r2 = eng.maintain(policy)  # newest batch already covered
        assert r2["actions"] == []

    def test_under_retention_noop(self, spark, tmp_path):
        eng = engine(spark, tmp_path)
        eng.replay(
            spark.createDataFrame([row("r", "a", "v", 1)], LOG_SCHEMA),
            batch_size=10,
        )
        eng.checkpoint_feed()
        assert eng.feed.prune(8) == 0
        assert any(
            d.startswith("batch=") for d in os.listdir(eng.changes_dir)
        )


class TestCheckpointCli:
    def test_checkpoint_verb(self, spark, tmp_path, capsys):
        import json

        from rfb_cnpj_etl_spark.cli import main

        log_dir = str(tmp_path / "log")
        spark.createDataFrame(
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(5)],
            LOG_SCHEMA,
        ).write.parquet(log_dir)
        state = str(tmp_path / "state")
        manifest = str(tmp_path / "m.jsonl")
        changes = str(tmp_path / "changes")
        assert (
            main(
                [
                    "replay", "--state", state, "--manifest", manifest,
                    "--log", log_dir, "--batch-size", "100",
                    "--changes-dir", changes,
                ]
            )
            == 0
        )
        capsys.readouterr()
        assert (
            main(
                [
                    "checkpoint", "--state", state, "--manifest", manifest,
                    "--changes-dir", changes,
                ]
            )
            == 0
        )
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["rows"] == 5 and out["reused"] is False
        assert any(
            d.startswith("checkpoint=") for d in os.listdir(changes)
        )

    def test_maintain_feed_knobs(self, spark, tmp_path, capsys):
        import json

        from rfb_cnpj_etl_spark.cli import main

        log_dir = str(tmp_path / "log")
        spark.createDataFrame(
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(9)],
            LOG_SCHEMA,
        ).write.parquet(log_dir)
        state = str(tmp_path / "state")
        manifest = str(tmp_path / "m.jsonl")
        changes = str(tmp_path / "changes")
        assert (
            main(
                [
                    "replay", "--state", state, "--manifest", manifest,
                    "--log", log_dir, "--batch-size", "3",
                    "--changes-dir", changes,
                ]
            )
            == 0
        )
        capsys.readouterr()
        assert (
            main(
                [
                    "maintain", "--state", state, "--manifest", manifest,
                    "--changes-dir", changes,
                    "--feed-checkpoint-every", "2",
                    "--changes-retention", "1",
                ]
            )
            == 0
        )
        report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        acts = [
            (a["store"], a["action"]) for a in report["actions"]
        ]
        assert ("change_feed", "checkpoint") in acts
        assert ("change_feed", "prune") in acts
        assert any(
            d.startswith("checkpoint=") for d in os.listdir(changes)
        )
