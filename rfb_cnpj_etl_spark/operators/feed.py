"""The CDC-out change feed: the one module that knows its on-disk
layout.

A feed lives under ``changes_dir``::

    batch=<batch_id>/          the net row changes one batch made
    checkpoint=<batch_id>/     the full state as of that batch
    .<name>.staging/           a publish in flight (dot-hidden)
    <name>/_feed_meta.json     sidecar with the dir's row count

Every dir appears by one atomic rename of its hidden staging dir
(:func:`publish`), so a consumer that lists only published names never
reads a torn write. Older code staged under a visible
``<name>.staging``: opening a :class:`ChangeFeed` sweeps those, and every
listing skips them.

:func:`publish` is the one write path, shared by the state table's
per-batch changes (``StateTable._emit_changes``) and the snapshot
checkpoints. :class:`ChangeFeed` holds everything else a reader or the
engine needs: the listings, one read, the changelog mapping, the
committed batches, checkpoints, time travel and retention.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schema import OP_DELETE, OP_UPSERT
from .dedup import last_writer_wins_agg
from .store import parquet_footer_rows

#: sidecar recording a published dir's row count (underscore prefix →
#: ignored by parquet readers).
FEED_META = "_feed_meta.json"


def published_dirs(root: str, kind: str = "batch") -> dict[str, str]:
    """``{id: path}`` of the published ``<kind>=<id>`` dirs directly
    under ``root``, sorted by id. Staging is skipped: hidden staging by
    its dot prefix, legacy visible staging by its suffix."""
    if not os.path.isdir(root):
        return {}
    return {
        d.split("=", 1)[1]: os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if d.startswith(f"{kind}=") and not d.endswith(".staging")
    }


def publish(df: DataFrame, out_dir: str, **meta) -> int:
    """Write ``df`` to ``out_dir`` by stage → atomic rename and return
    its row count. The count is observed by the write itself (parquet
    footers when AQE prunes the metrics node) and lands in the sidecar
    with ``meta``. Torn staging left by an earlier attempt, under the
    hidden or the legacy visible name, is removed first."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    parent, name = os.path.split(out_dir)
    staging = os.path.join(parent, f".{name}.staging")
    for torn in (staging, f"{out_dir}.staging"):
        if os.path.isdir(torn):
            shutil.rmtree(torn)
    df.write.mode("overwrite").parquet(staging)
    try:
        rows = int(obs.get["rows"])
    except Exception:  # noqa: BLE001 — AQE may prune the metrics node
        rows = parquet_footer_rows(staging)
    with open(os.path.join(staging, FEED_META), "w", encoding="utf-8") as f:
        json.dump({"rows": rows, **meta}, f)
    os.rename(staging, out_dir)  # atomic publish = the commit point
    return rows


def published(out_dir: str) -> dict | None:
    """None when nothing is published at ``out_dir``; else
    ``{"rows": n}`` from its sidecar (``n`` None when unreadable)."""
    if not os.path.isdir(out_dir):
        return None
    try:
        with open(os.path.join(out_dir, FEED_META), encoding="utf-8") as f:
            return {"rows": int(json.load(f)["rows"])}
    except (OSError, ValueError, KeyError):
        return {"rows": None}


def unpublish(out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)


def to_changelog(
    feed: DataFrame, lsn_col: str = "lsn", op_col: str = "op"
) -> DataFrame:
    """Feed rows → the engine's changelog contract. Preimage rows
    (``feed_preimages=True``) restate replaced rows at their old lsn:
    LWW-transparent, but not change events, so they are dropped (which
    also keeps a fold over the result O(net changes)). ``change_type``
    becomes ``op`` (delete stays delete, insert/update become upsert);
    ``prev_<lsn>`` and the ``batch`` partition column are dropped."""
    return (
        feed.filter(~F.col("change_type").endswith("_preimage"))
        .withColumn(
            op_col,
            F.when(F.col("change_type") == "delete", OP_DELETE).otherwise(
                OP_UPSERT
            ),
        )
        .drop("change_type", f"prev_{lsn_col}", "batch")
    )


def prune_oldest(root: str, retention: int) -> int:
    """Drop all but the newest ``retention`` published ``batch=*`` dirs
    under ``root`` (ordered by commit time — batch ids are opaque
    here)."""
    dirs = sorted(published_dirs(root).values(), key=os.path.getmtime)
    stale = dirs[: max(0, len(dirs) - retention)]
    for d in stale:
        shutil.rmtree(d, ignore_errors=True)
    return len(stale)


class ChangeFeed:
    """One engine's change feed under ``changes_dir``. ``manifest`` (the
    engine's) says which published batches are committed; a consumer
    that only reads or streams the feed passes none."""

    def __init__(
        self, spark: SparkSession, changes_dir: str, manifest=None
    ) -> None:
        self.spark = spark
        self.root = changes_dir
        self.manifest = manifest
        # legacy visible staging: no code writes it any more, and the
        # stream's batch=* glob would read it as published data. Hidden
        # staging may be a live writer's publish and stays.
        for d in os.listdir(changes_dir) if os.path.isdir(changes_dir) else []:
            if d.endswith(".staging") and not d.startswith("."):
                shutil.rmtree(os.path.join(changes_dir, d), ignore_errors=True)

    def batch_dir(self, batch_id: str) -> str:
        return os.path.join(self.root, f"batch={batch_id}")

    def batches(self) -> dict[str, str]:
        """Published batch dirs, ``{batch_id: dir}``."""
        return published_dirs(self.root)

    def checkpoints(self) -> dict[str, str]:
        """Published snapshot checkpoints, ``{batch_id: dir}``. The
        atomic rename is the commit point, so a crash between publish
        and the advisory manifest entry loses nothing."""
        return published_dirs(self.root, "checkpoint")

    # -- read ------------------------------------------------------------

    def read(self, dirs: list[str] | None = None) -> DataFrame:
        """The given batch dirs (default: every published one) as one
        DataFrame, partitioned by ``batch``. mergeSchema: add-column
        evolution mid-history leaves older dirs without the new columns;
        merging the footers presents ONE evolved schema (old rows
        NULL-filled, the state table's own contract) for a footer read
        per file over the small net-changes-only feed."""
        if dirs is None:
            dirs = list(self.batches().values())
            if not dirs:
                raise ValueError(
                    f"no published change-feed batches under {self.root} "
                    "(to tail a feed that has not produced yet, pass the "
                    "stream a schema)"
                )
        return (
            self.spark.read.option("basePath", self.root)
            .option("mergeSchema", "true")
            .parquet(*dirs)
        )

    def stream(
        self, schema=None, max_files_per_trigger: int = 8
    ) -> DataFrame:
        """The feed as a Structured Streaming source, mapped by
        :func:`to_changelog`. Each batch dir appears atomically and
        parquet parts are immutable, so the file source's discovery is
        torn-read-free; the sidecar is underscore-prefixed and ignored.
        ``schema`` defaults to one inferred from the published dirs."""
        if schema is None:
            schema = self.read().drop("batch").schema
        return to_changelog(
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            # new batch dirs must keep being discovered after the first
            # epoch: the glob is part of the path, not a one-shot listing
            .parquet(os.path.join(self.root, "batch=*"))
        )

    # -- committed history -------------------------------------------------

    def merge_entries(self) -> list[dict]:
        """Manifest entries that mutated row content, in commit order —
        merge entries carry a ``mode`` metric; maintenance / rebucket /
        checkpoint entries don't and are skipped."""
        return [e for e in self.manifest.entries() if "mode" in e]

    def committed_batches(self) -> list[str]:
        """Committed batches that published a feed (their entry carries
        ``change_rows``), in commit order. A published dir missing here
        is in the publish-then-crash window: not in the state yet."""
        return [
            e["batch_id"] for e in self.merge_entries() if "change_rows" in e
        ]

    # -- checkpoints, time travel, retention ----------------------------

    def checkpoint_due(self, every: int) -> bool:
        """Whether ``every`` merge batches committed since the newest
        checkpoint (all of history when none exists yet)."""
        ids = [e["batch_id"] for e in self.merge_entries()]
        cps = self.checkpoints()
        newest = max((i for i, b in enumerate(ids) if b in cps), default=-1)
        return bool(ids) and len(ids) - 1 - newest >= every

    def checkpoint(
        self, state, schema_version: int, batch_id: str | None = None
    ) -> dict:
        """Publish ``state`` as of ``batch_id`` (default: the newest
        applied batch) as ``checkpoint=<batch_id>/``, then commit an
        advisory manifest entry. See ``CdcEngine.checkpoint_feed``."""
        ids = [e["batch_id"] for e in self.merge_entries()]
        if not ids:
            raise ValueError("no applied batches to checkpoint")
        if batch_id is None:
            batch_id = ids[-1]
        if batch_id not in ids:
            raise ValueError(f"batch {batch_id!r} not in the manifest")
        out_dir = os.path.join(self.root, f"checkpoint={batch_id}")
        pub = published(out_dir)
        if pub is not None:
            return {"checkpoint_of": batch_id, "rows": pub["rows"], "reused": True}

        if batch_id == ids[-1]:
            # newest batch: the live state IS the snapshot — one state
            # scan, no feed fold (and no feed-coverage requirement,
            # which is what lets a late-enabled feed bootstrap). Guard
            # the one crash window where the live state is AHEAD of the
            # manifest (batch merged, manifest commit never landed):
            # the feed publishes BEFORE the state mutates, so that
            # window always leaves a published-but-uncommitted batch
            # dir — refuse rather than label a snapshot containing the
            # uncommitted batch's rows with the prior batch's id.
            stray = sorted(set(self.batches()) - set(ids))
            if stray:
                raise ValueError(
                    f"feed dirs {stray} are published but not manifest-"
                    "committed — the live state may already contain "
                    "their mutations (merge-then-crash window); re-drive "
                    "replay to commit them, then checkpoint"
                )
            snap = state.read()
        else:
            snap = self.state_as_of(state, batch_id)
        drop = [
            c
            for c in ("bucket", "content_sha256", state.op_col)
            if c in snap.columns
        ]
        rows = publish(snap.drop(*drop), out_dir, checkpoint_of=batch_id)
        hw = self.manifest.high_watermark()
        self.manifest.commit(
            {
                "batch_id": f"feed_checkpoint_{self.manifest.count()}",
                "lsn_lo": hw,
                "lsn_hi": hw,
                "schema_version": schema_version,
                "checkpoint_of": batch_id,
                "checkpoint_rows": rows,
            }
        )
        return {"checkpoint_of": batch_id, "rows": rows, "reused": False}

    def state_as_of(self, state, batch_id: str) -> DataFrame:
        """``state`` as it stood after ``batch_id`` committed: the LWW
        fold of the newest covering checkpoint (if any) and the feed
        after it. See ``CdcEngine.state_as_of``."""
        entries = self.merge_entries()
        ids = [e["batch_id"] for e in entries]
        try:
            target = ids.index(batch_id)
        except ValueError:
            raise ValueError(f"batch {batch_id!r} not in the manifest")
        cps = self.checkpoints()
        cp_dir = None
        start = 0
        for i in range(target, -1, -1):
            if ids[i] in cps:
                cp_dir = cps[ids[i]]
                start = i + 1
                break
        dirs: list[str] = []
        for e in entries[start : target + 1]:
            if "change_rows" not in e:
                raise ValueError(
                    f"batch {e['batch_id']!r} predates the change feed; "
                    "state_as_of needs changes_dir set for the whole "
                    "history (or a covering checkpoint_feed snapshot)"
                )
            d = self.batch_dir(e["batch_id"])
            if not os.path.isdir(d):
                raise ValueError(
                    f"change-feed dir for batch {e['batch_id']!r} was "
                    "pruned (changes_retention_batches); snapshot "
                    "unavailable (create a checkpoint_feed before "
                    "pruning to keep later batches reconstructible)"
                )
            dirs.append(d)

        op_col = state.op_col
        parts: list[DataFrame] = []
        if cp_dir is not None:
            parts.append(
                self.spark.read.parquet(cp_dir).withColumn(
                    op_col, F.lit(OP_UPSERT)
                )
            )
        if dirs:
            parts.append(to_changelog(self.read(dirs), state.lsn_col, op_col))
        merged = parts[0]
        if len(parts) == 2:
            # allowMissingColumns: columns added after the checkpoint
            # (or between feed vintages) NULL-fill, the state table's
            # own evolution contract
            merged = parts[0].unionByName(parts[1], allowMissingColumns=True)
        folded = last_writer_wins_agg(merged, state.keys, state.lsn_col, op_col)
        out = folded.filter(F.col(op_col) != OP_DELETE).drop(op_col)
        # match final_state()'s schema contract: the per-row content
        # digest is a pure function of content, so recompute it instead
        # of shipping it through the feed
        return out.withColumn(
            "content_sha256",
            F.sha2(F.col(state.content_col).cast("string"), 256),
        )

    def prune(self, retention: int) -> int:
        """Count-based retention, made time-travel-safe once a snapshot
        checkpoint exists: only batch dirs the NEWEST checkpoint covers
        (manifest position ≤ the checkpoint's) are eligible — removing
        an uncovered dir would destroy ``state_as_of`` for every later
        batch. Without a checkpoint this is the plain opt-in count prune
        (documented as trading time travel for space). Dirs not in the
        manifest (the published-but-uncommitted crash window) are never
        touched — the re-driven batch reuses them."""
        dirs = self.batches()
        if len(dirs) <= retention:
            return 0
        cps = self.checkpoints()
        pos = {e["batch_id"]: i for i, e in enumerate(self.merge_entries())}
        newest_cp = max((pos[b] for b in cps if b in pos), default=None)
        if newest_cp is None:
            return prune_oldest(self.root, retention)
        removable = sorted(
            (b for b in dirs if pos.get(b, newest_cp + 1) <= newest_cp),
            key=pos.__getitem__,
        )[: len(dirs) - retention]
        for b in removable:
            shutil.rmtree(dirs[b], ignore_errors=True)
        return len(removable)
