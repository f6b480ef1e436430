"""MERGE-style upsert/delete apply over a bucket-partitioned parquet
state table.

The reference's "merge" is drop-and-reload plus patch SQL
(``db/sqlite_builder.py:170-177``, ``utils/db_patch.py``). The engine
implements real keyed MERGE semantics. With Iceberg jars on the
classpath ``MERGE INTO`` would be config-only (SURVEY §4); this sandbox
has no Iceberg runtime, so the same public API is kept and the physical
plan is the scalable parquet fallback:

1. the state table is partitioned by ``bucket = pmod(xxhash64(keys), B)``
   (the Iceberg ``bucket(B, key)`` transform analog);
2. a micro-batch only touches the buckets its keys hash to → read just
   those partitions (partition-pruned scan), union with the batch,
   LWW-fold by (key, lsn), and rewrite ONLY those buckets;
3. the rewrite goes to a hidden staging dir first, then bucket dirs are
   swapped into place — the reference's ``.part`` + ``os.replace``
   atomic-rename pattern (``cnpj_downloader.py:67,116,169``) applied to
   partitions. The checkpoint manifest (plans/checkpoint.py) is the
   commit point; a crash between swap and manifest replays the batch,
   and LWW-by-LSN makes the replay a no-op (idempotent).

Write amplification is bounded by touched-buckets/B of the table, not
the whole table. At 100 TB you raise B so a bucket ≈ a few GB; the
algorithm is unchanged.

The layout/swap/recovery machinery and the COW/MOR write path are
factored into :class:`BucketedParquetStore` so other engine stores (the
incremental MinHash index's signature and posting stores,
operators/dedup.py) ride the exact same crash-safety protocol instead of
reinventing it.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import CODE_KEY, OP_DELETE, OP_UPSERT
from .dedup import last_writer_wins_agg
from .feed import publish, published, unpublish
from .store import (  # noqa: F401  (re-exported for compatibility)
    BucketedParquetStore,
    TouchedSetMismatchError,
    key_bucket,
    parquet_footer_rows,
    path_health,
)


class StateTable(BucketedParquetStore):
    """A bucket-partitioned parquet table with MERGE apply.

    Layout: ``{path}/bucket=<i>/part-*.parquet``. Schema = user columns
    + ``lsn`` (last applied per key) + ``content_sha256`` (the per-row
    invariant) + partition column ``bucket``.

    Two write modes, chosen per batch (``merge(mode=...)``):

    * **copy-on-write** (the bulk-replay fast path): read the touched
      buckets, fold in the batch, rewrite those buckets whole. Optimal
      when the batch is a sizable fraction of what it touches.
    * **merge-on-read** (the steady-state small-churn path): the batch's
      LWW winners — including delete tombstones — are APPENDED as
      per-bucket delta files (O(batch) write I/O, no base rewrite);
      reads fold base + deltas through the same LWW-by-LSN dedup, and
      compaction/COW batches fold deltas back into the base. This is
      the fix for the one 100×-scale flaw of rounds ≤3: at uniform
      churn a COW batch of 10⁷ keys over a 10⁹-key table rewrote the
      whole corpus to apply 0.1% of it.

    ``mode="auto"`` picks per batch from the batch-rows /
    touched-state-rows ratio (the reference's batch-ratio knob,
    ``config.py:31-34``, turned into a data-dependent decision), with a
    per-bucket delta-file cap forcing a folding COW batch before reads
    degrade — :meth:`BucketedParquetStore.choose_mode`, shared with the
    MinHash index stores.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str] | None = None,
        buckets: int = 32,
        content_col: str = "content",
        lsn_col: str = "lsn",
        op_col: str = "op",
        commit_protocol: str = "rename",
        feed_preimages: bool = False,
    ) -> None:
        self.keys = keys or CODE_KEY
        self.content_col = content_col
        self.lsn_col = lsn_col
        self.op_col = op_col
        #: opt-in: the change feed also publishes the OLD row for every
        #: update/delete (``update_preimage`` / ``delete_preimage`` rows
        #: — Delta CDF's preimage analog), so a downstream incremental
        #: aggregate can subtract retired contributions without ever
        #: reading this table. Costs a full-column (not keys+lsn-pruned)
        #: read of the touched buckets per feed batch — default off.
        self.feed_preimages = feed_preimages
        super().__init__(
            spark,
            path,
            buckets,
            bucket_keys=self.keys,
            commit_protocol=commit_protocol,
        )

    def _meta_payload(self) -> dict:
        return {**super()._meta_payload(), "keys": self.keys}

    # -- merge-on-read fold ---------------------------------------------

    def _fold_delta(self, base: DataFrame | None, delta: DataFrame) -> DataFrame:
        """Base ∪ delta → current rows: ONE LWW aggregate by (key, lsn)
        with delete-tombstone filtering — the exact fold the COW merge
        runs, applied at read time (plan: see
        :func:`last_writer_wins_agg`). ``allowMissingColumns`` carries
        add-column schema evolution across base/delta vintages (older
        rows read NULL for columns added later)."""
        if base is not None:
            merged = base.withColumn(
                self.op_col, F.lit(OP_UPSERT)
            ).unionByName(delta, allowMissingColumns=True)
        else:
            merged = delta
        folded = last_writer_wins_agg(merged, self.keys, self.lsn_col, self.op_col)
        return folded.filter(F.col(self.op_col) != OP_DELETE).drop(self.op_col)

    # -- write ---------------------------------------------------------

    def init_empty(self, like: DataFrame) -> None:
        """DDL analog of initialize_schema (db/sqlite_builder.py:170-177):
        create an empty table layout from a changelog-shaped DF."""
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
        prepared = self._prepare(like.limit(0)).drop("op")
        prepared.write.mode("overwrite").partitionBy("bucket").parquet(self.path)
        self._live = {}  # empty layout: nothing committed yet
        self._write_meta()

    def _prepare(self, df: DataFrame) -> DataFrame:
        """Add engine metadata columns (bucket, content sha256)."""
        out = df
        if "bucket" not in df.columns:
            out = out.withColumn("bucket", key_bucket(self.keys, self.buckets))
        if "content_sha256" not in df.columns:
            out = out.withColumn(
                "content_sha256", F.sha2(F.col(self.content_col).cast("string"), 256)
            )
        return out

    def touched_buckets(self, batch: DataFrame) -> list[int]:
        """Bucket set a batch touches — from the raw batch keys
        (column-pruned scan + tiny distinct on an int; dedup cannot
        change which buckets a batch touches)."""
        bucket_col = key_bucket(self.keys, self.buckets)
        return sorted(
            r["bucket"]
            for r in batch.select(bucket_col.alias("bucket")).distinct().collect()
        )

    def merge(
        self,
        batch: DataFrame,
        lsn_col: str | None = None,
        op_col: str | None = None,
        touched: list[int] | None = None,
        mode: str = "auto",
        batch_rows: int | None = None,
        changes_out: str | None = None,
    ) -> dict:
        """Apply a changelog micro-batch. Returns manifest metrics:
        ``{"touched_buckets": [...], "bucket_rows": {b: n}, "rows": N,
        "mode": "cow"|"mor", "bytes_written": N}``.

        Logical semantics::

            MERGE INTO state USING dedup(batch) ON state.key = batch.key
              WHEN MATCHED AND op='delete'   THEN DELETE
              WHEN MATCHED                   THEN UPDATE SET *
              WHEN NOT MATCHED AND op<>'delete' THEN INSERT *

        LWW-by-LSN is associative, so state ∪ batch needs only ONE
        keyed LWW aggregate, whose map-side partial aggregate collapses
        hot keys before the shuffle (SURVEY P7's skew answer — no
        salting). ``touched`` can be precomputed for all batches in a
        single upfront pass (CdcEngine.replay does), stored sha256 is
        reused so only new winners hash, and the per-bucket manifest
        metrics come from the staged files' parquet footers instead of
        a follow-up count job.

        ``mode``: ``"cow"`` rewrites the touched buckets (bulk path),
        ``"mor"`` appends the batch winners as delta files (small-churn
        path, O(batch) write I/O), ``"auto"`` picks per batch —
        requiring ``batch_rows`` (the replay loop gets it free from its
        upfront window probe; a standalone caller may pass
        ``batch.count()``; without it auto stays on COW). For MOR
        batches ``bucket_rows`` counts the winners *appended* per
        bucket, not the bucket's total rows — the manifest entry's
        ``mode`` field says which reading applies.

        ``changes_out`` opts this batch into the CDC-out change feed
        (the Delta Change-Data-Feed / Iceberg changelog-read analog):
        the batch's net row-level changes vs the CURRENT state —
        ``change_type ∈ {insert, update, delete}`` with the replaced
        row's LSN as ``prev_<lsn>``, plus ``update_preimage`` /
        ``delete_preimage`` rows carrying the replaced row itself when
        the table was built with ``feed_preimages=True`` — are
        published atomically to that
        directory BEFORE the state mutates, so a downstream pipeline
        can consume this table as a changelog of its own. The dir must
        be unique per batch (the engine uses ``batch=<batch_id>``);
        see :meth:`_emit_changes` for the exactly-once crash contract.
        """
        if mode not in ("auto", "cow", "mor"):
            raise ValueError(f"unknown merge mode {mode!r}")
        lsn_col = lsn_col or self.lsn_col
        op_col = op_col or self.op_col
        bucket_col = key_bucket(self.keys, self.buckets)
        if touched is None:
            touched = self.touched_buckets(batch)
        if not touched:
            return {"touched_buckets": [], "bucket_rows": {}, "rows": 0}

        incoming = batch
        if "bucket" not in incoming.columns:
            incoming = incoming.withColumn("bucket", bucket_col)
        feed_metrics: dict = {}
        if changes_out is not None:
            # before-image diff MUST run before any state mutation below
            feed_metrics = self._emit_changes(
                incoming, lsn_col, op_col, touched, changes_out
            )
        try:
            if self.choose_mode(mode, batch_rows, touched) == "mor":
                res = self.append_mor(
                    self._mor_rows(incoming, lsn_col, op_col), touched
                )
            else:
                w = self.stage_cow(
                    self._cow_rows(incoming, lsn_col, op_col, touched), touched
                )
                self.commit_cow(w)
                res = self.write_metrics(w, "cow")
        except TouchedSetMismatchError:
            # the feed just published above was diffed against a
            # pre-image read from the SAME wrong touched set (keys in
            # unprobed buckets misclassify as inserts). The state is
            # guaranteed unchanged at this raise, so unpublish it —
            # otherwise the re-driven batch would reuse the poisoned
            # feed via the exactly-once reuse check.
            if changes_out is not None and not feed_metrics.get(
                "change_feed_reused"
            ):
                unpublish(changes_out)
            raise
        res.update(feed_metrics)
        return res

    # -- CDC-out change feed ---------------------------------------------

    def _pre_image(
        self, touched: list[int], lsn_col: str
    ) -> DataFrame | None:
        """Pruned ``(keys, lsn)`` view of the CURRENT surviving rows in
        the touched buckets — the before-image the change feed diffs
        against. MOR deltas are folded on a projection pruned to
        keys+lsn+op BEFORE the LWW aggregate, so the pre-image scan
        never reads content columns (``read_buckets`` would fold full
        rows: ``max_by``'s struct payload blocks column pruning).

        Row-pruning this scan to the batch's key set was tried and
        REVERTED: a broadcast left-semi join cannot push below the
        parquet scan (the narrow read happens either way) and the extra
        distinct+broadcast job per window measured neutral-to-slower in
        the interleaved A/B (scripts/bench_ab_feed.py methodology).
        The scan is the intrinsic price of eager CDF classification —
        the same price Delta's CDF pays on MERGE."""
        cols = [*self.keys, lsn_col]
        base = self._read_base_buckets(touched) if self.exists() else None
        if base is not None:
            base = base.select(*cols)
        delta_ids = [b for b in self.delta_bucket_ids() if b in set(touched)]
        if delta_ids:
            delta = self._read_delta(delta_ids).select(*cols, self.op_col)
            if base is not None:
                merged = base.withColumn(
                    self.op_col, F.lit(OP_UPSERT)
                ).unionByName(delta)
            else:
                merged = delta
            folded = last_writer_wins_agg(
                merged, self.keys, lsn_col, self.op_col
            )
            return folded.filter(F.col(self.op_col) != OP_DELETE).drop(
                self.op_col
            )
        return base

    def _emit_changes(
        self,
        incoming: DataFrame,
        lsn_col: str,
        op_col: str,
        touched: list[int],
        out_dir: str,
    ) -> dict:
        """Compute this batch's net row-level changes against the
        current state and publish them atomically to ``out_dir``.

        Exactly-once contract (the feed is the one artifact a LWW
        re-apply can NOT recompute — after the state swap the same
        batch diffs to an empty set): the feed is staged and published
        via one atomic rename BEFORE any state mutation, and a
        re-apply that finds the dir already published reuses it.
        Crash windows: torn staging → recomputed against the still
        unmutated state; published-but-unmerged → merge re-applies
        (LWW idempotent), feed reused; merged-but-uncommitted →
        manifest re-drives the batch, feed reused (it holds the
        correct pre-image diff).

        Classification per batch LWW winner joined to the pre-image:
        no before-row → ``insert`` (delete-on-absent emits nothing);
        before-row outranked (lsn, delete-priority) → ``update`` /
        ``delete``; a stale winner the state outranks emits nothing.
        """
        pub = published(out_dir)
        if pub is not None:
            return {"change_rows": pub["rows"], "change_feed_reused": True}

        winners = last_writer_wins_agg(incoming, self.keys, lsn_col, op_col)
        prev_col = f"prev_{lsn_col}"
        pre = self._pre_image(touched, lsn_col)
        if pre is None:
            joined = winners.withColumn(
                prev_col, F.lit(None).cast(dict(winners.dtypes)[lsn_col])
            )
        else:
            joined = winners.join(
                pre.withColumnRenamed(lsn_col, prev_col), self.keys, "left"
            )
        is_del = F.col(op_col) == OP_DELETE
        prev, new = F.col(prev_col), F.col(lsn_col)
        change_type = (
            # equal LSN: delete outranks the stored upsert (the LWW
            # tie-break), an upsert re-delivery is a no-op
            F.when(is_del & prev.isNotNull() & (new >= prev), F.lit("delete"))
            .when(~is_del & prev.isNull(), F.lit("insert"))
            .when(~is_del & (new > prev), F.lit("update"))
        )
        data_cols = [
            c
            for c in winners.columns
            if c not in (*self.keys, op_col, "bucket", "content_sha256")
        ]
        feed = (
            joined.withColumn("change_type", change_type)
            .filter(F.col("change_type").isNotNull())
            .select(*self.keys, "change_type", *data_cols, prev_col)
        )
        if self.feed_preimages and pre is not None:
            # Delta-CDF-style preimages: for every update/delete also
            # publish the row being REPLACED (its own lsn, prev NULL) as
            # change_type update_preimage / delete_preimage. An
            # incremental downstream aggregate subtracts these instead
            # of reading the state table. Fold-transparent for LWW
            # consumers (a preimage always carries a strictly older —
            # or, on the lsn-tie delete, an outranked — lsn than the
            # row that replaced it), but state_as_of / the streaming
            # source still filter them explicitly. Price: the old rows
            # come from a full-column fold of the touched buckets
            # (read_buckets), not the keys+lsn-pruned _pre_image scan —
            # exactly the cost Delta CDF pays on MERGE, and why the
            # flag defaults off.
            replaced = (
                joined.withColumn("change_type", change_type)
                .filter(F.col("change_type").isin("update", "delete"))
                .select(*self.keys, "change_type")
            )
            # (key, old_lsn) of every replaced row, from the NARROW fold
            # already computed for classification — O(batch) rows out
            old_ids = pre.join(replaced, self.keys, "inner")
            # fetch the full old rows by IDENTITY join (key + lsn picks
            # exactly the surviving version) against the raw base +
            # delta scan — a codegen hash join with the O(batch) side
            # broadcast, NOT a full-width LWW aggregate (max_by's struct
            # payload carries strings → SortAggregate; measured 4.6×
            # churn-replay cost before this rewrite, scripts/
            # bench_ab_ivm.py methodology)
            old = self._read_base_buckets(touched) if self.exists() else None
            delta_ids = [
                b for b in self.delta_bucket_ids() if b in set(touched)
            ]
            if delta_ids:
                dl = self._read_delta(delta_ids)
                dl = dl.filter(F.col(self.op_col) != OP_DELETE).drop(
                    self.op_col
                )
                old = dl if old is None else old.unionByName(
                    dl, allowMissingColumns=True
                )
            wtypes = dict(winners.dtypes)
            # add-column evolution: the pre-mutation state lacks columns
            # this batch introduces — NULL-fill them (the state table's
            # own evolution contract) so the preimage rows union cleanly
            for c in data_cols:
                if c not in old.columns:
                    old = old.withColumn(c, F.lit(None).cast(wtypes[c]))
            # ...and the REVERSE: state columns this batch omits (MERGE
            # NULL-fills them in the winner) must still ride the
            # preimage rows with their OLD values — dropping them would
            # make a downstream incremental aggregate subtract 0 for a
            # retired non-NULL contribution (silent divergence). The
            # postimage rows carry NULL there, which is exactly the
            # merged new row's value.
            skip = {*self.keys, op_col, "bucket", "content_sha256", prev_col}
            pre_data_cols = data_cols + [
                c
                for c in old.columns
                if c not in skip and c not in data_cols
            ]
            pre_rows = (
                # no broadcast hint: old_ids is O(replaced-in-batch) —
                # AQE broadcasts it at churn sizes, and a huge update
                # batch must be allowed to shuffle instead
                old.join(old_ids, [*self.keys, lsn_col], "inner")
                # a crash-window delta re-append can hold the same
                # (key, lsn) row twice — identical rows, keep one
                .dropDuplicates(self.keys)
                .withColumn(
                    "change_type",
                    F.concat(F.col("change_type"), F.lit("_preimage")),
                )
                .withColumn(prev_col, F.lit(None).cast(wtypes[lsn_col]))
                .select(*self.keys, "change_type", *pre_data_cols, prev_col)
            )
            feed = feed.unionByName(pre_rows, allowMissingColumns=True)

        # the shared feed publish: hidden staging → atomic rename (the
        # feed commit), so no consumer ever reads a torn write
        return {"change_rows": publish(feed, out_dir)}

    # -- rows for the shared write path ----------------------------------

    def _mor_rows(
        self, incoming: DataFrame, lsn_col: str, op_col: str
    ) -> DataFrame:
        """The batch's LWW winners — delete tombstones included — as
        delta rows. Deterministic from the batch, so a crash-replay
        appends identical rows that the read-time fold collapses
        (idempotent without a manifest-side guard)."""
        winners = last_writer_wins_agg(incoming, self.keys, lsn_col, op_col)
        sha = F.sha2(F.col(self.content_col).cast("string"), 256)
        if "content_sha256" in winners.columns:
            sha = F.coalesce(F.col("content_sha256"), sha)
        return winners.withColumn(
            "content_sha256",
            F.when(F.col(op_col) != OP_DELETE, sha),  # tombstones: NULL
        )

    def _cow_rows(
        self, incoming: DataFrame, lsn_col: str, op_col: str, touched: list[int]
    ) -> DataFrame:
        """The touched buckets' new contents: current rows ∪ batch,
        LWW-folded, deletes dropped. One LWW aggregate (plan: see
        :func:`last_writer_wins_agg`) — its map-side partial aggregate
        is also the hot-key skew answer (a hot key collapses to one row
        per map task before the shuffle)."""
        if self.exists():
            # state keeps its stored content_sha256; the batch side gets
            # NULL (allowMissingColumns) and hashes post-fold.
            current = self.read_buckets(touched).withColumn(op_col, F.lit(OP_UPSERT))
            merged = current.unionByName(incoming, allowMissingColumns=True)
        else:
            merged = incoming.withColumn(
                "content_sha256", F.lit(None).cast("string")
            )
        final = last_writer_wins_agg(merged, self.keys, lsn_col, op_col)
        return (
            final.filter(F.col(op_col) != OP_DELETE)
            .drop(op_col)
            .withColumn(
                "content_sha256",
                F.coalesce(
                    F.col("content_sha256"),
                    F.sha2(F.col(self.content_col).cast("string"), 256),
                ),
            )
        )

    # -- audits (reference S10/S12 analogs) -----------------------------

    def audit_key_uniqueness(self) -> int:
        """Post-load PK audit (deferred-PK analog,
        db/postgres_builder.py:96-126): count of duplicated keys."""
        return (
            self.read()
            .groupBy(*self.keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .count()
        )
