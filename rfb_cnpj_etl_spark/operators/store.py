"""Bucket-partitioned parquet store: the engine's one layout + swap
protocol.

Every persistent store in the engine — the CDC MERGE state table
(operators/merge.py) and the incremental MinHash index's signature and
posting stores (operators/dedup.py) — shares this machinery: the
``bucket=<i>`` partition layout with its ``_table_meta.json`` marker,
rename-aside atomic swaps with crash recovery (the reference's
``.part`` + ``os.replace`` pattern, ``cnpj_downloader.py:67,116,169``,
applied to partitions), partition-pruned reads, staged writes,
small-file compaction and a metadata-only health report.

**Object-store translation (the 100×-cluster commit protocol).** The
swap protocol needs exactly three filesystem primitives: atomic rename
of a path (``os.replace``), recursive delete, and listing. On HDFS the
mapping is direct (``fs.rename`` is atomic, directories are real). On
S3-class object stores "directories" are key prefixes and rename is
copy+delete (non-atomic), so the SAME protocol is expressed one level
up, exactly as Iceberg/Delta do it: data files are immutable and
written once under unique names (our staging writes already are), and
the ``bucket=<i>`` directory indirection becomes a per-bucket pointer
in a small metadata file committed with ONE atomic operation —
``_table_meta.json`` here, which is already the layout's ground truth
and is written via put-if-absent/rename (S3 now supports conditional
PUT; any catalog/DynamoDB lock works identically). The recovery
invariants carry over unchanged because they only ever reason about
"pointer committed" vs "pointer not committed": a crash before the
metadata commit leaves the old pointer (old files still present,
staging garbage collected later), after it the new one.

That translation is IMPLEMENTED here behind
``commit_protocol="pointer"`` (:meth:`BucketedParquetStore.commit_staged`):
staged files are copied to immutable token-prefixed names (object
PUTs — an existing object is never renamed or overwritten), the
marker's per-bucket live-file lists are committed in one atomic marker
write, replaced files are garbage-collected afterwards, and recovery
(:meth:`_gc_unreferenced`) deletes whatever the committed map does not
reference. The rename protocol stays the default where atomic
directory rename exists (HDFS/local); both run the same crash-recovery
test suite. The per-bucket manifest lineage (plans/checkpoint.py) is
the same pattern at batch granularity.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def key_bucket(keys: list[str], buckets: int) -> Column:
    """Deterministic key → bucket assignment."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(buckets)).cast("int")


def parquet_footer_rows(path: str) -> int:
    """Total rows under ``path`` from parquet footers only (pyarrow
    metadata — no Spark job)."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for fname in files:
            if fname.endswith(".parquet"):
                total += pq.ParquetFile(
                    os.path.join(root, fname)
                ).metadata.num_rows
    return total


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (0 for a missing path)."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def _bucket_ids(root: str) -> list[int]:
    """Bucket ids of the ``bucket=<i>`` dirs directly under ``root``."""
    if not os.path.isdir(root):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(root)
        if d.startswith("bucket=") and not d.endswith(".old")
    )


def _swap_in(src: str, dst: str) -> None:
    """Replace ``dst`` with ``src`` without a window where neither
    exists: dst is renamed aside first (never rmtree'd before the
    replacement lands) and the trash only deleted last; a crash in
    between is healed by :func:`_heal_swap`. ``src`` absent = the bucket
    emptied out (every key deleted)."""
    trash = f"{dst}.old"
    if os.path.isdir(trash):
        shutil.rmtree(trash)
    if os.path.isdir(dst):
        os.replace(dst, trash)
    if os.path.isdir(src):
        os.replace(src, dst)
    shutil.rmtree(trash, ignore_errors=True)


def _heal_swap(dst: str) -> None:
    """Undo a crashed :func:`_swap_in`: restore ``dst`` from its
    renamed-aside copy when the replacement never landed, else drop the
    stale copy (the swap completed)."""
    trash = f"{dst}.old"
    if not os.path.isdir(dst) and os.path.isdir(trash):
        os.replace(trash, dst)
    shutil.rmtree(trash, ignore_errors=True)


class TouchedSetMismatchError(RuntimeError):
    """A staged write holds rows in buckets outside the precomputed
    touched set (the probe and the write saw differently-normalized
    keys). Raised BEFORE any swap or append, with the staging dir
    removed — the store is guaranteed unchanged."""


@dataclass
class StagedWrite:
    """A per-bucket write sitting in a staging dir, not yet published:
    the buckets it covers (``touched``), the bucket dirs it holds
    (``staged`` ⊆ touched), their rows from parquet footers and the
    bytes written."""

    staging: str
    touched: list[int]
    staged: list[int]
    bucket_rows: dict[int, int]
    bytes_written: int

    @classmethod
    def of(cls, staging: str, touched: list[int]) -> "StagedWrite":
        staged = _bucket_ids(staging)
        return cls(
            staging,
            touched,
            staged,
            {b: parquet_footer_rows(f"{staging}/bucket={b}") for b in staged},
            dir_bytes(staging),
        )


class BucketedParquetStore:
    """Shared machinery for bucket-partitioned parquet stores.

    Layout: ``{path}/bucket=<i>/part-*.parquet`` plus a ``_table_meta``
    layout marker. Provides: crash recovery for interrupted swaps,
    rename-aside bucket swaps, partition-pruned reads, small-file
    compaction, a metadata-only health report — and the ONE write path
    every bucketed store uses:

    * :meth:`choose_mode` — the per-batch copy-on-write vs
      merge-on-read decision, from per-bucket row estimates that ride
      the layout marker (exact after a COW rewrite, compaction or
      rebucket; += appended rows after a MOR append);
    * :meth:`stage_cow` + :meth:`commit_cow` — rewrite the touched
      buckets whole (a caller committing several stores together
      journals the :class:`StagedWrite` in between);
    * :meth:`append_mor` — append the batch as per-bucket delta files,
      folded at read time by the subclass's :meth:`_fold_delta`.

    Both stage through :meth:`stage_write`, whose touched-set guard
    raises :class:`TouchedSetMismatchError` before anything is
    published. :class:`StateTable` (the CDC MERGE target) and the
    MinHash index's signature/posting stores (operators/dedup.py) all
    subclass this, so every persistent store in the engine has ONE swap
    protocol, ONE write path and ONE recovery story.
    """

    #: layout marker colocated with the data ("_"-prefixed → invisible
    #: to Spark's parquet reader, like _SUCCESS). The physical layout is
    #: the ground truth for the bucket count — a manifest can go stale
    #: across a crash between a rebucket swap and its manifest commit.
    META_FILE = "_table_meta.json"

    #: marker inside the delta root recording the hash modulus its
    #: ``bucket=<i>`` dirs were laid out under. Deltas are only valid
    #: against the base layout they were appended to: after a rebucket
    #: (which folds them into the new base first) a mismatching marker
    #: identifies the leftovers as already-folded garbage.
    DELTA_META = "_delta_meta.json"

    #: auto mode appends a delta iff batch_rows ≤ ratio × (estimated
    #: rows already in the touched buckets) — bigger batches amortize a
    #: rewrite; smaller ones shouldn't pay O(touched corpus).
    MOR_ROW_RATIO = 0.25
    #: a touched bucket already holding this many delta files forces a
    #: folding COW batch (bounds what every read must merge).
    DELTA_FILES_CAP = 32

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        buckets: int = 32,
        bucket_keys: list[str] | None = None,
        prefer_marker: bool = False,
        commit_protocol: str = "rename",
    ) -> None:
        if commit_protocol not in ("rename", "pointer"):
            raise ValueError(f"unknown commit_protocol {commit_protocol!r}")
        self.spark = spark
        self.path = path
        self.buckets = buckets
        #: columns the bucket id is hashed from — needed to *re*-bucket
        #: (recompute ids under a new modulus). None = rebucket disabled
        #: for this store (subclasses with bespoke exprs override
        #: :meth:`bucket_col` instead).
        self.bucket_keys = bucket_keys
        # the whole-dir restore must run before the marker can be read
        # (a crashed rebucket may have left the table only in `.old`)
        _heal_swap(self.path)
        stored = self._read_marker()
        # protocol + live-file map: the marker — swapped atomically WITH
        # the data — is the ground truth; the ctor arg is a fresh-store
        # default (reopening a pointer store without the flag keeps it
        # a pointer store).
        self.commit_protocol = stored.get("protocol", commit_protocol)
        self._marker_present = bool(stored)
        #: pointer protocol only: committed live files per bucket. THIS
        #: map, committed in one atomic marker write, IS the table —
        #: data files are immutable and written once under unique
        #: names; anything on disk it does not reference is garbage.
        self._live: dict[int, list[str]] = {
            int(b): list(fs) for b, fs in (stored.get("live") or {}).items()
        }
        #: estimated current rows per bucket — advisory, drives only
        #: :meth:`choose_mode`; never used for correctness. A missing
        #: bucket reads as "untracked" (legacy store, or a crash between
        #: a rebucket swap and its reseed) and keeps auto mode on COW.
        self._row_est: dict[int, int] = {
            int(b): int(n) for b, n in (stored.get("row_est") or {}).items()
        }
        self._recover()
        marker = stored.get("buckets")
        marker = int(marker) if marker is not None else None
        if marker is not None and marker != self.buckets:
            if prefer_marker:
                # caller treats `buckets` as a fresh-store default and
                # the swapped-with-the-data layout marker as the ground
                # truth (e.g. reopening an index store after a rebucket)
                self.buckets = marker
            else:
                raise ValueError(
                    f"store at {path} is laid out with buckets={marker} "
                    f"(layout marker) but buckets={self.buckets} was "
                    "requested; construct with the marker value or run "
                    "rebucket"
                )

    def bucket_col(self, buckets: int | None = None) -> Column:
        """The store's bucket-assignment expression (under ``buckets``
        or the current modulus). Requires ``bucket_keys`` unless a
        subclass overrides."""
        if self.bucket_keys is None:
            raise ValueError(
                f"store at {self.path} has no bucket_keys recorded; "
                "rebucket/bucket_col need the key columns the bucket id "
                "is derived from"
            )
        return key_bucket(self.bucket_keys, buckets or self.buckets)

    # -- crash recovery / layout marker ---------------------------------

    @classmethod
    def layout_buckets(cls, path: str) -> int | None:
        """Bucket count recorded in the store's layout marker (None for
        a missing store or one predating the marker)."""
        meta = os.path.join(path, cls.META_FILE)
        if not os.path.exists(meta):
            return None
        with open(meta, encoding="utf-8") as f:
            return int(json.load(f)["buckets"])

    def _read_marker(self) -> dict:
        meta = os.path.join(self.path, self.META_FILE)
        if not os.path.exists(meta):
            return {}
        with open(meta, encoding="utf-8") as f:
            return json.load(f)

    def _meta_payload(self) -> dict:
        payload: dict = {
            "buckets": self.buckets,
            "protocol": self.commit_protocol,
            "row_est": {str(b): n for b, n in self._row_est.items()},
        }
        if self.commit_protocol == "pointer":
            payload["live"] = {str(b): fs for b, fs in self._live.items()}
        if self.bucket_keys is not None:
            payload["bucket_keys"] = self.bucket_keys
        return payload

    def _write_meta(
        self,
        into: str | None = None,
        buckets: int | None = None,
        fresh_layout: bool = False,
    ) -> None:
        """Write the layout marker (atomically) into the live dir — or
        into ``into`` (a staging dir), so the marker can ride an atomic
        whole-dir rename instead of trailing it.

        ``fresh_layout`` strips per-bucket row estimates from the
        payload: a rebucket invalidates their bucket keying, and the
        marker staged with the new layout must not carry OLD-keyed but
        valid-looking estimates through the crash window between the
        directory swap and the post-rebucket reseed (a
        reopen there should read "untracked" and take the conservative
        COW path until reseeded)."""
        payload = self._meta_payload()
        if buckets is not None:
            payload["buckets"] = buckets
        if fresh_layout:
            payload.pop("row_est", None)
        meta = os.path.join(into or self.path, self.META_FILE)
        tmp = meta + ".part"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(payload, f)
        os.replace(tmp, meta)

    def _recover(self) -> None:
        """Undo a crashed swap. Invariants of the swap protocols below:
        a ``*.old`` directory exists ONLY before the corresponding
        manifest commit (rename protocol), and a data file the live map
        does not reference is never committed (pointer protocol) — so
        rolling back and letting the batch/rebucket re-apply is always
        correct (LWW idempotence)."""
        if os.path.isdir(self.path):
            for d in os.listdir(self.path):
                if d.startswith("bucket=") and d.endswith(".old"):
                    _heal_swap(os.path.join(self.path, d[: -len(".old")]))
        if self.commit_protocol == "pointer":
            if not self._marker_present and any(
                d.startswith("bucket=")
                for d in (
                    os.listdir(self.path) if os.path.isdir(self.path) else []
                )
            ):
                # fail loud: GC'ing under an empty live map would delete
                # foreign (marker-less legacy) data wholesale
                raise ValueError(
                    f"pointer protocol requested for {self.path}, which "
                    "holds bucket data but no layout marker; reopen with "
                    "the rename protocol or migrate explicitly"
                )
            self._gc_unreferenced()
        # Delta root laid out under a different modulus than the live
        # base: rebucket folds every delta into the new base BEFORE the
        # swap, so such leftovers are already-applied garbage from a
        # crash between the rebucket swap and the delta clear — drop
        # them (reading them under the new modulus would mix layouts).
        dmarker = self._delta_layout_buckets()
        base_marker = self.layout_buckets(self.path)
        if (
            dmarker is not None
            and base_marker is not None
            and dmarker != base_marker
        ):
            shutil.rmtree(self.delta_root, ignore_errors=True)

    def _gc_unreferenced(self) -> None:
        """Pointer-protocol recovery: a parquet file in a bucket dir
        that the committed live map does not reference is either an
        uncommitted half-done commit (roll back — the caller's
        manifest/journal re-drives the batch) or a replaced file whose
        post-commit GC was interrupted; delete both. A committed live
        file that is MISSING is real corruption — fail loudly."""
        if not os.path.isdir(self.path):
            return
        for d in os.listdir(self.path):
            if not d.startswith("bucket=") or d.endswith(".old"):
                continue
            b = int(d.split("=", 1)[1])
            bdir = os.path.join(self.path, d)
            keep = set(self._live.get(b, []))
            have = {e for e in os.listdir(bdir) if e.endswith(".parquet")}
            missing = sorted(keep - have)
            if missing:
                raise ValueError(
                    f"store at {self.path} bucket {b} is missing committed "
                    f"live files {missing}"
                )
            for e in have - keep:
                os.remove(os.path.join(bdir, e))
            if not keep:
                shutil.rmtree(bdir, ignore_errors=True)

    # -- read ----------------------------------------------------------

    def exists(self) -> bool:
        if self.commit_protocol == "pointer":
            return bool(self._live)
        return os.path.isdir(self.path) and any(
            e.startswith("bucket=") for e in os.listdir(self.path)
        )

    def base_bucket_ids(self) -> list[int]:
        """Bucket ids currently holding base data (pointer: the live
        map's keys; rename: the bucket dirs)."""
        if self.commit_protocol == "pointer":
            return sorted(self._live)
        return _bucket_ids(self.path)

    def _live_files(self, bucket_ids: list[int]) -> list[str]:
        return [
            f"{self.path}/bucket={b}/{e}"
            for b in sorted(bucket_ids)
            for e in self._live.get(b, [])
        ]

    def _read_base(self) -> DataFrame:
        if self.commit_protocol == "pointer":
            # the live map IS the table: explicit committed files only
            # (directory contents may include pre-GC garbage)
            return self.spark.read.option("basePath", self.path).parquet(
                *self._live_files(sorted(self._live))
            )
        return self.spark.read.option("basePath", self.path).parquet(self.path)

    def _read_base_buckets(self, bucket_ids: list[int]) -> DataFrame | None:
        """Partition-pruned base scan; None when no requested bucket has
        base data (callers fold None with the delta side, or treat it
        as empty)."""
        if self.commit_protocol == "pointer":
            files = self._live_files(bucket_ids)
            if not files:
                return self._read_base().limit(0) if self.exists() else None
            return self.spark.read.option("basePath", self.path).parquet(*files)
        paths = [
            f"{self.path}/bucket={b}"
            for b in bucket_ids
            if os.path.isdir(f"{self.path}/bucket={b}")
        ]
        if not paths:
            return self._read_base().limit(0) if self.exists() else None
        return self.spark.read.option("basePath", self.path).parquet(*paths)

    def read(self) -> DataFrame:
        """Current table contents. With merge-on-read delta segments
        present, the base and the deltas are folded through the
        subclass's :meth:`_fold_delta` (a store with no fold semantics
        never has deltas)."""
        if self.delta_bucket_ids():
            return self._fold_delta(
                self._read_base() if self.exists() else None, self._read_delta()
            )
        return self._read_base()

    def read_buckets(self, bucket_ids: list[int]) -> DataFrame:
        """Partition-pruned scan of only the touched buckets (reads just
        those directories — no full-table I/O), folding any merge-on-read
        deltas those buckets hold."""
        delta_ids = [
            b for b in self.delta_bucket_ids() if b in set(bucket_ids)
        ]
        base = self._read_base_buckets(bucket_ids)
        if delta_ids:
            return self._fold_delta(base, self._read_delta(delta_ids))
        if base is None:
            raise ValueError(
                f"store at {self.path} has no bucket data to read "
                f"(requested buckets {sorted(bucket_ids)})"
            )
        return base

    # -- merge-on-read delta segments -----------------------------------

    @property
    def delta_root(self) -> str:
        return f"{self.path}.delta"

    def _delta_layout_buckets(self) -> int | None:
        meta = os.path.join(self.delta_root, self.DELTA_META)
        if not os.path.exists(meta):
            return None
        with open(meta, encoding="utf-8") as f:
            return int(json.load(f)["buckets"])

    def delta_bucket_ids(self) -> list[int]:
        """Bucket ids that currently hold delta files."""
        return [
            b
            for b in _bucket_ids(self.delta_root)
            if any(
                e.endswith(".parquet")
                for e in os.listdir(f"{self.delta_root}/bucket={b}")
            )
        ]

    def delta_file_counts(self) -> dict[int, int]:
        return {
            b: sum(
                1
                for e in os.listdir(f"{self.delta_root}/bucket={b}")
                if e.endswith(".parquet")
            )
            for b in _bucket_ids(self.delta_root)
        }

    def _read_delta(self, bucket_ids: list[int] | None = None) -> DataFrame:
        ids = self.delta_bucket_ids() if bucket_ids is None else bucket_ids
        paths = [
            f"{self.delta_root}/bucket={b}"
            for b in ids
            if os.path.isdir(f"{self.delta_root}/bucket={b}")
        ]
        return self.spark.read.option("basePath", self.delta_root).parquet(*paths)

    def _fold_delta(
        self, base: DataFrame | None, delta: DataFrame
    ) -> DataFrame:
        """Resolve base rows against newer delta rows. Only subclasses
        that append deltas define fold semantics (StateTable: LWW by lsn
        with delete tombstones)."""
        raise NotImplementedError(
            f"store at {self.path} holds delta segments but defines no "
            "fold semantics"
        )

    def append_delta(self, staging: str, staged: list[int]) -> int:
        """Move a staged per-bucket write into the delta root as one new
        immutable file per (bucket, staged file) — O(batch) I/O, no base
        rewrite. Per-file ``os.replace`` is atomic; a crash mid-append
        re-appends the deterministically recomputed batch on replay and
        the fold's keyed dedup collapses the duplicates (LWW no-op).
        Returns the number of files appended."""
        os.makedirs(self.delta_root, exist_ok=True)
        meta = os.path.join(self.delta_root, self.DELTA_META)
        if not os.path.exists(meta):
            tmp = meta + ".part"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump({"buckets": self.buckets}, f)
            os.replace(tmp, meta)
        token = uuid.uuid4().hex[:12]
        moved = 0
        for b in staged:
            src_dir = f"{staging}/bucket={b}"
            dst_dir = f"{self.delta_root}/bucket={b}"
            os.makedirs(dst_dir, exist_ok=True)
            for i, fname in enumerate(
                sorted(
                    e for e in os.listdir(src_dir) if e.endswith(".parquet")
                )
            ):
                os.replace(
                    os.path.join(src_dir, fname),
                    os.path.join(dst_dir, f"d-{token}-{i:04d}.parquet"),
                )
                moved += 1
        shutil.rmtree(staging, ignore_errors=True)
        return moved

    def clear_delta_buckets(self, bucket_ids: list[int]) -> None:
        """Drop delta files for buckets whose deltas were just folded
        into a rewritten base (post-swap cleanup: a crash before this
        leaves already-folded rows that the next fold resolves as LWW
        no-ops)."""
        for b in bucket_ids:
            shutil.rmtree(f"{self.delta_root}/bucket={b}", ignore_errors=True)
        if not _bucket_ids(self.delta_root):
            shutil.rmtree(self.delta_root, ignore_errors=True)

    # -- staged write + swap --------------------------------------------

    def choose_mode(
        self,
        mode: str,
        batch_rows: int | Callable[[], int] | None,
        touched: list[int],
        siblings: list[tuple["BucketedParquetStore", list[int]]] = (),
    ) -> str:
        """COW vs MOR for one batch. ``"auto"`` = MOR iff the store
        exists, every touched bucket has a row estimate, the batch is
        small relative to them (≤ MOR_ROW_RATIO) and no touched bucket —
        here or in a ``siblings`` store written by the same batch — has
        hit DELTA_FILES_CAP (then a COW batch folds it). Touched-only: a
        capped bucket the batch never touches cannot degrade its reads,
        and the forced COW could not clear it anyway.

        ``batch_rows`` is any upper bound on the batch's rows, or a
        callable computing it (run only when the decision needs it);
        None keeps auto mode on COW."""
        if mode == "cow" or not self.exists():
            return "cow"
        if mode == "mor":
            return "mor"
        est = [self._row_est.get(b) for b in touched]
        if not touched or None in est:
            return "cow"  # untracked layout (legacy store) → populate via COW
        total = sum(est)
        n = batch_rows() if callable(batch_rows) else batch_rows
        if total == 0 or n is None or n > self.MOR_ROW_RATIO * total:
            return "cow"
        for store, t in [(self, touched), *siblings]:
            counts = store.delta_file_counts()
            if any(counts.get(b, 0) >= store.DELTA_FILES_CAP for b in t):
                return "cow"
        return "mor"

    def stage_write(
        self, df: DataFrame, staging: str, touched: list[int]
    ) -> StagedWrite:
        """Write ``df`` (carrying a ``bucket`` column) into a fresh
        staging dir. No live data is touched.

        Repartitioned on the partition column first (Iceberg
        write.distribution-mode=hash analog): without it every write
        task emits a file per bucket it holds — tasks × buckets tiny
        files; with it, one task and one file per bucket. |touched|
        partitions, not B: a 2-bucket batch must not schedule B−2 empty
        write tasks (two buckets hashing to one partition still come
        out as one file each — partitionBy splits them).

        Fail-loud guard: every staged bucket must be in ``touched``. A
        violation means the bucket probe and the write saw different
        keys (e.g. a normalization applied after the probe) — publishing
        would silently lose the unexpected buckets' rows, and the
        caller's pruned read missed them. The staging is removed and
        :class:`TouchedSetMismatchError` raised before any swap."""
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        df.repartition(max(len(touched), 1), "bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(staging)
        w = StagedWrite.of(staging, touched)
        unexpected = sorted(set(w.staged) - set(touched))
        if unexpected:
            shutil.rmtree(staging, ignore_errors=True)
            raise TouchedSetMismatchError(
                f"write to {self.path} produced rows in buckets "
                f"{unexpected} outside the precomputed touched set "
                f"{sorted(touched)}; the touched-bucket probe must run on "
                "keys normalized identically to the written rows (store "
                "left unchanged)"
            )
        return w

    def stage_cow(self, rows: DataFrame, touched: list[int]) -> StagedWrite:
        """Stage a copy-on-write batch: ``rows`` are the touched
        buckets' complete new contents (a touched bucket with no rows
        empties out). Nothing is published until :meth:`commit_cow`."""
        return self.stage_write(rows, f"{self.path}.staging", touched)

    def commit_cow(self, w: StagedWrite, token: str | None = None) -> None:
        """Publish a staged rewrite (:meth:`commit_staged`, redo-safe)
        with exact row estimates for the rewritten buckets riding the
        marker it writes, then drop the touched buckets' deltas — the
        rewrite folded them (a crash before that leaves already-folded
        rows the next fold resolves as LWW no-ops)."""
        for b in w.touched:
            self._row_est[b] = w.bucket_rows.get(b, 0)
        self.commit_staged(w.staging, w.touched, staged=w.staged, token=token)
        self.clear_delta_buckets(w.touched)

    def append_mor(self, rows: DataFrame, touched: list[int]) -> dict:
        """Merge-on-read batch: stage ``rows`` (the batch's winners,
        delete tombstones included) and append them as per-bucket delta
        files — O(batch) write I/O, no base rewrite. The appended rows
        are added to the row estimates (an upper bound: tombstones
        count). Returns :meth:`write_metrics` plus ``delta_files``."""
        w = self.stage_write(rows, f"{self.path}.delta_staging", touched)
        files = self.append_delta(w.staging, w.staged)
        for b, n in w.bucket_rows.items():
            self._row_est[b] = self._row_est.get(b, 0) + n
        self._write_meta()
        return {**self.write_metrics(w, "mor"), "delta_files": files}

    def write_metrics(self, w: StagedWrite, mode: str) -> dict:
        """Manifest metrics of one write. ``bucket_rows`` counts the
        rows written per bucket: a COW bucket's total, a MOR batch's
        appended rows (``mode`` says which reading applies)."""
        return {
            "touched_buckets": w.touched,
            "bucket_rows": w.bucket_rows,
            "rows": int(sum(w.bucket_rows.values())),
            "buckets": self.buckets,
            "mode": mode,
            "bytes_written": w.bytes_written,
        }

    def commit_staged(
        self,
        staging: str,
        touched: list[int],
        staged: list[int] | None = None,
        token: str | None = None,
    ) -> None:
        """Publish a staged per-bucket rewrite into the live store and
        drop the staging. Safe to RE-RUN after a crash at any point —
        the redo path a journal/manifest-driven recovery relies on.

        **rename protocol** (default; needs atomic directory rename —
        HDFS/local): each touched bucket dir is swapped in rename-aside.
        Redo: a staged bucket whose dir is gone was already swapped (the
        rename consumed it) and is skipped; a touched-but-never-staged
        bucket emptied out and its live dir is removed (idempotent).

        **pointer protocol** (object-store translation — S3-class, no
        atomic rename): staged files are COPIED to immutable
        token-prefixed names inside the live bucket dirs (PUTs of new
        objects; an existing object is never renamed or overwritten),
        then the per-bucket live-file lists are committed in ONE atomic
        marker write (conditional-PUT/catalog-swap on a real object
        store), then replaced files are garbage-collected and the
        staging dropped. Crash before the marker commit → reads still
        see the old lists (consistent) and recovery GCs the orphans;
        after it → recovery merely finishes the GC. Re-running with the
        recorded ``token`` overwrite-copies the same bytes to the same
        names — a no-op (sources outlive the commit: staging is dropped
        last). A fully-dropped staging means the commit completed."""
        if staged is None:
            staged = _bucket_ids(staging)
        os.makedirs(self.path, exist_ok=True)
        if self.commit_protocol == "rename":
            staged_set = set(staged)
            for b in touched:
                src = f"{staging}/bucket={b}"
                if os.path.isdir(src) or b not in staged_set:
                    _swap_in(src, f"{self.path}/bucket={b}")
            self._write_meta()
            shutil.rmtree(staging, ignore_errors=True)
            return
        if not os.path.isdir(staging):
            return  # staging dropped only after the commit → already done
        token = token or uuid.uuid4().hex[:12]
        for b in touched:
            src_dir = f"{staging}/bucket={b}"
            names = (
                sorted(
                    e for e in os.listdir(src_dir) if e.endswith(".parquet")
                )
                if os.path.isdir(src_dir)
                else []
            )
            dst_dir = f"{self.path}/bucket={b}"
            if names:
                os.makedirs(dst_dir, exist_ok=True)
                targets = []
                for e in names:
                    dst = os.path.join(dst_dir, f"c-{token}-{e}")
                    tmp = dst + ".part"
                    shutil.copyfile(os.path.join(src_dir, e), tmp)
                    os.replace(tmp, dst)
                    targets.append(f"c-{token}-{e}")
                self._live[b] = targets
            else:
                self._live.pop(b, None)  # bucket emptied out
        self._write_meta()  # ONE atomic write = the commit point
        for b in touched:
            dst_dir = f"{self.path}/bucket={b}"
            if not os.path.isdir(dst_dir):
                continue
            keep = set(self._live.get(b, []))
            for e in os.listdir(dst_dir):
                if e.endswith(".parquet") and e not in keep:
                    os.remove(os.path.join(dst_dir, e))
            if not keep:
                shutil.rmtree(dst_dir, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)

    # -- maintenance -----------------------------------------------------

    def compact(
        self,
        target_files_per_bucket: int = 1,
        bucket_ids: list[int] | None = None,
        sort_within_buckets: list[str] | None = None,
    ) -> dict:
        """Per-bucket small-file compaction (OPTIMIZE file-size health):
        rewrite each selected bucket down to ≤ ``target_files_per_bucket``
        files. Uses its OWN staging dir (merge() wipes ``.staging`` on
        entry — sharing it would turn a crashed compaction into data loss
        at the next merge) and the same rename-aside bucket swap as
        merge, so a crash at any point leaves every bucket recoverable.

        ``bucket_ids`` selects WHICH buckets to rewrite (None = all).
        This is what keeps maintenance O(offending buckets) rather than
        O(table): at steady-state merge-on-read churn one hot bucket
        breaching the file-count threshold must not trigger a rewrite of
        a 10⁹-row store — the policy passes only the buckets whose
        base+delta file count breached (engine.MaintenancePolicy).

        ``sort_within_buckets`` orders rows inside each rewritten bucket
        by the given columns before the write, so parquet row-group
        min/max statistics on those columns become selective and a
        non-key predicate (``lang = 'py'``) skips row groups at scan
        time — the analog of the reference's 18 secondary indexes
        (db/schema.py:70-75,119-128) under Iceberg-style sort orders.
        The sort satisfies the writer's required partition-column
        ordering (bucket is the prefix), so no extra sort is inserted.

        More than one file per bucket needs a deterministic second
        partition key (a nondeterministic split can lose rows on task
        retry): a hash of ``bucket_keys`` seeded INDEPENDENTLY of
        :func:`key_bucket` — xxhash64(keys) % files is fully determined
        by xxhash64(keys) % buckets whenever files divides buckets.

        The rewritten buckets' row estimates become exact (footer
        counts of the staged files); a FULL compaction proves every
        other bucket empty and records the zero (an absent estimate
        would force the conservative COW path)."""
        all_ids = sorted(
            set(self.base_bucket_ids()) | set(self.delta_bucket_ids())
        )
        if bucket_ids is None:
            bucket_ids = all_ids
        else:
            bucket_ids = sorted(set(bucket_ids) & set(all_ids))
        if not bucket_ids:
            return {
                "compacted_buckets": 0,
                "buckets": self.buckets,
                "bucket_ids": [],
            }
        staging = f"{self.path}.compacting"
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        df = self.read_buckets(bucket_ids)
        if target_files_per_bucket > 1:
            self.bucket_col()  # fails loudly without bucket_keys
            split = F.pmod(
                F.xxhash64(*map(F.col, self.bucket_keys), F.lit(0x5EED)),
                F.lit(target_files_per_bucket),
            )
            df = df.repartition(
                len(bucket_ids) * target_files_per_bucket,
                F.col("bucket"),
                split,
            )
        else:
            df = df.repartition(len(bucket_ids), "bucket")
        if sort_within_buckets:
            df = df.sortWithinPartitions("bucket", *sort_within_buckets)
        df.write.mode("overwrite").partitionBy("bucket").parquet(staging)
        w = StagedWrite.of(staging, bucket_ids)
        if bucket_ids == all_ids:
            self._row_est = {b: 0 for b in range(self.buckets)}
        self.commit_cow(w)
        return {
            "compacted_buckets": len(bucket_ids),
            "buckets": self.buckets,
            "bucket_ids": bucket_ids,
            "bytes_written": w.bytes_written,
        }

    def rebucket(self, new_buckets: int) -> dict:
        """B → B′ layout migration (the ``OPTIMIZE``/re-cluster analog of
        the reference's post-load index pass, db/sqlite_builder.py:127-168),
        generic over every bucketed store: the bucket id is recomputed by
        :meth:`bucket_col` under the new modulus (``bucket_keys`` for
        plain stores; subclasses may override).

        At 100× the fixed bucket count must grow so one bucket stays a
        few GB; this rewrites the whole table once under the new hash
        modulus — folded full scan + one shuffle on the new bucket id,
        staged to a side dir and swapped atomically (crash before the
        swap leaves the old layout fully intact; the caller records the
        new B in its manifest as the commit point). Any merge-on-read
        deltas are folded into the new base by the scan and their files
        dropped after the swap (the delta layout marker identifies
        crash-window leftovers as already folded).

        Returns ``{"rebucket_from", "rebucket_to", "rows",
        "bucket_rows", "buckets"}``.
        """
        if new_buckets < 1:
            raise ValueError("new_buckets must be >= 1")
        if not self.exists():
            raise ValueError(f"no store at {self.path} to rebucket")
        new_bucket_col = self.bucket_col(new_buckets)  # fails loudly w/o keys
        old_buckets = self.buckets
        staging = f"{self.path}.rebucket"
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        df = self.read().drop("bucket")
        (
            df.withColumn("bucket", new_bucket_col)
            .repartition(new_buckets, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(staging)
        )
        # per-bucket counts (≤ B′ ints, parquet footers — no Spark
        # job): the exact row estimates of the new layout
        bucket_rows = {
            b: parquet_footer_rows(f"{staging}/bucket={b}")
            for b in _bucket_ids(staging)
        }
        if self.commit_protocol == "pointer":
            # the staged marker must reference the staged files: on a
            # real object store a rebucket writes a NEW table root and
            # flips the catalog pointer — the whole-dir rename below is
            # that flip's local analog, and the live map rides it.
            self._live = {
                b: sorted(
                    e
                    for e in os.listdir(f"{staging}/bucket={b}")
                    if e.endswith(".parquet")
                )
                for b in _bucket_ids(staging)
            }
        # The new-layout marker is written INTO staging so it rides the
        # atomic rename below: a crash between the two os.replace calls
        # must never leave a new-layout table without its marker (the
        # post-swap _write_meta alone opened exactly that window — a
        # marker-less new-layout table would resolve B from a stale
        # manifest and a later merge would mix hash moduli, letting
        # stale versions escape LWW). fresh_layout: the staged marker
        # must NOT carry row estimates still keyed by OLD bucket ids —
        # a crash before the post-swap reseed below would otherwise
        # reopen with wrong-keyed but valid-looking estimates feeding
        # the COW/MOR decision.
        self._write_meta(into=staging, buckets=new_buckets, fresh_layout=True)
        # Whole-table rename-aside swap. Crash between the two renames
        # leaves the intact pre-rebucket table in {path}.old, which
        # _heal_swap restores on the next construction — the rebucket is
        # then simply re-run. Crash after the swap but before the
        # caller's manifest commit is detected by the layout marker
        # (already inside the swapped dir): the marker, not the
        # manifest, is the layout's ground truth.
        _swap_in(staging, self.path)
        self.buckets = new_buckets
        # reseed: a bucket absent from the full rewrite is KNOWN-empty —
        # record the 0 (a missing entry reads as "untracked")
        self._row_est = {b: bucket_rows.get(b, 0) for b in range(new_buckets)}
        self._write_meta()
        # deltas were folded into the new base by the read() above; the
        # crash window between the swap and this clear is covered by the
        # delta layout marker check in _recover().
        shutil.rmtree(self.delta_root, ignore_errors=True)
        return {
            "rebucket_from": old_buckets,
            "rebucket_to": new_buckets,
            "rows": int(sum(bucket_rows.values())),
            "bucket_rows": bucket_rows,
            "buckets": new_buckets,
        }

    def health(self) -> dict:
        """File-size health report (the observability half of OPTIMIZE —
        reference analog: the index pass deciding what to build,
        db/sqlite_builder.py:127-168): per-bucket file counts and bytes,
        plus aggregate skew indicators, from pure filesystem metadata
        (no Spark job — see :func:`path_health`). Feeds the
        compact/rebucket decision: many small files per bucket →
        compact; max/median bucket bytes ≫ 1 → key-space skew; bucket
        bytes near the executor-memory budget → rebucket to a larger B.
        Merge-on-read delta files count toward ``max_files_per_bucket``
        (reads pay base + delta files until a compaction folds them)."""
        return store_health(self.path)

    # -- audits ----------------------------------------------------------

    def bucket_assignment_audit(self, bucket_col: Column) -> int:
        """Rows whose stored partition value disagrees with ``bucket_col``
        recomputed from their own columns — 0 for a healthy store."""
        return (
            self.read()
            .filter(F.col("bucket") != bucket_col)
            .count()
        )


def path_health(path: str) -> dict:
    """The health report as a free function over a path — pure
    ``os.listdir``/``getsize``, requiring neither a SparkSession nor a
    store object (the CLI's ``health`` verb uses this directly so the
    metadata-only report doesn't pay JVM startup)."""
    if not os.path.isdir(path) or not any(
        e.startswith("bucket=") for e in os.listdir(path)
    ):
        return {"buckets": 0, "files": 0, "bytes": 0, "per_bucket": {}}
    per_bucket: dict[int, dict] = {}
    for d in sorted(os.listdir(path)):
        if not d.startswith("bucket=") or d.endswith(".old"):
            continue
        b = int(d.split("=", 1)[1])
        files = [
            e for e in os.listdir(os.path.join(path, d)) if e.endswith(".parquet")
        ]
        nbytes = sum(os.path.getsize(os.path.join(path, d, e)) for e in files)
        per_bucket[b] = {"files": len(files), "bytes": nbytes}
    sizes = sorted(v["bytes"] for v in per_bucket.values())
    total = sum(sizes)
    median = sizes[len(sizes) // 2] if sizes else 0
    return {
        "buckets": len(per_bucket),
        "files": sum(v["files"] for v in per_bucket.values()),
        "bytes": total,
        "max_bucket_bytes": sizes[-1] if sizes else 0,
        "median_bucket_bytes": median,
        "skew_ratio": round(sizes[-1] / median, 2) if median else 0.0,
        "max_files_per_bucket": max(
            (v["files"] for v in per_bucket.values()), default=0
        ),
        "per_bucket": per_bucket,
    }


def store_health(path: str) -> dict:
    """:func:`path_health` plus the merge-on-read delta overlay: delta
    file counts/bytes per bucket (from ``{path}.delta``), with
    ``max_files_per_bucket`` counting base + delta files together —
    that is what a folded read pays, and what the compaction policy
    should trigger on. Still pure filesystem metadata."""
    h = path_health(path)
    delta_root = f"{path}.delta"
    delta_per_bucket: dict[int, dict] = {}
    if os.path.isdir(delta_root):
        for d in sorted(os.listdir(delta_root)):
            if not d.startswith("bucket="):
                continue
            b = int(d.split("=", 1)[1])
            files = [
                e
                for e in os.listdir(os.path.join(delta_root, d))
                if e.endswith(".parquet")
            ]
            delta_per_bucket[b] = {
                "files": len(files),
                "bytes": sum(
                    os.path.getsize(os.path.join(delta_root, d, e))
                    for e in files
                ),
            }
    h["delta_files"] = sum(v["files"] for v in delta_per_bucket.values())
    h["delta_bytes"] = sum(v["bytes"] for v in delta_per_bucket.values())
    h["max_delta_files_per_bucket"] = max(
        (v["files"] for v in delta_per_bucket.values()), default=0
    )
    all_buckets = set(h["per_bucket"]) | set(delta_per_bucket)
    h["max_files_per_bucket"] = max(
        (
            h["per_bucket"].get(b, {}).get("files", 0)
            + delta_per_bucket.get(b, {}).get("files", 0)
            for b in all_buckets
        ),
        default=0,
    )
    h["delta_per_bucket"] = delta_per_bucket
    return h


