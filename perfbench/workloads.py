"""The workloads. Each drives ``CdcEngine`` only through its public API
on a seeded ``synthesize_changelog`` log; sizes come from
``workloads.json``.

A run of a workload is: ``generate`` the log (repeated, the median is
the set-up figure), ``build`` the warm state once, an untimed
``warmup`` that runs every kind of call the timed region makes, then
the timed ``unit``, repeated until the run's seconds have passed, and
last ``verify``, the correctness gate.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from harness import Gate, frames_match, generate_log


class Workload:
    #: whole units the log is generated for; a run that would need more
    #: stops early (far beyond the run lengths used here)
    MAX_UNITS = 8

    def __init__(self, spark, work: str, sizes: dict, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.sizes = sizes
        self.seed = seed
        self.tracer = tracer
        self.exhausted = False
        self.live_rows = 0
        self.reset_counters()

    def reset_counters(self) -> None:
        self.windows: list[float] = []
        self.reads: list[float] = []
        self.events = 0
        self.modes: list[str] = []
        self.change_rows = 0

    def log_events(self) -> int:
        raise NotImplementedError

    def generate(self) -> None:
        self.total = self.log_events()
        self.log = generate_log(
            self.spark, os.path.join(self.work, "log"), self.total, self.sizes, self.seed
        )

    def build(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def unit(self) -> None:
        raise NotImplementedError

    def verify(self, gate: Gate) -> None:
        raise NotImplementedError

    def artifacts(self) -> list[str]:
        return [self.root]

    # -- helpers ---------------------------------------------------------

    def _engine(self, root: str, **kw):
        from rfb_cnpj_etl_spark.engine import CdcEngine

        return CdcEngine(
            self.spark,
            os.path.join(root, "state"),
            os.path.join(root, "manifest.jsonl"),
            buckets=self.sizes["buckets"],
            **kw,
        )

    def _window(self, eng, upto: int, batch_size: int, events: int, **kw) -> list[dict]:
        """One closed-loop window: replay the log below ``upto`` and wait
        for its commit."""
        t = time.perf_counter()
        entries = eng.replay(
            self.log.filter(F.col("lsn") < upto), batch_size=batch_size, **kw
        )
        self.windows.append(time.perf_counter() - t)
        self.events += events
        for e in entries:
            if "mode" in e:
                self.modes.append(e["mode"])
                self.change_rows += int(e.get("change_rows", 0))
        return entries

    def _read(self, span: str, frame_fn) -> None:
        t = time.perf_counter()
        with self.tracer.span(span):
            frame_fn().count()
        self.reads.append(time.perf_counter() - t)

    def _verify_state(self, gate: Gate, eng, upto: int) -> None:
        from rfb_cnpj_etl_spark.gen import expected_final_state

        def check():
            res = eng.verify_against(
                expected_final_state(self.log.filter(F.col("lsn") < upto))
            )
            self.live_rows = res["rows_actual"]
            return res

        gate.check("final_state", check)


class BulkBackfill(Workload):
    """One large batch into an empty state; no feed, no index."""

    WARMUP_UNITS = 2

    def log_events(self) -> int:
        return self.sizes["events"]

    def build(self) -> None:
        self.units = 0
        self.root = None

    def warmup(self) -> None:
        for _ in range(self.WARMUP_UNITS):
            self.unit()

    def unit(self) -> None:
        n = self.sizes["events"]
        if self.root is not None:
            shutil.rmtree(self.root)
        self.root = os.path.join(self.work, f"unit-{self.units}")
        self.units += 1
        self.eng = self._engine(self.root)
        self._window(self.eng, n, n, n)
        for _ in range(self.sizes["reads_per_unit"]):
            self._read("engine.final_state", self.eng.final_state)

    def verify(self, gate: Gate) -> None:
        self._verify_state(gate, self.eng, self.sizes["events"])


class CdcOutChurn(Workload):
    """A warm state, then small windows, one replay() call each, with
    every consumer of the state attached: the change feed with
    pre-images, one incremental aggregate and a MinHash index updated
    every window, feed checkpoints, compaction, and time-travel reads of
    a fixed interior batch."""

    SUMS = {"content_chars": "length(content)"}

    def log_events(self) -> int:
        s, w = self.sizes["state_events"], self.sizes["window_events"]
        return s + w * (1 + self.sizes["unit_windows"] * self.MAX_UNITS)

    def _replay_kw(self) -> dict:
        from rfb_cnpj_etl_spark.engine import MaintenancePolicy

        return {
            "maintenance": MaintenancePolicy(
                max_files_per_bucket=self.sizes["max_files_per_bucket"],
                feed_checkpoint_every=self.sizes["feed_checkpoint_every"],
                include_index=self.sizes["compact_index"],
            ),
            "aggregates": [self.agg],
            "minhash_index": self.index,
        }

    def build(self) -> None:
        from rfb_cnpj_etl_spark.operators.dedup import MinhashIndex
        from rfb_cnpj_etl_spark.operators.ivm import IncrementalAggregate

        s, w = self.sizes["state_events"], self.sizes["window_events"]
        if s % w:
            # replay() aligns windows on absolute LSN multiples of the
            # batch size; an unaligned state would split every window
            raise ValueError(f"state_events {s} is not a multiple of window_events {w}")
        self.root = os.path.join(self.work, "engine")
        self.eng = self._engine(
            self.root,
            changes_dir=os.path.join(self.root, "changes"),
            feed_preimages=True,
        )
        self.agg = IncrementalAggregate(
            self.spark, os.path.join(self.root, "ivm"), ["repo"], self.SUMS
        )
        self.index = MinhashIndex(
            self.spark,
            os.path.join(self.root, "index"),
            num_hashes=self.sizes["num_hashes"],
            bands=self.sizes["bands"],
            buckets=self.sizes["index_buckets"],
        )
        self.eng.replay(
            self.log.filter(F.col("lsn") < s), batch_size=s, **self._replay_kw()
        )
        self.hi = s

    def _next_window(self) -> list[dict]:
        w = self.sizes["window_events"]
        if self.hi + w > self.total:
            self.exhausted = True
            return []
        self.hi += w
        return self._window(self.eng, self.hi, w, w, **self._replay_kw())

    def _read_state(self) -> None:
        self._read(
            "engine.state_as_of", lambda: self.eng.state_as_of(self.as_of_batch)
        )

    def warmup(self) -> None:
        (entry,) = [e for e in self._next_window() if "mode" in e]
        self.as_of_batch = entry["batch_id"]
        self.as_of_hi = int(entry["lsn_hi"])
        self._read_state()

    def unit(self) -> None:
        for _ in range(self.sizes["unit_windows"]):
            self._next_window()
            if self.exhausted:
                return
        for _ in range(self.sizes["reads_per_unit"]):
            self._read_state()

    def verify(self, gate: Gate) -> None:
        from rfb_cnpj_etl_spark.gen import expected_final_state

        self._verify_state(gate, self.eng, self.hi)
        gate.check("ivm", lambda: self.agg.verify_against_state(self.eng))
        gate.check(
            "state_as_of",
            lambda: frames_match(
                self.eng.state_as_of(self.as_of_batch),
                expected_final_state(self.log.filter(F.col("lsn") <= self.as_of_hi)),
                self.eng.state.keys,
            ),
        )


WORKLOADS = {
    "bulk_backfill": BulkBackfill,
    "cdc_out_churn": CdcOutChurn,
}
