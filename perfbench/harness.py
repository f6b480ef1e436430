"""Session, measurement and correctness helpers shared by the workloads."""

from __future__ import annotations

import json
import math
import os
import statistics
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as f:
        return json.load(f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- Spark session --------------------------------------------------------


def start_spark(work: str, trace: bool):
    """``local[nproc]`` session, shuffle partitions = nproc, every
    scratch file (Spark local dirs, JVM temp dir) under ``work``."""
    from rfb_cnpj_etl_spark.session import get_spark

    n = nproc()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the launcher JVM that spark-submit starts before the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        # a pre-touched fixed heap: VmHWM then does not depend on when G1
        # chose to grow the heap, only on what lives outside it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        # the harvest runs after the timed region: keep every job
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    spark = get_spark("perfbench", cores=n, shuffle_partitions=n, extra_conf=conf)
    spark.range(1).count()  # executor up: part of start-up, not of set-up reps
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — still running: make sure it ends
        proc.kill()
        proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


# -- /proc and disk readers ----------------------------------------------


def proc_wchar(pid: int) -> int:
    with open(f"/proc/{pid}/io", encoding="ascii") as f:
        for line in f:
            if line.startswith("wchar:"):
                return int(line.split()[1])
    raise ValueError(f"no wchar in /proc/{pid}/io")


def proc_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM in /proc/{pid}/status")


def tree_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# -- host speed -------------------------------------------------------------

#: what the reference job takes at the reference speed; time metrics are
#: reported as measured seconds x REF_NOMINAL_S / (this run's median)
REF_NOMINAL_S = 0.5


def reference_job_s(spark, path: str) -> float:
    """Seconds for a fixed Spark job on synthetic rows: a shuffle, a
    parquet write and read back, an aggregate and a join, the machinery
    every engine window uses, but no engine code. Run next to the timed
    region, it measures how fast the host runs at that moment."""
    from pyspark.sql import functions as F

    n = nproc()
    t = time.perf_counter()
    spark.range(0, 200_000, 1, n).selectExpr(
        "id % 20000 AS k", "sha2(cast(id AS string), 256) AS v"
    ).repartition(n, "k").write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    back.groupBy("k").agg(F.max("v").alias("v")).join(
        back.select("k").distinct(), "k"
    ).count()
    return time.perf_counter() - t


# -- statistics ------------------------------------------------------------


def p50(values: list[float]) -> float:
    return statistics.median(values)


def nearest_rank(values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile and how many samples lie beyond it."""
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1], len(s) - rank


# -- input -----------------------------------------------------------------


def generate_log(spark, path: str, events: int, sizes: dict, seed: int):
    """Write the seeded change log to parquet and return it read back."""
    from rfb_cnpj_etl_spark.gen import synthesize_changelog

    synthesize_changelog(
        spark,
        events,
        n_repos=sizes["n_repos"],
        n_paths=sizes["n_paths"],
        delete_ratio=sizes["delete_ratio"],
        hot_repo_fraction=sizes["hot_repo_fraction"],
        seed=seed,
        partitions=nproc(),
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# -- correctness gate -------------------------------------------------------


def frames_match(actual, expected, keys: list[str], content_col: str = "content") -> dict:
    """Per-row sha256(content) differential between two state frames."""
    from pyspark.sql import functions as F

    def side(df, flag):
        return df.select(
            *keys,
            F.sha2(F.col(content_col).cast("string"), 256).alias("sha"),
            F.lit(1).alias(flag),
        )

    bad = (
        side(actual, "in_a")
        .alias("a")
        .join(side(expected, "in_e").alias("e"), keys, "full_outer")
        .filter(
            F.col("a.in_a").isNull()
            | F.col("e.in_e").isNull()
            | ~F.col("a.sha").eqNullSafe(F.col("e.sha"))
        )
        .count()
    )
    return {"sha_mismatches": int(bad), "ok": bad == 0}


class Gate:
    """Counts operations and failures; checks run outside timed regions."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.results: list[dict] = []

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, name: str, fn) -> bool:
        """Run ``fn`` (returns a dict with ``ok``); an exception fails it."""
        try:
            res = fn()
        except Exception as e:  # noqa: BLE001 — a crashing check is a failed check
            res = {"ok": False, "error": f"{type(e).__name__}: {e}"}
        ok = bool(res.get("ok"))
        self.op(ok)
        self.results.append({"check": name, **res})
        return ok

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0
