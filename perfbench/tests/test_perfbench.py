"""The benchmark's own tests: span arithmetic, the Spark-metrics harvest,
seeded input, and the correctness gate.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

from harness import Gate, frames_match, generate_log  # noqa: E402
from tracing import Span, Tracer, _subtract, _union, install  # noqa: E402


def frame_digest(df) -> str:
    """sha256 over the sorted rows of a small frame."""
    h = hashlib.sha256()
    for row in sorted(tuple(r) for r in df.collect()):
        h.update(repr(row).encode())
    return h.hexdigest()


SIZES = {"n_repos": 4, "n_paths": 30, "delete_ratio": 0.2, "hot_repo_fraction": 0.1}


@pytest.fixture(scope="module")
def spark():
    from rfb_cnpj_etl_spark.session import get_spark

    return get_spark(
        "perfbench-tests",
        cores=2,
        shuffle_partitions=2,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


class TestSpanArithmetic:
    def test_interval_helpers(self):
        assert _union([(0, 2), (1, 3), (5, 6)]) == 4
        assert _subtract([(0, 10)], [(2, 3), (5, 7)]) == [(0, 2), (3, 5), (7, 10)]
        assert _subtract([(0, 10)], [(0, 10)]) == []

    def test_self_time_subtracts_children(self):
        t = Tracer()
        t.spans = [
            Span("a", "g0", None, 0.0, 10.0, children=[1, 2]),
            Span("b", "g1", 0, 1.0, 3.0, children=[3]),
            Span("c", "g2", 0, 4.0, 8.0),
            Span("d", "g3", 1, 1.5, 2.5),
        ]
        assert t.self_ms(0) == pytest.approx(4000.0)  # 10 - 2 - 4
        assert t.self_ms(1) == pytest.approx(1000.0)  # 2 - 1
        assert t.self_ms(2) == pytest.approx(4000.0)
        # a stage running 0.5-1.5 s (0.5 s of it inside child b) and one
        # 8-9 s: 1.5 s of a's 4 s self time is executor time
        t.spans[0].stages = [
            {"submitted": 0.5, "completed": 1.5},
            {"submitted": 8.0, "completed": 9.0},
        ]
        assert t.driver_ms(0) == pytest.approx(2500.0)

    def test_nesting_and_same_name_collapse(self):
        t = Tracer()
        with t.span("outer"):
            with t.span("inner"):
                with t.span("inner"):  # an override calling its base
                    pass
            with t.span("inner"):
                pass
        names = [(s.name, s.parent) for s in t.spans]
        assert names == [("outer", None), ("inner", 0), ("inner", 0)]
        assert t.spans[0].children == [1, 2]
        assert not t._stack
        assert t.top_level(0, float("inf")) == [0]
        total = sum(t.self_ms(i) for i in range(3))
        assert total == pytest.approx(1000 * (t.spans[0].end - t.spans[0].start))


class TestHarvest:
    def test_shuffle_job_has_cpu_and_shuffle_bytes(self, spark):
        t = Tracer(spark.sparkContext)
        with t.span("store.stage_write"):
            spark.range(0, 50000, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        t.harvest()
        m = t.layer_metrics([0])
        assert m["store.stage_write.jobs"] >= 1
        assert m["store.stage_write.cpu_ms"] > 0
        assert m["store.stage_write.shuffle_write_bytes"] > 0
        assert m["store.stage_write.shuffle_stages"] >= 1
        assert 0 <= m["store.stage_write.driver_ms"] <= m["store.stage_write.ms"]
        # the parent's (here: no) job group is back after the span
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


class TestSeededInput:
    def test_same_seed_same_input(self, spark, tmp_path):
        a = generate_log(spark, str(tmp_path / "a"), 2000, SIZES, seed=7)
        b = generate_log(spark, str(tmp_path / "b"), 2000, SIZES, seed=7)
        c = generate_log(spark, str(tmp_path / "c"), 2000, SIZES, seed=8)
        assert frame_digest(a) == frame_digest(b)
        assert frame_digest(a) != frame_digest(c)


class TestGateAndWrappers:
    def test_gate_fails_on_corrupted_expected(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from rfb_cnpj_etl_spark.engine import CdcEngine
        from rfb_cnpj_etl_spark.gen import expected_final_state

        log = generate_log(spark, str(tmp_path / "log"), 1500, SIZES, seed=3)
        eng = CdcEngine(spark, str(tmp_path / "state"), str(tmp_path / "m.jsonl"), buckets=4)
        tracer = Tracer(spark.sparkContext)
        uninstall = install(tracer)
        try:
            eng.replay(log, batch_size=500)
        finally:
            uninstall()
        names = {s.name for s in tracer.spans}
        assert {"engine.replay", "merge.merge", "store.stage_write", "checkpoint.commit"} <= names
        assert not hasattr(CdcEngine.replay, "__wrapped__")  # originals restored

        expected = expected_final_state(log)
        victim = expected.orderBy("repo", "path").first()
        corrupted = expected.withColumn(
            "content",
            F.when(
                (F.col("repo") == victim["repo"]) & (F.col("path") == victim["path"]),
                F.concat(F.col("content"), F.lit("!")),
            ).otherwise(F.col("content")),
        )
        gate = Gate()
        assert gate.check("good", lambda: eng.verify_against(expected))
        assert not gate.check("corrupted", lambda: eng.verify_against(corrupted))
        assert not gate.check(
            "corrupted_frame", lambda: frames_match(eng.final_state(), corrupted, eng.state.keys)
        )
        assert not gate.check("crash", lambda: 1 / 0)
        assert (gate.attempted, gate.failed, gate.correct) == (4, 3, False)
