"""The shared bucketed-store write path (operators/store.py): the
touched-set guard every store stages through, and the plan shape of the
state table's COW and MOR writes."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from rfb_cnpj_etl_spark.engine import default_normalize
from rfb_cnpj_etl_spark.operators.dedup import _LwwIndexStore
from rfb_cnpj_etl_spark.operators.merge import StateTable
from rfb_cnpj_etl_spark.operators.store import TouchedSetMismatchError
from rfb_cnpj_etl_spark.schema import CHANGELOG_SCHEMA

B = 4


def log_df(spark, rows):
    return spark.createDataFrame(rows, CHANGELOG_SCHEMA)


def _seeded_state(spark, path, protocol):
    st = StateTable(spark, path, buckets=B, commit_protocol=protocol)
    st.merge(
        log_df(spark, [("r", f"p{i}", "c", "py", f"v{i}", i, "upsert")
                       for i in range(16)])
    )
    return st


def _seeded_index_store(spark, path, protocol):
    st = _LwwIndexStore(
        spark, path, B, bucket_keys=["id"], fold_keys=["id"],
        commit_protocol=protocol,
    )
    rows = spark.createDataFrame(
        [(f"d{i}", [i, i + 1]) for i in range(16)],
        "id string, sig array<bigint>",
    ).withColumn("bucket", st.bucket_col())
    st.commit_cow(st.stage_cow(rows, list(range(B))))
    return st


def _snapshot(path: str) -> dict[str, str]:
    """sha256 of every file under the store and its delta root."""
    out = {}
    for root in (path, f"{path}.delta"):
        for d, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    out[p] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("protocol", ["rename", "pointer"])
@pytest.mark.parametrize(
    "seed", [_seeded_state, _seeded_index_store], ids=["state", "index"]
)
def test_touched_set_guard_leaves_store_unchanged(
    spark, tmp_path, seed, protocol
):
    """A COW stage or MOR append holding a row outside ``touched``
    raises before anything is published: the staging dir is gone, and
    the live files, the marker and the row estimates are as before."""
    path = str(tmp_path / "store")
    st = seed(spark, path, protocol)
    b0 = st.read().first()["bucket"]
    stray = st.read().filter(F.col("bucket") == b0).limit(1)
    others = [b for b in range(B) if b != b0]
    before, est = _snapshot(path), dict(st._row_est)
    assert any(p.endswith(st.META_FILE) for p in before)
    for write in (st.stage_cow, st.append_mor):
        with pytest.raises(TouchedSetMismatchError, match="outside the"):
            write(stray, others)
        assert not os.path.exists(f"{path}.staging")
        assert not os.path.exists(f"{path}.delta_staging")
        assert _snapshot(path) == before
        assert st._row_est == est


def test_merge_write_plans_have_no_python_eval(spark, tmp_path):
    """The replay hot path stays Catalyst-only: the rows the COW and
    MOR merges stage (engine normalize → LWW fold → sha256) plan no
    Python evaluation node. Plan-only — no Spark job runs."""
    st = StateTable(spark, str(tmp_path / "s"), buckets=B)
    batch = default_normalize(
        log_df(spark, [(" r ", " p ", "c", "py", "v", 1, "upsert"),
                       ("r", "p", None, None, None, 2, "delete")])
    ).withColumn("bucket", st.bucket_col())
    sc = spark.sparkContext
    sc.setJobGroup("plan-only", "write-plan shape")
    try:
        plans = {
            "cow": st._cow_rows(batch, "lsn", "op", list(range(B))),
            "mor": st._mor_rows(batch, "lsn", "op"),
        }
        for mode, df in plans.items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in plan, (mode, plan)
            assert "EvalPython" not in plan, (mode, plan)
        assert not list(sc.statusTracker().getJobIdsForGroup("plan-only"))
    finally:
        sc._jsc.clearJobGroup()
