"""Explode (T7), audits (S10/S12), schema registry."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from rfb_cnpj_etl_spark.operators.audit import (
    delete_orphans,
    duplicate_keys,
    fk_orphans,
    row_count_reconciliation,
)
from rfb_cnpj_etl_spark.operators.explode import explode_delimited
from rfb_cnpj_etl_spark.schema import CHANGELOG_SCHEMA, SchemaRegistry


class TestExplode:
    def test_reference_semantics(self, spark):
        # db_batch_producer.py:61-72: split, trim, drop empties
        df = spark.createDataFrame(
            [("k1", "a, b,,c "), ("k2", ""), ("k3", None), ("k4", "solo")],
            "k string, packed string",
        )
        out = [
            (r["k"], r["cod"]) for r in
            explode_delimited(df, ["k"], "packed", "cod").collect()
        ]
        assert sorted(out) == [("k1", "a"), ("k1", "b"), ("k1", "c"), ("k4", "solo")]


class TestAudits:
    def test_duplicate_keys(self, spark):
        df = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 1)], "k string, v int"
        )
        dups = duplicate_keys(df, ["k"]).collect()
        assert [(d["k"], d["n"]) for d in dups] == [("a", 2)]

    def test_fk_orphans_and_delete(self, spark):
        child = spark.createDataFrame([(1, "x"), (2, "y"), (9, "z")], "fk int, v string")
        parent = spark.createDataFrame([(1,), (2,)], "pk int")
        orphans = fk_orphans(child, parent, "fk", "pk").collect()
        assert [o["fk"] for o in orphans] == [9]
        kept = delete_orphans(child, parent, "fk", "pk").collect()
        assert sorted(r["fk"] for r in kept) == [1, 2]

    def test_row_count_reconciliation(self, spark):
        df = spark.range(100)
        assert row_count_reconciliation(df, 100)["ok"]
        assert not row_count_reconciliation(df, 99)["ok"]
        assert row_count_reconciliation(df, 99, tolerance=0.02)["ok"]


class TestSchemaRegistry:
    def test_add_column_ok(self, spark):
        reg = SchemaRegistry(CHANGELOG_SCHEMA)
        new = T.StructType(
            list(CHANGELOG_SCHEMA.fields) + [T.StructField("branch", T.StringType())]
        )
        added = reg.evolve(new)
        assert [f.name for f in added] == ["branch"]
        assert reg.version == 1

    def test_drop_column_rejected(self, spark):
        reg = SchemaRegistry(CHANGELOG_SCHEMA)
        smaller = T.StructType(CHANGELOG_SCHEMA.fields[:-1])
        with pytest.raises(ValueError, match="drop-column"):
            reg.evolve(smaller)

    def test_type_change_rejected(self, spark):
        reg = SchemaRegistry(CHANGELOG_SCHEMA)
        fields = [
            T.StructField(f.name, T.IntegerType())
            if f.name == "content"
            else f
            for f in CHANGELOG_SCHEMA.fields
        ]
        with pytest.raises(ValueError, match="type-change"):
            reg.evolve(T.StructType(fields))
