"""CDC dedup (M1/M2 semantics) + document near-dup operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from rfb_cnpj_etl_spark.operators import dedup as D

LOG_SCHEMA = "repo string, path string, content string, lsn long, op string"


def log_df(spark, rows):
    return spark.createDataFrame(rows, LOG_SCHEMA)


class TestLastWriterWins:
    def test_keeps_max_lsn(self, spark):
        df = log_df(
            spark,
            [
                ("r", "p", "v1", 1, "upsert"),
                ("r", "p", "v2", 5, "upsert"),
                ("r", "p", "v3", 3, "upsert"),
                ("r", "q", "w1", 2, "upsert"),
            ],
        )
        out = {(r["path"]): r["content"] for r in D.last_writer_wins(df, ["repo", "path"]).collect()}
        assert out == {"p": "v2", "q": "w1"}

    def test_delete_wins_lsn_tie(self, spark):
        # total order: (lsn DESC, delete-first) — SURVEY §7.4.2
        df = log_df(
            spark,
            [("r", "p", "v", 7, "upsert"), ("r", "p", None, 7, "delete")],
        )
        out = D.last_writer_wins(df, ["repo", "path"]).collect()
        assert len(out) == 1 and out[0]["op"] == "delete"


class TestFirstWriterWins:
    def test_insert_or_ignore_intent(self, spark):
        # db/sqlite_loader.py:56
        df = log_df(
            spark, [("r", "p", "first", 1, "upsert"), ("r", "p", "later", 9, "upsert")]
        )
        out = D.first_writer_wins(df, ["repo", "path"]).collect()
        assert out[0]["content"] == "first"


class TestPrioritizedDedup:
    def test_prefers_nonempty_payload(self, spark):
        # utils/db_patch.py:60-87: razao_social non-empty preferred even
        # over a later (higher-tiebreak) blank row
        df = log_df(
            spark,
            [
                ("r", "p", "", 9, "upsert"),
                ("r", "p", "  ", 8, "upsert"),
                ("r", "p", "named", 2, "upsert"),
            ],
        )
        out = D.prioritized_dedup(df, ["repo", "path"], "content").collect()
        assert out[0]["content"] == "named"

    def test_tiebreak_among_nonempty(self, spark):
        df = log_df(
            spark, [("r", "p", "a", 1, "upsert"), ("r", "p", "b", 2, "upsert")]
        )
        out = D.prioritized_dedup(df, ["repo", "path"], "content").collect()
        assert out[0]["content"] == "b"  # lsn DESC tiebreak


DOCS = "doc_id long, text string"


class TestDocDedup:
    def test_exact_keeps_min_id(self, spark):
        df = spark.createDataFrame(
            [(1, "same text"), (5, "same text"), (3, "other")], DOCS
        )
        kept = {r["doc_id"] for r in D.dedup_exact(df).collect()}
        assert kept == {1, 3}

    def test_jaccard_identical_docs(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")], DOCS
        )
        pairs = D.ngram_jaccard_pairs(df, threshold=0.99).collect()
        assert [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]

    def test_jaccard_partial_overlap(self, spark):
        # docs share a 6-token prefix; 3-shingles: doc1 has 6, doc2 has 6,
        # common = 4 ('a b c','b c d','c d e','d e f') → J = 4/8 = 0.5
        df = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e f x y")], DOCS
        )
        pairs = D.ngram_jaccard_pairs(df, threshold=0.4).collect()
        assert len(pairs) == 1
        assert abs(pairs[0]["jaccard"] - 0.5) < 1e-9

    def test_minhash_finds_near_dups(self, spark):
        base = " ".join(f"w{i}" for i in range(50))
        near = " ".join(f"w{i}" for i in range(49)) + " zz"
        far = " ".join(f"q{i}" for i in range(50))
        df = spark.createDataFrame([(1, base), (2, near), (3, far)], DOCS)
        pairs = {
            (p["id_a"], p["id_b"]) for p in D.minhash_lsh_pairs(df, threshold=0.5).collect()
        }
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_simhash_identical_zero_hamming(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
             (3, "totally different words here now")],
            DOCS,
        )
        pairs = D.simhash_near_dups(df, max_hamming=0).collect()
        assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]

    def test_simhash_table_deterministic(self, spark):
        df = spark.createDataFrame([(1, "a b c"), (2, "d e f")], DOCS)
        s1 = {tuple(r) for r in D.simhash_table(df).collect()}
        s2 = {tuple(r) for r in D.simhash_table(df).collect()}
        assert s1 == s2
