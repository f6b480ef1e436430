"""rfb_cnpj_etl_spark — a PySpark-native incremental CDC ingest engine.

Re-imagines the reference ``msantosjader/rfb-cnpj-etl`` (a row-oriented
Python CSV→SQLite/Postgres bulk loader) as a Spark-first change-event
pipeline over a lake table of source-code repositories
``(repo, path, commit, lang, content)``:

* an ordered change log of upsert/delete events with a monotonic LSN
  (``sources.changelog``),
* vectorized field cleaning — the reference's per-row Python transforms
  (``utils/db_transformers.py``) become native Catalyst expressions and
  Arrow-batched pandas UDFs (``functions.normalize``),
* last-writer-wins dedup by LSN watermark — the reference's
  window-function patch dedup (``utils/db_patch.py:60-87``) becomes one
  keyed ``max_by`` aggregate whose map-side partial aggregate collapses
  hot keys before the shuffle (``operators.dedup``),
* MERGE-style keyed upsert/delete apply with bucket-pruned partition
  overwrite (``operators.merge``),
* an idempotent checkpoint manifest with per-partition lineage and
  ingested-row metrics (``plans.checkpoint``),
* a replay loop / micro-batch driver (``engine``) plus a Structured
  Streaming variant (``streaming.pipeline``).

Everything here is built on public PySpark APIs only.
"""

__version__ = "0.1.0"
