"""salesdata_engineering_spark — a PySpark-native analytics engine.

A from-scratch, idiomatic Spark DataFrame/SQL re-expression of the query
and data-processing capabilities of the reference batch-ETL project
(Darshan813/SalesData_Engineering; see SURVEY.md at the repo root), plus
streaming and LLM-data-pipeline extensions (dedup, similarity search,
text analysis), designed for 100 TB scale:

- declarative DataFrame plans everywhere (Catalyst does pushdown,
  pruning, join selection, AQE re-planning);
- broadcast hints for star-schema dimension joins;
- groupBy partial+final aggregation instead of the reference's
  window-sum + distinct anti-pattern (equivalence proven in tests);
- no driver-side loops over data, no per-action recompute (callers
  persist the enriched fact once).

Layout:
    session.py    SparkSession builder (AQE, UTC, arrow, sized shuffles)
    schemas.py    canonical sales schema + contract (config.py:40 parity)
    datasets.py   testdata loaders / temp-view registration
    functions.py  scalar helpers F1-F8 (money decimals, month keys, ...)
    ops/          operators the DataFrame API lacks as one call
    marts.py      customer + sales-team mart pipelines (the flagship)
    ingest.py     validation / routing / ledger lifecycle (S1-S8)
    io.py         sources & sinks
    ext/          dedup / similarity / text / json extensions (X1-X4)
    streaming/    structured-streaming variants of the pipeline
"""

__version__ = "0.1.0"
