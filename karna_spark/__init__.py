"""karna_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capability surface declared by the
reference repo elliot14A/karna ("query tabular files like CSV, TSV or
parquet using SQL, GraphQL and Natural Language", reference README.md:2)
as an idiomatic Apache Spark engine, extended with the large-scale
training-data-pipeline operators the driver's north star requires
(dedup, similarity search, multimodal columns, text analysis).

Layout
------
- ``session``    : SparkSession builder with scale-aware defaults
- ``catalog``    : dataset registration (CSV/TSV/Parquet → named views)
- ``sources``    : file readers (S1-S5 of SURVEY.md §2.1)
- ``sinks``      : result export (S7-S8)
- ``operators``  : composed DataFrame operators Spark lacks natively
                   (as-of join, MinHash-LSH, sessionization, ANN, ...)
- ``functions``  : column-expression libraries (vector math, text stats)
- ``queries``    : the driver-checked query registry (SURVEY.md §2 rows)
- ``frontends``  : SQL passthrough, GraphQL → DataFrame, NL → SQL
- ``streaming``  : Structured Streaming variants of the windowed ops
- ``intermediates``: scopes that own every persist and local checkpoint

Everything here is public-API PySpark: DataFrame/SQL first, Catalyst
does the optimizing, Pandas UDFs only where built-ins genuinely cannot
express the semantics.
"""

__version__ = "0.1.0"
