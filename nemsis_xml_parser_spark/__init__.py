"""nemsis_xml_parser_spark — a PySpark-native rebuild of the capabilities of
dambry/NEMSIS-XML-PARSER (reference snapshot at /root/reference, read-only).

The reference is a single-threaded Python ETL that flattens NEMSIS EMS XML
into a dynamically-created PostgreSQL star schema (one table per XML tag) and
defers all querying to the warehouse it produces.  This package re-expresses
that pipeline Spark-first:

* ``sources``   — XML / pipe-CSV / Excel / binary-file scans (SURVEY §2.A)
* ``operators`` — flatten, warehouse fan-out and the PCR-scoped lake merge
                  (``operators.warehouse.merge_into_lake``, the one writer
                  batch and streaming ingest share), dedup, similarity,
                  text analysis, multimodal plumbing (§2.B–§2.E)
* ``functions`` — scalar fn library (naming parity, hashing, vectors, text)
* ``plans``     — the analytic query layer exposed through ``queries()`` /
                  ``oracle_sql()`` in ``__spark_entry__.py`` (§2.I)
* ``streaming`` — Structured Streaming equivalents of the watch-a-directory
                  ingest plus event-stream operators (§2.I streaming row)

Everything is DataFrame-declarative so Catalyst/Tungsten handle pushdown,
pruning, join selection and codegen; Python touches data only in the
recursive XML flatten (no Spark SQL recursion) and the Arrow-batched
pandas UDF extension operators.
"""

__version__ = "0.1.0"
