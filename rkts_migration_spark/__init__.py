"""spark-kg-construct: a PySpark-native knowledge-graph construction engine.

A from-scratch distributed successor to the *capabilities* of
``buda-base/rKTs-migration`` (single-threaded PHP/Python XML->RDF ETL,
see SURVEY.md): an extract -> link -> canonicalize -> materialize dataflow
over tables of multi-turn transcripts ``(conv_id, turn_idx, role, text,
tool, ts)`` that emits a deterministic ``(subj, pred, obj)`` triple table.

Layout
------
- :mod:`rkts_migration_spark.fixtures`     deterministic synthetic inputs
- :mod:`rkts_migration_spark.oracle`       single-node golden oracle (pure python)
- :mod:`rkts_migration_spark.functions`    scalar column expressions + pandas UDFs
- :mod:`rkts_migration_spark.operators`    window/dedup/CC/similarity ops
- :mod:`rkts_migration_spark.extract`      trie mention detection (mapInPandas)
- :mod:`rkts_migration_spark.link`         gazetteer-scored entity linking
- :mod:`rkts_migration_spark.canonicalize` dictionary merges + connected components
- :mod:`rkts_migration_spark.materialize`  triple assembly + N-Triples text
- :mod:`rkts_migration_spark.pipeline`     checkpointed, resumable stage runner
- :mod:`rkts_migration_spark.sources`      table IO (Iceberg when available, parquet fallback)
"""

__version__ = "0.1.0"
