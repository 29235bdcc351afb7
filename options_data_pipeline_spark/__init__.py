"""options_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference pipeline
(Mohak-0014/Options_Data_Pipeline, a streaming tick→OHLC→ATR ETL system) as an
idiomatic Spark DataFrame / Structured Streaming engine, extended with
large-scale LLM-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing).

Design stance (SURVEY.md §7):
 - batch-first DataFrame engine, streaming twin where semantics demand it
 - every batch operator a native Column/SQL expression — recursions
   (Wilder ATR, EMA-family indicators) are per-symbol SQL folds
   (operators/fold.py), and the live stages run the same folds per
   micro-batch, seeded from a published state generation
   (streaming/fold_state.py)
 - dims broadcast, facts partitioned by date, dedup via anti-join / MERGE
"""

__version__ = "0.1.0"
