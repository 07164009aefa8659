from simsearch_spark.sources.registry import load_table

__all__ = ["load_table"]
