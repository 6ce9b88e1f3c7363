from ibc_spark.io_.sources import TABLES, read_table

__all__ = ["TABLES", "read_table"]
