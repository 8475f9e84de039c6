from hpmr_spark.sources.tables import TABLES, footer, load_table, table_rows

__all__ = ["TABLES", "footer", "load_table", "table_rows"]
