from end_to_end_sales_etl_de_project_spark.sources.tables import TABLES, load_table

__all__ = ["TABLES", "load_table"]
