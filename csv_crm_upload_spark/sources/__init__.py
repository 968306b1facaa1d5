from csv_crm_upload_spark.sources.csv_source import read_customers_csv, read_customers_csv_stream
from csv_crm_upload_spark.sources.tables import load_table

__all__ = [
    "read_customers_csv",
    "read_customers_csv_stream",
    "load_table",
]
