from .parquet import FIXTURE_TABLES, load_table, publications

__all__ = ["FIXTURE_TABLES", "load_table", "publications"]
