from .testdata import TESTDATA_TABLES, load_table, register_views

__all__ = ["TESTDATA_TABLES", "load_table", "register_views"]
