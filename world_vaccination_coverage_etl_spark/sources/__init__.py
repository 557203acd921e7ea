from .registry import load_table
from .csv_source import read_wide_csv
from .warehouse import write_warehouse_table

__all__ = [
    "load_table",
    "read_wide_csv",
    "write_warehouse_table",
]
