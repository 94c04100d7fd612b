from .catalog import load_table, load_tables, register_views
from .files import read_csv, read_jsonl, valid_rows, corrupt_rows, write_partitioned
from .incremental_agg import IncrementalAggregate
from ..operators.layout import write_zordered
from .zonemap import build_zonemap, read_pruned

__all__ = [
    "load_table",
    "load_tables",
    "register_views",
    "read_csv",
    "read_jsonl",
    "valid_rows",
    "corrupt_rows",
    "write_partitioned",
    "IncrementalAggregate",
    "build_zonemap",
    "read_pruned",
    "write_zordered",
]
