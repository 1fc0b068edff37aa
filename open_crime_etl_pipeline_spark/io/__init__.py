from .bucketed import bucketed_join, write_bucketed
from .layout import compact, file_key_ranges, write_range_clustered
from .readers import load_table, load_tables, read_crime_pages, split_corrupt
from .writers import write_partitioned_crime

__all__ = [
    "bucketed_join",
    "compact",
    "file_key_ranges",
    "write_range_clustered",
    "load_table",
    "load_tables",
    "read_crime_pages",
    "split_corrupt",
    "write_bucketed",
    "write_partitioned_crime",
]
