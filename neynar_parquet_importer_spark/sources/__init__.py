from .filenames import ParquetFileMeta, parse_parquet_filename, window_file_name
from .windows import WindowPlan, plan_windows, discover_latest_full

__all__ = [
    "ParquetFileMeta",
    "parse_parquet_filename",
    "window_file_name",
    "WindowPlan",
    "plan_windows",
    "discover_latest_full",
]
