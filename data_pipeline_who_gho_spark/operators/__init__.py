from .transform import (
    clean_countries,
    clean_indicators,
    clean_observations,
    dedup_keep_first,
    ensure_columns,
    normalize_year,
    records_to_df,
    safe_double,
)
from .validate import ValidationResult, validate_split
from .quality import DataQualityError, run_dq_checks
from .load import upsert, append_rejects

__all__ = [
    "clean_countries",
    "clean_indicators",
    "clean_observations",
    "dedup_keep_first",
    "ensure_columns",
    "normalize_year",
    "records_to_df",
    "safe_double",
    "ValidationResult",
    "validate_split",
    "DataQualityError",
    "run_dq_checks",
    "upsert",
    "append_rejects",
]
