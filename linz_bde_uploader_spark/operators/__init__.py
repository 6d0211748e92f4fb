from linz_bde_uploader_spark.operators.diff import (  # noqa: F401
    KeyValidityError,
    MergeStats,
    apply_changes,
    classify_incremental_changes,
    full_table_diff,
    keyswap_repair,
    validate_key_column,
)
from linz_bde_uploader_spark.operators.negotiate import negotiate_columns  # noqa: F401
from linz_bde_uploader_spark.operators.tolerance import ToleranceResult, check_row_tolerance  # noqa: F401
