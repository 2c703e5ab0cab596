"""PySpark shell around the validation kernel."""

from medea_spark.engine.annotate import (
    ANNOTATED_RESULT,
    ANNOTATION_NODE,
    annotate_sample,
)
from medea_spark.engine.partitioning import (
    PART_ID,
    SALT_ID,
    detect_skewed_keys,
    with_partition_columns,
)
from medea_spark.engine.dedup_validate import validate_table_deduped
from medea_spark.engine.dispatch import (
    NO_SCHEMA_FOR_KEY,
    make_dispatch_validation_udf,
    validate_table_dispatched,
)
from medea_spark.engine.io import (
    ensure_kernel_parallelism,
    infer_schema_from_table,
    read_repo_files,
    write_bucketed,
    write_partitioned,
    write_table,
)
from medea_spark.engine.session import get_spark
from medea_spark.engine.temporal import (
    NO_ACTIVE_SCHEMA,
    SchemaVersion,
    assign_schema_version,
    validate_table_versioned,
)
from medea_spark.engine.validate import (
    RESULT_STRUCT,
    VIOLATION_STRUCT,
    ValidationRun,
    make_validation_udf,
    validate_table,
)

__all__ = [
    "NO_ACTIVE_SCHEMA",
    "NO_SCHEMA_FOR_KEY",
    "make_dispatch_validation_udf",
    "validate_table_dispatched",
    "SchemaVersion",
    "assign_schema_version",
    "validate_table_versioned",
    "ANNOTATED_RESULT",
    "ANNOTATION_NODE",
    "annotate_sample",
    "ensure_kernel_parallelism",
    "infer_schema_from_table",
    "PART_ID",
    "RESULT_STRUCT",
    "SALT_ID",
    "VIOLATION_STRUCT",
    "ValidationRun",
    "detect_skewed_keys",
    "get_spark",
    "read_repo_files",
    "write_bucketed",
    "write_partitioned",
    "write_table",
    "make_validation_udf",
    "validate_table",
    "validate_table_deduped",
    "with_partition_columns",
]
