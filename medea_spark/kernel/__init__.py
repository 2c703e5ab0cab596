"""Pure-Python per-document validation kernel (Spark-free, unit-testable).

The Spark engine maps this kernel over Arrow batches inside a pandas
UDF; keeping it Spark-free makes it embarrassingly parallel and
testable in isolation (SURVEY.md §7 step 2).

Every Python worker that unpickles a kernel UDF imports this package,
so it is where the worker-side ``zipimport`` fix is installed.
"""

from medea_spark.kernel import _zipimport
from medea_spark.kernel.annotate import annotate_value
from medea_spark.kernel.validator import (
    ADDITIONAL_PROP_FOUND_BUT_BANNED,
    IMPLEMENTATION_ERROR,
    MAX_DEPTH_EXCEEDED,
    NOT_JSON,
    NOT_ONE_OF_OPTIONS,
    OUT_OF_BOUNDS_ARRAY_LENGTH,
    REQUIRED_PROPERTY_IS_MISSING,
    Violation,
    validate_document,
    validate_value,
)

_zipimport.install()

__all__ = [
    "annotate_value",
    "ADDITIONAL_PROP_FOUND_BUT_BANNED",
    "IMPLEMENTATION_ERROR",
    "MAX_DEPTH_EXCEEDED",
    "NOT_JSON",
    "NOT_ONE_OF_OPTIONS",
    "OUT_OF_BOUNDS_ARRAY_LENGTH",
    "REQUIRED_PROPERTY_IS_MISSING",
    "Violation",
    "validate_document",
    "validate_value",
]
