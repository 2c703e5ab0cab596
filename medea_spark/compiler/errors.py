"""Error taxonomy for the Medea-style schema compiler.

The reference mandates *programmatically distinguishable* unique error
conditions (reference: SPEC.md:27-37).  The reference's constructors:

* parse-time   — ParseError, 7 constructors  (src/Data/Medea/Parser/Types.hs:9-23)
* analysis     — AnalysisError, 15 constructors (src/Data/Medea/Analysis.hs:66-82)
* loader-level — LoaderError, 16 constructors (src/Data/Medea/Loader.hs:32-97)

We expose the same taxonomy as a Python exception hierarchy with stable
``.code`` strings.  Validation-time error codes (the ``failed_constraint``
vocabulary of violation rows) live in :mod:`medea_spark.kernel`.
"""

from __future__ import annotations


class MedeaError(Exception):
    """Base class for every compile-time Medea error."""

    code: str = "MEDEA_ERROR"

    def __init__(self, message: str = "", **context: object) -> None:
        self.context = context
        detail = f" ({context})" if context else ""
        super().__init__(f"{self.code}: {message}{detail}")


# ---------------------------------------------------------------------------
# Parse-time errors (reference: Parser/Types.hs ParseError + Loader.hs NotUtf8,
# ParsingFailed).  Any member of this class answers "is a parse error" the way
# test/TestM.hs:13-16 isParseError does.
# ---------------------------------------------------------------------------


class MedeaParseError(MedeaError):
    """Schema text failed to parse (reference LoaderError ParsingFailed)."""

    code = "PARSING_FAILED"

    def __init__(self, message: str = "", line: int | None = None, **ctx: object) -> None:
        self.line = line
        if line is not None:
            ctx["line"] = line
        super().__init__(message, **ctx)


class NotUtf8Error(MedeaParseError):
    """Schema file bytes are not valid UTF-8 (reference Loader.hs:125-126)."""

    code = "NOT_UTF8"


class IdentifierTooLongError(MedeaParseError):
    """Identifier exceeded 32 UTF-8 bytes (reference Primitive.hs:179-184)."""

    code = "IDENTIFIER_TOO_LONG"


class LeadingZeroError(MedeaParseError):
    """Natural number with a leading zero (reference Primitive.hs:154-160)."""

    code = "LEADING_ZERO"


class ConflictingSpecRequirementsError(MedeaParseError):
    """Incompatible requirements inside one specification
    (reference Spec/Array.hs:47-55, Spec/Object.hs:46-47)."""

    code = "CONFLICTING_SPEC_REQUIREMENTS"


class EmptyLengthArraySpecError(MedeaParseError):
    """Array specification with no content (reference Spec/Array.hs:44-46)."""

    code = "EMPTY_LENGTH_ARRAY_SPEC"


class EmptyArrayElementsError(MedeaParseError):
    """``$element-type`` without an element line (reference Spec/Array.hs:78-81)."""

    code = "EMPTY_ARRAY_ELEMENTS"


class EmptyStringValuesSpecError(MedeaParseError):
    """``$string-values`` with no string lines (reference Spec/String.hs:40-43)."""

    code = "EMPTY_STRING_VALUES_SPEC"


# ---------------------------------------------------------------------------
# Analysis errors (reference: Analysis.hs AnalysisError, with the LoaderError
# translation of Loader.hs:134-159 carried as .loader_code).  Any member of
# this class answers "is a schema error" the way test/TestM.hs:18-34 does.
# ---------------------------------------------------------------------------


class MedeaAnalysisError(MedeaError):
    """Schema parsed but failed semantic analysis."""

    code = "ANALYSIS_ERROR"
    loader_code = "ANALYSIS_ERROR"


class DuplicateSchemaNameError(MedeaAnalysisError):
    code = "DUPLICATE_SCHEMA_NAME"
    loader_code = "MULTIPLE_SCHEMA_DEFINITION"


class NoStartSchemaError(MedeaAnalysisError):
    code = "NO_START_SCHEMA"
    loader_code = "START_SCHEMA_MISSING"


class DanglingTypeReferenceError(MedeaAnalysisError):
    code = "DANGLING_TYPE_REFERENCE"
    loader_code = "MISSING_SCHEMA_DEFINITION"


class TypeRelationIsCyclicError(MedeaAnalysisError):
    code = "TYPE_RELATION_IS_CYCLIC"
    loader_code = "SELF_TYPING_SCHEMA"


class ReservedDefinedError(MedeaAnalysisError):
    code = "RESERVED_DEFINED"
    loader_code = "SCHEMA_NAME_RESERVED"


class DefinedButNotUsedError(MedeaAnalysisError):
    code = "DEFINED_BUT_NOT_USED"
    loader_code = "ISOLATED_SCHEMATA"


class MinMoreThanMaxError(MedeaAnalysisError):
    code = "MIN_MORE_THAN_MAX"
    loader_code = "MINIMUM_LENGTH_GREATER_THAN_MAXIMUM"


class DanglingTypeRefPropError(MedeaAnalysisError):
    code = "DANGLING_TYPE_REF_PROP"
    loader_code = "MISSING_PROP_SCHEMA_DEFINITION"


class DanglingTypeRefListError(MedeaAnalysisError):
    code = "DANGLING_TYPE_REF_LIST"
    loader_code = "MISSING_LIST_SCHEMA_DEFINITION"


class DanglingTypeRefTupleError(MedeaAnalysisError):
    code = "DANGLING_TYPE_REF_TUPLE"
    loader_code = "MISSING_TUPLE_SCHEMA_DEFINITION"


class DuplicatePropNameError(MedeaAnalysisError):
    code = "DUPLICATE_PROP_NAME"
    loader_code = "MULTIPLE_PROP_SCHEMA_DEFINITION"


class PropertyWithoutObjectError(MedeaAnalysisError):
    code = "PROPERTY_WITHOUT_OBJECT"
    loader_code = "PROPERTY_SPEC_WITHOUT_OBJECT_TYPE"


class ListWithoutArrayError(MedeaAnalysisError):
    code = "LIST_WITHOUT_ARRAY"
    loader_code = "LIST_SPEC_WITHOUT_ARRAY_TYPE"


class TupleWithoutArrayError(MedeaAnalysisError):
    code = "TUPLE_WITHOUT_ARRAY"
    loader_code = "TUPLE_SPEC_WITHOUT_ARRAY_TYPE"


class StringValsWithoutStringError(MedeaAnalysisError):
    code = "STRING_VALS_WITHOUT_STRING"
    loader_code = "STRING_SPEC_WITHOUT_STRING_TYPE"
