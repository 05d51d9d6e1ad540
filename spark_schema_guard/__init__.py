"""spark-schema-guard: a PySpark-native schema + constraint validation engine.

Public API (driver-side):

* :func:`compile` / :func:`validate` — row-level validator with the
  reference library's call signature (fastjsonschema ``__init__.py:135-290``),
  compiled once into Python closures (no exec, no codegen).
* :func:`compile_plan` — schema → columnar :class:`ValidationPlan` of Spark
  SQL rule expressions; ``plan.apply(df)`` adds ``verdict`` and ``violations``
  columns evaluated JVM-side by whole-stage codegen.
* :mod:`spark_schema_guard.operators` — table-level constraint operators:
  column stats, salted uniqueness, referential integrity, distribution
  drift, dedup / similarity / text-analysis pipeline operators.
"""

from .exceptions import (
    JsonSchemaDefinitionException,
    JsonSchemaException,
    JsonSchemaValueException,
    JsonSchemaValuesException,
    SchemaDefinitionError,
    SchemaError,
    ValidationError,
    ValidationErrors,
)
from .rowcheck import RowValidator, compile_row_validator

VERSION = "0.1.0"
__version__ = VERSION


def compile(  # noqa: A001 - API parity with the reference
    definition,
    handlers: dict | None = None,
    formats: dict | None = None,
    use_default: bool = True,
    use_formats: bool = True,
    detailed_exceptions: bool = True,
    fast_fail: bool = True,
) -> RowValidator:
    """Compile a JSON-Schema definition into a reusable row validator."""
    return compile_row_validator(
        definition,
        handlers=handlers,
        formats=formats,
        use_default=use_default,
        use_formats=use_formats,
        detailed_exceptions=detailed_exceptions,
        fast_fail=fast_fail,
    )


def validate(definition, data, **kwargs):
    """One-shot compile + validate (reference ``validate`` parity)."""
    return compile(definition, **kwargs)(data)


def compile_plan(definition, df_schema=None, **options):
    """Compile a schema into a columnar :class:`ValidationPlan` (lazy import
    so driver-side row validation works without a SparkSession)."""
    from .columnar import compile_plan as _compile_plan

    return _compile_plan(definition, df_schema=df_schema, **options)


def load_plan(path_or_spec, df_schema=None, **kwargs):
    """Rebuild a saved plan spec (see ``ValidationPlan.save``) — the
    compile_to_code load path (reference tests/test_compile_to_code.py)."""
    from .columnar import load_plan as _load_plan

    return _load_plan(path_or_spec, df_schema=df_schema, **kwargs)


__all__ = [
    "VERSION",
    "JsonSchemaException",
    "JsonSchemaValueException",
    "JsonSchemaValuesException",
    "JsonSchemaDefinitionException",
    "SchemaError",
    "SchemaDefinitionError",
    "ValidationError",
    "ValidationErrors",
    "RowValidator",
    "compile",
    "validate",
    "compile_plan",
    "load_plan",
    "compile_row_validator",
]
