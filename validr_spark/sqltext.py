"""Spark SQL text for validation plans.

The compiler builds every output column and the violations array as SQL
expression TEXT and hands each to the JVM once (``F.expr``).  Building
the same expressions through the pyspark Column API costs one or more py4j
round trips per node — thousands per plan (PERF.md Finding 19); building
text costs none.

Each helper here returns text that parses to the Catalyst expression
the matching ``pyspark.sql.functions`` call builds (same literal types,
same ``UnresolvedExtractValue`` field access, same typed nulls); literals
written through a cast fold to the same constants, so the optimized plan
— and with it whole-stage codegen — is unchanged.

Rules that can only be expressed as a pyspark ``Column`` (pandas UDFs,
custom Column-API builders) are evaluated in a pre-projection: see
:func:`precompute`.
"""

from __future__ import annotations

import itertools
import math
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable

from pyspark.sql import types as st

from .errors import SchemaError

__all__ = ["q", "colref", "lit", "sql_type", "or_", "and_", "not_", "cast",
           "lam", "typed_null", "building", "precompute"]


def q(name: str) -> str:
    """Backquoted identifier (a column or field name taken verbatim)."""
    return "`" + name.replace("`", "``") + "`"


def colref(name: str) -> str:
    """Column (or lambda variable) reference as an expression operand.

    Parenthesized because ``f(x)`` with a bare identifier ``x`` also reads
    as column ``f`` with the alias list ``(x)`` (``SELECT f (x)``): the SQL
    parser's context-free prediction cannot settle that until the end of
    the enclosing argument list, and on nested validation plans the
    cached prediction states grow to tens of thousands.  ``(x)`` parses
    to the same attribute."""
    return f"({q(name)})"


def _str_lit(s: str) -> str:
    # '\' and "'" would need backslash escapes, whose meaning depends on
    # spark.sql.parser.escapedStringLiterals; a UTF-8 hex literal cast to
    # STRING means the same under either setting and folds to a plain
    # string literal in the optimizer.
    if "\\" in s or "'" in s:
        return f"`string`(X'{s.encode('utf-8').hex().upper()}')"
    return f"'{s}'"


def _double_lit(x: float) -> str:
    # repr() round-trips; the parser reads '<digits>D' through BigDecimal,
    # which has no -0.0 and no non-finite values: those go through a cast
    # (folded to the same double literal)
    if math.isfinite(x) and math.copysign(1.0, x) > 0:
        return f"{x!r}D"
    if math.isfinite(x) and x != 0.0:
        return f"({x!r}D)"
    return f"`double`('{x!r}')"   # '-0.0', 'inf', '-inf', 'nan'


def lit(v) -> str:
    """SQL literal typed as ``F.lit(v)`` types it: a Python int is INT,
    BIGINT or DECIMAL by magnitude (as py4j sends it), a float is DOUBLE
    (never DECIMAL), a list is ``array(...)``."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v) if v >= 0 else f"({v})"
    if isinstance(v, float):
        return _double_lit(v)
    if isinstance(v, str):
        return _str_lit(v)
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(lit(x) for x in v) + ")"
    raise SchemaError(f"unsupported literal {v!r} in a validation plan")


def sql_type(dt: st.DataType) -> str:
    """DDL text for a Spark data type (struct field names quoted)."""
    if isinstance(dt, st.StructType):
        return "STRUCT<" + ", ".join(
            f"{q(f.name)}: {sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL") for f in dt.fields) + ">"
    if isinstance(dt, st.ArrayType):
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, st.MapType):
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()


# Operators as function calls.  A bare '(' makes the SQL parser scan to the
# matching ')' before it can tell a parenthesized expression from a row
# constructor or a lambda, and CAST( makes it scan to AS before it can tell
# the cast from a function call named cast: on nested validation plans
# that look-ahead runs through whole subtrees.  The registry functions
# below build the same And/Or/Not/Cast expressions.
_CAST_FUNCS = {"STRING": "string", "INT": "int", "BIGINT": "bigint",
               "DOUBLE": "double"}


def or_(*xs: str) -> str:
    """``xs[0] | xs[1] | ...`` (left-nested, as the Column operator)."""
    out = xs[0]
    for x in xs[1:]:
        out = f"`or`({out}, {x})"
    return out


def and_(*xs: str) -> str:
    """``xs[0] & xs[1] & ...`` (left-nested, as the Column operator)."""
    out = xs[0]
    for x in xs[1:]:
        out = f"`and`({out}, {x})"
    return out


def not_(x: str) -> str:
    """``~x``."""
    return f"`not`({x})"


def cast(x: str, type_sql: str) -> str:
    """``Column.cast(type)``."""
    fn = _CAST_FUNCS.get(type_sql)
    return f"`{fn}`({x})" if fn else f"CAST({x} AS {type_sql})"


def typed_null(dt: st.DataType) -> str:
    """``F.lit(None).cast(dt)``."""
    return f"CAST(NULL AS {sql_type(dt)})"


# ---------------------------------------------------------------------------
# build context: lambda scopes and the Column pre-projection
# ---------------------------------------------------------------------------

class _Build:
    def __init__(self):
        self.pre: dict = {}          # key -> (name, Column)
        self.lambda_depth = 0

    def columns(self) -> dict:
        """The pre-projection, ``{name: Column}``, in build order."""
        return dict(self.pre.values())


_BUILD: ContextVar[_Build | None] = ContextVar("validr_spark_sql_build",
                                               default=None)
_LAMBDA_IDS = itertools.count()


@contextmanager
def building():
    """Scope of one plan build.  Yields the build context; after the text
    is built, ``ctx.columns()`` is the pre-projection it refers to."""
    ctx = _Build()
    token = _BUILD.set(ctx)
    try:
        yield ctx
    finally:
        _BUILD.reset(token)


def lam(body: Callable[..., str], nargs: int = 1) -> str:
    """Lambda argument of a higher-order function: ``x -> body(x)``.
    Variable names are fresh per lambda, so nested lambdas never shadow."""
    names = [f"__vs_x{next(_LAMBDA_IDS)}" for _ in range(nargs)]
    ctx = _BUILD.get()
    if ctx is not None:
        ctx.lambda_depth += 1
    try:
        text = body(*[f"({n})" for n in names])
    finally:
        if ctx is not None:
            ctx.lambda_depth -= 1
    args = names[0] if nargs == 1 else "(" + ", ".join(names) + ")"
    return f"{args} -> {text}"


def precompute(key, make: Callable[[], "object"], what: str) -> str:
    """Name of a pre-projected column holding ``make()`` (a pyspark Column,
    built at most once per ``key`` in this plan).  The Column must be
    computable from the plan's input row, so this is refused inside an
    element lambda (list items, map entries), where Catalyst cannot
    evaluate UDFs or splice in foreign expressions."""
    ctx = _BUILD.get()
    if ctx is None:
        raise SchemaError(f"{what}: no validation plan is being built")
    if ctx.lambda_depth:
        raise SchemaError(
            f"{what} cannot be evaluated per element of a list or map: it "
            "is built on a Python UDF or the pyspark Column API, which "
            "Catalyst lambda functions cannot run")
    if key not in ctx.pre:
        ctx.pre[key] = (f"__vs_pre{len(ctx.pre)}", make())
    return colref(ctx.pre[key][0])
