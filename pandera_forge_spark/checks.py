"""Constraint → Spark SQL text compiler.

Every SQL-expressible check renders to ONE string, ``check_sql``: the
predicate a row satisfies. ``compile_check`` and
``validator.violation_count_exprs`` both parse that text with a single
``F.expr`` call, and the predicate runs JVM-side inside whole-stage
codegen — never per-row Python (north rule / BASELINE.json
``input_hint``). The reference instead ``exec``s generated Pandera code
on a driver-side pandas frame (reference: validator.py:43-78) and skips
validation on Spark entirely (reference: spark/spark_generator.py:101-109);
this module is the core of that "driver one-shot → distributed
assertions" rewrite.

Why text rather than the Column API: under PySpark 4.1 every Column-API
node costs several py4j round trips (origin capture; ``F.col`` alone
costs 13), so building the violation-count aggregate of a 37-check
lineitem schema node by node took ~3.1k round trips (~0.24 s of driver
time per ``validate_table`` call). One ``F.expr`` costs 3, whatever the
length of the text. The profiler's fused aggregate and top-k tree and
the drift family's bin counts and statistics are rendered with the same
``sql_ident`` / ``sql_literal``.

Only ``custom_pandas`` — an Arrow pandas UDF over a Python callable —
stays a Column; it has no SQL text.
"""

from __future__ import annotations

import calendar
import datetime
import math
import re
import time
from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

from pandera_forge_spark.schema import Check

ROW_LEVEL_KINDS = (
    "not_null",
    "ge",
    "le",
    "isin",
    "str_matches",
    "min_length",
    "max_length",
    "starts_with",
    "ends_with",
    "custom_sql",
    "custom_pandas",
    "implies",
)
# "unique" is table-level (needs a shuffle) — handled by
# validator.duplicate_keys, not compiled here.

_INT32 = 2**31
_INT64 = 2**63
# where a string literal must break: a quote or a backslash reads
# differently under spark.sql.parser.escapedStringLiterals (so each goes
# in as chr()), and "${" is variable substitution, applied to F.expr text
# before parsing (so a "$" before "{" ends its literal)
_STRING_BREAKS = re.compile(r"(['\\]|\$(?=\{))")


def quote_ident(part: str) -> str:
    """One identifier part in backticks (an embedded backtick doubled)."""
    return "`" + part.replace("`", "``") + "`"


def sql_ident(name: str) -> str:
    """SQL text for a column reference written as ``F.col`` reads it: a
    dot separates nested fields, backticks quote a part and a doubled
    backtick inside them is a literal backtick (Spark's
    ``UnresolvedAttribute.parseAttributeName``). Every part comes out
    backticked, so spaces, keywords and dots inside a part are safe."""
    parts: list[str] = []
    buf = ""
    quoted = False
    i = 0
    while i < len(name):
        ch = name[i]
        if quoted:
            if ch != "`":
                buf += ch
            elif name[i + 1 : i + 2] == "`":
                buf += "`"
                i += 1
            else:
                quoted = False
                if name[i + 1 : i + 2] not in ("", "."):
                    raise ValueError(f"malformed column name {name!r}")
        elif ch == "`":
            if buf:
                raise ValueError(f"malformed column name {name!r}")
            quoted = True
        elif ch == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                raise ValueError(f"malformed column name {name!r}")
            parts.append(buf)
            buf = ""
        else:
            buf += ch
        i += 1
    if quoted:
        raise ValueError(f"malformed column name {name!r}")
    parts.append(buf)
    return ".".join(quote_ident(p) for p in parts)


def sql_literal(v) -> str:
    """SQL text that evaluates to the same value AND type as ``F.lit(v)``
    under any session time zone and with
    ``spark.sql.parser.escapedStringLiterals`` either way. Raises
    ``ValueError`` for a type it cannot render exactly."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        # py4j sends an int that fits 32 bits as Integer, else as Long
        if -_INT32 <= v < _INT32:
            return str(v)
        if -_INT64 <= v < _INT64:
            return f"{v}L"
        raise ValueError(f"integer {v} does not fit BIGINT")
    if isinstance(v, float):
        if math.isfinite(v):
            return f"{float.__repr__(v)}D"  # round-trips the double exactly
        name = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
        return f"CAST('{name}' AS DOUBLE)"
    if isinstance(v, Decimal):
        if not v.is_finite():
            raise ValueError(f"Decimal {v} has no SQL literal")
        return f"{v}BD"  # py4j builds the BigDecimal from the same str
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            from pyspark.sql.utils import is_timestamp_ntz_preferred

            if is_timestamp_ntz_preferred():
                return f"TIMESTAMP_NTZ'{v.isoformat(sep=' ')}'"
            # a naive datetime is local wall time of the Python process
            # (pyspark's DatetimeConverter), not the session time zone
            secs = time.mktime(v.timetuple())
        else:
            secs = calendar.timegm(v.utctimetuple())
        return f"TIMESTAMP_MICROS({int(secs) * 1_000_000 + v.microsecond}L)"
    if isinstance(v, datetime.date):
        return f"DATE'{v.isoformat()}'"
    if isinstance(v, str):
        pieces = [
            f"chr({ord(p)})" if p in ("'", "\\") else f"'{p}'"
            for p in _STRING_BREAKS.split(v)
            if p
        ]
        if not pieces:
            return "''"
        return pieces[0] if len(pieces) == 1 else f"concat({', '.join(pieces)})"
    raise ValueError(f"no exact SQL literal for a value of type {type(v).__name__}")


def check_sql(check: Check) -> str:
    """SQL text of the Boolean predicate that is true where a row
    SATISFIES ``check`` — the single definition of every SQL-expressible
    kind. Null semantics: for value checks, a null value passes (the
    separate not_null check owns null enforcement — mirroring pandera,
    where Field(ge=...) checks ignore NA and nullable controls NA).

    Raises ``ValueError`` naming the check for ``custom_pandas`` (a
    Python callable), a non-row-level kind, a malformed column name or
    a bound whose type has no exact SQL literal."""
    try:
        return _check_sql(check)
    except ValueError as e:
        raise ValueError(f"check {check.name!r}: {e}") from None


def _check_sql(check: Check) -> str:
    k, v = check.kind, check.value
    if k == "custom_sql":
        # arbitrary boolean SQL over the row; it owns its null semantics
        return f"({v})"
    if k == "implies":
        # conditional (cross-field) contract: WHEN holds → THEN must
        # hold. value = {"when": <bool SQL>, "then": <bool SQL>}; rows
        # where WHEN is false or null vacuously pass (standard
        # implication with SQL three-valued logic coalesced on the
        # antecedent). Serializes through the contract JSON as a plain
        # dict.
        return (
            f"NOT coalesce(({v['when']}), false) "
            f"OR coalesce(({v['then']}), false)"
        )
    if k == "custom_pandas":
        raise ValueError("custom_pandas is a pandas UDF and has no SQL text")
    if k not in ROW_LEVEL_KINDS:
        raise ValueError(f"not a row-level check kind: {k}")
    c = sql_ident(check.column)
    if k == "not_null":
        return f"{c} IS NOT NULL"
    s = f"CAST({c} AS STRING)"
    if k == "ge":
        test = f"{c} >= {sql_literal(v)}"
    elif k == "le":
        test = f"{c} <= {sql_literal(v)}"
    elif k == "isin":
        # a None member adds nothing (nulls already pass) and would turn
        # every non-member's verdict NULL, i.e. never a violation; an
        # empty list (``IN ()`` does not parse) admits no value
        members = [sql_literal(x) for x in v if x is not None]
        test = f"{c} IN ({', '.join(members)})" if members else "false"
    elif k == "str_matches":
        # pandas str.match(case=False) semantics via (?i) + the
        # patterns' own anchors (see patterns.py module docstring)
        test = f"{s} RLIKE {sql_literal('(?i)' + v)}"
    elif k == "min_length":
        test = f"length({s}) >= {sql_literal(v)}"
    elif k == "max_length":
        test = f"length({s}) <= {sql_literal(v)}"
    elif k == "starts_with":
        test = f"startswith({s}, {sql_literal(v)})"
    else:  # ends_with
        test = f"endswith({s}, {sql_literal(v)})"
    return f"{c} IS NULL OR {test}"


def compile_check(check: Check) -> Column:
    """Return a Boolean Column that is True where the row SATISFIES the
    check: ``check_sql`` parsed by one ``F.expr``."""
    if check.kind != "custom_pandas":
        return F.expr(check_sql(check))
    # the sanctioned escape hatch for semantics SQL can't express:
    # an Arrow-vectorized pandas UDF (Series -> bool Series), never
    # row-at-a-time Python (north_star: "constraint predicates
    # compile to Spark SQL expressions or vectorized pandas/Arrow
    # UDFs"). Null rows pass, mirroring the value checks.
    from pyspark.sql.functions import pandas_udf

    col = F.col(check.column)
    udf = pandas_udf(check.value, "boolean")
    return col.isNull() | F.coalesce(udf(col), F.lit(False))


def row_level(checks: list[Check]) -> list[Check]:
    return [c for c in checks if c.kind in ROW_LEVEL_KINDS]


def table_level(checks: list[Check]) -> list[Check]:
    return [c for c in checks if c.kind == "unique"]
