"""Parity of the SQL-text check renderer (checks.check_sql / sql_literal /
sql_ident) with the Column API it replaced, plus a guard on the driver
round trips it exists to save.

Every literal must select to the same value and type as ``F.lit`` and
every check kind must count exactly the violations a plain-Python
evaluation of its documented semantics counts — under a non-UTC session
time zone, with ``spark.sql.parser.escapedStringLiterals`` both ways and
with TIMESTAMP_NTZ as the session's timestamp type."""

import datetime as dt
import math
import re
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandera_forge_spark.checks import (
    ROW_LEVEL_KINDS,
    check_sql,
    compile_check,
    sql_ident,
    sql_literal,
)
from pandera_forge_spark.schema import Check, TableSchema
from pandera_forge_spark.validator import validate_table, violation_count_exprs

UTC5 = dt.timezone(dt.timedelta(hours=5, minutes=30))

# one column per literal type, several under names that need quoting;
# ``ref`` is the column as F.col / Check.column spell it
COLUMNS = {
    "i32": dict(ref="`a b`", type=T.IntegerType()),
    "i64": dict(ref="i64", type=T.LongType()),
    "f64": dict(ref="st.f", type=T.DoubleType()),  # nested struct field
    "dec": dict(ref="dec", type=T.DecimalType(25, 5)),
    "day": dict(ref="`q``t`", type=T.DateType()),  # embedded backtick
    "ts": dict(ref="ts", type=T.TimestampType()),
    "str": dict(ref="`x.y`", type=T.StringType()),  # backticked dotted name
}

DATA = {
    "i32": [-(2**31), -1, 0, 7, 2**31 - 1, None],
    "i64": [-(2**62), -1, 0, 2**31, 2**40, None],
    "f64": [float("-inf"), -1.5, -0.0, 0.0, 1e-05, 2.5, float("inf"), float("nan"), None],
    "dec": [Decimal("-12345678901234567890.12345"), Decimal("-0.00100"), Decimal("1.50000"),
            Decimal("100.00000"), None],
    "day": [dt.date(1999, 12, 31), dt.date(2024, 2, 29), dt.date(2024, 3, 10), None],
    "ts": [dt.datetime(2024, 3, 10, 2, 30, 0, 123456), dt.datetime(2024, 1, 1),
           dt.datetime(2024, 11, 3, 1, 30), None],
    "str": ["", "plain", "it's", "back\\slash", "a\\'b", "^a.b*[c]+(d|e)?$",
            "héllo ✓ 日本語", "${env:HOME}", "ABC", "x\ny", None],
}

# literal values per type: bounds for ge/le, members for isin
LITERALS = {
    "i32": [-(2**31), 0, 7, 2**31 - 1],
    "i64": [2**31, -(2**31) - 1, 2**40, -(2**63), 2**63 - 1],
    "f64": [0.0, -0.0, 1e-05, 1e16, 5e-324, 1.7976931348623157e308,
            float("nan"), float("inf"), float("-inf")],
    "dec": [Decimal("1.50"), Decimal("-0.00100"), Decimal("1E+2"),
            Decimal("12345678901234567890.123")],
    "day": [dt.date(2024, 2, 29), dt.date(1999, 12, 31)],
    "ts": [dt.datetime(2024, 3, 10, 2, 30, 0, 123456), dt.datetime(2024, 6, 1),
           dt.datetime(2024, 1, 1, 5, 30, tzinfo=UTC5)],
    "str": ["", "plain", "it's", "back\\slash", "a\\'b", "^a.b*[c]+(d|e)?$",
            "héllo ✓", "${env:HOME}", "$x", "x\ny"],
}

# patterns valid with the same meaning in Java and Python regex
PATTERNS = [r"^a\.b", r"^[a-z]+$", "'s$", r"\\", r"(it|x)'", "✓ 日本", r"^\$\{", "^$"]

CONFS = [
    {"spark.sql.session.timeZone": "America/New_York",
     "spark.sql.parser.escapedStringLiterals": "false"},
    {"spark.sql.session.timeZone": "Asia/Kolkata",
     "spark.sql.parser.escapedStringLiterals": "true"},
    {"spark.sql.session.timeZone": "America/New_York",
     "spark.sql.timestampType": "TIMESTAMP_NTZ"},
]


@pytest.fixture(params=CONFS, ids=["ny", "escaped-literals", "timestamp-ntz"])
def conf(spark, request):
    old = {k: spark.conf.get(k, None) for k in request.param}
    for k, v in request.param.items():
        spark.conf.set(k, v)
    try:
        yield request.param
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _all_literals():
    vals = [v for vs in LITERALS.values() for v in vs] + PATTERNS
    return vals + [None, True, False, "(?i)" + PATTERNS[0], np.float64(0.1)]


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return type(a) is type(b) and a == b and str(a) == str(b)


def test_sql_literal_selects_like_f_lit(spark, conf):
    vals = _all_literals()
    cols = []
    for i, v in enumerate(vals):
        cols += [F.expr(sql_literal(v)).alias(f"s{i}"), F.lit(v).alias(f"l{i}")]
    frame = spark.range(1).select(*cols)
    types = {f.name: f.dataType for f in frame.schema.fields}
    row = frame.collect()[0]
    for i, v in enumerate(vals):
        assert types[f"s{i}"] == types[f"l{i}"], (v, sql_literal(v))
        assert _same(row[f"s{i}"], row[f"l{i}"]), (v, sql_literal(v))


@pytest.mark.parametrize(
    "v", [2**63, Decimal("NaN"), Decimal("Infinity"), b"raw", [1], dt.timedelta(1)]
)
def test_sql_literal_rejects_what_it_cannot_render(v):
    with pytest.raises(ValueError, match="BIGINT|Decimal|type"):
        sql_literal(v)


def test_check_sql_names_check_and_type():
    with pytest.raises(ValueError, match=r"'v__ge'.*bytes"):
        check_sql(Check("v", "ge", b"\x00"))
    with pytest.raises(ValueError, match=r"'w__custom_pandas'.*pandas UDF"):
        check_sql(Check("w", "custom_pandas", lambda s: s > 0))
    with pytest.raises(ValueError, match="not a row-level check kind"):
        check_sql(Check("v", "unique"))
    with pytest.raises(ValueError, match="malformed column name"):
        check_sql(Check("a`b", "not_null"))


@pytest.mark.parametrize(
    "name, sql",
    [
        ("a", "`a`"),
        ("a b", "`a b`"),
        ("a.b", "`a`.`b`"),
        ("`a.b`", "`a.b`"),
        ("`q``t`", "`q``t`"),
        ("`a.b`.c", "`a.b`.`c`"),
        ("select", "`select`"),
    ],
)
def test_sql_ident_reads_names_like_f_col(name, sql):
    assert sql_ident(name) == sql


@pytest.mark.parametrize("name", ["a`b", "`a", "a..b", ".a", "a.", "`a`b"])
def test_sql_ident_rejects_malformed_names(name):
    with pytest.raises(ValueError, match="malformed"):
        sql_ident(name)


# ------------------------------------------------- counts vs Python


def _key(x):
    """Spark's ordering of one value: NaN above every double, -0.0 == 0.0,
    naive and aware datetimes as instants."""
    if isinstance(x, float) and math.isnan(x):
        return (1, 0)
    if isinstance(x, dt.datetime):
        return (0, x.timestamp())
    return (0, x)


def _satisfies(kind, value, x):
    """Documented semantics of each kind, evaluated in Python."""
    if kind == "not_null":
        return x is not None
    if x is None:
        return True
    if kind == "ge":
        return _key(x) >= _key(value)
    if kind == "le":
        return _key(x) <= _key(value)
    if kind == "isin":
        return any(_key(x) == _key(m) for m in value if m is not None)
    if kind == "str_matches":
        return re.search("(?i)" + value, x) is not None
    if kind == "min_length":
        return _key(float(len(x))) >= _key(value) if isinstance(value, float) else len(x) >= value
    if kind == "max_length":
        return _key(float(len(x))) <= _key(value) if isinstance(value, float) else len(x) <= value
    if kind == "starts_with":
        return x.startswith(value)
    if kind == "ends_with":
        return x.endswith(value)
    raise AssertionError(kind)


def _frame(spark):
    fields = []
    for key, spec in COLUMNS.items():
        if key == "f64":
            fields.append(T.StructField("st", T.StructType([T.StructField("f", spec["type"])])))
        else:
            fields.append(T.StructField(spec["ref"].strip("`").replace("``", "`"), spec["type"]))
    n = max(len(v) for v in DATA.values())
    rows = [{k: vs[i % len(vs)] for k, vs in DATA.items()} for i in range(n)]
    tuples = [
        tuple((r[k],) if k == "f64" else r[k] for k in COLUMNS) for r in rows
    ]
    return spark.createDataFrame(tuples, T.StructType(fields)), rows


def _cases():
    """(check, python predicate) for every row-level kind crossed with
    every literal type it takes."""
    out = []

    def add(key, kind, value, pred=None):
        label = f"{COLUMNS[key]['ref']}__{kind}__{len(out)}"
        check = Check(COLUMNS[key]["ref"], kind, value, label=label)
        out.append((check, key, pred or (lambda x, k=kind, v=value: _satisfies(k, v, x))))

    for key, lits in LITERALS.items():
        add(key, "not_null", None)
        for v in lits:
            add(key, "ge", v)
            add(key, "le", v)
            lit = sql_literal(v)
            c = sql_ident(COLUMNS[key]["ref"])
            # custom SQL built from the literal: NULL <> v is NULL, so a
            # null row never violates
            add(key, "custom_sql", f"{c} <> {lit}",
                lambda x, v=v: x is None or _key(x) != _key(v))
            add(key, "implies", {"when": f"{c} = {lit}", "then": f"{c} IS NULL"},
                lambda x, v=v: x is None or _key(x) != _key(v))
        add(key, "isin", list(lits))
        add(key, "isin", [lits[0], None])  # a None member adds nothing
        add(key, "isin", [None])
        add(key, "isin", [])  # IN () does not parse
    for v in LITERALS["str"] + PATTERNS:
        add("str", "starts_with", v)
        add("str", "ends_with", v)
    for p in PATTERNS:
        add("str", "str_matches", p)
    for n in LITERALS["i32"] + LITERALS["i64"] + [2.5, float("nan"), float("-inf"), Decimal("3.5")]:
        add("str", "min_length", n)
        add("str", "max_length", n)
    return out


# a TIMESTAMP_NTZ literal against a TIMESTAMP column is read in the
# session time zone, which the Python side does not model
@pytest.mark.parametrize("conf", CONFS[:2], indirect=True, ids=["ny", "escaped-literals"])
def test_violation_counts_match_python(spark, conf):
    df, rows = _frame(spark)
    cases = _cases()
    assert {c.kind for c, _, _ in cases} == set(ROW_LEVEL_KINDS) - {"custom_pandas"}
    pandas_check = Check("i64", "custom_pandas", lambda s: s % 2 == 0, label="i64 even")
    checks = [c for c, _, _ in cases] + [pandas_check]
    expected = {
        c.name: sum(not pred(r[key]) for r in rows) for c, key, pred in cases
    }
    expected["i64 even"] = sum(r["i64"] is not None and r["i64"] % 2 != 0 for r in rows)

    res = validate_table(df, TableSchema("T", extra_checks=checks), check_unique=False)
    assert res.counts == expected
    assert res.total_rows == len(rows)

    # compile_check parses the same text: one more aggregate over it
    got = df.agg(
        *[F.sum((~compile_check(c)).cast("long")).alias(f"k{i}") for i, c in enumerate(checks)]
    ).collect()[0]
    assert {c.name: got[f"k{i}"] or 0 for i, c in enumerate(checks)} == expected


# ------------------------------------------------- driver round trips


def _lineitem_checks():
    """The 37 row-level checks inferred from the test data's sf0.01
    TPC-H ``lineitem``."""
    bounds = {
        "l_orderkey": (0, 14999), "l_partkey": (0, 1999), "l_suppkey": (0, 99),
        "l_linenumber": (1, 7), "l_quantity": (1.0, 50.0),
        "l_extendedprice": (901.82, 104997.88), "l_discount": (0.0, 0.1),
        "l_tax": (0.0, 0.08),
    }
    out = []
    for col, (lo, hi) in bounds.items():
        out += [Check(col, "not_null"), Check(col, "ge", lo), Check(col, "le", hi)]
    out += [
        Check("l_linenumber", "isin", [6, 5, 7, 1, 2, 3, 4]),
        Check("l_tax", "isin", [0.05, 0.01, 0.07, 0.03, 0.02, 0.06, 0.04, 0.0, 0.08]),
    ]
    for col, members in {"l_returnflag": ["R", "A", "N"], "l_linestatus": ["O", "F"]}.items():
        out += [
            Check(col, "not_null"), Check(col, "isin", members),
            Check(col, "str_matches", "^[a-zA-Z0-9]+$"),
            Check(col, "min_length", 1), Check(col, "max_length", 1),
        ]
    return out + [Check("l_shipdate", "not_null")]


def test_violation_count_exprs_round_trips_per_check(spark, py4j_commands):
    """Building the violation-count aggregate of the lineitem schema costs
    at most 5 py4j commands per check (a Column tree built node by node
    cost ~85: every Column-API node pays for origin capture)."""
    checks = _lineitem_checks()
    assert len(checks) == 37

    with py4j_commands() as sent:
        exprs = violation_count_exprs(checks)
    assert len(exprs) == 37
    assert len(sent) <= 5 * len(checks), len(sent)
