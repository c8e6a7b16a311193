"""Named string patterns and distributed pattern detection.

The 17 named regexes and their precedence order are the reference's
observable contract (reference: pattern_detector.py:26-46); detection
fires when >= 90% of non-null stringified values match, first pattern in
declared order wins (reference: pattern_detector.py:48-80, threshold at
:50). The reference evaluates them with pandas ``str.match(..,
case=False)`` on a driver-side sample; this engine evaluates ALL
patterns for ALL string columns distributed, in the single profiling
pass, as ``avg(rlike('(?i)' + pattern))`` expressions. pandas
``str.match`` anchors at the string start and is case-insensitive;
``rlike`` is an unanchored search, so the ``(?i)`` prefix plus the
patterns' own ``^`` anchors reproduce the semantics exactly.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Iterable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from pandera_forge_spark.checks import quote_ident, sql_ident, sql_literal

# Ordered most-specific → least-specific; order is load-bearing
# (first >= threshold match wins, reference: pattern_detector.py:69-75).
NAMED_PATTERNS: dict[str, str] = {
    "email": r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$",
    "url": r"^https?://[^\s/$.?#].[^\s]*$",
    "uuid": r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$",
    "ipv4": r"^(?:[0-9]{1,3}\.){3}[0-9]{1,3}$",
    "date_iso": r"^\d{4}-\d{2}-\d{2}$",
    "time_24h": r"^([01]?[0-9]|2[0-3]):[0-5][0-9](:[0-5][0-9])?$",
    "ssn": r"^\d{3}-\d{2}-\d{4}$",
    "credit_card": r"^\d{4}[\s-]?\d{4}[\s-]?\d{4}[\s-]?\d{4}$",
    "phone_us": r"^\+?1?\d{10,14}$",
    "hex_color": r"^#([A-Fa-f0-9]{6}|[A-Fa-f0-9]{3})$",
    "mac_address": r"^([0-9A-Fa-f]{2}[:-]){5}([0-9A-Fa-f]{2})$",
    "json": r"^\{.*\}$|^\[.*\]$",
    "numeric_string": r"^\d+$",
    "postal_code_us": r"^\d{5}(-\d{4})?$",
    "alphanumeric": r"^[a-zA-Z0-9]+$",
    "alpha_only": r"^[a-zA-Z]+$",
    "slug": r"^[a-z0-9]+(?:-[a-z0-9]+)*$",
}

MIN_MATCH_RATIO = 0.9  # reference: pattern_detector.py:50
PREFIX_SUFFIX_PROBE = 3  # first/last 3 chars (reference: pattern_detector.py:117,124)
CUSTOM_REGEX_SAMPLE = 100  # reference: pattern_detector.py:133
CUSTOM_REGEX_CONSENSUS = 0.8  # reference: pattern_detector.py:184


def match_ratio_expr(col: Column, pattern: str) -> Column:
    """Fraction of non-null values of ``col`` matching ``pattern``,
    case-insensitively and anchored like pandas ``str.match``.

    avg() ignores nulls, so null rows are excluded from the denominator —
    matching the reference's ``dropna()`` (pattern_detector.py:63).
    """
    s = col.cast("string")
    return F.avg(s.rlike("(?i)" + pattern).cast("double"))


def pattern_ratio_exprs(colname: str) -> list[Column]:
    """All 17 named-pattern ratio aggregates for the string column
    ``colname`` (a name as ``F.col`` reads it), aliased
    ``{colname}__pat__{pattern_name}`` for the fused agg pass. Each is
    ``match_ratio_expr``'s aggregate as SQL text under one ``F.expr``."""
    s = f"CAST({sql_ident(colname)} AS STRING)"
    return [
        F.expr(
            f"avg(CAST({s} RLIKE {sql_literal('(?i)' + rx)} AS DOUBLE)) "
            f"AS {quote_ident(f'{colname}__pat__{name}')}"
        )
        for name, rx in NAMED_PATTERNS.items()
    ]


def pick_pattern(ratios: dict[str, Optional[float]]) -> Optional[tuple[str, str]]:
    """Given {pattern_name: ratio}, apply the reference's decision rule:
    iterate in NAMED_PATTERNS order, first ratio >= 0.9 wins."""
    for name in NAMED_PATTERNS:
        r = ratios.get(name)
        if r is not None and r >= MIN_MATCH_RATIO:
            return name, NAMED_PATTERNS[name]
    return None


def detect_pattern_pandas(values: Iterable, min_match_ratio: float = MIN_MATCH_RATIO):
    """Driver-side pattern detection over an in-memory iterable — used by
    unit tests for parity with the reference's pandas path
    (reference: pattern_detector.py:48-80)."""
    vals = [str(v) for v in values if v is not None]
    if not vals:
        return None
    for name, rx in NAMED_PATTERNS.items():
        cre = re.compile(rx, re.IGNORECASE)
        hits = sum(1 for v in vals if cre.match(v))
        if hits / len(vals) >= min_match_ratio:
            return name, rx
    return None


def _char_class(ch: str) -> str:
    if ch.isdigit():
        return r"\d"
    if ch.isalpha():
        return "[A-Z]" if ch.isupper() else "[a-z]"
    if ch in ".-_":
        return "\\" + ch
    if ch == " ":
        return r"\s"
    return re.escape(ch)


def induce_custom_regex(
    values: Iterable,
    sample_size: int = CUSTOM_REGEX_SAMPLE,
    consensus: float = CUSTOM_REGEX_CONSENSUS,
) -> Optional[str]:
    """Character-class regex induction over a small collected sample.

    Per-character mapping digit→\\d, upper→[A-Z], lower→[a-z], ``.-_`` →
    escaped, space→\\s, else re.escape; returns the most common induced
    pattern iff >= 80% of sampled values share it
    (reference: pattern_detector.py:133-187). Deliberately driver-side:
    the reference caps the sample at 100 values, so a distributed
    rewrite buys nothing (SURVEY.md §2.8 F6).
    """
    vals = [str(v) for v in values if v is not None][:sample_size]
    shapes = ["".join(_char_class(c) for c in v) for v in vals if v]
    if not shapes:
        return None
    shape, n = Counter(shapes).most_common(1)[0]
    if n / len(shapes) >= consensus:
        return "^" + shape + "$"
    return None
