"""Typed IR for profiles, constraints and table schemas.

The reference keeps profiling results in an untyped dict plus a rendered
code string (reference: core/base_field_analyzer.py:13-31,
code_generator.py:14-91). This engine introduces a proper IR so that
constraints can be compiled to Spark SQL expressions (checks.py) and
rendered to Pandera source (codegen.py) from the same object.
"""

from __future__ import annotations

import datetime
import json
from dataclasses import asdict, dataclass, field
from decimal import Decimal
from typing import Any, Optional


@dataclass
class StringConstraints:
    """String-column constraints.

    Mirrors the reference's pydantic StringConstraints
    (reference: pattern_detector.py:12-20).
    """

    min_length: Optional[int] = None
    max_length: Optional[int] = None
    pattern: Optional[str] = None
    pattern_name: Optional[str] = None
    starts_with: Optional[str] = None
    ends_with: Optional[str] = None
    contains: Optional[list] = None

    def is_empty(self) -> bool:
        return all(
            getattr(self, f) is None
            for f in (
                "min_length",
                "max_length",
                "pattern",
                "pattern_name",
                "starts_with",
                "ends_with",
                "contains",
            )
        )


@dataclass
class ColumnProfile:
    """Per-column statistics from one profiling pass.

    Field meanings follow the reference's properties dict
    (reference: field_analyzer.py:14-61, spark/spark_field_analyzer.py:22-75)
    plus engine extensions (approx_distinct via HLL, length bounds,
    pattern ratios computed distributed instead of on a driver sample).
    """

    name: str
    spark_type: str  # simpleString() of the Spark type
    total_count: int = 0
    null_count: int = 0
    distinct_count: Optional[int] = None  # exact when exact=True, else HLL estimate
    distinct_is_exact: bool = True
    # set by the candidate-then-verify path (profile_table "auto"):
    # an exact duplicate-existence check confirmed/refuted uniqueness
    # without materializing the full distinct set
    unique_verified: Optional[bool] = None
    min_value: Any = None
    max_value: Any = None
    mean: Optional[float] = None
    stddev: Optional[float] = None
    min_length: Optional[int] = None
    max_length: Optional[int] = None
    examples: list = field(default_factory=list)  # top values, count desc / value asc
    pattern_name: Optional[str] = None
    pattern: Optional[str] = None
    starts_with: Optional[str] = None
    ends_with: Optional[str] = None

    @property
    def is_nullable(self) -> bool:
        """Any null present (reference: field_analyzer.py:45)."""
        return self.null_count > 0

    @property
    def is_unique(self) -> bool:
        """distinct == rows AND no nulls — nulls break uniqueness even when
        non-null values are all distinct (reference: field_analyzer.py:34-38,
        spark/spark_field_analyzer.py:45).

        An HLL estimate NEVER drives a uniqueness claim: either the
        distinct count is exact, or the candidate-then-verify pass set
        ``unique_verified`` from an exact duplicate-existence check."""
        if self.unique_verified is not None:
            return self.unique_verified and self.null_count == 0
        return (
            self.distinct_is_exact
            and self.distinct_count is not None
            and self.distinct_count == self.total_count
            and self.null_count == 0
        )


# Check kinds understood by the compiler in checks.py.
CHECK_KINDS = (
    "not_null",
    "unique",
    "ge",
    "le",
    "isin",
    "str_matches",
    "min_length",
    "max_length",
    "starts_with",
    "ends_with",
    "dtype",
    "custom_sql",  # value = boolean SQL expression string (JVM-side)
    "custom_pandas",  # value = pd.Series -> bool pd.Series callable (Arrow)
    "implies",  # value = {"when": <bool SQL>, "then": <bool SQL>} implication
)


@dataclass
class Check:
    """One executable constraint on a column.

    ``kind`` is one of CHECK_KINDS; ``value`` its parameter (bound for
    ge/le, list for isin, regex for str_matches, ...). Rendered to
    Spark SQL text by checks.check_sql (``custom_pandas``: a pandas UDF
    Column by checks.compile_check).
    """

    column: str
    kind: str
    value: Any = None
    label: Optional[str] = None  # disambiguates multiple custom checks

    @property
    def name(self) -> str:
        return self.label or f"{self.column}__{self.kind}"


@dataclass
class ColumnSpec:
    """Declarative spec for one column — the analogue of one generated
    Pandera ``Field(...)`` line (reference: code_generator.py:14-91)."""

    name: str  # original column name in the data
    sanitized_name: str  # valid python identifier
    name_was_valid: bool
    spark_type: str
    pandera_type: Optional[str]  # e.g. "Int64"; None if unmappable (skipped)
    nullable: bool = False
    unique: bool = False
    ge: Any = None
    le: Any = None
    isin: Optional[list] = None
    string_constraints: Optional[StringConstraints] = None
    examples: list = field(default_factory=list)
    distinct_count: Optional[int] = None  # feeds the stats field comment
    description: Optional[str] = None

    def checks(self) -> list[Check]:
        """Materialize the executable checks implied by this spec."""
        out: list[Check] = []
        if not self.nullable:
            out.append(Check(self.name, "not_null"))
        if self.unique:
            out.append(Check(self.name, "unique"))
        if self.ge is not None:
            out.append(Check(self.name, "ge", self.ge))
        if self.le is not None:
            out.append(Check(self.name, "le", self.le))
        if self.isin is not None:
            out.append(Check(self.name, "isin", self.isin))
        sc = self.string_constraints
        if sc is not None:
            if sc.pattern is not None:
                out.append(Check(self.name, "str_matches", sc.pattern))
            if sc.min_length is not None:
                out.append(Check(self.name, "min_length", sc.min_length))
            if sc.max_length is not None:
                out.append(Check(self.name, "max_length", sc.max_length))
            if sc.starts_with is not None:
                out.append(Check(self.name, "starts_with", sc.starts_with))
            if sc.ends_with is not None:
                out.append(Check(self.name, "ends_with", sc.ends_with))
        return out


@dataclass
class TableSchema:
    """The inferred schema for one table: the engine's versioned contract
    artifact (replaces the reference's generated code string)."""

    name: str  # sanitized class-name form
    columns: list[ColumnSpec] = field(default_factory=list)
    # user-registered checks beyond the inferred ones (custom_sql /
    # custom_pandas / additional bounds) — validated alongside
    extra_checks: list[Check] = field(default_factory=list)

    def checks(self) -> list[Check]:
        return [c for spec in self.columns for c in spec.checks()] + list(
            self.extra_checks
        )

    def column(self, name: str) -> ColumnSpec:
        for spec in self.columns:
            if spec.name == name or spec.sanitized_name == name:
                return spec
        raise KeyError(name)

    # ------------------------------------------------- serialization

    def to_json(self, indent: Optional[int] = 2) -> str:
        """Serialize the contract for versioning/persistence — infer
        once, validate every future snapshot against the stored schema.
        Temporal/decimal bound values are type-tagged so the round
        trip restores real date/datetime/Decimal objects (a string
        bound would mis-compile against a typed column).

        ``custom_pandas`` checks carry a Python callable and are NOT
        serializable — declare them in code and attach after
        ``from_json`` (the error says so rather than silently dropping
        a check)."""
        for c in self.checks():
            if c.kind == "custom_pandas":
                raise ValueError(
                    f"check {c.name!r} is custom_pandas (a Python callable) "
                    "and cannot be serialized; attach it in code after "
                    "TableSchema.from_json"
                )
        payload = {
            "version": 1,
            "name": self.name,
            "columns": [asdict(c) for c in self.columns],
            "extra_checks": [asdict(c) for c in self.extra_checks],
        }
        return json.dumps(payload, default=_json_encode_value, indent=indent)

    @classmethod
    def from_json(cls, text: str) -> "TableSchema":
        d = json.loads(text, object_hook=_json_decode_value)
        columns = []
        for c in d["columns"]:
            sc = c.pop("string_constraints", None)
            columns.append(
                ColumnSpec(
                    **c,
                    string_constraints=StringConstraints(**sc) if sc else None,
                )
            )
        extra = [Check(**k) for k in d.get("extra_checks", [])]
        return cls(name=d["name"], columns=columns, extra_checks=extra)


def _json_encode_value(v):
    if isinstance(v, datetime.datetime):
        return {"__ts__": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"__date__": v.isoformat()}
    if isinstance(v, Decimal):
        return {"__dec__": str(v)}
    raise TypeError(f"unserializable value in schema: {v!r} ({type(v).__name__})")


def _json_decode_value(d: dict):
    if "__ts__" in d and len(d) == 1:
        return datetime.datetime.fromisoformat(d["__ts__"])
    if "__date__" in d and len(d) == 1:
        return datetime.date.fromisoformat(d["__date__"])
    if "__dec__" in d and len(d) == 1:
        return Decimal(d["__dec__"])
    return d


# ----------------------------------------------------------- contract diff

@dataclass
class ConstraintChange:
    """One semantic change between two schema contracts."""

    column: str
    constraint: str  # "type" | "nullable" | "unique" | "ge" | ...
    old: Any
    new: Any
    direction: str  # "tightened" | "loosened" | "changed"


@dataclass
class SchemaDiff:
    """Contract drift between two ``TableSchema``s — what a producer
    must review before publishing a new contract version. ``breaking``
    lists changes that can reject data the old contract accepted
    (removed columns don't break consumers' reads of old data, but
    tightened constraints and type changes do break producers)."""

    added_columns: list[str]
    removed_columns: list[str]
    changes: list[ConstraintChange]

    @property
    def breaking(self) -> list[ConstraintChange]:
        return [c for c in self.changes if c.direction in ("tightened", "changed")]

    @property
    def empty(self) -> bool:
        return not (self.added_columns or self.removed_columns or self.changes)

    def to_rows(self) -> list[tuple]:
        """(column, constraint, old, new, direction) tuples — feed to
        ``spark.createDataFrame(rows, "column string, constraint
        string, old string, new string, direction string")`` for a
        reviewable frame."""
        rows = [(c, "__column__", "present", None, "removed") for c in self.removed_columns]
        rows += [(c, "__column__", None, "present", "added") for c in self.added_columns]
        rows += [
            (c.column, c.constraint, _fmt(c.old), _fmt(c.new), c.direction)
            for c in self.changes
        ]
        return sorted(rows)


def _fmt(v) -> Optional[str]:
    return None if v is None else str(v)


def _bound_change(column, constraint, old, new, tighter_when_greater):
    if old == new:
        return None
    if old is None:
        return ConstraintChange(column, constraint, old, new, "tightened")
    if new is None:
        return ConstraintChange(column, constraint, old, new, "loosened")
    try:
        grew = new > old
    except TypeError:
        return ConstraintChange(column, constraint, old, new, "changed")
    tight = grew if tighter_when_greater else not grew
    return ConstraintChange(
        column, constraint, old, new, "tightened" if tight else "loosened"
    )


def schema_diff(old: "TableSchema", new: "TableSchema") -> SchemaDiff:
    """Semantic diff of two contracts, change-by-change with a
    tightened/loosened verdict per constraint:

    - ``nullable`` False→True loosens (nulls now accepted), True→False
      tightens; same for dropping/adding ``unique``.
    - ``ge`` raised / ``le`` lowered / ``min_length`` raised /
      ``max_length`` lowered tighten (accept less); the opposite
      directions loosen.
    - ``isin``: a superset domain loosens, a subset tightens, anything
      else is "changed" (so is a pattern/prefix/suffix/type change —
      there is no order on those).

    Constraints absent on both sides are not reported; identical
    constraints are not reported."""
    old_cols = {c.name: c for c in old.columns}
    new_cols = {c.name: c for c in new.columns}
    diff = SchemaDiff(
        added_columns=sorted(set(new_cols) - set(old_cols)),
        removed_columns=sorted(set(old_cols) - set(new_cols)),
        changes=[],
    )

    for name in sorted(set(old_cols) & set(new_cols)):
        a, b = old_cols[name], new_cols[name]
        ch = diff.changes
        if a.pandera_type != b.pandera_type:
            ch.append(
                ConstraintChange(name, "type", a.pandera_type, b.pandera_type, "changed")
            )
        if a.nullable != b.nullable:
            ch.append(
                ConstraintChange(
                    name, "nullable", a.nullable, b.nullable,
                    "loosened" if b.nullable else "tightened",
                )
            )
        if a.unique != b.unique:
            ch.append(
                ConstraintChange(
                    name, "unique", a.unique, b.unique,
                    "tightened" if b.unique else "loosened",
                )
            )
        for cons, tighter_when_greater in (("ge", True), ("le", False)):
            c = _bound_change(name, cons, getattr(a, cons), getattr(b, cons), tighter_when_greater)
            if c:
                ch.append(c)
        ia, ib = a.isin, b.isin
        if ia != ib:
            if ia is None or ib is None:
                direction = "tightened" if ia is None else "loosened"
            else:
                sa, sb = set(ia), set(ib)
                direction = (
                    "tightened" if sb < sa else "loosened" if sb > sa else "changed"
                )
            ch.append(ConstraintChange(name, "isin", ia, ib, direction))
        sa, sb = a.string_constraints, b.string_constraints
        for cons, tighter_when_greater in (
            ("min_length", True), ("max_length", False),
        ):
            c = _bound_change(
                name, cons, getattr(sa, cons, None), getattr(sb, cons, None),
                tighter_when_greater,
            )
            if c:
                ch.append(c)
        for cons in ("pattern", "starts_with", "ends_with"):
            va, vb = getattr(sa, cons, None), getattr(sb, cons, None)
            if va != vb:
                direction = (
                    "tightened" if va is None else "loosened" if vb is None else "changed"
                )
                ch.append(ConstraintChange(name, cons, va, vb, direction))
    return diff
