"""The predicate mini-language and the one row-group stats rule.

A predicate is a list of conjuncts ``(column, op, *values)``.  Ops, by
family, with their accepted aliases:

- equality: ``=`` (also ``==``) and ``in`` (one list of values);
- range: ``<``, ``<=``, ``>``, ``>=`` and ``between`` (two values);
- exclusion: ``!=`` (also ``<>``) and ``not_in`` (one list of values);
- null: ``is_null`` and ``not_null``.

:func:`normalize` runs once per call.  It validates arity, rewrites
aliases to the canonical op and turns each conjunct into a
:class:`Conjunct` whose literals fall into one class:

- **numeric**: int, bool, float or Decimal, and datetime/date literals
  projected to the stats' number form (epoch micros / days,
  ``builder._stat_num_base``).  Compared with ``min_num``/``max_num``
  through a floor/ceil double pair computed once.
- **text**: ASCII str, compared with ``min_repr``/``max_repr`` where the
  chunk's ``stats_kind`` is ``'text'``.
- **unorderable**: None, bytes, non-ASCII text, NaN or a mix of classes.
  No stats test applies and the conjunct keeps every row group; so does
  one that leaves nothing to compare (``not_in []``, or ``!=`` on int64
  literals no double equals).
- **empty IN**: ``in []`` matches nothing, so it prunes every row group,
  one whose file lacks the column included.

The stats rule (:data:`KEEP`) is written once, per op, over comparisons
and ``&``/``|``, which work alike on Spark Columns and Python values.
:func:`stats_condition` renders it as a Column over the index DataFrame,
:func:`stats_verdict` as a Python verdict over one index row that names
the deciding conjunct, and :func:`interval_keep` runs its interval tests
on the page index's exact per-page bounds.

The residual filter makes a pruned read exact.  :func:`apply_predicate`
renders it as Spark ``where`` clauses with the caller's literals;
:func:`arrow_residual` renders it as a ``pyarrow.compute`` expression, so
a read finished on the driver filters its Arrow table before any row
crosses into the JVM.  The Arrow rendering exists only where Arrow's
semantics equal Spark's: every op on a signed-integer column with Python
``int`` literals inside int64, or on a string column with ``str``
literals (``not_in`` adds a null guard: Arrow's ``is_in`` is false on a
null input, Spark's ``NOT IN`` is NULL).  Any other conjunct makes the
whole predicate fall back to the Column rendering: float columns (NaN
equals itself and sorts greatest in Spark), decimal, date and timestamp
columns (session time zone), bool columns or literals, None and bytes
literals, ``not_in []`` (Spark keeps NULL rows), a column outside the
schema handed in (hive partition keys, columns Spark would resolve by
case or as a nested field).

Soundness rules; each errs towards keeping a row group:

- **Superset rounding.**  The builder stores int64 stats as doubles
  rounded outward (min down, max up).  A literal is rounded the same
  way: lower-bound tests read its ceiling, upper-bound tests its floor.
  A value beyond 2^53 thus never prunes the row group that holds it; the
  residual filter stays exact.
- **ASCII-only text.**  Parquet orders strings by unsigned bytes, which
  agrees with Spark's string order for ASCII but not across all of
  Unicode, so non-ASCII literals keep.
- **NaN never prunes.**  Spark treats ``NaN = NaN`` as true and sorts
  NaN greatest, while parquet min/max omit NaN.
- **Float chunks never exclusion-prune.**  FLOAT/DOUBLE min/max ignore
  NaN, so a chunk of ``{5.0, NaN}`` reads ``[5.0, 5.0]`` although its
  NaN rows satisfy ``!= 5.0``.  A chunk without a physical type keeps
  too.
- **Unknown keeps.**  A missing column, missing stats, an index built
  before ``stats_kind`` existed, or a test that evaluates to NULL keeps
  the row group.
"""

from __future__ import annotations

import datetime
import math
import numbers
import operator
from dataclasses import dataclass
from decimal import Decimal
from functools import reduce
from typing import Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from palletjack_spark.errors import InvalidSelectionError

#: accepted alias -> canonical op
SPELLINGS = {"==": "=", "<>": "!="}

EQ_OPS = ("=", "in")
RANGE_OPS = ("<", "<=", ">", ">=", "between")
EXCLUDE_OPS = ("!=", "not_in")
NULL_OPS = ("is_null", "not_null")
#: ops whose one value is a list
LIST_OPS = ("in", "not_in")
#: every canonical op
OPS = EQ_OPS + RANGE_OPS + EXCLUDE_OPS + NULL_OPS

NUMERIC, TEXT, UNORDERABLE, EMPTY = "numeric", "text", "unorderable", "empty"


def canonical_op(op):
    """The canonical spelling of ``op`` (unknown ops pass through)."""
    return SPELLINGS.get(op, op) if isinstance(op, str) else op


def floor_double(x) -> float:
    """Largest double <= ``x``.  ``float()`` rounds to nearest, so an
    int64 above 2^53 can round past the exact value; rounding down (and
    :func:`ceil_double` up) keeps a comparison at least as permissive as
    the exact one."""
    f = float(x)
    return math.nextafter(f, -math.inf) if f > x else f


def ceil_double(x) -> float:
    """Smallest double >= ``x`` (see :func:`floor_double`)."""
    f = float(x)
    return math.nextafter(f, math.inf) if f < x else f


@dataclass(frozen=True)
class Conjunct:
    """One normalized conjunct."""

    #: the conjunct as the caller wrote it
    source: tuple
    col: str
    #: canonical op
    op: str
    #: the literals, datetimes projected to numbers, lists as lists
    values: tuple
    #: literal class (NUMERIC, TEXT, UNORDERABLE, EMPTY); None for null ops
    kind: str | None
    #: ``(floor, ceil)`` per literal the stats test reads
    bounds: tuple = ()

    @property
    def canon(self) -> tuple:
        """``(col, op, *values)``: the form the value tiers read."""
        return (self.col, self.op, *self.values)


def _check_arity(col, op, canon, vals) -> None:
    if canon == "between" and len(vals) != 2:
        raise InvalidSelectionError(
            f"'between' needs exactly 2 values, got {len(vals)} "
            f"(column {col!r})"
        )
    if canon in LIST_OPS and (
        len(vals) != 1
        or not isinstance(vals[0], (list, tuple, set, frozenset))
    ):
        raise InvalidSelectionError(
            f"{op!r} needs one list/set of values (column {col!r})"
        )
    if canon in ("=", "!=", "<", "<=", ">", ">=") and not vals:
        raise InvalidSelectionError(
            f"{op!r} needs a comparison value (column {col!r})"
        )


def _project(x):
    """datetime/date literals -> the stats' number form; the residual
    filter keeps the original literal."""
    if isinstance(x, (datetime.datetime, datetime.date)):
        from palletjack_spark.index.builder import _stat_num_base

        return _stat_num_base(x)
    return x


def _literal_class(x) -> str:
    if isinstance(x, str):
        return TEXT if x.isascii() else UNORDERABLE
    if isinstance(x, (numbers.Real, Decimal)) and x == x:  # NaN != NaN
        return NUMERIC
    return UNORDERABLE


def _double_pair(x) -> tuple:
    if isinstance(x, numbers.Integral):
        x = int(x)  # exact comparisons for numpy ints beyond 2^53
    return floor_double(x), ceil_double(x)


def _conjunct(c) -> Conjunct:
    col, op, *vals = c
    canon = canonical_op(op)
    _check_arity(col, op, canon, vals)
    if canon not in OPS:
        raise InvalidSelectionError(f"Unsupported prune op: {op}")
    values = tuple(
        [_project(x) for x in v]
        if isinstance(v, (list, tuple, set, frozenset))
        else _project(v)
        for v in vals
    )
    if canon in NULL_OPS:
        return Conjunct(tuple(c), col, canon, values, None)
    if canon in LIST_OPS:
        lits = values[0]
    else:
        lits = values[: 2 if canon == "between" else 1]
    if not lits:
        kind = EMPTY if canon == "in" else UNORDERABLE
        return Conjunct(tuple(c), col, canon, values, kind)
    kinds = {_literal_class(x) for x in lits}
    kind = kinds.pop() if len(kinds) == 1 else UNORDERABLE
    bounds: tuple = ()
    if kind == TEXT:
        bounds = tuple((x, x) for x in lits)
    elif kind == NUMERIC:
        try:
            bounds = tuple(_double_pair(x) for x in lits)
        except OverflowError:  # an int beyond the double range
            bounds = ()
        if canon in EXCLUDE_OPS:
            # only a literal some double equals can equal a
            # single-valued chunk's stat
            bounds = tuple(b for b in bounds if b[0] == b[1])
        if not bounds:
            kind = UNORDERABLE
    return Conjunct(tuple(c), col, canon, values, kind, bounds)


def normalize(predicate: Sequence[tuple]) -> list[Conjunct]:
    """Validate ``predicate`` and normalize each conjunct, once per call.
    Raises ``InvalidSelectionError`` on a malformed conjunct or an
    unsupported op."""
    return [_conjunct(c) for c in predicate]


def canonical(predicate: Sequence[tuple]) -> list[tuple]:
    """:func:`normalize` as plain ``(col, op, *values)`` tuples."""
    return [c.canon for c in normalize(predicate)]


def _any(terms):
    return reduce(operator.or_, terms)


def _all(terms):
    return reduce(operator.and_, terms)


def _eq(lo, hi, b):
    return _any([(lo <= up) & (hi >= dn) for dn, up in b])


def _exclude(lo, hi, b):
    # prunes only a provably single-valued chunk on an excluded value
    # (NULL rows satisfy neither != nor NOT IN)
    return (lo != hi) | _all([lo != x for x, _x in b])


#: The stats rule: op -> keep test ``(lo, hi, bounds)``.  A value op
#: reads a chunk's ``[lo, hi]`` and the literals' ``(floor, ceil)``
#: bounds; a null op reads ``(null_count, num_rows)``.  False proves the
#: chunk holds no match.
KEEP = {
    "=": _eq,
    "in": _eq,
    "<": lambda lo, hi, b: lo < b[0][1],
    "<=": lambda lo, hi, b: lo <= b[0][1],
    ">": lambda lo, hi, b: hi > b[0][0],
    ">=": lambda lo, hi, b: hi >= b[0][0],
    "between": lambda lo, hi, b: (hi >= b[0][0]) & (lo <= b[1][1]),
    "!=": _exclude,
    "not_in": _exclude,
    "is_null": lambda nulls, rows, b: nulls > 0,
    "not_null": lambda nulls, rows, b: nulls < rows,
}


def _operands(c: Conjunct, get, rows, present) -> tuple:
    """``(guards, lo, hi)`` for ``c``: the two stats :data:`KEEP` reads
    and the conditions under which they are known.  ``get(field)`` reads
    a field of the column's stats, ``present(x)`` tests for non-NULL."""
    if c.kind is None:
        nulls = get("null_count")
        guards = [present(nulls)]
        if c.op == "not_null":
            guards.append(present(rows))
        return guards, nulls, rows
    if c.kind == TEXT:
        lo, hi = get("min_repr"), get("max_repr")
        return [present(lo), present(hi), get("stats_kind") == "text"], lo, hi
    lo, hi = get("min_num"), get("max_num")
    guards = [present(lo), present(hi)]
    if c.op in EXCLUDE_OPS:
        pt = get("physical_type")
        guards += [present(pt), pt != "FLOAT", pt != "DOUBLE"]
    return guards, lo, hi


def stats_verdict(
    row: dict, conjuncts: Sequence[Conjunct]
) -> Conjunct | None:
    """The first conjunct an index row's stats prove matchless, or None
    when the row group is kept."""
    for c in conjuncts:
        if c.kind == EMPTY:
            return c
        if c.kind == UNORDERABLE:
            continue
        st = next((s for s in row["columns"] if s["name"] == c.col), None)
        if st is None:
            continue
        guards, lo, hi = _operands(
            c, st.get, row.get("num_rows"), lambda x: x is not None
        )
        if all(guards) and not KEEP[c.op](lo, hi, c.bounds):
            return c
    return None


def stats_condition(
    conjuncts: Sequence[Conjunct], text_ok: bool = True
) -> Column:
    """The stats rule as a keep condition over the index's row-group
    DataFrame.  ``text_ok`` is False for an index without the
    ``stats_kind`` field, where text conjuncts keep."""
    cond = F.lit(True)
    for c in conjuncts:
        if c.kind == EMPTY:
            cond = cond & F.lit(False)
            continue
        if c.kind == UNORDERABLE or (c.kind == TEXT and not text_ok):
            continue
        # NULL when the file lacks the column: every guard fails, keep
        st = F.get(
            F.filter(F.col("columns"), lambda s: s["name"] == F.lit(c.col)), 0
        )
        guards, lo, hi = _operands(
            c, st.getField, F.col("num_rows"), Column.isNotNull
        )
        # a clause that evaluates to NULL (a corrupt NULL num_rows) must
        # keep: ``where`` would treat it as false
        cond = cond & F.coalesce(
            F.when(_all(guards), KEEP[c.op](lo, hi, c.bounds)), F.lit(True)
        )
    return cond


def interval_keep(op: str, lo, hi, values: Sequence) -> bool:
    """The stats rule's interval test on exact bounds (the page index's
    per-page min/max): False proves no value in ``[lo, hi]`` satisfies
    ``op`` against ``values``."""
    return bool(KEEP[op](lo, hi, [(v, v) for v in values]))


def apply_predicate(df: DataFrame, predicate: Sequence[tuple]) -> DataFrame:
    """The exact residual filter of a mini-language predicate: pruning
    only narrows the rows scanned, this makes the result exact."""
    for col_name, op, *vals in predicate:
        c = F.col(col_name)
        op = canonical_op(op)
        if op == "=":
            df = df.where(c == vals[0])
        elif op == "<":
            df = df.where(c < vals[0])
        elif op == "<=":
            df = df.where(c <= vals[0])
        elif op == ">":
            df = df.where(c > vals[0])
        elif op == ">=":
            df = df.where(c >= vals[0])
        elif op == "between":
            df = df.where(c.between(vals[0], vals[1]))
        elif op == "in":
            df = df.where(c.isin(list(vals[0]) if vals else []))
        elif op == "!=":
            df = df.where(c != vals[0])
        elif op == "not_in":
            df = df.where(~c.isin(list(vals[0]) if vals else []))
        elif op == "is_null":
            df = df.where(c.isNull())
        elif op == "not_null":
            df = df.where(c.isNotNull())
        else:
            raise ValueError(f"Unsupported predicate op: {op}")
    return df


#: The residual filter as an Arrow expression: op -> filter over a field
#: and the literals (list ops: one typed array), for the column and
#: literal classes :func:`arrow_residual` admits.
ARROW_FILTER = {
    "=": lambda f, v: f == v[0],
    "<": lambda f, v: f < v[0],
    "<=": lambda f, v: f <= v[0],
    ">": lambda f, v: f > v[0],
    ">=": lambda f, v: f >= v[0],
    "between": lambda f, v: (f >= v[0]) & (f <= v[1]),
    "in": lambda f, v: f.isin(v[0]),
    "!=": lambda f, v: f != v[0],
    "not_in": lambda f, v: ~f.isin(v[0]) & f.is_valid(),
    "is_null": lambda f, v: f.is_null(),
    "not_null": lambda f, v: f.is_valid(),
}


def _arrow_literals(c: Conjunct, t: pa.DataType) -> list | None:
    """The literals of ``c`` as written, in :data:`ARROW_FILTER`'s form,
    when Arrow compares them with a column of type ``t`` exactly as Spark
    does; else None."""
    vals = c.source[2:]
    lits = list(vals[0]) if c.op in LIST_OPS else vals[:2]
    if c.op == "not_in" and not lits:
        return None
    if pa.types.is_signed_integer(t):
        ok = all(type(x) is int and -(2**63) <= x < 2**63 for x in lits)
        vt = pa.int64()
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        ok = all(type(x) is str for x in lits)
        vt = pa.string()
    else:
        return None
    if not ok:
        return None
    return [pa.array(lits, vt)] if c.op in LIST_OPS else list(lits)


def arrow_residual(
    conjuncts: Sequence[Conjunct], schema: pa.Schema
) -> pc.Expression | None:
    """The residual filter of ``conjuncts`` as one Arrow expression over
    a table of ``schema``, or None when any conjunct falls outside the
    classes where Arrow's semantics equal Spark's (module docstring)."""
    # Spark resolves names case-insensitively and reads dots and
    # backticks as nested-field syntax: render only names that mean
    # exactly one column there
    if len({n.casefold() for n in schema.names}) < len(schema.names):
        return None
    expr = None
    for c in conjuncts:
        i = schema.get_field_index(c.col)
        if i < 0 or "." in c.col or "`" in c.col:
            return None
        lits = _arrow_literals(c, schema.field(i).type)
        if lits is None:
            return None
        term = ARROW_FILTER[c.op](pc.field(c.col), lits)
        expr = term if expr is None else expr & term
    return expr
