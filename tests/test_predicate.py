"""The one stats rule (``palletjack_spark.index.predicate``): both index
shapes answer alike, and the Column rendering of the rule agrees with
its Python rendering on every stats row and predicate."""

from __future__ import annotations

import datetime
import decimal
import random
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from palletjack_spark import build_index, prune_explain_counts
from palletjack_spark.index.metadata_index import ROW_GROUPS_SCHEMA
from palletjack_spark.index.predicate import (
    OPS,
    SPELLINGS,
    apply_predicate,
    arrow_residual,
    normalize,
    stats_condition,
    stats_verdict,
)
from palletjack_spark.index.smart import smart_read

# -- both index shapes over one layout -----------------------------------


@pytest.fixture(scope="module")
def layout(tmp_path_factory):
    """``f1`` has columns ``a`` (int) and ``s`` (string) in 4 row groups;
    ``f2`` has only ``s``, in 2 row groups."""
    root = tmp_path_factory.mktemp("predicate")
    f1, f2 = str(root / "f1.parquet"), str(root / "f2.parquet")
    pq.write_table(pa.table({
        "a": pa.array(range(4), pa.int64()),
        "s": [f"k{i:03d}" for i in range(4)],
    }), f1, row_group_size=1)
    pq.write_table(pa.table({"s": ["k100", "k101"]}), f2, row_group_size=1)
    return f1, f2


@pytest.fixture(scope="module", params=["local", "catalog"])
def shape(request, spark, layout):
    catalog = request.param == "catalog"
    idx = build_index(
        spark, list(layout), use_cache=False, driver_fast_path=not catalog
    )
    assert (idx._local is None) == catalog
    return idx, layout


def test_empty_in_prunes_every_row_group(shape):
    idx, _ = shape
    assert prune_explain_counts(idx, [("a", "in", [])]) == {
        "total": 6, "kept": 0,
        "pruned": {"stats": 6, "partition": 0, "dictionary": 0,
                   "bloom": 0, "page": 0},
    }


def test_bytes_literal_keeps(shape):
    idx, (f1, _f2) = shape
    pred = [("s", "=", b"k001")]
    assert idx.read(files=[f1], predicate=pred).count() == 1
    assert prune_explain_counts(idx, pred, files=[f1])["pruned"]["stats"] == 0


def test_none_literal_keeps(spark, shape):
    idx, (f1, _f2) = shape
    pred = [("a", "=", None)]
    assert idx.read(files=[f1], predicate=pred).count() == 0
    counts = prune_explain_counts(idx, pred, files=[f1])
    assert counts["total"] == 4 and counts["pruned"]["stats"] == 0
    assert smart_read(spark, f1, predicate=pred, index=idx).count() == 0


# -- Column vs Python: one rule, two renderings ---------------------------

_STAT_FIELDS = ROW_GROUPS_SCHEMA["columns"].dataType.elementType.fieldNames()
_NUMS = [-5.0, 0.0, 1.0, 2.5, 3.0, 7.0, 2.0**53, 2.0**53 + 2, 2.0**63, 1e300]
_TEXTS = ["", "a", "k000", "k001", "m", "zz", "é", "\U0001f600"]


def _stat(rng, name):
    """One column's stats: numeric, text or missing, with or without
    null counts, under every physical type."""
    st = dict.fromkeys(_STAT_FIELDS)
    st["name"] = name
    kind = rng.choice(["num", "num", "text", "text", "missing"])
    if kind == "num":
        lo, hi = sorted(rng.choice(_NUMS) for _ in range(2))
        if rng.random() < 0.4:
            hi = lo  # single-valued chunk: the exclusion ops' case
        st.update(min_num=lo, max_num=hi, min_repr=str(lo),
                  max_repr=str(hi), stats_kind="num")
        st["physical_type"] = rng.choice(["INT64", "DOUBLE", "FLOAT", None])
    elif kind == "text":
        lo, hi = sorted(rng.choice(_TEXTS) for _ in range(2))
        if rng.random() < 0.4:
            hi = lo
        st.update(min_repr=lo, max_repr=hi,
                  stats_kind=rng.choice(["text", "text", "hex", None]))
        st["physical_type"] = rng.choice(["BYTE_ARRAY", None])
    else:
        st["physical_type"] = rng.choice(["INT64", "DOUBLE", None])
    st["null_count"] = rng.choice([None, 0, 0, 1, 3, 100])
    return st


def _rows(seed, n):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        cols = [_stat(rng, "other")]
        if rng.random() < 0.85:
            cols.append(_stat(rng, "c"))
        rows.append({
            "file": "f", "row_group": i,
            "num_rows": rng.choice([None, 0, 1, 3, 100]),
            "total_byte_size": 1, "total_compressed_size": 1,
            "columns": cols,
        })
    return rows


_LITERALS = [
    0, 1, 3, 7, -5, True, 2**53 + 1, 2**53 + 2, 2**63 - 1, 10**400,
    2.5, 3.0, -0.0, 1e300, float("nan"), "", "a", "k001", "m", "zz",
    "é", None, b"k001", datetime.date(1970, 1, 4),
    datetime.datetime(1970, 1, 1, 0, 0, 3, tzinfo=datetime.timezone.utc),
]


def _predicates(seed):
    """Every op and alias against every literal class, then random
    between pairs, IN lists (empty and mixed included) and conjunctions
    with a column the rows may lack."""
    rng = random.Random(seed)
    single = [op for op in OPS if op not in ("between", "in", "not_in",
                                             "is_null", "not_null")]
    preds = [[("c", op, v)] for op in single for v in _LITERALS]
    preds += [[("c", op, v)] for op in SPELLINGS for v in (3, "k001", None)]
    preds += [[("c", "is_null")], [("c", "not_null")]]
    preds += [[("c", "between", rng.choice(_LITERALS), rng.choice(_LITERALS))]
              for _ in range(30)]
    for op in ("in", "not_in"):
        preds.append([("c", op, [])])
        preds += [[("c", op, rng.sample(_LITERALS, rng.randint(1, 3)))]
                  for _ in range(20)]
    preds += [[("c", "in", [1, 3.0, True])], [("c", "in", ["a", 1])]]
    preds += [[rng.choice(preds)[0], rng.choice(preds)[0]] for _ in range(20)]
    preds += [[("gone", "in", [])], [("gone", "=", 1), ("c", ">", 2)]]
    return preds


#: the three drifts between the two renderings the rule replaced
_PINNED = [[("c", "in", [])], [("c", "=", b"k001")], [("c", "=", None)]]


def _column_verdicts(spark, rows, preds, batch=128):
    df = spark.createDataFrame(rows, ROW_GROUPS_SCHEMA)
    out = [dict() for _ in rows]
    for start in range(0, len(preds), batch):
        chunk = preds[start:start + batch]
        got = df.select(
            "row_group",
            *[stats_condition(normalize(p)).alias(f"p{start + i}")
              for i, p in enumerate(chunk)],
        ).collect()
        for r in got:
            out[r["row_group"]].update(r.asDict())
    return [[o[f"p{i}"] for i in range(len(preds))] for o in out]


def test_column_and_python_verdicts_agree(spark):
    rows = _rows(1, 100)
    preds = _PINNED + _predicates(1)
    columns = _column_verdicts(spark, rows, preds)
    for r, col_keep in zip(rows, columns):
        for p, ck in zip(preds, col_keep):
            py_keep = stats_verdict(r, normalize(p)) is None
            assert ck is py_keep, (p, r["columns"], r["num_rows"])


def test_python_verdict_names_the_deciding_conjunct():
    row = {"num_rows": 3, "columns": [dict.fromkeys(_STAT_FIELDS) | {
        "name": "c", "min_num": 1.0, "max_num": 2.0, "null_count": 0,
        "physical_type": "INT64"}]}
    conjs = normalize([("c", ">=", 0), ("c", "==", 5), ("c", "is_null")])
    assert stats_verdict(row, conjs).source == ("c", "==", 5)
    assert stats_verdict(row, conjs[:1]) is None



# -- Arrow residual vs Column residual -------------------------------------

_UTC = datetime.timezone.utc
#: one column per class; ``rid`` numbers the rows
_TABLE = pa.table({
    "rid": pa.array(range(10), pa.int64()),
    "i64": pa.array([0, 1, 3, 7, -5, None, 2**53 + 1, 2**63 - 1, -(2**63), 3],
                    pa.int64()),
    "i32": pa.array([0, 1, 3, 7, -5, None, 2**31 - 1, -(2**31), 3, 2],
                    pa.int32()),
    "s": pa.array(["", "a", "k001", "m", "zz", None, "é", "\U0001f600",
                   "k0010", "A"]),
    "d": pa.array([0.0, 1.0, 3.0, float("nan"), -5.0, None, 2.5, -0.0,
                   1e300, float("inf")]),
    "b": pa.array([True, False, None, True, False, True, None, False,
                   True, False]),
    "dt": pa.array([datetime.date(1970, 1, d) for d in range(1, 10)] + [None]),
    "ts": pa.array(
        [datetime.datetime(1970, 1, 1, 0, 0, s, tzinfo=_UTC) for s in range(9)]
        + [None], pa.timestamp("us", tz="UTC")),
    "dec": pa.array([decimal.Decimal(v) for v in
                     ("0", "1.5", "3", "7", "-5", "2.5", "3.00", "0.1",
                      "99.9")] + [None], pa.decimal128(5, 2)),
})


def _on(col, pred):
    """``pred`` with its ``c`` conjuncts moved onto column ``col``."""
    return [(col if c == "c" else c, op, *v) for c, op, *v in pred]


def _column_rows(spark, preds, batch=64):
    """``apply_predicate`` over ``createDataFrame(_TABLE)``: the sorted
    ``rid``s each predicate keeps, one collect per ``batch``."""
    df = spark.createDataFrame(_TABLE)
    out = [[] for _ in preds]
    for start in range(0, len(preds), batch):
        parts = [
            apply_predicate(df, p).select(F.lit(start + i).alias("p"), "rid")
            for i, p in enumerate(preds[start:start + batch])
        ]
        for r in reduce(DataFrame.unionAll, parts).collect():
            out[r["p"]].append(r["rid"])
    return [sorted(o) for o in out]


def test_arrow_residual_matches_column_residual(spark):
    preds = [
        _on(col, p) for col in _TABLE.column_names[1:]
        for p in _PINNED + _predicates(2)
    ]
    rendered = [(p, arrow_residual(normalize(p), _TABLE.schema)) for p in preds]
    rendered = [(p, e) for p, e in rendered if e is not None]
    # int64, int32 and string columns; every op on each
    assert {p[0][0] for p, _e in rendered} == {"i64", "i32", "s"}
    assert {normalize(p)[0].op for p, _e in rendered} == set(OPS)
    columns = _column_rows(spark, [p for p, _e in rendered])
    for (p, expr), col_rows in zip(rendered, columns):
        arrow_rows = sorted(_TABLE.filter(expr)["rid"].to_pylist())
        assert arrow_rows == col_rows, (p, str(expr))


#: conjuncts whose Arrow semantics differ from Spark's, or may
_ARROW_FALLBACK = {
    "float column": [("d", "=", 1)],
    "NaN literal": [("d", "=", float("nan"))],
    "decimal column": [("dec", ">", 1)],
    "decimal literal": [("i64", "=", decimal.Decimal(1))],
    "date column": [("dt", "=", datetime.date(1970, 1, 2))],
    "timestamp column": [("ts", "<", datetime.datetime(1970, 1, 2))],
    "bool column": [("b", "=", True)],
    "bool literal": [("i64", "=", True)],
    "float literal": [("i64", "<", 2.5)],
    "int beyond int64": [("i64", "<", 2**63)],
    "None literal": [("i64", "=", None)],
    "None in a list": [("s", "in", ["a", None])],
    "bytes literal": [("s", "=", b"k001")],
    "int on a string column": [("s", "=", 1)],
    "str on an int column": [("i64", "=", "1")],
    "empty not_in": [("i64", "not_in", [])],
    "partition key": [("part", "=", "a")],
    "absent column": [("gone", "is_null")],
    "case-folded name": [("I64", "=", 1)],
    "nested-field syntax": [("s.x", "=", "a")],
    "one bad conjunct": [("i64", "=", 1), ("d", ">", 0.0)],
}


@pytest.mark.parametrize("case", sorted(_ARROW_FALLBACK))
def test_arrow_residual_falls_back(case):
    pred = _ARROW_FALLBACK[case]
    assert arrow_residual(normalize(pred), _TABLE.schema) is None


def test_arrow_residual_falls_back_on_names_spark_finds_ambiguous():
    schema = pa.schema([("k", pa.int64()), ("K", pa.int64())])
    assert arrow_residual(normalize([("k", "=", 1)]), schema) is None
