"""Both transports of a driver-local indexed read return the same rows.

``MetadataIndex.read`` on a driver-local index reads a selection of at
most ``spark.sql.execution.arrow.localRelationThreshold`` bytes on the
driver and returns a LocalRelation; above it (here: the threshold at 0)
it scans through ``mapInArrow``.  Every case below runs both ways over a
hive ``key=value`` layout of awkward types and must agree exactly.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from palletjack_spark import ScanCastError, build_index

THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"
BAND_ROWS = 256  # rows per page of ``k``
BANDS = 8  # pages per file; row group r holds bands b = r (mod 2)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def _file_table(offset: int) -> pa.Table:
    """Two row groups' worth of rows: ``k`` in page-tight value bands
    (row group 0 holds the even bands, 1 the odd ones), so each row
    group's envelope spans the whole file while its pages leave gaps."""
    ks = [
        offset + v
        for r in range(2)
        for b in range(r, BANDS, 2)
        for v in range(b * BAND_ROWS, (b + 1) * BAND_ROWS)
    ]
    ns0 = 1_700_000_000_123_456_789
    return pa.table(
        {
            "k": pa.array(ks, pa.int64()),
            "u8": pa.array([v % 256 for v in ks], pa.uint8()),
            "u16": pa.array([v % 65536 for v in ks], pa.uint16()),
            "u32": pa.array([4_000_000_000 + v for v in ks], pa.uint32()),
            "u64": pa.array([2**62 + v for v in ks], pa.uint64()),
            "ts_ns": pa.array([ns0 + 1_001 * v for v in ks], pa.timestamp("ns")),
            "ts_tz": pa.array(
                [dt.datetime(2024, 3, 31, 0, 30, tzinfo=dt.timezone.utc)
                 + dt.timedelta(minutes=7 * v) for v in ks],
                pa.timestamp("us", tz="Europe/Berlin"),
            ),
            "dec": pa.array(
                [decimal.Decimal(v) / 1000 for v in ks], pa.decimal128(12, 3)
            ),
            "lst": pa.array(
                [list(range(v % 3)) if v % 5 else None for v in ks],
                pa.list_(pa.int32()),
            ),
            "st": pa.array(
                [{"a": v, "b": f"s{v}"} for v in ks],
                pa.struct([("a", pa.int32()), ("b", pa.string())]),
            ),
            "mp": pa.array(
                [[("x", v), ("y", -v)] for v in ks],
                pa.map_(pa.string(), pa.int64()),
            ),
        }
    )


@pytest.fixture(scope="module")
def hive_index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("transport")
    for i, part in enumerate(("a", "b")):
        d = root / f"part={part}"
        os.makedirs(d)
        t = _file_table(i * BANDS * BAND_ROWS)
        w = pq.ParquetWriter(
            str(d / "f.parquet"), t.schema, use_dictionary=False,
            write_page_index=True, data_page_size=1,
            write_batch_size=BAND_ROWS,
        )
        half = t.num_rows // 2
        w.write_table(t.slice(0, half), row_group_size=half)
        w.write_table(t.slice(half), row_group_size=half)
        w.close()
    idx = build_index(spark, str(root), use_cache=False)
    assert idx._local is not None and len(idx._local[0]) == 4
    return idx


def _both(spark, read):
    """``read()`` at the default threshold and at 0: (plan, schema, rows)
    of each transport."""
    out = []
    for value in (None, "0"):
        if value is not None:
            spark.conf.set(THRESHOLD, value)
        try:
            df = read()
            rows = sorted(df.collect(), key=repr)
            out.append((_plan(df), df.schema, rows))
        finally:
            spark.conf.unset(THRESHOLD)
    return out


# a range inside the gap after the first page of row group 0 of part=a:
# both row groups' envelopes cover it, only row group 1's pages do
GAP = [("k", ">=", BAND_ROWS + 10), ("k", "<=", BAND_ROWS + 20)]

CASES = {
    "full": dict(),
    "projected_stats": dict(
        columns=["k", "u64", "ts_tz"], predicate=[("k", "between", 100, 3000)]
    ),
    "page_gap": dict(predicate=GAP),
    "page_ranges_unfiltered": dict(predicate=GAP, apply_residual=False),
    "partition": dict(
        columns=["k", "mp", "st"], predicate=[("part", "=", "b")]
    ),
    "empty": dict(predicate=[("k", ">", 10**9)]),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_and_map_in_arrow_transports_agree(spark, hive_index, case):
    (p_local, s_local, local), (p_tasks, s_tasks, tasks) = _both(
        spark, lambda: hive_index.read(**CASES[case])
    )
    assert "LocalTableScan" in p_local and "MapInArrow" not in p_local, p_local
    assert s_local == s_tasks
    assert local == tasks
    if case == "empty":
        # Spark folds an empty task list's mapInArrow to an empty relation
        assert local == [] and "LocalTableScan <empty>" in p_tasks, p_tasks
        return
    assert "MapInArrow" in p_tasks, p_tasks
    if case == "page_ranges_unfiltered":
        # no residual: exactly the page row-range that survived, one page
        # of row group 1, not its whole row group
        assert len(local) == BAND_ROWS
        assert {r["k"] for r in local} == set(range(BAND_ROWS, 2 * BAND_ROWS))
    elif case == "full":
        assert len(local) == 2 * BANDS * BAND_ROWS
        assert {r["part"] for r in local} == {"a", "b"}


def test_uint64_overflow_raises_typed_cast_error_on_the_driver(spark, tmp_path):
    """Under the threshold the read happens inside ``read()``, so the
    overflow surfaces there, typed, naming the column and the cast."""
    p = str(tmp_path / "uo.parquet")
    pq.write_table(pa.table({"u64": pa.array([2**63 + 1], pa.uint64())}), p)
    idx = build_index(spark, p, use_cache=False)
    with pytest.raises(ScanCastError, match=r"'u64' from uint64 to int64"):
        idx.read()


# -- the Arrow residual on the driver ---------------------------------------


@pytest.fixture(scope="module")
def three_files(spark, tmp_path_factory):
    """Three one-row-group files, so a driver read holds three batches.
    The middle file's ``id`` envelope [10, 30] covers 20 but holds no
    20; no dictionaries and no page index, so only the stats tier
    judges it and keeps it."""
    root = tmp_path_factory.mktemp("three")
    rows = [([1, 2], ["key001", "key002"]), ([10, 30], ["key000", "key009"]),
            ([41, 42], ["key001", "key003"])]
    paths = []
    for i, (ids, ks) in enumerate(rows):
        p = str(root / f"f{i}.parquet")
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int64()), "k": ks,
            "x": pa.array([i + 0.5, i + 1.5]),
        }), p, use_dictionary=False)
        paths.append(p)
    idx = build_index(spark, paths, use_cache=False)
    assert idx._local is not None and len(idx._local[0]) == 3
    return idx, paths


class _EmptyAfterEachBatch:
    """A ParquetFile whose ``iter_batches`` follows every batch with an
    empty one (pyarrow's own reader never yields one, but may)."""

    def __init__(self, pf):
        self._pf = pf

    def __getattr__(self, name):
        return getattr(self._pf, name)

    def iter_batches(self, **kw):
        for rb in self._pf.iter_batches(**kw):
            yield rb
            yield rb.slice(0, 0)


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


# pyspark 4.1.2's createDataFrame(pa.Table) drops the rows that follow an
# empty chunk; each case puts one in the middle of a driver read
EMPTY_MIDDLE = {
    # the Arrow filter empties the middle file's batch
    "filtered": (dict(predicate=[("id", "in", [1, 20, 41])], columns=["k"]),
                 False),
    # the reader yields empty batches between the files' batches
    "read": (dict(columns=["id", "k"]), True),
}


@pytest.mark.parametrize("case", sorted(EMPTY_MIDDLE))
def test_empty_middle_batch_keeps_every_row(
    spark, three_files, monkeypatch, case
):
    from palletjack_spark.sources import arrow_scan

    idx, paths = three_files
    kw, empties = EMPTY_MIDDLE[case]
    if empties:
        real = arrow_scan._open_parquet
        monkeypatch.setattr(
            arrow_scan, "_open_parquet",
            lambda p: _EmptyAfterEachBatch(real(p)),
        )
    df = idx.read(**kw)
    assert _analyzed(df).startswith("LocalRelation")
    want = pa.concat_tables(pq.read_table(p) for p in paths)
    if "predicate" in kw:
        want = want.filter(pc.is_in(want["id"], pa.array([1, 20, 41])))
    want = want.select(kw["columns"])
    got = [tuple(r) for r in df.collect()]
    assert sorted(got) == sorted(zip(*want.to_pydict().values()))
    assert len(got) == (2 if "predicate" in kw else 6)


def test_arrow_residual_plan_is_a_bare_local_relation(spark, three_files):
    idx, _ = three_files
    df = idx.read(predicate=[("k", "=", "key001")], columns=["id"])
    plan = _analyzed(df)
    assert plan.startswith("LocalRelation"), plan
    assert "Filter" not in plan and "Project" not in plan, plan
    assert df.columns == ["id"] and sorted(r.id for r in df.collect()) == [1, 41]

    # a float conjunct has no exact Arrow form: Spark filters and projects
    df = idx.read(predicate=[("x", ">", 1.0)], columns=["id"])
    plan = _analyzed(df)
    assert "Filter" in plan and "LocalRelation" in plan, plan
    assert sorted(r.id for r in df.collect()) == [2, 10, 30, 41, 42]


def test_map_in_arrow_read_still_filters_in_spark(spark, three_files):
    idx, _ = three_files
    spark.conf.set(THRESHOLD, "0")
    try:
        df = idx.read(predicate=[("k", "=", "key001")], columns=["id"])
        plan = _analyzed(df)
        assert "Filter" in plan and "MapInArrow" in plan, plan
        assert sorted(r.id for r in df.collect()) == [1, 41]
    finally:
        spark.conf.unset(THRESHOLD)
