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
