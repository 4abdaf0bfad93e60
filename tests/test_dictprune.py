"""Dictionary-page row-group pruning (round 9): equality predicates on
high-cardinality columns whose values interleave across row groups —
the case min/max stats provably cannot prune — are pruned by probing
the chunks' dictionary pages, with soundness gated on encoding_stats
proving full dictionary encoding.  Every unknown verdict keeps the row
group, so results are identical with pruning on or off."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from palletjack_spark.index.dictprune import DictionaryProber
from palletjack_spark.index.predicate import normalize, stats_verdict
from palletjack_spark.index.tiers import tier_filter
from tests.conftest import SF_DIR  # noqa: F401  (session fixture import)


def _interleaved(tmp_path, compression="snappy", use_dictionary=True):
    """400 rows in 4 row groups; row i lives in rg i%4, so every rg's
    [min, max] spans nearly the whole value range while its dictionary
    holds exactly its own 100 values."""
    path = str(tmp_path / "inter.parquet")
    order = sorted(range(400), key=lambda i: (i % 4, i))
    pq.write_table(
        pa.table(
            {
                "tag": pa.array([f"user_{i:04d}" for i in order]),
                "n": pa.array(order, type=pa.int64()),
            }
        ),
        path,
        row_group_size=100,
        compression=compression,
        use_dictionary=use_dictionary,
    )
    return path


def test_fully_dict_encoded_verdicts(tmp_path):
    from palletjack_spark.index.dictprune import fully_dict_encoded
    from palletjack_spark.index.footer_splice import read_footer_bytes

    path = _interleaved(tmp_path)
    footer = read_footer_bytes(path)
    assert fully_dict_encoded(footer, 0, 0) is True
    assert fully_dict_encoded(footer, 0, 1) is True
    # out-of-range ordinals are unknown, never a crash
    assert fully_dict_encoded(footer, 99, 0) is None
    assert fully_dict_encoded(footer, 0, 99) is None

    # a chunk that FELL BACK to plain encoding (tiny dictionary budget)
    # must report False — pruning on its partial dictionary would be wrong
    fb = str(tmp_path / "fallback.parquet")
    pq.write_table(
        pa.table({"tag": pa.array([f"v{i:06d}" for i in range(5000)])}),
        fb,
        row_group_size=5000,
        dictionary_pagesize_limit=1024,
        data_page_size=1024,
    )
    ffb = read_footer_bytes(fb)
    assert fully_dict_encoded(ffb, 0, 0) is False


def test_read_dictionary_decodes_both_types(tmp_path):
    from palletjack_spark.index.dictprune import read_dictionary

    path = _interleaved(tmp_path)
    md = pq.ParquetFile(path).metadata
    for col_idx, probe in ((0, b"user_0004"), (1, 4)):
        cc = md.row_group(0).column(col_idx)
        d = read_dictionary(
            path,
            cc.dictionary_page_offset,
            cc.data_page_offset,
            cc.compression,
            cc.physical_type,
        )
        assert d is not None and len(d) == 100
        assert probe in d  # i=4 -> 4%4==0 -> rg0
    # absent dictionary page -> None
    nd = str(tmp_path / "nodict.parquet")
    pq.write_table(
        pa.table({"tag": pa.array(["a", "b"])}), nd, use_dictionary=False
    )
    cc = pq.ParquetFile(nd).metadata.row_group(0).column(0)
    assert read_dictionary(
        nd, cc.dictionary_page_offset, cc.data_page_offset,
        cc.compression, cc.physical_type,
    ) is None


def test_dict_prune_skips_provably_absent_row_groups(spark, tmp_path):
    """The headline property: stats keep 4/4 row groups (interleaving
    defeats min/max) but the dictionary probe keeps exactly the one
    row group that holds the literal — and the scanned rows are
    identical with pruning disabled."""
    from palletjack_spark.index.builder import build_index

    path = _interleaved(tmp_path)
    idx = build_index(spark, path)
    pred = [("tag", "=", "user_0005")]  # 5 % 4 == 1 -> rg1 only
    rows = idx._local[0]
    stats_kept = [r for r in rows if stats_verdict(r, normalize(pred)) is None]
    assert len(stats_kept) == 4  # min/max can't prune interleaved values
    dict_kept = tier_filter("dictionary", stats_kept, pred, DictionaryProber())
    assert [r["row_group"] for r in dict_kept] == [1]

    got = sorted(
        (r["tag"], r["n"])
        for r in idx.read(columns=["tag", "n"], predicate=pred).collect()
    )
    off = sorted(
        (r["tag"], r["n"])
        for r in idx.read(
            columns=["tag", "n"], predicate=pred, dictionary_prune=False
        ).collect()
    )
    assert got == off == [("user_0005", 5)]

    # integer equality probes the INT64 dictionary the same way
    int_kept = tier_filter(
        "dictionary", stats_kept, [("n", "=", 7)], DictionaryProber()
    )
    assert [r["row_group"] for r in int_kept] == [3]

    # a present value keeps its row group (and only pruning of OTHERS
    # happens); non-equality conjuncts are untouched
    present = [("tag", ">=", "user_0000")]
    assert len(tier_filter("dictionary", stats_kept, present, DictionaryProber())) == 4


def test_dict_prune_conservative_on_unprobeable_chunks(spark, tmp_path):
    """No dictionary page, fallback-encoded chunks, unknown columns, and
    corrupt page bytes all yield 'unknown' — row groups are kept and
    results never change."""
    from palletjack_spark.index.builder import build_index
    from palletjack_spark.index.dictprune import (
        DictionaryProber,
        read_dictionary,
    )

    nd = str(tmp_path / "nodict.parquet")
    pq.write_table(
        pa.table(
            {
                "tag": pa.array([f"user_{i:04d}" for i in range(200)]),
                "n": pa.array(range(200), type=pa.int64()),
            }
        ),
        nd,
        row_group_size=50,
        use_dictionary=False,
    )
    idx = build_index(spark, nd)
    rows = idx._local[0]
    pred = [("tag", "=", "user_0199")]
    kept = [r for r in rows if stats_verdict(r, normalize(pred)) is None]
    # plain-encoded chunks: nothing prunable beyond stats, nothing lost
    assert tier_filter("dictionary", kept, pred, DictionaryProber()) == kept
    got = idx.read(columns=["tag"], predicate=pred).collect()
    assert [r["tag"] for r in got] == ["user_0199"]

    # corrupt dictionary-page bytes -> None (typed failure is the splice
    # layer's job; the prober must simply keep the row group)
    path = _interleaved(tmp_path)
    cc = pq.ParquetFile(path).metadata.row_group(0).column(0)
    with open(path, "r+b") as f:
        f.seek(cc.dictionary_page_offset)
        f.write(b"\xff\xff\xff\xff")
    assert read_dictionary(
        path, cc.dictionary_page_offset, cc.data_page_offset,
        cc.compression, cc.physical_type,
    ) is None
    prober = DictionaryProber()
    assert (
        prober.can_match(path, 0, 0, {
            "physical_type": cc.physical_type,
            "logical_type": "STRING",
            "dictionary_page_offset": cc.dictionary_page_offset,
            "data_page_offset": cc.data_page_offset,
            "codec": cc.compression,
        }, "user_0005")
        is None
    )


def test_dict_prune_memoizes_footer_and_dictionary_reads(tmp_path):
    """One planning pass reads each footer and each dictionary page at
    most once, however many row groups or conjuncts probe them."""
    from palletjack_spark.index import dictprune
    from palletjack_spark.index.dictprune import DictionaryProber

    path = _interleaved(tmp_path)
    md = pq.ParquetFile(path).metadata
    cc = md.row_group(0).column(0)
    meta = {
        "physical_type": cc.physical_type,
        "logical_type": "STRING",
        "dictionary_page_offset": cc.dictionary_page_offset,
        "data_page_offset": cc.data_page_offset,
        "codec": cc.compression,
    }
    calls = {"n": 0}
    real = dictprune.read_dictionary

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    prober = DictionaryProber()
    try:
        dictprune.read_dictionary = counting
        for v in ("user_0004", "user_0008", "user_0012", "user_0005"):
            prober.can_match(path, 0, 0, meta, v)
    finally:
        dictprune.read_dictionary = real
    assert calls["n"] == 1


def test_dict_prune_plan_executor_side(spark, tmp_path):
    """Catalog-scale path: the dictionary probe rides the PLAN DataFrame
    via value_prune_plan's mapInArrow — 4 plan rows in, exactly the
    matching row group out, with (file, row_group, total_byte_size)
    preserved for scan_plan — and the full read through the persisted
    (non-local) index equals the pruning-off read."""
    from palletjack_spark.index.bloomprune import value_prune_plan
    from palletjack_spark.index.builder import build_index

    path = _interleaved(tmp_path)
    idx = build_index(spark, path, index_dir=str(tmp_path / "idx"))
    assert idx._local is None  # persisted sidecar -> distributed planning
    pred = [("tag", "=", "user_0005")]
    plan = idx.prune(predicate=pred)
    assert plan.count() == 4  # stats can't prune the interleaved layout
    pruned = value_prune_plan(plan, pred)
    rows = pruned.collect()
    assert [r["row_group"] for r in rows] == [1]
    assert dict(pruned.dtypes) == {
        "file": "string", "row_group": "int", "total_byte_size": "bigint",
        "pj_ranges": "array<array<bigint>>",
    }
    got = sorted(
        (r["tag"], r["n"])
        for r in idx.read(columns=["tag", "n"], predicate=pred).collect()
    )
    off = sorted(
        (r["tag"], r["n"])
        for r in idx.read(
            columns=["tag", "n"], predicate=pred, dictionary_prune=False
        ).collect()
    )
    assert got == off == [("user_0005", 5)]
    # no equality conjuncts -> no dictionary verdict, every row kept
    rng = [("tag", ">=", "user_0000")]
    assert value_prune_plan(idx.prune(predicate=rng), rng).count() == 4


def test_dict_prune_plan_tolerates_absent_columns(spark, tmp_path):
    """A conjunct on a column that is NOT in the file schema (e.g. a
    hive partition key) filters to an empty match — the plan probe must
    treat it as unknown and keep every row group, not throw ANSI
    element_at errors (the q03c partitioned-read regression)."""
    from palletjack_spark.index.bloomprune import value_prune_plan
    from palletjack_spark.index.builder import build_index

    path = _interleaved(tmp_path)
    idx = build_index(spark, path, index_dir=str(tmp_path / "idx"))
    pred = [("not_a_column", "=", "x"), ("tag", "=", "user_0005")]
    plan = idx.prune(predicate=pred)
    rows = value_prune_plan(plan, pred).collect()
    # unknown conjunct keeps; the tag conjunct still prunes to rg1
    assert [r["row_group"] for r in rows] == [1]


def test_smart_read_routes_to_indexed_scan_via_dictionary(spark, tmp_path):
    """smart_read's routing decision is dictionary-aware: stats keep 4/4
    row groups for an interleaved point lookup (which alone would route
    native), but the dictionary probe proves 1/4 — the indexed scan
    wins, and the rows match the native path either way."""
    from palletjack_spark.index.builder import build_index
    from palletjack_spark.index.smart import smart_read

    path = _interleaved(tmp_path)
    idx = build_index(spark, path)
    got = sorted(
        (r["tag"], r["n"])
        for r in smart_read(
            spark, path, predicate=[("tag", "=", "user_0005")], index=idx
        ).collect()
    )
    assert got == [("user_0005", 5)]
    # the routing decision itself: kept/total via dictionaries = 1/4,
    # under the 0.5 threshold -> indexed (observable as the driver-read
    # LocalTableScan rather than the native FileScan)
    plan = smart_read(
        spark, path, predicate=[("tag", "=", "user_0005")], index=idx
    )._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Scan parquet" not in plan, plan


def test_in_predicate_prunes_stats_and_dictionaries(spark, tmp_path):
    """The ``in`` op joins the predicate mini-language end to end:
    stats prune when NO member overlaps [min, max]; the dictionary probe
    prunes a row group only when EVERY member is provably absent; the
    residual keeps exactly the member rows; and the distributed plan
    path agrees."""
    from palletjack_spark.index.bloomprune import value_prune_plan
    from palletjack_spark.index.builder import build_index

    path = _interleaved(tmp_path)
    idx = build_index(spark, path)
    pred = [("tag", "in", ["user_0005", "user_0006"])]  # rgs 1 and 2
    rows = idx._local[0]
    stats_kept = [r for r in rows if stats_verdict(r, normalize(pred)) is None]
    assert len(stats_kept) == 4  # interleaving defeats min/max
    dict_kept = tier_filter("dictionary", stats_kept, pred, DictionaryProber())
    assert sorted(r["row_group"] for r in dict_kept) == [1, 2]

    got = sorted(
        (r["tag"], r["n"])
        for r in idx.read(columns=["tag", "n"], predicate=pred).collect()
    )
    assert got == [("user_0005", 5), ("user_0006", 6)]

    # stats CAN prune an in-list wholly outside a sorted file's ranges
    srt = str(tmp_path / "sorted.parquet")
    pq.write_table(
        pa.table(
            {
                "tag": pa.array([f"user_{i:04d}" for i in range(400)]),
                "n": pa.array(range(400), type=pa.int64()),
            }
        ),
        srt,
        row_group_size=100,
    )
    sidx = build_index(spark, srt)
    skept = [
        r
        for r in sidx._local[0]
        if stats_verdict(r, normalize([("n", "in", [5, 7])])) is None
    ]
    assert [r["row_group"] for r in skept] == [0]
    # empty IN matches nothing
    assert (
        sidx.read(columns=["n"], predicate=[("n", "in", [])]).count() == 0
    )

    # distributed plan path agrees
    didx = build_index(spark, path, index_dir=str(tmp_path / "idx"))
    plan = didx.prune(predicate=pred)
    assert plan.count() == 4
    assert sorted(
        r["row_group"] for r in value_prune_plan(plan, pred).collect()
    ) == [1, 2]
    dgot = sorted(
        (r["tag"], r["n"])
        for r in didx.read(columns=["tag", "n"], predicate=pred).collect()
    )
    assert dgot == got


def test_logical_type_gate_refuses_non_identity_probes():
    """Value-level probes run ONLY when the raw physical encoding IS the
    literal's value space (round-10 ADVICE, high): DECIMAL stored as
    INT32/INT64 unscaled (literal 5, stored 500), unsigned-as-signed,
    and time re-encodings must all refuse — a miss would wrongly prune
    row groups that DO match, silently losing rows."""
    from palletjack_spark.index.dictprune import _probe_value

    # identity mappings probe
    assert _probe_value("x", "BYTE_ARRAY", "STRING") == b"x"
    assert _probe_value("x", "BYTE_ARRAY", "NONE") == b"x"
    assert _probe_value(5, "INT64", "NONE") == 5
    assert _probe_value(5, "INT32", "INT(32,true)") == 5
    assert _probe_value(5, "INT64", "INT(64,true)") == 5
    assert _probe_value(1.5, "DOUBLE", "NONE") == 1.5
    # non-identity / unknown annotations refuse (keep)
    assert _probe_value(5, "INT64", "DECIMAL") is None
    assert _probe_value(5, "INT32", "DECIMAL") is None
    assert _probe_value(5, "INT32", "INT(32,false)") is None
    assert _probe_value(5, "INT64", "INT(64,false)") is None
    assert _probe_value(5, "INT64", "TIMESTAMP") is None
    assert _probe_value(5, "INT32", "DATE") is None
    assert _probe_value(5, "INT64", None) is None  # pre-round-10 sidecar
    assert _probe_value("x", "BYTE_ARRAY", "JSON") is None
    # NaN never probes: Spark treats NaN = NaN as TRUE, set probes don't
    assert _probe_value(float("nan"), "DOUBLE", "NONE") is None


def test_unsigned_column_not_wrongly_pruned(spark, tmp_path):
    """uint32 3e9 stores raw as its SIGNED reinterpretation; before the
    logical-type gate the dictionary probe looked up the logical value,
    missed, and wrongly pruned the row group holding the match."""
    from palletjack_spark.index.builder import build_index

    path = str(tmp_path / "u.parquet")
    pq.write_table(
        pa.table({"u": pa.array([5, 3_000_000_000], type=pa.uint32())}),
        path,
    )
    idx = build_index(spark, path)
    rg = idx._local[0][0]
    col = rg["columns"][0]
    assert col["logical_type"] == "INT(32,false)"
    pred = [("u", "=", 3_000_000_000)]
    assert stats_verdict(rg, normalize(pred)) is None  # stats keep (value in range)
    # the gate refuses the probe -> the row group SURVIVES
    kept = tier_filter("dictionary", [rg], pred, DictionaryProber())
    assert [r["row_group"] for r in kept] == [0]


def test_spark_decimal_column_indexes_and_reads(spark, tmp_path):
    """Spark stores decimal(15,2) as INT64 unscaled (logical DECIMAL);
    pyarrow raises ArrowNotImplementedError extracting its min/max — the
    build must degrade that column's stats to unknown instead of failing
    the file, record the DECIMAL tag, and an equality read must return
    the matching row (the ADVICE wrong-prune scenario: literal 5 vs
    stored 500)."""
    import decimal
    import glob

    from palletjack_spark.index.builder import build_index

    df = spark.createDataFrame(
        [(decimal.Decimal("1.00"),), (decimal.Decimal("5.00",),)],
        "d decimal(15,2)",
    )
    out = str(tmp_path / "dec")
    df.coalesce(1).write.parquet(out)
    f = sorted(glob.glob(out + "/*.parquet"))[0]
    idx = build_index(spark, f)
    col = idx._local[0][0]["columns"][0]
    assert col["logical_type"] == "DECIMAL"
    assert col["min_num"] is None and col["min_repr"] is None
    got = [r["d"] for r in idx.read(predicate=[("d", "=", 5)]).collect()]
    assert got == [decimal.Decimal("5.00")]


def test_exclusion_ops_prune_stats_and_dictionaries(spark, tmp_path):
    """!= / not_in complete the equality family: the stats tier prunes a
    provably single-valued chunk on an excluded value; the dictionary
    tier prunes when the WHOLE dictionary is excluded (single-/few-value
    dictionary chunks — constant columns in log data); results equal the
    pruning-off read."""
    from palletjack_spark.index.bloomprune import value_prune_plan
    from palletjack_spark.index.builder import build_index

    path = str(tmp_path / "ex.parquet")
    ks = ["a", "b"] * 50 + ["b", "c"] * 50  # rg0 dict {a,b}, rg1 {b,c}
    pq.write_table(
        pa.table({"k": pa.array(ks), "n": pa.array(range(200), pa.int64())}),
        path,
        row_group_size=100,
    )
    idx = build_index(spark, path)
    rows = idx._local[0]
    pred = [("k", "not_in", ["a", "b"])]
    stats_kept = [r for r in rows if stats_verdict(r, normalize(pred)) is None]
    assert len(stats_kept) == 2  # neither rg is single-valued
    dict_kept = tier_filter("dictionary", stats_kept, pred, DictionaryProber())
    assert [r["row_group"] for r in dict_kept] == [1]  # {a,b} excluded
    got = sorted(
        (r["k"], r["n"]) for r in idx.read(predicate=pred).collect()
    )
    assert got == [("c", n) for n in range(101, 200, 2)]
    off = sorted(
        (r["k"], r["n"])
        for r in idx.read(predicate=pred, dictionary_prune=False).collect()
    )
    assert got == off

    # stats tier alone prunes a single-valued chunk on != (no dict read)
    cpath = str(tmp_path / "const.parquet")
    pq.write_table(
        pa.table({"k": pa.array(["a"] * 100 + ["b"] * 100)}),
        cpath,
        row_group_size=100,
    )
    cidx = build_index(spark, cpath)
    ckept = [
        r
        for r in cidx._local[0]
        if stats_verdict(r, normalize([("k", "!=", "a")])) is None
    ]
    assert [r["row_group"] for r in ckept] == [1]
    assert [r["k"] for r in cidx.read(predicate=[("k", "!=", "a")]).collect()] == ["b"] * 100

    # distributed plan path agrees
    pidx = build_index(spark, path, index_dir=str(tmp_path / "idx"))
    plan = pidx.prune(predicate=pred)
    assert [r["row_group"] for r in value_prune_plan(plan, pred).collect()] == [1]


def test_exclusion_never_prunes_float_chunks_with_nan(spark, tmp_path):
    """Round-10 ADVICE (medium): parquet writers compute float/double
    min/max IGNORING NaN, so a chunk holding {5.0, NaN} reports
    lo == hi == 5.0 — but its NaN rows DO satisfy ``x != 5.0`` (Spark
    orders NaN above every double; NaN != 5.0 is TRUE).  The lo == hi
    exclusion prune must therefore never fire on FLOAT/DOUBLE chunks;
    integer chunks keep pruning."""
    from palletjack_spark.index.builder import build_index

    path = str(tmp_path / "nan.parquet")
    pq.write_table(
        pa.table(
            {"x": pa.array([5.0, float("nan")] * 50 + [7.0] * 100,
                           type=pa.float64())}
        ),
        path,
        row_group_size=100,
    )
    idx = build_index(spark, path)
    rows = idx._local[0]
    # rg0 stats: min=max=5.0 (NaN ignored) — must be KEPT for != 5.0
    st = next(c for c in rows[0]["columns"] if c["name"] == "x")
    assert st["min_num"] == st["max_num"] == 5.0
    for pred in ([("x", "!=", 5.0)], [("x", "not_in", [5.0, 9.0])]):
        assert stats_verdict(rows[0], normalize(pred)) is None
        assert idx.prune(predicate=pred).count() == 2
        got = [r["x"] for r in idx.read(predicate=pred).collect()]
        import math

        assert sum(1 for v in got if math.isnan(v)) == 50
        assert sum(1 for v in got if v == 7.0) == 100

    # integer chunks still exclusion-prune (the gate is float-specific)
    ipath = str(tmp_path / "int.parquet")
    pq.write_table(
        pa.table({"x": pa.array([5] * 100 + [7] * 100, type=pa.int64())}),
        ipath,
        row_group_size=100,
    )
    iidx = build_index(spark, ipath)
    ikept = [
        r for r in iidx._local[0]
        if stats_verdict(r, normalize([("x", "!=", 5)])) is None
    ]
    assert [r["row_group"] for r in ikept] == [1]
    assert iidx.prune(predicate=[("x", "!=", 5)]).count() == 1


def test_dictionary_corruption_never_crashes_probes(tmp_path):
    """Round-10 deep fuzz (committed at a bounded example count; the
    2500-example sweep ran clean): arbitrary byte corruption of the
    dictionary-page region must leave BOTH probe directions — equality
    ``can_match`` and exclusion ``all_excluded`` — returning a tri-state
    verdict, never raising through the prober (every parse failure is
    'unknown -> keep')."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from palletjack_spark.index.dictprune import DictionaryProber

    rng = np.random.default_rng(7)
    path = str(tmp_path / "f.parquet")
    pq.write_table(
        pa.table(
            {
                "a": pa.array(rng.integers(0, 2**40, 200), type=pa.int64()),
                "b": pa.array([f"s{i % 17}" for i in range(200)]),
            }
        ),
        path,
        row_group_size=40,
    )
    md = pq.ParquetFile(path).metadata
    raw = open(path, "rb").read()
    metas = []
    for j, lt in ((0, "NONE"), (1, "STRING")):
        cc = md.row_group(0).column(j)
        metas.append(
            {
                "physical_type": cc.physical_type,
                "logical_type": lt,
                "dictionary_page_offset": cc.dictionary_page_offset,
                "data_page_offset": cc.data_page_offset,
                "codec": cc.compression,
            }
        )
    lo = min(m["dictionary_page_offset"] for m in metas)
    hi = max(m["data_page_offset"] for m in metas)

    @settings(max_examples=100, deadline=None)
    @given(
        edits=st.lists(
            st.tuples(st.integers(lo, hi - 1), st.integers(0, 255)),
            min_size=1,
            max_size=12,
        ),
        col=st.integers(0, 1),
        probe=st.one_of(
            st.integers(-(2**62), 2**62),
            st.text(max_size=8),
            st.floats(allow_nan=True),
        ),
        mode=st.booleans(),
    )
    def check(edits, col, probe, mode):
        p2 = str(tmp_path / "edit.parquet")
        b = bytearray(raw)
        for pos, val in edits:
            b[pos] = val
        with open(p2, "wb") as f:
            f.write(bytes(b))
        prober = DictionaryProber()
        if mode:
            r = prober.can_match(p2, 0, col, metas[col], probe)
        else:
            r = prober.all_excluded(p2, 0, col, metas[col], [probe])
        assert r in (True, False, None)

    check()
