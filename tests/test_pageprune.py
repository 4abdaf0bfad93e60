"""Page-index (ColumnIndex/OffsetIndex) pruning (round 11, q03h): the
ENVELOPE-GAP layout — per-page value bands far apart inside a row group,
so the row-group [min, max] covers a literal no individual page holds.
Stats keep everything, plain-encoded chunks defeat the dictionary tier,
no blooms exist; only per-page envelopes prove row groups empty.  Every
unknown keeps, so results are identical with pruning on or off."""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

from palletjack_spark.index.pageprune import PageProber
from palletjack_spark.index.predicate import canonical, normalize, stats_verdict
from palletjack_spark.index.tiers import tier_filter
from tests.conftest import SF_DIR  # noqa: F401  (session fixture import)


def _gap_fixture(tmp_path, name="gap.parquet", bands=16, band_rows=1024):
    """4 row groups × (bands/4) pages: row group r holds value bands
    ``b ≡ r (mod 4)`` — every rg's envelope spans ~the whole domain
    while pages stay band-tight.  Pages are forced to band boundaries
    (write_batch_size == band size, 1-byte data_page_size)."""
    path = str(tmp_path / name)
    n = bands * band_rows
    vals = list(range(n))
    schema = pa.schema([("k", pa.int64()), ("tag", pa.string())])
    w = pq.ParquetWriter(
        path,
        schema,
        use_dictionary=False,
        write_page_index=True,
        data_page_size=1,
        write_batch_size=band_rows,
    )
    for r in range(4):
        rows = []
        for b in range(r, bands, 4):
            rows.extend(vals[b * band_rows : (b + 1) * band_rows])
        w.write_table(
            pa.table(
                {
                    "k": pa.array(rows, type=pa.int64()),
                    "tag": pa.array([f"t{v:07d}" for v in rows]),
                },
                schema=schema,
            ),
            row_group_size=len(rows),
        )
    w.close()
    return path


def test_parse_pins_pyarrow_layout(tmp_path):
    """ColumnIndex/OffsetIndex parse must reproduce the writer's page
    bands exactly — bounds, null flags, first-row ordinals."""
    from palletjack_spark.index.footer_splice import read_footer_bytes
    from palletjack_spark.index.pageprune import (
        page_index_offsets,
        read_column_index,
        read_offset_index,
    )

    path = _gap_fixture(tmp_path)
    footer = read_footer_bytes(path)
    offs = page_index_offsets(footer, 0, 0)
    assert offs is not None
    ci = read_column_index(path, offs[0], offs[1], "INT64")
    # rg0 holds bands 0, 4, 8, 12
    assert ci["mins"] == [0, 4096, 8192, 12288]
    assert ci["maxs"] == [1023, 5119, 9215, 13311]
    assert ci["null_pages"] == [False] * 4
    assert ci["null_counts"] == [0] * 4
    oi = read_offset_index(path, offs[2], offs[3])
    assert oi == [0, 1024, 2048, 3072]
    # string column parses too (truncation-safe raw bytes)
    offs_s = page_index_offsets(footer, 0, 1)
    ci_s = read_column_index(path, offs_s[0], offs_s[1], "BYTE_ARRAY")
    assert ci_s["mins"][0] == b"t0000000"


def test_pinned_skip_counts(tmp_path):
    """The q03h contract: stats keep all 4 row groups (envelopes span
    the literal), the page tier keeps EXACTLY the owning one — for
    equality, IN, and pure ranges — and pins 1 of 4 surviving pages."""
    from palletjack_spark.index.builder import _extract_file_rows

    path = _gap_fixture(tmp_path)
    _f, rgs = _extract_file_rows(path)
    assert len(rgs) == 4
    # 5632 = band 5 center -> row group 1 (bands 1, 5, 9, 13), page 1
    for pred in (
        [("k", "=", 5632)],
        [("k", "in", [5632, 5633])],
        [("k", ">=", 5600), ("k", "<=", 5700)],
        [("tag", "=", "t0005632")],
    ):
        stats_kept = [r for r in rgs if stats_verdict(r, normalize(pred)) is None]
        assert len(stats_kept) == 4, pred  # stats tier is blind here
        page_kept = tier_filter("page", stats_kept, pred, PageProber())
        assert [r["row_group"] for r in page_kept] == [1], pred
    # the row-granular selection: 1 of 4 pages in the surviving rg
    prober = PageProber()
    meta = next(c for c in rgs[1]["columns"] if c["name"] == "k")
    look = lambda n: (0, meta) if n == "k" else None  # noqa: E731
    ranges = prober.surviving_ranges(
        path, 1, rgs[1]["num_rows"], [("k", "=", 5632)], look
    )
    assert ranges == [(1024, 2048)]
    # an absent-from-everywhere value prunes all four row groups
    assert tier_filter("page", rgs, [("k", "=", 10**9)], PageProber()) == []
    # multi-column intersection: k's page 1 of rg1 vs tag range in a
    # DIFFERENT band of rg1 -> provably disjoint rows, rg pruned
    both = [("k", "=", 5632), ("tag", "<", "t0001000")]
    assert tier_filter("page", rgs, both, PageProber()) == []


def test_end_to_end_read_equals_pruning_off(spark, tmp_path):
    """Full read() equality with the tier on vs off — pruning is a pure
    optimization."""
    from palletjack_spark import build_index

    path = _gap_fixture(tmp_path)
    idx = build_index(spark, path)
    for pred in (
        [("k", "=", 5632)],
        [("k", ">=", 4100), ("k", "<=", 4200)],
        [("k", "!=", 0)],
        [("tag", "=", "t0005632")],
    ):
        on = idx.read(columns=["k", "tag"], predicate=pred)
        off = idx.read(
            columns=["k", "tag"], predicate=pred, dictionary_prune=False
        )
        assert sorted(map(tuple, on.collect())) == sorted(
            map(tuple, off.collect())
        ), pred


def test_plan_variant_prunes_executor_side(spark, tmp_path):
    """value_prune_plan's page leg: the catalog-scale path reaches the
    same verdicts — including a PURE-RANGE predicate, which the dict
    and bloom tiers can't probe at all."""
    from palletjack_spark import build_index
    from palletjack_spark.index.bloomprune import value_prune_plan

    path = _gap_fixture(tmp_path)
    idx = build_index(spark, path)
    for pred, survivors in (
        ([("k", "=", 5632)], [1]),
        ([("k", ">=", 4100), ("k", "<=", 4200)], [0]),
        ([("k", ">=", 0)], [0, 1, 2, 3]),
    ):
        plan = idx.prune(predicate=pred)
        got = sorted(
            r["row_group"] for r in value_prune_plan(plan, pred).collect()
        )
        assert got == survivors, pred


def test_null_page_and_null_count_semantics(tmp_path):
    """An all-NULL page fails every value conjunct (and not_null) but
    passes is_null; zero-null pages fail is_null."""
    from palletjack_spark.index.builder import _extract_file_rows

    path = str(tmp_path / "nulls.parquet")
    # page 0: values, page 1: all NULL, page 2: values
    col = list(range(1024)) + [None] * 1024 + list(range(4096, 5120))
    w = pq.ParquetWriter(
        path,
        pa.schema([("k", pa.int64())]),
        use_dictionary=False,
        write_page_index=True,
        data_page_size=1,
        write_batch_size=1024,
    )
    w.write_table(
        pa.table({"k": pa.array(col, pa.int64())}), row_group_size=len(col)
    )
    w.close()
    _f, rgs = _extract_file_rows(path)
    # 2000 sits between page 0's and page 2's bands; the NULL page can't
    # hold it either -> the whole row group is provably empty
    assert tier_filter("page", rgs, [("k", "=", 2000)], PageProber()) == []
    # values present in real pages keep
    assert len(tier_filter("page", rgs, [("k", "=", 100)], PageProber())) == 1
    # is_null keeps (the NULL page exists); not_null keeps (value pages)
    assert len(tier_filter("page", rgs, [("k", "is_null")], PageProber())) == 1
    assert len(tier_filter("page", rgs, [("k", "not_null")], PageProber())) == 1


def test_no_nulls_fails_is_null(tmp_path):
    from palletjack_spark.index.builder import _extract_file_rows

    path = _gap_fixture(tmp_path, name="nonull.parquet")
    _f, rgs = _extract_file_rows(path)
    assert tier_filter("page", rgs, [("k", "is_null")], PageProber()) == []


def test_truncated_byte_array_bounds_stay_sound(tmp_path):
    """Strings past the writer's 64-byte column-index truncation: the
    prefix-min / incremented-max remain valid envelope bounds — present
    values keep, far-outside values prune."""
    from palletjack_spark.index.builder import _extract_file_rows

    path = str(tmp_path / "trunc.parquet")
    prefix = "p" * 70  # > 64-byte truncation window
    vals = [f"{prefix}{i:05d}" for i in range(2048)]
    w = pq.ParquetWriter(
        path,
        pa.schema([("s", pa.string())]),
        use_dictionary=False,
        write_page_index=True,
        data_page_size=1,
        write_batch_size=1024,
    )
    w.write_table(pa.table({"s": pa.array(vals)}), row_group_size=2048)
    w.close()
    _f, rgs = _extract_file_rows(path)
    # every stored value must keep (truncation can't fake a miss)
    for probe in (vals[0], vals[1024], vals[2047]):
        assert len(tier_filter("page", rgs, [("s", "=", probe)], PageProber())) == 1
    # a value before every prefix prunes; one after the incremented
    # max prunes too
    assert tier_filter("page", rgs, [("s", "=", "a")], PageProber()) == []
    assert tier_filter("page", rgs, [("s", "=", "q")], PageProber()) == []
    # exclusion on a truncated single-page bound must NOT fire a fake
    # single-valued proof (min != incremented max)
    assert len(tier_filter("page", rgs, [("s", "!=", vals[0])], PageProber())) == 1


def test_identity_logical_gate_and_float_rules(tmp_path):
    """Non-identity logical re-encodings never probe; float pages never
    exclusion-prune; NaN literals keep."""
    from palletjack_spark.index.builder import _extract_file_rows

    path = str(tmp_path / "types.parquet")
    import decimal

    n = 2048
    w = pq.ParquetWriter(
        path,
        pa.schema(
            [
                ("d", pa.decimal128(9, 2)),  # INT32-backed, non-identity
                ("f", pa.float64()),
                ("u", pa.uint32()),  # unsigned-as-signed, non-identity
            ]
        ),
        use_dictionary=False,
        write_page_index=True,
        data_page_size=1,
        write_batch_size=1024,
    )
    w.write_table(
        pa.table(
            {
                "d": pa.array(
                    [decimal.Decimal(i) / 100 for i in range(n)],
                    pa.decimal128(9, 2),
                ),
                "f": pa.array([float(i) for i in range(n)], pa.float64()),
                "u": pa.array(range(n), pa.uint32()),
            }
        ),
        row_group_size=n,
    )
    w.close()
    _f, rgs = _extract_file_rows(path)
    # decimal + unsigned: the gate refuses, absurd literals still keep
    assert len(tier_filter("page", rgs, [("d", "=", 10**9)], PageProber())) == 1
    assert len(tier_filter("page", rgs, [("u", "=", -5)], PageProber())) == 1
    # float ranges DO prune (engine-parity doctrine)...
    assert tier_filter("page", rgs, [("f", ">", 1e9)], PageProber()) == []
    # ...but exclusion and NaN literals never do
    assert len(tier_filter("page", rgs, [("f", "!=", 0.0)], PageProber())) == 1
    assert len(tier_filter("page", rgs, [("f", "=", float("nan"))], PageProber())) == 1


def test_single_valued_page_exclusion(tmp_path):
    """!=/NOT IN prune a row group whose every page is provably
    single-valued and excluded — the page-granular mirror of the stats
    tier's lo == hi proof."""
    from palletjack_spark.index.builder import _extract_file_rows

    path = str(tmp_path / "const.parquet")
    w = pq.ParquetWriter(
        path,
        pa.schema([("c", pa.int64())]),
        use_dictionary=False,
        write_page_index=True,
        data_page_size=1,
        write_batch_size=1024,
    )
    # rg0: pages of constant 7 and constant 9; rg1: constant 11
    w.write_table(
        pa.table({"c": pa.array([7] * 1024 + [9] * 1024, pa.int64())}),
        row_group_size=2048,
    )
    w.write_table(
        pa.table({"c": pa.array([11] * 1024, pa.int64())}),
        row_group_size=1024,
    )
    w.close()
    _f, rgs = _extract_file_rows(path)
    kept = tier_filter("page", rgs, [("c", "not_in", [7, 9])], PageProber())
    assert [r["row_group"] for r in kept] == [1]
    assert len(tier_filter("page", rgs, [("c", "!=", 11)], PageProber())) == 1


def test_absent_index_keeps(tmp_path):
    """Files written without a page index are untouched — absence is
    unknown, unknown keeps."""
    from palletjack_spark.index.builder import _extract_file_rows
    from palletjack_spark.index.footer_splice import read_footer_bytes
    from palletjack_spark.index.pageprune import (
        page_index_offsets,
    )

    path = str(tmp_path / "noidx.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(4096), pa.int64())}),
        path,
        row_group_size=1024,
        write_page_index=False,
    )
    assert page_index_offsets(read_footer_bytes(path), 0, 0) is None
    _f, rgs = _extract_file_rows(path)
    kept = tier_filter("page", rgs, [("k", "=", 10**9)], PageProber())
    assert len(kept) == len(rgs)


def test_corruption_fuzz_never_crashes(tmp_path):
    """Random byte damage across the page-index region: every probe
    must either parse or degrade to keep — never raise."""
    from palletjack_spark.index.footer_splice import read_footer_bytes
    from palletjack_spark.index.pageprune import (
        PageProber,
        page_index_offsets,
    )

    path = _gap_fixture(tmp_path, name="fuzz.parquet", bands=8)
    footer = read_footer_bytes(path)
    offs = page_index_offsets(footer, 0, 0)
    raw = bytearray(open(path, "rb").read())
    rng = random.Random(11)
    meta = {"physical_type": "INT64", "logical_type": "NONE"}
    look = lambda n: (0, meta)  # noqa: E731
    lo = offs[0]
    hi = (offs[2] or offs[0]) + (offs[3] or offs[1])
    for _ in range(120):
        dmg = bytearray(raw)
        for _k in range(rng.randint(1, 6)):
            pos = rng.randrange(lo, hi)
            dmg[pos] = rng.randrange(256)
        p = str(tmp_path / "dmg.parquet")
        with open(p, "wb") as fh:
            fh.write(dmg)
        prober = PageProber()
        # must not raise, whatever the verdict
        prober.rg_can_match(p, 0, 2048, [("k", "=", 123)], look)
        prober.surviving_ranges(p, 0, 2048, [("k", "=", 123)], look)


def test_datasource_plans_through_page_tier(spark, tmp_path):
    """format("palletjack") planning reaches the page tier: a pushed
    range filter inside an envelope gap plans only the owning row
    group — granularity the dictionary/bloom legs can't provide."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo

    from palletjack_spark.sources.python_datasource import (
        PalletJackReader,
        register_datasource,
    )

    register_datasource(spark)
    path = _gap_fixture(tmp_path, name="ds.parquet")
    df = spark.read.format("palletjack").load(path)
    r = PalletJackReader([path], df.schema)
    list(r.pushFilters([EqualTo(("k",), 5632)]))
    assert [p.value for p in r.partitions()] == [(path, [1])]
    got = df.where(F.col("k") == 5632).collect()
    assert [(x["k"], x["tag"]) for x in got] == [(5632, "t0005632")]


def test_smart_read_routes_through_page_tier(spark, tmp_path):
    """smart_read's routing estimate counts the page tier: equality AND
    pure-range predicates over the gap layout (where stats keep 4/4 and
    there are no dictionaries or blooms to probe) route to the INDEXED
    scan — plan-asserted, not just row-equal — and return exact rows."""
    from palletjack_spark import build_index
    from palletjack_spark.index.smart import smart_read

    path = _gap_fixture(tmp_path, name="route.parquet")
    build_index(spark, path)
    for pred, expect in (
        ([("k", "=", 5632)], [(5632, "t0005632")]),
        (
            [("k", ">=", 5630), ("k", "<=", 5633)],
            [(v, f"t{v:07d}") for v in range(5630, 5634)],
        ),
    ):
        df = smart_read(spark, path, columns=["k", "tag"], predicate=pred)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "Scan parquet" not in plan, plan[:800]
        got = sorted((r["k"], r["tag"]) for r in df.collect())
        assert got == expect, pred


# --------------------------------------------------------------------------
# writer: add_page_index (enrichment of data at rest)
# --------------------------------------------------------------------------


def _plain_banded(tmp_path, name="plain.parquet", with_index=False):
    """The gap fixture WITHOUT a page index (pyarrow default) — the
    data-at-rest layout add_page_index exists for."""
    path = str(tmp_path / name)
    N = 16 * 1024
    vals = list(range(N))
    rows = []
    for r in range(4):
        for b in (r, r + 4, r + 8, r + 12):
            rows.extend(vals[b * 1024 : (b + 1) * 1024])
    t = pa.table(
        {
            "k": pa.array(rows, pa.int64()),
            "tag": [f"t{v:07d}" for v in rows],
        }
    )
    w = pq.ParquetWriter(
        path,
        t.schema,
        use_dictionary=False,
        data_page_size=1,
        write_batch_size=1024,
        write_page_index=with_index,
    )
    for r in range(4):
        w.write_table(t.slice(r * 4096, 4096), row_group_size=4096)
    w.close()
    return path


def test_writer_roundtrip_and_pinned_bounds(tmp_path):
    """add_page_index on a page-index-less file: our reader parses the
    written structs with the exact band bounds, pyarrow still reads the
    file, verdicts match the pyarrow-written fixture, and a second call
    enriches nothing."""
    from palletjack_spark.index.footer_splice import read_footer_bytes
    from palletjack_spark.index.pageprune import (
        PageProber,
        add_page_index,
        page_index_offsets,
        read_column_index,
        read_offset_index,
    )

    path = _plain_banded(tmp_path)
    assert page_index_offsets(read_footer_bytes(path), 0, 0) is None
    assert add_page_index(path) == 8  # 4 rgs x 2 columns
    fb = read_footer_bytes(path)
    offs = page_index_offsets(fb, 0, 0)
    ci = read_column_index(path, offs[0], offs[1], "INT64")
    assert ci["mins"] == [0, 4096, 8192, 12288]
    assert ci["maxs"] == [1023, 5119, 9215, 13311]
    assert ci["null_counts"] == [0] * 4
    assert read_offset_index(path, offs[2], offs[3]) == [0, 1024, 2048, 3072]
    t = pq.read_table(path)
    assert t.num_rows == 16 * 1024
    assert sorted(t["k"].to_pylist()) == list(range(16 * 1024))
    prober = PageProber()
    meta = {"physical_type": "INT64", "logical_type": "NONE"}
    look = lambda n: (0, meta) if n == "k" else None  # noqa: E731
    verdicts = [
        prober.rg_can_match(path, rg, 4096, [("k", "=", 5632)], look)
        for rg in range(4)
    ]
    assert verdicts == [False, True, False, False]
    assert add_page_index(path) == 0  # idempotent


def test_writer_spark_interop_and_bloom_composition(spark, tmp_path):
    """parquet-mr reads (and page-filters) the enriched file natively;
    bloom enrichment composes on the same file via a second footer
    surgery, and both probes keep working."""
    from pyspark.sql import functions as F

    from palletjack_spark.index.bloomprune import BloomProber, add_bloom_filters
    from palletjack_spark.index.footer_splice import read_footer_bytes
    from palletjack_spark.index.pageprune import (
        PageProber,
        add_page_index,
        page_index_offsets,
    )

    path = _plain_banded(tmp_path, name="interop.parquet")
    add_page_index(path)
    df = spark.read.parquet(path)
    got = df.where(F.col("k") == 5632).select("k", "tag").collect()
    assert [(r["k"], r["tag"]) for r in got] == [(5632, "t0005632")]
    assert df.count() == 16 * 1024
    assert df.where((F.col("k") >= 4100) & (F.col("k") <= 4200)).count() == 101

    assert add_bloom_filters(path, ["k"]) == 4
    fb = read_footer_bytes(path)
    assert page_index_offsets(fb, 0, 0) is not None  # survives the splice
    meta = {"physical_type": "INT64", "logical_type": "NONE"}
    bp = BloomProber()
    assert bp.can_match(path, 1, 0, meta, 5632) is True
    assert bp.can_match(path, 1, 0, meta, 10**9) is False
    pp = PageProber()
    look = lambda n: (0, meta) if n == "k" else None  # noqa: E731
    assert pp.rg_can_match(path, 1, 4096, [("k", "=", 5632)], look) is True
    df2 = spark.read.parquet(path)
    assert df2.count() == 16 * 1024
    assert df2.where(F.col("k") == 5632).count() == 1


def test_writer_bloom_then_page_index_composition(tmp_path):
    """The reverse composition: blooms first, then the page index, each a
    footer surgery over the other's output.  Both probes answer, pyarrow
    reads every row, and a second call of each writer enriches nothing."""
    from palletjack_spark.index.bloomprune import BloomProber, add_bloom_filters
    from palletjack_spark.index.bloomprune import bloom_offsets
    from palletjack_spark.index.footer_splice import read_footer_bytes
    from palletjack_spark.index.pageprune import (
        PageProber,
        add_page_index,
        page_index_offsets,
    )

    path = _plain_banded(tmp_path, name="reverse.parquet")
    assert add_bloom_filters(path, ["k", "tag"]) == 8
    assert add_page_index(path) == 8
    fb = read_footer_bytes(path)
    for rg in range(4):
        for col in range(2):  # each chunk carries both indexes
            assert bloom_offsets(fb, rg, col) is not None
            assert page_index_offsets(fb, rg, col) is not None
    meta = {"physical_type": "INT64", "logical_type": "NONE"}
    bp = BloomProber()
    assert bp.can_match(path, 1, 0, meta, 5632) is True
    assert bp.can_match(path, 1, 0, meta, 10**9) is False
    pp = PageProber()
    look = lambda n: (0, meta) if n == "k" else None  # noqa: E731
    verdicts = [
        pp.rg_can_match(path, rg, 4096, [("k", "=", 5632)], look)
        for rg in range(4)
    ]
    assert verdicts == [False, True, False, False]
    t = pq.read_table(path)
    assert t.num_rows == 16 * 1024
    assert sorted(t["k"].to_pylist()) == list(range(16 * 1024))
    assert add_bloom_filters(path, ["k", "tag"]) == 0
    assert add_page_index(path) == 0


def test_writer_truncates_long_byte_arrays_soundly(tmp_path):
    """Bounds past the 64-byte window: written min is a prefix (<= true
    min), written max >= true max — stored values keep, outsiders
    prune."""
    from palletjack_spark.index.footer_splice import read_footer_bytes
    from palletjack_spark.index.pageprune import (
        add_page_index,
        page_index_offsets,
        read_column_index,
    )
    from palletjack_spark.index.builder import _extract_file_rows

    path = str(tmp_path / "long.parquet")
    prefix = "x" * 70
    vals = [f"{prefix}{i:05d}" for i in range(2048)]
    w = pq.ParquetWriter(
        path,
        pa.schema([("s", pa.string())]),
        use_dictionary=False,
        data_page_size=1,
        write_batch_size=1024,
    )
    w.write_table(pa.table({"s": pa.array(vals)}), row_group_size=2048)
    w.close()
    assert add_page_index(path) == 1
    fb = read_footer_bytes(path)
    offs = page_index_offsets(fb, 0, 0)
    ci = read_column_index(path, offs[0], offs[1], "BYTE_ARRAY")
    for i in (0, 1):
        assert len(ci["mins"][i]) <= 64 and len(ci["maxs"][i]) <= 64
        assert ci["maxs"][i] >= max(vals).encode()[: len(ci["maxs"][i])]
    _f, rgs = _extract_file_rows(path)
    for probe in (vals[0], vals[1024], vals[2047]):
        assert len(tier_filter("page", rgs, [("s", "=", probe)], PageProber())) == 1
    assert tier_filter("page", rgs, [("s", "=", "a")], PageProber()) == []


def test_writer_handles_v2_pages_nulls_and_rejects(spark, tmp_path):
    """DataPageHeaderV2 row counts, all-NULL pages, and the explicit
    rejection contract (unknown and nested columns)."""
    import pytest

    from palletjack_spark.errors import InvalidSelectionError
    from palletjack_spark.index.builder import _extract_file_rows
    from palletjack_spark.index.footer_splice import read_footer_bytes
    from palletjack_spark.index.pageprune import (
        add_page_index,
        page_index_offsets,
        read_column_index,
    )

    path = str(tmp_path / "v2.parquet")
    col = list(range(1024)) + [None] * 1024 + list(range(4096, 5120))
    w = pq.ParquetWriter(
        path,
        pa.schema([("k", pa.int64())]),
        use_dictionary=False,
        data_page_size=1,
        write_batch_size=1024,
        data_page_version="2.0",
    )
    w.write_table(
        pa.table({"k": pa.array(col, pa.int64())}), row_group_size=len(col)
    )
    w.close()
    assert add_page_index(path) == 1
    offs = page_index_offsets(read_footer_bytes(path), 0, 0)
    ci = read_column_index(path, offs[0], offs[1], "INT64")
    # v2 merges the zero-byte all-NULL batch into its neighbor: 2 pages,
    # [0, 1023] and [nulls + 4096..5119] — the v2 num_rows walk is what
    # this pins (firsts 0/1024, stats NULL-aware)
    assert ci["null_pages"] == [False, False]
    assert ci["null_counts"] == [0, 1024]
    assert ci["mins"] == [0, 4096] and ci["maxs"] == [1023, 5119]
    _f, rgs = _extract_file_rows(path)
    assert tier_filter("page", rgs, [("k", "=", 2000)], PageProber()) == []
    assert len(tier_filter("page", rgs, [("k", "is_null")], PageProber())) == 1

    with pytest.raises(InvalidSelectionError):
        add_page_index(path, ["nope"])
    nested = str(tmp_path / "nested.parquet")
    pq.write_table(
        pa.table({"a": pa.array([[1, 2], [3]], pa.list_(pa.int64()))}),
        nested,
    )
    with pytest.raises(InvalidSelectionError):
        add_page_index(nested, ["a.list.element"])
    # default-column selection skips the nested leaf instead of raising
    assert add_page_index(nested) == 0


def test_writer_feeds_jvm_interval_push(spark, tmp_path):
    """A file enriched by OUR writer feeds _per_file_intervals — the
    at-rest path to pure-SQL envelope-gap pruning, no rewrite."""
    import struct as _struct

    from palletjack_spark import build_index
    from palletjack_spark.index.jvm_routing import _per_file_intervals
    from palletjack_spark.index.pageprune import add_page_index

    path = _plain_banded(tmp_path, name="jvmfeed.parquet")
    add_page_index(path, ["k"])
    idx = build_index(spark, path)
    got = _per_file_intervals(idx, ["k"])
    packed = got[path]["k"]
    count = _struct.unpack(">I", packed[:4])[0]
    flat = _struct.unpack(f">{2 * count}d", packed[4:])
    # 16 bands merge to 16 disjoint intervals across the 4 row groups
    assert count == 16
    assert flat[0] == 0.0 and flat[-1] == 16 * 1024 - 1


def test_dataset_enrichment_distributed(spark, tmp_path):
    from palletjack_spark.index.footer_splice import read_footer_bytes
    from palletjack_spark.index.pageprune import (
        add_page_index_dataset,
        page_index_offsets,
    )

    root = tmp_path / "ds"
    root.mkdir()
    for i in range(6):
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(
                        range(i * 100, i * 100 + 100), type=pa.int64()
                    )
                }
            ),
            str(root / f"part-{i}.parquet"),
            use_dictionary=False,
        )
    n = add_page_index_dataset(spark, str(root), ["k"])
    assert n == 6
    for i in range(6):
        p = str(root / f"part-{i}.parquet")
        assert page_index_offsets(read_footer_bytes(p), 0, 0) is not None
    assert add_page_index_dataset(spark, str(root), ["k"]) == 0


def test_row_range_slicing_restricts_scan_rows(spark, tmp_path):
    """The OffsetIndex row-granular selection DRIVES the scan: with the
    residual off, only the surviving page's rows enter Spark (1024 of a
    4096-row row group); with it on, results equal pruning-off exactly.
    Ordinal (no-predicate) selections are untouched."""
    from palletjack_spark import build_index

    path = _gap_fixture(tmp_path, name="slice.parquet")
    idx = build_index(spark, path)
    pred = [("k", "=", 5632)]
    assert [
        (r["k"], r["tag"])
        for r in idx.read(columns=["k", "tag"], predicate=pred).collect()
    ] == [(5632, "t0005632")]
    # pre-residual row count: 1 page of the 1 surviving row group
    assert (
        idx.read(columns=["k"], predicate=pred, apply_residual=False).count()
        == 1024
    )
    rng = [("k", ">=", 4100), ("k", "<=", 4200)]
    assert (
        idx.read(columns=["k"], predicate=rng, apply_residual=False).count()
        == 1024
    )
    assert idx.read(columns=["k"], predicate=rng).count() == 101
    assert idx.read(columns=["k"]).count() == 16 * 1024
    assert idx.read(columns=["k"], row_groups=[0]).count() == 4096


def test_row_ranges_ride_the_catalog_path(spark, tmp_path):
    """Round-12 (VERDICT item 2): page row-ranges reach EXECUTOR-side
    plans — a catalog-scale read (driver_fast_path=False, so planning
    goes prune() -> value_prune_plan -> scan_plan, never the
    driver-local branch) of the envelope-gap fixture shows the same 4x
    pre-residual row cut as the driver-local path, with hash-equal
    results."""
    from palletjack_spark import build_index
    from palletjack_spark.index.bloomprune import value_prune_plan

    path = _gap_fixture(tmp_path, name="catslice.parquet")
    idx = build_index(spark, path, driver_fast_path=False)
    assert idx._local is None  # genuinely the catalog branch

    pred = [("k", "=", 5632)]
    # the plan carries the surviving page row-ranges
    plan_rows = value_prune_plan(idx.prune(predicate=pred), pred).collect()
    assert [(r["row_group"], r["pj_ranges"]) for r in plan_rows] == [
        (1, [[1024, 2048]])
    ]
    # pre-residual: only the surviving page's rows enter Spark (1024 of
    # the surviving row group's 4096)
    assert (
        idx.read(columns=["k"], predicate=pred, apply_residual=False).count()
        == 1024
    )
    # exact result, hash-equal to the driver-local path
    local = build_index(spark, path)
    for p in (pred, [("k", ">=", 4100), ("k", "<=", 4200)]):
        got = sorted(
            map(tuple, idx.read(columns=["k", "tag"], predicate=p).collect())
        )
        want = sorted(
            map(tuple, local.read(columns=["k", "tag"], predicate=p).collect())
        )
        assert got == want and got, p
    # range predicate: same cut on the catalog path
    rng = [("k", ">=", 4100), ("k", "<=", 4200)]
    assert (
        idx.read(columns=["k"], predicate=rng, apply_residual=False).count()
        == 1024
    )
    # no-predicate and ordinal selections untouched
    assert idx.read(columns=["k"]).count() == 16 * 1024
    assert idx.read(columns=["k"], row_groups=[0]).count() == 4096


def test_all_nan_page_skips_chunk_instead_of_lying(tmp_path):
    """Round-13 review: an all-NaN float page has no honest ColumnIndex
    entry — marking it null_page would make IS NOT NULL / range probes
    (ours AND parquet-mr's own page filtering) silently drop live NaN
    rows.  The writer must skip the whole chunk: no evidence, always
    kept."""
    import math

    from palletjack_spark.index.pageprune import (
        _page_stats,
        add_page_index,
        page_index_offsets,
    )
    from palletjack_spark.index.footer_splice import read_footer_bytes

    nan = float("nan")
    # unit: mixed pages distinguish all-NULL (honest) from all-NaN (not)
    assert _page_stats([None, None], "DOUBLE") == (True, 2, b"", b"")
    assert _page_stats([nan, nan], "DOUBLE") is None
    assert _page_stats([None, nan], "DOUBLE") is None

    p = str(tmp_path / "nanpage.parquet")
    w = pq.ParquetWriter(
        p,
        pa.schema([("f", pa.float64()), ("k", pa.int64())]),
        use_dictionary=False,
        write_page_index=False,
        data_page_size=1,
        write_batch_size=100,
    )
    # page 1 of f: clean floats; page 2: ALL NaN (live rows!)
    w.write_table(
        pa.table(
            {
                "f": pa.array([1.0] * 100 + [nan] * 100, pa.float64()),
                "k": pa.array(range(200), pa.int64()),
            }
        ),
        row_group_size=200,
    )
    w.close()
    n = add_page_index(p, ["f", "k"])
    footer = read_footer_bytes(p)
    # f's chunk skipped (unrepresentable page), k's enriched
    assert page_index_offsets(footer, 0, 0) is None
    assert page_index_offsets(footer, 0, 1) is not None
    assert n == 1
    # the file still reads, NaN rows intact
    got = pq.read_table(p).column("f").to_pylist()
    assert sum(1 for v in got if isinstance(v, float) and math.isnan(v)) == 100


def test_enrichers_skip_zero_row_group_files(tmp_path):
    """Round-13 review: an empty part file (0 row groups) has nothing
    to enrich — both writers return 0 instead of crashing the dataset
    job on md.row_group(0)."""
    from palletjack_spark.index.bloomprune import add_bloom_filters
    from palletjack_spark.index.pageprune import add_page_index

    p = str(tmp_path / "empty.parquet")
    pq.write_table(
        pa.table({"k": pa.array([], pa.int64())}), p, row_group_size=100
    )
    if pq.ParquetFile(p).metadata.num_row_groups == 0:
        assert add_bloom_filters(p, ["k"]) == 0
        assert add_page_index(p, ["k"]) == 0
    else:
        # this pyarrow writes one empty row group: enrichment still works
        assert add_page_index(p, ["k"]) >= 0


def test_corrupt_offset_index_never_fabricates_empty_proof():
    """Round-16 sweep (the high finding): an OffsetIndex whose
    first_row_index reaches past the row group's end used to make the
    final page's range inverted — it VANISHED in the range
    intersection, a false "no rows match" proof that pruned live rows.
    Such an index must forfeit row granularity, never prune."""
    from palletjack_spark.index import pageprune as P

    mask = [False, True]  # page 0 fails the conjunct, page 1 survives
    bad_firsts = [0, 999]  # but 999 >= num_rows: corrupt

    class Prober(P.PageProber):
        def _masks(self, path, rg_idx, predicate, col_lookup):
            return [(mask, bad_firsts)]

    p = Prober()
    assert p.rg_can_match("f", 0, 100, [("k", "=", 1)], lambda c: None)
    assert (
        p.surviving_ranges("f", 0, 100, [("k", "=", 1)], lambda c: None)
        is None
    )
    # sane firsts still produce the row-granular answer
    class Good(P.PageProber):
        def _masks(self, path, rg_idx, predicate, col_lookup):
            return [(mask, [0, 50])]

    assert Good().surviving_ranges(
        "f", 0, 100, [("k", "=", 1)], lambda c: None
    ) == [(50, 100)]


def test_offset_index_requires_strictly_increasing_firsts(tmp_path):
    """A duplicate first_row_index (a zero-row page) is a writer bug the
    range math must never see — the parse rejects it (keep)."""
    import struct as _st

    from palletjack_spark.index import pageprune as P
    from palletjack_spark.index.footer_splice import (
        _encode_field_header,
        _encode_value,
    )

    def _oi_bytes(firsts):
        oi = bytearray()
        _encode_field_header(oi, 1, 9, 0)
        locs = [
            [(1, 6, 4 + i), (2, 5, 10), (3, 6, fr)]
            for i, fr in enumerate(firsts)
        ]
        _encode_value(oi, 9, (12, locs))
        oi.append(0)
        return bytes(oi)

    for firsts, ok in [
        ([0, 10, 20], True),
        ([0, 10, 10], False),  # duplicate
        ([0, 20, 10], False),  # decreasing
        ([5, 10], False),      # first != 0
    ]:
        raw = _oi_bytes(firsts)
        path = str(tmp_path / "oi.bin")
        with open(path, "wb") as f:
            f.write(raw)
        got = P.read_offset_index(path, 0, len(raw))
        assert (got == firsts) if ok else (got is None), (firsts, got)
    _ = _st  # silence lints


def test_malformed_conjuncts_keep_not_crash():
    """Round-16 sweep: a 1-value 'between' or a scalar 'in' used to
    raise bare IndexError/TypeError out of the probe tiers; the probe
    keeps, and the explicit read path raises a TYPED error."""
    import pytest as _pytest

    from palletjack_spark.errors import InvalidSelectionError
    from palletjack_spark.index import pageprune as P

    ci = {"null_pages": [False], "mins": [1], "maxs": [9], "null_counts": None}
    assert P._conjunct_page_mask(ci, "between", (5,), "INT64") is None
    assert P._conjunct_page_mask(ci, "in", (5,), "INT64") is None
    assert P._conjunct_page_mask(ci, "not_in", (5,), "INT64") is None
    assert P._conjunct_page_mask(ci, "=", (), "INT64") is None
    for pred in [
        [("k", "between", 5)],
        [("k", "between", 1, 2, 3)],
        [("k", "in", 5)],
        [("k", "not_in", 5)],
        [("k", "=")],
    ]:
        with _pytest.raises(InvalidSelectionError):
            canonical(pred)
    # well-formed ones still pass
    assert canonical([("k", "between", 1, 2)])
    assert canonical([("k", "in", [1, 2])])


def test_page_walk_rejects_negative_page_size(tmp_path):
    """Round-16 sweep: a negative compressed_page_size walked pos
    BACKWARD — an unterminating loop on corrupt input; now a typed
    error."""
    import pytest as _pytest

    from palletjack_spark.errors import InvalidSelectionError
    from palletjack_spark.index import pageprune as P
    from palletjack_spark.index.footer_splice import (
        _encode_field_header,
        _write_zigzag,
    )

    hdr = bytearray()
    _encode_field_header(hdr, 1, 5, 0)  # PageHeader.type = DATA_PAGE
    _write_zigzag(hdr, 0)
    _encode_field_header(hdr, 2, 5, 1)  # uncompressed_page_size
    _write_zigzag(hdr, 10)
    _encode_field_header(hdr, 3, 5, 2)  # compressed_page_size = -5
    _write_zigzag(hdr, -5)
    hdr.append(0)
    path = str(tmp_path / "chunk.bin")
    with open(path, "wb") as f:
        f.write(bytes(hdr) + b"\x00" * 32)
    meta = {
        "dictionary_page_offset": None,
        "data_page_offset": 0,
        "total_compressed_size": len(hdr) + 32,
    }
    with _pytest.raises(InvalidSelectionError, match="negative page size"):
        P._walk_data_pages(path, meta)


def test_page_walk_rejects_data_page_without_row_count(tmp_path):
    """A data page header missing num_values (v1) or num_rows (v2) is a
    typed error from the page walk, not a bare TypeError."""
    import pytest as _pytest

    from palletjack_spark.errors import InvalidSelectionError
    from palletjack_spark.index import pageprune as P
    from palletjack_spark.index.footer_splice import (
        CT_I32,
        CT_STRUCT,
        _encode_struct,
    )

    payload = b"\x00" * 16
    for page_type, dph_fid in ((0, 5), (3, 8)):  # DATA_PAGE, DATA_PAGE_V2
        hdr = bytearray()
        # PageHeader {type, uncompressed/compressed size, data page
        # header holding only its encoding (field 2 in v1, 4 in v2)}
        _encode_struct(hdr, [
            (1, CT_I32, page_type),
            (2, CT_I32, len(payload)),
            (3, CT_I32, len(payload)),
            (dph_fid, CT_STRUCT, [(2 if page_type == 0 else 4, CT_I32, 0)]),
        ])
        path = str(tmp_path / f"chunk{page_type}.bin")
        with open(path, "wb") as f:
            f.write(bytes(hdr) + payload)
        meta = {
            "dictionary_page_offset": None,
            "data_page_offset": 0,
            "total_compressed_size": len(hdr) + len(payload),
        }
        with _pytest.raises(InvalidSelectionError, match="row count"):
            P._walk_data_pages(path, meta)


def test_null_keep_expression_keeps_not_prunes(spark, tmp_path):
    """Round-16 sweep (metadata_index): a prune conjunct whose SQL keep
    expression evaluates to NULL must KEEP the row group — a NULL
    condition inside a where() is falsy, which silently pruned groups
    nothing proved empty (e.g. not_null against a sidecar with NULL
    num_rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from palletjack_spark.index.builder import build_index

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, None], "s": ["a", "b", "c"]}), path)
    idx = build_index(spark, path)
    # sabotage: NULL out num_rows in the row-group rows (a corrupt /
    # foreign sidecar shape) and rebuild the handle over it
    from palletjack_spark.index.metadata_index import MetadataIndex

    broken = MetadataIndex(
        spark,
        idx.row_groups.withColumn("num_rows", F.lit(None).cast("long")),
        idx.files,
        None,
    )
    kept = broken.prune(predicate=[("k", "not_null")]).count()
    assert kept == 1  # unknown keeps: the (only) row group survives
