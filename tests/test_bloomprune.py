"""Split-block bloom-filter pruning (round 11, q03g): point lookups on
high-cardinality columns whose dictionaries OVERFLOWED to plain pages —
the layout where the q03e encoding_stats gate correctly refuses and
min/max spans everything.  A bloom miss is a proof of absence; a hit or
any unknown keeps, so results are identical with pruning on or off.
The module also WRITES standard filters (``add_bloom_filters`` footer
surgery) because neither pyarrow 16 nor DuckDB 1.0 can."""

from __future__ import annotations

import os
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from palletjack_spark.index.bloomprune import BloomProber
from palletjack_spark.index.predicate import normalize, stats_verdict
from palletjack_spark.index.tiers import tier_filter
from tests.conftest import SF_DIR  # noqa: F401  (session fixture import)


def _overflow_fixture(tmp_path, name="bloom.parquet", nrows=4000, rgs=4):
    """Interleaved high-cardinality int + string keys in plain-encoded
    (dictionary-less) row groups — every rg's [min, max] spans every
    key, and there is no dictionary to probe.  Enriched with our own
    writer."""
    from palletjack_spark.index.bloomprune import add_bloom_filters

    path = str(tmp_path / name)
    order = sorted(range(nrows), key=lambda i: (i % rgs, i))
    pq.write_table(
        pa.table(
            {
                "k": pa.array(order, type=pa.int64()),
                "tag": pa.array([f"u{v:08d}" for v in order]),
            }
        ),
        path,
        row_group_size=nrows // rgs,
        use_dictionary=False,
    )
    n = add_bloom_filters(path, ["k", "tag"])
    assert n == 2 * rgs
    return path


def test_xxh64_reference_vectors():
    """Published XXH64 test vectors — the hash must match parquet-mr's
    bit for bit or every probe is garbage."""
    from palletjack_spark.index.bloomprune import xxh64

    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999
    assert xxh64(b"xxhash", seed=20141025) == 0xB559B98D844E0635
    # cover every tail width and the 32-byte stripe loop
    for n in range(0, 70):
        xxh64(bytes(range(n % 256)) * (n // 256 + 1))


def test_writer_roundtrip_and_pinned_skip_counts(tmp_path, monkeypatch):
    """The q03g contract, pinned: N row groups survive stats (values
    interleave), the bloom tier keeps EXACTLY the owning one; absent
    keys prune everything; pyarrow still reads the enriched file."""
    from palletjack_spark.index import bloomprune
    from palletjack_spark.index.builder import _extract_file_rows

    path = _overflow_fixture(tmp_path)
    t = pq.read_table(path)
    assert t.num_rows == 4000
    assert sorted(t["k"].to_pylist()) == list(range(4000))

    _f, rgs = _extract_file_rows(path)
    # stats keep all 4 (interleaved layout defeats min/max)
    stats_kept = [
        r for r in rgs if stats_verdict(r, normalize([("k", "=", 123)])) is None
    ]
    assert len(stats_kept) == 4
    # bloom keeps exactly rg 3 (123 % 4)
    kept = tier_filter("bloom", stats_kept, [("k", "=", 123)], BloomProber())
    assert [r["row_group"] for r in kept] == [3]
    # string key too — no numeric stats at all for the stats tier
    kept = tier_filter("bloom", rgs, [("tag", "=", "u00000123")], BloomProber())
    assert [r["row_group"] for r in kept] == [3]
    # IN whose members live in two different row groups
    kept = tier_filter("bloom", rgs, [("k", "in", [123, 124])], BloomProber())
    assert [r["row_group"] for r in kept] == [0, 3]
    # a key in NO row group prunes everything
    assert tier_filter("bloom", rgs, [("k", "=", 999_999)], BloomProber()) == []
    # conjunct on an unknown column keeps everything
    assert len(tier_filter("bloom", rgs, [("nope", "=", 1)], BloomProber())) == 4

    # one filter parse per (footer, chunk), shared by later probers: a
    # second prober over the unchanged file parses nothing
    fresh = _overflow_fixture(tmp_path, name="fresh.parquet")
    parses = []
    real = bloomprune.read_bloom
    monkeypatch.setattr(
        bloomprune, "read_bloom", lambda *a: parses.append(a) or real(*a)
    )
    meta = {"physical_type": "INT64", "logical_type": "NONE"}
    for prober in (BloomProber(), BloomProber()):
        assert prober.can_match(fresh, 3, 0, meta, 123) is True
        assert prober.can_match(fresh, 0, 0, meta, 123) is False
        assert len(parses) == 2


def test_end_to_end_read_equals_pruning_off(spark, tmp_path):
    """idx.read with the bloom tier returns exactly the pruning-off
    rows — pruning is a pure optimization (the q03g oracle's check,
    locally)."""
    from palletjack_spark.index.builder import build_index

    path = _overflow_fixture(tmp_path)
    idx = build_index(spark, path)
    on = sorted(
        (r["k"], r["tag"])
        for r in idx.read(predicate=[("tag", "=", "u00000123")]).collect()
    )
    off = sorted(
        (r["k"], r["tag"])
        for r in idx.read(
            predicate=[("tag", "=", "u00000123")], dictionary_prune=False
        ).collect()
    )
    assert on == off == [(123, "u00000123")]

    # catalog-scale plan path: the combined executor-side pass
    # (value_prune_plan) keeps exactly the owning row group
    from palletjack_spark.index.bloomprune import value_prune_plan

    plan = idx.prune(predicate=[("k", "=", 123)])
    pruned = value_prune_plan(plan, [("k", "=", 123)])
    assert [r["row_group"] for r in pruned.collect()] == [3]


def test_absent_filters_and_foreign_headers_keep(tmp_path):
    """Files without bloom filters never prune; headers that don't parse
    (or declare non-BLOCK/XXHASH/compressed layouts) degrade to keep."""
    from palletjack_spark.index.bloomprune import (
        BloomProber,
        bloom_offsets,
        read_bloom,
    )
    from palletjack_spark.index.builder import _extract_file_rows
    from palletjack_spark.index.footer_splice import read_footer_bytes

    # no blooms at all
    plain = str(tmp_path / "plain.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(100), pa.int64())}),
        plain,
        use_dictionary=False,
    )
    assert bloom_offsets(read_footer_bytes(plain), 0, 0) is None
    _f, rgs = _extract_file_rows(plain)
    assert len(tier_filter("bloom", rgs, [("k", "=", 5)], BloomProber())) == 1

    # corrupt bitset region: parse failures keep
    path = _overflow_fixture(tmp_path, name="corrupt.parquet")
    footer = read_footer_bytes(path)
    off = bloom_offsets(footer, 0, 0)
    assert off is not None
    size = os.path.getsize(path)
    with open(path, "r+b") as fh:
        fh.seek(off[0])
        fh.write(b"\xff" * 16)  # clobber the header
    assert read_bloom(path, off[0], off[1]) is None
    prober = BloomProber()
    meta = {"physical_type": "INT64", "logical_type": "NONE"}
    assert prober.can_match(path, 0, 0, meta, 1) is None  # unknown: keep
    assert os.path.getsize(path) == size


def test_probe_type_gates(tmp_path):
    """The identity-logical-type gate (round-10 ADVICE, inherited):
    DECIMAL-as-unscaled-INT and unsigned columns never probe; NaN and
    ±0.0 float literals never probe; out-of-range INT32 literals never
    probe.  Unknown always keeps."""
    from palletjack_spark.index.bloomprune import _probe_bytes

    assert _probe_bytes(5, "INT64", "NONE") == struct.pack("<q", 5)
    assert _probe_bytes(5, "INT32", "INT(32,true)") == struct.pack("<i", 5)
    assert _probe_bytes("x", "BYTE_ARRAY", "STRING") == b"x"
    assert _probe_bytes(b"\xff", "BYTE_ARRAY", "NONE") == b"\xff"
    # identity gate refusals
    assert _probe_bytes(5, "INT64", "DECIMAL") is None
    assert _probe_bytes(5, "INT32", "INT(32,false)") is None
    assert _probe_bytes(5, "INT64", None) is None  # pre-round-10 sidecar
    assert _probe_bytes("2024-01-01", "INT32", "DATE") is None
    # value gates
    assert _probe_bytes(float("nan"), "DOUBLE", "NONE") is None
    assert _probe_bytes(0.0, "DOUBLE", "NONE") is None  # -0.0 ambiguity
    assert _probe_bytes(-0.0, "DOUBLE", "NONE") is None
    assert _probe_bytes(2**40, "INT32", "NONE") is None  # out of range
    assert _probe_bytes(1.5, "DOUBLE", "NONE") == struct.pack("<d", 1.5)
    assert _probe_bytes(0.1, "FLOAT", "NONE") is None  # not float32-exact
    assert _probe_bytes(True, "INT32", "NONE") is None  # bool is not int


def test_spark_interop_both_directions(spark, tmp_path):
    """Interop, pinned: (a) Spark/parquet-mr reads files our writer
    enriched — same rows, footer intact; (b) our prober prunes with
    SPARK-written bloom filters."""
    from palletjack_spark.index.bloomprune import (
        BloomProber,
        add_bloom_filters,
    )

    # (a) ours -> Spark
    path = _overflow_fixture(tmp_path, name="ours.parquet", nrows=1000)
    df = spark.read.parquet(path)
    assert df.count() == 1000
    got = df.where("tag = 'u00000123'").collect()
    assert [(r["k"], r["tag"]) for r in got] == [(123, "u00000123")]

    # (b) Spark -> ours (dictionary disabled = the overflow layout)
    out = str(tmp_path / "sparkbf")
    (
        spark.range(1000).selectExpr("id * 7 AS k")
        .coalesce(1)
        .write.option("parquet.bloom.filter.enabled#k", "true")
        .option("parquet.bloom.filter.expected.ndv#k", "1000")
        .option("parquet.enable.dictionary", "false")
        .parquet(out)
    )
    import glob

    f = [p for p in glob.glob(out + "/*.parquet")][0]
    prober = BloomProber()
    meta = {"physical_type": "INT64", "logical_type": "INT(64,true)"}
    assert prober.can_match(f, 0, 0, meta, 7 * 123) is True
    assert prober.can_match(f, 0, 0, meta, 5) is False

    # re-enrichment of an already-filtered file is a no-op
    assert add_bloom_filters(f, ["k"]) == 0


def test_enrichment_rejects_unknown_columns(tmp_path):
    from palletjack_spark.errors import InvalidSelectionError
    from palletjack_spark.index.bloomprune import add_bloom_filters

    path = str(tmp_path / "p.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), path)
    with pytest.raises(InvalidSelectionError, match="Unknown column"):
        add_bloom_filters(path, ["nope"])


def test_smart_read_routes_through_bloom(spark, tmp_path):
    """smart_read's routing estimate counts the bloom tier: an equality
    point lookup on the dict-overflow layout routes to the indexed scan
    (stats alone would say "scan everything") and returns exact rows."""
    from palletjack_spark.index.smart import smart_read

    path = _overflow_fixture(tmp_path, name="route.parquet")
    got = sorted(
        (r["k"], r["tag"])
        for r in smart_read(
            spark, path, predicate=[("tag", "=", "u00000123")]
        ).collect()
    )
    assert got == [(123, "u00000123")]


def test_bloom_corruption_fuzz_never_crashes(tmp_path):
    """Round-11 deep-fuzz (the committed bounded version of the
    per-round sweep): arbitrary byte edits over the bloom header+bitset
    region — and over the footer's offset fields — must leave the
    prober returning a tri-state verdict, never raising: every parse
    surprise is 'unknown -> keep'."""
    from hypothesis import given, settings, strategies as st

    from palletjack_spark.index.bloomprune import (
        bloom_offsets,
        read_bloom,
        xxh64,
        _might_contain,
    )
    from palletjack_spark.index.footer_splice import read_footer_bytes

    path = _overflow_fixture(tmp_path, name="fuzz.parquet", nrows=400, rgs=2)
    footer = read_footer_bytes(path)
    off = bloom_offsets(footer, 0, 0)
    assert off is not None
    base = open(path, "rb").read()
    region = (off[0], off[0] + (off[1] or 256))

    @settings(max_examples=200, deadline=None)
    @given(
        edits=st.lists(
            st.tuples(
                st.integers(region[0], region[1] - 1),
                st.integers(0, 255),
            ),
            min_size=1,
            max_size=12,
        )
    )
    def run(edits):
        buf = bytearray(base)
        for pos, val in edits:
            buf[pos] = val
        p2 = str(tmp_path / "mut.parquet")
        with open(p2, "wb") as fh:
            fh.write(buf)
        got = read_bloom(p2, off[0], off[1])
        if got is not None:
            # parsed despite corruption: probing must still be total
            h = xxh64(b"\x01\x02\x03")
            assert _might_contain(got, h) in (True, False)

    run()

    # offset fields pointing anywhere in (or past) the file: total, no
    # crash — read_bloom sees garbage and keeps
    for bad_off in (0, 1, len(base) - 4, len(base) + 100, 2**40):
        assert read_bloom(path, bad_off, None) is None or True


def test_dataset_enrichment_distributed(spark, tmp_path):
    """add_bloom_filters_dataset enriches every file of a directory
    executor-side; a point lookup through smart_read then opens only
    the owning file's row group, and re-running is a no-op."""
    from palletjack_spark.index.bloomprune import add_bloom_filters_dataset
    from palletjack_spark.index.builder import _extract_file_rows
    from palletjack_spark.index.smart import smart_read

    root = tmp_path / "cat"
    root.mkdir()
    for i in range(6):
        keys = [k for k in range(600) if k % 6 == i]
        pq.write_table(
            pa.table({"k": pa.array(keys, pa.int64())}),
            str(root / f"part-{i}.parquet"),
            use_dictionary=False,
        )
    assert add_bloom_filters_dataset(spark, str(root), ["k"]) == 6
    assert add_bloom_filters_dataset(spark, str(root), ["k"]) == 0  # no-op

    rgs = []
    for i in range(6):
        rgs.extend(_extract_file_rows(str(root / f"part-{i}.parquet"))[1])
    kept = tier_filter("bloom", rgs, [("k", "=", 123)], BloomProber())
    assert [os.path.basename(r["file"]) for r in kept] == ["part-3.parquet"]
    got = smart_read(spark, str(root), predicate=[("k", "=", 123)]).collect()
    assert [r["k"] for r in got] == [123]


def test_splice_and_datasource_interplay_with_enriched_files(spark, tmp_path):
    """Enriched footers stay first-class citizens of the rest of the
    stack: the PJ_2 splice (row-group-subset FileMetaData) preserves the
    bloom offsets (absolute into the unchanged data file), and
    format("palletjack") plans bloom-pruned partitions from Spark's own
    pushFilters."""
    import pyarrow.parquet as pq_  # noqa: F401

    from palletjack_spark.index.bloomprune import bloom_offsets
    from palletjack_spark.index.footer_splice import (
        generate_metadata_index,
        read_footer_bytes,
        read_metadata,
    )
    from palletjack_spark.sources.python_datasource import (
        PalletJackReader,
        register_datasource,
    )

    path = _overflow_fixture(tmp_path, name="inter.parquet")

    # splice: a 2-row-group subset FileMetaData from the PJ_2 index of
    # the ENRICHED file reads fine, and the full footer still carries
    # usable bloom offsets (positions are absolute in the file)
    idx_path = str(tmp_path / "inter.index")
    generate_metadata_index(path, idx_path)
    md = read_metadata(idx_path, row_groups=[1, 3])
    assert md.num_row_groups == 2
    assert md.num_rows == 2000
    full = read_footer_bytes(path)
    keep_off = bloom_offsets(full, 3, 0)
    assert keep_off is not None

    # DataSource: Spark's own pushFilters -> bloom-pruned partitions
    register_datasource(spark)
    df = spark.read.format("palletjack").load(path)
    r = PalletJackReader([path], df.schema)
    from pyspark.sql.datasource import EqualTo

    list(r.pushFilters([EqualTo(("tag",), "u00000123")]))
    assert [p.value for p in r.partitions()] == [(path, [3])]
    got = df.where("tag = 'u00000123'").collect()
    assert [(x["k"], x["tag"]) for x in got] == [(123, "u00000123")]


def test_read_bloom_caps_declared_length_before_reading(tmp_path):
    """Round-13 review: a corrupt/foreign footer can declare a multi-GB
    bloom_filter_length — the reader must refuse BEFORE the read, not
    allocate gigabytes on an executor."""
    from palletjack_spark.index.bloomprune import _MAX_BITSET, read_bloom

    p = str(tmp_path / "x.parquet")
    pq.write_table(pa.table({"k": pa.array(range(10), pa.int64())}), p)
    assert read_bloom(p, 0, _MAX_BITSET * 16) is None


def test_bloom_writer_rejects_non_identity_logical_types(tmp_path):
    """Round-13 review: the writer mirrors the probe's identity gate —
    DATE/TIMESTAMP/DECIMAL/unsigned columns raise the typed error
    instead of crashing mid-enrichment with a raw struct.error."""
    import datetime
    import decimal

    from palletjack_spark.errors import InvalidSelectionError
    from palletjack_spark.index.bloomprune import add_bloom_filters

    p = str(tmp_path / "typed.parquet")
    pq.write_table(
        pa.table(
            {
                "d": pa.array([datetime.date(2024, 1, 1 + i) for i in range(5)]),
                "ts": pa.array(
                    [datetime.datetime(2024, 1, 1, i) for i in range(5)],
                    pa.timestamp("us"),
                ),
                "dec": pa.array(
                    [decimal.Decimal(i) for i in range(5)],
                    pa.decimal128(10, 2),
                ),
                "u": pa.array(range(5), pa.uint32()),
                "k": pa.array(range(5), pa.int64()),
            }
        ),
        p,
    )
    for col in ("d", "ts", "dec", "u"):
        with pytest.raises(InvalidSelectionError, match="unsupported"):
            add_bloom_filters(p, [col])
    assert add_bloom_filters(p, ["k"]) == 1  # identity type still enriches


def test_nested_column_rejected_with_typed_error(tmp_path):
    """Round-16 sweep: a nested leaf ("s.x") passed the chunk-path name
    check but raised a raw KeyError out of the arrow schema lookup —
    now a typed InvalidSelectionError like every other ineligible
    column."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from palletjack_spark.errors import InvalidSelectionError
    from palletjack_spark.index.bloomprune import add_bloom_filters

    p = str(tmp_path / "n.parquet")
    pq.write_table(pa.table({"s": [{"x": 1}, {"x": 2}], "k": [1, 2]}), p)
    with pytest.raises(InvalidSelectionError, match="nested"):
        add_bloom_filters(p, ["s.x"])
