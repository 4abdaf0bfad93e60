"""Differential tests for the pruned-FileMetaData splice.

Mirrors the reference's all-permutations discipline
(/root/reference/python/test/test_palletjack.py:101-107): every (row-group
permutation × column selection) read through the spliced metadata must equal
the direct pyarrow read of the same subset.  No Spark needed — this layer is
pure pyarrow interop.
"""

import itertools as it
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from palletjack_spark.errors import InvalidSelectionError
from palletjack_spark.index import footer_splice as fs
from palletjack_spark.index.footer_splice import (
    generate_metadata_index,
    read_metadata,
    read_schema,
)

N_RG = 5
N_COLS = 4
CHUNK = 20


@pytest.fixture(scope="module")
def pq_file(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fsplice") / "multi.parquet")
    rng = np.random.default_rng(7)
    t = pa.table(
        {
            "c_int": pa.array(np.arange(N_RG * CHUNK, dtype=np.int64)),
            "c_dbl": pa.array(rng.random(N_RG * CHUNK)),
            "c_str": pa.array([f"s{i:04d}" for i in range(N_RG * CHUNK)]),
            "c_ts": pa.array(
                np.arange(N_RG * CHUNK) * 1_000_000, type=pa.timestamp("us")
            ),
        }
    )
    pq.write_table(t, path, row_group_size=CHUNK)
    return path


@pytest.fixture(scope="module")
def full_table(pq_file):
    return pq.ParquetFile(pq_file).read()


def _direct_read(full, row_groups, col_idx):
    # requested order on BOTH axes — the reference's contract
    # (palletjack.cc:534-545 row groups, 459-490 columns)
    names = [full.column_names[c] for c in col_idx] or list(full.column_names)
    parts = [full.select(names).slice(r * CHUNK, CHUNK) for r in row_groups]
    return pa.concat_tables(parts) if parts else full.select(names).slice(0, 0)


def test_permutation_sweep(pq_file, full_table):
    """Reference test_palletjack.py:101-107: permutations of row groups ×
    permutations of columns, read via ParquetReader(metadata=pruned)."""
    n_checked = 0
    for r in range(3):
        for rp in it.permutations(range(N_RG), r):
            if not rp:
                continue
            for c in range(3):
                for cp in it.permutations(range(N_COLS), c):
                    md = read_metadata(
                        parquet_path=pq_file,
                        row_groups=list(rp),
                        column_indices=list(cp),
                    )
                    pr = pq.ParquetReader()
                    pr.open(pq_file, metadata=md)
                    got = pr.read_all()
                    pr.close()
                    want = _direct_read(full_table, rp, cp)
                    assert got.equals(want), (rp, cp)
                    n_checked += 1
    assert n_checked > 100


def test_row_groups_keep_requested_order(pq_file, full_table):
    md = read_metadata(parquet_path=pq_file, row_groups=[3, 1])
    got = pq.ParquetFile(pq_file, metadata=md).read()
    want = pa.concat_tables(
        [full_table.slice(3 * CHUNK, CHUNK), full_table.slice(1 * CHUNK, CHUNK)]
    )
    assert got.equals(want)


def test_columns_keep_requested_order(pq_file, full_table):
    """Reference contract (palletjack.cc:459-490, 551-570): schema elements,
    per-row-group chunks and column_orders come out in the CALLER'S order —
    column_indices=[3, 1] must NOT be normalized to [1, 3]."""
    md = read_metadata(parquet_path=pq_file, column_indices=[3, 1])
    assert [md.schema.column(i).name for i in range(2)] == ["c_ts", "c_dbl"]
    got = pq.ParquetFile(pq_file, metadata=md).read()
    assert got.equals(full_table.select(["c_ts", "c_dbl"]))
    # combined with out-of-order row groups
    md2 = read_metadata(
        parquet_path=pq_file, row_groups=[2, 0], column_indices=[2, 0]
    )
    got2 = pq.ParquetFile(pq_file, metadata=md2).read()
    want2 = pa.concat_tables(
        [
            full_table.select(["c_str", "c_int"]).slice(2 * CHUNK, CHUNK),
            full_table.select(["c_str", "c_int"]).slice(0, CHUNK),
        ]
    )
    assert got2.equals(want2)
    # duplicate indices are emitted twice, like the reference's verbatim
    # iteration over the requested columns vector
    md3 = read_metadata(parquet_path=pq_file, column_indices=[1, 1])
    assert md3.num_columns == 2
    got3 = pq.ParquetFile(pq_file, metadata=md3).read()
    assert got3.column(0).equals(got3.column(1))
    assert got3.column(0).equals(full_table.column("c_dbl"))


def _strip_top_field(footer: bytes, drop_fid: int) -> bytes:
    """Re-emit a footer without one top-level field — builds the
    foreign-writer fixture (the reference tests a Parquet.Net file with no
    column_orders section, test_palletjack.py:135-153)."""
    fields, _ = fs._struct_field_spans(footer, 0)
    out = bytearray()
    prev = 0
    for fid, ctype, s, e in fields:
        if fid == drop_fid:
            continue
        fs._encode_field_header(out, fid, ctype, prev)
        if ctype not in (fs.CT_TRUE, fs.CT_FALSE):
            out += footer[s:e]
        prev = fid
    out.append(0)
    return bytes(out)


@pytest.fixture(scope="module")
def no_orders_file(pq_file, tmp_path_factory):
    """A physical parquet file whose footer has NO column_orders section,
    as written by foreign writers like Parquet.Net (the reference's
    sample.parquet fixture, test_palletjack.py:135-153, handled at
    palletjack.cc:288-299)."""
    footer = fs.read_footer_bytes(pq_file)
    assert any(f[0] == 7 for f in fs._struct_field_spans(footer, 0)[0]), (
        "fixture premise: pyarrow wrote a column_orders section"
    )
    stripped = _strip_top_field(footer, 7)
    with open(pq_file, "rb") as f:
        raw = f.read()
    flen = len(raw) - len(footer) - 8
    out = raw[:flen] + stripped + np.uint32(len(stripped)).tobytes() + b"PAR1"
    path = str(tmp_path_factory.mktemp("noorders") / "no_orders.parquet")
    with open(path, "wb") as f:
        f.write(out)
    # the fixture itself must be a valid parquet file for plain pyarrow
    assert pq.ParquetFile(path).read().num_rows == N_RG * CHUNK
    return path


def test_no_column_orders_differential(no_orders_file, full_table):
    """Full permutation differential over the no-column_orders fixture —
    mirrors the reference's foreign-writer test (test_palletjack.py:135-153):
    every row-group permutation × column permutation read through the spliced
    metadata equals the direct read."""
    footer = fs.read_footer_bytes(no_orders_file)
    assert not any(f[0] == 7 for f in fs._struct_field_spans(footer, 0)[0])
    n_checked = 0
    for r in range(3):
        for rp in it.permutations(range(N_RG), r):
            if not rp:
                continue
            for c in range(2):
                for cp in it.permutations(range(N_COLS), c):
                    md = read_metadata(
                        parquet_path=no_orders_file,
                        row_groups=list(rp),
                        column_indices=list(cp),
                    )
                    pr = pq.ParquetReader()
                    pr.open(no_orders_file, metadata=md)
                    got = pr.read_all()
                    pr.close()
                    want = _direct_read(full_table, rp, cp)
                    assert got.equals(want), (rp, cp)
                    n_checked += 1
    assert n_checked > 50


def test_no_column_orders_index_and_schema(no_orders_file, tmp_path):
    """Index build + schema-only + column-pruned reads on the fixture — the
    spliced footer must also lack column_orders (nothing to splice)."""
    index_path = str(tmp_path / "no_orders.index")
    generate_metadata_index(no_orders_file, index_path)
    md = read_metadata(
        index_file_path=index_path, row_groups=[4, 1], column_indices=[2]
    )
    got = pq.ParquetFile(no_orders_file, metadata=md).read()
    assert got.column_names == ["c_str"]
    assert got.num_rows == 2 * CHUNK
    pruned = fs.splice_footer(
        fs.read_footer_bytes(no_orders_file), column_indices=[1, 0]
    )
    assert not any(f[0] == 7 for f in fs._struct_field_spans(pruned, 0)[0])
    sch = read_schema(parquet_path=no_orders_file, column_names=["c_dbl"])
    assert sch.names == ["c_dbl"]


def test_renumbered_row_group_read(pq_file, full_table):
    """test_palletjack.py:87 semantics: pruned metadata's groups are 0..k-1."""
    md = read_metadata(parquet_path=pq_file, row_groups=[2, 4])
    assert md.num_row_groups == 2
    pr = pq.ParquetReader()
    pr.open(pq_file, metadata=md)
    got = pr.read_row_groups([1])
    pr.close()
    assert got.equals(full_table.slice(4 * CHUNK, CHUNK))


def test_metadata_counts(pq_file):
    orig = pq.read_metadata(pq_file)
    md = read_metadata(parquet_path=pq_file, row_groups=[0, 2])
    assert md.num_rows == 2 * CHUNK
    assert md.num_columns == orig.num_columns
    md2 = read_metadata(parquet_path=pq_file, column_indices=[1])
    assert md2.num_columns == 1
    assert md2.num_rows == orig.num_rows


def test_column_names_equal_indices(pq_file):
    md_i = read_metadata(parquet_path=pq_file, column_indices=[0, 2])
    md_n = read_metadata(parquet_path=pq_file, column_names=["c_int", "c_str"])
    assert md_i.schema.to_arrow_schema() == md_n.schema.to_arrow_schema()
    got_i = pq.ParquetFile(pq_file, metadata=md_i).read()
    got_n = pq.ParquetFile(pq_file, metadata=md_n).read()
    assert got_i.equals(got_n)


def test_index_file_and_data_roundtrip(pq_file, tmp_path, full_table):
    """generate_metadata_index → .index file / in-memory blob; reads from
    both must equal reads from the parquet path (README.md:70-97 shapes)."""
    index_path = str(tmp_path / "my.parquet.index")
    generate_metadata_index(pq_file, index_path)
    assert os.path.exists(index_path)
    blob = generate_metadata_index(pq_file)
    assert isinstance(blob, bytearray)

    with open(index_path, "rb") as f:
        disk = f.read()
    assert bytes(blob) == disk

    for kwargs in (
        {"index_file_path": index_path},
        {"index_data": blob},
        {"parquet_path": pq_file},
    ):
        md = read_metadata(row_groups=[1, 3], column_indices=[0, 3], **kwargs)
        got = pq.ParquetFile(pq_file, metadata=md).read()
        want = _direct_read(full_table, (1, 3), (0, 3))
        assert got.equals(want), kwargs


def test_index_data_overwritten_in_place_reads_new_footer(tmp_path):
    """An in-memory index overwritten in place with another file's index
    reads the new file: the footer memo never serves a buffer whose bytes
    changed since the entry was built."""
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"a": list(range(6))}), a, row_group_size=2)
    pq.write_table(pa.table({"b": ["x", "y"]}), b)
    blob = generate_metadata_index(a)
    md = read_metadata(index_data=blob)
    assert (md.num_row_groups, md.schema.names) == (3, ["a"])
    blob[:] = generate_metadata_index(b)
    md = read_metadata(index_data=blob)
    assert (md.num_row_groups, md.schema.names) == (1, ["b"])
    assert read_schema(index_data=blob).names == ["b"]


def test_read_schema(pq_file):
    orig = pq.ParquetFile(pq_file).schema_arrow
    sch = read_schema(parquet_path=pq_file)
    assert sch.names == orig.names
    sch2 = read_schema(parquet_path=pq_file, column_names=["c_dbl", "c_ts"])
    assert sch2.names == ["c_dbl", "c_ts"]
    assert sch2.field("c_ts").type == orig.field("c_ts").type
    # schema-only = zero row groups in the underlying metadata
    md = fs.metadata_from_footer(
        fs.splice_footer(fs.read_footer_bytes(pq_file), schema_only=True)
    )
    assert md.num_row_groups == 0 and md.num_rows == 0


def test_nested_column_pruning(tmp_path):
    path = str(tmp_path / "nested.parquet")
    t = pa.table(
        {
            "plain": pa.array(range(50), type=pa.int64()),
            "vec": pa.array([[float(i), i + 0.5] for i in range(50)]),
            "m": pa.array(
                [{"a": i, "b": str(i)} for i in range(50)],
                type=pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
        }
    )
    pq.write_table(t, path, row_group_size=10)
    full = pq.ParquetFile(path).read()
    leaves = fs.leaf_column_names(fs.read_footer_bytes(path))
    assert leaves == ["plain", "vec.list.element", "m.a", "m.b"]
    # whole nested column by top-level name
    md = read_metadata(parquet_path=path, column_names=["vec"])
    got = pq.ParquetFile(path, metadata=md).read()
    assert got.equals(full.select(["vec"]))
    # a single struct leaf by dotted path
    md2 = read_metadata(parquet_path=path, column_names=["m.a"])
    got2 = pq.ParquetFile(path, metadata=md2).read()
    assert got2.column_names == ["m"]
    assert got2.column("m").combine_chunks().field("a").equals(
        full.column("m").combine_chunks().field("a")
    )
    # row-group + nested column combined
    md3 = read_metadata(parquet_path=path, row_groups=[2], column_names=["vec"])
    got3 = pq.ParquetFile(path, metadata=md3).read()
    assert got3.equals(full.select(["vec"]).slice(20, 10))


def test_error_paths(pq_file, tmp_path):
    with pytest.raises(InvalidSelectionError):
        read_metadata(parquet_path=pq_file, row_groups=[N_RG])
    with pytest.raises(InvalidSelectionError):
        read_metadata(parquet_path=pq_file, column_indices=[99])
    with pytest.raises(InvalidSelectionError):
        read_metadata(parquet_path=pq_file, column_names=["nope"])
    with pytest.raises(InvalidSelectionError):
        read_metadata(
            parquet_path=pq_file, column_indices=[0], column_names=["c_int"]
        )
    with pytest.raises(InvalidSelectionError):
        read_metadata()  # no source
    with pytest.raises(InvalidSelectionError):
        read_metadata(index_file_path="x", parquet_path=pq_file)  # two sources
    with pytest.raises(InvalidSelectionError):
        fs._deserialize_index(b"NOPE" + b"\x00" * 16)
    junk = str(tmp_path / "junk.bin")
    with open(junk, "wb") as f:
        f.write(b"hello world, definitely not parquet")
    with pytest.raises(InvalidSelectionError):
        fs.read_footer_bytes(junk)


def test_length_bombs_fail_fast():
    """Hostile footers declaring huge string/container lengths must be
    rejected with bounded memory BEFORE allocating or looping — the
    reference's decode caps (palletjack.cc:82-83, 100-102, 148-150)."""
    from palletjack_spark.errors import IndexFormatError

    def varint(v):
        out = bytearray()
        fs._write_varint(out, v)
        return bytes(out)

    bombs = {
        # field 1, CT_BINARY, declared length 2^40 with no payload
        "binary": b"\x18" + varint(2**40),
        # field 1, CT_LIST of i32, long-form count 2^40
        "list": b"\x19\xf5" + varint(2**40),
        # field 1, CT_LIST of bool — pre-fix this looped without advancing
        "bool_list": b"\x19\xf1" + varint(2**40),
        # field 1, CT_MAP with huge declared pair count
        "map": b"\x1b" + varint(2**40) + b"\x55",
        # field 1, CT_BINARY with an unterminated 11-byte varint length
        "varint": b"\x18" + b"\x80" * 11,
        # nested: field 1 CT_STRUCT containing a binary bomb
        "nested": b"\x1c\x18" + varint(2**40),
    }
    for name, blob in bombs.items():
        with pytest.raises(IndexFormatError):
            fs._struct_field_spans(blob, 0)
        # the skip path (used inside list-element walks) must also reject
        with pytest.raises(IndexFormatError):
            fs._skip_struct_fast(blob, 0)
        assert name  # keep the case label in failure output


def test_splice_is_byte_stable(pq_file):
    """Same selection twice → identical bytes (determinism underpins the
    golden-master test for the sidecar)."""
    footer = fs.read_footer_bytes(pq_file)
    a = fs.splice_footer(footer, row_groups=[1, 2], column_indices=[0, 1])
    b = fs.splice_footer(footer, row_groups=[1, 2], column_indices=[0, 1])
    assert a == b
    # identity splice parses to metadata equal to pyarrow's own
    ident = fs.metadata_from_footer(fs.splice_footer(footer))
    orig = pq.read_metadata(pq_file)
    assert ident.num_rows == orig.num_rows
    assert ident.num_row_groups == orig.num_row_groups
    assert ident.schema.to_arrow_schema() == orig.schema.to_arrow_schema()
    assert (
        ident.row_group(3).column(2).statistics.min
        == orig.row_group(3).column(2).statistics.min
    )


# --------------------------------------------------------------------------
# PJ_2 compatibility: the reference's own binary sidecar format
# --------------------------------------------------------------------------

_REF_DATA = "/root/reference/python/test/data"
_GOLDEN = os.path.join(_REF_DATA, "golden_master.parquet")
_GOLDEN_IDX = _GOLDEN + ".index"

needs_ref_golden = pytest.mark.skipif(
    not os.path.exists(_GOLDEN_IDX),
    reason="reference golden_master index not available",
)


@needs_ref_golden
def test_pj2_golden_sidecar_differential():
    """Round-4 verdict item 6: an index produced by the ACTUAL reference
    (its committed golden_master.parquet.index, layout palletjack.cc:33-80)
    must read through read_metadata/read_schema unchanged — every
    (row-group, column) selection equal to the direct pyarrow read."""
    full = pq.ParquetFile(_GOLDEN).read()
    md_full = pq.ParquetFile(_GOLDEN).metadata
    n_rg, n_cols = md_full.num_row_groups, md_full.num_columns
    chunk = md_full.row_group(0).num_rows

    sch = read_schema(index_file_path=_GOLDEN_IDX)
    assert sch == pq.ParquetFile(_GOLDEN).schema_arrow

    with open(_GOLDEN_IDX, "rb") as f:
        blob = f.read()
    for row_groups in it.chain.from_iterable(
        it.permutations(range(n_rg), k) for k in range(n_rg + 1)
    ):
        for k in range(n_cols + 1):
            for col_idx in it.combinations(range(n_cols), k):
                md = read_metadata(
                    index_data=blob,
                    row_groups=list(row_groups),
                    column_indices=list(col_idx),
                )
                pr = pq.ParquetReader()
                pr.open(_GOLDEN, metadata=md)
                got = pr.read_all()
                pr.close()
                names = [full.column_names[c] for c in col_idx] or list(
                    full.column_names
                )
                # empty selection = no filtering (reference semantics,
                # palletjack.cc:492)
                rgs = row_groups or range(n_rg)
                parts = [
                    full.select(names).slice(r * chunk, chunk) for r in rgs
                ]
                want = pa.concat_tables(parts)
                assert got.equals(want), (row_groups, col_idx)


@needs_ref_golden
def test_pj2_corrupt_rejected(tmp_path):
    """PJ_2 bounds discipline: truncation, bad magic, and header/body
    disagreement all fail fast with InvalidSelectionError — never an
    allocation sized from an unchecked declared length."""
    import struct as _struct

    with open(_GOLDEN_IDX, "rb") as f:
        blob = f.read()
    with pytest.raises(InvalidSelectionError, match="magic"):
        fs._decode_pj2(b"PJ_3" + blob[4:])
    with pytest.raises(InvalidSelectionError, match="Truncated|Corrupt"):
        fs._decode_pj2(blob[:12])
    with pytest.raises(InvalidSelectionError, match="Corrupt"):
        fs._decode_pj2(blob[:-10])  # body shorter than declared
    # declared row-group bomb: huge count vs tiny file
    bomb = bytearray(blob)
    _struct.pack_into("<I", bomb, 4, 2**31 - 1)
    with pytest.raises(InvalidSelectionError, match="Corrupt"):
        fs._decode_pj2(bytes(bomb))
    # column-name section out of sync with the footer schema
    tampered = bytearray(blob)
    rg, cols, cnames_len, md_len = _struct.unpack_from("<4I", blob, 4)
    n_u32 = (
        2 + rg + (cols + 3) + (cols + 1) * 2 + (rg + 2) + (cols + 2)
        + rg * (cols + 2)
    )
    names_start = 20 + n_u32 * 4
    tampered[names_start] = ord("X")
    with pytest.raises(InvalidSelectionError, match="disagrees"):
        fs._decode_pj2(bytes(tampered))


@needs_ref_golden
def test_pj2_writer_byte_identical_to_reference():
    """generate_pj2_index must reproduce the reference's committed
    golden_master.parquet.index BYTE FOR BYTE — full write-side parity
    with palletjack.cc:312-345, so indexes written here are readable by
    an existing PalletJack deployment."""
    ours = bytes(fs.generate_pj2_index(_GOLDEN))
    with open(_GOLDEN_IDX, "rb") as f:
        theirs = f.read()
    assert ours == theirs


def test_pj2_writer_roundtrip(pq_file, full_table):
    """PJ_2 written here reads back through the PJ_2 decoder with full
    differential equality, including a file WITHOUT column_orders
    (zero-filled offsets, reference cc:289-292)."""
    for path in (pq_file, os.path.join(_REF_DATA, "no_column_orders.parquet")):
        if not os.path.exists(path):
            continue
        blob = bytes(fs.generate_pj2_index(path))
        assert blob[:4] == b"PJ_2"
        full = pq.ParquetFile(path).read()
        md = read_metadata(index_data=blob, row_groups=[0], column_indices=[0])
        pr = pq.ParquetReader()
        pr.open(path, metadata=md)
        got = pr.read_all()
        pr.close()
        n = pq.ParquetFile(path).metadata.row_group(0).num_rows
        want = full.select([full.column_names[0]]).slice(0, n)
        assert got.equals(want), path


def test_pj2_writer_rejects_nested(tmp_path):
    """Nested schemas are not representable in PJ_2 (the reference's own
    size validation admits exactly columns+3 schema offsets,
    palletjack.cc:260-264) — fail with a clear error, not a corrupt blob."""
    path = str(tmp_path / "nested.parquet")
    t = pa.table({"s": pa.array([{"a": 1, "b": "x"}], type=pa.struct(
        [("a", pa.int64()), ("b", pa.string())]))})
    pq.write_table(t, path)
    with pytest.raises(InvalidSelectionError, match="nested"):
        fs.generate_pj2_index(path)


@needs_ref_golden
def test_pj2_decode_fuzz_corruption_never_crashes():
    """Property: any single- or multi-byte corruption of a valid PJ_2 blob
    either still decodes to a parseable footer or fails with one of the
    library's typed errors — never an unhandled IndexError/struct.error/
    MemoryError (the reference's decode-cap discipline, palletjack.cc
    82-83, applied to the sidecar container format)."""
    import hypothesis.strategies as st
    from hypothesis import given, settings

    from palletjack_spark.errors import IndexFormatError

    with open(_GOLDEN_IDX, "rb") as f:
        golden = f.read()

    @settings(max_examples=200, deadline=None)
    @given(
        edits=st.lists(
            st.tuples(
                st.integers(0, len(golden) - 1), st.integers(0, 255)
            ),
            min_size=1,
            max_size=8,
        ),
        truncate=st.integers(0, len(golden)),
    )
    def check(edits, truncate):
        blob = bytearray(golden)
        for pos, val in edits:
            blob[pos] = val
        blob = bytes(blob[:truncate]) if truncate < len(blob) else bytes(blob)
        try:
            fs._decode_pj2(blob)
        except (InvalidSelectionError, IndexFormatError):
            pass  # typed rejection is the contract

    check()


def test_pjs1_and_pj2_read_identically(pq_file):
    """Cross-format invariant: the same file's PJS2 and PJ_2 sidecars
    must answer every selection with byte-identical spliced metadata —
    the formats are interchangeable containers for the same footer.  On
    the committed golden file the old-format PJS1 sidecar (no offset
    tables) joins them: every row-group permutation × ordered column
    selection, and every schema-only read, splices the same bytes."""
    pjs2 = bytes(generate_metadata_index(pq_file))
    pj2 = bytes(fs.generate_pj2_index(pq_file))
    assert pjs2[:4] == b"PJS2" and pj2[:4] == b"PJ_2"
    for rgs, cols in [([], []), ([2, 0], [1, 3]), ([1], []), ([], [2])]:
        a = read_metadata(index_data=pjs2, row_groups=rgs, column_indices=cols)
        b = read_metadata(index_data=pj2, row_groups=rgs, column_indices=cols)
        assert a.num_rows == b.num_rows
        assert a.num_columns == b.num_columns
        assert a.schema.to_arrow_schema() == b.schema.to_arrow_schema()
        assert a.equals(b), (rgs, cols)

    golden = os.path.join(os.path.dirname(__file__), "data", "golden.parquet")
    with open(golden + ".index", "rb") as f:
        pjs1 = f.read()
    assert pjs1[:4] == b"PJS1"
    footers = [
        fs._deserialize_index(blob)
        for blob in (pjs1, bytes(generate_metadata_index(golden)),
                     bytes(fs.generate_pj2_index(golden)))
    ]
    md = pq.read_metadata(golden)
    n_rg, n_cols = md.num_row_groups, md.num_columns
    col_sels = [
        list(c) for k in range(n_cols + 1)
        for c in it.permutations(range(n_cols), k)
    ]
    for cols in col_sels:
        got = {fs.splice_footer(f, column_indices=cols, schema_only=True)
               for f in footers}
        assert len(got) == 1, cols
        for k in range(n_rg + 1):
            for rgs in it.permutations(range(n_rg), k):
                got = {fs.splice_footer(f, row_groups=list(rgs),
                                        column_indices=cols)
                       for f in footers}
                assert len(got) == 1, (rgs, cols)


def test_read_metadata_accepts_blob_positionally(pq_file):
    """Path-or-buffer ergonomics (fuzz-found): an in-memory index blob
    passed as the first positional argument must route to the blob path
    — not be os.stat'ed as a filesystem path — and corrupted blobs must
    still fail with the typed error."""
    import pytest

    blob = bytes(generate_metadata_index(pq_file))
    via_kw = fs.read_metadata(index_data=blob)
    via_pos = fs.read_metadata(blob)
    assert via_pos.num_rows == via_kw.num_rows
    assert via_pos.num_row_groups == via_kw.num_row_groups
    from palletjack_spark.errors import IndexFormatError

    with pytest.raises((IndexFormatError, InvalidSelectionError)):
        fs.read_metadata(b"\x00")
    # conflicting sources: a bytes-positional PLUS an explicit index_data
    # must hit the exactly-one-source error, not silently drop one
    # argument via the positional swap (round-8 ADVICE)
    with pytest.raises(InvalidSelectionError, match="exactly one"):
        fs.read_metadata(blob, index_data=blob)


def test_atomic_tail_rewrite_crash_and_duplicate_safety(tmp_path, monkeypatch):
    """Round-12 ADVICE (medium): footer surgery must be crash-atomic —
    a failure at any point (simulated at the final rename) leaves the
    ORIGINAL file byte-identical with a valid PAR1 tail and no temp
    debris, and duplicate attempts (Spark task retry / speculation
    re-running a file's surgery) converge on the same valid file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from palletjack_spark.index.bloomprune import add_bloom_filters
    from palletjack_spark.index.footer_splice import atomic_tail_rewrite

    p = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(1000), pa.int64())}),
        p,
        use_dictionary=False,
    )
    original = open(p, "rb").read()

    # crash at the final rename: original untouched, temp cleaned up
    real_replace = os.replace

    def boom(src, dst):
        raise OSError("simulated crash at rename")

    monkeypatch.setattr(os, "replace", boom)
    import pytest

    with pytest.raises(OSError, match="simulated crash"):
        add_bloom_filters(p, ["k"])
    assert open(p, "rb").read() == original
    assert not [f for f in os.listdir(tmp_path) if ".pj-surgery-" in f]
    monkeypatch.setattr(os, "replace", real_replace)

    # the real surgery lands atomically and stays readable
    assert add_bloom_filters(p, ["k"]) == 1
    assert pq.read_table(p).num_rows == 1000
    assert not [f for f in os.listdir(tmp_path) if ".pj-surgery-" in f]

    # duplicate attempt from the SAME pre-state (a speculative twin that
    # read the file before the first attempt landed): replay its tail
    # rewrite directly — the rename wins and the file stays valid
    enriched = open(p, "rb").read()
    footer_len = int.from_bytes(enriched[-8:-4], "little")
    footer_start = len(enriched) - 8 - footer_len
    atomic_tail_rewrite(p, footer_start, enriched[footer_start:])
    assert open(p, "rb").read() == enriched
    assert pq.read_table(p).num_rows == 1000

    # re-running the full surgery on the enriched file is a no-op
    assert add_bloom_filters(p, ["k"]) == 0
    assert open(p, "rb").read() == enriched


def test_corrupt_span_values_rejected_typed(pq_file):
    """Round-13 review: span VALUES are validated, not just the
    container — a negative start (which would wrap via Python slicing)
    or an end past the footer raises the typed corrupt-index error
    instead of splicing a parseable-but-wrong footer."""
    import struct as _s

    blob = bytes(fs.generate_metadata_index(pq_file))
    # layout: magic(4) + flen(4) + footer + n_top(4) + spans...
    (flen,) = _s.unpack_from("<I", blob, 4)
    span0 = 4 + 4 + flen + 4  # first top-level '<4q' span
    fid, ctype, start, end = _s.unpack_from("<4q", blob, span0)

    def patched(new_span):
        b = bytearray(blob)
        _s.pack_into("<4q", b, span0, *new_span)
        return bytes(b)

    for bad in (
        (fid, ctype, -1, end),          # negative start wraps slices
        (fid, ctype, start, flen + 99), # end past the footer
        (fid, ctype, end + 1, end),     # inverted
        (-5, ctype, start, end),        # nonsense field id
    ):
        with pytest.raises(InvalidSelectionError, match="Corrupt PJS1"):
            fs.read_metadata(index_data=patched(bad), row_groups=[0])


def _wide_sidecar(tmp_path, n_cols: int) -> str:
    path = str(tmp_path / f"wide{n_cols}.parquet")
    m = np.random.default_rng(n_cols).random((8 * 5, n_cols), dtype=np.float32)
    pq.write_table(pa.table({f"c{j}": m[:, j] for j in range(n_cols)}), path,
                   row_group_size=5)
    generate_metadata_index(path, path + ".pjs2")
    return path + ".pjs2"


def test_cold_row_group_read_is_o_selected(tmp_path, monkeypatch):
    """The sidecar's offset tables make a read walk only what it emits: a
    row group read for the first time, 3 columns of it, costs the same
    walk and decode calls on a 128-column file as on a 16-column one, and
    never walks a whole chunk list."""
    idx = {n: _wide_sidecar(tmp_path, n) for n in (16, 128)}
    cols = [1, 7, 12]
    for path in idx.values():  # first read: the sidecar enters the memo
        read_metadata(path, row_groups=[0], column_indices=cols)
    counts = {}
    for n, path in idx.items():
        calls = dict.fromkeys(
            ("_skip_struct_fast", "_list_elem_spans", "_decode_value"), 0
        )
        for name in calls:
            real = getattr(fs, name)

            def counted(*a, _name=name, _real=real, **kw):
                calls[_name] += 1
                return _real(*a, **kw)

            monkeypatch.setattr(fs, name, counted)
        md = read_metadata(path, row_groups=[5], column_indices=cols)
        monkeypatch.undo()
        assert md.num_rows == 5 and md.num_columns == 3
        counts[n] = calls
    assert counts[16] == counts[128], counts
    assert counts[128]["_list_elem_spans"] == 0
    # one skip per struct inside each kept chunk's ColumnMetaData (its
    # statistics and two encoding_stats entries): the ColumnMetaData is
    # walked once, in the chunk's walk, never skipped whole and walked
    # again for the row group's sizes
    assert counts[128]["_skip_struct_fast"] == 3 * 3, counts


def test_copy_struct_overrides_in_place_and_inserts_in_field_order():
    """The splice the reader and both enrichment writers share: an
    override of a present field stays in place, an absent one is inserted
    in field-id order, and bool fields keep their header-only form."""
    src = bytearray()
    fs._encode_struct(src, [
        (1, fs.CT_I32, 7), (2, fs.CT_TRUE, True), (5, fs.CT_BINARY, b"x"),
        (9, fs.CT_FALSE, False), (20, fs.CT_I64, -3),
    ])
    src = bytes(src)
    fields, end = fs._struct_field_spans(src, 0)
    assert end == len(src)
    # a bool field's value is its header: an empty value span
    assert [f for f, ct, s, e in fields if s == e] == [2, 9]

    def copy(overrides) -> bytes:
        out = bytearray()
        fs._copy_struct(out, src, fields, overrides)
        return bytes(out)

    def encoded(struct_fields) -> bytes:
        out = bytearray()
        fs._encode_struct(out, struct_fields)
        return bytes(out)

    assert copy({}) == src
    got = copy({
        5: (fs.CT_BINARY, b"yy"),  # present: replaced in place
        3: (fs.CT_I32, 4),  # absent: between 2 and 5
        15: (fs.CT_I32, 8),  # absent, given out of order
        14: (fs.CT_I64, 99),
        9: (fs.CT_TRUE, True),  # a bool override is header-only too
        40: (fs.CT_I16, 1),  # absent, after the last field (long form)
        1: (fs.CT_I32, fs._Raw(bytes([22]))),  # a pre-encoded payload
    })
    assert got == encoded([
        (1, fs.CT_I32, 11), (2, fs.CT_TRUE, True), (3, fs.CT_I32, 4),
        (5, fs.CT_BINARY, b"yy"), (9, fs.CT_TRUE, True),
        (14, fs.CT_I64, 99), (15, fs.CT_I32, 8), (20, fs.CT_I64, -3),
        (40, fs.CT_I16, 1),
    ])
    assert fs._decode_value(got, 0, fs.CT_STRUCT)[1] == len(got)


def _table_offsets(blob: bytes) -> dict:
    """Byte offset of each PJS2 offset table's u32 count."""
    import struct as _s

    (flen,) = _s.unpack_from("<I", blob, 4)
    pos = 8 + flen
    (n_top,) = _s.unpack_from("<I", blob, pos)
    pos += 4 + 32 * n_top
    (n_rg,) = _s.unpack_from("<I", blob, pos)
    pos += 4
    for _ in range(n_rg):
        (nf,) = _s.unpack_from("<I", blob, pos)
        pos += 4 + 32 * nf
    out = {}
    for name in ("chunks", "orders", "elems"):
        out[name] = pos
        pos += 4 + 4 * _s.unpack_from("<I", blob, pos)[0]
    assert pos == len(blob)
    return out


def test_corrupt_offset_tables_rejected_typed(pq_file):
    """A corrupt chunk, column-order or schema-element offset raises the
    typed error; it never yields metadata, least of all a footer that
    parses but is wrong."""
    import struct as _s

    blob = bytes(generate_metadata_index(pq_file))
    at = _table_offsets(blob)
    (flen,) = _s.unpack_from("<I", blob, 4)
    k = N_COLS + 1  # chunk entries per row group
    rg, col = 2, 1  # the damaged chunk
    chunk = at["chunks"] + 4 + 4 * (rg * k + col)
    elem = at["elems"] + 4 + 4 * (col + 1)

    def u32(b, off):
        return _s.unpack_from("<I", b, off)[0]

    def patched(*edits):
        b = bytearray(blob)
        for off, value in edits:
            _s.pack_into("<I", b, off, value)
        return bytes(b)

    cases = {
        "chunk start onto its neighbour's": patched(
            (chunk, u32(blob, chunk + 4))
        ),
        "two entries swapped": patched((chunk, u32(blob, chunk + 4)),
                                       (chunk + 4, u32(blob, chunk))),
        "schema element onto the next": patched((elem, u32(blob, elem + 4))),
        "offset past the footer": patched((chunk, flen + 9)),
        "truncated inside a table": blob[: at["orders"] + 6],
    }
    for case, bad in cases.items():  # rejected when the sidecar loads
        for rgs, cols in (([rg], [col]), ([], [col]), ([rg], [])):
            with pytest.raises(InvalidSelectionError):
                read_metadata(index_data=bad, row_groups=rgs,
                              column_indices=cols)
                pytest.fail(f"{case}: {rgs} x {cols} returned metadata")
    # a start still in order but off by one byte passes the load checks;
    # the splice's walk of the chunk catches it, and a read that copies
    # the row group whole never uses the entry
    late = patched((chunk, u32(blob, chunk) + 1))
    for rgs in ([rg], []):
        with pytest.raises(InvalidSelectionError):
            read_metadata(index_data=late, row_groups=rgs,
                          column_indices=[col])
            pytest.fail(f"one byte late: {rgs} x [{col}] returned metadata")
    assert read_metadata(index_data=late, row_groups=[rg]).equals(
        read_metadata(index_data=blob, row_groups=[rg])
    )


def test_index_file_read_does_not_poison_parquet_footer_cache(pq_file, tmp_path):
    """Round-13 review: reading a PJS1 index file caches its EMBEDDED
    footer under a tagged key — a later attempt to read the same path
    AS PARQUET must still hit the uncached magic check and fail typed,
    not silently serve the embedded footer."""
    idx_path = str(tmp_path / "x.pjs")
    fs.generate_metadata_index(pq_file, idx_path)
    md = fs.read_metadata(index_file_path=idx_path, row_groups=[0])
    assert md.num_rows > 0
    with pytest.raises(InvalidSelectionError):
        fs.read_footer_bytes(idx_path)


def test_atomic_tail_rewrite_preserves_mode(pq_file, tmp_path):
    """Round-13 review: in-place enrichment must not silently loosen an
    0600 data-lake file to the umask default."""
    import shutil as _sh

    from palletjack_spark.index.bloomprune import add_bloom_filters

    p = str(tmp_path / "perm.parquet")
    _sh.copyfile(pq_file, p)
    os.chmod(p, 0o600)
    cols = [
        c for c in pq.ParquetFile(p).schema_arrow.names
    ]
    add_bloom_filters(p, cols[:1])
    assert (os.stat(p).st_mode & 0o777) == 0o600
