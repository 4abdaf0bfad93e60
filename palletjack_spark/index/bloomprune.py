"""Split-block bloom-filter row-group pruning — and writing — for
equality predicates.

This is the pruning tier for the one layout neither stats nor
dictionaries can reach (round-10 verdict item 1): point lookups on
HIGH-CARDINALITY columns (IDs, URLs, content hashes) whose dictionaries
OVERFLOW to plain data pages.  There q03e's ``encoding_stats`` gate
correctly refuses to dictionary-prune, and [min, max] spans everything.
Parquet's split-block bloom filters (format spec ``BloomFilter.md``; the
reference's generated codec models the footer offsets at
parquet_types_palletjack.h:2012-2148, ``bloom_filter_offset`` /
``bloom_filter_length`` — present-but-unpruned in the reference, per
SURVEY §1.1) answer exactly this: a few KB per chunk, xxHash64 of the
plain-encoded value, one 32-byte block probed with 8 salted bits.

Layout (public parquet-format spec):

- ``ColumnMetaData.bloom_filter_offset`` (field 14, i64) points at a
  compact-thrift ``BloomFilterHeader`` — numBytes (1), algorithm union
  (2, BLOCK), hash union (3, XXHASH), compression union (4,
  UNCOMPRESSED) — followed by the raw bitset; ``bloom_filter_length``
  (field 15, i32) is header+bitset (optional: older writers omit it).
- The bitset is a power-of-two count of 32-byte blocks, each 8 little-
  endian 32-bit words.  ``h = xxh64(plain_bytes)``; the block index is
  ``((h >> 32) * nblocks) >> 32``; within the block, word ``i`` must
  have bit ``((h_low * SALT[i]) & 0xFFFFFFFF) >> 27`` set.

A hit is "maybe present" (false positives possible, bounded by the
writer's fpp); a MISS is a proof of absence — so pruning on a miss is
sound, and every parse/IO failure or ineligible type degrades to
"unknown → keep" (identical results either way; the residual filter
always applies downstream), the same contract as
:mod:`palletjack_spark.index.dictprune`.

The module also WRITES standard split-block bloom filters:
:func:`add_bloom_filters` enriches an existing parquet file in place by
appending bitsets after the data and splicing the offsets into the
footer — the same memcpy-splice discipline as the reference's footer
surgery (palletjack.cc:369-616), needed here because neither pyarrow 16
nor DuckDB 1.0 can write them.  Files stay fully standard: parquet-mr
(Spark) reads and bloom-filters them natively.

Scale shape: probe I/O is one footer (cached) plus one
``bloom_filter_length`` read (typically 8-32 KB) per surviving
(file, chunk) — no data pages; embarrassingly parallel per chunk, and
the catalog-scale plan probes executor-side (:func:`value_prune_plan`),
never materializing the selection on the driver.  Each chunk's filter
offsets and parsed bitset live in its footer's memo
(``footer_splice.footer_memo``): probe facts last as long as the
footer's memo entry, so repeated reads of an unchanged file re-read no
bitset.
"""

from __future__ import annotations

import os
import struct
import sys
from array import array

from palletjack_spark.errors import InvalidSelectionError
from palletjack_spark.index.dictprune import _IDENTITY_LOGICAL, _need
from palletjack_spark.index.footer_splice import (
    CT_I32,
    CT_I64,
    CT_STRUCT,
    FooterProber,
    _decode_value,
    _encode_struct,
    _enrich_dataset,
    _footer_surgery,
    _span_get,
    _struct_field_spans,
    chunk_fields,
    int_field,
    read_footer_bytes,
)

__all__ = [
    "BloomProber",
    "add_bloom_filters",
    "add_bloom_filters_dataset",
    "value_prune_plan",
    "xxh64",
]

# --------------------------------------------------------------------------
# xxHash64 (XXH64) — the spec-mandated bloom hash, seed 0
# --------------------------------------------------------------------------

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = 0) -> int:
    """Pure-Python XXH64 (public reference algorithm; verified against
    the published test vectors in tests/test_bloomprune.py and against
    parquet-mr-written filters end-to-end).  Python int arithmetic is
    plenty for the handful of predicate literals probed per query."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


# --------------------------------------------------------------------------
# split-block bitset
# --------------------------------------------------------------------------

#: the 8 salt constants of the split-block algorithm (format spec)
_SALT = (
    0x47B6137B,
    0x44974D91,
    0x8824AD5B,
    0xA2B7289D,
    0x705495C7,
    0x2DF1424B,
    0x9EFC4947,
    0x5C6BFB31,
)


def _block_of(words, h: int) -> int:
    """Word index of the block ``h`` maps to (8 words per 32-byte block)."""
    nblocks = len(words) >> 3
    return (((h >> 32) * nblocks) >> 32) << 3


def _might_contain(words, h: int) -> bool:
    base = _block_of(words, h)
    hl = h & 0xFFFFFFFF
    for i in range(8):
        bit = ((hl * _SALT[i]) & 0xFFFFFFFF) >> 27
        if not (words[base + i] >> bit) & 1:
            return False
    return True


def _insert(words, h: int) -> None:
    base = _block_of(words, h)
    hl = h & 0xFFFFFFFF
    for i in range(8):
        bit = ((hl * _SALT[i]) & 0xFFFFFFFF) >> 27
        words[base + i] |= 1 << bit


# --------------------------------------------------------------------------
# footer + header parsing
# --------------------------------------------------------------------------


def bloom_offsets(
    footer: bytes, rg_idx: int, col_idx: int
) -> tuple[int, int | None] | None:
    """(bloom_filter_offset, bloom_filter_length|None) of a column chunk,
    or None when the chunk carries no bloom filter (the common case —
    absence must KEEP the row group)."""
    got = chunk_fields(footer, rg_idx, col_idx)
    if got is None or got[1] is None:
        return None
    offset = int_field(footer, got[1], 14)  # bloom_filter_offset
    if offset is None:
        return None
    return offset, int_field(footer, got[1], 15) or None  # bloom_filter_length


#: sanity cap on a single bitset read (the spec's own maximum)
_MAX_BITSET = 128 * 1024 * 1024


def read_bloom(path: str, offset: int, length: int | None):
    """Parse one split-block bloom filter into its 32-bit words as an
    ``array("I")`` (so a cached filter costs its on-disk size), or None
    when the header is missing/foreign (non-BLOCK algorithm, non-XXHASH,
    compressed — nothing standard writes those today) or anything fails:
    unknown always keeps."""
    try:
        if length is not None and length > _MAX_BITSET + 4096:
            # cap BEFORE the read: a corrupt/foreign footer declaring a
            # multi-GB bloom_filter_length must degrade to "unknown ->
            # keep", not allocate gigabytes on an executor (the
            # read_column_index pre-read discipline)
            return None
        with open(path, "rb") as fh:
            fh.seek(offset)
            raw = fh.read(length if length else 4096)
            header, payload = _struct_field_spans(raw, 0)
            num_bytes = _decode_value(raw, *_need(header, 1))[0]
            if (
                not isinstance(num_bytes, int)
                or num_bytes < 32
                or num_bytes > _MAX_BITSET
                or num_bytes & 31
            ):
                return None
            # the three unions must each hold their field-1 member:
            # BLOCK / XXHASH / UNCOMPRESSED
            for fid in (2, 3, 4):
                u_span = _span_get(header, fid)
                if u_span is None:
                    return None
                u_fields, _ = _struct_field_spans(raw, u_span[1])
                if len(u_fields) != 1 or u_fields[0][0] != 1:
                    return None
            if payload + num_bytes > len(raw):
                if length is not None:
                    return None  # declared length too short: foreign layout
                fh.seek(offset + payload)
                bits = fh.read(num_bytes)
            else:
                bits = raw[payload : payload + num_bytes]
        if len(bits) != num_bytes:
            return None
        words = array("I", bits)
        if sys.byteorder == "big":
            words.byteswap()  # the bitset's words are little-endian
        return words
    except Exception:
        return None


# --------------------------------------------------------------------------
# literal -> plain-encoded hash input
# --------------------------------------------------------------------------


def _probe_bytes(value, physical_type: str, logical_type: str | None):
    """The value's hash input per the spec (plain encoding; BYTE_ARRAY
    hashes the raw bytes WITHOUT the length prefix — verified against
    parquet-mr-written filters), or None when the literal's type can't
    be the column's value space.  The same identity-logical-type gate as
    the dictionary probe (round-10 ADVICE): DECIMAL-as-unscaled-INT,
    unsigned-as-signed, and date/time re-encodings never probe."""
    t = (physical_type or "").upper()
    if logical_type not in _IDENTITY_LOGICAL.get(t, ()):
        return None
    try:
        if t == "BYTE_ARRAY":
            if isinstance(value, str):
                return value.encode("utf-8")
            if isinstance(value, (bytes, bytearray)):
                return bytes(value)
            return None
        if t in ("INT32", "INT64"):
            if not isinstance(value, int) or isinstance(value, bool):
                return None
            return struct.pack("<i" if t == "INT32" else "<q", value)
        if t in ("FLOAT", "DOUBLE"):
            import math

            if not isinstance(value, (int, float)) or isinstance(value, bool):
                return None
            v = float(value)
            # NaN never probes (Spark NaN = NaN is true; writers hash a
            # canonical NaN we can't rely on) and ±0.0 hash differently
            # while comparing equal — both keep
            if math.isnan(v) or v == 0.0:
                return None
            packed = struct.pack("<f" if t == "FLOAT" else "<d", v)
            # FLOAT: a literal not exactly representable in float32 can
            # still be PROBED only if the round-trip is exact
            if t == "FLOAT" and struct.unpack("<f", packed)[0] != v:
                return None
            return packed
        return None  # BOOLEAN / INT96 / FIXED_LEN_BYTE_ARRAY: not probed
    except (struct.error, OverflowError):
        return None  # literal outside the physical range: stats' job


# --------------------------------------------------------------------------
# prober + pruning
# --------------------------------------------------------------------------


class BloomProber(FooterProber):
    """Bloom prober: each chunk's filter offsets and parsed bitset are
    read at most once per (footer, chunk), in the footer's memo — later
    passes over an unchanged file reuse them."""

    def _bloom(self, path: str, rg_idx: int, col_idx: int):
        footer, memo = self._memo(path, "bloom")
        if memo is None:
            return None
        key = (rg_idx, col_idx)
        if key not in memo:
            off = bloom_offsets(footer, rg_idx, col_idx)
            memo[key] = read_bloom(path, *off) if off is not None else None
        return memo[key]

    def can_match(
        self, path: str, rg_idx: int, col_idx: int, col_meta: dict, value
    ) -> bool | None:
        """False = the bloom filter PROVES no row equals ``value`` (safe
        to skip the row group); True = maybe present; None = no
        filter / ineligible type (keep)."""
        probe = _probe_bytes(
            value, col_meta.get("physical_type"), col_meta.get("logical_type")
        )
        if probe is None:
            return None
        words = self._bloom(path, rg_idx, col_idx)
        if words is None:
            return None
        return _might_contain(words, xxh64(probe))


def value_prune_plan(plan, predicate, explain: bool = False):
    """Combined executor-side value-level pruning in ONE mapInArrow pass:
    the dictionary tier (equality + exclusion —
    :mod:`palletjack_spark.index.dictprune`), the bloom tier (equality
    on dict-overflow chunks, this module), and the page-index tier
    (per-page min/max envelope gaps —
    :mod:`palletjack_spark.index.pageprune`, which also probes RANGE
    conjuncts the first two tiers can't), in the order and with the
    verdicts of ``tiers.value_verdict``, which each row runs.  One pass
    keeps the catalog plan a single pipelined stage, and the probers
    share one footer snapshot per task (``tiers.new_probers``).  Same
    contract as the driver-side tiers: unknown keeps, the selection
    never touches the driver, output columns are (file, row_group,
    total_byte_size, pj_ranges).

    ``explain=True`` (round-12 observability,
    :func:`palletjack_spark.index.explain.prune_explain_counts`): keep
    EVERY input row and emit a ``pj_tier`` column instead — the deciding
    value tier ("dictionary" / "bloom" / "page") for rows the pass would
    have dropped, "kept" otherwise."""
    from pyspark.sql import functions as F

    from palletjack_spark.index.dictprune import meta_from_row, plan_meta_columns
    from palletjack_spark.index.predicate import canonical
    from palletjack_spark.index.tiers import (
        new_probers,
        value_predicate,
        value_verdict,
    )

    # every column a value tier can probe: the page tier probes every op
    pred = canonical(predicate or ())
    cols = list(dict.fromkeys(c[0] for c in pred))
    if not cols:
        if explain:
            return plan.select(
                "file", "row_group", "total_byte_size"
            ).withColumn("pj_tier", F.lit("kept"))
        return plan

    import pyarrow as pa

    nrows_col = (
        F.col("num_rows")
        if "num_rows" in plan.columns
        else F.lit(None).cast("long")
    )
    sel = plan.select(
        "file", "row_group", "total_byte_size", nrows_col.alias("pj_nrows"),
        *plan_meta_columns(plan, cols, "pj"),
    )
    extra = ("pj_tier", pa.string()) if explain else (
        "pj_ranges", pa.list_(pa.list_(pa.int64()))
    )
    out_arrow = pa.schema(
        [("file", pa.string()), ("row_group", pa.int32()),
         ("total_byte_size", pa.int64()), extra]
    )
    out_schema = "file string, row_group int, total_byte_size long, " + (
        "pj_tier string" if explain else "pj_ranges array<array<bigint>>"
    )
    vpred = value_predicate(pred)

    def probe(batches):
        probers = new_probers()
        for b in batches:
            out = []
            for r in b.to_pylist():
                metas = {
                    c: (r[f"pj_cix_{j}"], meta_from_row(r, "pj", j))
                    for j, c in enumerate(cols)
                }

                def look(col_name):
                    cix, meta = metas.get(col_name, (None, None))
                    return None if cix is None or cix < 0 else (int(cix), meta)

                # the surviving page ROW RANGES ride the plan, so the
                # executor-side scan slices row groups exactly like the
                # driver-local path
                tier, _conj, ranges = value_verdict(
                    probers, r["file"], r["row_group"], r["pj_nrows"],
                    vpred, look, not explain,
                )
                row = {
                    "file": r["file"],
                    "row_group": r["row_group"],
                    "total_byte_size": r["total_byte_size"],
                }
                if explain:
                    row["pj_tier"] = tier or "kept"
                elif tier:
                    continue
                else:
                    row["pj_ranges"] = ranges
                out.append(row)
            yield pa.RecordBatch.from_pylist(out, schema=out_arrow)

    return sel.mapInArrow(probe, out_schema)


# --------------------------------------------------------------------------
# writer: enrich an existing file with standard bloom filters
# --------------------------------------------------------------------------


def _bitset_bytes(ndv: int, fpp: float) -> int:
    """Bitset size for a target false-positive rate: the split-block
    formula from the format spec (parquet-mr's ``optimalNumOfBits``),
    rounded up to a power of two, clamped to [32 B, 128 MB]."""
    import math

    ndv = max(1, int(ndv))
    fpp = min(max(fpp, 1e-9), 0.5)
    # bits/value for a blocked bloom at fpp (spec: m/n = c(e));
    # parquet-mr uses the closed form below
    bits = ndv * (-8.0 / math.log(1.0 - fpp ** (1.0 / 8.0)))
    nbytes = 1 << max(5, math.ceil(math.log2(max(bits, 256.0) / 8.0)))
    return min(nbytes, _MAX_BITSET)


def _bloom_blob(values_hashes, nbytes: int) -> bytes:
    """BloomFilterHeader + bitset for one chunk's value-hash iterable."""
    words = [0] * (nbytes >> 2)
    for h in values_hashes:
        _insert(words, h)
    header = bytearray()
    # {1: numBytes, 2: {1: BLOCK}, 3: {1: XXHASH}, 4: {1: UNCOMPRESSED}}
    union = [(1, CT_STRUCT, [])]
    _encode_struct(header, [(1, CT_I32, nbytes)] + [
        (fid, CT_STRUCT, union) for fid in (2, 3, 4)
    ])
    return bytes(header) + struct.pack(f"<{nbytes >> 2}I", *words)


def _chunk_hashes(pf, rg_idx: int, col_name: str, physical_type: str):
    """xxh64 of every distinct value in one (row group, column) of the
    open ``pq.ParquetFile`` ``pf`` — build-time enrichment reads the
    column once, like any index build."""
    t = (physical_type or "").upper()
    tbl = pf.read_row_group(rg_idx, columns=[col_name])
    col = tbl.column(0)
    out = set()
    for v in col.to_pylist():
        if v is None:
            continue
        if t == "BYTE_ARRAY":
            b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        elif t in ("INT32", "INT64"):
            b = struct.pack("<i" if t == "INT32" else "<q", v)
        elif t in ("FLOAT", "DOUBLE"):
            f = float(v)
            if f == 0.0:
                f = 0.0  # normalize -0.0 to +0.0 (parquet-mr does too)
            b = struct.pack("<f" if t == "FLOAT" else "<d", f)
        else:
            raise InvalidSelectionError(
                f"bloom filters unsupported for physical type {t}"
            )
        out.add(xxh64(b))
    return out


def add_bloom_filters(
    path: str, columns: list[str], fpp: float = 0.01
) -> int:
    """Enrich an existing parquet file with standard split-block bloom
    filters for ``columns``, in place: bitsets append after the data
    (where writers put them), and ``bloom_filter_offset``/``length``
    (ColumnMetaData fields 14/15) are set in each enriched chunk by
    ``footer_splice._footer_surgery``, the compact-thrift memcpy splice
    :func:`pageprune.add_page_index` shares.  Files stay fully standard;
    parquet-mr/Spark read (and bloom-filter) them natively.  Columns
    that already carry a filter are skipped.  Returns the number of
    (row group, column) chunks enriched.

    Exists because no in-container writer can produce bloom filters
    (pyarrow 16 / DuckDB 1.0 predate write support) — and as the
    production answer for data ALREADY at rest: a 100 TB catalog gets
    point-lookup pruning without rewriting a single data page."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    footer = read_footer_bytes(path)
    footer_start = os.path.getsize(path) - 8 - len(footer)
    # closed before the surgery replaces the file (os.replace refuses an
    # open file on Windows)
    with pq.ParquetFile(path) as pf:
        md = pf.metadata
        if md.num_row_groups == 0:
            return 0  # an empty part file has nothing to enrich
        # leaf names and physical types in footer schema order == chunk
        # order
        chunks = [md.row_group(0).column(j) for j in range(md.num_columns)]
        names = [c.path_in_schema for c in chunks]
        schema = pf.schema_arrow
        #: arrow types whose plain encoding IS the raw value space the
        #: probe hashes (the writer-side mirror of the probe's
        #: _IDENTITY_LOGICAL gate — round-13 review: DATE/TIMESTAMP/
        #: DECIMAL/unsigned columns previously crashed mid-enrichment
        #: with a raw struct.error instead of a typed rejection)
        writer_ok = (
            pa.types.is_int32,
            pa.types.is_int64,
            pa.types.is_float32,
            pa.types.is_float64,
            pa.types.is_string,
            pa.types.is_large_string,
            pa.types.is_binary,
            pa.types.is_large_binary,
        )
        targets = []
        for c in columns:
            if c not in names:
                raise InvalidSelectionError(
                    f"Unknown column for bloom filter: {c!r}"
                )
            try:
                ftype = schema.field(c).type
            except KeyError:
                # a NESTED leaf ("s.x"): present in the chunk path names
                # but not an arrow top-level field — typed rejection, not
                # a raw KeyError mid-enrichment (round-16 sweep)
                raise InvalidSelectionError(
                    f"bloom filters unsupported for nested column {c!r}"
                ) from None
            if not any(ok(ftype) for ok in writer_ok):
                raise InvalidSelectionError(
                    f"bloom filters unsupported for column {c!r} of type "
                    f"{ftype} (non-identity logical types — date/timestamp/"
                    "decimal/unsigned — have no raw-value bloom encoding)"
                )
            targets.append((names.index(c), c))

        # one blob per chunk lacking a filter, appended in (rg, col)
        # order; its ColumnMetaData gets fields 14/15 pointing at it
        appendix = bytearray()
        edits = []
        for rg_idx in range(md.num_row_groups):
            for col_idx, col_name in targets:
                if bloom_offsets(footer, rg_idx, col_idx) is not None:
                    continue  # already enriched
                got = chunk_fields(footer, rg_idx, col_idx)
                if got is None or got[1] is None:
                    raise InvalidSelectionError(
                        "unparseable ColumnMetaData during bloom splice"
                    )
                hashes = _chunk_hashes(
                    pf, rg_idx, col_name, chunks[col_idx].physical_type
                )
                blob = _bloom_blob(hashes, _bitset_bytes(len(hashes), fpp))
                _cc, md_fields, start, end = got
                edits.append((start, end, md_fields, {
                    14: (CT_I64, footer_start + len(appendix)),
                    15: (CT_I32, len(blob)),
                }))
                appendix += blob
    if edits:
        _footer_surgery(path, footer_start, footer, appendix, edits)
    return len(edits)


def add_bloom_filters_dataset(
    spark, paths, columns: list[str], fpp: float = 0.01
) -> int:
    """Distributed :func:`add_bloom_filters` over a whole dataset: ship
    the file list to executors and let each enrich its files in place —
    the 100 TB story for data at rest: every file gains point-lookup
    pruning without a single data page moving over the network or being
    rewritten.  Returns the total number of (row group, column) chunks
    enriched."""
    cols = list(columns)
    return _enrich_dataset(
        spark, paths, lambda p: add_bloom_filters(p, cols, fpp)
    )
