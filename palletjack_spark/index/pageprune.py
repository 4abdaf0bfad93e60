"""Page-index (ColumnIndex / OffsetIndex) row-group pruning.

The fourth value-level pruning tier, below row-group stats (round 5),
dictionaries (round 9, :mod:`palletjack_spark.index.dictprune`) and
bloom filters (round 11, :mod:`palletjack_spark.index.bloomprune`):
per-PAGE min/max envelopes from the parquet page index (format spec
``PageIndex.md``; the reference's generated codec models the structs —
``ColumnIndex``/``OffsetIndex``/``PageLocation``,
parquet_types_palletjack.h — as offsets it splices but never probes).

What pages reach that row-group stats can't: the ENVELOPE-GAP layout.
A row group's [min, max] is the union envelope of its pages; data that
clusters per page (time-ordered appends compacted from multiple
streams, multi-tenant batches, re-bucketed writes) leaves value GAPS
between pages that the row-group envelope hides.  A literal in such a
gap passes stats, has no dictionary (plain-encoded high-cardinality
chunk), may have no bloom filter — yet every page's envelope provably
excludes it, so the whole row group is skippable from a few hundred
footer-adjacent bytes.

Layout (public parquet-format spec):

- ``ColumnChunk.column_index_offset/length`` (fields 6/7) point at a
  compact-thrift ``ColumnIndex``: null_pages (1, list<bool>),
  min_values (2, list<binary>, PLAIN-encoded per physical type),
  max_values (3), boundary_order (4), null_counts (5, optional).
- ``ColumnChunk.offset_index_offset/length`` (fields 4/5) point at an
  ``OffsetIndex``: page_locations (1, list<PageLocation{offset (1),
  compressed_page_size (2), first_row_index (3)}>) — first_row_index
  is the page's first row ordinal WITHIN the row group.

Soundness contract (same as every other tier — unknown always keeps,
results are identical with pruning off because the residual filter
applies downstream):

- byte-array min/max may be TRUNCATED: min is a prefix of (hence <=)
  the true min, max is spec-required >= the true max — both remain
  valid envelope bounds as-is; a single-valued-page proof (lo == hi)
  survives truncation (max >= true max and max a prefix of true min
  forces equality).
- the IDENTITY logical-type gate of the dictionary/bloom probes
  (round-10 ADVICE): DECIMAL-as-unscaled-INT, unsigned-as-signed and
  date/time re-encodings never probe — decoded bytes would order
  differently from the user literal's value space.
- FLOAT/DOUBLE: range/equality envelopes prune (Spark's own parquet
  pushdown and DuckDB's zone maps share parquet's NaN-dropping stats
  behavior — engine-parity doctrine, PLANS round 11), NaN literals and
  NaN bounds never prune, and exclusion (``!=``/``not_in``) NEVER
  prunes float pages (a page holding {5.0, NaN} reports lo == hi ==
  5.0 while its NaN rows satisfy ``col != 5.0``).
- ``null_pages[i]`` true = page i is all-NULL: it provably fails every
  value conjunct (including exclusions — NULL fails those too) and
  ``not_null``, and provably passes ``is_null``.

Granularities served:

- the page tier of ``tiers.prune_verdicts`` and of
  ``bloomprune.value_prune_plan``: drop a ROW GROUP when, for some
  conjunct column, every page fails — or, when every conjunct column
  also carries an OffsetIndex, when the per-column surviving row-range
  unions have an EMPTY intersection (multi-column envelope gaps).
- :meth:`PageProber.surviving_ranges`: the row-granular selection
  [(start, end)) within a row group.  The driver-local read path WIRES
  it into the scan: surviving row groups slice zero-copy to these
  ranges before any row enters Spark (``arrow_scan.scan_tasks``
  ``row_ranges=``) — q03h's fixture drops from 4096 to 1024
  pre-residual rows while residual-on results stay identical.

Probe I/O is the footer (cached) plus one ``column_index_length`` (+
optionally ``offset_index_length``) read per (chunk, conjunct column)
— typically a few hundred bytes, adjacent in the file since writers
emit the page index as one contiguous block before the footer.  The
parsed ColumnIndex/OffsetIndex pair of each chunk lives in its footer's
memo (``footer_splice.footer_memo``): probe facts last as long as the
footer's memo entry, so repeated reads of an unchanged file re-read no
page index.
"""

from __future__ import annotations

import math
import struct

from palletjack_spark.index.dictprune import _IDENTITY_LOGICAL
from palletjack_spark.index.footer_splice import (
    FooterProber,
    _decode_value,
    _list_elem_spans,
    _span_get,
    _struct_field_spans,
    chunk_fields,
    chunk_span,
    int_field,
    read_footer_bytes,
)
from palletjack_spark.index.predicate import (
    EXCLUDE_OPS,
    LIST_OPS,
    NULL_OPS,
    OPS,
    interval_keep,
)

__all__ = [
    "PageProber",
    "add_page_index",
    "add_page_index_dataset",
    "page_index_offsets",
    "read_column_index",
    "read_offset_index",
]


def page_index_offsets(
    footer: bytes, rg_idx: int, col_idx: int
) -> tuple[int, int, int | None, int | None] | None:
    """(column_index_offset, column_index_length, offset_index_offset,
    offset_index_length) of one column chunk — the last two None when
    the writer omitted the OffsetIndex — or None when there is no
    ColumnIndex at all (absence must KEEP)."""
    got = chunk_fields(footer, rg_idx, col_idx)
    if got is None:
        return None
    cc = got[0]  # the page index offsets live in ColumnChunk itself
    ci_off = int_field(footer, cc, 6)
    ci_len = int_field(footer, cc, 7)
    if ci_off is None or ci_len is None or ci_len <= 0:
        return None
    oi_off = int_field(footer, cc, 4)
    oi_len = int_field(footer, cc, 5)
    if oi_len is not None and oi_len <= 0:
        oi_off = oi_len = None
    return ci_off, ci_len, oi_off, oi_len


#: sanity cap on one page-index read (far above any real writer's output)
_MAX_INDEX = 16 * 1024 * 1024


def _decode_stat(raw: bytes, physical_type: str):
    """PLAIN-decoded bound value, or None when undecodable.  BYTE_ARRAY
    bounds stay raw bytes (possibly truncated — still valid envelope
    bounds, see module docstring); numerics must be exactly sized."""
    t = (physical_type or "").upper()
    try:
        if t == "BYTE_ARRAY":
            return bytes(raw)
        if t == "INT32":
            return struct.unpack("<i", raw)[0] if len(raw) == 4 else None
        if t == "INT64":
            return struct.unpack("<q", raw)[0] if len(raw) == 8 else None
        if t == "FLOAT":
            if len(raw) != 4:
                return None
            v = struct.unpack("<f", raw)[0]
            return None if math.isnan(v) else v
        if t == "DOUBLE":
            if len(raw) != 8:
                return None
            v = struct.unpack("<d", raw)[0]
            return None if math.isnan(v) else v
        return None  # BOOLEAN / INT96 / FIXED_LEN_BYTE_ARRAY: not probed
    except Exception:
        return None


def read_column_index(
    path: str, offset: int, length: int, physical_type: str
) -> dict | None:
    """Parse one ColumnIndex into {'null_pages', 'mins', 'maxs',
    'null_counts'} (bounds decoded per physical type; an undecodable
    bound becomes None so that page keeps), or None when anything about
    the layout surprises — unknown always keeps."""
    if not (0 < length <= _MAX_INDEX):
        return None
    try:
        with open(path, "rb") as fh:
            fh.seek(offset)
            raw = fh.read(length)
        if len(raw) != length:
            return None
        fields, _ = _struct_field_spans(raw, 0)

        def _list(fid):
            span = _span_get(fields, fid)
            if span is None:
                return None
            etype, spans, _ = _list_elem_spans(raw, span[1])
            return [(etype, s, e) for s, e in spans]

        nulls = _list(1)
        mins = _list(2)
        maxs = _list(3)
        if nulls is None or mins is None or maxs is None:
            return None
        if not (len(nulls) == len(mins) == len(maxs)) or not nulls:
            return None
        null_pages = [
            bool(_decode_value(raw, s, et)[0]) for et, s, _e in nulls
        ]
        dec = []
        for vals in (mins, maxs):
            out = []
            for et, s, e in vals:
                if et != 8:  # binary
                    return None
                b = _decode_value(raw, s, et)[0]
                out.append(_decode_stat(b, physical_type))
            dec.append(out)
        ncs = _list(5)
        null_counts = None
        if ncs is not None and len(ncs) == len(nulls):
            null_counts = [
                _decode_value(raw, s, et)[0] for et, s, _e in ncs
            ]
        return {
            "null_pages": null_pages,
            "mins": dec[0],
            "maxs": dec[1],
            "null_counts": null_counts,
        }
    except Exception:
        return None


def read_offset_index(path: str, offset: int, length: int) -> list | None:
    """The page first-row ordinals (within the row group) from one
    OffsetIndex, or None on any surprise."""
    if not (0 < length <= _MAX_INDEX):
        return None
    try:
        with open(path, "rb") as fh:
            fh.seek(offset)
            raw = fh.read(length)
        if len(raw) != length:
            return None
        fields, _ = _struct_field_spans(raw, 0)
        span = _span_get(fields, 1)  # OffsetIndex.page_locations
        if span is None:
            return None
        _etype, spans, _ = _list_elem_spans(raw, span[1])
        firsts = []
        for s, _e in spans:
            pl, _ = _struct_field_spans(raw, s)
            fr = _span_get(pl, 3)  # PageLocation.first_row_index
            if fr is None:
                return None
            v = _decode_value(raw, fr[1], fr[0])[0]
            if not isinstance(v, int) or v < 0:
                return None
            firsts.append(v)
        if not firsts or firsts[0] != 0:
            return None
        # STRICTLY increasing: a duplicate first_row_index would be a
        # zero-row page — no conforming writer emits one, and downstream
        # range math must never see an empty or inverted page span
        if any(b <= a for a, b in zip(firsts, firsts[1:])):
            return None
        return firsts
    except Exception:
        return None


# --------------------------------------------------------------------------
# per-page envelope tests
# --------------------------------------------------------------------------


def _coerce_literal(value, physical_type: str):
    """The literal in the decoded bound's comparison space, or None when
    it can't be compared (keep).  Strings compare as UTF-8 bytes —
    Spark's UTF8String and parquet's BYTE_ARRAY ordering are both
    unsigned byte-wise, so the orders agree for ANY string."""
    t = (physical_type or "").upper()
    if t == "BYTE_ARRAY":
        if isinstance(value, str):
            return value.encode("utf-8")
        if isinstance(value, (bytes, bytearray)):
            return bytes(value)
        return None
    if t in ("INT32", "INT64"):
        # ints compare exactly; a float literal compares fine against
        # python ints too (both exact here — bounds decode to int)
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            return None
        if isinstance(value, float):
            return None if math.isnan(value) else value
        return value
    if t in ("FLOAT", "DOUBLE"):
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            return None
        v = float(value)
        return None if math.isnan(v) else v
    return None


def _page_passes(op, vals, lo, hi, null_page: bool, null_count) -> bool:
    """True when page MAY hold a matching row (conservative); False is a
    proof it can't.  ``lo``/``hi`` are decoded bounds (None = unknown),
    ``vals`` already coerced to the comparison space.  Value and
    exclusion ops run the stats rule's interval test."""
    if op in NULL_OPS:
        if op == "is_null":
            if null_page:
                return True
            if null_count is not None and null_count == 0:
                return False
            return True
        return not null_page  # not_null: only an all-NULL page fails
    if null_page:
        return False  # no non-NULL value: fails =/in/ranges/exclusions
    if lo is None or hi is None:
        return True
    # float pages never reach an exclusion op here (gated by the caller)
    return interval_keep(op, lo, hi, vals)


def _conjunct_page_mask(ci: dict, op, raw_vals, physical_type) -> list | None:
    """Per-page pass/fail for one conjunct, or None when the conjunct
    can't probe this column (keep everything)."""
    t = (physical_type or "").upper()
    if op in NULL_OPS:
        vals = []
    else:
        if op in LIST_OPS:
            if not raw_vals or not isinstance(
                raw_vals[0], (list, tuple, set, frozenset)
            ):
                return None  # malformed conjunct: keep (round-16 sweep)
            cand = list(raw_vals[0])
            if op == "in" and not cand:
                return [False] * len(ci["null_pages"])  # empty IN: nothing
            if not cand:
                return None  # excluding nothing prunes nothing
        else:
            cand = [raw_vals[0]] if raw_vals else []
            if op == "between":
                cand = list(raw_vals[:2])
                if len(cand) != 2:
                    return None  # malformed between: keep, never crash
            if not cand:
                return None
        if op in EXCLUDE_OPS and t in ("FLOAT", "DOUBLE"):
            return None  # NaN-data hazard: float pages never exclude
        vals = [_coerce_literal(v, t) for v in cand]
        if any(v is None for v in vals):
            return None  # uncomparable / NaN literal: keep
    ncs = ci["null_counts"]
    return [
        _page_passes(
            op,
            vals,
            ci["mins"][i],
            ci["maxs"][i],
            ci["null_pages"][i],
            ncs[i] if ncs is not None else None,
        )
        for i in range(len(ci["null_pages"]))
    ]


# --------------------------------------------------------------------------
# prober + pruning
# --------------------------------------------------------------------------


class PageProber(FooterProber):
    """Page-index prober: each chunk's ColumnIndex/OffsetIndex pair is
    read at most once per (footer, chunk), in the footer's memo — later
    passes over an unchanged file reuse it.  The per-page masks are
    memoized per pass, keyed by predicate."""

    def __init__(self) -> None:
        super().__init__()
        self._mask_cache: dict[tuple, list] = {}

    def _index(self, path: str, rg_idx: int, col_idx: int, ptype: str):
        """(ColumnIndex dict | None, first_row_index list | None)."""
        footer, memo = self._memo(path, "page")
        if memo is None:
            return None, None
        key = (rg_idx, col_idx, ptype)
        if key not in memo:
            memo[key] = _page_index(path, footer, rg_idx, col_idx, ptype)
        return memo[key]

    @staticmethod
    def _pred_key(predicate):
        """Hashable form of a predicate list (IN/NOT IN carry lists)."""
        return tuple(
            (c, o)
            + tuple(
                tuple(v) if isinstance(v, (list, set)) else v for v in vals
            )
            for c, o, *vals in predicate
        )

    def _masks(self, path, rg_idx, predicate, col_lookup):
        """[(mask, first_rows | None)] per probeable conjunct of a
        canonical predicate (``predicate.canonical``), or None entries
        skipped.  ``col_lookup(col_name)`` -> (col_idx, meta) or None.  Memoized per (path, rg, predicate): every kept row
        group pays this via rg_can_match AND again via surviving_ranges
        (round-13 review — the masks are pure functions of the cached
        ColumnIndex, so the second pass is free now)."""
        try:
            key = (path, rg_idx, self._pred_key(predicate))
        except TypeError:
            key = None  # unhashable exotic literal: compute uncached
        if key is not None:
            hit = self._mask_cache.get(key)
            if hit is not None:
                return hit
        out = []
        for col_name, op, *vals in predicate:
            if op not in OPS:
                continue
            got = col_lookup(col_name)
            if got is None:
                continue
            col_idx, meta = got
            ptype = meta.get("physical_type")
            ltype = meta.get("logical_type")
            t = (ptype or "").upper()
            if op not in NULL_OPS and ltype not in _IDENTITY_LOGICAL.get(
                t, ()
            ):
                continue  # non-identity logical re-encoding: never probe
            ci, oi = self._index(path, rg_idx, col_idx, ptype)
            if ci is None:
                continue
            mask = _conjunct_page_mask(ci, op, vals, ptype)
            if mask is None:
                continue
            out.append((mask, oi))
        if key is not None:
            self._mask_cache[key] = out
        return out

    def rg_can_match(
        self, path: str, rg_idx: int, num_rows, predicate, col_lookup
    ) -> bool:
        """False = the page index PROVES no row of the row group can
        satisfy ``predicate`` (safe to skip); True = maybe."""
        masks = self._masks(path, rg_idx, predicate, col_lookup)
        survive = None  # intersected row-range set across conjuncts
        for mask, firsts in masks:
            if not any(mask):
                return False  # every page fails one conjunct
            if firsts is None or num_rows is None:
                continue  # no row granularity: this conjunct only vetoes
            if firsts[-1] >= num_rows:
                # corrupt/foreign OffsetIndex: a first_row_index at or
                # past the row group's end would make the final page's
                # range inverted and VANISH in the intersection — a
                # false "no rows" proof (round-16 sweep; incorrect
                # pruning, not a missed prune).  No row granularity.
                continue
            rngs = _mask_ranges(mask, firsts, num_rows)
            survive = rngs if survive is None else _intersect(survive, rngs)
            if survive == []:
                return False  # multi-column envelope gap: ranges disjoint
        return True

    def surviving_ranges(
        self, path: str, rg_idx: int, num_rows: int, predicate, col_lookup
    ) -> list | None:
        """Intersected surviving [(start, end)) row ranges within the
        row group, or None when any probeable conjunct lacks an
        OffsetIndex (row granularity unknown — caller keeps all rows).
        An empty list is a PROOF no row matches."""
        masks = self._masks(path, rg_idx, predicate, col_lookup)
        if not masks:
            return None
        survive = [(0, num_rows)]
        for mask, firsts in masks:
            if not any(mask):
                return []
            if firsts is None or firsts[-1] >= num_rows:
                return None  # absent — or corrupt (see rg_can_match)
            survive = _intersect(survive, _mask_ranges(mask, firsts, num_rows))
            if not survive:
                return []
        return survive


def _page_index(path, footer, rg_idx, col_idx, ptype):
    """One chunk's (ColumnIndex dict | None, first_row_index list | None),
    bounds decoded as ``ptype``."""
    offs = page_index_offsets(footer, rg_idx, col_idx)
    if offs is None:
        return None, None
    ci_off, ci_len, oi_off, oi_len = offs
    ci = read_column_index(path, ci_off, ci_len, ptype)
    oi = (
        read_offset_index(path, oi_off, oi_len)
        if oi_off is not None and oi_len is not None
        else None
    )
    if ci is not None and oi is not None and len(oi) != len(ci["null_pages"]):
        oi = None  # inconsistent writer output: ranges unusable
    return ci, oi


def _mask_ranges(mask, firsts, num_rows: int) -> list:
    """Surviving-page row ranges [(start, end)), coalescing adjacent
    survivors."""
    out = []
    for i, keep in enumerate(mask):
        if not keep:
            continue
        start = firsts[i]
        end = firsts[i + 1] if i + 1 < len(firsts) else num_rows
        if out and out[-1][1] == start:
            out[-1] = (out[-1][0], end)
        else:
            out.append((start, end))
    return out


def _intersect(a: list, b: list) -> list:
    out = []
    i = j = 0
    while i < len(a) and j < len(b):
        lo = max(a[i][0], b[j][0])
        hi = min(a[i][1], b[j][1])
        if lo < hi:
            out.append((lo, hi))
        if a[i][1] <= b[j][1]:
            i += 1
        else:
            j += 1
    return out


def _row_lookup(rg_row: dict):
    """col_lookup over an index-sidecar row's ``columns`` array."""

    def look(col_name):
        for i, c in enumerate(rg_row["columns"]):
            if c["name"] == col_name:
                return i, c
        return None

    return look


# --------------------------------------------------------------------------
# writer: enrich an existing file with a standard page index
# --------------------------------------------------------------------------

#: byte-array bound truncation window (parquet-cpp's default)
_TRUNCATE = 64


def _walk_data_pages(path: str, col_meta: dict):
    """[(absolute page offset, total page size incl. header, row count)]
    for every DATA page of one column chunk, from the page headers alone
    (headers are never compressed; payloads are skipped by size).  For
    non-nested columns v1 ``num_values`` IS the row count; v2 carries
    ``num_rows`` explicitly.  Raises on any surprise — enrichment is
    explicit (unlike the probe paths, a failed WRITE must be loud)."""
    from palletjack_spark.errors import InvalidSelectionError as _ISE

    start = col_meta.get("dictionary_page_offset")
    if start is None:
        start = col_meta["data_page_offset"]
    total = col_meta["total_compressed_size"]
    with open(path, "rb") as fh:
        fh.seek(start)
        raw = fh.read(total)
    if len(raw) != total:
        raise _ISE("column chunk truncated during page walk")
    pages = []
    pos = 0
    while pos < len(raw):
        header, payload = _struct_field_spans(raw, pos)
        ptype_span = _span_get(header, 1)
        size_span = _span_get(header, 3)
        if ptype_span is None or size_span is None:
            raise _ISE("unparseable page header during page walk")
        page_type = _decode_value(raw, ptype_span[1], ptype_span[0])[0]
        compressed = _decode_value(raw, size_span[1], size_span[0])[0]
        if not isinstance(compressed, int) or compressed < 0:
            # a negative compressed_page_size would walk pos BACKWARD —
            # an unterminating loop on corrupt input (round-16 sweep)
            raise _ISE("negative page size during page walk")
        total_size = (payload - pos) + compressed
        if page_type == 0:  # DATA_PAGE v1
            dph_span = _span_get(header, 5)
            if dph_span is None:
                raise _ISE("v1 data page without DataPageHeader")
            dph, _ = _struct_field_spans(raw, dph_span[1])
            nv = _span_get(dph, 1)
            rows = _decode_value(raw, nv[1], nv[0])[0]
            pages.append((start + pos, total_size, rows))
        elif page_type == 3:  # DATA_PAGE_V2
            dph_span = _span_get(header, 8)
            if dph_span is None:
                raise _ISE("v2 data page without DataPageHeaderV2")
            dph, _ = _struct_field_spans(raw, dph_span[1])
            nr = _span_get(dph, 3)
            rows = _decode_value(raw, nr[1], nr[0])[0]
            pages.append((start + pos, total_size, rows))
        if pages and not (
            isinstance(pages[-1][2], int) and pages[-1][2] >= 0
        ):
            raise _ISE("negative row count during page walk")
        pos = payload + compressed
    if pos != len(raw):
        raise _ISE("page walk overran the column chunk")
    return pages


def _plain_bound(value, physical_type: str) -> bytes:
    t = physical_type.upper()
    if t == "BYTE_ARRAY":
        return value.encode("utf-8") if isinstance(value, str) else bytes(value)
    if t == "INT32":
        return struct.pack("<i", value)
    if t == "INT64":
        return struct.pack("<q", value)
    if t == "FLOAT":
        return struct.pack("<f", value)
    return struct.pack("<d", value)


def _truncated_bounds(lo: bytes, hi: bytes) -> tuple[bytes, bytes]:
    """Spec-conform truncation for byte-array bounds: min becomes a
    prefix (<= true min); max becomes an INCREMENTED prefix (>= true
    max), falling back to the full value when every prefix byte is
    0xFF."""
    if len(lo) > _TRUNCATE:
        lo = lo[:_TRUNCATE]
    if len(hi) > _TRUNCATE:
        cut = bytearray(hi[:_TRUNCATE])
        for i in range(len(cut) - 1, -1, -1):
            if cut[i] != 0xFF:
                cut[i] += 1
                del cut[i + 1 :]
                break
        else:
            return lo, hi  # un-incrementable prefix: keep the full max
        hi = bytes(cut)
    return lo, hi


def _page_stats(values: list, physical_type: str):
    """(null_page, null_count, min_bytes, max_bytes) for one page's
    decoded values — parquet convention: bounds ignore NULLs and NaN.

    Returns ``None`` for a page that holds non-NULL values but no
    representable bounds (all-NaN floats): marking it ``null_page``
    would be a LIE the probes (and parquet-mr's own page filtering)
    would act on — IS NOT NULL / range predicates would silently drop
    live NaN rows.  The caller must skip enriching the whole chunk
    (no ColumnIndex = no evidence = keep, always sound)."""
    t = physical_type.upper()
    nulls = sum(1 for v in values if v is None)
    nn = [v for v in values if v is not None]
    if t in ("FLOAT", "DOUBLE"):
        nn = [float(v) for v in nn if not math.isnan(float(v))]
    if not nn:
        if nulls < len(values):
            return None  # non-null values with no bounds: all NaN
        return True, nulls, b"", b""
    if t == "BYTE_ARRAY":
        enc = [
            v.encode("utf-8") if isinstance(v, str) else bytes(v) for v in nn
        ]
        lo, hi = _truncated_bounds(min(enc), max(enc))
        return False, nulls, lo, hi
    return (
        False,
        nulls,
        _plain_bound(min(nn), t),
        _plain_bound(max(nn), t),
    )


def add_page_index(path: str, columns: list[str] | None = None) -> int:
    """Enrich an existing parquet file with a standard page index
    (ColumnIndex + OffsetIndex) for ``columns`` (default: every leaf
    column), in place: the structs append after the data and
    ``ColumnChunk.column_index_offset/length`` /
    ``offset_index_offset/length`` splice into the footer — the same
    memcpy footer surgery as :func:`bloomprune.add_bloom_filters`.
    Files stay fully standard: parquet-mr (Spark) applies its OWN
    page-level filtering over the enriched file, and every
    :mod:`pageprune` tier probes it.  Chunks that already carry a
    ColumnIndex are skipped.  Returns the number of (row group, column)
    chunks enriched.

    Exists for data ALREADY at rest: pyarrow only writes page indexes
    at write time (``write_page_index=True``), so a 100 TB catalog
    would otherwise need a full rewrite to gain envelope-gap pruning.
    Per-page stats come from one in-memory decode of each enriched
    column (the same read any index build performs); page boundaries
    and sizes come from the page headers alone."""
    import os

    import pyarrow.parquet as pq

    from palletjack_spark.errors import InvalidSelectionError as _ISE
    from palletjack_spark.index.footer_splice import (
        _encode_field_header,
        _encode_value,
        _write_zigzag,
    )

    footer = read_footer_bytes(path)
    file_size = os.path.getsize(path)
    footer_start = file_size - 8 - len(footer)
    pf = pq.ParquetFile(path)
    md = pf.metadata
    if md.num_row_groups == 0:
        return 0  # an empty part file has nothing to enrich
    names = [
        md.row_group(0).column(j).path_in_schema
        for j in range(md.num_columns)
    ]
    if columns is None:
        columns = [
            n
            for j, n in enumerate(names)
            if pf.schema.column(j).max_repetition_level == 0
            and md.row_group(0).column(j).physical_type in (
                "INT32", "INT64", "FLOAT", "DOUBLE", "BYTE_ARRAY",
            )
        ]
    targets = []
    for c in columns:
        if c not in names:
            raise _ISE(f"Unknown column for page index: {c!r}")
        j = names.index(c)
        if pf.schema.column(j).max_repetition_level != 0:
            raise _ISE(f"page index unsupported for nested column {c!r}")
        pt = md.row_group(0).column(j).physical_type
        if pt not in ("INT32", "INT64", "FLOAT", "DOUBLE", "BYTE_ARRAY"):
            raise _ISE(f"page index unsupported for physical type {pt}")
        targets.append((j, c, pt))

    # build ColumnIndex/OffsetIndex blobs per enriched chunk
    appendix = bytearray()
    #: (rg, col) -> [ci_rel, ci_len, oi_rel, oi_len]
    placed: dict[tuple[int, int], list[int]] = {}
    blobs: dict[tuple[int, int], tuple[bytes, bytes]] = {}
    for rg_idx in range(md.num_row_groups):
        for col_idx, col_name, pt in targets:
            if page_index_offsets(footer, rg_idx, col_idx) is not None:
                continue  # already enriched
            cmeta = {
                "dictionary_page_offset": (
                    md.row_group(rg_idx).column(col_idx).dictionary_page_offset
                ),
                "data_page_offset": (
                    md.row_group(rg_idx).column(col_idx).data_page_offset
                ),
                "total_compressed_size": (
                    md.row_group(rg_idx).column(col_idx).total_compressed_size
                ),
            }
            pages = _walk_data_pages(path, cmeta)
            if sum(p[2] for p in pages) != md.row_group(rg_idx).num_rows:
                raise _ISE("page row counts disagree with the row group")
            vals = pf.read_row_group(rg_idx, columns=[col_name]).column(
                0
            ).to_pylist()
            null_pages, mins, maxs, null_counts = [], [], [], []
            at = 0
            unrepresentable = False
            for _off, _sz, rows in pages:
                st = _page_stats(vals[at : at + rows], pt)
                if st is None:
                    # an all-NaN page has no honest ColumnIndex entry —
                    # skip the chunk (no evidence: every probe keeps)
                    unrepresentable = True
                    break
                np_, nc, lo, hi = st
                null_pages.append(np_)
                null_counts.append(nc)
                mins.append(lo)
                maxs.append(hi)
                at += rows
            if unrepresentable:
                continue
            ci = bytearray()
            _encode_field_header(ci, 1, 9, 0)  # null_pages list<bool>
            _encode_value(ci, 9, (1, null_pages))
            _encode_field_header(ci, 2, 9, 1)  # min_values list<binary>
            _encode_value(ci, 9, (8, mins))
            _encode_field_header(ci, 3, 9, 2)  # max_values list<binary>
            _encode_value(ci, 9, (8, maxs))
            _encode_field_header(ci, 4, 5, 3)  # boundary_order i32
            _write_zigzag(ci, 0)  # UNORDERED (safe; probes don't use it)
            _encode_field_header(ci, 5, 9, 4)  # null_counts list<i64>
            _encode_value(ci, 9, (6, null_counts))
            ci.append(0)  # struct STOP
            oi = bytearray()
            _encode_field_header(oi, 1, 9, 0)  # page_locations list<struct>
            locs = []
            first = 0
            for off, sz, rows in pages:
                locs.append(
                    [(1, 6, off), (2, 5, sz), (3, 6, first)]
                )
                first += rows
            _encode_value(oi, 9, (12, locs))
            oi.append(0)
            blobs[(rg_idx, col_idx)] = (bytes(ci), bytes(oi))
    if not blobs:
        return 0
    # spec file ordering: all ColumnIndexes, then all OffsetIndexes
    for key in sorted(blobs):
        ci, _oi = blobs[key]
        placed[key] = [len(appendix), len(ci), 0, 0]
        appendix += ci
    for key in sorted(blobs):
        _ci, oi = blobs[key]
        placed[key][2] = len(appendix)
        placed[key][3] = len(oi)
        appendix += oi

    # splice offsets into each enriched ColumnChunk (fields 4-7)
    edits = []
    for (rg_idx, col_idx), (ci_rel, ci_len, oi_rel, oi_len) in placed.items():
        cc_start, cc_end, cc_fields = chunk_span(footer, rg_idx, col_idx)
        new = bytearray()
        prev = 0
        emitted = False

        def _emit(out, prev_fid):
            _encode_field_header(out, 4, 6, prev_fid)  # offset_index_offset
            _write_zigzag(out, footer_start + oi_rel)
            _encode_field_header(out, 5, 5, 4)  # offset_index_length
            _write_zigzag(out, oi_len)
            _encode_field_header(out, 6, 6, 5)  # column_index_offset
            _write_zigzag(out, footer_start + ci_rel)
            _encode_field_header(out, 7, 5, 6)  # column_index_length
            _write_zigzag(out, ci_len)
            return 7

        for fid, ctype, s, e in cc_fields:
            if fid in (4, 5, 6, 7):
                continue  # replaced (shouldn't exist: skipped above)
            if fid > 7 and not emitted:
                prev = _emit(new, prev)
                emitted = True
            _encode_field_header(new, fid, ctype, prev)
            if ctype not in (1, 2):
                new += footer[s:e]
            prev = fid
        if not emitted:
            prev = _emit(new, prev)
        new.append(0)  # struct STOP
        edits.append((cc_start, cc_end, bytes(new)))

    edits.sort()
    out_footer = bytearray()
    pos = 0
    for s, e, rep in edits:
        out_footer += footer[pos:s]
        out_footer += rep
        pos = e
    out_footer += footer[pos:]

    # crash-atomic tail replacement (temp copy + rename): safe under
    # Spark task retries / speculative re-runs of the same file's
    # surgery (round-12 ADVICE)
    from palletjack_spark.index.footer_splice import atomic_tail_rewrite

    atomic_tail_rewrite(
        path,
        footer_start,
        bytes(appendix)
        + bytes(out_footer)
        + struct.pack("<I", len(out_footer))
        + b"PAR1",
    )
    return len(placed)


def add_page_index_dataset(
    spark, paths, columns: list[str] | None = None
) -> int:
    """Distributed :func:`add_page_index` over a whole dataset — the
    100 TB story for data at rest: every file gains envelope-gap
    pruning (ours AND parquet-mr's own page filtering) without a data
    page moving or being rewritten.  Same shape as
    ``bloomprune.add_bloom_filters_dataset``: per-file imperative
    footer surgery, a rare legitimate RDD use.  Returns the total
    number of (row group, column) chunks enriched."""
    from palletjack_spark.sources.arrow_scan import expand_paths

    files = expand_paths(paths)
    if not files:
        return 0
    sc = spark.sparkContext
    cols = list(columns) if columns is not None else None
    return (
        sc.parallelize(files, min(len(files), sc.defaultParallelism))
        .map(lambda p: add_page_index(p, cols))
        .sum()
    )
