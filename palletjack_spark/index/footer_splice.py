"""Pruned ``pyarrow.parquet.FileMetaData`` splicing — the reference's core trick.

The reference's documented downstream contract
(``/root/reference/python/palletjack/palletjack_cython.pyx:27-46``,
``python/README.md:70-74``) is::

    metadata = pj.read_metadata(index_path, row_groups=[5, 7])
    pr = pq.ParquetReader()
    pr.open(path, metadata=metadata)     # reads ONLY row groups 5 and 7

i.e. hand pyarrow a *genuine* ``FileMetaData`` object restricted to selected
row groups × columns, so the reader never deserializes the rest of the
footer.  The reference implements this in C++ by recording byte offsets of
every row group / schema element / column chunk inside the Thrift blob at
index time, then memcpy-splicing a pruned footer at read time
(``palletjack.cc:369-616``).

This module is the Spark-engine analogue, pure Python, built ONLY on the
public Parquet Thrift layout (format/src/main/thrift/parquet.thrift) and the
Thrift compact-protocol wire spec:

- a generic compact-protocol *span walker* records, in one walk, where
  each top-level ``FileMetaData`` field and each ``row_groups`` list
  element lives in the blob, plus three ``array("I")`` offset tables: the
  column-chunk starts of every row group, the start of every column-order
  element and of every schema element (the analogue of the reference's
  offset arrays); a PJS2 sidecar stores them all;
- ``splice_footer`` rebuilds a footer containing only the selected row
  groups × columns: unselected bytes are copied or skipped wholesale, the
  kept chunks and column orders are copied from their table ranges, and
  only the kept row groups' ordinals and sizes, and the root and selected
  elements of a flat schema, are decoded/re-encoded — O(selected), like
  the reference;
- the result is round-tripped through ``pq.read_metadata`` on an in-memory
  "PAR1 + footer + len + PAR1" buffer, yielding a real
  ``pyarrow.parquet.FileMetaData`` that ``pq.ParquetReader().open(path,
  metadata=...)`` accepts.

Row groups are renumbered 0..k-1 in the pruned footer, matching the
reference's semantics (``test_palletjack.py:87`` reads pruned metadata with
``row_groups=[0]`` after selecting one group).
"""

from __future__ import annotations

import os
import struct
import sys
import threading
from array import array
from functools import partial
from typing import Iterable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from palletjack_spark.errors import (
    EncryptedParquetError,
    IndexFormatError,
    InvalidSelectionError,
)

# Thrift compact-protocol type codes
CT_STOP = 0
CT_TRUE = 1
CT_FALSE = 2
CT_BYTE = 3
CT_I16 = 4
CT_I32 = 5
CT_I64 = 6
CT_DOUBLE = 7
CT_BINARY = 8
CT_LIST = 9
CT_SET = 10
CT_MAP = 11
CT_STRUCT = 12

_MAGIC = b"PAR1"


# --------------------------------------------------------------------------
# varint / zigzag primitives
# --------------------------------------------------------------------------

def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            # a valid thrift varint is ≤ 10 bytes; an unterminated run of
            # continuation bits would otherwise build an unbounded bignum
            # (the allocation-cap discipline of palletjack.cc:82-83)
            raise IndexFormatError("malformed varint (more than 10 bytes)")


def _check_declared_len(buf: bytes, pos: int, n: int, what: str) -> None:
    """Reject declared string/container lengths that exceed the remaining
    buffer BEFORE allocating or looping — the reference bounds every
    deserialized string/container against the footer size while decoding
    untrusted input (palletjack.cc:82-83, 100-102, 148-150).  Every wire
    element occupies ≥ 1 byte, so a count above ``len(buf) - pos`` can never
    be satisfied and is rejected fast with bounded memory."""
    if n < 0 or n > len(buf) - pos:
        raise IndexFormatError(
            f"declared {what} length {n} exceeds remaining footer bytes "
            f"({len(buf) - pos})"
        )


def _write_varint(out: bytearray, v: int) -> None:
    while True:
        if v <= 0x7F:
            out.append(v)
            return
        out.append((v & 0x7F) | 0x80)
        v >>= 7


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _write_zigzag(out: bytearray, v: int) -> None:
    _write_varint(out, ((v << 1) ^ (v >> 63)) & ((1 << 64) - 1))


# --------------------------------------------------------------------------
# generic skip / span walk (no object allocation for skipped content)
# --------------------------------------------------------------------------

def _skip_value(buf: bytes, pos: int, ctype: int) -> int:
    if ctype in (CT_TRUE, CT_FALSE):
        # only reached as a LIST/MAP element (bool FIELD values live in the
        # field header) — compact encodes bool elements as one byte; not
        # advancing here would loop forever on a hostile bool-list count
        return pos + 1
    if ctype == CT_BYTE:
        return pos + 1
    if ctype in (CT_I16, CT_I32, CT_I64):
        while buf[pos] & 0x80:
            pos += 1
        return pos + 1
    if ctype == CT_DOUBLE:
        return pos + 8
    if ctype == CT_BINARY:
        n, pos = _read_varint(buf, pos)
        _check_declared_len(buf, pos, n, "binary")
        return pos + n
    if ctype in (CT_LIST, CT_SET):
        etype, n, pos = _read_list_header(buf, pos)
        for _ in range(n):
            pos = _skip_value(buf, pos, etype)
        return pos
    if ctype == CT_MAP:
        n, pos = _read_varint(buf, pos)
        _check_declared_len(buf, pos, n, "map")
        if n == 0:
            return pos
        kv = buf[pos]
        pos += 1
        kt, vt = kv >> 4, kv & 0xF
        for _ in range(n):
            pos = _skip_value(buf, pos, kt)
            pos = _skip_value(buf, pos, vt)
        return pos
    if ctype == CT_STRUCT:
        return _skip_struct_fast(buf, pos)
    raise InvalidSelectionError(f"Unknown thrift compact type {ctype}")


def _skip_struct_fast(buf: bytes, pos: int) -> int:
    """Iterative struct skip — explicit stack instead of per-value recursion.
    The footer walk is O(footer) by necessity (Thrift compact is a stream
    format with no random access — the exact problem the reference solves by
    recording offsets, palletjack.cc:33-80); this keeps the constant small,
    and the footer memo makes the walk once-per-footer rather than per-call."""
    # stack entries: -1 = struct; (etype, n) = list/set of structs/containers
    # with n elems left.  Scalar list elements (varint/string/double/bool)
    # are skipped inline below and never touch the stack — on a 400-col
    # footer that removes ~10^6 stack tuple reallocations (round-4 verdict:
    # recover the hardening cost without weakening the bounds checks).
    buflen = len(buf)
    stack: list = [-1]
    push = stack.append
    pop = stack.pop
    while stack:
        top = stack[-1]
        if top == -1:
            b = buf[pos]
            pos += 1
            if b == 0:
                pop()
                continue
            t = b & 15
            if b < 16:  # long-form field id (delta nibble == 0)
                while buf[pos] & 0x80:
                    pos += 1
                pos += 1
            if t < 3:
                continue  # bool lives in the header
        else:
            t, n = top
            if n == 1:
                pop()
            else:
                stack[-1] = (t, n - 1)
        # skip one value of type t
        if t == 3:
            pos += 1
        elif t < 7:  # i16/i32/i64 varint
            while buf[pos] & 0x80:
                pos += 1
            pos += 1
        elif t == 7:
            pos += 8
        elif t == 8:
            # inlined varint + bound check: this is the hottest branch of
            # the walk (one per string field per chunk × row group), and a
            # call pair here costs ~2× on a 400-col footer
            ln = 0
            shift = 0
            while True:
                byte = buf[pos]
                pos += 1
                ln |= (byte & 0x7F) << shift
                if byte < 0x80:
                    break
                shift += 7
                if shift > 63:
                    raise IndexFormatError("malformed varint (>10 bytes)")
            if ln > buflen - pos:
                raise IndexFormatError(
                    f"declared binary length {ln} exceeds remaining "
                    f"footer bytes ({buflen - pos})"
                )
            pos += ln
        elif t == 9 or t == 10:
            hb = buf[pos]
            pos += 1
            et = hb & 15
            n2 = hb >> 4
            if n2 == 15:
                n2 = 0
                shift = 0
                while True:
                    byte = buf[pos]
                    pos += 1
                    n2 |= (byte & 0x7F) << shift
                    if byte < 0x80:
                        break
                    shift += 7
                    if shift > 63:
                        raise IndexFormatError("malformed varint (>10 bytes)")
            if n2 > buflen - pos:
                raise IndexFormatError(
                    f"declared list length {n2} exceeds remaining "
                    f"footer bytes ({buflen - pos})"
                )
            if n2 == 0:
                continue
            if et < 4:  # bool/byte elems: 1 byte each
                pos += n2
            elif et < 7:  # varint elems (encodings lists): inline loop
                for _ in range(n2):
                    while buf[pos] & 0x80:
                        pos += 1
                    pos += 1
            elif et == 7:
                pos += 8 * n2
            elif et == 8:  # string elems (path_in_schema): inline loop
                for _ in range(n2):
                    ln = 0
                    shift = 0
                    while True:
                        byte = buf[pos]
                        pos += 1
                        ln |= (byte & 0x7F) << shift
                        if byte < 0x80:
                            break
                        shift += 7
                        if shift > 63:
                            raise IndexFormatError(
                                "malformed varint (>10 bytes)"
                            )
                    if ln > buflen - pos:
                        raise IndexFormatError(
                            f"declared binary length {ln} exceeds remaining "
                            f"footer bytes ({buflen - pos})"
                        )
                    pos += ln
            else:
                push((et, n2))
        elif t == 11:
            # parquet.thrift has no map fields; defensive exact skip
            n2, pos = _read_varint(buf, pos)
            _check_declared_len(buf, pos, n2, "map")
            if n2:
                kv = buf[pos]
                pos += 1
                for _ in range(n2):
                    pos = _skip_value(buf, pos, kv >> 4)
                    pos = _skip_value(buf, pos, kv & 15)
        elif t == 12:
            push(-1)
        else:
            raise InvalidSelectionError(f"Unknown thrift compact type {t}")
    return pos


def _read_list_header(buf: bytes, pos: int) -> tuple[int, int, int]:
    b = buf[pos]
    pos += 1
    etype = b & 0xF
    n = b >> 4
    if n == 15:
        n, pos = _read_varint(buf, pos)
        _check_declared_len(buf, pos, n, "list")
    return etype, n, pos


def _struct_field_spans(
    buf: bytes, pos: int, lists: dict | None = None
) -> tuple[list[tuple[int, int, int, int]], int]:
    """Spans of a struct's fields: [(fid, ctype, value_start, value_end)].
    For bool fields value_start == value_end (the value is in the header).
    ``lists`` maps a field id to ``walk(buf, pos) -> end``, which walks
    the first list-typed field with that id in place of the skip."""
    fields = []
    fid = 0
    while True:
        b = buf[pos]
        pos += 1
        if b == CT_STOP:
            return fields, pos
        delta = b >> 4
        ctype = b & 0xF
        if delta == 0:
            zz, pos = _read_varint(buf, pos)
            fid = _unzigzag(zz)
        else:
            fid += delta
        start = pos
        if lists and ctype == CT_LIST and fid in lists:
            pos = lists.pop(fid)(buf, pos)
        elif ctype not in (CT_TRUE, CT_FALSE):
            pos = _skip_value(buf, pos, ctype)
        fields.append((fid, ctype, start, pos))


def _list_starts(buf: bytes, pos: int, out: array, elem=None) -> int:
    """Walk the list at ``pos``, appending each element's start and then
    the list's end to ``out``; return the end.  ``elem(buf, pos) -> end``
    walks one element (default: skip it)."""
    etype, n, pos = _read_list_header(buf, pos)
    for _ in range(n):
        out.append(pos)
        pos = elem(buf, pos) if elem else _skip_value(buf, pos, etype)
    out.append(pos)
    return pos


def _list_elem_spans(
    buf: bytes, pos: int
) -> tuple[int, list[tuple[int, int]], int]:
    etype, n, pos = _read_list_header(buf, pos)
    spans = []
    if etype == CT_STRUCT:
        for _ in range(n):
            start = pos
            pos = _skip_struct_fast(buf, pos)
            spans.append((start, pos))
    else:
        for _ in range(n):
            start = pos
            pos = _skip_value(buf, pos, etype)
            spans.append((start, pos))
    return etype, spans, pos


# --------------------------------------------------------------------------
# the footer memo
# --------------------------------------------------------------------------
#
# One bounded FIFO memo, the in-memory analogue of the reference's per-file
# index (palletjack.cc:656-678).  An entry is a `Footer`: one footer's
# bytes, spans and facts.  A file's key is (loader, path, mtime_ns, size):
# the loader keeps a path read as a sidecar apart from the same path read
# as parquet, and a rewritten file gets a fresh entry.  An in-memory
# sidecar's key is id(buffer) (hashing it per call would cost more than
# the splice), and a hit is served only while the buffer still equals the
# bytes the entry was built from (a bytearray can be overwritten in
# place).  Raw bytes work wherever a `Footer` does, with an uncached walk.

_FOOTER_MEMO: dict = {}
_FOOTER_MEMO_MAX = 16
_FOOTER_MEMO_LOCK = threading.Lock()


class Footer(bytes):
    """Footer bytes carrying their memo entry: ``spans`` (top-level and
    per-row-group field spans), the offset tables ``chunks`` (per row
    group, its column-chunk starts then the end of its ``columns`` list),
    ``orders`` and ``elems`` (the column-order and schema element starts,
    then the list's end; empty when the field is absent), all u32 arrays,
    ``facts`` (:func:`footer_memo`) and ``blob`` (the in-memory sidecar
    read, else None).  The walk fills every table (:func:`_walked`); a
    PJS1 sidecar stores only the spans, so its ``chunks`` entries are None
    until a row group is first used and its ``orders`` and ``elems`` are
    None."""

    def __new__(cls, data, spans=None, chunks=None, orders=None, elems=None):
        self = super().__new__(cls, data)
        self.spans = spans
        self.chunks = chunks
        self.orders = orders
        self.elems = elems
        self.facts = {}
        self.blob = None
        return self


def _remember(key, footer: Footer) -> Footer:
    """Store ``footer`` under ``key`` as the newest entry, evicting the
    oldest when the memo is full."""
    with _FOOTER_MEMO_LOCK:  # reader threads may miss at the same time
        _FOOTER_MEMO.pop(key, None)
        if len(_FOOTER_MEMO) >= _FOOTER_MEMO_MAX:
            _FOOTER_MEMO.pop(next(iter(_FOOTER_MEMO)))
        _FOOTER_MEMO[key] = footer
    return footer


def _file_footer(path: str, load) -> Footer:
    """The memo entry for the file at ``path`` as ``load`` reads it."""
    st = os.stat(path)
    key = (load, path, st.st_mtime_ns, st.st_size)
    hit = _FOOTER_MEMO.get(key)
    return hit if hit is not None else _remember(key, load(path))


def _walked(footer: bytes) -> Footer:
    """``footer`` as a `Footer` with its spans, walking it once (and
    filling every offset table on the way) when nothing stored them."""
    if not isinstance(footer, Footer):
        footer = Footer(footer)
    if footer.spans is None:
        elems, orders, chunks = array("I"), array("I"), array("I")
        rg_elems, at = [], []

        def row_group(buf, pos):
            at.append(len(chunks))
            rg_fields, pos = _struct_field_spans(
                buf, pos, {1: lambda b, p: _list_starts(b, p, chunks)}
            )
            rg_elems.append(rg_fields)
            return pos

        fields, _ = _struct_field_spans(footer, 0, {
            2: lambda b, p: _list_starts(b, p, elems),
            4: lambda b, p: _list_starts(b, p, array("I"), row_group),
            7: lambda b, p: _list_starts(b, p, orders),
        })
        if _span_get(fields, 4) is None:
            raise InvalidSelectionError("footer has no row_groups field")
        at.append(len(chunks))
        footer.chunks = _blocks(chunks, at)
        footer.orders, footer.elems = orders, elems
        footer.spans = fields, rg_elems
    return footer


def _blocks(chunks: array, at) -> list:
    """Per-row-group views of one chunk table (one buffer per footer),
    block ``r`` running from ``at[r]`` to ``at[r + 1]``."""
    view = memoryview(chunks)
    return [view[a:b] for a, b in zip(at, at[1:])]


def footer_spans(footer: bytes) -> tuple[list, list]:
    """Top-level ``FileMetaData`` field spans + per-row-group field spans —
    the reference's offset arrays (palletjack.cc:33-80) as Python lists."""
    return _walked(footer).spans


def footer_memo(footer: bytes, name: str) -> dict:
    """The dict called ``name`` in the footer's facts memo.  Entries must
    be pure functions of the footer and of the file bytes behind it: the
    footer's memo entry is keyed by (path, mtime, size)
    (``read_footer_bytes``), so a rewritten file gets a fresh memo, and
    the facts are evicted with the entry."""
    return _walked(footer).facts.setdefault(name, {})


def _from_table(walk, buf: bytes, start: int, end: int, what: str):
    """``walk(buf, start)``'s value, its walk checked to stop exactly at
    ``end``, the next stored offset: a corrupt table entry raises instead
    of splicing the wrong bytes."""
    try:
        value, stop = walk(buf, start)
    except (IndexError, IndexFormatError):
        stop = None
    if stop != end:
        raise InvalidSelectionError(
            f"Corrupt index: {what} at {start} does not end at its table "
            f"entry {end}"
        )
    return value


def chunk_span(footer: bytes, rg_idx: int, col_idx: int):
    """(start, end, field spans) of one ColumnChunk struct, its range from
    the footer's chunk table and its fields walked from there.  A footer
    that stored no table walks the row group's ``columns`` list on its
    first use."""
    footer = _walked(footer)
    rg_elems = footer.spans[1]
    if not 0 <= rg_idx < len(rg_elems):
        raise InvalidSelectionError(
            f"Row group {rg_idx} out of range (file has {len(rg_elems)})"
        )
    block = footer.chunks[rg_idx]
    if block is None:
        cols_span = _span_get(rg_elems[rg_idx], 1)  # RowGroup.columns
        if cols_span is None:
            raise InvalidSelectionError(f"row group {rg_idx} has no columns")
        block = array("I")
        _list_starts(footer, cols_span[1], block)
        footer.chunks[rg_idx] = block
    if not 0 <= col_idx < len(block) - 1:
        raise InvalidSelectionError(
            f"Column index {col_idx} out of range for row group {rg_idx} "
            f"({len(block) - 1} chunks)"
        )
    start, end = block[col_idx], block[col_idx + 1]
    what = f"column chunk {col_idx} of row group {rg_idx}"
    fields = _from_table(_struct_field_spans, footer, start, end, what)
    return start, end, fields


def chunk_fields(footer: bytes, rg_idx: int, col_idx: int):
    """(ColumnChunk field spans, ColumnMetaData field spans, ColumnMetaData
    start, end) of one column chunk — the last three None when the chunk
    carries no ``meta_data`` — or None when the ordinals are out of range
    or the layout surprises.  Memoized per footer: the value tiers probe
    the same chunks on every read."""
    try:
        footer = _walked(footer)
        memo = footer_memo(footer, "chunk_fields")
    except Exception:
        return None
    key = (rg_idx, col_idx)
    if key not in memo:
        got = None
        try:
            cc = chunk_span(footer, rg_idx, col_idx)[2]
            md = _span_get(cc, 3)  # ColumnChunk.meta_data
            got = (cc, None, None, None)
            if md is not None:
                md_fields, end = _struct_field_spans(footer, md[1])
                got = (cc, md_fields, md[1], end)
        except Exception:  # ordinals out of range, or a layout surprise
            got = None
        memo[key] = got
    return memo[key]


def int_field(buf: bytes, fields, fid: int) -> int | None:
    """A non-negative integer field's value from a span list, or None when
    the field is absent, not an integer, negative or undecodable."""
    span = _span_get(fields, fid)
    if span is None:
        return None
    try:
        v = _decode_value(buf, span[1], span[0])[0]
        return v if isinstance(v, int) and v >= 0 else None
    except Exception:
        return None


class FooterSnapshot(dict):
    """One pruning pass's footers by path (None when unreadable): each
    file is stat'ed and read at most once per pass."""

    def __missing__(self, path: str) -> bytes | None:
        try:
            footer = read_footer_bytes(path)
        except Exception:
            footer = None
        self[path] = footer
        return footer


class FooterProber:
    """Base of the value-tier probers.  The probers of one pass share one
    :class:`FooterSnapshot` (``tiers.new_probers``); a prober made alone
    has its own.  The probers' facts live in the footer's own memo
    (:func:`footer_memo`) and so outlast the pass."""

    def __init__(self) -> None:
        self.footers = FooterSnapshot()

    def _memo(self, path: str, name: str):
        """(footer, its ``name`` memo), or (None, None) when the footer
        can't be read or parsed."""
        footer = self.footers[path]
        if footer is None:
            return None, None
        try:
            return footer, footer_memo(footer, name)
        except Exception:
            return None, None


# --------------------------------------------------------------------------
# full decode / encode for the few structs we must edit
# --------------------------------------------------------------------------

def _decode_value(buf: bytes, pos: int, ctype: int):
    if ctype in (CT_TRUE, CT_FALSE):
        # only reached as a LIST/MAP element (bool FIELD values live in the
        # field header, handled in the CT_STRUCT branch below): one byte,
        # 1 = true, 2 = false
        return buf[pos] == CT_TRUE, pos + 1
    if ctype == CT_BYTE:
        v = buf[pos]
        return (v - 256 if v >= 128 else v), pos + 1
    if ctype in (CT_I16, CT_I32, CT_I64):
        zz, pos = _read_varint(buf, pos)
        return _unzigzag(zz), pos
    if ctype == CT_DOUBLE:
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if ctype == CT_BINARY:
        n, pos = _read_varint(buf, pos)
        _check_declared_len(buf, pos, n, "binary")
        return bytes(buf[pos : pos + n]), pos + n
    if ctype in (CT_LIST, CT_SET):
        etype, n, pos = _read_list_header(buf, pos)
        vals = []
        for _ in range(n):
            v, pos = _decode_value(buf, pos, etype)
            vals.append(v)
        return (etype, vals), pos
    if ctype == CT_MAP:
        n, pos = _read_varint(buf, pos)
        _check_declared_len(buf, pos, n, "map")
        if n == 0:
            return (CT_BINARY, CT_BINARY, []), pos
        kv = buf[pos]
        pos += 1
        kt, vt = kv >> 4, kv & 0xF
        items = []
        for _ in range(n):
            k, pos = _decode_value(buf, pos, kt)
            v, pos = _decode_value(buf, pos, vt)
            items.append((k, v))
        return (kt, vt, items), pos
    if ctype == CT_STRUCT:
        fields = []
        fid = 0
        while True:
            b = buf[pos]
            pos += 1
            if b == CT_STOP:
                return fields, pos
            delta = b >> 4
            ft = b & 0xF
            if delta == 0:
                zz, pos = _read_varint(buf, pos)
                fid = _unzigzag(zz)
            else:
                fid += delta
            if ft == CT_TRUE:
                fields.append((fid, CT_TRUE, True))
                continue
            if ft == CT_FALSE:
                fields.append((fid, CT_FALSE, False))
                continue
            v, pos = _decode_value(buf, pos, ft)
            fields.append((fid, ft, v))
    raise InvalidSelectionError(f"Unknown thrift compact type {ctype}")


def _encode_field_header(out: bytearray, fid: int, ctype: int, prev: int) -> None:
    delta = fid - prev
    if 0 < delta <= 15:
        out.append((delta << 4) | ctype)
    else:
        out.append(ctype)
        _write_zigzag(out, fid)


def _encode_value(out: bytearray, ctype: int, v) -> None:
    if ctype in (CT_TRUE, CT_FALSE):
        # only reachable as a list element; compact spec: 1=true, 2=false
        out.append(CT_TRUE if v else CT_FALSE)
        return
    if ctype == CT_BYTE:
        out.append(v & 0xFF)
        return
    if ctype in (CT_I16, CT_I32, CT_I64):
        _write_zigzag(out, v)
        return
    if ctype == CT_DOUBLE:
        out += struct.pack("<d", v)
        return
    if ctype == CT_BINARY:
        _write_varint(out, len(v))
        out += v
        return
    if ctype in (CT_LIST, CT_SET):
        etype, vals = v
        _encode_list_header(out, etype, len(vals))
        for x in vals:
            _encode_value(out, etype, x)
        return
    if ctype == CT_MAP:
        kt, vt, items = v
        _write_varint(out, len(items))
        if items:
            out.append((kt << 4) | vt)
            for k, x in items:
                _encode_value(out, kt, k)
                _encode_value(out, vt, x)
        return
    if ctype == CT_STRUCT:
        _encode_struct(out, v)
        return
    raise InvalidSelectionError(f"Unknown thrift compact type {ctype}")


def _encode_list_header(out: bytearray, etype: int, n: int) -> None:
    if n < 15:
        out.append((n << 4) | etype)
    else:
        out.append(0xF0 | etype)
        _write_varint(out, n)


def _encode_struct(out: bytearray, fields: list[tuple[int, int, object]]) -> None:
    prev = 0
    for fid, ctype, v in fields:
        if ctype in (CT_TRUE, CT_FALSE):
            # bool FIELD: the value lives in the header's type nibble
            _encode_field_header(out, fid, CT_TRUE if v else CT_FALSE, prev)
        else:
            _encode_field_header(out, fid, ctype, prev)
            _encode_value(out, ctype, v)
        prev = fid
    out.append(CT_STOP)


# --------------------------------------------------------------------------
# struct-field helpers
# --------------------------------------------------------------------------

class _Raw:
    """Pre-encoded value payload for `_copy_struct` overrides."""

    __slots__ = ("data",)

    def __init__(self, data: bytes):
        self.data = data


def _span_get(fields: list[tuple[int, int, int, int]], fid: int):
    """(ctype, start, end) of a field in a span list, or None."""
    for f, ct, s, e in fields:
        if f == fid:
            return ct, s, e
    return None


def _copy_struct(
    out: bytearray,
    buf: bytes,
    fields: list[tuple[int, int, int, int]],
    overrides: dict[int, tuple[int, object]],
) -> None:
    """Re-emit a struct from its field spans: raw byte copy for untouched
    fields, re-encode only the overridden ones.  This is the memcpy splice
    at the heart of the reference (palletjack.cc:369-616)."""
    prev = 0
    for fid, ctype, s, e in fields:
        ov = overrides.get(fid)
        if ov is not None:
            octype, oval = ov
            _encode_field_header(out, fid, octype, prev)
            if isinstance(oval, _Raw):
                out += oval.data
            else:
                _encode_value(out, octype, oval)
        elif ctype in (CT_TRUE, CT_FALSE):
            _encode_field_header(out, fid, ctype, prev)
        else:
            _encode_field_header(out, fid, ctype, prev)
            out += buf[s:e]
        prev = fid
    out.append(CT_STOP)


def _get(fields: list[tuple[int, int, object]], fid: int):
    for f, _, v in fields:
        if f == fid:
            return v
    return None


def _set(fields: list[tuple[int, int, object]], fid: int, ctype: int, v) -> None:
    for i, (f, _, _) in enumerate(fields):
        if f == fid:
            fields[i] = (fid, ctype, v)
            return
    # insert keeping fid order (thrift field ids are written ascending)
    at = next((i for i, (f, _, _) in enumerate(fields) if f > fid), len(fields))
    fields.insert(at, (fid, ctype, v))


# --------------------------------------------------------------------------
# footer I/O
# --------------------------------------------------------------------------

def read_footer_bytes(path: str) -> bytes:
    """The raw Thrift ``FileMetaData`` blob from a parquet file's tail —
    what the reference stores verbatim inside its PJ_2 index
    (palletjack.cc:33-80) — served from the footer memo while the file is
    unchanged."""
    return _file_footer(path, _read_parquet_footer)


def atomic_tail_rewrite(path: str, footer_start: int, tail: bytes) -> None:
    """Replace everything from ``footer_start`` to EOF with ``tail``
    CRASH-ATOMICALLY: the new file materializes as a temp copy in the
    same directory (the data prefix rides the OS fast copy path), gets
    the new tail fsynced, and lands via ``os.replace`` — a reader or a
    crash at any instant sees either the complete old file or the
    complete new one, never a PAR1-less hybrid (round-12 ADVICE: the
    previous in-place seek/write/truncate had a corruption window).

    Concurrency: Spark task retries and speculative execution can re-run
    or CONCURRENTLY run the same file's footer surgery.  Each attempt
    builds its own uniquely-named temp from the source it read, and the
    last rename wins atomically — surgery is a pure function of the
    source bytes, so any winner is a correct, fully-formed file, and an
    attempt that lost simply replaced an identical result."""
    import shutil
    import uuid

    d, base = os.path.split(os.path.abspath(path))
    tmp = os.path.join(
        d, f".{base}.pj-surgery-{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
    )
    try:
        shutil.copyfile(path, tmp)
        # preserve the source's mode bits: copyfile writes the temp with
        # the umask default, and os.replace would otherwise silently
        # loosen (or break) permissions on an 0600 data-lake file
        # (round-13 review)
        shutil.copystat(path, tmp)
        with open(tmp, "r+b") as fh:
            fh.seek(footer_start)
            fh.write(tail)
            fh.truncate()
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def _read_parquet_footer(path: str) -> Footer:
    with open(path, "rb") as f:
        f.seek(0, 2)
        size = f.tell()
        if size < 12:
            raise InvalidSelectionError(f"{path}: not a parquet file")
        f.seek(size - 8)
        tail = f.read(8)
        if tail[4:] != _MAGIC:
            if tail[4:] == b"PARE":
                # encrypted-footer files end in "PARE" — reject like the
                # reference (palletjack.cc:217-221)
                raise EncryptedParquetError(
                    f"Encrypted parquet is not supported: {path}"
                )
            raise InvalidSelectionError(f"{path}: bad parquet magic")
        (flen,) = struct.unpack("<I", tail[:4])
        if flen > size - 8:
            raise InvalidSelectionError(f"{path}: corrupt footer length")
        f.seek(size - 8 - flen)
        return Footer(f.read(flen))


def _footer_file(footer: bytes) -> pa.BufferReader:
    """A Thrift footer blob as an in-memory ``_metadata``-style file."""
    size = struct.pack("<I", len(footer))
    return pa.BufferReader(_MAGIC + footer + size + _MAGIC)


def metadata_from_footer(footer: bytes) -> pq.FileMetaData:
    """Parse a Thrift footer blob with pyarrow — yields a genuine
    ``FileMetaData`` object."""
    return pq.read_metadata(_footer_file(footer))


# --------------------------------------------------------------------------
# schema-tree pruning (column selection)
# --------------------------------------------------------------------------

def _schema_tree(elems: list):
    """parquet schema list → (children adjacency, leaf list).  Elements are
    decoded SchemaElement structs; tree shape from num_children (fid 5).
    A corrupted footer can claim more children than elements exist — that
    walks ``pos`` past the list and must surface as the typed format
    error, not an IndexError (fuzz-found, round 7)."""
    n = len(elems)
    children: list[list[int]] = [[] for _ in range(n)]
    leaves: list[int] = []
    pos = 0

    def walk(parent_is_root: bool) -> int:
        nonlocal pos
        i = pos
        pos += 1
        if i >= n:
            raise IndexFormatError(
                f"schema tree overruns its element list "
                f"(num_children claims exceed {n} elements)"
            )
        nc = _get(elems[i], 5) or 0
        if not isinstance(nc, int) or nc < 0 or nc > n:
            # corruption can re-type field 5 (bytes/bool) or claim an
            # absurd child count; both are format errors, not crashes
            raise IndexFormatError(
                f"invalid num_children {nc!r} in schema element {i}"
            )
        for _ in range(nc):
            children[i].append(walk(False))
        if nc == 0 and i != 0:
            leaves.append(i)
        return i

    root = walk(True)
    return root, children, leaves


def _flat_schema_in_order(root: list, leaves: list):
    """Pruned SchemaElement structs for a FLAT schema (root + leaf elements
    only): the root with ``num_children`` recounted, then ``leaves``, the
    selected leaf elements in the CALLER'S order — the reference's
    contract (palletjack.cc:483-490 iterates the requested ``columns``
    vector verbatim when copying schema elements)."""
    root = list(root)
    if _get(root, 5) is not None:
        _set(root, 5, CT_I32, len(leaves))
    return [root, *leaves]


def _flat_schema_from_table(footer: Footer, order: list[int]):
    """The pruned flat schema decoded from the schema-element table: only
    the root and the selected elements, each checked to end at the next
    table entry.  None when the footer has no table or its root does not
    hold every other element (nested schemas take the full decode)."""
    elems = footer.elems
    if not elems:
        return None

    def element(i: int) -> list:
        return _from_table(
            partial(_decode_value, ctype=CT_STRUCT), footer, elems[i],
            elems[i + 1], f"schema element {i}",
        )

    root = element(0)
    n_leaves = len(elems) - 2
    if _get(root, 5) != n_leaves:
        return None
    bad = [c for c in order if c < 0 or c >= n_leaves]
    if bad:
        raise InvalidSelectionError(
            f"Column index {bad[0]} out of range (file has {n_leaves})"
        )
    leaves = [element(c + 1) for c in order]
    if any(_get(el, 5) for el in leaves):
        raise IndexFormatError("a leaf of a flat schema claims children")
    return _flat_schema_in_order(root, leaves)


def _prune_schema(elems: list, keep_leaves: set[int]):
    """Return pruned SchemaElement structs (depth-first order) keeping the
    root, the selected leaves, and every ancestor group of a selected leaf,
    with num_children recomputed."""
    root, children, leaves = _schema_tree(elems)
    leaf_rank = {idx: r for r, idx in enumerate(leaves)}
    kept: set[int] = set()

    def mark(i: int) -> bool:
        if not children[i]:  # leaf (or childless group)
            hit = i == root or leaf_rank.get(i) in keep_leaves
            if hit:
                kept.add(i)
            return hit
        any_kept = False
        for c in children[i]:
            if mark(c):
                any_kept = True
        if any_kept or i == root:
            kept.add(i)
            return True
        return False

    mark(root)
    out: list = []

    def emit(i: int) -> None:
        if i not in kept:
            return
        fields = list(elems[i])  # shallow copy; _set replaces tuples
        kept_children = [c for c in children[i] if c in kept]
        if _get(elems[i], 5) is not None:
            _set(fields, 5, CT_I32, len(kept_children))
        out.append(fields)
        for c in kept_children:
            emit(c)

    emit(root)
    return out


# --------------------------------------------------------------------------
# the splice
# --------------------------------------------------------------------------

def leaf_column_names(footer: bytes) -> list[str]:
    """Dotted leaf paths in leaf order (the reference's column_names keys)."""
    return list(_schema(footer)[1])


def _schema(footer: bytes) -> tuple[list, list[str]]:
    """(decoded SchemaElement structs, dotted leaf paths), memoized in the
    footer's facts."""
    footer = _walked(footer)
    got = footer.facts.get("schema")
    if got is None:
        span = _span_get(footer.spans[0], 2)
        if span is None:
            raise InvalidSelectionError("footer has no schema field")
        (_, elems), _ = _decode_value(footer, span[1], CT_LIST)
        got = footer.facts["schema"] = (elems, _leaf_paths(elems))
    return got


def _leaf_paths(elems: list) -> list[str]:
    root, children, leaves = _schema_tree(elems)
    names = [_get(e, 4) for e in elems]
    parent = {c: i for i, cs in enumerate(children) for c in cs}
    paths = []
    for leaf in leaves:
        parts = []
        i = leaf
        while i != root:
            nm = names[i]
            if isinstance(nm, bytes):
                try:
                    nm = nm.decode()
                except UnicodeDecodeError as e:
                    raise IndexFormatError(
                        f"undecodable schema element name at {i}"
                    ) from e
            if not isinstance(nm, str):
                # corruption can drop or re-type the name field (fid 4)
                raise IndexFormatError(
                    f"schema element {i} has no usable name ({nm!r})"
                )
            parts.append(nm)
            i = parent[i]
        paths.append(".".join(reversed(parts)))
    return paths


def resolve_column_names(footer: bytes, column_names: Sequence[str]) -> list[int]:
    """Map dotted leaf paths (or top-level names) to leaf column indices."""
    paths = _schema(footer)[1]
    by_path = {p: i for i, p in enumerate(paths)}
    by_head: dict[str, list[int]] = {}
    for i, p in enumerate(paths):
        by_head.setdefault(p.split(".")[0], []).append(i)
    out: list[int] = []
    for name in column_names:
        if name in by_path:
            out.append(by_path[name])
        elif name in by_head:
            out.extend(by_head[name])  # whole top-level column (nested)
        else:
            raise InvalidSelectionError(
                f"Column {name!r} not in schema (leaves: {paths[:8]}...)"
            )
    return out


def splice_footer(
    footer: bytes,
    row_groups: Sequence[int] | None = None,
    column_indices: Sequence[int] | None = None,
    column_names: Sequence[str] | None = None,
    schema_only: bool = False,
) -> bytes:
    """Rebuild a parquet footer containing only the selected row groups ×
    leaf columns.  O(selected) decode work; unselected row-group bytes are
    never decoded (their spans are skipped wholesale).

    Mirrors reference semantics (palletjack.cc:369-616): empty/None
    selection = keep everything; row groups renumbered 0..k-1; column
    selection prunes schema + per-row-group column chunks + column_orders.
    Both row groups AND columns come out in the CALLER'S requested order
    (palletjack.cc:534-545, 459-490) — ``column_indices=[3, 1]`` yields a
    footer whose first column is leaf 3.  Exception: nested schemas (not
    supported by the reference's flat-only indexer) normalize the column
    selection to depth-first order, because the group tree fixes leaf order.
    """
    footer = _walked(footer)  # raw bytes: one walk for this call
    if column_names:
        if column_indices:
            raise InvalidSelectionError(
                "Pass column_indices or column_names, not both"
            )
        column_indices = resolve_column_names(footer, column_names)

    fields, rg_elems = footer.spans
    n_rg = len(rg_elems)

    if schema_only:
        sel: list[int] = []
    elif row_groups is None or len(row_groups) == 0:
        sel = list(range(n_rg))
    else:
        sel = [int(r) for r in row_groups]
        bad = [r for r in sel if r < 0 or r >= n_rg]
        if bad:
            raise InvalidSelectionError(
                f"Row group {bad[0]} out of range (file has {n_rg})"
            )

    keep_order: list[int] | None = None
    new_schema = None
    if column_indices is not None and len(column_indices) > 0:
        # Flat schema (root + leaves, the only shape the reference's indexer
        # supports): emit schema / chunks / column_orders in the CALLER'S
        # requested order, duplicates included — palletjack.cc:459-490 and
        # 551-570 iterate the requested ``columns`` vector verbatim.  Nested
        # schemas are an extension over the reference; their leaf order is
        # dictated by the group tree, so the selection is normalized to
        # depth-first (= ascending leaf-index) order there.
        keep_order = [int(c) for c in column_indices]
        new_schema = _flat_schema_from_table(footer, keep_order)
    if new_schema is None and keep_order is not None:
        schema_elems, leaf_paths = _schema(footer)
        n_leaves = len(leaf_paths)
        bad = [c for c in keep_order if c < 0 or c >= n_leaves]
        if bad:
            raise InvalidSelectionError(
                f"Column index {bad[0]} out of range (file has {n_leaves})"
            )
        if len(schema_elems) == n_leaves + 1:
            new_schema = _flat_schema_in_order(
                schema_elems[0], [schema_elems[c + 1] for c in keep_order]
            )
        else:
            keep_order = sorted(set(keep_order))
            new_schema = _prune_schema(schema_elems, set(keep_order))

    # touch ONLY the kept row groups, and even those mostly by byte copy:
    # the columns list of a kept group is spliced from the chunk table, the
    # ordinal / num_rows / size fields are the only re-encoded values
    new_rgs: list[tuple[list, dict]] = []
    total_rows = 0
    for new_ord, r in enumerate(sel):
        rgf = rg_elems[r]
        nr_span = _span_get(rgf, 3)
        if nr_span is not None:
            zz, _ = _read_varint(footer, nr_span[1])
            total_rows += _unzigzag(zz)
        overrides: dict[int, tuple[int, object]] = {}
        if keep_order is not None:
            payload = bytearray()
            _encode_list_header(payload, CT_STRUCT, len(keep_order))
            tbs = tcs = 0
            have_sizes = True
            for ci in keep_order:
                cs, ce, cc_fields = chunk_span(footer, r, ci)
                payload += footer[cs:ce]
                md_span = _span_get(cc_fields, 3)
                if md_span is None:
                    have_sizes = False
                    continue
                md_fields, _ = _struct_field_spans(footer, md_span[1])
                for mfid, acc in ((6, "tbs"), (7, "tcs")):
                    sp = _span_get(md_fields, mfid)
                    if sp is None:
                        continue
                    zz, _ = _read_varint(footer, sp[1])
                    if mfid == 6:
                        tbs += _unzigzag(zz)
                    else:
                        tcs += _unzigzag(zz)
            overrides[1] = (CT_LIST, _Raw(bytes(payload)))
            if have_sizes:
                overrides[2] = (CT_I64, tbs)
                if _span_get(rgf, 6) is not None:
                    overrides[6] = (CT_I64, tcs)
        if _span_get(rgf, 7) is not None:
            overrides[7] = (CT_I16, new_ord)
        new_rgs.append((rgf, overrides))

    out = bytearray()
    prev = 0
    for fid, ctype, s, e in fields:
        if fid == 2 and new_schema is not None:
            _encode_field_header(out, fid, CT_LIST, prev)
            _encode_list_header(out, CT_STRUCT, len(new_schema))
            for el in new_schema:
                _encode_struct(out, el)
        elif fid == 3:
            _encode_field_header(out, fid, CT_I64, prev)
            _write_zigzag(out, total_rows)
        elif fid == 4:
            _encode_field_header(out, fid, CT_LIST, prev)
            _encode_list_header(out, CT_STRUCT, len(new_rgs))
            for rgf, overrides in new_rgs:
                _copy_struct(out, footer, rgf, overrides)
        elif fid == 7 and keep_order is not None:
            # requested order, mirroring the chunk/schema splice
            # (palletjack.cc:580-601); absent section (foreign writers,
            # cc:288-299) never reaches here — the span list has no fid 7.
            # Kept elements are copied from their table ranges.
            orders = footer.orders
            if orders is None:  # a PJS1 sidecar: walk the list once
                orders = array("I")
                _list_starts(footer, s, orders)
                footer.orders = orders
            if max(keep_order) >= len(orders) - 1:
                raise InvalidSelectionError(
                    f"Column index {max(keep_order)} out of range for "
                    f"column_orders ({len(orders) - 1} entries)"
                )
            etype = footer[s] & 0xF
            _encode_field_header(out, fid, CT_LIST, prev)
            _encode_list_header(out, etype, len(keep_order))
            for i in keep_order:
                start, end = orders[i], orders[i + 1]
                _from_table(partial(_decode_value, ctype=etype), footer,
                            start, end, f"column order {i}")
                out += footer[start:end]
        elif ctype in (CT_TRUE, CT_FALSE):
            _encode_field_header(out, fid, ctype, prev)
        else:
            _encode_field_header(out, fid, ctype, prev)
            out += footer[s:e]
        prev = fid
    out.append(CT_STOP)
    return bytes(out)


# --------------------------------------------------------------------------
# PJS2 sidecar index: footer blob + span offset arrays + offset tables
# --------------------------------------------------------------------------
#
# The serialized analogue of the reference's PJ_2 buffer (palletjack.cc:33-80:
# header + offset arrays + original Thrift blob).  Layout (little-endian):
#   "PJS2" | u32 footer_len | footer | u32 n_top | n_top×(4×i64)
#        | u32 n_rg | per-rg: u32 n_fields | n_fields×(4×i64)
#        | u32 n | n×u32 chunk table: per row group, its column-chunk
#                  starts then the end of its columns list (n_rg equal
#                  blocks; n = 0 when row groups differ in chunk count)
#        | u32 n | n×u32 column-order element starts, then the list's end
#        | u32 n | n×u32 schema element starts, then the list's end
# Every offset is a byte position in the footer; a table of an absent
# field is empty.  The older "PJS1" layout is the same without the three
# tables and still reads: its chunk entries are filled per row group on
# first use, its column orders on the first column-pruned splice, and its
# schema takes the full decode.

_PJS1_MAGIC = b"PJS1"
_PJS2_MAGIC = b"PJS2"
_CORRUPT = "Corrupt PJS1/PJS2 index"


def _u32_table(out: bytearray, parts) -> None:
    """Append ``u32 count | count×u32`` (little-endian) holding the
    ``array("I")`` ``parts`` end to end."""
    table = array("I")
    for part in parts:
        table.extend(part)
    if sys.byteorder == "big":
        table.byteswap()
    out += struct.pack("<I", len(table))
    out += table.tobytes()


def _serialize_index(footer: bytes) -> bytearray:
    footer = _walked(footer)
    fields, rg_elems = footer.spans
    out = bytearray(_PJS2_MAGIC)
    out += struct.pack("<I", len(footer))
    out += footer
    out += struct.pack("<I", len(fields))
    for f in fields:
        out += struct.pack("<4q", *f)
    out += struct.pack("<I", len(rg_elems))
    for rgf in rg_elems:
        out += struct.pack("<I", len(rgf))
        for f in rgf:
            out += struct.pack("<4q", *f)
    even = len({len(block) for block in footer.chunks}) == 1
    _u32_table(out, footer.chunks if even else ())
    _u32_table(out, [footer.orders])
    _u32_table(out, [footer.elems])
    return out


#: magic of the reference's own binary sidecar (palletjack.cc:29-30)
_PJ2_MAGIC = b"PJ_2"


def _encode_pj2(footer: bytes) -> bytearray:
    """Encode a footer as a byte-compatible ``PJ_2`` sidecar.

    Emits exactly what the reference's ``generate_metadata_index`` writes
    (palletjack.cc:312-345): the 20-byte header, seven little-endian u32
    offset arrays whose semantics come from the patched codec (offsets are
    recorded AFTER each field header, relative to the enclosing struct's
    read start — parquet_types_palletjack.cpp:6946-6989 for FileMetaData,
    :5590-5599 for RowGroup.column_chunks, :2599-2604 for num_children),
    the nul-terminated leaf column names, and the consumed footer bytes.
    Differentially verified byte-for-byte against the reference's committed
    golden_master.parquet.index.

    Like the reference (validation at palletjack.cc:260-264 admits exactly
    ``columns + 3`` schema offsets), only FLAT schemas are representable;
    nested schemas raise ``InvalidSelectionError``.
    """
    fields, md_len = _struct_field_spans(footer, 0)
    top = {fid: (ct, s, e) for fid, ct, s, e in fields}
    for fid, what in ((2, "schema"), (3, "num_rows"), (4, "row_groups")):
        if fid not in top:
            raise InvalidSelectionError(f"footer has no {what} field")

    # schema: [list hdr, elem starts..., end]; elements depth-first
    _, s2, _ = top[2]
    _, n_elems, pos = _read_list_header(footer, s2)
    elem_starts: list[int] = []
    elem_fields: list[list] = []
    for _ in range(n_elems):
        elem_starts.append(pos)
        ef, pos = _struct_field_spans(footer, pos)
        elem_fields.append(ef)
    schema_offsets = [s2] + elem_starts + [pos]
    cols = n_elems - 1
    if n_elems < 1:
        raise InvalidSelectionError("footer schema has no elements")
    # flatness check: only the root may carry children
    for i, ef in enumerate(elem_fields[1:], 1):
        sp = _span_get(ef, 5)
        if sp is not None:
            zz, _ = _read_varint(footer, sp[1])
            if _unzigzag(zz) > 0:
                raise InvalidSelectionError(
                    "PJ_2 cannot represent nested schemas (the reference "
                    "admits exactly columns+3 schema offsets, "
                    "palletjack.cc:260-264)"
                )
    num_children_offsets: list[int] = []
    for st, ef in zip(elem_starts, elem_fields):
        sp = _span_get(ef, 5)
        if sp is None:
            num_children_offsets += [0, 0]  # reference pad (cc:268-272)
        else:
            num_children_offsets += [sp[1] - st, sp[2] - st]

    # num_rows value span
    _, s3, e3 = top[3]
    num_rows_offsets = [s3, e3]

    # row groups: [list hdr, rg starts..., end] + per-rg chunk offsets
    _, s4, _ = top[4]
    _, n_rg, pos = _read_list_header(footer, s4)
    rg_starts: list[int] = []
    row_numbers: list[int] = []
    column_chunks_offsets: list[int] = []
    for _ in range(n_rg):
        rg_start = pos
        rg_starts.append(rg_start)
        rgf, pos = _struct_field_spans(footer, rg_start)
        sp3 = _span_get(rgf, 3)
        if sp3 is None:
            raise InvalidSelectionError("row group has no num_rows")
        zz, _ = _read_varint(footer, sp3[1])
        row_numbers.append(_unzigzag(zz) & 0xFFFFFFFF)
        sp1 = _span_get(rgf, 1)
        if sp1 is None:
            raise InvalidSelectionError("row group has no columns list")
        _, n_chunks, cpos = _read_list_header(footer, sp1[1])
        if n_chunks != cols:
            raise InvalidSelectionError(
                f"row group has {n_chunks} column chunks but the schema "
                f"declares {cols} columns (PJ_2 requires a rectangular "
                "layout)"
            )
        column_chunks_offsets.append(sp1[1] - rg_start)
        for _ in range(n_chunks):
            column_chunks_offsets.append(cpos - rg_start)
            cpos = _skip_struct_fast(footer, cpos)
        column_chunks_offsets.append(cpos - rg_start)
    row_groups_offsets = [s4] + rg_starts + [pos]

    # column orders: zeros when absent (reference cc:289-292)
    if 7 in top:
        _, s7, _ = top[7]
        _, n_ord, pos = _read_list_header(footer, s7)
        if n_ord != cols:
            raise InvalidSelectionError(
                f"column_orders has {n_ord} entries for {cols} columns"
            )
        column_orders_offsets = [s7]
        for _ in range(n_ord):
            column_orders_offsets.append(pos)
            pos = _skip_struct_fast(footer, pos)
        column_orders_offsets.append(pos)
    else:
        column_orders_offsets = [0] * (1 + cols + 1)

    # leaf names, nul-terminated, schema order (reference cc:333-340)
    names = bytearray()
    for st, ef in zip(elem_starts[1:], elem_fields[1:]):
        sp = _span_get(ef, 4)
        if sp is None:
            raise InvalidSelectionError("schema element has no name")
        ln, vpos = _read_varint(footer, sp[1])
        names += footer[vpos : vpos + ln]
        names.append(0)

    out = bytearray(
        struct.pack("<4s4I", _PJ2_MAGIC, n_rg, cols, len(names), md_len)
    )
    for arr in (
        num_rows_offsets,
        row_numbers,
        schema_offsets,
        num_children_offsets,
        row_groups_offsets,
        column_orders_offsets,
        column_chunks_offsets,
    ):
        out += struct.pack(f"<{len(arr)}I", *arr)
    out += names
    out += footer[:md_len]
    return out


def generate_pj2_index(
    parquet_path: str, index_file_path: str | None = None
) -> bytearray | None:
    """Reference-compatible ``generate_metadata_index``: emits the
    ORIGINAL library's binary ``PJ_2`` sidecar (palletjack.cc:207-367), so
    an index written here is readable by an existing PalletJack deployment
    and vice versa.  Returns the blob, or writes it to ``index_file_path``."""
    footer = read_footer_bytes(parquet_path)
    blob = _encode_pj2(footer)
    if index_file_path is None:
        return blob
    with open(index_file_path, "wb") as f:
        f.write(blob)
    return None


def _decode_pj2(blob: bytes) -> Footer:
    """Decode the reference's ``PJ_2`` sidecar into its embedded footer.

    Layout (palletjack.cc:33-80, write order cc:316-339): a 20-byte header
    ``'PJ_2' | u32 row_groups | u32 columns | u32 column_names_length |
    u32 metadata_length`` followed by seven little-endian u32 offset
    arrays, the nul-separated leaf column names, and the ORIGINAL Thrift
    compact footer blob.  The blob is self-contained, so a
    reference-generated ``.index`` reads through the same span machinery
    as our PJS2 format: extract the footer, walk it once, and every
    ``read_metadata``/``read_schema`` selection works unchanged.

    Validation mirrors the reference's own header/count discipline
    (palletjack.cc:239-310 checks array sizes against the header before
    trusting them; cc:425-434 checks the magic) plus length-bomb bounds:
    every declared length is checked against the physical buffer before
    any allocation sized from it.
    """
    if blob[:4] != _PJ2_MAGIC:
        raise InvalidSelectionError(
            "Not a PalletJack PJ_2 index (bad magic)"
        )
    if len(blob) < 20:
        raise InvalidSelectionError(
            f"Truncated PJ_2 index: {len(blob)} bytes < 20-byte header"
        )
    rg, cols, cnames_len, md_len = struct.unpack_from("<4I", blob, 4)
    n_u32 = (
        2  # num_rows_offsets
        + rg  # row_numbers
        + (1 + 1 + cols + 1)  # schema_offsets
        + (cols + 1) * 2  # num_children_offsets
        + (1 + rg + 1)  # row_groups_offsets
        + (1 + cols + 1)  # column_orders_offsets
        + rg * (1 + cols + 1)  # column_chunks_offsets
    )
    expected = 20 + n_u32 * 4 + cnames_len + md_len
    # reject bombs BEFORE computing section positions from declared sizes
    if rg > 10_000_000 or cols > 10_000_000 or expected != len(blob):
        raise InvalidSelectionError(
            f"Corrupt PJ_2 index: header declares {rg} row groups x "
            f"{cols} columns ({expected} bytes) but the file is "
            f"{len(blob)} bytes"
        )
    names_start = 20 + n_u32 * 4
    names_blob = blob[names_start : names_start + cnames_len]
    names = names_blob.split(b"\0")[:-1]
    if len(names) != cols or (cnames_len and not names_blob.endswith(b"\0")):
        raise InvalidSelectionError(
            f"Corrupt PJ_2 index: {len(names)} column names for "
            f"{cols} declared columns"
        )
    footer = Footer(memoryview(blob)[names_start + cnames_len :])
    # cross-check the embedded footer against the header the same way the
    # reference trusts its offset arrays only after count validation
    try:
        fields, rg_elems = footer_spans(footer)
    except Exception as e:
        raise InvalidSelectionError(
            f"Corrupt PJ_2 index: embedded footer does not parse ({e})"
        ) from e
    leaves = leaf_column_names(footer)
    if len(rg_elems) != rg or len(leaves) != cols:
        raise InvalidSelectionError(
            f"Corrupt PJ_2 index: footer has {len(rg_elems)} row groups x "
            f"{len(leaves)} columns, header declares {rg} x {cols}"
        )
    if [n.decode("utf-8", "replace") for n in names] != leaves:
        raise InvalidSelectionError(
            "Corrupt PJ_2 index: column-name section disagrees with the "
            "embedded footer schema"
        )
    return footer


def _deserialize_index(blob: bytes) -> Footer:
    magic = blob[:4]
    if magic == _PJ2_MAGIC:
        # reference-generated sidecar: extract the embedded footer; its
        # span walk happened during validation
        return _decode_pj2(blob)
    if magic not in (_PJS1_MAGIC, _PJS2_MAGIC):
        raise InvalidSelectionError(
            "Not a palletjack_spark footer index (bad magic; expected "
            "PJS2, PJS1 or PJ_2)"
        )
    # decode-cap discipline (the reference's rule, palletjack.cc:82-83,
    # already applied to the PJ_2 path; round-9 deep fuzz found truncated
    # or corrupted blobs surfacing as raw struct.error instead of the
    # typed rejection): every count is capped by the bytes that could
    # hold it, and the parse must consume the blob exactly.
    pos = 4
    view = memoryview(blob)

    def count(size: int, what: str) -> int:
        """The u32 count at ``pos`` (which moves past it), capped by the
        bytes left at ``size`` bytes an item."""
        nonlocal pos
        if len(blob) - pos < 4:
            raise InvalidSelectionError(
                f"{_CORRUPT}: truncated {what} count at offset {pos}"
            )
        (n,) = struct.unpack_from("<I", blob, pos)
        pos += 4
        if n * size > len(blob) - pos:
            raise InvalidSelectionError(
                f"{_CORRUPT}: {n} {what} declared, only "
                f"{(len(blob) - pos) // size} could fit"
            )
        return n

    def take(size: int, what: str) -> memoryview:
        """A u32-counted run of ``size``-byte items."""
        nonlocal pos
        n = count(size, what)
        pos += n * size
        return view[pos - n * size : pos]

    flat: list = []  # every stored span's (fid, ctype, start, end)

    def spans(what: str) -> list:
        run = take(32, what)
        got = struct.unpack(f"<{len(run) // 8}q", run)
        flat.extend(got)
        return list(zip(*[iter(got)] * 4))

    def table(what: str) -> array:
        got = array("I")
        got.frombytes(take(4, what))
        if sys.byteorder == "big":
            got.byteswap()
        return got

    footer = take(1, "footer bytes")
    flen = len(footer)
    fields = spans("top-level spans")
    rg_elems = [
        spans("row-group spans") for _ in range(count(4, "row groups"))
    ]
    n_rg = len(rg_elems)
    if magic == _PJS2_MAGIC:
        chunks, orders, elems = (
            table("chunk offsets"),
            table("column-order offsets"),
            table("schema-element offsets"),
        )
    if pos != len(blob):
        raise InvalidSelectionError(
            f"{_CORRUPT}: {len(blob) - pos} trailing bytes after the tables"
        )
    # validate the span VALUES, not just the container (round-13 review:
    # a corrupt span previously flowed straight into the splice — a
    # negative start wraps via Python slicing, and out-of-range spans
    # can assemble a parseable-but-WRONG footer the corrupt-index
    # wrapper never catches).  Every span must denote a real byte range
    # of the embedded footer with a sane field id and compact type.
    v = np.array(flat, dtype=np.int64).reshape(-1, 4)
    bad = np.flatnonzero(
        (v[:, 0] <= 0) | (v[:, 0] >= 1 << 31) | (v[:, 1] < 0) | (v[:, 1] > 15)
        | (v[:, 2] < 0) | (v[:, 2] > v[:, 3]) | (v[:, 3] > flen)
    )
    if len(bad):
        fid, ctype, start, end = v[bad[0]].tolist()
        where = "top-level" if bad[0] < len(fields) else "row-group"
        raise InvalidSelectionError(
            f"{_CORRUPT}: {where} span (fid={fid}, ctype={ctype}, "
            f"start={start}, end={end}) does not denote a byte range of "
            f"the {flen}-byte footer"
        )
    if magic == _PJS1_MAGIC:
        # the stored spans spare splices the walk entirely
        return Footer(footer, (fields, rg_elems), [None] * n_rg)
    # the tables are checked whole here (strictly increasing, inside the
    # footer); each entry a splice uses is checked again by its walk
    for what, t in (("chunk", chunks), ("column-order", orders),
                    ("schema-element", elems)):
        a = np.frombuffer(t, dtype=np.uint32)
        if len(a) and (a[-1] > flen or not (a[1:] > a[:-1]).all()):
            raise InvalidSelectionError(
                f"{_CORRUPT}: {what} table is not strictly increasing "
                f"inside the {flen}-byte footer"
            )
    if not chunks:
        blocks = [None] * n_rg  # ragged row groups: filled on first use
    elif n_rg and len(chunks) % n_rg == 0:
        k = len(chunks) // n_rg
        blocks = _blocks(chunks, range(0, len(chunks) + 1, k))
    else:
        raise InvalidSelectionError(
            f"{_CORRUPT}: {len(chunks)} chunk offsets for {n_rg} row groups"
        )
    return Footer(footer, (fields, rg_elems), blocks, orders, elems)


def generate_metadata_index(
    parquet_path: str, index_file_path: str | None = None
) -> bytearray | None:
    """Reference-parity ``generate_metadata_index``
    (palletjack_cython.pyx:13-25): walk the footer once, record every span
    and offset table, and emit a self-contained ``PJS2`` index — returned
    as a ``bytearray`` when no path is given, else written to
    ``index_file_path``."""
    blob = _serialize_index(read_footer_bytes(parquet_path))
    if index_file_path is None:
        return blob
    with open(index_file_path, "wb") as f:
        f.write(blob)
    return None


def _read_sidecar(path: str) -> Footer:
    with open(path, "rb") as f:
        return _deserialize_index(f.read())


def _footer_from_source(
    index_file_path: str | None, index_data, parquet_path: str | None
) -> bytes:
    if isinstance(index_file_path, (bytes, bytearray)) and index_data is None:
        # an in-memory blob passed positionally (path-or-buffer ergonomics,
        # like pyarrow's own readers) — treating it as a filesystem path
        # surfaced as a bewildering os.stat ValueError (fuzz-found).
        # Only swap when index_data is absent: a bytes-positional PLUS an
        # explicit index_data is a conflicting-sources call and must fall
        # through to the n_sources ambiguity error below, not silently
        # drop one argument (round-8 ADVICE).
        index_file_path, index_data = None, index_file_path
    n_sources = sum(
        x is not None for x in (index_file_path, index_data, parquet_path)
    )
    if n_sources != 1:
        raise InvalidSelectionError(
            "Pass exactly one of index_file_path, index_data, parquet_path"
        )
    if parquet_path is not None:
        return read_footer_bytes(parquet_path)
    if index_file_path is not None:
        return _file_footer(index_file_path, _read_sidecar)
    hit = _FOOTER_MEMO.get(id(index_data))
    if hit is not None and hit.blob == index_data:
        return hit
    blob = bytes(index_data)
    footer = _deserialize_index(blob)
    footer.blob = blob
    return _remember(id(index_data), footer)


# --------------------------------------------------------------------------
# reference-parity public API
# --------------------------------------------------------------------------

def read_metadata(
    index_file_path: str | None = None,
    row_groups: Sequence[int] | Iterable[int] | None = (),
    column_indices: Sequence[int] | Iterable[int] | None = (),
    column_names: Sequence[str] | Iterable[str] | None = (),
    index_data: bytes | bytearray | None = None,
    parquet_path: str | None = None,
) -> pq.FileMetaData:
    """Pruned, genuine ``pyarrow.parquet.FileMetaData``.

    Reference contract (``palletjack_cython.pyx:27-46``, README.md:70-74):
    the returned object plugs into ``pq.ParquetReader().open(path,
    metadata=...)`` / ``pq.ParquetFile(path, metadata=...)`` and the reader
    touches only the selected row groups × columns, renumbered 0..k-1.
    Empty selections mean "everything".  Sources: a PJS2 (or older PJS1)
    index file (``index_file_path``), an in-memory one (``index_data``) —
    both from :func:`generate_metadata_index` — or, as an extension over the
    reference, the parquet file itself (``parquet_path``)."""
    footer = _footer_from_source(index_file_path, index_data, parquet_path)
    # None and () both mean "no pruning on this axis".  Accepting None is
    # an extension over the reference's Cython signature, which defaults
    # every selection to [] and would TypeError on None (palletjack's
    # `cdef vector[uint32_t] crow_groups = row_groups` conversion)
    try:
        pruned = splice_footer(
            footer,
            row_groups=list(row_groups or ()),
            column_indices=list(column_indices or ()) or None,
            column_names=list(column_names or ()) or None,
        )
        return metadata_from_footer(pruned)
    except (InvalidSelectionError, IndexFormatError):
        raise
    except Exception as e:
        # Decode-cap discipline, splice layer (round-9 deep fuzz): a sidecar
        # container can be structurally valid while its EMBEDDED footer
        # bytes are corrupt — the stored spans then point at garbage and
        # the varint walk / pyarrow thrift parse fails with an untyped
        # IndexError / ArrowInvalid / OSError.  A corrupt index must
        # always surface as the library's typed rejection.
        raise InvalidSelectionError(
            f"Corrupt index: spliced footer does not parse ({e})"
        ) from e


def read_schema(
    index_file_path: str | None = None,
    column_indices: Sequence[int] | Iterable[int] | None = (),
    column_names: Sequence[str] | Iterable[str] | None = (),
    index_data: bytes | bytearray | None = None,
    parquet_path: str | None = None,
) -> pa.Schema:
    """Schema-only read (zero row groups decoded), optionally column-pruned
    (reference ``read_schema``, palletjack_cython.pyx:48-67)."""
    footer = _footer_from_source(index_file_path, index_data, parquet_path)
    pruned = splice_footer(
        footer,
        column_indices=list(column_indices or ()) or None,
        column_names=list(column_names or ()) or None,
        schema_only=True,
    )
    # the reader's schema, not FileMetaData.schema: that one leaves a
    # FileMetaData <-> ParquetSchema reference cycle per call, holding the
    # file's key-value metadata until a cyclic garbage collection runs
    reader = pq.ParquetReader()
    try:
        reader.open(_footer_file(pruned))
        return reader.schema_arrow
    finally:
        reader.close()
