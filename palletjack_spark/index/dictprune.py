"""Dictionary-page row-group pruning for equality predicates.

Min/max stats cannot prune an equality predicate on a high-cardinality
column whose values interleave across row groups — every row group's
[min, max] spans the literal even though most contain no matching row.
Parquet already stores the exact answer in a tiny place: the column
chunk's DICTIONARY PAGE.  When a chunk is *fully* dictionary-encoded,
the dictionary is the complete value set of the chunk, so
``literal not in dictionary`` is a PROOF the row group holds no match.

This module reads ONLY the dictionary-page bytes
(``[dictionary_page_offset, data_page_offset)`` — typically a few KB)
of row groups that survive stats pruning, using the same compact-thrift
span machinery as the footer splice (:mod:`footer_splice`):

1. *Soundness evidence*: ``ColumnMetaData.encoding_stats`` (field 13)
   must show every DATA_PAGE/DATA_PAGE_V2 encoded as
   PLAIN_DICTIONARY/RLE_DICTIONARY.  A chunk that fell back to PLAIN
   mid-write (dictionary overflow) holds values OUTSIDE the dictionary,
   so pruning would be wrong — such chunks, and writers that omit
   encoding_stats, conservatively return "unknown" and are kept.
2. *Probe*: parse the dictionary PageHeader (compact thrift), decompress
   the page with the chunk's codec, PLAIN-decode the values
   (length-prefixed for BYTE_ARRAY, fixed-width for INT32/INT64/
   FLOAT/DOUBLE), and test membership.

Every parse/IO failure degrades to "unknown" (keep) — pruning is a pure
optimization and must never change results; the residual filter always
applies downstream.

Scale shape: the probe I/O is bounded by (surviving row groups ×
dictionary page size), reads no data pages, and is embarrassingly
parallel per chunk.  The driver-local read path (≤ 32 files) probes on
the driver; catalog-scale plans run the same probe in the scan tasks
(``bloomprune.value_prune_plan``).  The page offsets and codec come from
the file's own footer, and each chunk's encoding verdict and decoded
dictionary live in that footer's memo (``footer_splice.footer_memo``):
probe facts last as long as the footer's memo entry, so repeated reads
of an unchanged file re-read no dictionary page.
"""

from __future__ import annotations

import struct

from palletjack_spark.index.footer_splice import (
    FooterProber,
    _decode_value,
    _list_elem_spans,
    _span_get,
    _struct_field_spans,
    chunk_fields,
    int_field,
)

#: parquet PageType enum
_PAGE_DATA, _PAGE_INDEX, _PAGE_DICT, _PAGE_DATA_V2 = 0, 1, 2, 3
#: parquet Encoding enum members that mean "values live in the dictionary"
_ENC_PLAIN = 0
_ENC_PLAIN_DICT = 2
_ENC_RLE_DICT = 8
#: parquet CompressionCodec enum, by value
_CODECS = ("UNCOMPRESSED", "SNAPPY", "GZIP", "LZO", "BROTLI", "LZ4", "ZSTD", "LZ4_RAW")
#: codec name -> pyarrow codec name (LZO has no pyarrow codec: unsupported)
_CODEC_NAMES = {"SNAPPY": "snappy", "GZIP": "gzip", "BROTLI": "brotli",
                "LZ4": "lz4", "ZSTD": "zstd", "LZ4_RAW": "lz4_raw"}


def fully_dict_encoded(footer: bytes, rg_idx: int, col_idx: int) -> bool | None:
    """True when encoding_stats PROVES every data page of the chunk is
    dictionary-encoded; False when a data page provably is not; None when
    the writer omitted encoding_stats (or the footer doesn't parse) —
    callers must treat None as "cannot prune"."""
    got = chunk_fields(footer, rg_idx, col_idx)
    md_fields = got[1] if got is not None else None
    if md_fields is None:
        return None
    es_span = _span_get(md_fields, 13)  # ColumnMetaData.encoding_stats
    if es_span is None:
        return None
    try:
        _etype, spans, _ = _list_elem_spans(footer, es_span[1])
        n_data_pages = 0
        for s, _e in spans:
            pes, _ = _struct_field_spans(footer, s)
            page_type = _decode_value(footer, *_need(pes, 1))[0]
            encoding = _decode_value(footer, *_need(pes, 2))[0]
            if page_type in (_PAGE_DATA, _PAGE_DATA_V2):
                n_data_pages += 1
                if encoding not in (_ENC_PLAIN_DICT, _ENC_RLE_DICT):
                    return False
        return True if n_data_pages > 0 else None
    except Exception:
        return None


def _need(fields, fid):
    span = _span_get(fields, fid)
    if span is None:
        raise KeyError(fid)
    return span[1], span[0]


def read_dictionary(
    path: str,
    dictionary_page_offset: int,
    data_page_offset: int,
    codec: str,
    physical_type: str,
) -> list | None:
    """Decode a column chunk's dictionary values, or None when the page
    is absent, the codec/type is unsupported, or anything fails to parse.

    The read is exactly ``data_page_offset - dictionary_page_offset``
    bytes — the dictionary page (header + payload) and nothing else.
    """
    if (
        dictionary_page_offset is None
        or data_page_offset is None
        or not (0 <= dictionary_page_offset < data_page_offset)
    ):
        return None
    try:
        with open(path, "rb") as f:
            f.seek(dictionary_page_offset)
            raw = f.read(data_page_offset - dictionary_page_offset)
        header, payload_start = _struct_field_spans(raw, 0)
        page_type = _decode_value(raw, *_need(header, 1))[0]
        uncompressed = _decode_value(raw, *_need(header, 2))[0]
        compressed = _decode_value(raw, *_need(header, 3))[0]
        if page_type != _PAGE_DICT:
            return None
        dph_span = _span_get(header, 7)  # PageHeader.dictionary_page_header
        if dph_span is None:
            return None
        dph, _ = _struct_field_spans(raw, dph_span[1])
        num_values = _decode_value(raw, *_need(dph, 1))[0]
        dict_encoding = _decode_value(raw, *_need(dph, 2))[0]
        if dict_encoding not in (_ENC_PLAIN, _ENC_PLAIN_DICT):
            return None
        page = raw[payload_start : payload_start + compressed]
        if len(page) != compressed:
            return None
        codec = (codec or "UNCOMPRESSED").upper()
        if codec == "UNCOMPRESSED":
            buf = bytes(page)
        else:
            import pyarrow as pa

            name = _CODEC_NAMES.get(codec)
            if name is None:
                return None
            buf = pa.Codec(name).decompress(page, uncompressed)
            buf = buf.to_pybytes() if hasattr(buf, "to_pybytes") else bytes(buf)
        return _plain_decode(buf, num_values, physical_type)
    except Exception:
        return None


def _plain_decode(buf: bytes, n: int, physical_type: str) -> list | None:
    t = (physical_type or "").upper()
    try:
        if t == "BYTE_ARRAY":
            out, pos = [], 0
            for _ in range(n):
                (ln,) = struct.unpack_from("<I", buf, pos)
                pos += 4
                if pos + ln > len(buf):
                    return None
                out.append(buf[pos : pos + ln])
                pos += ln
            return out
        if t in ("INT32", "INT64", "FLOAT", "DOUBLE"):
            fmt = {"INT32": "<i", "INT64": "<q", "FLOAT": "<f", "DOUBLE": "<d"}[t]
            size = struct.calcsize(fmt)
            if size * n > len(buf):
                return None
            return [struct.unpack_from(fmt, buf, i * size)[0] for i in range(n)]
        return None  # FIXED_LEN_BYTE_ARRAY / INT96 / BOOLEAN: not worth probing
    except Exception:
        return None


#: logical-type tags (builder._logical_tag) under which the RAW decoded
#: dictionary value IS the predicate literal's value space, per physical
#: type.  Anything else — DECIMAL stored as INT32/INT64 unscaled (literal
#: 5.0, stored 500), unsigned ints reinterpreted as signed, DATE/TIME/
#: TIMESTAMP re-encodings, ENUM/JSON/BSON blobs — must NOT be probed:
#: the literal would never be found and the row group would be wrongly
#: pruned, silently losing rows (round-10 ADVICE, high).  A missing tag
#: (None: index built before the field existed, or pyarrow exposed no
#: logical type) is unknown → no pruning.
_IDENTITY_LOGICAL = {
    "BYTE_ARRAY": {"NONE", "STRING"},
    "INT32": {"NONE", "INT(32,true)"},
    "INT64": {"NONE", "INT(64,true)"},
    "FLOAT": {"NONE"},
    "DOUBLE": {"NONE"},
}


def _probe_value(value, physical_type: str, logical_type: str | None):
    """The dictionary-representation of a predicate literal, or None when
    the literal's type can't be compared against this physical type — or
    when the column's logical annotation means the raw physical values
    are NOT the literal's value space (``_IDENTITY_LOGICAL``)."""
    t = (physical_type or "").upper()
    if logical_type not in _IDENTITY_LOGICAL.get(t, ()):
        return None
    if t == "BYTE_ARRAY":
        if isinstance(value, str):
            return value.encode("utf-8")
        if isinstance(value, (bytes, bytearray)):
            return bytes(value)
        return None
    if t in ("INT32", "INT64"):
        # bool is an int subclass but BOOLEAN has its own physical type
        return value if isinstance(value, int) and not isinstance(value, bool) else None
    if t in ("FLOAT", "DOUBLE"):
        import math

        if not isinstance(value, (int, float)):
            return None
        # NaN never probes: Spark treats NaN = NaN as TRUE, but a Python
        # set-membership test says nan != nan — pruning on it would drop
        # row groups whose NaN rows DO match the predicate
        if isinstance(value, float) and math.isnan(value):
            return None
        return float(value)
    return None


class DictionaryProber(FooterProber):
    """Dictionary prober: encoding verdicts and decoded dictionaries are
    read at most once per (footer, chunk), in the footer's memo — later
    passes over an unchanged file reuse them, so a warm probe reads no
    file bytes at all."""

    def can_match(
        self, path: str, rg_idx: int, col_idx: int, col_meta: dict, value
    ) -> bool | None:
        """False = the row group PROVABLY contains no row equal to
        ``value`` (safe to skip); True/None = keep."""
        probe = _probe_value(
            value, col_meta.get("physical_type"), col_meta.get("logical_type")
        )
        if probe is None:
            return None
        d = self._dictionary(path, rg_idx, col_idx, col_meta)
        if d is None:
            return None
        return probe in d

    def _dictionary(self, path: str, rg_idx: int, col_idx: int, col_meta: dict):
        """The chunk's decoded dictionary as a frozenset, or None when the
        chunk isn't provably fully dictionary-encoded or the page can't be
        read."""
        footer, memo = self._memo(path, "dictionary")
        if memo is None:
            return None
        ptype = col_meta.get("physical_type")
        key = (rg_idx, col_idx, ptype)
        if key not in memo:
            memo[key] = _chunk_dictionary(path, footer, rg_idx, col_idx, ptype)
        return memo[key]

    def all_excluded(
        self, path: str, rg_idx: int, col_idx: int, col_meta: dict, values
    ) -> bool | None:
        """True = EVERY value in the chunk's dictionary is in ``values``
        (so no row can satisfy ``!= v`` / ``NOT IN (values)`` — NULL rows
        don't satisfy them either); False/None = keep.

        Sound even with unused dictionary entries: every data value IS
        some dictionary entry, so "all entries excluded" covers every row
        a writer could have referenced."""
        probes = [
            _probe_value(
                v, col_meta.get("physical_type"), col_meta.get("logical_type")
            )
            for v in values
        ]
        if any(p is None for p in probes):
            return None
        d = self._dictionary(path, rg_idx, col_idx, col_meta)
        if d is None:
            return None
        return d.issubset(set(probes))


def _chunk_dictionary(path, footer, rg_idx, col_idx, physical_type):
    """One chunk's dictionary values as a frozenset, or None.  The page
    offsets and the codec come from the footer's own ColumnMetaData, so
    the result is a function of the footer and the file bytes alone."""
    if fully_dict_encoded(footer, rg_idx, col_idx) is not True:
        return None
    md = chunk_fields(footer, rg_idx, col_idx)[1]
    codec = int_field(footer, md, 4)  # ColumnMetaData.codec
    values = read_dictionary(
        path,
        int_field(footer, md, 11),  # dictionary_page_offset
        int_field(footer, md, 9),  # data_page_offset
        _CODECS[codec] if codec is not None and codec < len(_CODECS) else "?",
        physical_type,
    )
    return frozenset(values) if values is not None else None


#: column-chunk metadata the executor-side value probes need, with its
#: plan-column short names (offsets and codecs come from the footer)
_META_SHORT = {"physical_type": "ptype", "logical_type": "ltype"}


def plan_meta_columns(plan, col_names, prefix: str) -> list:
    """Per-conjunct column-chunk metadata as FLAT plan columns — the
    builder behind the executor-side value-pruning plan
    (``bloomprune.value_prune_plan``).  For each probed column name the
    ``_META_SHORT`` fields surface as ``{prefix}_{short}_{i}`` plus the
    chunk ordinal ``{prefix}_cix_{i}``;
    :func:`meta_from_row` reassembles the probe-side dict.

    F.get, not element_at: a conjunct on a PARTITION key (or any column
    absent from the file schema) filters to an EMPTY array, and ANSI
    element_at throws on it — get() yields NULL, which every probe
    treats as "unknown -> keep".  Sidecars written before the
    ``logical_type`` field existed can't prove the identity mapping —
    ship NULL, same conservative verdict."""
    from pyspark.sql import functions as F

    try:
        elem = plan.schema["columns"].dataType.elementType
        has_ltype = "logical_type" in elem.fieldNames()
    except Exception:
        has_ltype = False
    out = []
    for i, col_name in enumerate(col_names):
        match = F.get(
            F.filter("columns", lambda c: c["name"] == F.lit(col_name)), 0
        )
        for f, short in _META_SHORT.items():
            col = (
                F.lit(None).cast("string")
                if f == "logical_type" and not has_ltype
                else match[f]
            )
            out.append(col.alias(f"{prefix}_{short}_{i}"))
        out.append(
            (
                F.array_position(
                    F.transform("columns", lambda c: c["name"]), col_name
                )
                - 1
            ).alias(f"{prefix}_cix_{i}")
        )
    return out


def meta_from_row(r: dict, prefix: str, i: int) -> dict:
    """Probe-side inverse of :func:`plan_meta_columns`: the flat row's
    ``{prefix}_*_{i}`` values as the chunk-meta dict the probers take."""
    return {f: r[f"{prefix}_{short}_{i}"] for f, short in _META_SHORT.items()}
