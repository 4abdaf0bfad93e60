"""Distributed Parquet metadata index build.

Analogue of the reference's ``generate_metadata_index``
(palletjack_cython.pyx:13, palletjack.cc:207-367): where the reference
records byte offsets into the Thrift footer so later reads deserialize only
the needed subset, we extract the footer's *content* — one row per
(file, row_group) with per-column-chunk stats — into a queryable DataFrame,
persisted as a small Parquet sidecar dataset ("PJ_2 buffer" → index table,
SURVEY.md §1.3).

Scale design (100 TB):
- the driver only *lists* files; every footer is parsed executor-side by
  pyarrow inside ``mapInPandas`` — no driver-side footer reads, no
  arrow#38149 footer-tax on the driver;
- the index is itself Parquet, partition-prunable and broadcastable
  (typically ~0.01% of data size);
- ``build_index(..., incremental=True)`` indexes only files not already
  present, so nightly ingest re-indexes new files only — and reconciles
  the sidecar against the filesystem: files rewritten in place (stat no
  longer matches the recorded size/mtime_ns) are re-extracted and files
  deleted since indexing are purged, so compaction/upsert/overwrite under
  an indexed root can never leave silently stale row-group stats.

Like the reference, encrypted footers/column metadata are rejected
(palletjack.cc:217-221) and index rows are validated against the header
counts before being trusted (cc:239-310 → ``MetadataIndex.validate``).
"""

from __future__ import annotations

import os
from typing import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import SparkSession, functions as F, types as T

from palletjack_spark.errors import EncryptedParquetError, IndexFormatError
from palletjack_spark.index.metadata_index import (
    _COLUMN_STAT,
    FILES_SCHEMA,
    ROW_GROUPS_SCHEMA,
    MetadataIndex,
    sidecar_violation,
)
from palletjack_spark.index.predicate import ceil_double, floor_double
from palletjack_spark.sources.arrow_scan import expand_paths


def _stat_repr(v) -> str | None:
    """Deterministic string repr for a min/max statistic value."""
    if v is None:
        return None
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _stat_kind(v) -> str | None:
    """Tag for what ``_stat_repr`` encoded: 'text' reprs compare
    lexicographically against string predicates (parquet string min/max
    order == binary order for the ASCII values we prune on); 'hex' and
    'num' reprs do not."""
    if v is None:
        return None
    if isinstance(v, str):
        return "text"
    if isinstance(v, bytes):
        return "hex"
    return "num"


def _stat_num_base(v) -> int | float | None:
    """Exact numeric projection of a statistic (for range pruning).
    Timestamps and dates map to epoch micros / days — computed in INT
    arithmetic so the only rounding is the final float conversion, which
    :func:`_stat_num_floor` / :func:`_stat_num_ceil` direction-control.
    Strings map to None."""
    import datetime

    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        d = v - epoch
        return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    return None


def _stat_num_floor(v) -> float | None:
    """Largest double <= the exact statistic value.  ``float(int)`` rounds
    to NEAREST, so an int64 min above 2^53 could round UP past a literal
    between the true and rounded bound, and a strict ``>``/``<`` range
    test against the rounded stat would wrongly prune a matching row
    group (round-10 ADVICE; same hazard the JVM feed fixed in round 9).
    Rounding mins DOWN and maxes UP keeps every stored [min_num, max_num]
    a SUPERSET of the true range: pruning stays sound, at worst one extra
    row group survives to the residual filter."""
    b = _stat_num_base(v)
    return None if b is None else floor_double(b)


def _stat_num_ceil(v) -> float | None:
    """Smallest double >= the exact statistic value (see
    :func:`_stat_num_floor`)."""
    b = _stat_num_base(v)
    return None if b is None else ceil_double(b)


def _logical_tag(column_schema) -> str | None:
    """Canonical tag of a leaf column's parquet LOGICAL type annotation,
    recorded so value-level probes (dictionary pruning) can refuse
    columns whose raw physical encoding is NOT the predicate literal's
    value space — e.g. DECIMAL stored as INT32/INT64 unscaled (Spark's
    default layout for precision <= 18: literal 5.0, stored 500) or
    unsigned ints reinterpreted as signed (round-10 ADVICE, high).

    Tags: ``"NONE"`` (no annotation — raw IS the value), ``"STRING"``,
    ``"INT(32,true)"``-style for annotated ints, and the bare
    pyarrow type name (``"DECIMAL"``, ``"DATE"``, ...) otherwise.  None
    when pyarrow exposes no logical type (treated as unknown → no
    value-level pruning)."""
    import re

    try:
        lt = column_schema.logical_type
        t = (lt.type or "").upper()
    except Exception:
        return None
    if t == "INT":
        m = re.search(r"bitWidth=(\d+), isSigned=(true|false)", str(lt))
        if not m:
            return "INT"
        return f"INT({m.group(1)},{m.group(2)})"
    return t or None


def _open_footer(path: str):
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path)
    except Exception as e:
        if "encrypt" in str(e).lower():
            raise EncryptedParquetError(
                f"Encrypted parquet is not supported: {path}"
            ) from e
        raise


#: tagged-union schema for the single-pass distributed build: one footer
#: parse emits the file row ("kind"='file') and its row-group rows
#: ("kind"='rg') into the same frame; ``file`` and ``num_rows`` are shared
#: column slots whose meaning follows the tag.
_COMBINED_SCHEMA = T.StructType(
    [T.StructField("kind", T.StringType())]
    + list(ROW_GROUPS_SCHEMA.fields)
    + [
        f
        for f in FILES_SCHEMA.fields
        if f.name not in {x.name for x in ROW_GROUPS_SCHEMA.fields}
    ]
)


def _extract_file_rows(
    path: str, chunk: int = 0, n_chunks: int = 1
) -> tuple[dict | None, list[dict]]:
    """Executor-side: parse one footer, emit (file_row, row_group_rows).

    ``chunk``/``n_chunks`` stride the row groups so one huge footer can be
    extracted by many tasks in parallel (each re-parses the footer thrift —
    cheap, ~35 ms — then walks only row groups ``chunk::n_chunks``).  The
    file-level row is emitted by chunk 0 only.
    """
    # Stat BEFORE opening the footer (round-8 ADVICE): if the file is
    # rewritten in place between this stat and the footer parse, we record
    # the PRE-rewrite (size, mtime_ns) against the post-rewrite stats, so
    # the next incremental build's _reconcile sees a mismatch and
    # re-indexes.  The old order (stat after parse) stored the NEW identity
    # against the OLD row-group stats — silently stale forever.
    # EVERY chunk captures its own identity (round-9 ADVICE): with
    # n_chunks > 1 each task re-parses the footer independently, so a
    # rewrite landing during ANY chunk's parse — not just chunk 0's —
    # can tear that chunk's rows; each chunk re-stats after its parse
    # and stamps the observed identity on its rows so the driver can
    # additionally assert all chunks of a file saw the SAME version.
    st_pre = os.stat(path)
    pf = _open_footer(path)
    md = pf.metadata
    schema = pf.schema_arrow
    file_row = None
    if chunk == 0:
        file_row = {
            "file": path,
            "num_rows": md.num_rows,
            "num_row_groups": md.num_row_groups,
            "num_columns": md.num_columns,
            "created_by": md.created_by,
            "format_version": md.format_version,
            "serialized_footer_size": md.serialized_size,
            "file_size": st_pre.st_size,
            "mtime_ns": st_pre.st_mtime_ns,
            "column_names": list(schema.names),
            "arrow_schema": schema.serialize().to_pybytes(),
        }
    # leaf-column logical types, in physical (column-chunk) order — one
    # probe per file, shared by every row group
    logical_tags = [
        _logical_tag(pf.schema.column(j)) for j in range(md.num_columns)
    ]
    rg_rows = []
    for i in range(chunk, md.num_row_groups, n_chunks):
        rg = md.row_group(i)
        cols = []
        for j in range(rg.num_columns):
            cc = rg.column(j)
            st = cc.statistics
            # pyarrow raises ArrowNotImplementedError extracting min/max
            # for some logical types it can't map back to values (e.g.
            # DECIMAL stored as INT64 unscaled — Spark's default layout);
            # stats then degrade to "unknown" (no pruning on the column)
            # instead of failing the whole file's index build
            try:
                has_mm = bool(st and st.has_min_max)
                st_min = st.min if has_mm else None
                st_max = st.max if has_mm else None
            except Exception:
                st_min = st_max = None
            cols.append(
                {
                    "name": cc.path_in_schema,
                    "physical_type": cc.physical_type,
                    "logical_type": logical_tags[j],
                    "codec": cc.compression,
                    "num_values": cc.num_values,
                    "total_compressed_size": cc.total_compressed_size,
                    "total_uncompressed_size": cc.total_uncompressed_size,
                    "data_page_offset": cc.data_page_offset,
                    "dictionary_page_offset": cc.dictionary_page_offset,
                    "null_count": (st.null_count if st and st.has_null_count else None),
                    "distinct_count": (
                        st.distinct_count if st and st.has_distinct_count else None
                    ),
                    "min_repr": _stat_repr(st_min),
                    "max_repr": _stat_repr(st_max),
                    "min_num": _stat_num_floor(st_min),
                    "max_num": _stat_num_ceil(st_max),
                    "stats_kind": _stat_kind(st_min),
                }
            )
        rg_rows.append(
            {
                "file": path,
                "row_group": i,
                "num_rows": rg.num_rows,
                "total_byte_size": rg.total_byte_size,
                "total_compressed_size": sum(c["total_compressed_size"] for c in cols),
                "columns": cols,
                # observed file identity, carried in the combined union's
                # shared slots so the driver can verify every chunk of
                # this file parsed the same version (never written to the
                # row_groups/ sidecar — stripped by the rg_cols select)
                "file_size": st_pre.st_size,
                "mtime_ns": st_pre.st_mtime_ns,
            }
        )
    # Re-stat after the parse — in EVERY chunk: a mismatch means the file
    # was rewritten WHILE this task was reading it — the rows above may
    # mix bytes from two versions, so fail the build loudly (the caller
    # retries or the next incremental build re-indexes) rather than
    # commit torn stats.
    st_post = os.stat(path)
    if (st_post.st_size, st_post.st_mtime_ns) != (st_pre.st_size, st_pre.st_mtime_ns):
        raise IndexFormatError(
            f"{path} was rewritten during footer extraction "
            f"(size {st_pre.st_size}->{st_post.st_size}, "
            f"mtime_ns {st_pre.st_mtime_ns}->{st_post.st_mtime_ns}); "
            "re-run the index build"
        )
    return file_row, rg_rows


#: in-process memo for in-memory indexes (keyed by Spark application id +
#: per-file (path, mtime_ns, size)); the DataFrames are cached, so repeated
#: callers skip footer re-reads — the same "read the index once, reuse it"
#: property the reference gets from its in-memory bytearray index
#: (palletjack.cc:656-678).  mtime/size in the key means a file rewritten
#: in place gets a fresh index instead of a stale hit, and the application
#: id (unlike ``id(spark)``) can't be recycled by the allocator after a
#: session is garbage-collected.
_INDEX_CACHE: dict[tuple, MetadataIndex] = {}
_INDEX_CACHE_MAX = 32


def _cache_put(key: tuple, idx: MetadataIndex) -> None:
    """Bounded insert (round-13 review: the memo grew without bound,
    pinning superseded indexes' cached DataFrames in executor storage
    for the application lifetime — the _schemas_cache discipline, plus
    an unpersist of the evicted entry's cached plans)."""
    if len(_INDEX_CACHE) >= _INDEX_CACHE_MAX:
        _k, old = next(iter(_INDEX_CACHE.items()))
        _INDEX_CACHE.pop(_k, None)
        try:
            old.row_groups.unpersist()
            old.files.unpersist()
        except Exception:
            pass
    _INDEX_CACHE[key] = idx


def _cache_key(spark: SparkSession, files: list[str]) -> tuple:
    return (
        spark.sparkContext.applicationId,
        tuple(
            (f, st.st_mtime_ns, st.st_size)
            for f in files
            for st in (os.stat(f),)
        ),
    )


#: at or below this many files an in-memory build parses footers on the
#: driver — the reference's own execution shape (generate_metadata_index
#: runs in the calling process, palletjack.cc:207) — skipping two Spark
#: jobs.  Above it, footers are parsed executor-side (the 100 TB path).
DRIVER_BUILD_MAX_FILES = 32

#: max footer-extract tasks per file in the distributed build; each task
#: pays one ~35 ms thrift re-parse, so chunking only wins while the stride
#: of row-group stat extraction it saves exceeds that.
_FOOTER_CHUNKS = 16

#: minimum row groups per footer chunk: below this stride the chunk's walk
#: is cheaper than the footer re-parse it pays for, so fanning out further
#: only multiplies parse work (round-4 verdict: the 16-way fan-out over a
#: 200-rg footer was 2x slower than 4-way because every task re-parsed the
#: 4.25 MB thrift for a ~12-rg walk).
_MIN_RGS_PER_CHUNK = 64


def _pick_chunks(files: list[str], par: int) -> int:
    """Per-file footer fan-out for the distributed build.

    With many files each file is already one unit, so no fan-out.  With few
    files, probe ONE footer driver-side (a single ~tens-of-ms parse — the
    driver already listed every file, and this runs only when there are
    fewer files than cores) and size the fan-out so each chunk walks at
    least ``_MIN_RGS_PER_CHUNK`` row groups: a 10k-row-group footer still
    fans out to the full ``_FOOTER_CHUNKS``, while a 200-rg footer gets 4
    tasks instead of 16 footer re-parses.  The probe target is the LARGEST
    file by size — sizing the whole batch from an arbitrary small first
    file would serialize the walk of its big siblings.
    """
    by_par = par // max(1, len(files))
    if by_par <= 1:
        return 1
    try:
        probe = max(files, key=os.path.getsize)
        num_rgs = _open_footer(probe).metadata.num_row_groups
    except EncryptedParquetError:
        raise
    except Exception:
        return min(_FOOTER_CHUNKS, by_par)
    by_rgs = max(1, -(-num_rgs // _MIN_RGS_PER_CHUNK))  # ceil div
    return max(1, min(_FOOTER_CHUNKS, by_par, by_rgs))


def _extract_combined(spark: SparkSession, files: list[str]):
    """Distributed footer extraction: files -> tagged-union DataFrame.

    Parallelism unit = (file, footer chunk): with many files each file is
    one unit; with few files (or one giant footer) each file fans out to
    up to _FOOTER_CHUNKS units whose tasks re-parse the footer thrift
    (~35 ms) and extract a disjoint stride of row groups.  Either way the
    cluster is busy — a million small files AND a handful of 10k-row-group
    files both saturate.

    SINGLE footer pass: each executor parses a footer once and emits the
    file-level row AND its row-group rows into one tagged union frame.
    Splitting the union afterwards is a cached filter+project, so at
    100 TB (millions of footers) this is half the footer I/O and one
    Spark job where the naive two-pass shape needed two.

    mapInArrow, not mapInPandas: the rows carry a deeply nested
    array<struct<15 fields>> column (one element per column chunk — a
    400-col × 200-rg footer is 80 k structs), and the pandas serializer
    converts those object-dtype cells element-by-element (~0.7 s/footer).
    Building the RecordBatch straight from the row dicts with the target
    schema is ~15× cheaper and skips pandas entirely.
    """
    par = spark.sparkContext.defaultParallelism
    n_chunks = _pick_chunks(files, par)
    units = [(f, c, n_chunks) for f in files for c in range(n_chunks)]
    # exactly one slice per unit (capped at defaultParallelism): the default
    # createDataFrame slicing pads to defaultParallelism partitions, and
    # every EMPTY slice still pays a python-worker round trip — 16 wasted
    # task launches per build at the round-4 bench shape.  A shuffle-free
    # parallelize with explicit numSlices keeps one footer-parse task per
    # unit and nothing else.
    fdf = spark.createDataFrame(
        spark.sparkContext.parallelize(units, min(len(units), par)),
        "file string, chunk int, n_chunks int",
    )

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(_COMBINED_SCHEMA)

    def extract_all(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            rows: list[dict] = []
            for unit in batch.to_pylist():
                frow, rgs = _extract_file_rows(
                    unit["file"], unit["chunk"], unit["n_chunks"]
                )
                if frow is not None:
                    frow["kind"] = "file"
                    rows.append(frow)
                for r in rgs:
                    r["kind"] = "rg"
                    rows.append(r)
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return fdf.mapInArrow(extract_all, _COMBINED_SCHEMA)


def build_index(
    spark: SparkSession,
    paths: str | Iterable[str],
    index_dir: str | None = None,
    incremental: bool = False,
    use_cache: bool = True,
    driver_fast_path: bool = True,
    catalog_buckets: int = 0,
) -> MetadataIndex:
    """Build the metadata index for the given parquet files.

    Returns an in-memory (cached DataFrame) index — the analogue of the
    reference's in-memory ``bytearray`` index (palletjack.cc:656-678) —
    or, when ``index_dir`` is given, persists the sidecar dataset first
    (analogue of the `.index` file, cc:360-367) and returns the loaded form.

    ``catalog_buckets > 0`` hash-partitions the persisted sidecar by
    ``file_bucket = hash60(file) % buckets``: a point-file selection over
    a million-file catalog then reads 1/buckets of the sidecar via true
    partition pruning instead of scanning every sidecar file's stats.
    The bucket count persists in ``_pj_meta.json`` so incremental appends
    and loads keep the same layout (the portable md5-based hash60 makes
    the bucket computable driver-side for pruning).

    ``incremental=True`` over an existing sidecar reads its
    ``row_groups/`` and ``files/`` datasets once, at the start, and
    reconciles in ONE executor pass over ``files/`` (:func:`_reconcile`):
    the candidates, broadcast, are joined to the indexed rows, and each
    indexed file is stat'ed, which yields the candidates already indexed
    and the files rewritten in place or deleted anywhere in the sidecar.
    Only new and rewritten files are extracted.  Without churn the delta
    is appended in the sidecar's own layout; with churn the sidecar is
    rewritten without the dropped rows (:func:`_refresh_sidecar`).  The
    frames read at the start give the layout and the schemas of the
    final load, which re-lists the directories and validates the whole
    sidecar: the check that rejects a retried append after a crash
    between the two writes.
    """
    files = expand_paths(paths)
    cache_key = _cache_key(spark, files)
    if use_cache and index_dir is None and cache_key in _INDEX_CACHE:
        return _INDEX_CACHE[cache_key]

    if (
        driver_fast_path
        and index_dir is None
        and len(files) <= DRIVER_BUILD_MAX_FILES
    ):
        file_rows, rg_rows = [], []
        for p in files:
            frow, rgs = _extract_file_rows(p)
            file_rows.append(frow)
            for r in rgs:
                # single-chunk parse: the per-task pre/post stat guard
                # already covers it; keep rg rows on ROW_GROUPS_SCHEMA
                r.pop("file_size", None)
                r.pop("mtime_ns", None)
            rg_rows.extend(rgs)
        # LocalRelations — already driver-resident, so no .cache(): caching
        # would only pay InMemoryRelation codegen for the nested schema
        rg_df = spark.createDataFrame(rg_rows, ROW_GROUPS_SCHEMA)
        files_df = spark.createDataFrame(file_rows, FILES_SCHEMA)
        idx = MetadataIndex(
            spark, rg_df, files_df, index_dir=None,
            local_rows=(rg_rows, file_rows),
        )
        idx.validate()
        if use_cache:
            _cache_put(cache_key, idx)
        return idx
    if (
        incremental
        and index_dir
        and os.path.exists(os.path.join(index_dir, _META_NAME))
    ):
        # an existing sidecar's layout wins for APPENDS, which must match
        # it; a non-incremental overwrite REPLACES the sidecar, so the
        # caller's catalog_buckets is honored — re-bucketing a catalog
        # was previously a silent no-op forever (round-13 review)
        catalog_buckets = _read_meta(index_dir).get(
            "catalog_buckets", catalog_buckets
        )
    sidecar = None  # the existing (row_groups, files) frames, read once
    if incremental and index_dir and os.path.exists(os.path.join(index_dir, "files")):
        sidecar = _read_sidecar(spark, index_dir)
        # loaded-index memo: repeated incremental builds over unchanged
        # candidates + an unchanged sidecar skip re-validation — the
        # reference's read-the-index-once reuse (palletjack.cc:656-678).
        # The sidecar signature (directory mtimes) invalidates on any
        # append/rewrite.
        inc_key = ("inc", index_dir, _sidecar_sig(index_dir)) + cache_key
        # NOTE deliberately NO memo short-circuit here: the memo key covers
        # the sidecar files and the CANDIDATE data files, but a data file
        # elsewhere in the catalog can be rewritten in place without
        # touching either, and a memo hit would skip the reconcile pass
        # and serve stale stats (round-7 review finding, confirmed by
        # repro: build [A,B] → incremental(A) → rewrite B →
        # incremental(A) returned the stale index).  The pass is one
        # bounded executor-side scan; the memo only skips the final load
        # once it comes back clean.
        done, stale, deleted = _reconcile(spark, files, sidecar[1])
        files = sorted({f for f in files if f not in done} | (stale - deleted))
        drop = stale | deleted
        if drop:
            return _refresh_sidecar(
                spark, files, drop, index_dir, catalog_buckets, *sidecar
            )
        if not files:
            if use_cache and inc_key in _INDEX_CACHE:
                return _INDEX_CACHE[inc_key]
            idx = _load(spark, index_dir, like=sidecar)
            if use_cache:
                _cache_put(inc_key, idx)
            return idx

    combined = _extract_combined(spark, files)
    rg_cols = [f.name for f in ROW_GROUPS_SCHEMA.fields]
    f_cols = [f.name for f in FILES_SCHEMA.fields]

    if index_dir:
        from pyspark import StorageLevel

        part_cols: list[str] = []
        if catalog_buckets > 0:
            from palletjack_spark.functions.dedup import hash60

            combined = combined.withColumn(
                "file_bucket",
                F.pmod(hash60("file"), F.lit(catalog_buckets)).cast("int"),
            )
            part_cols = ["file_bucket"]
        if sidecar is not None:
            # appending into an existing sidecar: its nested column-stat
            # layout wins — a pre-round-10 sidecar lacks ``logical_type``,
            # and mixing two struct shapes in one parquet dataset would
            # make reads schema-dependent on which footer Spark samples
            existing = sidecar[0].schema["columns"].dataType.elementType
            combined = _align_columns_struct(combined, list(existing.fields))
            # the files/ dataset needs the same layout discipline as the
            # nested rg struct (round-13 review): appending rows carrying
            # a newer top-level field (e.g. mtime_ns) into an older
            # sidecar would make reads schema-dependent on footer
            # sampling — align the file-row projection to the EXISTING
            # files/ schema (missing fields as typed NULLs, newer fields
            # dropped; consumers treat NULL as "unknown → conservative").
            ex_fields = [
                f for f in sidecar[1].schema.fields if f.name not in part_cols
            ]
            have_f = set(combined.columns)
            f_cols = [
                (
                    F.col(f.name)
                    if f.name in have_f
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in ex_fields
            ]
        combined = combined.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # validate BEFORE committing bytes to the sidecar: the same
            # one-job invariant check the in-memory path runs, including
            # the round-9 cross-chunk identity compare — a file rewritten
            # between footer-chunk parses fails here instead of
            # committing mixed-version row-group stats.
            _validate_combined(combined)
            mode = "append" if incremental else "overwrite"

            def _clustered(df):
                # bucketed sidecar: cluster rows by file_bucket before the
                # partitioned write, so each bucket directory receives ONE
                # file per build instead of one per (task × bucket) — the
                # unclustered write fanned 32 extract tasks × 16 buckets
                # into ~512 tiny files per dataset, paying parquet-writer
                # setup per file on write and per-file open on every load
                # (guide §6 small-files).  The exchange moves only the
                # already-validated metadata rows and caps write tasks at
                # the bucket count, which the caller sizes to the catalog.
                return df.repartition(*part_cols) if part_cols else df

            # row_groups/ first: a crash between the two writes then leaves
            # orphaned row-group rows, which validate() rejects loudly
            # (files/-first would leave a files entry whose row groups are
            # missing — also rejected, but rg-first keeps the window where
            # a *complete-looking* index exists at zero).
            _clustered(
                combined.where(F.col("kind") == "rg").select(rg_cols + part_cols)
            ).write.mode(mode).partitionBy(*part_cols).parquet(
                os.path.join(index_dir, "row_groups")
            )
            _clustered(
                combined.where(F.col("kind") == "file").select(f_cols + part_cols)
            ).write.mode(mode).partitionBy(*part_cols).parquet(
                os.path.join(index_dir, "files")
            )
        finally:
            combined.unpersist()
        _write_meta(index_dir, {"catalog_buckets": catalog_buckets})
        return _load(spark, index_dir, like=sidecar)

    combined = combined.cache()
    # ONE action (4 jobs under adaptive execution) forces the cache and
    # validates: the tagged union lets a single groupBy("file") compare
    # indexed row-group counts/rows against the declared header counts
    # without the load_index-shape groupBy+join (two more shuffles here).
    # The splits stay as filters OVER the cached union (one
    # InMemoryRelation, not three); the cache is released via the index.
    _validate_combined(combined)
    rg_df = combined.where(F.col("kind") == "rg").select(rg_cols)
    files_df = combined.where(F.col("kind") == "file").select(f_cols)
    idx = MetadataIndex(spark, rg_df, files_df, index_dir=None)
    idx._combined = combined  # unpersist() releases the backing cache
    if use_cache:
        _cache_put(cache_key, idx)
    return idx


def _align_columns_struct(df, target_fields):
    """Rebuild the nested ``columns`` array so its struct holds exactly
    ``target_fields`` (missing ones as typed NULLs) — sidecar layout
    compatibility: appending rows carrying the round-10 ``logical_type``
    field into a pre-round-10 sidecar (or unioning old sidecar rows with
    fresh extracts) must not mix two nested schemas in one parquet
    dataset.  Fields absent from the source struct come out NULL, which
    every consumer already treats as "unknown → conservative".

    ``target_fields`` is a list of ``StructField`` — NULL fill types come
    from the TARGET layout, so a sidecar written by a newer build whose
    column-stat field this version doesn't know still aligns (with that
    field's own type) instead of raising KeyError (round-10 ADVICE)."""
    elem = df.schema["columns"].dataType.elementType
    have = set(elem.fieldNames())
    names = [f.name for f in target_fields]
    if list(elem.fieldNames()) == names:
        return df
    types = {f.name: f.dataType for f in target_fields}

    def rebuild(c):
        return F.struct(
            *[
                (c[name] if name in have else F.lit(None).cast(types[name])).alias(
                    name
                )
                for name in names
            ]
        )

    return df.withColumn("columns", F.transform("columns", rebuild))


#: sidecar layout metadata (currently just the catalog bucket count)
_META_NAME = "_pj_meta.json"


def _read_meta(index_dir: str) -> dict:
    import json

    try:
        with open(os.path.join(index_dir, _META_NAME)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _write_meta(index_dir: str, meta: dict) -> None:
    import json

    path = os.path.join(index_dir, _META_NAME)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)


def _sidecar_sig(index_dir: str) -> tuple:
    """Change signature of a persisted sidecar: the mtimes of its two
    dataset directories (bumped by any write into them)."""
    sig = []
    for sub in ("files", "row_groups"):
        try:
            sig.append(os.stat(os.path.join(index_dir, sub)).st_mtime_ns)
        except OSError:
            sig.append(-1)
    return tuple(sig)


def _refresh_sidecar(
    spark: SparkSession,
    extract_files: list[str],
    drop: set[str],
    index_dir: str,
    catalog_buckets: int,
    old_rg,
    old_f,
) -> MetadataIndex:
    """Rewrite a persisted sidecar after churn: purge ``drop`` paths
    (rewritten or deleted files), re-extract ``extract_files`` (new +
    rewritten), keep every other row of ``old_rg``/``old_f`` (the live
    ``row_groups/`` and ``files/`` frames) untouched.

    Parquet can't delete rows in place, so survivors + fresh rows are
    written to staging directories and swapped in via two renames per
    dataset (write-then-rename, the classic commit-protocol shape; a
    crash between renames leaves a missing-directory state that
    ``load_index`` rejects loudly rather than a silently stale index).
    The drop list is broadcast — bounded by the actual churn — and the
    surviving rows stream through executor-side, never the driver.
    """
    import shutil

    rg_path = os.path.join(index_dir, "row_groups")
    f_path = os.path.join(index_dir, "files")
    drop_df = F.broadcast(
        spark.createDataFrame([(p,) for p in sorted(drop)], "file string")
    )
    # the refresh rewrites the whole sidecar, so old rows UPGRADE to the
    # current column-stat layout (absent fields — e.g. pre-round-10
    # logical_type — become NULLs, which consumers treat conservatively)
    old_rg = _align_columns_struct(
        old_rg, list(_COLUMN_STAT.fields)
    ).join(drop_df, "file", "left_anti")
    old_f = old_f.join(drop_df, "file", "left_anti")
    if "mtime_ns" not in old_f.columns:  # pre-mtime sidecar layout
        old_f = old_f.withColumn("mtime_ns", F.lit(None).cast("long"))

    rg_cols = [f.name for f in ROW_GROUPS_SCHEMA.fields]
    f_cols = [f.name for f in FILES_SCHEMA.fields]
    rg_df = old_rg.select(rg_cols)
    files_df = old_f.select(f_cols)
    fresh = None
    if extract_files:
        from pyspark import StorageLevel

        # persist: the frame feeds two writes (it used to re-parse every
        # footer twice), and the pre-commit validation below adds a third
        # consumer — one extraction pays for all three
        fresh = _extract_combined(spark, extract_files).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        _validate_combined(fresh)  # incl. round-9 cross-chunk identity
        rg_df = rg_df.unionByName(
            fresh.where(F.col("kind") == "rg").select(rg_cols)
        )
        files_df = files_df.unionByName(
            fresh.where(F.col("kind") == "file").select(f_cols)
        )

    part_cols: list[str] = []
    if catalog_buckets > 0:
        from palletjack_spark.functions.dedup import hash60

        def bucketed(df):
            return df.withColumn(
                "file_bucket",
                F.pmod(hash60("file"), F.lit(catalog_buckets)).cast("int"),
            )

        rg_df, files_df = bucketed(rg_df), bucketed(files_df)
        part_cols = ["file_bucket"]

    for df, live in ((rg_df, rg_path), (files_df, f_path)):
        if part_cols:
            # cluster by bucket before the partitioned write — one file
            # per bucket directory instead of one per (task × bucket);
            # same rationale as the build_index write (guide §6)
            df = df.repartition(*part_cols)
        df.write.mode("overwrite").partitionBy(*part_cols).parquet(
            live + "__stage"
        )
    for live in (rg_path, f_path):
        gc = live + "__gc"
        shutil.rmtree(gc, ignore_errors=True)
        os.rename(live, gc)
        os.rename(live + "__stage", live)
        shutil.rmtree(gc, ignore_errors=True)
    if fresh is not None:
        fresh.unpersist()
    _write_meta(index_dir, {"catalog_buckets": catalog_buckets})
    return _load(spark, index_dir, like=(rg_df, files_df))


def _reconcile(
    spark: SparkSession, candidates: list[str], files_df
) -> tuple[set[str], set[str], set[str]]:
    """Reconcile a persisted sidecar's ``files/`` rows (``files_df``)
    against the candidates and the filesystem in one executor pass.
    Returns ``(indexed, stale, deleted)``: the candidates that already
    have a ``files/`` row, indexed paths whose current stat no longer
    matches the recorded (size, mtime_ns), and indexed paths that no
    longer exist.  Stale and deleted paths are found across the WHOLE
    sidecar, not just the candidate roots: the repo's own lake ops (q09b
    compaction, q09c upsert, q09d dynamic overwrite) rewrite files in
    place under unchanged roots, and a path-only probe would silently
    serve the stale stats (round-6 verdict "What's missing" 1).

    Scale shape: ``files/`` is NEVER materialized on the driver (at a
    100 TB catalog it holds millions of rows — the round-3 verdict's
    driver-memory bottleneck).  The candidate list, which the driver
    already holds from listing the ingest paths, is broadcast into a
    left join; each ``files/`` row is stat'ed executor-side (one
    metadata op per indexed file, no footer reads), and only candidate
    or churned rows come back — at most one per candidate plus one per
    churned file.  Sidecars written before mtime_ns existed compare by
    size alone.
    """
    cols = ["file", "file_size"]
    if "mtime_ns" in files_df.columns:
        cols.append("mtime_ns")
    # from an Arrow table: a LocalRelation, not a parallelized RDD
    cand = spark.createDataFrame(
        pa.table({"file": candidates, "candidate": [True] * len(candidates)})
    )
    out_schema = pa.schema(
        [("file", pa.string()), ("status", pa.string()),
         ("candidate", pa.bool_())]
    )

    def probe(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            out = []
            for row in batch.to_pylist():
                status = None
                try:
                    st = os.stat(row["file"])
                    if st.st_size != row["file_size"] or (
                        row.get("mtime_ns") is not None
                        and st.st_mtime_ns != row["mtime_ns"]
                    ):
                        status = "stale"
                except OSError:
                    status = "deleted"
                if status or row["candidate"]:
                    out.append({"file": row["file"], "status": status,
                                "candidate": bool(row["candidate"])})
            yield pa.RecordBatch.from_pylist(out, schema=out_schema)

    hits = (
        files_df.select(cols)
        .join(F.broadcast(cand), "file", "left")
        .mapInArrow(probe, "file string, status string, candidate boolean")
    )
    indexed, stale, deleted = set(), set(), set()
    for r in hits.collect():
        if r["candidate"]:
            indexed.add(r["file"])
        if r["status"] == "stale":
            stale.add(r["file"])
        elif r["status"] == "deleted":
            deleted.add(r["file"])
    return indexed, stale, deleted


def _validate_combined(combined) -> None:
    """Validate a tagged-union frame in one aggregation: a fresh
    extraction, or ``MetadataIndex.validate``'s union of a sidecar's two
    frames (whose rows carry no observed identity).

    The Spark rendering of the index invariant (header counts match
    indexed counts, exactly one files/ row per file, no orphaned row-group
    rows; worded once in ``sidecar_violation``) plus the cross-chunk
    identity check — expressed over the union so forcing the cache and
    validating share a single aggregation.  Only the offending rows are
    collected.
    """
    is_rg = F.col("kind") == "rg"
    is_file = F.col("kind") == "file"
    # second aggregate (not limit(1).collect(): CollectLimit over an EMPTY
    # result — the valid-index common case — escalates through 1/4/20/...
    # partition scan jobs; a global agg runs 4 jobs over a fresh extraction
    # and 3 over a sidecar union, under adaptive execution) returns a count
    # plus one deterministic example row, bounding driver data even when
    # every file is inconsistent.
    summary = (
        combined.groupBy("file")
        .agg(
            F.count(F.when(is_rg, 1)).alias("indexed_rgs"),
            F.sum(F.when(is_rg, F.col("num_rows"))).alias("indexed_rows"),
            F.count(F.when(is_file, 1)).alias("file_entries"),
            F.min(F.when(is_file, F.col("num_row_groups"))).alias("decl_rgs"),
            F.min(F.when(is_file, F.col("num_rows"))).alias("decl_rows"),
            # every row (file AND rg, from every footer chunk) carries the
            # (size, mtime_ns) its task observed; min != max means two
            # chunks parsed DIFFERENT versions of the file (a rewrite
            # landed between their parses) — the per-chunk pre/post stat
            # guard can't see that, only this cross-chunk compare can
            # (round-9 ADVICE).  Plain min/max keeps the agg a codegen'd
            # HashAggregate (count_distinct would add an expand).
            F.min("file_size").alias("min_fs"),
            F.max("file_size").alias("max_fs"),
            F.min("mtime_ns").alias("min_mt"),
            F.max("mtime_ns").alias("max_mt"),
        )
        .withColumn(
            "identity_torn",
            (F.col("min_fs") != F.col("max_fs"))
            | (F.col("min_mt") != F.col("max_mt")),
        )
        .where(
            F.col("identity_torn")
            | (F.col("file_entries") != F.lit(1))
            | (F.col("indexed_rgs") != F.col("decl_rgs"))
            | (
                F.coalesce(F.col("indexed_rows"), F.lit(0))
                != F.col("decl_rows")
            )
        )
        .agg(
            F.count("*").alias("n_bad"),
            F.min(
                F.struct(
                    "file",
                    "file_entries",
                    "indexed_rgs",
                    "decl_rgs",
                    "indexed_rows",
                    "decl_rows",
                    "identity_torn",
                    "min_fs",
                    "max_fs",
                    "min_mt",
                    "max_mt",
                )
            ).alias("example"),
        )
        .collect()[0]
    )
    if summary["n_bad"]:
        r = summary["example"]
        if r["identity_torn"]:
            raise IndexFormatError(
                f"Index inconsistent for {r['file']}: footer chunks "
                f"observed different file versions (size "
                f"{r['min_fs']}/{r['max_fs']}, mtime_ns "
                f"{r['min_mt']}/{r['max_mt']}) — the file was rewritten "
                "between chunk parses; re-run the index build"
            )
        raise IndexFormatError(sidecar_violation(r))


def load_index(spark: SparkSession, index_dir: str) -> MetadataIndex:
    """Load a persisted index sidecar (reference: read + magic check,
    palletjack.cc:618-654 → directory layout check here) and validate it
    whole."""
    return _load(spark, index_dir)


def _read_sidecar(spark: SparkSession, index_dir: str, like=None) -> tuple:
    """The sidecar's ``(row_groups, files)`` frames.  ``like`` — frames
    of the same layout — supplies their schemas: the directories are
    listed afresh, but Spark infers no schema."""
    paths = [os.path.join(index_dir, sub) for sub in ("row_groups", "files")]
    if not all(map(os.path.exists, paths)):
        raise IndexFormatError(
            f"{index_dir} is not a palletjack_spark metadata index "
            "(missing row_groups/ or files/)"
        )
    return tuple(
        (spark.read if df is None else spark.read.schema(df.schema)).parquet(p)
        for p, df in zip(paths, like or (None, None))
    )


def _load(spark: SparkSession, index_dir: str, like=None) -> MetadataIndex:
    """:func:`load_index`, with ``like`` as in :func:`_read_sidecar`."""
    idx = MetadataIndex(
        spark,
        *_read_sidecar(spark, index_dir, like),
        index_dir=index_dir,
        catalog_buckets=int(_read_meta(index_dir).get("catalog_buckets", 0)),
    )
    idx.validate()
    return idx
