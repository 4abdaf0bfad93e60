"""pyarrow-backed Parquet scan with exact row-group / column selection.

This is the Spark-native analogue of the reference's documented read path:
``read_metadata(index, row_groups=[...], column_names=[...])`` followed by
``pq.ParquetReader().open(path, metadata=pruned); read_row_groups(...)``
(reference python/README.md:70-74, python/test/test_palletjack.py:84-88).

Spark's built-in Parquet source prunes row groups only *by predicate*
(footer min/max stats); it cannot select row groups *by ordinal*, and it
rejects TIMESTAMP(NANOS) columns outright.  This source covers both gaps:

- one Spark task per (file, row-group span): selection is computed from the
  metadata index (or a single driver-side footer read for ad-hoc paths) and
  shipped to executors as plain task rows — executors never re-parse footers
  they don't own;
- ``mapInArrow`` streams pyarrow record batches straight into Tungsten with
  zero pandas materialization;
- a driver-local index selection of at most Spark's
  ``spark.sql.execution.arrow.localRelationThreshold`` bytes (48 MB by
  default) skips both: ``scan_tasks`` reads it eagerly on the driver
  (read errors raise in the call, not at the action) into a
  LocalRelation, with no Spark job and no Python worker, applying a
  residual filter with an exact Arrow form before the rows reach the JVM;
- schema fidelity: timestamp[ns] is cast to Spark-representable
  timestamp[us] (documented truncation, like Spark itself would do if it
  accepted nanos), large_string/large_binary are narrowed, float16 upcast.

Scale notes (100 TB): the task list is O(selected row groups), built from
the index DataFrame — never from driver-side footer parsing of every file.
Each task reads only its own byte ranges (pyarrow reads the footer of its
one file once, then exactly the selected column chunks).  Parallelism is
row-group-granular, the same granularity Spark's native source uses for
splits.
"""

from __future__ import annotations

import glob as _glob
import os
from typing import Iterable, Iterator, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from palletjack_spark.errors import (
    EncryptedParquetError,
    InvalidSelectionError,
    ScanCastError,
)

# ---------------------------------------------------------------------------
# schema conversion
# ---------------------------------------------------------------------------

_PRIMITIVE = {
    pa.bool_(): T.BooleanType(),
    pa.int8(): T.ByteType(),
    pa.int16(): T.ShortType(),
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    pa.uint8(): T.ShortType(),
    pa.uint16(): T.IntegerType(),
    pa.uint32(): T.LongType(),
    pa.float16(): T.FloatType(),
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.string(): T.StringType(),
    pa.large_string(): T.StringType(),
    pa.binary(): T.BinaryType(),
    pa.large_binary(): T.BinaryType(),
    pa.date32(): T.DateType(),
    pa.date64(): T.DateType(),
    pa.null(): T.NullType(),
}


def _normalize_arrow_type(t: pa.DataType) -> pa.DataType:
    """Map an arrow type to the nearest Spark-representable arrow type."""
    if pa.types.is_timestamp(t):
        # Spark timestamps are microsecond precision; nanos truncate
        # (reference events fixture is timestamp[ns] — FIXTURES.md).
        return pa.timestamp("us", tz=t.tz)
    if t == pa.large_string():
        return pa.string()
    if t == pa.large_binary():
        return pa.binary()
    if t == pa.float16():
        return pa.float32()
    # unsigned widenings must MATCH _PRIMITIVE's declared Spark types —
    # an unwidened uint16 batch against a declared IntegerType fails at
    # the JVM boundary (round-13 review; only uint64 was handled)
    if pa.types.is_uint8(t):
        return pa.int16()
    if pa.types.is_uint16(t):
        return pa.int32()
    if pa.types.is_uint32(t):
        return pa.int64()
    if pa.types.is_uint64(t):
        # lossy past 2**63 — the cast site uses safe semantics for
        # unsigned columns so overflow errors loudly instead of wrapping
        return pa.int64()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return pa.list_(_normalize_arrow_type(t.value_type))
    if pa.types.is_fixed_size_list(t):
        return pa.list_(_normalize_arrow_type(t.value_type))
    if pa.types.is_struct(t):
        return pa.struct(
            [pa.field(f.name, _normalize_arrow_type(f.type), f.nullable) for f in t]
        )
    if pa.types.is_map(t):
        return pa.map_(_normalize_arrow_type(t.key_type), _normalize_arrow_type(t.item_type))
    if pa.types.is_dictionary(t):
        return _normalize_arrow_type(t.value_type)
    return t


def _arrow_type_to_spark(t: pa.DataType) -> T.DataType:
    t = _normalize_arrow_type(t)
    if pa.types.is_timestamp(t):
        return T.TimestampType() if t.tz else T.TimestampNTZType()
    if pa.types.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_list(t):
        return T.ArrayType(_arrow_type_to_spark(t.value_type))
    if pa.types.is_struct(t):
        return T.StructType(
            [T.StructField(f.name, _arrow_type_to_spark(f.type), f.nullable) for f in t]
        )
    if pa.types.is_map(t):
        return T.MapType(_arrow_type_to_spark(t.key_type), _arrow_type_to_spark(t.item_type))
    try:
        return _PRIMITIVE[t]
    except KeyError:
        raise InvalidSelectionError(f"Unsupported arrow type for Spark scan: {t}")


def arrow_to_spark_schema(schema: pa.Schema) -> T.StructType:
    """Convert a pyarrow schema to a Spark StructType (normalized)."""
    return T.StructType(
        [T.StructField(f.name, _arrow_type_to_spark(f.type), True) for f in schema]
    )


def normalize_arrow_schema(schema: pa.Schema) -> pa.Schema:
    return pa.schema([pa.field(f.name, _normalize_arrow_type(f.type), True) for f in schema])


# ---------------------------------------------------------------------------
# selection validation (reference palletjack.cc:377-457 semantics)
# ---------------------------------------------------------------------------


def resolve_columns(
    all_names: Sequence[str],
    columns: Sequence[str] | None,
    column_indices: Sequence[int] | None,
) -> list[str] | None:
    """Resolve a column selection to names, enforcing reference semantics:
    names and indices are mutually exclusive (palletjack.cc:397-401), indices
    must be in range (cc:403-411), names must exist (cc:449-453).  Order of
    the request is preserved, as in the reference (cc:459-490)."""
    if columns is not None and column_indices is not None:
        raise InvalidSelectionError(
            "Cannot specify both columns and column_indices"
        )
    # reference semantics: an empty selection means "no filtering"
    # (palletjack_cython.pyx defaults are empty vectors; filtering only
    # engages when the vector is non-empty — palletjack.cc:492)
    if columns is not None and len(columns) == 0:
        columns = None
    if column_indices is not None and len(column_indices) == 0:
        column_indices = None
    if column_indices is not None:
        out = []
        for i in column_indices:
            if not (0 <= int(i) < len(all_names)):
                raise InvalidSelectionError(
                    f"Column index {i} is out of range [0, {len(all_names)})"
                )
            out.append(all_names[int(i)])
        return out
    if columns is not None:
        known = set(all_names)
        for c in columns:
            if c not in known:
                raise InvalidSelectionError(f"Unknown column name '{c}'")
        return list(columns)
    return None


def validate_row_groups(requested: Sequence[int], available: int, path: str) -> list[int]:
    out = []
    for rg in requested:
        if not (0 <= int(rg) < available):
            raise InvalidSelectionError(
                f"Row group {rg} is out of range [0, {available}) for {path}"
            )
        out.append(int(rg))
    return out


# ---------------------------------------------------------------------------
# scan
# ---------------------------------------------------------------------------


def expand_paths(paths: str | Iterable[str]) -> list[str]:
    """Expand a path / directory / glob / list thereof into parquet files.
    Driver-side *listing* only (no footer reads).  Directories are walked
    RECURSIVELY, so hive-partitioned layouts (``key=value`` subdirs — the
    normal shape of a 100 TB dataset) index like flat ones."""
    if isinstance(paths, str):
        paths = [paths]
    out: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            out.extend(
                sorted(
                    _glob.glob(
                        os.path.join(p, "**", "*.parquet"), recursive=True
                    )
                )
            )
        elif os.path.exists(p):
            # an EXISTING literal path wins over glob interpretation:
            # a file literally named part[1].parquet must not resolve
            # via character-class matching to part1.parquet (round-13
            # review)
            out.append(p)
        elif any(ch in p for ch in "*?["):
            out.extend(sorted(_glob.glob(p)))
        else:
            if not os.path.exists(p):
                raise InvalidSelectionError(f"No such parquet file: {p}")
            out.append(p)
    if not out:
        raise InvalidSelectionError(f"No parquet files found for {paths!r}")
    return out


def partition_values(path: str) -> dict[str, str]:
    """Hive partition values encoded in a file's path: ``.../key=value/...``
    segments, URL-decoded like Spark's own partition discovery.  Values
    stay STRINGS (the ``partitionColumnTypeInference.enabled=false``
    semantics) — lossless, and identical on every engine.

    Deliberately scans EVERY directory segment (no dataset-root anchor):
    the indexed route and smart_read's native fallback share this
    all-segments rule, so the two routes always agree on the partition
    spec.  Consequence, documented rather than hidden: a ``key=value``
    segment in a PARENT directory above the dataset root (e.g.
    ``/mnt/run=5/data/...``) surfaces as a constant partition column on
    every route — keep '=' out of ancestor directory names or read
    through a catalog location without one."""
    from urllib.parse import unquote

    out: dict[str, str] = {}
    for seg in path.split(os.sep)[:-1]:
        if "=" in seg and not seg.startswith("="):
            k, _, v = seg.partition("=")
            out[k] = unquote(v)
    return out


def _open_parquet(path: str) -> pq.ParquetFile:
    try:
        return pq.ParquetFile(path)
    except Exception as e:  # arrow raises OSError on encrypted footers
        if "encrypt" in str(e).lower():
            raise EncryptedParquetError(
                f"Encrypted parquet is not supported: {path}"
            ) from e
        raise


# target bytes of (uncompressed) row-group data per Spark task
_TARGET_TASK_BYTES = 128 * 1024 * 1024


def _plan_tasks(
    files: list[str],
    row_groups: Sequence[int] | dict[str, Sequence[int]] | None,
) -> tuple[list[tuple[str, list[int]]], pa.Schema]:
    """Build (path, row_group_span) tasks with a single footer read per file
    on the driver.  For index-driven scans use MetadataIndex.read(), which
    plans from the index table instead (no footer reads at all)."""
    tasks: list[tuple[str, list[int]]] = []
    schema: pa.Schema | None = None
    for path in files:
        f = _open_parquet(path)
        md = f.metadata
        if schema is None:
            schema = f.schema_arrow
        if row_groups is None:
            selected = list(range(md.num_row_groups))
        elif isinstance(row_groups, dict):
            selected = validate_row_groups(
                row_groups.get(path, []), md.num_row_groups, path
            )
        else:
            selected = validate_row_groups(row_groups, md.num_row_groups, path)
        tasks += row_group_spans(
            (path, rg, md.row_group(rg).total_byte_size) for rg in selected
        )
    assert schema is not None
    return tasks, schema


def row_group_spans(
    selection: Iterable[tuple[str, int, int | None]],
) -> list[tuple[str, list[int]]]:
    """Split ``(file, row_group, bytes)`` triples, in scan order, into
    ``(file, [row_group, ...])`` spans of about ``_TARGET_TASK_BYTES``
    each.  A span never crosses a file; an unknown size counts as 0."""
    tasks: list[tuple[str, list[int]]] = []
    cur_file: str | None = None
    span: list[int] = []
    span_bytes = 0
    for f, rg, nbytes in selection:
        if f != cur_file and span:
            tasks.append((cur_file, span))
            span, span_bytes = [], 0
        cur_file = f
        span.append(rg)
        span_bytes += nbytes or 0
        if span_bytes >= _TARGET_TASK_BYTES:
            tasks.append((cur_file, span))
            span, span_bytes = [], 0
    if span:
        tasks.append((cur_file, span))
    return tasks


def _read_span_batches(
    path: str,
    span: list[int],
    cols: list[str] | None,
    target: pa.Schema,
    batch_size: int,
    partition_keys: list[str] | None = None,
    ranges_by_rg: dict[int, list[tuple[int, int]]] | None = None,
) -> Iterator[pa.RecordBatch]:
    """Executor-side: one file's selected row groups as normalized record
    batches — the shared inner loop of every scan flavor.  With
    ``partition_keys``, each batch gains the file's hive partition values
    as constant string columns (parsed from the path — a pure function,
    so no driver state ships to make it work).

    ``ranges_by_rg`` (q03h's page tier, row granularity): row groups
    with an entry are read whole but SLICED to the surviving
    [start, end) page row-ranges before anything downstream sees them —
    a pure-superset restriction (the residual filter still applies), so
    results are identical with or without it; rows the page index
    proves non-matching just never enter Spark.  Row groups without an
    entry stream through ``iter_batches`` unchanged, in maximal runs."""
    pf = _open_parquet(path)
    pvals = None
    if partition_keys:
        vals = partition_values(path)
        pvals = [vals.get(k) for k in partition_keys]

    def _attach(rb: pa.RecordBatch) -> pa.RecordBatch | None:
        # pyspark's createDataFrame(pa.Table) loses rows after an empty chunk
        if rb.num_rows == 0:
            return None
        if rb.schema != target:
            # per-column cast: unsigned sources cast SAFELY so a uint64
            # past 2**63 errors loudly instead of wrapping negative
            # (round-13 review); everything else keeps safe=False, which
            # the ns->us timestamp truncation requires
            arrays = []
            for i, f in enumerate(target):
                col = rb.column(i)
                if col.type != f.type:
                    try:
                        col = col.cast(
                            f.type,
                            safe=pa.types.is_unsigned_integer(col.type),
                        )
                    except pa.ArrowInvalid as e:
                        raise ScanCastError(
                            f"cannot cast column '{f.name}' from {col.type}"
                            f" to {f.type} in {path}: {e}"
                        ) from e
                arrays.append(col)
            rb = pa.RecordBatch.from_arrays(arrays, schema=target)
        if pvals is not None:
            arrays = list(rb.columns) + [
                pa.nulls(rb.num_rows, pa.string())
                if v is None
                else pa.array([v] * rb.num_rows, type=pa.string())
                for v in pvals
            ]
            rb = pa.RecordBatch.from_arrays(
                arrays, names=list(rb.schema.names) + list(partition_keys)
            )
        return rb

    ranges_by_rg = ranges_by_rg or {}
    run: list[int] = []
    for rg in span + [None]:  # sentinel flushes the final run
        if rg is not None and rg not in ranges_by_rg:
            run.append(rg)
            continue
        if run:
            for rb in pf.iter_batches(
                batch_size=batch_size, row_groups=run, columns=cols
            ):
                out = _attach(rb)
                if out is not None:
                    yield out
            run = []
        if rg is None:
            continue
        # stream the ranged row group too (round-13 review: read_row_group
        # materialized the WHOLE group before slicing — a multi-GB group
        # with one small surviving range memory-spiked the very task the
        # page tier was cutting).  Track absolute row offsets per batch
        # and intersect with the surviving ranges, zero-copy slices only.
        rngs = ranges_by_rg[rg]
        at = 0
        for rb in pf.iter_batches(
            batch_size=batch_size, row_groups=[rg], columns=cols
        ):
            b_lo, b_hi = at, at + rb.num_rows
            at = b_hi
            for start, end in rngs:
                lo, hi = max(start, b_lo), min(end, b_hi)
                if lo >= hi:
                    continue
                out = _attach(rb.slice(lo - b_lo, hi - lo))
                if out is not None:
                    yield out


def _with_partition_fields(
    spark_schema: T.StructType, partition_keys: list[str] | None
) -> T.StructType:
    if not partition_keys:
        return spark_schema
    return T.StructType(
        list(spark_schema.fields)
        + [T.StructField(k, T.StringType(), True) for k in partition_keys]
    )


def scan_tasks(
    spark: SparkSession,
    tasks: list[tuple[str, list[int]]],
    schema: pa.Schema,
    columns: list[str] | None,
    batch_size: int = 65536,
    partition_keys: list[str] | None = None,
    row_ranges: dict[tuple[str, int], list[tuple[int, int]]] | None = None,
    nbytes: int | None = None,
    predicate: Sequence[tuple] | None = None,
    drop: Sequence[str] = (),
) -> DataFrame:
    """Run (path, row_groups) scan tasks: on the driver into a
    LocalRelation when the selection is small, else via mapInArrow.

    ``row_ranges`` maps (path, row_group) to surviving [start, end) row
    ranges from the page index (q03h tier, row granularity): those row
    groups are sliced to the ranges before rows enter Spark — a pure
    superset restriction, identical results with the residual filter.

    ``predicate`` is the exact residual filter of the scanned rows, and
    ``drop`` the scanned columns it alone needed; both apply to the
    result.

    ``nbytes``: the selection's total row-group bytes, when known.  At
    most Spark's ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MB by default), the spans are read eagerly on the driver inside
    this call (read errors raise here, not at the action) into a
    LocalRelation: no Spark job, no Python worker.  There, a predicate
    ``arrow_residual`` can render filters the Arrow table and ``drop``
    leaves it before ``createDataFrame``, so only answer rows and
    columns cross into the JVM and the plan is a bare LocalRelation;
    any other predicate, and every mapInArrow scan, filters in Spark
    (``apply_predicate``)."""
    file_schema = schema
    if columns is not None:
        file_schema = pa.schema([schema.field(c) for c in columns])
    if partition_keys:
        # a SELECTED data column sharing a partition key's name wins
        # (round-13 review: the blind append produced duplicate-name
        # schemas and AMBIGUOUS_REFERENCE residual filters on layouts
        # whose writer kept the partition column in the data)
        partition_keys = [
            k for k in partition_keys if k not in file_schema.names
        ] or None
    target = normalize_arrow_schema(file_schema)
    spark_schema = _with_partition_fields(
        arrow_to_spark_schema(file_schema), partition_keys
    )
    cols = list(columns) if columns is not None else None

    row_ranges = row_ranges or {}
    if nbytes is not None and nbytes <= spark._jconf.arrowLocalRelationThreshold():
        out_schema = pa.schema(
            list(target) + [pa.field(k, pa.string()) for k in partition_keys or ()]
        )
        batches = [
            rb
            for p, rgs in tasks
            for rb in _read_span_batches(
                p, rgs, cols, target, batch_size, partition_keys,
                {rg: row_ranges[(p, rg)] for rg in rgs if (p, rg) in row_ranges},
            )
        ]
        from palletjack_spark.index.predicate import arrow_residual, normalize

        # partition keys are not in ``target``: they filter in Spark
        expr = arrow_residual(normalize(predicate), target) if predicate else None
        if expr is not None:
            table = pa.Table.from_batches(batches, schema=out_schema)
            table = table.filter(expr).drop_columns(list(drop))
            # Table.filter keeps the chunks it empties; drop them (see _attach)
            batches = [rb for rb in table.to_batches() if rb.num_rows]
            out_schema = table.schema
            spark_schema = T.StructType(
                [f for f in spark_schema.fields if f.name not in drop]
            )
            predicate, drop = None, ()
        if not batches:  # pyspark cannot build a relation from zero chunks
            batches = [pa.RecordBatch.from_pylist([], schema=out_schema)]
        return _residual(
            spark.createDataFrame(
                pa.Table.from_batches(batches, schema=out_schema), spark_schema
            ),
            predicate, drop,
        )
    task_rows = [
        (
            p,
            [int(r) for r in rgs],
            [
                [int(rg), int(s), int(e)]
                for rg in rgs
                for s, e in row_ranges.get((p, int(rg)), ())
            ],
        )
        for p, rgs in tasks
    ]
    n_part = max(1, min(len(task_rows), spark.sparkContext.defaultParallelism * 2))
    tdf = spark.createDataFrame(
        task_rows,
        "pj_path string, pj_row_groups array<int>,"
        " pj_ranges array<array<bigint>>",
    ).repartition(n_part)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            paths = b.column("pj_path").to_pylist()
            spans = b.column("pj_row_groups").to_pylist()
            rangelists = b.column("pj_ranges").to_pylist()
            for path, span, triples in zip(paths, spans, rangelists):
                if not span:
                    continue
                by_rg: dict[int, list[tuple[int, int]]] = {}
                for rg, s, e in triples or ():
                    by_rg.setdefault(int(rg), []).append((int(s), int(e)))
                yield from _read_span_batches(
                    path, span, cols, target, batch_size, partition_keys,
                    by_rg,
                )

    return _residual(tdf.mapInArrow(gen, spark_schema), predicate, drop)


def _residual(
    df: DataFrame, predicate: Sequence[tuple] | None, drop: Sequence[str]
) -> DataFrame:
    """``df`` filtered by ``predicate`` in Spark, less the ``drop``
    columns."""
    if predicate:
        from palletjack_spark.index.predicate import apply_predicate

        df = apply_predicate(df, predicate)
    return df.drop(*drop) if drop else df


def scan_plan(
    spark: SparkSession,
    plan: DataFrame,
    schema: pa.Schema,
    columns: list[str] | None,
    batch_size: int = 65536,
    partition_keys: list[str] | None = None,
    sizing_plan: DataFrame | None = None,
) -> DataFrame:
    """Scan the (file, row_group) selection described by a *plan DataFrame*
    — the pruned metadata index — without ever materializing the row-group
    list on the driver.

    ``scan_tasks`` needs a driver-resident task list, which caps selection
    size at driver memory (round-4 verdict: a weakly-selective predicate
    over a 100 TB catalog selects millions of row groups).  Here the plan
    rows stay executor-side end to end: the only driver data is a single
    two-scalar aggregate row (total bytes + row-group count) used to size
    the scan.  Partitioning is a plain hash on (file, row_group div
    stride) — stride chosen so each group holds ~``_TARGET_TASK_BYTES``
    of data — NOT repartitionByRange, whose boundary sampler would
    execute the plan lineage a second time before the scan; consecutive
    row groups share a group key, so tasks still read contiguous,
    file-local spans (sorted within the partition).

    Requires ``plan`` to carry ``file``, ``row_group``, ``total_byte_size``.
    An optional ``pj_ranges`` column (``array<array<bigint>>`` of
    [start, end) pairs, from ``value_prune_plan``'s page tier) slices
    those row groups to the surviving page row ranges executor-side —
    the same pure-superset restriction as the driver-local path, so a
    catalog-scale read of an envelope-gap layout feeds Spark only the
    rows the page index couldn't disprove (round-12: previously the
    4x pre-residual row cut reached only driver-local plans).
    """
    from pyspark.sql import functions as F

    file_schema = schema
    if columns is not None:
        file_schema = pa.schema([schema.field(c) for c in columns])
    if partition_keys:
        # a SELECTED data column sharing a partition key's name wins
        # (round-13 review: the blind append produced duplicate-name
        # schemas and AMBIGUOUS_REFERENCE residual filters on layouts
        # whose writer kept the partition column in the data)
        partition_keys = [
            k for k in partition_keys if k not in file_schema.names
        ] or None
    target = normalize_arrow_schema(file_schema)
    spark_schema = _with_partition_fields(
        arrow_to_spark_schema(file_schema), partition_keys
    )
    cols = list(columns) if columns is not None else None

    # bounded driver read: ONE row with two scalars, whatever the selection.
    # ``sizing_plan`` (round-13 review): when the plan carries executor-side
    # value probes (dictionary pages / blooms / page indexes), aggregating
    # the probed plan here would execute the whole probe stage ONCE for the
    # two scalars and AGAIN for the scan — callers pass the cheap pre-probe
    # plan instead.  Probing only shrinks the selection, so sizing from the
    # superset is conservative: at worst a few extra (empty) partitions.
    stats = (
        (sizing_plan if sizing_plan is not None else plan).agg(
            F.sum("total_byte_size").alias("pj_bytes"),
            F.count("*").alias("pj_rgs"),
        )
        .toArrow()
        .to_pylist()[0]
    )
    n_rgs = int(stats["pj_rgs"] or 0)
    if n_rgs == 0:
        return spark.createDataFrame([], spark_schema)
    total_bytes = int(stats["pj_bytes"] or 0)
    par = spark.sparkContext.defaultParallelism
    avg_rg = max(1, total_bytes // n_rgs)
    stride = max(1, _TARGET_TASK_BYTES // avg_rg)
    n_groups = max(1, n_rgs // stride)
    n_part = int(max(min(par, n_rgs), min(n_groups, n_rgs)))
    has_ranges = "pj_ranges" in plan.columns
    range_cols = (["pj_ranges"] if has_ranges else [])
    tdf = (
        plan.select(
            "file",
            "row_group",
            F.expr(f"row_group div {int(stride)}").alias("pj_grp"),
            *range_cols,
        )
        .repartition(n_part, "file", "pj_grp")
        .sortWithinPartitions("file", "row_group")
        .drop("pj_grp")
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            files = b.column("file").to_pylist()
            rgs = b.column("row_group").to_pylist()
            rlists = (
                b.column("pj_ranges").to_pylist()
                if has_ranges
                else [None] * len(files)
            )
            by_file: dict[str, list[int]] = {}
            by_file_ranges: dict[str, dict[int, list[tuple[int, int]]]] = {}
            for f, rg, rl in zip(files, rgs, rlists):
                by_file.setdefault(f, []).append(int(rg))
                if rl:
                    by_file_ranges.setdefault(f, {})[int(rg)] = [
                        (int(s), int(e)) for s, e in rl
                    ]
            for path, span in by_file.items():
                yield from _read_span_batches(
                    path, span, cols, target, batch_size, partition_keys,
                    by_file_ranges.get(path),
                )

    return tdf.mapInArrow(gen, spark_schema)


def read_parquet_arrow(
    spark: SparkSession,
    paths: str | Iterable[str],
    columns: Sequence[str] | None = None,
    column_indices: Sequence[int] | None = None,
    row_groups: Sequence[int] | dict[str, Sequence[int]] | None = None,
    batch_size: int = 65536,
) -> DataFrame:
    """Read parquet via pyarrow with exact row-group/column selection.

    ``row_groups`` may be a list (applied to every file) or a dict
    ``{path: [ordinals]}``.  As in the reference, pruned row groups are
    renumbered implicitly — the result simply contains the selected groups'
    rows in file order (test_palletjack.py:87).  Hive-partitioned trees
    re-attach their ``key=value`` values as string columns, matching the
    indexed read path.
    """
    files = expand_paths(paths)
    tasks, schema = _plan_tasks(files, row_groups)
    sel = resolve_columns(schema.names, columns, column_indices)
    part_keys = sorted(partition_values(files[0]))
    return scan_tasks(
        spark, tasks, schema, sel, batch_size=batch_size,
        partition_keys=part_keys,
    )


def read_schema_arrow(
    paths: str | Iterable[str],
    columns: Sequence[str] | None = None,
    column_indices: Sequence[int] | None = None,
) -> T.StructType:
    """Schema-only read (reference ``read_schema``, palletjack_cython.pyx:48-67):
    one footer read, zero row groups decoded, optional column pruning."""
    files = expand_paths(paths)
    try:
        schema = pq.read_schema(files[0])
    except Exception as e:  # arrow raises OSError on encrypted footers
        # same typed surface as the scan path's _open_parquet (round-15
        # sweep: the schema-only read leaked the raw arrow error)
        if "encrypt" in str(e).lower():
            raise EncryptedParquetError(
                f"Encrypted parquet is not supported: {files[0]}"
            ) from e
        raise
    sel = resolve_columns(schema.names, columns, column_indices)
    if sel is not None:
        schema = pa.schema([schema.field(c) for c in sel])
    return arrow_to_spark_schema(schema)
