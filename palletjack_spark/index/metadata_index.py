"""MetadataIndex — queryable Parquet-footer index + pruned reads.

The read side of the reference (``read_metadata`` / ``read_schema``,
palletjack_cython.pyx:27-67, palletjack.cc:369-616): given a selection of
row groups and/or columns, produce exactly those rows/columns without
paying the full-footer cost per read.  Here the "spliced FileMetaData"
becomes a filtered index DataFrame that drives a pyarrow ``mapInArrow``
scan (sources/arrow_scan.py), or, for a small driver-local selection, a
pyarrow read on the driver returned as a LocalRelation.

Beyond by-ordinal selection, the index supports *stats-driven* row-group
pruning (``predicate=``): the same min/max skipping Spark's native source
does, but answered from the cached/persisted index with zero footer I/O —
the point of the reference library (README.md:2-9).
"""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from palletjack_spark.errors import IndexFormatError, InvalidSelectionError
from palletjack_spark.index.predicate import (
    apply_predicate,
    canonical,
    normalize,
    stats_condition,
)
from palletjack_spark.sources.arrow_scan import (
    arrow_to_spark_schema,
    partition_values,
    resolve_columns,
    row_group_spans,
    scan_plan,
    scan_tasks,
)

_COLUMN_STAT = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("physical_type", T.StringType()),
        T.StructField("codec", T.StringType()),
        T.StructField("num_values", T.LongType()),
        T.StructField("total_compressed_size", T.LongType()),
        T.StructField("total_uncompressed_size", T.LongType()),
        T.StructField("data_page_offset", T.LongType()),
        T.StructField("dictionary_page_offset", T.LongType()),
        T.StructField("null_count", T.LongType()),
        T.StructField("distinct_count", T.LongType()),
        T.StructField("min_repr", T.StringType()),
        T.StructField("max_repr", T.StringType()),
        T.StructField("min_num", T.DoubleType()),
        T.StructField("max_num", T.DoubleType()),
        # what min_repr/max_repr encode: 'text' = the string value itself
        # (lexicographically comparable), 'hex' = hex of raw bytes, 'num' =
        # str() of a numeric (use min_num/max_num instead).  NULL on
        # indexes built before this field existed — pruning then stays
        # conservative for strings (keep the group).
        T.StructField("stats_kind", T.StringType()),
        # canonical parquet logical-type tag (builder._logical_tag):
        # value-level probes (dictionary pruning) only run when this is an
        # IDENTITY mapping for the physical type — DECIMAL-as-INT unscaled
        # or unsigned-as-signed raw values must never be compared against
        # predicate literals (round-10 ADVICE, high).  NULL on indexes
        # built before this field existed — those never dictionary-prune.
        T.StructField("logical_type", T.StringType()),
    ]
)

ROW_GROUPS_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("row_group", T.IntegerType()),
        T.StructField("num_rows", T.LongType()),
        T.StructField("total_byte_size", T.LongType()),
        T.StructField("total_compressed_size", T.LongType()),
        T.StructField("columns", T.ArrayType(_COLUMN_STAT)),
    ]
)

FILES_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("num_rows", T.LongType()),
        T.StructField("num_row_groups", T.IntegerType()),
        T.StructField("num_columns", T.IntegerType()),
        T.StructField("created_by", T.StringType()),
        T.StructField("format_version", T.StringType()),
        T.StructField("serialized_footer_size", T.LongType()),
        T.StructField("file_size", T.LongType()),
        # stat at extraction time: lets incremental builds detect a file
        # rewritten in place (same path, same size, new content) without
        # re-reading its footer (round-6 verdict "What's missing" 1)
        T.StructField("mtime_ns", T.LongType()),
        T.StructField("column_names", T.ArrayType(T.StringType())),
        T.StructField("arrow_schema", T.BinaryType()),
    ]
)


def sidecar_violation(r) -> str | None:
    """The index invariant for one file, or None when it holds.  ``r``
    holds the file's tallies: ``file_entries`` (its ``files/`` rows),
    ``indexed_rgs``/``indexed_rows`` (its row-group rows) and
    ``decl_rgs``/``decl_rows`` (the counts its ``files/`` row declares).
    The message names the first rule broken: no ``files/`` row, more than
    one, or counts that differ from the declared ones."""
    head = f"Index inconsistent for {r['file']}: "
    if not r["file_entries"]:
        return head + (
            "row-group rows present but no files/ entry (partial or torn write)"
        )
    if r["file_entries"] != 1:
        return head + (
            f"{r['file_entries']} duplicate files/ entries "
            "(retried incremental append?)"
        )
    rgs, rows = r["indexed_rgs"] or 0, r["indexed_rows"] or 0
    if (rgs, rows) != (r["decl_rgs"], r["decl_rows"]):
        return head + (
            f"{rgs} row groups indexed vs {r['decl_rgs']} declared, "
            f"{rows} rows vs {r['decl_rows']}"
        )
    return None


class LocalIndex:
    """Driver-local materialization of a (small) metadata index — the
    analogue of the reference's in-memory index buffer (palletjack.cc:656-678):
    after one collect, ``read_metadata``-style lookups are O(selected) dict
    accesses with zero I/O and zero footer parsing.

    Only for indexes that fit on the driver (a few thousand row groups);
    the DataFrame form scales to the full 100 TB catalog.
    """

    def __init__(self, rg_rows: list, file_rows: list):
        self.row_groups: dict[tuple[str, int], dict] = {}
        self.files: dict[str, dict] = {}
        for r in file_rows:
            d = r if isinstance(r, dict) else r.asDict(recursive=True)
            self.files[d["file"]] = d
        for r in rg_rows:
            d = r if isinstance(r, dict) else r.asDict(recursive=True)
            d["columns_by_name"] = {c["name"]: c for c in d["columns"]}
            self.row_groups[(d["file"], d["row_group"])] = d

    @classmethod
    def from_files(cls, paths) -> "LocalIndex":
        """Build directly on the driver with pyarrow — the true analogue of
        the reference's single-process ``generate_metadata_index``
        (palletjack.cc:207: footer parse + index build in the calling
        process, no cluster).  For small/ad-hoc file sets; the distributed
        ``build_index`` path is the 100 TB route."""
        from palletjack_spark.index.builder import _extract_file_rows
        from palletjack_spark.sources.arrow_scan import expand_paths

        file_rows, rg_rows = [], []
        for p in expand_paths(paths):
            frow, rgs = _extract_file_rows(p)
            file_rows.append(frow)
            rg_rows.extend(rgs)
        return cls(rg_rows, file_rows)

    def read_metadata(
        self,
        file: str,
        row_groups: Sequence[int] | None = None,
        columns: Sequence[str] | None = None,
        column_indices: Sequence[int] | None = None,
    ) -> dict:
        """Pruned metadata view: O(selected row groups × columns), the
        operation the reference makes O(1)-addressable (palletjack.cc:369-616).
        Returns {num_rows, row_groups: [{row_group, num_rows, columns}]} with
        num_rows = Σ selected (reference cc:495-507 semantics)."""
        f = self.files[file]
        names = f["column_names"]
        sel = resolve_columns(names, columns, column_indices)
        if row_groups is None:
            row_groups = range(f["num_row_groups"])
        out_rgs = []
        for i in row_groups:
            key = (file, int(i))
            if key not in self.row_groups:
                raise InvalidSelectionError(
                    f"Row group {i} is out of range [0, {f['num_row_groups']}) for {file}"
                )
            rg = self.row_groups[key]
            cols = (
                rg["columns"]
                if sel is None
                else [rg["columns_by_name"][c] for c in sel]
            )
            out_rgs.append(
                {"row_group": rg["row_group"], "num_rows": rg["num_rows"], "columns": cols}
            )
        return {
            "file": file,
            "num_rows": sum(r["num_rows"] for r in out_rgs),
            "num_columns": len(sel) if sel is not None else f["num_columns"],
            "row_groups": out_rgs,
        }


class MetadataIndex:
    """Handle over the (row_groups, files) index DataFrames."""

    def __init__(
        self,
        spark: SparkSession,
        row_groups: DataFrame,
        files: DataFrame,
        index_dir: str | None,
        local_rows: tuple[list, list] | None = None,
        catalog_buckets: int = 0,
    ):
        self.spark = spark
        self.row_groups = row_groups
        self.files = files
        self.index_dir = index_dir
        #: sidecar partition count: >0 means row_groups/ and files/ are
        #: partitioned by ``file_bucket = hash60(file) % buckets`` and a
        #: file selection prunes to its buckets' partitions
        self.catalog_buckets = catalog_buckets
        self._files_cache: list | None = None
        self._schemas_cache: dict = {}
        self._part_keys: list[str] | None = None
        #: driver-resident (rg_rows, file_rows) dicts for small indexes —
        #: validation, schema reads and read-planning then run in plain
        #: Python with zero Spark jobs (the reference's single-process
        #: execution shape).  None for distributed/persisted catalogs.
        self._local = local_rows

    # -- validation (reference palletjack.cc:239-310) -----------------------

    def validate(self) -> None:
        """Cross-check row-group cardinalities against file headers —
        the analogue of the reference's offset-array count validation.

        A driver-local index tallies its rows in plain Python (no Spark
        job); any other index checks the tagged union of its two frames
        through ``builder._validate_combined``.  Both report the first
        offending file by name through :func:`sidecar_violation`."""
        if self._local is None:
            from palletjack_spark.index.builder import _validate_combined

            null = F.lit(None)
            identity = [  # sidecar rows carry no observed file identity
                null.cast("long").alias("file_size"),
                null.cast("long").alias("mtime_ns"),
            ]
            _validate_combined(
                self.row_groups.select(
                    F.lit("rg").alias("kind"), "file", "num_rows",
                    null.cast("int").alias("num_row_groups"), *identity,
                ).unionByName(
                    self.files.select(
                        F.lit("file").alias("kind"), "file", "num_rows",
                        "num_row_groups", *identity,
                    )
                )
            )
            return
        rg_rows, file_rows = self._local
        counts: dict[str, list] = {}  # file -> [row groups, rows]
        for r in rg_rows:
            acc = counts.setdefault(r["file"], [0, 0])
            acc[0] += 1
            acc[1] += r["num_rows"]
        declared: dict[str, list] = {}  # file -> [entries, row groups, rows]
        for fr in file_rows:
            declared.setdefault(
                fr["file"], [0, fr["num_row_groups"], fr["num_rows"]]
            )[0] += 1
        for f in sorted(counts.keys() | declared.keys()):
            rgs, rows = counts.get(f, (0, 0))
            n, d_rgs, d_rows = declared.get(f, (0, None, None))
            msg = sidecar_violation({
                "file": f, "file_entries": n, "indexed_rgs": rgs,
                "indexed_rows": rows, "decl_rgs": d_rgs, "decl_rows": d_rows,
            })
            if msg:
                raise IndexFormatError(msg)

    def unpersist(self) -> None:
        """Release the cached index DataFrames (no-op for persisted indexes)."""
        backing = getattr(self, "_combined", None)
        frames = (self.row_groups, self.files) + (
            (backing,) if backing is not None else ()
        )
        for df in frames:
            try:
                df.unpersist()
            except Exception:
                pass

    def local(self) -> "LocalIndex":
        """Collect into a LocalIndex for O(1) driver-side metadata reads.

        Uses the Arrow collection path (``toArrow``) — nested column-stat
        structs come back as plain dicts in one C++ pass instead of 10⁵
        row-by-row ``Row.asDict`` conversions."""
        if self._local is not None:
            return LocalIndex(self._local[0], self._local[1])
        return LocalIndex(
            self.row_groups.toArrow().to_pylist(),
            self.files.toArrow().to_pylist(),
        )

    # -- schema (reference read_schema, pyx:48-67) ---------------------------

    def _file_rows(self) -> list:
        """All files/ rows on the driver — O(files).  Only for the
        driver-local form and small-catalog callers (smart-read routing);
        the distributed read path resolves schemas and validates bounds
        executor-side instead (:meth:`_distinct_schemas`, :meth:`read`)."""
        if self._files_cache is None:
            if self._local is not None:
                self._files_cache = sorted(
                    self._local[1], key=lambda r: r["file"]
                )
            else:
                self._files_cache = self.files.orderBy("file").collect()
        return self._files_cache

    def _distinct_schemas(self, files: Sequence[str] | None) -> list[bytes]:
        """Distinct serialized schemas over the (possibly file-restricted)
        index — computed executor-side, so the driver reads O(distinct
        schemas) rows (≈1), never O(files).  Memoized per selection."""
        key = None if files is None else tuple(sorted(set(files)))
        hit = self._schemas_cache.get(key)
        if hit is not None:
            return hit
        # bound the memo: keys are O(selection) path tuples, and a
        # long-lived index serving many distinct file subsets must not
        # re-grow the very driver ceiling this cache replaced
        if len(self._schemas_cache) >= 32:
            self._schemas_cache.pop(next(iter(self._schemas_cache)))
        if self._local is not None:
            rows = self._local[1]
            if files is not None:
                want = set(files)
                rows = [r for r in rows if r["file"] in want]
            out = sorted({bytes(r["arrow_schema"]) for r in rows})
        else:
            df = self.files
            if files is not None:
                df = self._file_filter(df, files)
            out = sorted(
                bytes(r["arrow_schema"])
                for r in df.select("arrow_schema")
                .distinct()
                .toArrow()
                .to_pylist()
            )
        self._schemas_cache[key] = out
        return out

    def arrow_schema(self, files: Sequence[str] | None = None) -> pa.Schema:
        """Schema of the indexed files (restricted to ``files`` if given).

        An index may span tables with different schemas (e.g. one catalog
        index over lineitem+orders); schema-dependent operations must then
        name the files they target — silently using the first file's schema
        would misread the rest."""
        schemas = self._distinct_schemas(files)
        if not schemas:
            if files is not None:
                raise InvalidSelectionError(
                    "None of the selected files are in the index: "
                    f"{sorted(files)[:3]}"
                )
            raise IndexFormatError("Empty index")
        if len(schemas) > 1:
            raise InvalidSelectionError(
                f"Index spans {len(schemas)} distinct schemas; pass files=[...] "
                "to select a single-schema subset"
            )
        return pa.ipc.read_schema(pa.BufferReader(schemas[0]))

    def read_schema(
        self,
        columns: Sequence[str] | None = None,
        column_indices: Sequence[int] | None = None,
        files: Sequence[str] | None = None,
    ) -> T.StructType:
        """Schema from the index only — no data-file footer is touched
        (reference schema-only fast path, palletjack.cc:492-520)."""
        schema = self.arrow_schema(files)
        sel = resolve_columns(schema.names, columns, column_indices)
        if sel is not None:
            schema = pa.schema([schema.field(c) for c in sel])
        return arrow_to_spark_schema(schema)

    # -- metadata-only aggregates (reference cc:495-507 / SURVEY §4 O4) ------

    def count_rows(self, predicate: Sequence[tuple] | None = None) -> DataFrame:
        """num_rows per file from the index alone (no data I/O).  With a
        predicate this is an upper bound (whole-row-group granularity)."""
        rgs = self.row_groups
        if predicate:
            rgs = rgs.where(self._prune_condition(predicate))
        return rgs.groupBy("file").agg(
            F.sum("num_rows").alias("num_rows"),
            F.count("*").alias("num_row_groups"),
        )

    # -- pruning -------------------------------------------------------------

    def _file_filter(self, df: DataFrame, files: Sequence[str]) -> DataFrame:
        """Restrict an index DataFrame to a file selection.  On a bucketed
        sidecar the selection's buckets are computed driver-side (portable
        md5 hash60, matching the write-side column exactly) and applied
        FIRST, so the scan partition-prunes to len(buckets)/catalog_buckets
        of the sidecar before the per-file stats filter runs."""
        if self.catalog_buckets and "file_bucket" in df.columns:
            import hashlib

            bks = sorted(
                {
                    int(hashlib.md5(f.encode()).hexdigest()[:15], 16)
                    % self.catalog_buckets
                    for f in files
                }
            )
            df = df.where(F.col("file_bucket").isin(bks))
        return df.where(F.col("file").isin(list(files)))

    def partition_keys(self) -> list[str]:
        """Hive partition keys of the indexed layout, parsed from one file
        path (standard hive layouts carry the same keys on every file —
        documented assumption).  One-row driver read, memoized."""
        if self._part_keys is None:
            if self._local is not None:
                path = self._local[1][0]["file"] if self._local[1] else ""
            else:
                row = (
                    self.files.agg(F.min("file").alias("f"))
                    .toArrow()
                    .to_pylist()[0]
                )
                path = row["f"] or ""
            self._part_keys = sorted(partition_values(path))
        return self._part_keys

    def _partition_plan_filter(
        self,
        plan: DataFrame,
        preds: Sequence[tuple],
        data_columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """File-level partition pruning: for SAFE equality predicates on a
        partition key (value made only of chars hive never escapes, so the
        path segment DECODES to the logical value), drop plan rows whose
        segment value differs — those files are never opened.  Every other
        op/value is left to the residual filter on the attached column,
        which is exact; this filter is a pure optimization that must agree
        with it.  To agree it must share ``partition_values``' semantics
        (round-13 review): compare the LAST ``key=`` segment (duplicate
        keys in a path: later wins) URL-DECODED (a writer that
        percent-escapes unreserved chars — ``k=a%2Db`` for ``a-b`` —
        previously failed the raw compare and silently lost the file in
        the distributed path only).  Keys that collide with a DATA column
        name are skipped entirely: the attached column is then the data
        column, and path-segment pruning could disagree with it."""
        import re

        from palletjack_spark.index.tiers import partition_gates

        gates = partition_gates(
            canonical(preds), self.partition_keys(), data_columns or ()
        )
        for col_name, _op, v, *_ in gates:
            if not re.fullmatch(r"[A-Za-z0-9._\- ]+", col_name):
                continue  # exotic key name: leave it to the residual
            n = len(col_name)
            segs = (
                f"filter(slice(split(file, '/'), 1,"
                f" size(split(file, '/')) - 1),"
                f" s -> substring(s, 1, {n + 1}) = '{col_name}=')"
            )
            raw = f"substring(try_element_at({segs}, -1), {n + 2})"
            decoded = F.expr(
                f"coalesce(try_url_decode({raw}), {raw})"
            )
            plan = plan.where(decoded == F.lit(v))
        return plan

    def _has_stats_kind(self) -> bool:
        """Whether the index carries the ``stats_kind`` tag (indexes built
        before round 5 don't — string pruning then stays conservative)."""
        try:
            elem = self.row_groups.schema["columns"].dataType.elementType
            return "stats_kind" in elem.fieldNames()
        except Exception:
            return False

    def _prune_condition(self, predicate: Sequence[tuple]) -> Column:
        """The stats rule (:mod:`palletjack_spark.index.predicate`) as a
        keep condition over ``row_groups``."""
        return stats_condition(normalize(predicate), self._has_stats_kind())

    def _check_row_group_bounds(
        self, files: Sequence[str] | None, row_groups: Sequence[int]
    ) -> None:
        """Reference bounds check (palletjack.cc:383-393): every requested
        ordinal must exist in every targeted file.  Driver-local indexes
        check a dict; distributed catalogs check EXECUTOR-side — one job
        returning at most one offending row, so the driver never holds the
        O(files) (file → num_row_groups) map."""
        if len(row_groups) == 0:
            # explicit empty selection: nothing to bounds-check (prune's
            # isin([]) yields the empty result, as before)
            return
        lo = min(int(r) for r in row_groups)
        hi = max(int(r) for r in row_groups)
        if lo < 0:
            raise InvalidSelectionError(f"Row group {lo} is out of range")
        if self._local is not None:
            max_rg = {
                r["file"]: r["num_row_groups"] for r in self._local[1]
            }
            check_files = files if files is not None else list(max_rg)
            for f in check_files:
                for rg in row_groups:
                    if not (0 <= int(rg) < max_rg.get(f, 0)):
                        raise InvalidSelectionError(
                            f"Row group {rg} is out of range "
                            f"[0, {max_rg.get(f, 0)}) for {f}"
                        )
            return
        df = self.files
        if files is not None:
            df = self._file_filter(df, files)
        bad = (
            df.where(F.col("num_row_groups") <= F.lit(hi))
            .select("file", "num_row_groups")
            .limit(1)
            .toArrow()
            .to_pylist()
        )
        if bad:
            raise InvalidSelectionError(
                f"Row group {hi} is out of range "
                f"[0, {bad[0]['num_row_groups']}) for {bad[0]['file']}"
            )
        if files is not None:
            known = {
                r["file"]
                for r in df.select("file").toArrow().to_pylist()
            }
            missing = [f for f in files if f not in known]
            if missing:
                raise InvalidSelectionError(
                    f"Row group {hi} is out of range [0, 0) for {missing[0]}"
                )

    def prune(
        self,
        files: Sequence[str] | None = None,
        row_groups: Sequence[int] | None = None,
        predicate: Sequence[tuple] | None = None,
    ) -> DataFrame:
        """Filtered view of the row-group index for a selection."""
        rgs = self.row_groups
        if files is not None:
            rgs = self._file_filter(rgs, files)
        if row_groups is not None:
            for rg in row_groups:
                if int(rg) < 0:
                    raise InvalidSelectionError(f"Row group {rg} is out of range")
            rgs = rgs.where(F.col("row_group").isin([int(r) for r in row_groups]))
        if predicate:
            rgs = rgs.where(self._prune_condition(predicate))
        return rgs

    # -- pruned read (reference read_metadata + pyarrow read) ----------------

    def read(
        self,
        files: Sequence[str] | None = None,
        row_groups: Sequence[int] | None = None,
        columns: Sequence[str] | None = None,
        column_indices: Sequence[int] | None = None,
        predicate: Sequence[tuple] | None = None,
        apply_residual: bool = True,
        dictionary_prune: bool = True,
    ) -> DataFrame:
        """Read exactly the selected row groups × columns.

        Row-group ordinals are validated against the index (reference
        bounds check, palletjack.cc:383-393).  With ``predicate``, row
        groups whose stats cannot match are skipped *and* (by default) the
        residual filter is applied to the scanned rows, so results equal a
        full scan + filter — pruning is a pure optimization, as in Spark's
        native source.

        ``dictionary_prune``: after the stats and partition tiers, the
        value tiers of :mod:`palletjack_spark.index.tiers` run, in order,
        over each surviving row group.  The DICTIONARY tier decides
        equality and exclusion conjuncts (=, IN, !=, NOT IN): when
        ``encoding_stats`` proves the chunk fully dictionary-encoded, an
        equality whose literals are all absent from the dictionary, or a
        dictionary wholly inside the excluded values, proves the row
        group matchless (:mod:`palletjack_spark.index.dictprune`).  The
        BLOOM tier decides equality conjuncts through the chunk's
        split-block bloom filter, when present — the tier for chunks whose
        dictionary OVERFLOWED to plain pages, the high-cardinality
        point-lookup layout (:mod:`palletjack_spark.index.bloomprune`,
        q03g).  The PAGE tier tests value and range conjuncts against the
        page index's per-page min/max envelopes, and on a driver-local
        read narrows a kept row group to its surviving row ranges
        (:mod:`palletjack_spark.index.pageprune`).  These tiers reach what
        min/max can't: high-cardinality columns whose values interleave
        across row groups, and value gaps inside a row group.  Probe I/O
        is bounded by the surviving chunks' dictionary-page, bitset and
        page-index bytes; every unknown verdict keeps the row group, so
        results are identical either way.  Driver-local indexes probe on
        the driver; catalog-scale plans probe executor-side in one
        combined pass (``value_prune_plan``).

        Hive-partitioned layouts: each row gains the file's ``key=value``
        partition values as string columns (Spark's type-inference-off
        semantics), predicates on partition keys prune at FILE level
        (safe-equality path-segment match; everything else via the exact
        residual on the attached column), and data predicates keep using
        row-group stats.

        Transport: a driver-local selection of at most Spark's
        ``spark.sql.execution.arrow.localRelationThreshold`` bytes (48 MB
        by default) is read eagerly inside this call (its read errors
        raise here, not at the action) into a LocalRelation.  When the
        residual has an exact Arrow form (``predicate.arrow_residual``:
        int and string conjuncts) it filters and projects the Arrow table
        on the driver, and the result is a bare LocalRelation holding
        only the answer; otherwise Spark filters it.  Larger selections
        and catalog-scale indexes scan lazily via mapInArrow and filter
        in Spark.
        """
        schema = self.arrow_schema(files)
        sel = resolve_columns(schema.names, columns, column_indices)
        part_keys = self.partition_keys()
        # SELECT a WHERE b: a residual predicate on a column OUTSIDE the
        # projection previously threw UNRESOLVED_COLUMN (round-13
        # review).  Widen the scan to include predicate data columns and
        # drop them again after the residual — standard SQL semantics.
        pred_extra: list[str] = []
        if predicate and apply_residual and sel is not None:
            # (sel is None = full projection: nothing to widen)
            pred_extra = list(
                dict.fromkeys(
                    t[0]
                    for t in predicate
                    if t[0] in schema.names and t[0] not in sel
                )
            )
            sel = sel + pred_extra

        if files is not None:
            # every requested file must be indexed (round-13 review: a
            # typo'd path silently vanished from the result while the
            # reference's bounds check and LocalIndex.read_metadata both
            # raise — the isin filter alone just dropped it).
            want = list(dict.fromkeys(files))
            if self._local is not None:
                known = {r["file"] for r in self._local[1]}
                missing = [f for f in want if f not in known]
            else:
                fdf = self.spark.createDataFrame(
                    [(f,) for f in want], "file string"
                )
                missing = [
                    r["file"]
                    for r in fdf.join(
                        self.files.select("file"), "file", "left_anti"
                    )
                    .limit(5)
                    .collect()
                ]
            if missing:
                raise InvalidSelectionError(
                    f"Files not present in the index: {sorted(missing)}"
                )
        if row_groups is not None:
            self._check_row_group_bounds(files, row_groups)

        if self._local is not None:
            # small driver-resident index: plan in plain Python — no Spark
            # job before the scan itself — and chunk each file's selection
            # into ~128 MB spans (the span chunker _plan_tasks uses)
            rg_rows = self._local[0]
            row_ranges: dict = {}
            if files is not None:
                want_f = set(files)
                rg_rows = [r for r in rg_rows if r["file"] in want_f]
            if row_groups is not None:
                want_rg = {int(r) for r in row_groups}
                rg_rows = [r for r in rg_rows if r["row_group"] in want_rg]
            if predicate:
                # every tier in order (tiers.prune_verdicts); the page
                # tier also restricts surviving row groups to their page
                # ROW RANGES — a pure superset restriction, the residual
                # filter still applies
                from palletjack_spark.index.tiers import prune_verdicts

                kept = []
                for r, tier, _c, rngs in prune_verdicts(
                    rg_rows, predicate, part_keys, schema.names,
                    values=dictionary_prune,
                ):
                    if tier is None:
                        kept.append(r)
                        if rngs:
                            row_ranges[(r["file"], r["row_group"])] = rngs
                rg_rows = kept
            sel_rows = sorted(
                (r["file"], r["row_group"], r["total_byte_size"]) for r in rg_rows
            )
            tasks = row_group_spans(sel_rows)
            sizes = [nbytes for _f, _rg, nbytes in sel_rows]
            return scan_tasks(
                self.spark, tasks, schema, sel, partition_keys=part_keys,
                row_ranges=row_ranges or None,
                # an unknown size never counts as small
                nbytes=None if None in sizes else sum(sizes),
                predicate=predicate if apply_residual else None,
                drop=pred_extra,
            )
        else:
            # distributed catalog: the pruned plan DataFrame drives the scan
            # executor-side — the driver never materializes the row-group
            # list (round-4 verdict: an O(selected) collect caps a weakly
            # selective predicate over a 100 TB catalog at driver memory)
            plan = self.prune(
                files=files, row_groups=row_groups, predicate=predicate
            )
            if predicate and part_keys:
                plan = self._partition_plan_filter(
                    plan, predicate, data_columns=schema.names
                )
            if predicate and dictionary_prune:
                # executor-side dictionary + bloom probes in ONE pass:
                # the plan rows carry the chunk offsets/types, so
                # equality/exclusion conjuncts drop provably non-matching
                # row groups without the selection ever touching the
                # driver (bloomprune.value_prune_plan)
                from palletjack_spark.index.bloomprune import value_prune_plan

                sizing = plan  # pre-probe: index-only lineage, cheap agg
                plan = value_prune_plan(plan, predicate)
                df = scan_plan(
                    self.spark, plan, schema, sel,
                    partition_keys=part_keys, sizing_plan=sizing,
                )
            else:
                df = scan_plan(
                    self.spark, plan, schema, sel, partition_keys=part_keys
                )
        if predicate and apply_residual:
            df = apply_predicate(df, predicate)
        if pred_extra:
            df = df.drop(*pred_extra)
        return df
