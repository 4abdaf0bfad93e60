"""Scans / sources / sinks (SURVEY §2.2 Q01-Q08).

Q03/Q05/Q06 exercise the metadata-index lifecycle — the reference's core
capability (palletjack.cc:207-367 build, 369-616 pruned read).  Q05's oracle
is DuckDB's independent parquet footer parser (``parquet_metadata()``), so
the index builder is differentially tested against a second implementation,
mirroring the reference's pyarrow-vs-palletjack differential tests
(test_palletjack.py:58-107).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from palletjack_spark.index import build_index
from palletjack_spark.queries.registry import query, t
from palletjack_spark.tables import table_path

# oracle SQL runs at sf0.01 (driver contract); file-function oracles need
# the concrete path because DuckDB views don't expose their source file.
_SF001_DIR = "/root/testdata/sf0.01"


def _tmp(name: str, sf_dir: str) -> str:
    key = sf_dir.strip("/").replace("/", "_")
    return os.path.join(tempfile.gettempdir(), f"pjspark_{key}_{name}")


def _src_sig(sf_dir: str, *tables: str) -> str:
    """Source-content signature (name+mtime+size per FILE under each
    table path) for staged /tmp fixtures — the q92g round-8 lesson,
    applied to every skip-if-exists cache in this module (round-14
    sweep): a regenerated table under the same sf_dir path must
    INVALIDATE the staged copy, or the query silently serves stale rows
    while the oracle reads the new data.  Walks directory tables
    per-file (round-15 ADVICE): rewriting part files inside a
    Spark-written ``<name>.parquet`` DIRECTORY need not change the
    directory's own mtime or size, so a single ``os.stat`` of the table
    path could still serve stale fixtures; the single stat remains only
    as the plain-file fallback."""
    parts = []
    for tb in tables:
        src = table_path(sf_dir, tb)
        try:
            if os.path.isdir(src):
                for root, _dirs, files in sorted(os.walk(src)):
                    for fn in sorted(files):
                        st = os.stat(os.path.join(root, fn))
                        parts.append(
                            f"{root}/{fn}:{st.st_mtime_ns}:{st.st_size}"
                        )
            else:
                st = os.stat(src)
                parts.append(f"{tb}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{tb}:absent")
    return ";".join(parts)


def _stage_fresh(marker: str, sig: str) -> bool:
    try:
        with open(marker) as f:
            return f.read().strip() == sig
    except OSError:
        return False


def _stage_mark(marker: str, sig: str) -> None:
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write(sig)
    os.replace(tmp, marker)


@query(
    "q01_full_scan",
    oracle="SELECT * FROM lineitem",
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan [ref R12]."""
    return t(spark, sf_dir, "lineitem")


@query(
    "q02_column_pruned_scan",
    oracle="SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan [ref R5/R6] — Catalyst ColumnPruning pushes the
    3-column ReadSchema into the parquet scan."""
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )


@query(
    "q03_indexed_rowgroup_scan",
    oracle="""
    SELECT l_orderkey, l_quantity, l_extendedprice
    FROM lineitem WHERE l_orderkey BETWEEN 100 AND 2000
    """,
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group-pruned scan via the metadata index [ref R4]: stats-driven
    row-group skip + residual filter == full scan + filter."""
    idx = build_index(spark, table_path(sf_dir, "lineitem"))
    return idx.read(
        columns=["l_orderkey", "l_quantity", "l_extendedprice"],
        predicate=[("l_orderkey", "between", 100, 2000)],
    )


@query(
    "q04_schema_read",
    oracle="SELECT column_name FROM (DESCRIBE lineitem)",
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-only read from the index — zero data I/O [ref R7]."""
    idx = build_index(spark, table_path(sf_dir, "lineitem"))
    schema = idx.read_schema()
    return spark.createDataFrame(
        [(f.name,) for f in schema.fields], "column_name string"
    )


@query(
    "q05_index_build",
    oracle=f"""
    SELECT row_group_id AS row_group,
           path_in_schema AS column_name,
           num_values,
           total_compressed_size,
           total_uncompressed_size,
           stats_null_count AS null_count,
           row_group_num_rows AS num_rows
    FROM parquet_metadata('{_SF001_DIR}/lineitem.parquet')
    """,
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index build sink [ref R1/R2], differentially checked against
    DuckDB's own footer parser."""
    idx = build_index(spark, table_path(sf_dir, "lineitem"))
    c = F.explode("columns").alias("c")
    return idx.row_groups.select(
        F.col("row_group").cast("long").alias("row_group"), "num_rows", c
    ).select(
        "row_group",
        F.col("c.name").alias("column_name"),
        F.col("c.num_values").alias("num_values"),
        F.col("c.total_compressed_size").alias("total_compressed_size"),
        F.col("c.total_uncompressed_size").alias("total_uncompressed_size"),
        F.col("c.null_count").alias("null_count"),
        "num_rows",
    )


@query(
    "q05b_incremental_index_build",
    oracle="""
    SELECT doc_id, n_chars FROM documents ORDER BY doc_id
    """,
)
def q05b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index build (Q05b) — the 100 TB ingest shape (SURVEY §7
    hard parts: "index build must be incremental — new files only"):
    file A is indexed into a persisted sidecar, file B arrives later, and
    ``build_index(..., incremental=True)`` appends only B's footer rows to
    the existing sidecar (skip-already-indexed is separately pinned by
    tests/test_index.py:test_incremental_build_indexes_new_files_only).
    The driver check reads the full dataset THROUGH the incrementally-built
    index — any missed file, duplicated row group, or stale sidecar row
    breaks the value match against a plain scan oracle."""
    key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"pjspark_{key}_incr")
    file_a = os.path.join(base, "a.parquet")
    file_b = os.path.join(base, "b.parquet")
    idx_dir = os.path.join(base, "idx")
    sig = _src_sig(sf_dir, "documents")
    marker = os.path.join(base, "_PJ_SRC_SIG")
    if not _stage_fresh(marker, sig):
        import shutil

        shutil.rmtree(base, ignore_errors=True)  # stale staging AND sidecar
    if not (os.path.exists(file_a) and os.path.exists(file_b)):
        import pyarrow.parquet as pq

        os.makedirs(base, exist_ok=True)
        tbl = (
            t(spark, sf_dir, "documents")
            .select("doc_id", "n_chars")
            .orderBy("doc_id")
            .toArrow()
        )
        half = tbl.num_rows // 2
        pq.write_table(tbl.slice(0, half), file_a + ".tmp", row_group_size=100)
        pq.write_table(tbl.slice(half), file_b + ".tmp", row_group_size=100)
        os.rename(file_a + ".tmp", file_a)
        os.rename(file_b + ".tmp", file_b)
        _stage_mark(marker, sig)
    if not os.path.exists(os.path.join(idx_dir, "files")):
        # day 1: only file A exists when the sidecar is first written
        build_index(spark, [file_a], index_dir=idx_dir)
    # day 2: file B arrived — incremental build appends only B's rows
    idx = build_index(
        spark, [file_a, file_b], index_dir=idx_dir, incremental=True
    )
    return idx.read(columns=["doc_id", "n_chars"]).orderBy("doc_id")


@query(
    "q06_cached_index_count",
    oracle="""
    SELECT 'lineitem' AS table_name, COUNT(*) AS num_rows FROM lineitem
    UNION ALL
    SELECT 'orders' AS table_name, COUNT(*) AS num_rows FROM orders
    """,
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory cached index [ref R8]: metadata-only row counts, no data
    pages touched (reference num_rows recomputation, palletjack.cc:495-507)."""
    idx = build_index(
        spark, [table_path(sf_dir, "lineitem"), table_path(sf_dir, "orders")]
    )
    return idx.count_rows().select(
        F.regexp_extract("file", r"([a-z]+)\.parquet$", 1).alias("table_name"),
        "num_rows",
    )


@query(
    "q07_parquet_write_roundtrip",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS cnt
    FROM lineitem WHERE l_quantity > 25 GROUP BY l_returnflag
    """,
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet write with row-group size control, then read-back [host]
    (reference README row_group_size guidance, python/README.md:44)."""
    out = _tmp("q07_roundtrip", sf_dir)
    (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 25)
        .write.mode("overwrite")
        .option("parquet.block.size", 1 * 1024 * 1024)
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "q08_csv_json_source",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey, 'csv' AS src FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, 'json' AS src FROM nation
    """,
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON sources [north-star util]: parquet → csv/json → read back
    with explicit schema."""
    nation = t(spark, sf_dir, "nation")
    csv_dir, json_dir = _tmp("q08_csv", sf_dir), _tmp("q08_json", sf_dir)
    nation.write.mode("overwrite").option("header", True).csv(csv_dir)
    nation.write.mode("overwrite").json(json_dir)
    schema = "n_nationkey int, n_name string, n_regionkey int"
    from_csv = (
        spark.read.schema(schema).option("header", True).csv(csv_dir)
        .withColumn("src", F.lit("csv"))
    )
    from_json = spark.read.schema(schema).json(json_dir).withColumn(
        "src", F.lit("json")
    )
    return from_csv.unionByName(from_json)


@query(
    "q09_partitioned_write",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_returnflag
    """,
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + partition-pruned read-back [host]: the
    standard 100 TB layout move — ``partitionBy`` turns the partition
    column into directory structure, and a reader filtering on it scans
    only the matching directory (PartitionFilters, zero data I/O for the
    rest).  tests/test_plans.py asserts the pruned scan."""
    out = _tmp("q09_partitioned", sf_dir)
    sig = _src_sig(sf_dir, "lineitem")
    marker = os.path.join(out, "_PJ_SRC_SIG")
    if not _stage_fresh(marker, sig):
        (
            t(spark, sf_dir, "lineitem")
            .select("l_returnflag", "l_quantity", "l_orderkey")
            .write.mode("overwrite")
            .partitionBy("l_returnflag")
            .parquet(out)
        )
        _stage_mark(marker, sig)
    return (
        spark.read.parquet(out)
        .where(F.col("l_returnflag") == "R")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@query(
    "q03c_partitioned_indexed_scan",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem WHERE l_returnflag = 'R' AND l_quantity <= 25
    GROUP BY l_returnflag
    """,
)
def q03c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed scan over a HIVE-PARTITIONED layout (Q03c, round 5): the
    q09 partitioned dataset is indexed through the recursive lister, the
    partition-key equality prunes at FILE level before any footer opens
    (the attached ``l_returnflag`` string column carries the value back
    into the result), and the data predicate prunes row groups by stats —
    the composed 100 TB read path: directory pruning × row-group pruning
    × residual, equal to a plain scan + filter.

    Scale note: the partition filter drops ~2/3 of the catalog's FILES
    from the plan (never opened), the quantity predicate then skips row
    groups inside the surviving partition, and both prunings are pure
    optimizations over the exact residual (differentially pinned in
    tests/test_index.py::test_hive_partitioned_dataset_indexed_reads)."""
    out = _tmp("q09_partitioned", sf_dir)
    sig = _src_sig(sf_dir, "lineitem")
    marker = os.path.join(out, "_PJ_SRC_SIG")
    if not _stage_fresh(marker, sig):
        (
            t(spark, sf_dir, "lineitem")
            .select("l_returnflag", "l_quantity", "l_orderkey")
            .write.mode("overwrite")
            .partitionBy("l_returnflag")
            .parquet(out)
        )
        _stage_mark(marker, sig)
    idx = build_index(spark, out)
    df = idx.read(
        predicate=[("l_returnflag", "=", "R"), ("l_quantity", "<=", 25.0)]
    )
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_qty"),
    )


@query(
    "q09b_compaction",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    """,
)
def q09b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction [north-star util]: the standard ingest-hygiene
    job at 100 TB — many small files (here the 4-file staged events dir)
    rewritten as ceil(total_bytes / target) right-sized files.  Uses
    ``coalesce`` (no shuffle) when reducing file count; the checksum
    aggregate proves the rewrite is lossless."""
    import glob as _g

    from palletjack_spark.streaming.ops import stage_events_us

    src = stage_events_us(spark, sf_dir)
    out = _tmp("q09b_compacted", sf_dir)
    total = sum(
        os.path.getsize(p) for p in _g.glob(os.path.join(src, "*.parquet"))
    )
    target = 64 * 1024 * 1024
    n_out = max(1, -(-total // target))
    df = spark.read.parquet(src)
    compacted = (
        df.coalesce(n_out)
        if n_out < df.rdd.getNumPartitions()
        else df.repartition(n_out)
    )
    compacted.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


@query(
    "q14_auto_routed_scan",
    oracle="""
    SELECT l_orderkey, l_extendedprice
    FROM lineitem WHERE l_orderkey <= 600
    UNION ALL
    SELECT l_orderkey, l_extendedprice
    FROM lineitem WHERE l_orderkey > 600
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-routed scan [SURVEY §4 stretch]: ``smart_read`` consults the
    index and picks the physical strategy per predicate — the selective
    predicate routes to the indexed mapInArrow scan, the non-selective one
    to the native source (PushedFilters + vectorized decode).  Both halves
    return exactly the rows a plain scan+filter would."""
    from palletjack_spark.index import smart_read

    path = table_path(sf_dir, "lineitem")
    selective = smart_read(
        spark, path,
        columns=["l_orderkey", "l_extendedprice"],
        predicate=[("l_orderkey", "<=", 600)],
    )
    broad = smart_read(
        spark, path,
        columns=["l_orderkey", "l_extendedprice"],
        predicate=[("l_orderkey", ">", 600)],
    )
    return selective.unionByName(broad)


@query(
    "q15_spliced_metadata_read",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, source, n_chars
    FROM ranked WHERE rn > 100 AND rn <= 200
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spliced-FileMetaData read (Q15) — the reference's literal downstream
    contract, driver-checked end-to-end: stage a deterministic multi-row-
    group copy of `documents` (sorted by doc_id, 100 rows per group),
    `generate_metadata_index` → PJS2 sidecar, `read_metadata(row_groups=[1],
    column_indices=...)` → genuine pruned pyarrow FileMetaData →
    `pq.ParquetReader().open(path, metadata=...)` reads ONLY row group 1
    (rows 101-200 in doc_id order).  Any splice bug — wrong spans, wrong
    ordinal renumbering, wrong schema pruning — breaks the value match."""
    import pyarrow.parquet as pq

    from palletjack_spark.index.footer_splice import (
        generate_metadata_index,
        read_metadata,
    )

    key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    staged = os.path.join(tempfile.gettempdir(), f"pjspark_{key}_splice.parquet")
    sig = _src_sig(sf_dir, "documents")
    if not (os.path.exists(staged) and _stage_fresh(staged + ".sig", sig)):
        tbl = (
            t(spark, sf_dir, "documents")
            .select("doc_id", "source", "n_chars")
            .orderBy("doc_id")
            .toArrow()
        )
        pq.write_table(tbl, staged + ".tmp", row_group_size=100)
        os.rename(staged + ".tmp", staged)
        _stage_mark(staged + ".sig", sig)
    idx = generate_metadata_index(staged)
    md = read_metadata(index_data=idx, row_groups=[1], column_indices=[0, 1, 2])
    pr = pq.ParquetReader()
    pr.open(staged, metadata=md)
    out = pr.read_all()
    pr.close()
    return spark.createDataFrame(out.to_pandas())


@query(
    "q16_routed_session_scan",
    oracle="""
    SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey <= 600
    UNION ALL
    SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey >= 1
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level auto-routing (Q16) [SURVEY §4 stretch, closed]: a
    PLAIN ``spark.read.parquet(path).where(...)`` — no engine API in the
    user's code — is intercepted for index-registered paths, the filter is
    parsed back into the index predicate language, and ``smart_read``
    reroutes the selective half through the indexed mapInArrow scan while
    the keep-everything half stays on the native source (plan shapes
    pinned in tests/test_routing.py).  The Python-level stand-in for a
    Catalyst SparkSessionExtensions Filter(ParquetScan) rewrite rule; both
    halves return exactly the rows stock PySpark would."""
    from palletjack_spark.index import (
        disable_auto_routing,
        enable_auto_routing,
        register_index,
        unregister_index,
    )

    key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    staged = os.path.join(tempfile.gettempdir(), f"pjspark_{key}_routed")
    sig = _src_sig(sf_dir, "lineitem")
    marker = os.path.join(staged, "_PJ_SRC_SIG")
    if not _stage_fresh(marker, sig):
        (
            t(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_quantity")
            .orderBy("l_orderkey", "l_quantity")
            .coalesce(1)
            .write.option("parquet.block.size", 64 * 1024)
            .mode("overwrite")
            .parquet(staged)
        )
        _stage_mark(marker, sig)
    register_index(spark, staged)
    enable_auto_routing()
    try:
        selective = spark.read.parquet(staged).where("l_orderkey <= 600")
        broad = spark.read.parquet(staged).where("l_orderkey >= 1")
    finally:
        disable_auto_routing()
        unregister_index(staged)
    return selective.select("l_orderkey", "l_quantity").unionByName(
        broad.select("l_orderkey", "l_quantity")
    )


@query(
    "q08b_orc_source",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > 1000
    """,
)
def q08b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink [north-star util]: parquet → ORC → filtered
    read-back.  Spark's native ORC reader gets the same scale treatment
    as parquet — vectorized scan, predicate pushdown into ORC
    stripe/row-group stats, column pruning (tests/test_plans.py asserts
    PushedFilters reaches the ORC scan).  DuckDB cannot read ORC, so the
    oracle reads the same rows from the parquet fixture — the roundtrip
    itself is what's under test."""
    out = _tmp("q08b_orc", sf_dir)
    sig = _src_sig(sf_dir, "customer")
    marker = os.path.join(out, "_PJ_SRC_SIG")
    if not _stage_fresh(marker, sig):
        (
            t(spark, sf_dir, "customer")
            .select("c_custkey", "c_name", "c_acctbal")
            .write.mode("overwrite")
            .orc(out)
        )
        _stage_mark(marker, sig)
    return spark.read.orc(out).where(F.col("c_acctbal") > 1000)


@query(
    "q07b_clustered_write",
    oracle="""
    SELECT COUNT(*) AS cnt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_price
    FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000
    """,
)
def q07b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered write + stat-pruned read-back [host]: the CLUSTER
    BY layout move — ``repartitionByRange`` gives each output file a
    disjoint key range and ``sortWithinPartitions`` orders row groups
    inside it, so a key-range predicate prunes to ~1 file via parquet
    min/max stats instead of scanning the table.  At 100 TB this is the
    difference between touching gigabytes and touching everything when
    the query key isn't the partition key.  tests/test_index.py asserts
    the written files' key ranges are pairwise disjoint; the checksum
    aggregate proves the clustered copy is lossless."""
    out = _tmp("q07b_clustered", sf_dir)
    sig = _src_sig(sf_dir, "lineitem")
    marker = os.path.join(out, "_PJ_SRC_SIG")
    if not _stage_fresh(marker, sig):
        (
            t(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice")
            .repartitionByRange(8, "l_orderkey")
            .sortWithinPartitions("l_orderkey")
            .write.mode("overwrite")
            .parquet(out)
        )
        _stage_mark(marker, sig)
    return (
        spark.read.parquet(out)
        .where(F.col("l_orderkey").between(1000, 2000))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


@query(
    "q04b_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey,
           1 AS batch
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, 2 AS batch FROM nation
    """,
)
def q04b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across ingest batches [host]: batch 1 lands
    without ``n_regionkey``, batch 2 adds it — the routine drift of a
    long-lived 100 TB lake.  ``mergeSchema`` unifies the footers at read
    time (old rows surface NULL for the new column) without rewriting a
    byte of data; per-file pruning still applies because merging is a
    footer-only operation."""
    out = _tmp("q04b_evolution", sf_dir)
    nation = t(spark, sf_dir, "nation")
    b1 = os.path.join(out, "batch=1")
    b2 = os.path.join(out, "batch=2")
    sig = _src_sig(sf_dir, "nation")
    marker = os.path.join(out, "_PJ_SRC_SIG")
    if not _stage_fresh(marker, sig):
        nation.select("n_nationkey", "n_name").write.mode("overwrite").parquet(b1)
        nation.select("n_nationkey", "n_name", "n_regionkey").write.mode(
            "overwrite"
        ).parquet(b2)
        _stage_mark(marker, sig)
    return spark.read.option("mergeSchema", "true").parquet(out).select(
        "n_nationkey", "n_name", "n_regionkey", "batch"
    )


@query(
    "q09c_keyed_upsert",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(CASE WHEN o_orderkey % 10 = 0
                              THEN o_totalprice * 2
                              ELSE o_totalprice END
                         AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM orders
    """,
)
def q09c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert without a table format [host]: MERGE emulated as
    read-side anti-join + union + rewrite — the copy-on-write move every
    parquet lake runs for late-arriving corrections when Delta/Iceberg
    isn't in play.  The update batch's keys drive a broadcast anti-join
    (the delta is small by construction; a large delta flips to
    shuffle_hash exactly like Q106's byte-gated loser join), so the base
    table streams through one scan.  The checksum aggregate proves
    updated rows carry the new values and untouched rows survive."""
    base_dir = _tmp("q09c_base", sf_dir)
    merged_dir = _tmp("q09c_merged", sf_dir)
    orders = t(spark, sf_dir, "orders")
    sig = _src_sig(sf_dir, "orders")
    marker = os.path.join(base_dir, "_PJ_SRC_SIG")
    if not _stage_fresh(marker, sig):
        orders.write.mode("overwrite").parquet(base_dir)
        _stage_mark(marker, sig)
    updates = orders.where(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    base = spark.read.parquet(base_dir)
    merged = base.join(
        F.broadcast(updates.select("o_orderkey")), "o_orderkey", "left_anti"
    ).unionByName(updates)
    merged.write.mode("overwrite").parquet(merged_dir)
    return spark.read.parquet(merged_dir).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_price"),
    )


def _zorder_col(b1, b2, bits: int = 12):
    """Interleave two ``bits``-wide bucket columns into a Z-value — pure
    shift/mask expressions, whole-stage codegen'd."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(b1, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(b2, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


@query(
    "q07c_zorder_write",
    oracle="""
    SELECT COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem WHERE l_partkey BETWEEN 100 AND 400
    """,
)
def q07c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered write (Q07c): multi-dimensional data skipping —
    the Delta OPTIMIZE ZORDER move, built from primitives.  Both join
    keys bucket into 12-bit ranges (range boundaries from a one-row
    driver-side stats agg, exactly how production z-ordering uses column
    stats), the buckets bit-interleave into a Z-value, and
    ``repartitionByRange`` + ``sortWithinPartitions`` on it give every
    file a compact rectangle in (orderkey, partkey) space.  A filter on
    EITHER column then prunes most files from footer stats — linear
    clustering on one key can never skip on the other.
    tests/test_index.py quantifies the per-file partkey-span shrinkage;
    the checksum aggregate proves the clustered copy is lossless."""
    out = _tmp("q07c_zorder", sf_dir)
    sig = _src_sig(sf_dir, "lineitem")
    marker = os.path.join(out, "_PJ_SRC_SIG")
    if not _stage_fresh(marker, sig):
        li = t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity"
        )
        hi = li.agg(
            F.max("l_orderkey").alias("mo"), F.max("l_partkey").alias("mp")
        ).collect()[0]
        # stretch each column across the FULL 12-bit bucket range —
        # bucket = floor(col * 4096 / (max+1)) — so both dimensions
        # contribute equally-significant high bits to the Z-value (a
        # dimension that fills only 11 bits loses its top split and
        # z-ordering degrades toward linear clustering on the other key)
        z = _zorder_col(
            F.floor(F.col("l_orderkey") * 4096 / (hi["mo"] + 1)).cast("long"),
            F.floor(F.col("l_partkey") * 4096 / (hi["mp"] + 1)).cast("long"),
        )
        (
            li.withColumn("z", z)
            .repartitionByRange(16, "z")
            .sortWithinPartitions("z")
            .drop("z")
            .write.mode("overwrite")
            .parquet(out)
        )
        _stage_mark(marker, sig)
    return (
        spark.read.parquet(out)
        .where(F.col("l_partkey").between(100, 400))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@query(
    "q01b_catalog_table",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations FROM nation
    GROUP BY n_regionkey
    """,
)
def q01b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-managed table surface [host]: ``saveAsTable`` registers the
    data in the session catalog (external table, explicit path) and
    downstream consumers address it by NAME through ``spark.sql`` — the
    multi-team contract at 100 TB is catalog names + table ACLs, not file
    paths.  Statistics/partitioning metadata live in the catalog where
    CBO can use them."""
    key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    tbl = f"pj_cat_{key}_nation"
    path = _tmp("q01b_catalog", sf_dir)
    sig = _src_sig(sf_dir, "nation")
    marker = os.path.join(path, "_PJ_SRC_SIG")
    registered = tbl in [t.name for t in spark.catalog.listTables()]
    if not (registered and _stage_fresh(marker, sig)):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            t(spark, sf_dir, "nation")
            .write.mode("overwrite")
            .option("path", path)
            .saveAsTable(tbl)
        )
        _stage_mark(marker, sig)
    return spark.sql(
        f"SELECT n_regionkey, COUNT(*) AS n_nations FROM {tbl}"
        " GROUP BY n_regionkey"
    )


@query(
    "q09d_dynamic_partition_overwrite",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS cnt,
           CAST(SUM(CAST(CASE WHEN l_returnflag = 'R'
                              THEN l_quantity + 100
                              ELSE l_quantity END
                         AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q09d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite [host]: rewriting ONE partition of a
    hive layout without touching its siblings
    (``partitionOverwriteMode=dynamic``) — the daily-restatement move on
    a 100 TB partitioned lake; static mode would silently TRUNCATE every
    other partition first, which is exactly what the checksum over the
    untouched partitions proves didn't happen."""
    out = _tmp("q09d_dynpart", sf_dir)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    sig = _src_sig(sf_dir, "lineitem")
    marker = os.path.join(out, "_PJ_SRC_SIG")
    if not _stage_fresh(marker, sig):
        li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
        _stage_mark(marker, sig)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        (
            li.where(F.col("l_returnflag") == "R")
            .withColumn("l_quantity", F.col("l_quantity") + 100)
            .write.mode("overwrite")
            .partitionBy("l_returnflag")
            .parquet(out)
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return (
        spark.read.parquet(out)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@query(
    "q03b_indexed_string_predicate",
    oracle="""
    SELECT o_orderkey, o_orderpriority
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q03b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed scan pruned by a STRING predicate (Q03b): row-group min/max
    stats on BYTE_ARRAY columns skip groups whose lexicographic
    [min_repr, max_repr] range can't contain the literal (the round-5
    ``stats_kind == 'text'`` path — ASCII-guarded so parquet's byte order
    and the engine's string order agree), then the residual filter exacts
    the match — the same contract as Q03's numeric BETWEEN, proven on the
    string stats path in tests/test_index.py::
    test_string_predicate_prunes_row_groups."""
    idx = build_index(spark, table_path(sf_dir, "orders"))
    return idx.read(
        columns=["o_orderkey", "o_orderpriority"],
        predicate=[("o_orderpriority", "=", "1-URGENT")],
    )


@query(
    "q07d_nested_roundtrip",
    oracle="""
    SELECT o_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           MIN(l_linenumber) AS first_line
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey <= 500
    GROUP BY o_orderkey
    """,
)
def q07d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema parquet roundtrip (Q07d): orders nest their line
    items as ``array<struct<...>>`` (the document/denormalized layout
    that kills a join at read time — one row fetch replaces an
    o_orderkey shuffle), write to parquet (LIST/group encoding), read
    back, and re-derive flat aggregates from the nested column with
    array expressions.  The checksum against the flat join proves the
    nest→write→read→unnest cycle is lossless."""
    out = _tmp("q07d_nested", sf_dir)
    sig = _src_sig(sf_dir, "lineitem", "orders")
    marker = os.path.join(out, "_PJ_SRC_SIG")
    if not _stage_fresh(marker, sig):
        li = t(spark, sf_dir, "lineitem")
        o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 500)
        nested = (
            li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderkey")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("l_linenumber", "l_quantity"))
                ).alias("items")
            )
        )
        nested.write.mode("overwrite").parquet(out)
        _stage_mark(marker, sig)
    back = spark.read.parquet(out)
    return back.select(
        "o_orderkey",
        F.size("items").cast("long").alias("n_items"),
        # accumulator at max precision: DECIMAL(38,6) + DECIMAL(18,6)
        # stays DECIMAL(38,6) (a narrower accumulator widens per addition
        # and fails the lambda type check); sum is exact, order-free
        F.expr(
            "cast(aggregate(items, cast(0 as decimal(38,6)),"
            " (acc, x) -> acc + cast(x.l_quantity as decimal(18,6)))"
            " as double)"
        ).alias("sum_qty"),
        F.element_at("items", 1)["l_linenumber"].alias("first_line"),
    )


def _snapshot_commit(table_dir: str, version: int, data_dir: str) -> None:
    """Commit a snapshot version as an immutable one-file-per-version log
    entry (Delta-style ``_versions/N.json``): commits never rewrite shared
    state, so two concurrent committers can't drop each other's entry.
    The publish is ``link(2)`` — atomic fail-if-exists — so a version is
    write-once: racing committers of the SAME version get exactly one
    winner; a retried commit of identical content is an idempotent no-op."""
    import json

    log_dir = os.path.join(table_dir, "_versions")
    os.makedirs(log_dir, exist_ok=True)
    final = os.path.join(log_dir, f"{version:020d}.json")
    entry = {"version": version, "data_dir": data_dir}
    tmp_path = f"{final}.tmp.{os.getpid()}"
    with open(tmp_path, "w") as f:
        json.dump(entry, f)
    try:
        os.link(tmp_path, final)
    except FileExistsError:
        try:
            with open(final) as f:
                existing = json.load(f)
        except (OSError, ValueError):
            existing = None  # torn/corrupt winner: surface as a conflict
        if existing != entry:
            raise RuntimeError(
                f"Concurrent snapshot commit conflict on version {version}: "
                f"{final} already committed with different content"
            )
    except OSError:
        # filesystem without hard links (some FUSE/object-store mounts):
        # degrade to an atomic-rename publish — still one immutable file
        # per version, but a same-version race is last-writer-wins there
        os.replace(tmp_path, final)
        return
    finally:
        try:
            os.unlink(tmp_path)
        except OSError:
            pass


def _snapshot_read(spark: SparkSession, table_dir: str, version: int | None):
    """Time-travel read: resolve a version (None = current = highest
    committed log entry) and read that snapshot's immutable data dir."""
    import glob
    import json

    log_dir = os.path.join(table_dir, "_versions")
    if version is None:
        entries = sorted(glob.glob(os.path.join(log_dir, "*.json")))
        if not entries:
            raise FileNotFoundError(f"No committed versions in {log_dir}")
        path = entries[-1]
    else:
        path = os.path.join(log_dir, f"{version:020d}.json")
    with open(path) as f:
        return spark.read.parquet(json.load(f)["data_dir"])


@query(
    "q09e_snapshot_time_travel",
    oracle="""
    SELECT 1 AS version, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM orders
    UNION ALL
    SELECT 2 AS version, COUNT(*) AS n_rows,
           CAST(SUM(CAST(CASE WHEN o_orderkey % 10 = 0
                              THEN o_totalprice * 2
                              ELSE o_totalprice END
                         AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM orders
    """,
)
def q09e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot versioning + time travel [north-star lakehouse]: each
    write commits an immutable data directory to a tiny version manifest
    (the core Delta/Iceberg idea, built from primitives) — readers
    resolve version N (or current) through the manifest and scan only
    that snapshot, so historic reads cost the same as current reads and
    concurrent readers never see a half-written table.

    v1 = base orders; v2 = copy-on-write upsert (the q09c merge).  The
    returned frame aggregates BOTH versions through the time-travel
    reader, proving old snapshots survive new commits.  Scale: the
    manifest is O(versions) metadata; data dirs are immutable parquet —
    exactly how table formats scale to 100 TB (the log is small, the
    data never rewrites in place beyond the upsert's copy)."""
    table_dir = _tmp("q09e_table", sf_dir)
    sig = _src_sig(sf_dir, "orders")
    marker = os.path.join(table_dir, "_PJ_SRC_SIG")
    if not _stage_fresh(marker, sig):
        # stale staged table (regenerated source): the version log and
        # both snapshot dirs derive from the old rows — rebuild all
        import shutil

        shutil.rmtree(table_dir, ignore_errors=True)
    os.makedirs(table_dir, exist_ok=True)
    v1_dir = os.path.join(table_dir, "v1")
    v2_dir = os.path.join(table_dir, "v2")
    orders = t(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(v1_dir, "_SUCCESS")):
        orders.write.mode("overwrite").parquet(v1_dir)
        _stage_mark(marker, sig)
    _snapshot_commit(table_dir, 1, v1_dir)  # idempotent re-publish
    if not os.path.exists(os.path.join(v2_dir, "_SUCCESS")):
        updates = orders.where(F.col("o_orderkey") % 10 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        base = _snapshot_read(spark, table_dir, 1)
        merged = base.join(
            F.broadcast(updates.select("o_orderkey")), "o_orderkey", "left_anti"
        ).unionByName(updates)
        merged.write.mode("overwrite").parquet(v2_dir)
    _snapshot_commit(table_dir, 2, v2_dir)

    def summarize(version: int) -> DataFrame:
        return _snapshot_read(spark, table_dir, version).agg(
            F.lit(version).alias("version"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_price"),
        )

    return summarize(1).unionByName(summarize(2))


@query(
    "q09f_change_data_feed",
    oracle="""
    WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 17 <> 3
      UNION ALL
      SELECT o_orderkey + 10000000, 1.0 FROM orders WHERE o_orderkey % 23 = 5)
    SELECT COALESCE(v2.o_orderkey, v1.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
                WHEN v2.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           v1.o_totalprice AS old_price,
           v2.o_totalprice AS new_price
    FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
          OR v1.o_totalprice <> v2.o_totalprice
    """,
)
def q09f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between snapshots [north-star lakehouse]: diff two
    table versions into (key, insert/update/delete, old, new) rows — what
    Delta's CDF serves to downstream incremental consumers, computed here
    from any two immutable snapshots (composes with Q09e's manifest).

    One full-outer join keyed on the table key: both snapshots shuffle
    once on o_orderkey and the change classification is row-local.
    Unchanged rows are filtered AFTER the join but BEFORE any further
    exchange — the feed leaving this operator is proportional to the
    delta, not the table, which is what makes downstream incremental
    consumption cheaper than re-reading the snapshot at 100 TB."""
    orders = t(spark, sf_dir, "orders")
    v1 = orders.select("o_orderkey", "o_totalprice")
    updated = orders.where(F.col("o_orderkey") % 17 != 3).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    inserted = orders.where(F.col("o_orderkey") % 23 == 5).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit(1.0).alias("o_totalprice"),
    )
    v2 = updated.unionByName(inserted)
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    old_key, new_key = F.col("a.o_orderkey"), F.col("b.o_orderkey")
    return (
        j.where(
            old_key.isNull()
            | new_key.isNull()
            | (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
        )
        .select(
            F.coalesce(new_key, old_key).alias("o_orderkey"),
            F.when(old_key.isNull(), "insert")
            .when(new_key.isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.col("a.o_totalprice").alias("old_price"),
            F.col("b.o_totalprice").alias("new_price"),
        )
    )


@query(
    "q08c_binaryfile_source",
    # the correctness gate always pairs oracles with sf0.01 (driver
    # contract), so the raw-file glob pins that fixture explicitly —
    # read_blob has no table-view indirection to ride on
    oracle="""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           CAST(size AS BIGINT) AS length,
           md5(hex(content)) AS content_md5
    FROM read_blob('/root/testdata/sf0.01/*.parquet')
    """,
)
def q08c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary-file source [north-star util]: ingest a directory of
    raw files as (name, length, fingerprint) rows via Spark's built-in
    ``binaryFile`` source — the front door of every multimodal pipeline
    (images/audio/video land as bytes FIRST; the q94 codec family then
    decodes them).  The source is distributed and streaming-capable
    (same DataSource V2 listing as parquet: one task per file, no driver
    materialization of content), and the fingerprint is computed
    executor-side so the driver never sees the bytes.

    Fingerprint portability: Spark md5 hashes raw bytes but DuckDB's
    md5 only accepts VARCHAR (its BLOB→VARCHAR cast escapes
    non-printable bytes, corrupting the digest), so both engines hash
    the UPPERCASE HEX of the content — hex() agrees byte-for-byte
    across the engines and keeps the oracle exact.  The oracle's
    ``read_blob`` glob reads the same files; paths normalize to
    basenames on both sides."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
    )
    return df.select(
        F.regexp_extract(F.col("path"), "([^/]+)$", 1).alias("file_name"),
        F.col("length").cast("long").alias("length"),
        F.md5(F.hex(F.col("content"))).alias("content_md5"),
    )


@query(
    "q03e_dictionary_pruned_scan",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority
    FROM orders WHERE o_orderkey = 123
    """,
)
def q03e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-page row-group pruning (Q03e, round 9): point lookup on
    a high-cardinality STRING key whose values interleave across row
    groups — [min, max] spans the literal in EVERY row group, so stats
    pruning keeps everything; the dictionary probe
    (index/dictprune.py) reads only each surviving chunk's
    dictionary-page bytes and keeps exactly the row group whose
    dictionary contains the literal, gated on ``encoding_stats``
    proving full dictionary encoding (fallback/unknown chunks are
    conservatively kept — results are identical with pruning off,
    which is the oracle's check here; the pruning itself is pinned by
    tests/test_dictprune.py).

    The fixture interleaves orders by ``o_orderkey % 8`` into 8-row-group
    files so each group's key range spans the table — the adversarial
    layout for min/max, the natural one for dictionaries."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # fingerprint the SOURCE in the fixture name (the q92g round-8
    # lesson): a regenerated sf_dir gets a fresh fixture, never a stale
    # /tmp leftover silently serving old rows
    src_st = os.stat(table_path(sf_dir, "orders"))
    prefix = _tmp("q03e_dictfix", sf_dir)
    out = prefix + f"_{src_st.st_size}_{src_st.st_mtime_ns}.parquet"
    if not os.path.exists(out):
        # GC fixtures keyed to SUPERSEDED source fingerprints (round-9
        # verdict "What's wrong" 2): each source regeneration creates a
        # new name, so a long-lived host would otherwise accumulate one
        # orphan per regeneration
        import glob as _glob

        for stale in _glob.glob(prefix + "_*.parquet"):
            if stale != out:
                try:
                    os.unlink(stale)
                except OSError:
                    pass
        t0 = pq.read_table(
            table_path(sf_dir, "orders"),
            columns=["o_orderkey", "o_orderpriority"],
        )
        okey = t0["o_orderkey"].to_pylist()
        order = sorted(range(len(okey)), key=lambda i: (okey[i] % 8, okey[i]))
        prio = t0["o_orderpriority"].to_pylist()
        tagged = pa.table(
            {
                "okey_tag": pa.array([f"k{okey[i]}" for i in order]),
                "o_orderkey": pa.array(
                    [okey[i] for i in order], type=pa.int64()
                ),
                "o_orderpriority": pa.array([prio[i] for i in order]),
            }
        )
        rg = max(1, -(-len(okey) // 8))
        pq.write_table(tagged, out + ".tmp", row_group_size=rg)
        os.rename(out + ".tmp", out)
    idx = build_index(spark, out)
    return idx.read(
        columns=["okey_tag", "o_orderkey", "o_orderpriority"],
        predicate=[("okey_tag", "=", "k123")],
    ).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderpriority",
    )


@query(
    "q03f_dictionary_notin_scan",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           's' || CAST(o_orderkey % 8 AS VARCHAR) AS shard
    FROM orders
    WHERE ('s' || CAST(o_orderkey % 8 AS VARCHAR))
          NOT IN ('s0', 's1', 's2', 's3', 's4', 's5')
    """,
)
def q03f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exclusion-predicate row-group pruning (Q03f, round 10): a
    ``NOT IN`` over a low-cardinality shard column whose values cluster
    per row group.  Min/max stats can only prune a PROVABLY single-valued
    chunk; here each row group holds two shard values, so the stats tier
    keeps everything — but each chunk's dictionary is its complete value
    set, and a dictionary that is a SUBSET of the excluded values proves
    no row can survive (index/dictprune.py exclusion tier, the !=/NOT IN
    completion of the round-9 equality family; mechanics pinned in
    tests/test_dictprune.py).  Results are identical with pruning off —
    the oracle's check; NULLs need no care since they fail NOT IN in
    both engines.

    The fixture sorts orders by (o_orderkey %% 8, o_orderkey) into 4
    row groups, so row groups 0-2 carry only excluded shards — the
    natural log-data layout where a constant-ish column rides along."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src_st = os.stat(table_path(sf_dir, "orders"))
    prefix = _tmp("q03f_shardfix", sf_dir)
    out = prefix + f"_{src_st.st_size}_{src_st.st_mtime_ns}.parquet"
    if not os.path.exists(out):
        import glob as _glob

        for stale in _glob.glob(prefix + "_*.parquet"):
            if stale != out:
                try:
                    os.unlink(stale)
                except OSError:
                    pass
        t0 = pq.read_table(table_path(sf_dir, "orders"), columns=["o_orderkey"])
        okey = t0["o_orderkey"].to_pylist()
        order = sorted(range(len(okey)), key=lambda i: (okey[i] % 8, okey[i]))
        tagged = pa.table(
            {
                "o_orderkey": pa.array(
                    [okey[i] for i in order], type=pa.int64()
                ),
                "shard": pa.array([f"s{okey[i] % 8}" for i in order]),
            }
        )
        rg = max(1, -(-len(okey) // 4))
        pq.write_table(tagged, out + ".tmp", row_group_size=rg)
        os.rename(out + ".tmp", out)
    idx = build_index(spark, out)
    return idx.read(
        columns=["o_orderkey", "shard"],
        predicate=[("shard", "not_in", ["s0", "s1", "s2", "s3", "s4", "s5"])],
    ).select(F.col("o_orderkey").cast("long").alias("o_orderkey"), "shard")


@query(
    "q03g_bloom_pruned_scan",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority
    FROM orders WHERE o_orderkey = 421
    """,
)
def q03g(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-block bloom-filter row-group pruning (Q03g, round 11): a
    point lookup on a high-cardinality key whose DICTIONARY OVERFLOWED —
    the one layout rounds 9-10 still couldn't prune.  Values interleave
    across row groups ([min, max] spans the literal everywhere, stats
    keep all), and the chunks are plain-encoded (q03e's
    ``encoding_stats`` gate correctly refuses to dictionary-prune), so
    only the chunk's bloom filter — xxh64 of the plain-encoded value,
    one 32-byte block, 8 salted bits — can prove absence
    (index/bloomprune.py; the reference codec models the footer offsets
    at parquet_types_palletjack.h:2012-2148 but never prunes with them).
    A miss is a proof, a hit keeps, unknown keeps: results are identical
    with pruning off — the oracle's check; the pruning itself (exactly
    one of 8 row groups survives) is pinned in tests/test_bloomprune.py.

    Neither pyarrow 16 nor DuckDB 1.0 can WRITE bloom filters, so the
    fixture exercises the module's own writer: ``add_bloom_filters``
    appends standard bitsets after the data and splices the offsets into
    the footer — PalletJack-style metadata surgery, zero data pages
    rewritten.  parquet-mr/Spark read and bloom-filter the same file
    natively (interop pinned in tests), which is also the 100 TB story:
    a catalog at rest gains point-lookup pruning in place."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from palletjack_spark.index.bloomprune import add_bloom_filters

    src_st = os.stat(table_path(sf_dir, "orders"))
    prefix = _tmp("q03g_bloomfix", sf_dir)
    out = prefix + f"_{src_st.st_size}_{src_st.st_mtime_ns}.parquet"
    if not os.path.exists(out):
        import glob as _glob

        for stale in _glob.glob(prefix + "_*.parquet"):
            if stale != out:
                try:
                    os.unlink(stale)
                except OSError:
                    pass
        t0 = pq.read_table(
            table_path(sf_dir, "orders"),
            columns=["o_orderkey", "o_orderpriority"],
        )
        okey = t0["o_orderkey"].to_pylist()
        order = sorted(range(len(okey)), key=lambda i: (okey[i] % 8, okey[i]))
        prio = t0["o_orderpriority"].to_pylist()
        tagged = pa.table(
            {
                "okey_tag": pa.array([f"h{okey[i]}" for i in order]),
                "o_orderkey": pa.array(
                    [okey[i] for i in order], type=pa.int64()
                ),
                "o_orderpriority": pa.array([prio[i] for i in order]),
            }
        )
        rg = max(1, -(-len(okey) // 8))
        # plain-encoded chunks: the dict-overflow layout, made explicit
        pq.write_table(tagged, out + ".tmp", row_group_size=rg,
                       use_dictionary=False)
        add_bloom_filters(out + ".tmp", ["okey_tag", "o_orderkey"])
        os.rename(out + ".tmp", out)
    idx = build_index(spark, out)
    return idx.read(
        columns=["okey_tag", "o_orderkey", "o_orderpriority"],
        predicate=[("okey_tag", "=", "h421")],
    ).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderpriority",
    )


@query(
    "q03h_page_index_scan",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority
    FROM orders
    WHERE o_orderkey = (SELECT o_orderkey FROM orders
                        ORDER BY o_orderkey LIMIT 1 OFFSET 5632)
    """,
)
def q03h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-index (ColumnIndex) row-group pruning (Q03h, round 11): the
    ENVELOPE-GAP layout no earlier tier can prune.  Each row group holds
    several page-aligned value BANDS far apart (time-ordered appends
    compacted from interleaved streams), so the row-group [min, max]
    envelope covers the probe literal in EVERY row group while no
    individual page does: stats keep all, the chunks are plain-encoded
    (dictionary tier refuses), no bloom filters exist — only the
    parquet page index's per-page min/max (format spec ``PageIndex.md``;
    the reference codec models ColumnIndex/OffsetIndex structs but
    never probes them) can prove three of the four row groups empty
    (index/pageprune.py).  Unknown keeps, the residual filter applies —
    results are identical with pruning off, which is the oracle's
    check; the 4-row-groups-to-1 prune (and the 1-of-4-pages surviving
    row range) is pinned in tests/test_pageprune.py.

    The fixture writes orders rank-banded: band b = the b-th 1024-row
    slice of the key order, row group r = bands ≡ r (mod 4), pages
    forced to band boundaries (write_batch_size=1024 + 1-byte
    data_page_size) with ``write_page_index=True``.  The probe key is
    the rank-5632 key (band 5, center) — present in row group 1 only;
    at a scale too small for rank 5632 the query returns empty, exactly
    like the oracle's NULL-scalar comparison."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src_st = os.stat(table_path(sf_dir, "orders"))
    prefix = _tmp("q03h_pagefix", sf_dir)
    out = prefix + f"_{src_st.st_size}_{src_st.st_mtime_ns}.parquet"
    if not os.path.exists(out):
        import glob as _glob

        for stale in _glob.glob(prefix + "_*.parquet"):
            if stale != out:
                try:
                    os.unlink(stale)
                except OSError:
                    pass
        t0 = pq.read_table(
            table_path(sf_dir, "orders"),
            columns=["o_orderkey", "o_orderpriority"],
        )
        okey = t0["o_orderkey"].to_pylist()
        prio = t0["o_orderpriority"].to_pylist()
        rank = sorted(range(len(okey)), key=lambda i: okey[i])
        nbands = -(-len(rank) // 1024)
        by_rg: list[list[int]] = [[], [], [], []]
        for b in range(nbands):
            by_rg[b % 4].extend(rank[b * 1024 : (b + 1) * 1024])
        schema = pa.schema(
            [("o_orderkey", pa.int64()), ("o_orderpriority", pa.string())]
        )
        w = pq.ParquetWriter(
            out + ".tmp",
            schema,
            use_dictionary=False,  # plain chunks: dictionary tier refuses
            write_page_index=True,
            data_page_size=1,  # with write_batch_size: page per band
            write_batch_size=1024,
        )
        for rows in by_rg:
            if rows:
                w.write_table(
                    pa.table(
                        {
                            "o_orderkey": pa.array(
                                [okey[i] for i in rows], type=pa.int64()
                            ),
                            "o_orderpriority": pa.array(
                                [prio[i] for i in rows]
                            ),
                        },
                        schema=schema,
                    ),
                    row_group_size=len(rows),
                )
        w.close()
        os.rename(out + ".tmp", out)
    idx = build_index(spark, out)
    ranked = sorted(
        pq.read_table(out, columns=["o_orderkey"])["o_orderkey"].to_pylist()
    )
    if len(ranked) > 5632:
        df = idx.read(
            columns=["o_orderkey", "o_orderpriority"],
            predicate=[("o_orderkey", "=", ranked[5632])],
        )
    else:
        df = idx.read(columns=["o_orderkey", "o_orderpriority"]).where(
            F.lit(False)
        )
    return df.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderpriority",
    )


@query(
    "q16b_python_datasource",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderkey BETWEEN 100 AND 200
    """,
)
def q16b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-routed scan through Spark's OWN reader surface (Q16b): the
    Spark 4 Python DataSource — ``spark.read.format("palletjack")`` —
    with 4.1 filter pushdown.  Catalyst hands the reader its conjuncts
    as typed Filter objects; the reader translates them into the index
    mini-language, plans partitions from row-group stats + the q03e
    dictionary probe, and yields Arrow batches per span, while EVERY
    filter stays residual so results are exact regardless of pruning
    (sources/python_datasource.py; pruning evidence pinned in
    tests/test_python_datasource.py).

    Column pruning: the Python DataSource API has no projection
    pushdown, so by default the source decodes ALL columns even under a
    narrow ``.select()``; pass ``.option("columns", "a,b")`` to reach
    the parquet decoder with the projection (round-10; the select here
    is narrow enough that the default is fine at these scales)."""
    from palletjack_spark.sources.python_datasource import register_datasource

    register_datasource(spark)
    return (
        spark.read.format("palletjack")
        .load(table_path(sf_dir, "orders"))
        .where((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") <= 200))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q126d_index_reconciliation_audit",
    oracle=f"""
    WITH decl AS (
      SELECT 'orders.parquet' AS file_name, num_rows AS declared_rows
      FROM parquet_file_metadata('{_SF001_DIR}/orders.parquet')
      UNION ALL
      SELECT 'documents.parquet', num_rows
      FROM parquet_file_metadata('{_SF001_DIR}/documents.parquet')),
    idx AS (
      SELECT 'orders.parquet' AS file_name,
             CAST(SUM(row_group_num_rows) AS BIGINT) AS indexed_rows,
             CAST(COUNT(*) AS BIGINT) AS indexed_rgs
      FROM (SELECT DISTINCT row_group_id, row_group_num_rows
            FROM parquet_metadata('{_SF001_DIR}/orders.parquet'))
      UNION ALL
      SELECT 'documents.parquet',
             CAST(SUM(row_group_num_rows) AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM (SELECT DISTINCT row_group_id, row_group_num_rows
            FROM parquet_metadata('{_SF001_DIR}/documents.parquet'))),
    actual AS (
      SELECT 'orders.parquet' AS file_name,
             CAST(COUNT(*) AS BIGINT) AS actual_rows FROM orders
      UNION ALL
      SELECT 'documents.parquet', CAST(COUNT(*) AS BIGINT) FROM documents)
    SELECT decl.file_name, declared_rows, indexed_rows, indexed_rgs,
           actual_rows,
           (declared_rows = indexed_rows AND indexed_rows = actual_rows)
             AS consistent
    FROM decl JOIN idx USING (file_name) JOIN actual USING (file_name)
    ORDER BY file_name
    """,
)
def q126d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index↔data reconciliation audit (Q126d): per file, cross-check the
    header's DECLARED row count, the metadata index's row-group SUM, and
    the ACTUAL scanned count — the lake-operator audit that catches torn
    sidecar writes, stale indexes after in-place rewrites, and corrupt
    footers (the reference's validate() contract, palletjack.cc:239-310,
    surfaced as a queryable operator instead of only a build-time guard;
    DuckDB's own footer parser is the oracle's metadata source).

    Scale shape: the declared and indexed counts come from the index
    sidecar alone (zero data I/O — files × row-group rows); only the
    actual-count leg scans data, as a count-star that partial-aggregates
    map-side, and a production run samples or scopes that leg (the
    cheap two-way declared-vs-indexed check needs no data at all —
    MetadataIndex.validate runs it on every build/load already)."""
    files = [table_path(sf_dir, "orders"), table_path(sf_dir, "documents")]
    idx = build_index(spark, files)
    base = F.regexp_extract(F.col("file"), r"([^/]+)$", 1)
    decl = idx.files.select(
        base.alias("file_name"), F.col("num_rows").alias("declared_rows")
    )
    rgs = idx.row_groups.groupBy(base.alias("file_name")).agg(
        F.sum("num_rows").alias("indexed_rows"),
        F.count("*").alias("indexed_rgs"),
    )
    actual = None
    for p in files:
        a = (
            spark.read.parquet(p)
            .agg(F.count("*").alias("actual_rows"))
            .select(
                F.lit(os.path.basename(p)).alias("file_name"), "actual_rows"
            )
        )
        actual = a if actual is None else actual.unionByName(a)
    return (
        decl.join(rgs, "file_name")
        .join(actual, "file_name")
        .select(
            "file_name",
            "declared_rows",
            "indexed_rows",
            "indexed_rgs",
            "actual_rows",
            (
                (F.col("declared_rows") == F.col("indexed_rows"))
                & (F.col("indexed_rows") == F.col("actual_rows"))
            ).alias("consistent"),
        )
        .orderBy("file_name")
    )
