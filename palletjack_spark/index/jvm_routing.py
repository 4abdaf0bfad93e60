"""JVM-side auto-routing: the SparkSessionExtensions production vehicle.

``index/routing.py`` intercepts ``spark.read.parquet`` at the Python
DataFrame layer — which JVM-only clients (spark-sql, JDBC/Thrift) never
touch.  SURVEY §4 names a ``SparkSessionExtensions`` optimizer rule as
the production deployment vehicle for exactly those clients; this module
ships it: Java sources under ``palletjack_spark/jvm/java`` (compiled on
demand with the JDK that ships with Spark — no Scala toolchain needed;
the rule extends Catalyst's ``Rule[LogicalPlan]`` directly), plus this
bridge that

- compiles/locates the classes (:func:`jvm_classes_dir`),
- tells a test/driver process how to enable the extension
  (:func:`pyspark_submit_args` — the classpath and
  ``spark.sql.extensions`` must be set before the JVM launches), and
- pushes per-file column stats from a built
  :class:`~palletjack_spark.index.metadata_index.MetadataIndex` into the
  JVM registry (:func:`register_index_jvm`), the decision inputs the
  optimizer rule prunes with.

Division of labour (same inputs, same routing decision as
``smart_read``): the JVM rule does FILE-level pruning — the half of the
index consult that is expressible against Spark's native parquet source
— and keeps the residual filter, so results are identical with or
without it; row-group pruning inside surviving files is the native
reader's parquet ``filterPushdown``.  The Python ``smart_read`` path
remains the full row-group-exact implementation (and the fallback
wherever the classes aren't on the classpath).

Stats units match Catalyst's internal literal encodings (epoch micros
for timestamps, days for dates — ``builder._stat_num``'s projection), so
the Java rule compares doubles directly.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess

from pyspark.sql import SparkSession, functions as F

from palletjack_spark.errors import PalletJackSparkError
from palletjack_spark.index.builder import build_index
from palletjack_spark.index.metadata_index import MetadataIndex
from palletjack_spark.index.predicate import ceil_double, floor_double

EXTENSION_CLASS = "io.palletjack.spark.PalletJackSparkSessionExtensions"

_JVM_DIR = os.path.join(os.path.dirname(__file__), os.pardir, "jvm")


def _spark_jars_dir() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def jvm_classes_dir(compile_if_missing: bool = True) -> str:
    """Directory holding the compiled extension classes, compiling the
    committed Java sources with ``javac`` against the installed
    pyspark's jars when needed (build-once: recompiles only when a
    source is newer than its class file)."""
    src_dir = os.path.abspath(os.path.join(_JVM_DIR, "java"))
    out_dir = os.path.abspath(os.path.join(_JVM_DIR, "classes"))
    sources = sorted(
        glob.glob(os.path.join(src_dir, "io", "palletjack", "spark", "*.java"))
    )
    if not sources:
        raise PalletJackSparkError(f"no Java sources under {src_dir}")
    classes = sorted(
        glob.glob(os.path.join(out_dir, "io", "palletjack", "spark", "*.class"))
    )
    # freshness = the EXACT top-level class set derived from the source
    # file names (javac emits Foo.class for Foo.java, plus Foo$*.class
    # inner classes).  A bare count-and-mtime check missed removals and
    # renames: deleting or renaming a .java left its orphaned .class in
    # out_dir, still passing both checks, and the stale rule stayed on
    # the session classpath (round-15 sweep + round-15 ADVICE)
    expected = {os.path.splitext(os.path.basename(s))[0] for s in sources}
    top_level = {os.path.basename(c)[: -len(".class")].split("$")[0] for c in classes}
    fresh = (
        top_level == expected
        and max(os.path.getmtime(s) for s in sources)
        <= min(os.path.getmtime(c) for c in classes)
    )
    if fresh:
        return out_dir
    if not compile_if_missing:
        raise PalletJackSparkError(f"compiled classes missing under {out_dir}")
    # wipe the package tree before recompiling so removed/renamed
    # sources can't leave orphaned classes behind
    shutil.rmtree(os.path.join(out_dir, "io"), ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    cmd = [
        "javac",
        "-nowarn",
        "-encoding",
        "UTF-8",
        "-cp",
        os.path.join(_spark_jars_dir(), "*"),
        "-d",
        out_dir,
        *sources,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        raise PalletJackSparkError(
            f"javac failed ({proc.returncode}): {proc.stderr[-2000:]}"
        )
    return out_dir


def pyspark_submit_args(extra: str = "") -> str:
    """``PYSPARK_SUBMIT_ARGS`` enabling the extension in a NEW process
    (the classpath and ``spark.sql.extensions`` bind at JVM launch)."""
    cp = jvm_classes_dir()
    return (
        f"--driver-class-path {cp} "
        f"--conf spark.sql.extensions={EXTENSION_CLASS} "
        f"{extra} pyspark-shell"
    ).strip()


def jvm_routing_available(spark: SparkSession) -> bool:
    """True when the extension classes are loadable in this session's
    JVM (i.e. the driver was launched with them on the classpath)."""
    try:
        spark._jvm.io.palletjack.spark.PalletJackRegistry.size()
        return True
    except Exception:
        return False


def _per_file_stats(index: MetadataIndex) -> dict[str, dict[str, list[float]]]:
    """file -> column -> [min, max, null_count, num_rows] over its row
    groups.  A slot is NaN when any row group lacks that statistic —
    string columns e.g. carry null counts but no numeric range — and the
    rule treats NaN as "unknown: keep".  (file, column) entries where
    NOTHING is known are omitted entirely."""
    nan = float("nan")
    rg = index.row_groups.select(
        "file", F.col("num_rows"), F.explode("columns").alias("c")
    ).select(
        "file",
        "num_rows",
        F.col("c.name").alias("name"),
        F.col("c.min_num").alias("min_num"),
        F.col("c.max_num").alias("max_num"),
        F.col("c.null_count").alias("null_count"),
    )
    agg = (
        rg.groupBy("file", "name")
        .agg(
            F.min("min_num").alias("mn"),
            F.max("max_num").alias("mx"),
            F.sum(
                (F.col("min_num").isNull() | F.col("max_num").isNull()).cast("int")
            ).alias("n_missing"),
            F.sum("null_count").alias("nulls"),
            F.sum(F.col("null_count").isNull().cast("int")).alias("nc_missing"),
            F.sum("num_rows").alias("rows"),
        )
        .collect()
    )
    out: dict[str, dict[str, list[float]]] = {}
    for r in agg:
        range_ok = (
            r["n_missing"] == 0 and r["mn"] is not None and r["mx"] is not None
        )
        nulls_ok = r["nc_missing"] == 0 and r["nulls"] is not None
        if not range_ok and not nulls_ok:
            continue
        out.setdefault(r["file"], {})[r["name"]] = [
            floor_double(r["mn"]) if range_ok else nan,
            ceil_double(r["mx"]) if range_ok else nan,
            float(r["nulls"]) if nulls_ok else nan,
            float(r["rows"]) if nulls_ok and r["rows"] is not None else nan,
        ]
    return out


def _digest_hash64(canon: str) -> int:
    """First 8 big-endian bytes of MD5 over the canonical UTF-8 string,
    as a SIGNED 64-bit int — must match the Java side's ``hash64``."""
    import hashlib

    return int.from_bytes(
        hashlib.md5(canon.encode("utf-8")).digest()[:8], "big", signed=True
    )


#: (physical type -> logical tags) whose raw dictionary values
#: canonicalize losslessly into the Java rule's literal space (ints ->
#: decimal text, UTF8 strings -> text).  Float/double literals have an
#: engine-ambiguous text form and raw-binary BYTE_ARRAY isn't UTF-8 —
#: both excluded; this is the identity gate of
#: dictprune._IDENTITY_LOGICAL narrowed to digest-safe types.
_DIGEST_LOGICAL = {
    "INT32": {"NONE", "INT(32,true)"},
    "INT64": {"NONE", "INT(64,true)"},
    "BYTE_ARRAY": {"STRING"},
}


def _per_file_digests(
    index: MetadataIndex,
    columns: list[str],
    max_values: int = 65536,
) -> dict[str, dict[str, bytes]]:
    """file -> column -> big-endian-packed sorted 64-bit value hashes,
    built from dictionary pages (the q03e probe, lifted to FILE scope).

    A (file, column) gets a digest only when EVERY row group's chunk is
    provably fully dictionary-encoded, the physical+logical mapping is
    an identity (a DECIMAL-as-INT or unsigned column must never be
    probed — round-10 ADVICE), every dictionary page decodes, and the
    file-wide value-set stays under ``max_values``.  Anything else is
    simply absent — the rule then keeps the file, so digests are a pure
    optimization.

    Scale shape: one footer + one tiny dictionary page read per
    surviving (file, chunk) on the driver — the ≤32-file driver-local
    registration shape (matching the bounded stats push above);
    catalog-scale roots should keep routing through smart_read /
    MetadataIndex.read, whose dictionary probing runs executor-side."""
    import struct

    from palletjack_spark.index.dictprune import DictionaryProber

    want = set(columns)
    local = index.local()
    prober = DictionaryProber()
    values: dict[tuple[str, str], set] = {}
    complete: dict[tuple[str, str], bool] = {}
    for (file, rg_idx), rg in sorted(local.row_groups.items()):
        for col_idx, col in enumerate(rg["columns"]):
            name = col["name"]
            if name not in want:
                continue
            key = (file, name)
            if not complete.get(key, True):
                continue
            pt = (col.get("physical_type") or "").upper()
            if col.get("logical_type") not in _DIGEST_LOGICAL.get(pt, ()):
                complete[key] = False
                continue
            d = prober._dictionary(file, rg_idx, col_idx, col)
            if d is None:
                complete[key] = False
                continue
            vals = values.setdefault(key, set())
            vals.update(d)
            if len(vals) > max_values:
                complete[key] = False
            else:
                complete[key] = True
    out: dict[str, dict[str, bytes]] = {}
    for (file, name), vals in sorted(values.items()):
        if not complete.get((file, name)):
            continue
        try:
            hashes = sorted(
                _digest_hash64(
                    v.decode("utf-8") if isinstance(v, bytes) else str(v)
                )
                for v in vals
            )
        except UnicodeDecodeError:
            continue  # not actually UTF-8: no digest, file always kept
        out.setdefault(file, {})[name] = struct.pack(f">{len(hashes)}q", *hashes)
    return out


#: physical-type tag bytes of the packed bloom push (must match
#: PalletJackRegistry.BloomEntry's decoding)
_BLOOM_PTYPE_TAG = {"INT32": 0, "INT64": 1, "BYTE_ARRAY": 2}


def _per_file_blooms(
    index: MetadataIndex, columns: list[str]
) -> dict[str, dict[str, bytes]]:
    """file -> column -> packed per-chunk split-block bloom bitsets
    (layout documented on PalletJackRegistry.BLOOMS), built from the
    files' STANDARD parquet bloom filters (index/bloomprune.py readers).

    A (file, column) is pushed only when the physical+logical mapping is
    an identity (same gate as the digests — a DECIMAL-as-INT or unsigned
    column's raw hash input is not the literal's value space) and EVERY
    row group's chunk carries a readable BLOCK/XXHASH/UNCOMPRESSED
    filter; anything else is absent → the rule keeps the file.  This is
    the point-lookup evidence for exactly the files the digest builder
    refuses: dict-OVERFLOW high-cardinality columns.

    Scale shape: one footer + one bitset read per (file, chunk) on the
    driver, shared with the bloom tier through the footer's memo — the
    same ≤32-file registration shape as the stats push."""
    import struct

    from palletjack_spark.index.bloomprune import BloomProber

    want = set(columns)
    local = index.local()
    prober = BloomProber()
    chunks: dict[tuple[str, str], list[bytes]] = {}
    tags: dict[tuple[str, str], int] = {}
    complete: dict[tuple[str, str], bool] = {}
    for (file, rg_idx), rg in sorted(local.row_groups.items()):
        for col_idx, col in enumerate(rg["columns"]):
            name = col["name"]
            if name not in want:
                continue
            key = (file, name)
            if complete.get(key) is False:
                continue
            pt = (col.get("physical_type") or "").upper()
            if (
                pt not in _BLOOM_PTYPE_TAG
                or col.get("logical_type") not in _DIGEST_LOGICAL.get(pt, ())
            ):
                complete[key] = False
                continue
            words = prober._bloom(file, rg_idx, col_idx)
            if words is None:
                complete[key] = False
                continue
            tags[key] = _BLOOM_PTYPE_TAG[pt]
            chunks.setdefault(key, []).append(
                struct.pack(">I", len(words) * 4)
                + struct.pack(f"<{len(words)}I", *words)
            )
            complete[key] = True
    out: dict[str, dict[str, bytes]] = {}
    for (file, name), parts in sorted(chunks.items()):
        if not complete.get((file, name)):
            continue
        out.setdefault(file, {})[name] = (
            bytes([tags[(file, name)]])
            + struct.pack(">I", len(parts))
            + b"".join(parts)
        )
    return out


#: numeric physical types whose raw page-stat values ARE the Catalyst
#: literal's value space (identity logical tags only — a DECIMAL-as-INT,
#: unsigned, or date/time re-encoding must never push intervals)
_INTERVAL_LOGICAL = {
    "INT32": {"NONE", "INT(32,true)"},
    "INT64": {"NONE", "INT(64,true)"},
    "FLOAT": {"NONE"},
    "DOUBLE": {"NONE"},
}


def _per_file_intervals(
    index: MetadataIndex,
    columns: list[str],
    max_intervals: int = 4096,
) -> dict[str, dict[str, bytes]]:
    """file -> column -> packed page-envelope interval set (the q03h
    page-index tier lifted to FILE scope): the union of the file's
    per-page [min, max] envelopes from its parquet ColumnIndexes, merged
    to disjoint lo-sorted intervals and packed as
    ``[4B BE count][count x (8B BE double lo, 8B BE double hi)]``.

    A (file, column) is pushed only when the physical+logical mapping is
    a numeric identity and EVERY row group carries a readable
    ColumnIndex whose every non-NULL page decodes; all-NULL pages add no
    interval (value conjuncts can't match them), so an all-NULL column
    pushes a valid EMPTY set.  Bounds round min-down/max-up into doubles
    (``predicate.floor_double``/``ceil_double``) so int64 beyond 2^53
    stays a superset.  Sets larger than ``max_intervals`` coarsen by merging the
    smallest inter-interval gaps — still a superset, never unsound.
    Anything else is simply absent → the rule keeps the file.

    Scale shape: one footer + one page-index read per (file, chunk) on
    the driver, shared with the page tier through the footer's memo — the
    same ≤32-file registration shape as the stats push."""
    import struct

    from palletjack_spark.index.pageprune import PageProber

    want = set(columns)
    local = index.local()
    prober = PageProber()
    spans: dict[tuple[str, str], list] = {}
    complete: dict[tuple[str, str], bool] = {}
    for (file, rg_idx), rg in sorted(local.row_groups.items()):
        for col_idx, col in enumerate(rg["columns"]):
            name = col["name"]
            if name not in want:
                continue
            key = (file, name)
            if complete.get(key) is False:
                continue
            pt = (col.get("physical_type") or "").upper()
            if col.get("logical_type") not in _INTERVAL_LOGICAL.get(pt, ()):
                complete[key] = False
                continue
            ci, _oi = prober._index(file, rg_idx, col_idx, pt)
            if ci is None:
                complete[key] = False
                continue
            ok = True
            got = spans.setdefault(key, [])
            for i, null_page in enumerate(ci["null_pages"]):
                if null_page:
                    continue  # no non-NULL values: no interval
                lo, hi = ci["mins"][i], ci["maxs"][i]
                if lo is None or hi is None:
                    ok = False  # undecodable bound: no evidence at all
                    break
                got.append((floor_double(lo), ceil_double(hi)))
            complete[key] = ok
    out: dict[str, dict[str, bytes]] = {}
    for (file, name), pairs in sorted(spans.items()):
        if not complete.get((file, name)):
            continue
        pairs.sort()
        merged: list[list[float]] = []
        for lo, hi in pairs:
            if merged and lo <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        if len(merged) > max_intervals:
            # coarsen: close the smallest gaps first — the result stays
            # a superset of the true value set
            gaps = sorted(
                (merged[i + 1][0] - merged[i][1], i)
                for i in range(len(merged) - 1)
            )
            close = {i for _g, i in gaps[: len(merged) - max_intervals]}
            coarse: list[list[float]] = []
            for i, iv in enumerate(merged):
                if coarse and (i - 1) in close:
                    coarse[-1][1] = max(coarse[-1][1], iv[1])
                else:
                    coarse.append(iv)
            merged = coarse
        flat = [v for iv in merged for v in iv]
        out.setdefault(file, {})[name] = struct.pack(
            f">I{len(flat)}d", len(merged), *flat
        )
    return out


def register_index_jvm(
    spark: SparkSession,
    path: str,
    index: MetadataIndex | None = None,
    digest_columns: list[str] | None = None,
    digest_max_values: int = 65536,
    bloom_columns: list[str] | None = None,
    page_columns: list[str] | None = None,
) -> int:
    """Build (or reuse) the metadata index for ``path`` and push its
    per-file stats into the JVM registry, arming the optimizer rule for
    every query over that root in this session — including pure
    ``spark.sql(...)``.  Returns the number of files registered.

    The push is bounded: files × columns × 2 doubles (the aggregated
    sidecar, not the per-row-group table).

    ``digest_columns`` additionally pushes per-(file, column) MEMBERSHIP
    digests (sorted 64-bit hashes of each file's complete dictionary
    value set, :func:`_per_file_digests`) for the named columns: pure-SQL
    equality/IN point lookups then prune files whose [min, max] spans the
    literal but whose dictionaries provably lack it — the q03e
    interleaved-key layout, where min/max pruning keeps everything.
    Digest-eligible columns are identity-typed INT32/INT64/BYTE_ARRAY
    with fully-dictionary-encoded chunks; everything else silently gets
    no digest (kept conservatively, results identical).

    ``bloom_columns`` (round 11) pushes the files' STANDARD parquet
    split-block bloom filters (:func:`_per_file_blooms`) — the
    point-lookup evidence for exactly the columns the digests refuse:
    dict-OVERFLOW high-cardinality keys.  A file is pruned for an
    equality/IN literal only when EVERY chunk's filter misses it (a
    bloom miss is a proof of absence; hits and absent filters keep).
    Typically produced by ``bloomprune.add_bloom_filters`` on data at
    rest, or any parquet-mr writer.

    ``page_columns`` (round 11) pushes per-(file, column) PAGE-ENVELOPE
    interval sets from the files' parquet page indexes
    (:func:`_per_file_intervals`) — the q03h envelope-gap tier at file
    scope: pure-SQL point lookups, IN lists, and conjunct-intersected
    RANGE boxes prune files whose overall [min, max] spans the literal
    but whose per-page value bands provably miss it.  The one file-level
    evidence that serves range predicates beyond plain min/max."""
    if not jvm_routing_available(spark):
        raise PalletJackSparkError(
            "JVM routing classes are not on the driver classpath; launch "
            "the session with palletjack_spark.index.jvm_routing."
            "pyspark_submit_args() (spark.sql.extensions="
            f"{EXTENSION_CLASS}), or use enable_auto_routing() — the "
            "Python DataFrame-layer fallback"
        )
    if index is None:
        index = build_index(spark, path)
    stats = _per_file_stats(index)
    jvm = spark._jvm
    gateway = spark.sparkContext._gateway
    jfiles = jvm.java.util.HashMap()
    for file, cols in stats.items():
        jcols = jvm.java.util.HashMap()
        for name, vals in cols.items():
            arr = gateway.new_array(jvm.double, len(vals))
            for i, v in enumerate(vals):
                arr[i] = v
            jcols.put(name, arr)
        jfiles.put(file, jcols)
    jvm.io.palletjack.spark.PalletJackRegistry.register(path, jfiles)
    if digest_columns:
        digests = _per_file_digests(
            index, list(digest_columns), digest_max_values
        )
        jdig = jvm.java.util.HashMap()
        for file, cols in digests.items():
            jcols = jvm.java.util.HashMap()
            for name, packed in cols.items():
                jcols.put(name, packed)
            jdig.put(file, jcols)
        jvm.io.palletjack.spark.PalletJackRegistry.registerDigests(path, jdig)
    if bloom_columns:
        blooms = _per_file_blooms(index, list(bloom_columns))
        jblm = jvm.java.util.HashMap()
        for file, cols in blooms.items():
            jcols = jvm.java.util.HashMap()
            for name, packed in cols.items():
                jcols.put(name, packed)
            jblm.put(file, jcols)
        jvm.io.palletjack.spark.PalletJackRegistry.registerBlooms(path, jblm)
    if page_columns:
        intervals = _per_file_intervals(index, list(page_columns))
        jiv = jvm.java.util.HashMap()
        for file, cols in intervals.items():
            jcols = jvm.java.util.HashMap()
            for name, packed in cols.items():
                jcols.put(name, packed)
            jiv.put(file, jcols)
        jvm.io.palletjack.spark.PalletJackRegistry.registerIntervals(path, jiv)
    return len(stats)


def unregister_index_jvm(spark: SparkSession, path: str) -> None:
    spark._jvm.io.palletjack.spark.PalletJackRegistry.unregister(path)


def jvm_prune_events(spark: SparkSession) -> list[dict]:
    """All of the JVM rule's recorded pruning decisions (oldest first),
    parsed from the registry's event log — the same payload the
    injected SQL function ``palletjack_prune_explain()`` returns to
    pure-SQL clients.  Each event mirrors
    :func:`palletjack_spark.index.explain.prune_explain_counts`'s
    shape at file scope::

        {"seq": 3, "root": "/data", "predicate": "(v = 123)",
         "total": 4, "kept": 1,
         "pruned": {"stats": 3, "dictionary": 0, "bloom": 0, "page": 0}}

    (partition pruning is Spark's own scan-time job and never appears
    here — the rule keeps the partition spec intact).  Decisions that
    kept everything are recorded too: "why did my point lookup scan
    400 files" has an answer (kept == total, all tiers 0 — no
    registered evidence could exclude anything)."""
    import json

    return json.loads(
        str(spark._jvm.io.palletjack.spark.PalletJackRegistry.pruneEventsJson())
    )


def jvm_last_prune(spark: SparkSession, path: str) -> dict | None:
    """The NEWEST pruning decision for the registered root covering
    ``path``, or None — the one-argument form of the SQL function."""
    import json

    return json.loads(
        str(
            spark._jvm.io.palletjack.spark.PalletJackRegistry.lastPruneJson(
                path
            )
        )
    )


def clear_jvm_prune_events(spark: SparkSession) -> None:
    spark._jvm.io.palletjack.spark.PalletJackRegistry.clearPruneEvents()


def jvm_prune_totals(spark: SparkSession) -> list[dict]:
    """Per-root CUMULATIVE pruning counters (round-13 verdict item 6) —
    unlike the bounded 256-event ring, these survive eviction, so a
    long-running session keeps an accurate lifetime tally.  Each entry::

        {"root": "/data", "decisions": 12, "total": 48, "kept": 12,
         "pruned": {"stats": 30, "dictionary": 4, "bloom": 2, "page": 0}}

    ``decisions`` counts DEDUPLICATED rule decisions (optimizer
    fixed-point iterations collapse, the recordPrune contract).  The
    same payload backs the injected SQL function
    ``palletjack_prune_totals()`` for pure-SQL clients."""
    import json

    return json.loads(
        str(spark._jvm.io.palletjack.spark.PalletJackRegistry.pruneTotalsJson())
    )


def register_prune_events_udtf(spark: SparkSession) -> None:
    """Register ``palletjack_prune_events`` — a Python UDTF (Spark 4
    table function) that turns the JSON payloads of the injected SQL
    functions into a PROPER TABLE, one row per (decision, tier), so SQL
    users aggregate without JSON parsing (round-13 verdict item 6)::

        SELECT tier, SUM(n_pruned) AS files_pruned
        FROM palletjack_prune_events(palletjack_prune_explain())
        GROUP BY tier;

    The argument is any JSON the explain/totals functions emit: the
    event-log array (zero-arg ``palletjack_prune_explain()``), one
    root's newest decision (its one-arg form), or the cumulative
    ``palletjack_prune_totals()`` array — single objects are treated as
    one-element arrays, and totals rows surface their lifetime
    ``decisions`` count in ``seq`` with ``predicate`` NULL.  Works in
    FROM position because both source functions fold to string literals
    at analysis time."""
    from pyspark.sql.functions import udtf

    class _PruneEvents:
        def eval(self, events_json):
            import json

            if not events_json:
                return
            data = json.loads(events_json)
            if data is None:
                return
            if isinstance(data, dict):
                data = [data]
            for e in data:
                for tier, n in (e.get("pruned") or {}).items():
                    yield (
                        int(e.get("seq", e.get("decisions", 0))),
                        e.get("root"),
                        e.get("predicate"),
                        int(e.get("total", 0)),
                        int(e.get("kept", 0)),
                        tier,
                        int(n),
                    )

    spark.udtf.register(
        "palletjack_prune_events",
        udtf(
            _PruneEvents,
            returnType=(
                "seq bigint, root string, predicate string, total int, "
                "kept int, tier string, n_pruned int"
            ),
        ),
    )
