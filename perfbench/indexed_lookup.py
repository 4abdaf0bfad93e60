"""indexed_lookup: predicate reads through a driver-local index.

Few enough files for ``build_index``'s driver path, so every pruning tier
plans on the driver.  Columns: a sorted ``id`` (stats tier), an
interleaved dictionary-encoded key ``k`` (dictionary tier), a
high-cardinality ``h`` with bloom filters added by ``add_bloom_filters``
(bloom tier), a ``g`` whose pages leave value gaps, with a page index
(page tier), and a payload ``v``.  The ops cycle through the four tiers
in seed-shuffled blocks.  One op = ``MetadataIndex.read(predicate,
columns).collect()``, checked against an unpruned pyarrow read of the
raw files filtered in memory.  A traced run also builds the persisted,
bucketed sidecar and appends to it (``_sidecar_side``).

``index_build_s`` is the median of the driver-path ``build_index`` calls
made one after each measured op, outside its timing: spread over the
run, they see the same host as the ops (back to back, they all fell into
one burst of host load or none).
"""

from __future__ import annotations

import os
import time

import numpy as np

import spark_ops
from harness import OpLog, SparkRun, median, peak_rss_mb, timed_shards

FULL = dict(files=16, row_groups=16, rows=2048)
SMOKE = dict(files=4, row_groups=4, rows=2048)
PAGE_ROWS = 1024  # rows per data page of ``g`` (8 KiB pages of int64)
PAGE_STRIDE = 10_000  # value distance between consecutive pages of ``g``
KEYS = 128  # key pool of ``k``; each row group draws from 16 of them
SIDECAR_BUCKETS = 4
APPENDED = 2  # files appended to the persisted sidecar in a traced run
TIERS = ("stats", "dictionary", "bloom", "page")  # one op of each per block
COLUMNS = ["id", "v"]


def make_file(directory: str, seed: int, f: int, shape: dict) -> str:
    """Write one file with a page index, then add bloom filters on ``h``
    (runs in a pool worker)."""
    import pyarrow.parquet as pq

    from palletjack_spark.index.bloomprune import add_bloom_filters

    path = os.path.join(directory, f"part-{f:03d}.parquet")
    pq.write_table(_table(seed, f, shape), path, row_group_size=shape["rows"],
                   use_dictionary=["k"], write_page_index=True,
                   data_page_size=PAGE_ROWS * 8, write_batch_size=PAGE_ROWS)
    add_bloom_filters(path, ["h"])
    return path


def _table(seed: int, f: int, shape: dict):
    import pyarrow as pa

    rng = np.random.default_rng([seed, f])
    nrg, rpg = shape["row_groups"], shape["rows"]
    n = nrg * rpg
    pool = np.array([f"key{j:03d}" for j in range(KEYS)], dtype=object)
    keys = np.concatenate([
        rng.choice(rng.choice(KEYS, 16, replace=False), rpg) for _ in range(nrg)
    ])
    i = np.arange(n) % rpg
    rg = (f * nrg + np.arange(n) // rpg).astype(np.int64)
    return pa.table({
        "id": np.arange(f * n, (f + 1) * n, dtype=np.int64),
        "k": pa.array(pool[keys], pa.string()),
        "h": rng.integers(0, 1 << 40, n, dtype=np.int64),
        "g": rg * 1_000_000 + (i // PAGE_ROWS) * PAGE_STRIDE + i % PAGE_ROWS,
        "v": rng.random(n),
    })


def _ops(seed: int, shape: dict, full):
    """Endless stream of (tier, predicate) in blocks of the four tiers."""
    rng = np.random.default_rng([seed, 1])
    n_rows = full.num_rows
    n_rg = shape["files"] * shape["row_groups"]
    h = full.column("h").to_numpy()
    while True:
        for t in rng.permutation(TIERS):
            if t == "stats":
                lo = int(rng.integers(n_rows))
                pred = [("id", "between", lo, lo + int(rng.integers(100, 4000)))]
            elif t == "dictionary":
                pred = [("k", "==", f"key{int(rng.integers(KEYS)):03d}")]
            elif t == "bloom":
                pred = [("h", "==", int(h[rng.integers(n_rows)]))]
            else:  # a range inside the gap after a row group's first page
                base = int(rng.integers(n_rg)) * 1_000_000 + PAGE_ROWS
                lo = base + int(rng.integers(PAGE_STRIDE - PAGE_ROWS - 600))
                pred = [("g", ">=", lo), ("g", "<=", lo + 500)]
            yield str(t), pred


def _sidecar_side(ctx, sr, paths: list) -> dict:
    """Traced runs only: the persisted, bucketed sidecar path of
    ``build_index``.  A build over all but the last ``APPENDED`` files,
    then an incremental append of those."""
    from palletjack_spark import build_index

    index_dir = os.path.join(ctx.work, "sidecar")
    base = paths[:-APPENDED]
    build_index(sr.spark, base, index_dir=index_dir, use_cache=False,
                catalog_buckets=SIDECAR_BUCKETS)
    sidecar_bytes = sum(os.path.getsize(os.path.join(d, f))
                        for d, _, files in os.walk(index_dir) for f in files)
    t = time.perf_counter()
    build_index(sr.spark, paths, index_dir=index_dir, incremental=True,
                use_cache=False)
    return {"builder.append_s": time.perf_counter() - t,
            "index.bytes_ratio": sidecar_bytes / sum(map(os.path.getsize, base))}


def run(ctx) -> dict:
    from palletjack_spark import build_index

    shape = SMOKE if ctx.smoke else FULL
    data = os.path.join(ctx.work, "data")
    os.makedirs(data)

    sr = SparkRun(ctx)
    try:
        paths, data_s = timed_shards(
            ctx, make_file,
            [(data, ctx.seed, f, shape) for f in range(shape["files"])],
            shards=4,
        )
        t0 = time.perf_counter()
        truth = spark_ops.Truth(paths, COLUMNS, corrupt=ctx.corrupt)
        truth_s = time.perf_counter() - t0

        t = time.perf_counter()
        idx = build_index(sr.spark, paths, use_cache=False)
        first_build_s = time.perf_counter() - t
        build_s = []

        def build_between():
            t = time.perf_counter()
            build_index(sr.spark, paths, use_cache=False)
            build_s.append(time.perf_counter() - t)

        def op_call(op):
            _, pred = op
            return idx.read(predicate=pred, columns=COLUMNS), "collect"

        def expect(op):
            return truth.rows(op[1])

        ops = _ops(ctx.seed, shape, truth.table)
        t0 = time.perf_counter()
        warm = OpLog()
        spark_ops.loop(ctx, sr, ops, op_call, expect, warm, max_ops=len(TIERS))
        parts = {"session": sr.start_s, "data": data_s, "truth": truth_s,
                 "build": first_build_s, "warmup": time.perf_counter() - t0}

        res = spark_ops.measure(ctx, sr, ops, op_call, expect,
                                block=len(TIERS), between=build_between)
        if ctx.trace:
            classes = {}
            for tier, pred in _ops(ctx.seed, shape, truth.table):
                classes.setdefault(tier, pred)
                if len(classes) == len(TIERS):
                    break
            res["layers"].update(spark_ops.explain(
                idx, [(p, None) for p in classes.values()]))
            res["layers"]["builder.build_s"] = median(build_s)
            res["layers"].update(_sidecar_side(ctx, sr, paths))
            res["explain"] = classes
        rss = peak_rss_mb(sr.jvm_pid)
    finally:
        sr.stop()

    res["setup_parts"] = parts
    res["rss_parts"] = rss
    res["e2e"].update(setup_s=sum(parts.values()), index_build_s=median(build_s),
                      rss_peak_mb=rss["python"])
    res["logs"].insert(0, warm)
    return res
