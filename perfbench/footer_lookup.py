"""footer_lookup: the paper's own workload, with no Spark.

Wide files with large Thrift footers, each with a PJS1 sidecar.  One op
picks a Zipf-skewed file, a uniform row group and 1-8 columns, reads the
pruned metadata from the sidecar (``read_metadata``), opens the file with
it (``ParquetReader.open(metadata=)``) and decodes (``read_all``).  About
one op in twenty is a ``read_schema`` instead.  More files than the
engine's 16-entry footer cache, so the hot head hits it and the tail
misses.  Beside the reads runs the write side: about ``WRITES`` times
per measured run, between two ops and outside their timing, one file is
rewritten (same rows, new mtime, so no footer cache of the engine holds
it), its sidecar regenerated (traced as ``footer_splice.generate``) and a
read through it checked.  ``index_build_s`` is the median generation
time.  Spread over the run, the generations see the same host as the
reads; as one batch they all fell into the same second or two, and
their median swung by half between runs with the host's load.
"""

from __future__ import annotations

import os
import time

import numpy as np

from harness import OpLog, closed_loop, median, peak_rss_mb, tail, timed_shards

FULL = dict(files=48, row_groups=64, columns=128, rows=10)
SMOKE = dict(files=20, row_groups=8, columns=16, rows=10)
ZIPF_S = 1.1
SCHEMA_EVERY = 20  # one op in twenty is read_schema
NATIVE_EVERY = 20  # traced phase: one native control read per 20 ops
WARMUP_OPS = 200
WRITES = 16  # sidecar regenerations per measured run, evenly spaced


def _matrix(seed: int, i: int, shape: dict) -> np.ndarray:
    rng = np.random.default_rng([seed, i])
    return rng.random(
        (shape["row_groups"] * shape["rows"], shape["columns"]),
        dtype=np.float32,
    )


def _write(path: str, seed: int, i: int, shape: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    m = _matrix(seed, i, shape)
    table = pa.table({f"c{j}": m[:, j] for j in range(m.shape[1])})
    pq.write_table(table, path, row_group_size=shape["rows"])


def make_file(directory: str, seed: int, i: int, shape: dict) -> tuple:
    """Write one wide file and its PJS1 sidecar (runs in a pool worker).
    Returns the path and the file and sidecar sizes."""
    from palletjack_spark.index.footer_splice import generate_metadata_index

    path = os.path.join(directory, f"wide-{i:03d}.parquet")
    _write(path, seed, i, shape)
    generate_metadata_index(path, path + ".pjs1")
    return path, os.path.getsize(path), os.path.getsize(path + ".pjs1")


def _ops(seed: int, shape: dict):
    """Endless op stream: (file, row group, column indices, schema_only)."""
    rng = np.random.default_rng([seed, 1])
    n = shape["files"]
    order = rng.permutation(n)  # which file is hottest depends on the seed
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    p /= p.sum()
    while True:
        files = order[rng.choice(n, size=4096, p=p)]
        for f in files:
            rg = int(rng.integers(shape["row_groups"]))
            k = int(rng.integers(1, 9))
            cols = sorted(int(c) for c in rng.choice(shape["columns"], k, replace=False))
            yield int(f), rg, cols, bool(rng.integers(SCHEMA_EVERY) == 0)


def run(ctx) -> dict:
    import pyarrow.parquet as pq

    from palletjack_spark.index.footer_splice import (
        generate_metadata_index,
        read_metadata,
        read_schema,
    )

    shape = SMOKE if ctx.smoke else FULL
    tr = ctx.tracer
    data = os.path.join(ctx.work, "data")
    os.makedirs(data)

    # -- set-up: data and sidecars, then the expected answers ---------------
    made, data_s = timed_shards(
        ctx, make_file,
        [(data, ctx.seed, i, shape) for i in range(shape["files"])],
        shards=4,
    )
    t0 = time.perf_counter()
    paths = [m[0] for m in made]
    expected = [_matrix(ctx.seed, i, shape) for i in range(shape["files"])]
    if ctx.corrupt:
        for m in expected:
            m += 1.0
    parts = {"data": data_s, "truth": time.perf_counter() - t0}
    rows = shape["rows"]

    def run_op(op, i):
        f, rg, cols, schema_only = op
        with tr.span("op", i):
            if schema_only:
                with tr.span("footer_splice.read_schema", i):
                    return read_schema(paths[f] + ".pjs1", column_indices=cols)
            with tr.span("footer_splice.read_metadata", i):
                md = read_metadata(paths[f] + ".pjs1", row_groups=[rg],
                                   column_indices=cols)
            reader = pq.ParquetReader()
            try:
                with tr.span("pyarrow.open", i):
                    reader.open(paths[f], metadata=md)
                with tr.span("pyarrow.decode", i):
                    return reader.read_all()
            finally:
                reader.close()

    def check(op, result):
        f, rg, cols, schema_only = op
        names = [f"c{j}" for j in cols]
        if schema_only:
            return result.names == names
        if result.column_names != names or result.num_rows != rows:
            return False
        want = expected[f][rg * rows:(rg + 1) * rows]
        return all(
            np.array_equal(result.column(k).to_numpy(), want[:, j])
            for k, j in enumerate(cols)
        )

    # -- write side, run between ops of the measured loop ------------------
    targets = iter(np.random.default_rng([ctx.seed, 2]).permutation(
        np.arange(shape["files"]).repeat(4)).tolist())
    gen_s, verify = [], OpLog()
    # the write clock runs on op time: wall time minus the time between ops
    between, due = [0.0], [0.0]

    def write_beside(inner):
        def check_and_write(op, result):
            t_in = time.perf_counter()
            ok = inner(op, result)
            if t_in - between[0] >= due[0]:
                due[0] = t_in - between[0] + ctx.seconds / WRITES
                f = next(targets)
                _write(paths[f], ctx.seed, f, shape)
                t = time.perf_counter()
                with tr.span("footer_splice.generate", f):
                    generate_metadata_index(paths[f], paths[f] + ".pjs1")
                gen_s.append(time.perf_counter() - t)
                closed_loop([(f, f % shape["row_groups"], [0, shape["columns"] - 1], False)],
                            float("inf"), run_op, check, verify)
            between[0] += time.perf_counter() - t_in
            return ok
        return check_and_write

    ops = _ops(ctx.seed, shape)
    warm = OpLog()
    closed_loop(ops, float("inf"), run_op, check, warm, max_ops=WARMUP_OPS)

    # -- measured loop (traced runs: untraced half, then traced half) -------
    log = OpLog()
    busy = closed_loop(ops, ctx.seconds / (2 if ctx.trace else 1), run_op,
                       write_beside(check), log)
    logs = [warm, log]
    if ctx.trace:
        traced = OpLog()
        tr.enabled = True
        closed_loop(ops, ctx.seconds / 2, run_op,
                    write_beside(_with_control(check, paths, tr)), traced)
        logs.append(traced)

    lat = log.lat_ms
    tail_ms, pct, n = tail(lat)
    rss = peak_rss_mb()
    out = {
        "e2e": {
            "setup_s": sum(parts.values()),
            "op_p50_ms": median(lat),
            "op_tail_ms": tail_ms,
            "ops_per_s": len(lat) / busy,
            "index_build_s": median(gen_s),
            "rss_peak_mb": rss["python"],
        },
        "setup_parts": parts,
        "rss_parts": rss,
        "tail_pct": pct,
        "tail_n": n,
        "logs": [verify] + logs,
    }
    if ctx.trace:
        md_ms = tr.durations_ms("footer_splice.read_metadata")
        md_tail, _, _ = tail(md_ms)
        out["layers"] = {
            "footer_splice.read_metadata_p50_ms": median(md_ms),
            "footer_splice.read_metadata_tail_ms": md_tail,
            "footer_splice.read_schema_ms": median(tr.durations_ms("footer_splice.read_schema")),
            "footer_splice.generate_ms": median(tr.durations_ms("footer_splice.generate")),
            "pyarrow.open_ms": median(tr.durations_ms("pyarrow.open")),
            "pyarrow.decode_ms": median(tr.durations_ms("pyarrow.decode")),
            "control.native_read_ms": median(tr.durations_ms("control.native_read")),
            "index.bytes_ratio": sum(m[2] for m in made) / sum(m[1] for m in made),
            "op.self_ms": median(tr.self_ms("op")),
            "trace.overhead_ms": median(traced.lat_ms) - median(lat),
        }
    return out


def _with_control(check, paths, tr):
    """Traced phase: every ``NATIVE_EVERY`` ops, after the op and outside
    its timing, also time the unindexed read the paper replaces
    (``ParquetFile(path).read_row_group``): a control that is recorded
    and never gated on."""
    import pyarrow.parquet as pq

    seen = [0]

    def traced_check(op, result):
        f, rg, cols, schema_only = op
        seen[0] += 1
        if seen[0] % NATIVE_EVERY == 0 and not schema_only:
            with tr.span("control.native_read"), pq.ParquetFile(paths[f]) as pf:
                pf.read_row_group(rg, columns=[f"c{j}" for j in cols])
        return check(op, result)

    return traced_check
