"""The closed loop, checking and per-layer numbers of a Spark workload.

One op = a planning call into ``metadata_index`` that returns a DataFrame
(span ``metadata_index.plan``) and the action that runs it through the
``arrow_scan`` source (span ``arrow_scan.exec``).  Traced ops each run
under their own Spark job group, read back from Spark's status stores.
"""

from __future__ import annotations

from functools import reduce

from harness import OpLog, closed_loop, median, tail

# per-op Spark figures reported as a mean (counts, bytes) or a median (ms)
_MEAN = ("jobs", "stages", "tasks", "input_bytes", "shuffle_bytes",
         "python_sent_bytes", "python_returned_bytes")
_MEDIAN = ("executor_run_ms", "executor_cpu_ms", "python_start_ms",
           "python_init_ms", "python_run_ms")


class Truth:
    """Expected answers from an unpruned pyarrow read of every row group
    of every raw file, filtered in memory: independent of the index."""

    _OPS = {"==": "equal", ">=": "greater_equal", "<=": "less_equal"}

    def __init__(self, paths, columns, corrupt: bool = False):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.table = pa.concat_tables(pq.read_table(p) for p in paths)
        self.columns = columns
        self.corrupt = corrupt

    def rows(self, predicate) -> list[tuple]:
        import pyarrow.compute as pc

        masks = []
        for col, op, *vals in predicate:
            c = self.table.column(col)
            if op == "between":
                masks.append(pc.and_(pc.greater_equal(c, vals[0]),
                                     pc.less_equal(c, vals[1])))
            else:
                masks.append(getattr(pc, self._OPS[op])(c, vals[0]))
        t = self.table.filter(reduce(pc.and_, masks)).select(self.columns)
        out = sorted(zip(*(t.column(c).to_pylist() for c in self.columns)))
        if self.corrupt:
            out.append(None)  # a row no read can return
        return out


def loop(ctx, sr, ops, op_call, expect, log: OpLog, seconds=float("inf"),
         max_ops=None, per_op=None, block=1, between=None) -> float:
    """Closed loop over ``ops``.  ``op_call(op)`` plans and returns
    ``(DataFrame, "count" | "collect")``; ``expect(op)`` gives the right
    answer (an int, or the sorted row tuples).  With ``per_op`` a list,
    each op runs in its own job group and its Spark figures are appended
    after the op, outside its timing.  ``between()``, when given, runs
    after each op too, also outside its timing."""
    tr = ctx.tracer
    group = [None]

    def run_op(op, i):
        if per_op is not None:
            group[0] = f"perfbench-{len(per_op)}-{i}"
            sr.group(group[0])
        with tr.span("op", i):
            with tr.span("metadata_index.plan", i):
                df, action = op_call(op)
            with tr.span("arrow_scan.exec", i):
                return df.count() if action == "count" else df.collect()

    def check(op, result):
        if per_op is not None:
            m = sr.group_metrics(group[0])
            m["driver_gap_ms"] = log.lat_ms[-1] - m.pop("job_wall_ms")
            per_op.append(m)
        got = result if isinstance(result, int) else sorted(tuple(r) for r in result)
        if between is not None:
            between()
        return got == expect(op)

    return closed_loop(ops, seconds, run_op, check, log, max_ops=max_ops,
                       block=block)


def measure(ctx, sr, ops, op_call, expect, block: int, between=None) -> dict:
    """The measured loop, in whole blocks of the op stream; a traced run
    measures half its time untraced and half traced, and reports the
    difference as tracing overhead."""
    tr = ctx.tracer
    log = OpLog()
    busy = loop(ctx, sr, ops, op_call, expect, log, block=block,
                seconds=ctx.seconds / (2 if ctx.trace else 1),
                between=between)
    lat = log.lat_ms
    tail_ms, pct, n = tail(lat)
    res = {
        "e2e": {"op_p50_ms": median(lat), "op_tail_ms": tail_ms,
                "ops_per_s": len(lat) / busy},
        "tail_pct": pct, "tail_n": n, "logs": [log], "layers": {},
    }
    if ctx.trace:
        tr.enabled = True
        traced, per_op = OpLog(), []
        loop(ctx, sr, ops, op_call, expect, traced, block=block,
             seconds=ctx.seconds / 2, per_op=per_op, between=between)
        res["logs"].append(traced)
        layers = res["layers"]
        layers["metadata_index.plan_ms"] = median(tr.durations_ms("metadata_index.plan"))
        layers["arrow_scan.exec_ms"] = median(tr.durations_ms("arrow_scan.exec"))
        layers["op.self_ms"] = median(tr.self_ms("op"))
        layers["trace.overhead_ms"] = median(traced.lat_ms) - median(lat)
        layers["driver_gap_ms"] = median([m["driver_gap_ms"] for m in per_op])
        for k in _MEAN:
            layers[f"spark.{k}"] = sum(m[k] for m in per_op) / max(1, len(per_op))
        for k in _MEDIAN:
            layers[f"spark.{k}"] = median([m[k] for m in per_op])
    return res


def explain(idx, selections) -> dict:
    """``prune_explain_counts`` summed over one ``(predicate, files)``
    selection per op class."""
    from palletjack_spark import prune_explain_counts
    from palletjack_spark.index.explain import TIERS

    total = kept = 0
    pruned = dict.fromkeys(TIERS, 0)
    for predicate, files in selections:
        c = prune_explain_counts(idx, predicate, files=files)
        total += c["total"]
        kept += c["kept"]
        for t in TIERS:
            pruned[t] += c["pruned"][t]
    out = {"explain.rg_total": total, "explain.rg_kept": kept,
           "explain.kept_fraction": kept / total if total else 0.0}
    out.update({f"explain.pruned.{t}": v for t, v in pruned.items()})
    return out

