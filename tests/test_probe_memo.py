"""The dictionary, bloom and page tiers keep their probe facts in each
footer's memo: a second read of an unchanged file re-walks no column
chunk and re-reads no dictionary page, bitset or page index, a rewritten
file gets fresh facts, and warm verdicts equal cold ones."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_DIR  # noqa: F401  (session fixture import)

ROW_GROUPS, ROWS, PAGE_ROWS = 4, 2048, 1024


def _write(path: str, seed: int, key_base: int) -> None:
    """4 row groups: a sorted ``id`` (stats tier), a dictionary key ``k``
    whose row groups interleave (rg r holds keys r, r+4, r+8, r+12 past
    ``key_base``), a bloom-filtered high-cardinality ``h``, and a ``g``
    whose pages leave a value gap (page index)."""
    from palletjack_spark.index.bloomprune import add_bloom_filters

    rng = np.random.default_rng(seed)
    n = ROW_GROUPS * ROWS
    rg = np.arange(n) // ROWS
    i = np.arange(n) % ROWS
    keys = rg + 4 * rng.integers(0, 4, n) + key_base
    pq.write_table(
        pa.table({
            "id": np.arange(n, dtype=np.int64),
            "k": pa.array([f"key{int(j):03d}" for j in keys]),
            "h": rng.integers(0, 1 << 40, n, dtype=np.int64),
            "g": rg * 1_000_000 + (i // PAGE_ROWS) * 10_000 + i % PAGE_ROWS,
        }),
        path, row_group_size=ROWS, use_dictionary=["k"],
        write_page_index=True, data_page_size=PAGE_ROWS * 8,
        write_batch_size=PAGE_ROWS,
    )
    add_bloom_filters(path, ["h"])


def _predicates(path: str, key_base: int) -> dict:
    """One predicate per tier, each pruning at least one row group."""
    h = pq.read_table(path, columns=["h"]).column("h")
    lo = 2 * 1_000_000 + PAGE_ROWS + 100  # inside rg 2's page gap
    return {
        "stats": [("id", "between", 100, 300)],
        "dictionary": [("k", "==", f"key{key_base + 5:03d}")],
        "bloom": [("h", "==", int(h[2 * ROWS + 7].as_py()))],
        "page": [("g", ">=", lo), ("g", "<=", lo + 500)],
    }


_OPS = {
    "==": lambda x, v: x == v[0],
    ">=": lambda x, v: x >= v[0],
    "<=": lambda x, v: x <= v[0],
    "between": lambda x, v: v[0] <= x <= v[1],
}


def _truth(path: str, pred) -> list:
    """The unpruned answer: the whole file read by pyarrow, filtered in
    Python."""
    return sorted(
        (r["id"], r["k"], r["h"], r["g"])
        for r in pq.read_table(path).to_pylist()
        if all(_OPS[op](r[col], vals) for col, op, *vals in pred)
    )


def _rows(idx, pred) -> list:
    return sorted(
        (r["id"], r["k"], r["h"], r["g"])
        for r in idx.read(predicate=pred).collect()
    )


def _count_probe_io(monkeypatch, footers: bool = False) -> dict:
    """Count the column-chunk list walks and the dictionary, bloom and
    column-index reads, and with ``footers`` the footer reads."""
    from palletjack_spark.index import bloomprune, dictprune, footer_splice
    from palletjack_spark.index import pageprune

    calls = {}

    def counted(mod, name):
        real = getattr(mod, name)

        def wrapper(*a, **k):
            calls[name] = calls.get(name, 0) + 1
            return real(*a, **k)

        monkeypatch.setattr(mod, name, wrapper)

    for mod in (footer_splice, dictprune, pageprune):
        counted(mod, "_list_elem_spans")
    counted(dictprune, "read_dictionary")
    counted(bloomprune, "read_bloom")
    counted(pageprune, "read_column_index")
    if footers:
        counted(footer_splice, "read_footer_bytes")
    return calls


def test_warm_read_walks_and_reads_nothing(spark, tmp_path, monkeypatch):
    """A second read of each value-tier predicate finds every probe fact
    in the footer memo: no chunk-list walk, no dictionary page, bitset
    or column index read."""
    from palletjack_spark.index.builder import build_index

    path = str(tmp_path / "memo.parquet")
    _write(path, seed=1, key_base=0)
    idx = build_index(spark, path, use_cache=False)
    preds = _predicates(path, 0)
    for tier in ("dictionary", "bloom", "page"):
        cold = _rows(idx, preds[tier])
        with monkeypatch.context() as m:
            calls = _count_probe_io(m)
            warm = _rows(idx, preds[tier])
        assert calls == {}, (tier, calls)
        assert warm == cold == _truth(path, preds[tier]), tier


def test_warm_pass_reads_each_footer_once(spark, tmp_path, monkeypatch):
    """The dictionary, bloom and page probers of one pass share one
    footer snapshot: a warm read and a warm ``prune_verdicts`` pass read
    each probed file's footer at most once."""
    from palletjack_spark.index.builder import build_index
    from palletjack_spark.index.tiers import prune_verdicts

    paths = [str(tmp_path / f"once{i}.parquet") for i in range(2)]
    for i, path in enumerate(paths):
        _write(path, seed=4 + i, key_base=0)
    idx = build_index(spark, paths, use_cache=False)
    rows = idx._local[0]
    # rg 1 of each file survives the dictionary, so all three tiers probe
    pred = _predicates(paths[0], 0)["dictionary"]
    _rows(idx, pred)
    for run in (lambda: _rows(idx, pred), lambda: prune_verdicts(rows, pred)):
        with monkeypatch.context() as m:
            calls = _count_probe_io(m, footers=True)
            run()
        assert calls.get("read_footer_bytes", 0) <= len(paths), calls


def test_rewritten_file_gets_fresh_verdicts(spark, tmp_path):
    """A file rewritten with a disjoint key set and a newer mtime, then
    re-indexed, reads exactly the unpruned rows: no verdict of the old
    file survives into the new one's probes."""
    from palletjack_spark.index.builder import build_index

    path = str(tmp_path / "rewritten.parquet")
    _write(path, seed=1, key_base=0)
    old = _predicates(path, 0)
    idx = build_index(spark, path, use_cache=False)
    for pred in old.values():
        _rows(idx, pred)  # fills the old footer's memo

    mtime = os.stat(path).st_mtime_ns
    _write(path, seed=2, key_base=16)
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))
    idx = build_index(spark, path, use_cache=False)
    new = _predicates(path, 16)
    for pred in [*new.values(), *old.values()]:
        assert _rows(idx, pred) == _truth(path, pred), pred


def test_cold_and_warm_reads_agree(spark, tmp_path):
    """Cold (empty footer memos) and warm reads give the same rows and the
    same per-tier prune counts, and each tier's predicate is decided by
    its own tier."""
    from palletjack_spark.index import footer_splice
    from palletjack_spark.index.builder import build_index
    from palletjack_spark.index.explain import prune_explain_counts

    path = str(tmp_path / "coldwarm.parquet")
    _write(path, seed=3, key_base=0)
    idx = build_index(spark, path, use_cache=False)
    for tier, pred in _predicates(path, 0).items():
        footer_splice._FOOTER_MEMO.clear()
        cold = (_rows(idx, pred), prune_explain_counts(idx, pred))
        warm = (_rows(idx, pred), prune_explain_counts(idx, pred))
        assert cold == warm, tier
        assert cold[0] == _truth(path, pred), tier
        assert cold[1]["pruned"][tier] > 0, (tier, cold[1])
