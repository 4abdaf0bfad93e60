"""One tier pipeline: ``read()``'s driver-local plan, the
``format("palletjack")`` data source, ``smart_read``'s estimate,
``prune_explain`` and ``prune_explain_counts`` (local and catalog) all
decide a row group the same way and attribute it to the same tier."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from palletjack_spark import (
    add_bloom_filters,
    build_index,
    prune_explain,
    prune_explain_counts,
)
from palletjack_spark.index import metadata_index as mi
from palletjack_spark.index.smart import smart_read


def _write(d, name, table, **kw):
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, name)
    pq.write_table(table, path, **kw)
    return path


def _stats(root):
    for i in range(4):
        k = list(range(i * 100, i * 100 + 100))
        _write(root, f"part-{i}.parquet", pa.table({
            "k": pa.array(k, pa.int64()),
            "s": pa.array([f"s{x:04d}" for x in k]),
        }), row_group_size=50)
    return root


def _interleaved(root, use_dictionary, bloom=False):
    for i in range(4):
        k = [x for x in range(400) if x % 4 == i]
        path = _write(root, f"part-{i}.parquet", pa.table({
            "k": pa.array(k, pa.int64()),
            "tag": pa.array([f"t{x % 8}" for x in k]),
        }), use_dictionary=use_dictionary)
        if bloom:
            add_bloom_filters(path, ["k"], fpp=1e-4)
    return root


def _pages(root):
    # 4 row groups x 4 band-aligned pages: every row group's envelope
    # spans the domain, its pages stay band-tight
    os.makedirs(root, exist_ok=True)
    w = pq.ParquetWriter(
        os.path.join(root, "gaps.parquet"),
        pa.schema([("k", pa.int64()), ("m", pa.int64())]),
        use_dictionary=False, write_page_index=True,
        data_page_size=1, write_batch_size=1024,
    )
    for r in range(4):
        rows = [v for b in range(r, 16, 4) for v in range(b * 1024, (b + 1) * 1024)]
        w.write_table(
            pa.table({"k": pa.array(rows, pa.int64()),
                      "m": pa.array([v % 7 for v in rows], pa.int64())}),
            row_group_size=len(rows),
        )
    w.close()
    return root


def _partitioned(root):
    for p in range(3):
        _write(os.path.join(root, f"p={p}"), "part-0.parquet", pa.table({
            "v": pa.array(range(p * 100, p * 100 + 100), pa.int64()),
        }), row_group_size=50)
    return root


_FIXTURES = {
    "stats": _stats,
    "dictionary": lambda root: _interleaved(root, True),
    "bloom": lambda root: _interleaved(root, False, bloom=True),
    "page": _pages,
    "partition": _partitioned,
}

_CASES = [
    ("stats", [("k", "=", 123)]),
    ("stats", [("k", ">=", 150), ("k", "<", 250)]),
    ("stats", [("k", "in", [5, 305]), ("s", "!=", "s0005")]),
    ("dictionary", [("k", "=", 123)]),
    ("dictionary", [("k", "in", [1, 2])]),
    ("dictionary", [("tag", "=", "t3"), ("k", "!=", 7)]),
    ("bloom", [("k", "=", 123)]),
    ("bloom", [("k", "in", [123, 200]), ("k", ">=", 0)]),
    ("page", [("k", "=", 5632)]),
    ("page", [("k", ">=", 5600), ("k", "<=", 5700)]),
    ("page", [("m", "=", 3), ("k", "<", 3000)]),
    ("partition", [("p", "=", "1")]),
    ("partition", [("p", "=", "1"), ("v", ">=", 150)]),
    ("partition", [("v", "<", 10)]),
]


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """(root, driver-local index, catalog index) per fixture, built once."""
    base = tmp_path_factory.mktemp("tiers")
    out = {}
    for name, make in _FIXTURES.items():
        root = make(str(base / name))
        local = build_index(spark, root)
        catalog = build_index(
            spark, root, driver_fast_path=False, use_cache=False
        )
        assert local._local is not None and catalog._local is None
        out[name] = (root, local, catalog)
    return out


def _filters(predicate):
    """The Catalyst filters Spark would push for a predicate."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan,
        LessThanOrEqual, Not,
    )

    simple = {"=": EqualTo, ">": GreaterThan, ">=": GreaterThanOrEqual,
              "<": LessThan, "<=": LessThanOrEqual}
    out = []
    for col, op, v in predicate:
        if op == "in":
            out.append(In((col,), tuple(v)))
        elif op == "!=":
            out.append(Not(EqualTo((col,), v)))
        else:
            out.append(simple[op]((col,), v))
    return out


def _scan_plan(monkeypatch, idx, predicate):
    """What ``read()`` hands to ``scan_tasks``: {(file, rg): row_ranges}."""
    seen = {}
    real = mi.scan_tasks

    def spy(spark, tasks, *a, row_ranges=None, **kw):
        ranges = row_ranges or {}
        seen.update(
            {(f, rg): ranges.get((f, rg)) for f, span in tasks for rg in span}
        )
        return real(spark, tasks, *a, row_ranges=row_ranges, **kw)

    monkeypatch.setattr(mi, "scan_tasks", spy)
    idx.read(predicate=predicate)
    return seen


@pytest.mark.parametrize(
    "fixture,predicate", _CASES, ids=[f"{f}-{i}" for i, (f, _p) in enumerate(_CASES)]
)
def test_explain_matches_plan(indexes, monkeypatch, fixture, predicate):
    from palletjack_spark.sources.python_datasource import PalletJackDataSource

    root, local, catalog = indexes[fixture]
    verdicts = prune_explain(local, predicate)
    kept = {
        (v["file"], v["row_group"]): v["row_ranges"]
        for v in verdicts
        if v["tier"] is None
    }
    assert kept == _scan_plan(monkeypatch, local, predicate)

    ds = PalletJackDataSource({"path": root})
    reader = ds.reader(ds.schema())
    list(reader.pushFilters(_filters(predicate)))
    spans = {
        (f, rg)
        for f, span in (p.value for p in reader.partitions())
        if f is not None
        for rg in span
    }
    assert spans == set(kept)

    counts = prune_explain_counts(local, predicate)
    assert counts == prune_explain_counts(catalog, predicate)
    assert counts["kept"] == len(kept) and counts["total"] == len(verdicts)


def test_partition_key_that_is_a_data_column_is_not_partition_pruned(
    spark, tmp_path
):
    """``k=a/`` and ``k=b/`` both hold data ``k == "a"``: the attached
    column is the data, so the path must not prune either file."""
    for seg in ("a", "b"):
        _write(str(tmp_path / f"k={seg}"), "part-0.parquet", pa.table({
            "k": pa.array(["a"] * 10),
            "v": pa.array(range(10), pa.int64()),
        }))
    root = str(tmp_path)
    pred = [("k", "==", "a")]
    local = build_index(spark, root)
    catalog = build_index(spark, root, driver_fast_path=False, use_cache=False)
    assert local.read(predicate=pred).count() == 20

    verdicts = prune_explain(local, pred)
    assert len(verdicts) == 2
    assert all(v["verdict"] == "kept" for v in verdicts)
    for idx in (local, catalog):
        counts = prune_explain_counts(idx, pred)
        assert counts["pruned"]["partition"] == 0
        assert counts["kept"] == 2


def test_dictionary_outranks_bloom_on_every_surface(spark, tmp_path):
    """Both tiers prove all 4 files matchless — ``k``'s dictionary holds
    no "keyB", ``h``'s bloom filter no 4001 — and the dictionary tier
    runs over every conjunct first, so every surface names it."""
    root = str(tmp_path / "mixed")
    for i in range(4):
        n = len(range(2 * i, 8000, 8))
        path = _write(root, f"part-{i}.parquet", pa.table({
            "h": pa.array(range(2 * i, 8000, 8), pa.int64()),
            "k": pa.array(["keyA", "keyC"] * (n // 2)),
        }), use_dictionary=["k"])
        add_bloom_filters(path, ["h"], fpp=1e-4)
    pred = [("h", "==", 4001), ("k", "==", "keyB")]
    want = {"stats": 0, "partition": 0, "dictionary": 4, "bloom": 0, "page": 0}

    local = build_index(spark, root)
    catalog = build_index(spark, root, driver_fast_path=False, use_cache=False)
    assert [v["tier"] for v in prune_explain(local, pred)] == ["dictionary"] * 4
    assert prune_explain_counts(local, pred)["pruned"] == want
    assert prune_explain_counts(catalog, pred)["pruned"] == want
    _df, decision = smart_read(spark, root, predicate=pred, index=local, explain=True)
    assert decision["tier_kept"] == {
        "stats": 4, "dictionary": 0, "bloom": 0, "page": 0
    }
