"""The persisted sidecar's invariant and the cost of appending to it.

The invariant: one ``files/`` row per file, indexed row-group and row
counts equal to the declared ones, and no row-group rows without a
``files/`` row.  Each violation is checked on both index shapes: a
crafted persisted sidecar through ``load_index``, and the same rows as a
driver-local index through ``MetadataIndex.validate``.  The cost side
pins the Spark jobs of an incremental build over a bucketed sidecar.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from palletjack_spark import build_index, load_index
from palletjack_spark.errors import IndexFormatError
from palletjack_spark.index.builder import _extract_file_rows
from palletjack_spark.index.metadata_index import MetadataIndex


def _write(path: str, lo: int) -> str:
    """100 rows in 2 row groups of 50."""
    pq.write_table(
        pa.table({"v": pa.array(range(lo, lo + 100), pa.int64())}),
        path,
        row_group_size=50,
    )
    return path


def _rewrite(dataset: str, keep, edit=lambda r: r, extra=()) -> None:
    """Replace a non-partitioned sidecar dataset by its rows that pass
    ``keep``, each passed through ``edit``, plus ``extra``."""
    table = pq.read_table(dataset)
    rows = [edit(dict(r)) for r in table.to_pylist() if keep(r)] + list(extra)
    shutil.rmtree(dataset)
    os.makedirs(dataset)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=table.schema),
        os.path.join(dataset, "part-0.parquet"),
    )


def _is(name):
    return lambda r: r["file"].endswith(name)


def _not(name):
    return lambda r: not r["file"].endswith(name)


def _bump_rows(r):
    if r["file"].endswith("b.parquet"):
        r["num_rows"] += 1
    return r


#: violation -> (row_groups/ keep, files/ keep, files/ edit, duplicate
#: the b.parquet files/ row, message pattern)
_VIOLATIONS = {
    "orphaned_row_groups": (
        None, _not("b.parquet"), None, False,
        r"b\.parquet: row-group rows present but no files/ entry",
    ),
    "duplicate_files_row": (
        None, None, None, True,
        r"b\.parquet: 2 duplicate files/ entries \(retried incremental append\?\)",
    ),
    "row_group_count": (
        lambda r: not (r["file"].endswith("b.parquet") and r["row_group"] == 1),
        None, None, False,
        r"b\.parquet: 1 row groups indexed vs 2 declared, 50 rows vs 100",
    ),
    "row_count": (
        None, None, _bump_rows, False,
        r"b\.parquet: 2 row groups indexed vs 2 declared, 100 rows vs 101",
    ),
    "files_row_without_row_groups": (
        _not("b.parquet"), None, None, False,
        r"b\.parquet: 0 row groups indexed vs 2 declared, 0 rows vs 100",
    ),
}


@pytest.mark.parametrize("violation", sorted(_VIOLATIONS))
def test_invariant_violation_on_both_shapes(spark, tmp_path, violation):
    rg_keep, f_keep, f_edit, dup, pattern = _VIOLATIONS[violation]
    rg_keep = rg_keep or (lambda r: True)
    f_keep = f_keep or (lambda r: True)
    f_edit = f_edit or (lambda r: r)
    data = str(tmp_path / "data")
    os.makedirs(data)
    paths = [_write(f"{data}/a.parquet", 0), _write(f"{data}/b.parquet", 100)]
    idx_dir = str(tmp_path / "idx")
    build_index(spark, data, index_dir=idx_dir, use_cache=False)

    # persisted shape
    f_dir = os.path.join(idx_dir, "files")
    dups = [r for r in pq.read_table(f_dir).to_pylist() if _is("b.parquet")(r)]
    _rewrite(os.path.join(idx_dir, "row_groups"), rg_keep)
    _rewrite(f_dir, f_keep, f_edit, dups if dup else ())
    with pytest.raises(IndexFormatError, match=pattern) as persisted:
        load_index(spark, idx_dir)

    # driver-local shape: the same edits on the extracted rows
    file_rows, rg_rows = [], []
    for p in paths:
        frow, rgs = _extract_file_rows(p)
        file_rows.append(frow)
        rg_rows.extend(rgs)
    rg_rows = [r for r in rg_rows if rg_keep(r)]
    dups = [dict(r) for r in file_rows if _is("b.parquet")(r)] if dup else []
    file_rows = [f_edit(r) for r in file_rows if f_keep(r)] + dups
    local = MetadataIndex(spark, None, None, None, local_rows=(rg_rows, file_rows))
    with pytest.raises(IndexFormatError, match=pattern) as driver_local:
        local.validate()
    # one wording: both shapes raise the same message
    assert str(driver_local.value) == str(persisted.value)


def test_retried_append_after_torn_write_is_rejected(spark, tmp_path):
    """A crash between the two writes of an append leaves the new file's
    row-group rows without a ``files/`` row; retrying the append then
    writes those row groups a second time.  Only ``load_index``'s
    whole-sidecar validation sees either state."""
    data = str(tmp_path / "data")
    os.makedirs(data)
    _write(f"{data}/a.parquet", 0)
    idx_dir = str(tmp_path / "idx")
    build_index(spark, data, index_dir=idx_dir, use_cache=False)
    f_dir = os.path.join(idx_dir, "files")
    before = str(tmp_path / "files_before")
    shutil.copytree(f_dir, before)

    b = _write(f"{data}/b.parquet", 100)
    build_index(spark, data, index_dir=idx_dir, incremental=True, use_cache=False)
    # the row_groups/ write landed, the files/ write did not
    shutil.rmtree(f_dir)
    shutil.copytree(before, f_dir)
    with pytest.raises(IndexFormatError, match="b.parquet: row-group rows present"):
        load_index(spark, idx_dir)
    with pytest.raises(
        IndexFormatError,
        match=r"b\.parquet: 4 row groups indexed vs 2 declared, 200 rows vs 100",
    ):
        build_index(
            spark, data, index_dir=idx_dir, incremental=True, use_cache=False
        )

    # the same retried state as a driver-local index
    frow_a, rgs_a = _extract_file_rows(f"{data}/a.parquet")
    frow_b, rgs_b = _extract_file_rows(b)
    torn = MetadataIndex(
        spark, None, None, None, local_rows=(rgs_a + rgs_b, [frow_a])
    )
    with pytest.raises(IndexFormatError, match="b.parquet: row-group rows present"):
        torn.validate()
    retried = MetadataIndex(
        spark, None, None, None,
        local_rows=(rgs_a + rgs_b + rgs_b, [frow_a, frow_b]),
    )
    with pytest.raises(
        IndexFormatError,
        match=r"b\.parquet: 4 row groups indexed vs 2 declared, 200 rows vs 100",
    ):
        retried.validate()


def _jobs(spark, build) -> int:
    """Spark jobs ``build()`` launches (jobs outside any job group).  A
    set difference, not a length difference: once the status store holds
    ``spark.ui.retainedJobs`` jobs it drops the oldest as new ones land."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    build()
    return len(set(tracker.getJobIdsForGroup(None)) - before)


def test_incremental_build_job_counts(spark, tmp_path):
    """An append of 2 files onto a persisted 4-bucket sidecar runs 15
    Spark jobs, and a build with nothing to append runs 7.  The append's
    jobs, with the session's adaptive execution on: 2 schema inferences
    (``row_groups/`` and ``files/``, each read once), 2 for the reconcile
    pass (candidate broadcast, stat), 4 to extract and validate the
    delta, 4 for the two clustered writes, 3 to validate the whole
    sidecar after the commit.  The no-change build runs the inferences,
    the reconcile pass and the whole-sidecar validation."""
    data = str(tmp_path / "data")
    os.makedirs(data)
    paths = [_write(f"{data}/p{i}.parquet", 100 * i) for i in range(8)]
    idx_dir = str(tmp_path / "idx")
    build_index(
        spark, paths[:-2], index_dir=idx_dir, use_cache=False,
        catalog_buckets=4,
    )

    def incremental():
        return build_index(
            spark, paths, index_dir=idx_dir, incremental=True,
            use_cache=False,
        )

    assert _jobs(spark, incremental) == 15
    assert _jobs(spark, incremental) == 7
    idx = load_index(spark, idx_dir)
    assert idx.catalog_buckets == 4 and idx.files.count() == 8
    assert idx.read(predicate=[("v", ">=", 700)]).count() == 100
