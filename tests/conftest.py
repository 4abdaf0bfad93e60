"""Shared fixtures: one SparkSession per test session, a DuckDB oracle
connection with the fixture tables registered as views, and a comparator
that mirrors the driver's check (row count + schema + order-insensitive
value equality with columns sorted by name)."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from palletjack_spark import get_spark
from palletjack_spark.tables import TABLES, table_path

SF_DIR = os.environ.get("PJ_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_ORACLE = os.environ.get("PJ_ORACLE_SF_DIR", SF_DIR)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pj-tests", cpus=None, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_path(SF_DIR_ORACLE, name)}')"
        )
    yield con
    con.close()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]")
        elif s.dtype == object and len(s) and isinstance(s.dropna().iloc[0] if s.dropna().size else None, (bytes,)):
            pdf[c] = s.map(lambda b: b.hex() if isinstance(b, bytes) else b)
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("int64")
    sort_cols = list(pdf.columns)
    pdf = pdf.sort_values(sort_cols, kind="mergesort", na_position="last")
    return pdf.reset_index(drop=True)


def _dtype_tag(s: pd.Series) -> str:
    """Comparable dtype tag: datetime unit differences collapse, bytes and
    str both count as object, everything else must match exactly."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return str(s.dtype)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    )
    spark_types = {c: _dtype_tag(spark_pdf[c]) for c in spark_pdf.columns}
    oracle_types = {c: _dtype_tag(oracle_pdf[c]) for c in oracle_pdf.columns}
    assert spark_types == oracle_types, (
        f"{name}: dtype mismatch spark={spark_types} oracle={oracle_types}"
    )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: columns {list(a.columns)} != oracle {list(b.columns)}"
    )
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            ok = (
                (av.isna() & bv.isna())
                | (av == bv)
                | (np.isclose(av, bv, rtol=0, atol=0, equal_nan=True))
            )
        else:
            ok = (av.isna() & bv.isna()) | (av.astype(object) == bv.astype(object))
        if not ok.all():
            bad = (~ok).idxmax()
            raise AssertionError(
                f"{name}: column {c} mismatch at sorted row {bad}: "
                f"spark={av.iloc[bad]!r} oracle={bv.iloc[bad]!r}"
            )
