"""Shared fixtures: one SparkSession + one DuckDB oracle connection.

The comparison helper mirrors the driver's t2 check (row-count, schema,
order-insensitive value comparison) but with exact value equality so any
float-determinism problem surfaces here before the driver sees it.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from etl_data_pipeline_spark.catalog import TABLES, table_path
from etl_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="etl-pipeline-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def oracle():
    # Cap DuckDB so an oracle whose inlined CTEs blow up fails its own
    # test instead of taking the whole pytest process down with it.
    con = duckdb.connect(config={"memory_limit": "4GB", "threads": 4})
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(SF_DIR, name)}')"
        )
    yield con
    con.close()


def canonical_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by every column (stringified
    for a stable total order), values kept at native dtype."""
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    if len(df) == 0:
        return df
    # stringify with a canonical null marker so None/NaN/NaT sort the same
    keyed = df.astype(str).where(~df.isna(), "\x00null")
    order = keyed.sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def normalize_cell(v):
    import numpy as np

    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, (np.bool_,)):
        return bool(v)
    if isinstance(v, pd.Timestamp):
        return v.to_datetime64()
    return v


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    )
    # dtype parity matters to the driver's schema check: e.g. DuckDB
    # SUM(int) yields HUGEINT->float64 unless CAST AS BIGINT in the oracle.
    dt_s = {c: str(spark_pdf[c].dtype) for c in spark_pdf.columns}
    dt_o = {c: str(oracle_pdf[c].dtype) for c in oracle_pdf.columns}
    assert dt_s == dt_o, (
        f"{name}: dtype mismatch "
        f"{ {k: (dt_s[k], dt_o[k]) for k in dt_s if dt_s[k] != dt_o.get(k)} }"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    a = canonical_frame(spark_pdf)
    b = canonical_frame(oracle_pdf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            x, y = normalize_cell(x), normalize_cell(y)
            xnull = x is None or (isinstance(x, float) and x != x) or x is pd.NaT
            ynull = y is None or (isinstance(y, float) and y != y) or y is pd.NaT
            if xnull or ynull:
                assert xnull and ynull, f"{name}.{col}[{i}]: {x!r} vs {y!r}"
                continue
            if isinstance(x, float) or isinstance(y, float):
                assert float(x) == float(y), f"{name}.{col}[{i}]: {x!r} != {y!r}"
            else:
                assert str(x) == str(y), f"{name}.{col}[{i}]: {x!r} != {y!r}"
