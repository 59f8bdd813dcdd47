#!/usr/bin/env python
"""Standalone driver emulator: consumes ``__spark_entry__.py`` exactly
per its documented contract.  It is the repo's one oracle check.

- ``entry(spark)`` smoke (loads sf0.001 internally; must return >0 rows
  with a stable schema);
- each ``queries()[name]`` at ``--sf-dir`` vs ``oracle_sql()[name]``
  run in DuckDB on the same parquet: row-count + schema (column-name
  set) + order-insensitive value-hash.  A query without an oracle is
  reported rows-only, exactly like the real driver.

One status line per query: ``OK``, ``FAIL`` (with the first three
differing rows when only the values differ) or ``ERR`` (the query or
its oracle raised; the loop goes on).  The last line is the ``T2:``
summary; the exit code is 1 if any query failed or raised.

The SparkSession is built PLAIN — no engine confs — because the real
driver's session is plain too: any loader that forgets
``ensure_engine_confs`` (e.g. the nanos-timestamp parquet read) fails
here first.

Usage::

    python tools/driver_emulator.py                      # every query
    python tools/driver_emulator.py q5_multi_join ivf_ann  # named ones
    python tools/driver_emulator.py --sf-dir /root/testdata/sf0.001 \
        --shuffle-partitions 32                 # empty-partition regime
    python tools/driver_emulator.py --sf-dir /root/testdata/sf0.001 \
        --shuffle-partitions 8 --master local-cluster[2,4,4096]

``local-cluster`` runs every query under separate executor JVMs (closure
serialization, broadcast transport, executor-side module import).  Run
it as its own process: a session built while the interpreter is shutting
down dies with 'Shutdown hooks cannot be modified during shutdown'.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import sys
import traceback
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from etl_data_pipeline_spark.catalog import TABLES  # noqa: E402


def value_hash(pdf: pd.DataFrame, shuffle: bool = False) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if shuffle and len(pdf):
        pdf = pdf.sample(frac=1.0, random_state=7)
    cells = []
    for _, row in pdf.iterrows():
        cells.append("|".join(repr(v) for v in row.tolist()))
    return hashlib.sha256("\n".join(sorted(cells)).encode()).hexdigest()


def _parse_args(argv) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*",
                    help="queries to check (default: every registered query)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="parquet dir for queries() + oracles")
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--shuffle-partitions", default="8")
    ap.add_argument("--entry-module", default=str(_REPO / "__spark_entry__.py"),
                    help="path to the driver-contract module")
    return ap.parse_intermixed_args(argv)


def _print_diff(spdf: pd.DataFrame, opdf: pd.DataFrame) -> None:
    a, b = (
        f.reindex(sorted(f.columns), axis=1).astype(str)
        .apply("|".join, axis=1).sort_values().tolist()
        for f in (spdf, opdf)
    )
    for x, y in [(x, y) for x, y in zip(a, b) if x != y][:3]:
        print(f"      spark={x!r}\n      duck ={y!r}")


def main(argv=None) -> None:
    args = _parse_args(argv)

    spark = (
        SparkSession.builder.master(args.master)
        .config("spark.sql.shuffle.partitions", args.shuffle_partitions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", args.entry_module
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    # t1 smoke
    edf = m.entry(spark)
    rows = edf.collect()
    print(f"T1 entry: {len(rows)} rows, schema={edf.schema.simpleString()}")
    assert len(rows) > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    qs, oracles = m.queries(), m.oracle_sql()
    ok = fail = err = rows_only = 0
    for name in args.names or sorted(qs):
        try:
            spdf = qs[name](spark, args.sf_dir).toPandas()
            if name not in oracles:
                rows_only += 1
                print(f"~ {name}: rows-only, {len(spdf)} rows", flush=True)
                continue
            opdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001 - reported and counted
            err += 1
            traceback.print_exc()
            print(f"ERR {name}: {repr(e)[:300]}", flush=True)
            continue
        schema_match = sorted(spdf.columns) == sorted(opdf.columns)
        count_match = len(spdf) == len(opdf)
        h_s = value_hash(spdf)
        hash_match = h_s == value_hash(opdf)
        # probe: order-insensitivity of the hash itself
        assert value_hash(spdf, shuffle=True) == h_s
        good = schema_match and count_match and hash_match
        ok += good
        fail += not good
        print(f"{'OK' if good else 'FAIL'} {name}: schema={schema_match} "
              f"count={count_match} ({len(spdf)}/{len(opdf)}) "
              f"hash={hash_match}", flush=True)
        if schema_match and count_match and not hash_match:
            _print_diff(spdf, opdf)
    print(f"T2: {ok} hash-match, {fail} fail, {err} err, {rows_only} rows-only")
    spark.stop()
    sys.exit(1 if fail or err else 0)


if __name__ == "__main__":
    main()
