#!/usr/bin/env python
"""Standalone driver emulator: consumes ``__spark_entry__.py`` exactly
per its documented contract.

- ``entry(spark)`` smoke (loads sf0.001 internally; must return >0 rows
  with a stable schema);
- each ``queries()[name]`` at ``--sf-dir`` vs ``oracle_sql()[name]``
  run in DuckDB on the same parquet: row-count + schema (column-name
  set) + order-insensitive value-hash.  A query without an oracle is
  reported rows-only, exactly like the real driver.

The SparkSession is built PLAIN — no engine confs — because the real
driver's session is plain too: any loader that forgets
``ensure_engine_confs`` (e.g. the nanos-timestamp parquet read) fails
here first.

Usage::

    python tools/driver_emulator.py                      # standing gate
    python tools/driver_emulator.py --sf-dir /root/testdata/sf0.01 \
        --master local[8] --shuffle-partitions 8
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import sys
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


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
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="parquet dir for queries() + oracles")
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--shuffle-partitions", default="8")
    ap.add_argument("--entry-module", default=str(_REPO / "__spark_entry__.py"),
                    help="path to the driver-contract module")
    return ap.parse_args(argv)


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
    ok = fail = 0
    for name in sorted(qs):
        spdf = qs[name](spark, args.sf_dir).toPandas()
        if name not in oracles:
            print(f"  ~ {name}: rows-only, {len(spdf)} rows")
            continue
        opdf = con.execute(oracles[name]).fetchdf()
        schema_match = sorted(spdf.columns) == sorted(opdf.columns)
        count_match = len(spdf) == len(opdf)
        h_s, h_o = value_hash(spdf), value_hash(opdf)
        hash_match = h_s == h_o
        # probe: order-insensitivity of the hash itself
        assert value_hash(spdf, shuffle=True) == h_s
        status = "OK " if (schema_match and count_match and hash_match) else "FAIL"
        if status == "OK ":
            ok += 1
        else:
            fail += 1
            print(f"  {status} {name}: schema={schema_match} "
                  f"count={count_match} ({len(spdf)}/{len(opdf)}) "
                  f"hash={hash_match}")
            if schema_match and count_match and not hash_match:
                a = (spdf.reindex(sorted(spdf.columns), axis=1).astype(str)
                     .apply("|".join, axis=1).sort_values().tolist())
                b = (opdf.reindex(sorted(opdf.columns), axis=1).astype(str)
                     .apply("|".join, axis=1).sort_values().tolist())
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                for x, y in diffs:
                    print(f"      spark={x!r}\n      duck ={y!r}")
    print(f"T2: {ok} hash-match, {fail} fail, {len(qs)-len(oracles)} rows-only")

    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
