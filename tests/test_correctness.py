"""In-repo mirror of the driver's t2 correctness gate.

Parametrized over every registered query: run the Spark plan and the
DuckDB oracle on the same sf dir, compare row count + schema (column
names) + exact values order-insensitively. Queries without an oracle get
a rows-only sanity check.
"""

from __future__ import annotations

import pytest

from etl_data_pipeline_spark.catalog import table_path
from etl_data_pipeline_spark.plans import QUERIES, ORACLES, load_all_plans
from tests.conftest import SF_DIR, assert_frames_match

load_all_plans()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, oracle):
    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    oracle_pdf = oracle.execute(ORACLES[name]).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(name, spark):
    # toPandas (not count) so every column is actually materialized —
    # count() lets Spark prune columns and can hide evaluation errors
    pdf = QUERIES[name](spark, SF_DIR).toPandas()
    assert len(pdf.columns) > 0


def test_write_once_tables_follow_their_corpus(spark, tmp_path):
    """dpp_partition_pruned_join and bucketed_join write their
    partitioned / bucketed copy of a table once per corpus.  A second
    corpus whose dir has the same leaf name (here ``b`` with only the
    even orders) must get its own copy, not read the first's."""
    import os
    import shutil

    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from etl_data_pipeline_spark.catalog import TABLES, table_path
    from etl_data_pipeline_spark.plans import sql_api

    leaf = os.path.basename(os.path.normpath(SF_DIR))
    a, b = tmp_path / "a" / leaf, tmp_path / "b" / leaf
    for sf in (a, b):
        sf.mkdir(parents=True)
        for name in TABLES:
            shutil.copyfile(table_path(SF_DIR, name), table_path(str(sf), name))
    orders = pq.read_table(table_path(SF_DIR, "orders"))
    even = pc.equal(pc.bit_wise_and(orders["o_orderkey"], 1), 0)
    pq.write_table(orders.filter(even), table_path(str(b), "orders"))

    con = duckdb.connect()
    try:
        for sf in (a, b):
            for name in TABLES:
                con.execute(
                    f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{table_path(str(sf), name)}')"
                )
            for name in ("dpp_partition_pruned_join", "bucketed_join"):
                assert_frames_match(
                    QUERIES[name](spark, str(sf)).toPandas(),
                    con.execute(ORACLES[name]).fetchdf(),
                    f"{name} on {sf.parent.name}",
                )
    finally:
        con.close()
        for sf in (a, b):
            t = sql_api._tag(str(sf))
            for table in (f"li_bkt_{t}", f"o_bkt_{t}"):
                spark.sql(f"DROP TABLE IF EXISTS {table}")
            shutil.rmtree(os.path.join(sql_api._SCRATCH, f"orders_bymonth_{t}"), ignore_errors=True)
            shutil.rmtree(os.path.join(sql_api._SCRATCH, t), ignore_errors=True)


#: The queries built on the shared curation stages of operators/text.py
#: (exact_dedup, quality_cols, mixture_keep, word_ngrams, EVAL_MOD).
#: Their oracles read only ``documents``.
CURATION_STAGE_QUERIES = [
    "i3_exact_dedup",
    "corpus_curation",
    "pretrain_corpus",
    "quality_score",
    "mixture_sample",
    "decontaminate",
    "decontaminate_bloom",
    "doc_fingerprint",
    "frequent_ngrams",
    "gopher_repetition",
]

_LONG = " ".join(f"w{i}" for i in range(30))


@pytest.fixture(scope="module")
def edge_corpus(tmp_path_factory):
    """A ``documents`` table with the edge cases the generated corpus
    lacks: documents of zero, one and two tokens (no trigram; the empty
    text is one empty token), duplicate texts (one of them shared by an
    eval doc and a training doc) and the eval ids 97 and 194."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from etl_data_pipeline_spark.catalog import SCHEMAS

    texts = {
        1: ("", "en"),
        2: ("one", "en"),
        3: ("two words", "de"),
        4: (_LONG, "en"),
        5: (_LONG, "en"),
        6: ("x alpha beta gamma y", "en"),
        7: ("a b a b a b a b", "en"),
        8: ("the a the cat sat on the mat", "zh"),
        9: ("one", "en"),
        11: (_LONG + " tail", "fr"),
        12: ("alpha beta", "es"),
        97: ("alpha beta gamma delta", "en"),
        194: ("two words", "de"),
    }
    rows = [
        {"doc_id": i, "text": t, "lang": lang, "source": f"s{i % 2}",
         "n_chars": len(t)}
        for i, (t, lang) in texts.items()
    ]
    sf = tmp_path_factory.mktemp("edge_corpus")
    schema = to_arrow_schema(SCHEMAS["documents"])
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        table_path(str(sf), "documents"),
    )
    return str(sf)


@pytest.mark.parametrize("name", CURATION_STAGE_QUERIES)
def test_curation_stages_on_edge_corpus(name, spark, edge_corpus):
    """Every query built on the shared curation stages matches its
    oracle on short, empty and duplicate documents: a document with
    fewer tokens than the n-gram width has no n-grams (an unguarded
    slice length raises INVALID_PARAMETER_VALUE.LENGTH)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{table_path(edge_corpus, 'documents')}')"
        )
        assert_frames_match(
            QUERIES[name](spark, edge_corpus).toPandas(),
            con.execute(ORACLES[name]).fetchdf(),
            name,
        )
    finally:
        con.close()
