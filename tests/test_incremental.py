"""Incremental near-dup (operators/text.py::probe_neardup_index) — the
equivalence contract, the persisted-index roundtrip, and the
cap-on-union edge.

The registered query's oracle parity runs in test_correctness.py like
every other query; these tests pin the properties the oracle can't
see: that the probe against a PERSISTED (parquet-roundtripped) index
matches the in-memory path bit-for-bit, and that the bucket cap is
computed over index ∪ new-batch (a cap over the index alone diverges
exactly when a new doc tips a bucket over the cap).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.operators.text import (
    minhash_bands,
    minhash_lsh_pairs,
    probe_neardup_index,
)
from tests.conftest import SF_DIR


def _pairs(df):
    return {
        (r["a"], r["b"], round(r["jaccard"], 12)) for r in df.collect()
    }


def _full_restricted(docs, threshold=0.5, **kw):
    """Full-corpus LSH pairs restricted to pairs touching the batch."""
    full = minhash_lsh_pairs(docs, threshold=threshold, **kw)
    return full.filter(
        (F.col("a") % 10 == 0) | (F.col("b") % 10 == 0)
    )


def test_documents_doc_id_unique(spark):
    """The unique-doc_id input contract (operators/text.py module
    docstring) behind the row-local array_distinct in _minhash_wide /
    exact_jaccard_on_pairs: the documents fixture's doc_id is a primary
    key at every test scale."""
    d = load_table(spark, SF_DIR, "documents")
    n, nd = d.count(), d.select("doc_id").distinct().count()
    assert n == nd and n > 0


def test_incremental_equals_full_restricted(spark):
    d = load_table(spark, SF_DIR, "documents")
    new = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    inc = probe_neardup_index(
        minhash_bands(corpus), new, d, threshold=0.5
    )
    assert _pairs(inc) == _pairs(_full_restricted(d))


def test_probe_from_parquet_index_identical(spark, tmp_path):
    """The production lifecycle: index written once, probed from disk —
    byte-identical pairs to the in-memory index path."""
    d = load_table(spark, SF_DIR, "documents")
    new = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    idx_path = str(tmp_path / "neardup_index.parquet")
    minhash_bands(corpus).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    got = probe_neardup_index(idx, new, d, threshold=0.5)
    want = probe_neardup_index(
        minhash_bands(corpus), new, d, threshold=0.5
    )
    assert _pairs(got) == _pairs(want)


def test_cap_computed_over_union(spark):
    """A new-batch doc that tips a band bucket over the cap must evict
    that bucket for EVERYONE (full-corpus cap semantics).  Synthetic
    corpus: 3 identical docs (all 16 bands collide), cap 3 — the
    corpus alone is at the cap, the 4th (new) copy tips it over, so
    the incremental run must emit NO pairs, like the full run."""
    rows = [(i, "alpha beta gamma delta epsilon") for i in (1, 2, 3)]
    rows.append((10, "alpha beta gamma delta epsilon"))
    rows.append((20, "totally different words here now"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    new = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    inc = probe_neardup_index(
        minhash_bands(corpus), new, d, threshold=0.5,
        max_bucket_size=3,
    )
    full = minhash_lsh_pairs(d, threshold=0.5, max_bucket_size=3).filter(
        (F.col("a") % 10 == 0) | (F.col("b") % 10 == 0)
    )
    assert _pairs(inc) == _pairs(full) == set()
    # control: with the cap lifted the same fixture yields the three
    # (dup, new-doc) pairs, proving the empty result above is the cap
    inc2 = probe_neardup_index(
        minhash_bands(corpus), new, d, threshold=0.5,
        max_bucket_size=None,
    )
    full2 = minhash_lsh_pairs(d, threshold=0.5, max_bucket_size=None).filter(
        (F.col("a") % 10 == 0) | (F.col("b") % 10 == 0)
    )
    assert _pairs(inc2) == _pairs(full2)
    assert {(a, b) for a, b, _ in _pairs(inc2)} == {
        (1, 10), (2, 10), (3, 10)
    }
