"""Semantic authority tests: exact batch assertions for operators whose
driver check is rows-only (approx sketches, iterative kmeans), plus
belt-and-braces batch cross-checks for operators that ALSO carry exact
oracles (streaming watermark/dedup, multimodal codecs, ANN recall).
"""

from __future__ import annotations

import inspect

import pyspark.sql.functions as F
import pytest

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.plans import QUERIES, load_all_plans
from etl_data_pipeline_spark.plans.streaming import _staged_stream
from tests.conftest import SF_DIR

load_all_plans()


def test_j5_watermark_gates_append_emission(spark):
    """Append mode emits exactly the windows finalized by the final
    watermark (max on-time ts - 1h); windows past it are held in state.
    (Below-watermark input dropping is best-effort in Spark and does not
    fire in this path — see plans/streaming.py::j5_stream_watermark.)"""
    out = QUERIES["j5_stream_watermark"](spark, SF_DIR).toPandas()
    ev = load_table(spark, SF_DIR, "events")
    max_ts = (
        ev.filter(F.col("ts") >= "2024-01-10 00:00:00")
        .agg(F.max("ts"))
        .collect()[0][0]
    )
    import datetime

    wm = max_ts - datetime.timedelta(hours=1)
    expected = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("w.end") <= F.lit(wm))
        .select(F.col("w.start").cast("string").alias("window_start"), "n_events")
        .toPandas()
    )
    held_back = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("w.end") > F.lit(wm))
        .count()
    )
    a = out.sort_values("window_start").reset_index(drop=True)
    b = expected.sort_values("window_start").reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    assert (a["window_start"] == b["window_start"]).all()
    assert (a["n_events"] == b["n_events"]).all()
    assert held_back > 0  # the watermark genuinely gated something


def test_j6_stream_dedup_matches_batch_distinct(spark):
    out = QUERIES["j6_stream_dedup"](spark, SF_DIR).toPandas()
    ev = load_table(spark, SF_DIR, "events")
    expected = (
        ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events")).toPandas()
    )
    a = out.sort_values("event_type").reset_index(drop=True)
    b = expected.sort_values("event_type").reset_index(drop=True)
    assert (a["event_type"] == b["event_type"]).all()
    assert (a["n_events"] == b["n_events"]).all()


@pytest.mark.parametrize(
    "split",
    [
        (),  # the default on-time/late split, used by all but j6 and j10
        ("event_id % 5 < 3", "event_id % 5 >= 2"),  # j6's 20% overlap
    ],
    ids=["default", "j6_overlap"],
)
def test_staged_stream_gives_two_micro_batches(spark, tmp_path, split):
    """The staged stream is processed as exactly two micro-batches with
    input, ``first`` then ``second``: an oracle like j5's would still
    match a single-batch stream, so only this pins the staging."""
    stream = _staged_stream(spark, SF_DIR, "test_two_batches", *split)
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive
    fed = [p.numInputRows for p in q.recentProgress if p.numInputRows > 0]
    first, second = split or (
        inspect.signature(_staged_stream).parameters[k].default
        for k in ("first", "second")
    )
    ev = load_table(spark, SF_DIR, "events")
    assert fed == [ev.filter(first).count(), ev.filter(second).count()]


def test_stream_memory_sinks_are_released(spark):
    """A memory-sink query run repeatedly in one session leaves no temp
    view behind (each view holds every row the stream emitted, on the
    driver) and returns the same rows every time."""

    def temp_views():
        return sum(t.isTemporary for t in spark.catalog.listTables())

    before = temp_views()
    runs = []
    for _ in range(3):
        runs.append(sorted(QUERIES["j11_stream_update_counts"](spark, SF_DIR).collect()))
        assert temp_views() == before
    assert runs[0] and runs[0] == runs[1] == runs[2]


def test_d4_approx_within_tolerance(spark):
    """Raw HLL estimate within 5% of exact per group (the query itself
    now emits the integer bound check the driver hashes; this asserts
    the underlying estimate, not just the flag)."""
    li = load_table(spark, SF_DIR, "lineitem")
    both = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.01).alias("approx"),
            F.count_distinct("l_partkey").alias("n"),
        )
        .collect()
    )
    assert both
    for r in both:
        rel = abs(r["approx"] - r["n"]) / r["n"]
        assert rel < 0.05, f"approx_count_distinct off by {rel:.1%}"
    pdf = QUERIES["d4_approx_distinct"](spark, SF_DIR).toPandas()
    assert (pdf["approx_within_5pct"] == 1).all()


def test_ann_lsh_recall_vs_exact(spark):
    ann = QUERIES["ann_lsh"](spark, SF_DIR).toPandas()
    exact = QUERIES["i7_knn"](spark, SF_DIR).toPandas()
    ann_pairs = set(zip(ann["vec_id"], ann["neighbor"]))
    exact_pairs = set(zip(exact["vec_id"], exact["neighbor"]))
    recall = len(ann_pairs & exact_pairs) / len(exact_pairs)
    # near-random vectors and 16 buckets: recall is structurally low; the
    # assertion guards the mechanism (non-empty, sane), trend is printed
    assert len(ann_pairs) > 0
    assert 0.0 <= recall <= 1.0
    print(f"ann_lsh recall@3 = {recall:.3f}")


def test_multimodal_checksum_matches_python(spark):
    d = load_table(spark, SF_DIR, "documents").limit(20).toPandas()
    from etl_data_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
    )

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 20)
    feats = extract_features(attach_binary_payload(docs)).toPandas()
    by_id = {r.doc_id: r for r in feats.itertuples()}
    for _, row in d.iterrows():
        b = row["text"].encode("utf-8")
        checksum = 0
        for byte in b:
            checksum = (checksum * 31 + byte) % 1_000_000_007
        got = by_id[row["doc_id"]]
        assert got.checksum == checksum
        assert got.payload_bytes == len(b)


def test_multimodal_decoders_reject_unknown_magic():
    """The decoders are REAL parsers for the lib-free formats (PPM/WAV/
    Y4M — see test_real_decoders_roundtrip_pure_python); anything they
    cannot identify fails loudly with ValueError, and formats that
    genuinely need external libs raise NotImplementedError instead of
    mis-parsing."""
    from etl_data_pipeline_spark.operators import multimodal as mm

    for fn in (mm.decode_image, mm.decode_audio, mm.sample_video_frames):
        with pytest.raises(ValueError):
            fn(b"\x00unknown-magic-bytes\x00\x00\x00")


def test_ivf_recall_vs_exact(spark):
    ivf = QUERIES["ivf_ann"](spark, SF_DIR).toPandas()
    exact = QUERIES["i7_knn"](spark, SF_DIR).toPandas()
    ivf_pairs = set(zip(ivf["vec_id"], ivf["neighbor"]))
    exact_pairs = set(zip(exact["vec_id"], exact["neighbor"]))
    recall = len(ivf_pairs & exact_pairs) / len(exact_pairs)
    # adaptive quantizer (round 12): nlist = max(4, n/125) integer-
    # k-means cells, nprobe = nlist/5 — measured 0.733 at n=500
    # (4 cells / 2 probes = 50% scan); 0.45 is the driver gate's pin,
    # far above the ~25% random cell-coverage floor
    assert len(ivf_pairs) > 0
    assert recall >= 0.45, recall
    print(f"ivf_ann recall@3 = {recall:.3f}")


def test_h5_map_extract_matches_plain_agg(spark):
    """h5_map_funcs' map-typed intermediates are scalarized for its
    oracle (driver-green since r3); this authority additionally checks
    every scalar extracted FROM the map against a plain aggregation."""
    out = QUERIES["h5_map_funcs"](spark, SF_DIR).toPandas()
    ev = load_table(spark, SF_DIR, "events")
    plain = (
        ev.groupBy("user_id")
        .agg(
            F.count_distinct("event_type").alias("n_types"),
            F.max(
                F.when(F.col("event_type") == "click", F.col("value").cast("double"))
            ).alias("click_val"),
        )
        .toPandas()
    )
    a = out.sort_values("user_id").reset_index(drop=True)
    b = plain.sort_values("user_id").reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    assert (a["user_id"] == b["user_id"]).all()
    assert (a["n_types"] == b["n_types"]).all()
    ca, cb = a["click_val"], b["click_val"]
    assert (ca.isna() == cb.isna()).all()
    assert (ca.dropna() == cb[ca.notna()]).all()
    # keys string is the sorted distinct event types per user, CSV-joined
    # (scalarized for the driver canonicalizer — see the h5 docstring)
    assert (a["type_keys"].map(lambda s: len(s.split(","))) == b["n_types"]).all()
    assert (a["type_keys"].map(lambda s: s.split(",") == sorted(s.split(",")))).all()


def test_d8b_approx_percentile_near_exact(spark):
    """Raw approx p50 within 2% of d8's exact p50 per group (the query
    itself now emits the rank-bound flag the driver hashes; this asserts
    the underlying sketch value)."""
    li = load_table(spark, SF_DIR, "lineitem")
    approx = (
        li.groupBy("l_returnflag")
        .agg(F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50a"))
        .toPandas()
    )
    exact = QUERIES["d8_percentiles"](spark, SF_DIR).toPandas()
    ex = dict(zip(exact["l_returnflag"], exact["p50"]))
    assert len(approx) == len(ex) and len(approx) > 0
    for _, row in approx.iterrows():
        rel = abs(row["p50a"] - ex[row["l_returnflag"]]) / ex[row["l_returnflag"]]
        assert rel < 0.02, f"approx p50 off by {rel:.2%}"
    pdf = QUERIES["d8b_percentile_approx"](spark, SF_DIR).toPandas()
    assert (pdf["within_rank_bound"] == 1).all()


def test_mm_resize_matches_python(spark):
    """Byte-for-byte authority for the resize operator (the mm_resize
    QUERY projects the binary down to its driver-checkable size contract,
    so the payload equality is asserted here against the operator):
    each resized payload equals the Python truncate/zero-pad of the
    document's utf-8 bytes at RESIZE_W x RESIZE_H."""
    from etl_data_pipeline_spark.operators.multimodal import (
        RESIZE_H,
        RESIZE_W,
        attach_binary_payload,
        resize_payloads,
    )

    n = RESIZE_W * RESIZE_H
    docs_df = load_table(spark, SF_DIR, "documents")
    out = resize_payloads(attach_binary_payload(docs_df)).toPandas()
    docs = docs_df.select("doc_id", "text").toPandas()
    by_id = dict(zip(out["doc_id"], out["resized"]))
    assert len(out) == len(docs)
    assert (out["width"] == RESIZE_W).all() and (out["height"] == RESIZE_H).all()
    for _, row in docs.iterrows():
        b = row["text"].encode("utf-8")[:n]
        assert bytes(by_id[row["doc_id"]]) == b + b"\x00" * (n - len(b))
    # and the query-level projection honors the same contract
    q = QUERIES["mm_resize"](spark, SF_DIR).toPandas()
    assert (q["resized_bytes"] == n).all()
    exp = docs["text"].str.encode("utf-8").str.len().clip(upper=n)
    got = q.set_index("doc_id")["content_bytes"]
    assert (got.loc[docs["doc_id"]].to_numpy() == exp.to_numpy()).all()


def test_sample_frames_matches_python(spark):
    """Row-for-row authority for the one-to-many frame sampler (the
    mm_frame_sample oracle only counts rows per document): every
    (doc_id, frame_idx, frame_bytes, frame_checksum) row equals a plain
    Python walk over the document's utf-8 bytes in 32-byte frames,
    keeping every 4th."""
    from etl_data_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    docs_df = load_table(spark, SF_DIR, "documents")
    got = sorted(
        tuple(r) for r in sample_frames(attach_binary_payload(docs_df))
        .select("doc_id", "frame_idx", "frame_bytes", "frame_checksum")
        .collect()
    )
    want = []
    for doc_id, text in docs_df.select("doc_id", "text").collect():
        b = text.encode("utf-8")
        for idx in range(0, max(1, len(b) // 32), 4):
            frame = b[idx * 32 : (idx + 1) * 32]
            checksum = 0
            for byte in frame:
                checksum = (checksum * 31 + byte) % 1_000_000_007
            want.append((doc_id, idx, len(frame), checksum))
    assert got == sorted(want)


def test_kmeans_inertia_monotone(spark):
    """Raw Lloyd invariants on the operator (the query projects them to
    driver-hashable flags): inertia non-increasing, no empty clusters,
    every vector assigned each iteration."""
    from etl_data_pipeline_spark.operators.similarity import kmeans_iterations

    e = load_table(spark, SF_DIR, "embeddings")
    pdf = kmeans_iterations(e, k=8, iters=3).toPandas().sort_values("iteration")
    inertias = pdf["inertia"].tolist()
    assert len(inertias) == 3
    # Lloyd's algorithm never increases inertia
    assert all(b <= a + 1e-9 for a, b in zip(inertias, inertias[1:])), inertias
    assert (pdf["n_nonempty"] >= 1).all()
    assert (pdf["n_assigned"] == e.count()).all()
    q = QUERIES["kmeans_lloyd"](spark, SF_DIR).toPandas()
    assert (q["inertia_decreased"] == 1).all()


def test_kmeans_releases_persisted_frames(spark):
    """kmeans_iterations returns driver-side rows, so a long-lived
    session holds no more persisted frames after it than before."""
    from etl_data_pipeline_spark.operators.similarity import kmeans_iterations

    # a filter no other test uses, so no earlier cache entry matches
    # these plans and hides a frame the loop leaves persisted
    e = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") % 2 == 0)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    kmeans_iterations(e, 8, 3)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_neardup_clusters_match_union_find(spark):
    """neardup_clusters' min-label propagation must equal a plain Python
    union-find over the same verified LSH pair set — an authority
    independent of both the DuckDB recursive-CTE oracle and Spark."""
    from etl_data_pipeline_spark.operators.text import minhash_lsh_pairs

    docs = load_table(spark, SF_DIR, "documents")
    pairs = minhash_lsh_pairs(docs, 0.5).select("a", "b").collect()
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["a"]), find(r["b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress to the component min (union always keeps the min root)
    expected = {i: find(i) for i in ids}
    out = QUERIES["neardup_clusters"](spark, SF_DIR).toPandas()
    assert len(out) == len(ids)
    got = dict(zip(out["doc_id"], out["component"]))
    assert got == expected
    assert (out["is_canonical"] == (out["doc_id"] == out["component"])).all()
    # the pair set is non-trivial at every test sf
    assert len(pairs) > 0 and any(v != k for k, v in expected.items())


def test_quantized_rerank_recall_vs_exact(spark):
    """i6c's int8-candidate + exact-rerank top-3 must recover most of the
    exact float kNN top-3 (quantization to 8 bits barely perturbs the
    ranking; candidate depth 20 >> k 3 absorbs the rest)."""
    exact = (
        QUERIES["i7_knn"](spark, SF_DIR)
        .select("vec_id", "neighbor")
        .toPandas()
    )
    quant = (
        QUERIES["i6c_quantized_rerank"](spark, SF_DIR)
        .select("vec_id", "neighbor")
        .toPandas()
    )
    e = set(map(tuple, exact.itertuples(index=False)))
    q = set(map(tuple, quant.itertuples(index=False)))
    recall = len(e & q) / len(e)
    print(f"quantized rerank recall@3 = {recall:.3f}")
    assert recall >= 0.8


def test_real_decoders_roundtrip_pure_python():
    """The multimodal decoders are REAL format parsers (PPM/WAV/Y4M are
    public formats needing no external libs): encode->decode recovers
    the exact arrays, and alien magic bytes fail loudly."""
    import numpy as np
    import pytest

    from etl_data_pipeline_spark.operators.multimodal import (
        decode_audio,
        decode_image,
        encode_ppm,
        encode_wav,
        encode_y4m,
        sample_video_frames,
    )

    # PPM P6: exact pixel recovery, including the cycled fill
    src = b"hello multimodal world"
    img = decode_image(encode_ppm(src, 5, 3))
    assert img.shape == (3, 5, 3) and img.dtype == np.uint8
    want = bytes((src * (45 // len(src) + 1))[:45])
    assert img.tobytes() == want
    # PGM P5 + comment line in header
    pgm = b"P5\n# a comment\n4 2\n255\n" + bytes(range(8))
    gray = decode_image(pgm)
    assert gray.shape == (2, 4) and gray.tobytes() == bytes(range(8))
    # WAV PCM16: exact sample recovery
    sig = (np.arange(100, dtype=np.int64) * 317 % 20001 - 10000).astype(
        np.int16
    )
    rate, ch, out = decode_audio(encode_wav(sig, 8000))
    assert (rate, ch) == (8000, 1) and np.array_equal(out, sig)
    # Y4M: frame arity + exact Y-plane recovery of sampled frames
    planes = [
        np.full((4, 4), f * 10, dtype=np.uint8) for f in range(5)
    ]
    sampled = sample_video_frames(encode_y4m(planes, 4, 4), every_n=2)
    assert len(sampled) == 3
    for got, f in zip(sampled, (0, 2, 4)):
        assert np.array_equal(got, planes[f])
    # unsupported real formats fail loudly by magic, not by mis-parse
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04" + b"\x00" * 16)
    with pytest.raises(ValueError):
        decode_image(b"GIF89a" + b"\x00" * 16)


def test_exact_jaccard_on_pairs_matches_set_reference(spark):
    """The r15 array_intersect rewrite of exact_jaccard_on_pairs must
    reproduce the inverted-index semantics it replaced, pinned against
    a plain-Python set reference: distinct-token intersections (tokens
    repeat inside docs), candidate pairs with ZERO shared tokens kept
    with inter = 0, empty text counted as the single '' token, and the
    exact inter/(na+nb-inter) division."""
    from etl_data_pipeline_spark.operators.text import (
        exact_jaccard_on_pairs,
    )

    texts = {
        1: "a b c a b",      # dup tokens: distinct = {a,b,c}
        2: "b c d",
        3: "x y z",          # zero overlap with 1
        4: "",               # empty text -> the single '' token
        5: "a b c",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (2, 5)], "a long, b long"
    )
    got = {
        (r["a"], r["b"]): (r["inter"], r["na"], r["nb"], r["jaccard"])
        for r in exact_jaccard_on_pairs(docs, cand).collect()
    }
    for (a, b) in [(1, 2), (1, 3), (1, 4), (1, 5), (2, 5)]:
        sa = set(texts[a].split(" "))
        sb = set(texts[b].split(" "))
        inter, na, nb = len(sa & sb), len(sa), len(sb)
        assert got[(a, b)] == (
            inter, na, nb, inter / (na + nb - inter)
        ), (a, b, got[(a, b)])
    assert got[(1, 3)][0] == 0  # zero-overlap pair present, inter=0


def test_lsh_bucket_cap_diverts_oversized_buckets(spark):
    """The band-bucket cap is the quadratic-fan-out guard: a 20-doc
    boilerplate cluster lands in one bucket per band; with the cap below
    20 NONE of its 190 pairs may be emitted (diverted to exact-dedup
    handling), while genuinely small near-dup buckets still pair.  Also
    asserts the property the plan promises: every emitted pair shares at
    least one band bucket whose size is within the cap."""
    from etl_data_pipeline_spark.operators.text import (
        minhash_bands,
        minhash_lsh_pairs,
    )

    template = "the same boilerplate template text repeated verbatim here"
    rows = [(i, template) for i in range(20)]
    rows += [
        (100, "alpha bravo charlie delta echo foxtrot golf hotel india one"),
        (101, "alpha bravo charlie delta echo foxtrot golf hotel india two"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(docs, 0.5, max_bucket_size=None).toPandas()
    capped = minhash_lsh_pairs(docs, 0.5, max_bucket_size=10).toPandas()

    # uncapped: the 20 identical docs yield all 190 template pairs
    template_pairs = {
        (a, b) for a in range(20) for b in range(20) if a < b
    }
    got_uncapped = {(int(r.a), int(r.b)) for r in uncapped.itertuples()}
    assert template_pairs <= got_uncapped

    # capped: every template pair is diverted; no doc < 100 appears
    got_capped = {(int(r.a), int(r.b)) for r in capped.itertuples()}
    assert not (got_capped & template_pairs)
    assert all(a >= 100 and b >= 100 for a, b in got_capped)

    # property: each emitted pair shares >= 1 band whose bucket is small
    bands = minhash_bands(docs).toPandas()
    sizes = bands.groupby(["band", "band_key"]).size()
    by_doc = bands.groupby("doc_id")[["band", "band_key"]].apply(
        lambda g: set(map(tuple, g.values))
    )
    for a, b in got_capped:
        shared = by_doc[a] & by_doc[b]
        assert any(sizes[s] <= 10 for s in shared), (a, b)


def test_connected_components_star_chain_converges_logarithmically(spark):
    """large-star/small-star must solve a length-64 chain — propagation's
    adversarial case (diameter 63 would need 63 propagation rounds and
    silently truncate at max_iters=25) — in O(log L) rounds, with every
    node labeled by the component min.  Plus a multi-component mix."""
    from etl_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(63)]  # 0-1-2-...-63
    edges = spark.createDataFrame(chain, "u long, v long")
    assign, rounds = connected_components_star(edges)
    got = {r["u"]: r["component"] for r in assign.collect()}
    assert got == {i: 0 for i in range(1, 64)}
    assert rounds <= 12, rounds  # log2(64)=6 star rounds + detection slack

    # two components + an isolated pair, shuffled orientations
    mixed = [(5, 3), (3, 9), (9, 1), (20, 25), (25, 20), (40, 41)]
    edges2 = spark.createDataFrame(mixed, "u long, v long")
    assign2, _ = connected_components_star(edges2)
    got2 = {r["u"]: r["component"] for r in assign2.collect()}
    assert got2 == {3: 1, 5: 1, 9: 1, 25: 20, 41: 40}


def test_connected_components_star_converges_under_reliable_checkpoint(
    spark, tmp_path
):
    """The r15 loop restructure made the convergence signature ride the
    checkpoint action as an Observation (no separate scan) and the
    re-symmetrize a lazy distinct-free union.  Both must hold on the
    RELIABLE checkpoint path too (cut_lineage upgrades to checkpoint()
    when a dir is configured — the cluster/chaos posture): a CollectMetrics
    that failed to fill there would HANG the loop at obs.get, and a
    broken fixpoint signature would run all max_iters instead of
    breaking early."""
    from etl_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "cc_ck"))
    try:
        chain = [(i, i + 1) for i in range(31)]  # 0-1-...-31, diameter 31
        edges = spark.createDataFrame(chain, "u long, v long")
        assign, rounds = connected_components_star(edges)
        got = {r["u"]: r["component"] for r in assign.collect()}
        assert got == {i: 0 for i in range(1, 32)}
        assert rounds <= 11, rounds  # early fixpoint break still fires
        assert list((tmp_path / "cc_ck").rglob("*")), "reliable path not taken"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_mmr_skips_near_duplicate_for_diverse_pick(spark):
    """MMR's whole point: with an exact duplicate in the pool, rank 2
    must skip it (similarity penalty ~= relevance) and take the diverse
    candidate whose relevance-minus-redundancy is higher; rank 1 is the
    plain relevance argmax with id tiebreak."""
    from etl_data_pipeline_spark.operators.similarity import mmr_diversified

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),       # query
        (1, [0.9, 0.436, 0.0, 0.0]),     # most relevant
        (2, [0.9, 0.436, 0.0, 0.0]),     # exact duplicate of 1
        (3, [0.9, -0.436, 0.0, 0.0]),    # equally relevant, diverse
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = (
        mmr_diversified(spark, e, query_id=0, k=2, n_cand=3)
        .toPandas()
        .sort_values("rank")
    )
    assert out["vec_id"].tolist() == [1, 3], out
    # and the duplicate's would-be score is dominated: rank-2 score > 0
    assert out["mmr_score"].iloc[1] > 0


def test_misra_gries_guarantee_on_adversarial_streams():
    """Authority test for heavy_hitters_mg: the per-partition MG fold
    honours the classic bound on ANY stream — estimates never exceed
    true counts, undercount <= n/(k+1), at most k survivors — including
    an adversarial rotation designed to maximize evictions."""
    import numpy as np
    import pandas as pd

    from etl_data_pipeline_spark.plans.sketches import misra_gries_partial

    rng = np.random.default_rng(7)
    streams = [
        rng.integers(0, 40, size=1000),                  # uniform, 40 > k
        rng.zipf(1.5, size=1000) % 100,                  # skewed
        np.arange(2000) % 23,                            # rotation
        np.concatenate([np.full(500, 9), rng.integers(0, 60, 500)]),
    ]
    k = 16
    for xs in streams:
        batches = [
            pd.DataFrame({"item": pd.Series(xs[i : i + 100], dtype="int64")})
            for i in range(0, len(xs), 100)
        ]
        (summary,) = list(misra_gries_partial(iter(batches), k=k))
        assert len(summary) <= k
        true = pd.Series(xs).value_counts()
        n = len(xs)
        est = dict(zip(summary["item"], summary["est"]))
        for item, t in true.items():
            e = est.get(item, 0)
            assert e <= t, (item, e, t)
            assert (t - e) * (k + 1) <= n, (item, e, t, n)
        # completeness: every item above n/(k+1) must survive
        for item, t in true.items():
            if t * (k + 1) > n:
                assert item in est


def test_bloom_membership_no_false_negatives(spark):
    """Authority test for bloom_membership: a Bloom filter may false-
    positive but NEVER false-negative — every reference member must hit."""
    pdf = QUERIES["bloom_membership"](spark, SF_DIR).toPandas()
    members = pdf[pdf["is_member"] == 1]
    assert len(members) > 0
    assert (members["bloom_hit"] == 1).all()
    assert (pdf["false_pos"] == pdf["bloom_hit"] * (1 - pdf["is_member"])).all()


def test_skyline_matches_bruteforce_on_random_points(spark):
    """Authority test for skyline_price_size: the two-phase distributed
    skyline equals the O(n^2) dominance definition on random points,
    including duplicate coordinates and ties along both axes."""
    import numpy as np

    rng = np.random.default_rng(11)
    prices = rng.integers(1, 12, size=80).astype(float)
    sizes = rng.integers(1, 12, size=80)
    rows = [(float(p), int(s)) for p, s in zip(prices, sizes)]
    df = spark.createDataFrame(rows, "p_retailprice double, p_size int")
    pts = df.groupBy("p_retailprice", "p_size").agg(
        F.count(F.lit(1)).alias("n_parts")
    )
    from etl_data_pipeline_spark.plans.etl import _skyline_block

    schema = "p_retailprice double, p_size int, n_parts long"
    got = (
        pts.repartition(5)
        .mapInPandas(_skyline_block, schema=schema)
        .repartition(1)
        .mapInPandas(_skyline_block, schema=schema)
        .toPandas()
    )
    uniq = {(p, s) for p, s in rows}
    front = {
        (p, s)
        for (p, s) in uniq
        if not any(
            (q <= p and t >= s and (q < p or t > s)) for (q, t) in uniq
        )
    }
    assert set(zip(got["p_retailprice"], got["p_size"])) == front


def test_cusum_alarm_and_reset_semantics(spark):
    """Authority test for cusum_changepoint: a crafted sequence with a
    timestamp tie (order must fall back to event_id), a sub-threshold
    climb, an alarm crossing, and a post-reset rebuild."""
    import datetime as dt

    from etl_data_pipeline_spark.plans.timeseries import _cusum_bucket

    t0 = dt.datetime(2024, 1, 1)
    # v grid units; K_REF=6000, H=30000
    rows = [
        # (event_id, ts, value): +20000 twice (S=14000, 28000 no alarm),
        # +20000 again -> S=42000 > H: alarm, reset; then tie-ordered pair
        (1, t0, 260.00),
        (2, t0 + dt.timedelta(seconds=1), 260.00),
        (3, t0 + dt.timedelta(seconds=2), 260.00),
        (5, t0 + dt.timedelta(seconds=3), 400.00),   # tie: id 4 first
        (4, t0 + dt.timedelta(seconds=3), 0.01),
    ]
    ev = spark.createDataFrame(
        [(1, i, t, v) for (i, t, v) in rows],
        "user_id long, event_id long, ts timestamp, value double",
    )
    got = (
        ev.select(
            "user_id", "ts", "event_id",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
        )
        .groupBy("user_id")
        .applyInPandas(
            _cusum_bucket,
            schema="user_id long, n_events long, n_alarms long, max_s long",
        )
        .toPandas()
    )
    # by hand: S: 20000, 40000>H alarm reset, 20000, (id4) 20000+1-6000
    # =14001, (id5) 14001+40000-6000=48001>H alarm reset -> 2 alarms
    assert got.iloc[0]["n_alarms"] == 2
    assert got.iloc[0]["max_s"] == 48001
    assert got.iloc[0]["n_events"] == 5


def test_cusum_bucket_invariance(spark):
    """The r15 bucketed cusum kernel must give the same per-user answer
    whether users share one applyInPandas group or get one each — the
    recursion never crosses users, so the result is invariant to the
    bucket count."""
    import datetime as dt

    from pyspark.sql import functions as SF

    from etl_data_pipeline_spark.plans.timeseries import _cusum_bucket

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for uid in range(7):
        for i in range(20):
            rows.append(
                (uid, uid * 100 + i, t0 + dt.timedelta(seconds=i),
                 float((uid * 37 + i * 91) % 400))
            )
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    ).select(
        "user_id", "ts", "event_id",
        SF.floor(SF.col("value") * 100 + 0.5).cast("long").alias("v"),
    )
    schema = "user_id long, n_events long, n_alarms long, max_s long"
    per_user = (
        ev.groupBy("user_id").applyInPandas(_cusum_bucket, schema).toPandas()
    )
    one_bucket = (
        ev.withColumn("bkt", SF.lit(0))
        .groupBy("bkt")
        .applyInPandas(_cusum_bucket, schema)
        .toPandas()
    )
    a = per_user.sort_values("user_id").reset_index(drop=True)
    b = one_bucket.sort_values("user_id").reset_index(drop=True)
    assert a.equals(b)


def test_interval_coverage_matches_bruteforce_union(spark):
    """Authority test for interval_coverage: island merge equals the
    O(n^2) interval-union computation on random overlapping intervals,
    including contained intervals (which a LAG-of-previous-end detector
    would mis-split) and exact-touch boundaries."""
    import datetime as dt

    import numpy as np

    from etl_data_pipeline_spark.plans import QUERIES

    rng = np.random.default_rng(3)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in range(4):
        for _ in range(30):
            start = int(rng.integers(0, 10_000))
            rows.append((eid, uid, t0 + dt.timedelta(seconds=start)))
            eid += 1
    # exact-touch pair: [0,1800] and [1800,3600] must merge
    rows.append((eid, 9, t0)); eid += 1
    rows.append((eid, 9, t0 + dt.timedelta(seconds=1800))); eid += 1
    ev = spark.createDataFrame(
        [(e, t, u, "view", 1.0, "{}") for (e, u, t) in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import etl_data_pipeline_spark.catalog as catalog

    orig = catalog.load_table
    try:
        catalog_load = lambda sp, sf, name: ev  # noqa: E731
        import etl_data_pipeline_spark.plans.events as events_mod

        events_mod.load_table = catalog_load
        got = (
            QUERIES["interval_coverage"](spark, "ignored")
            .toPandas()
            .set_index("user_id")
        )
    finally:
        events_mod.load_table = orig
    L = 1_800_000_000
    for uid in {u for (_, u, _) in rows}:
        ivs = sorted(
            (
                int(t.timestamp() * 1_000_000),
                int(t.timestamp() * 1_000_000) + L,
            )
            for (_, u, t) in rows
            if u == uid
        )
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        row = got.loc[uid]
        assert row["n_islands"] == len(merged)
        assert row["covered_us"] == sum(e - s for s, e in merged)
        assert row["longest_us"] == max(e - s for s, e in merged)
    assert got.loc[9]["n_islands"] == 1  # exact-touch merged


def test_weighted_median_matches_bruteforce():
    """Authority check of the 2*cum >= total selection rule against a
    direct expansion-and-middle computation."""
    import numpy as np

    rng = np.random.default_rng(5)
    vals = rng.integers(1, 20, size=50).astype(float)
    ws = rng.integers(1, 9, size=50)
    # lower weighted median by expansion
    expanded = np.sort(np.repeat(vals, ws))
    total = ws.sum()
    # smallest v with cumweight*2 >= total == element at position
    # ceil(total/2)-1 of the expanded sorted array
    expect = expanded[(total + 1) // 2 - 1]
    import pandas as pd

    df = (
        pd.DataFrame({"v": vals, "w": ws})
        .groupby("v", as_index=False)["w"].sum()
        .sort_values("v")
    )
    df["cw"] = df["w"].cumsum()
    got = df[2 * df["cw"] >= total]["v"].iloc[0]
    assert got == expect


def test_pq_recall_vs_exact(spark):
    """Authority test for the PQ path: recall@3 of pq_rerank_adaptive
    (16 codes at every sf <= 0.1) against the exact blocked kNN must
    clear the pinned 0.4 gate (measured ~0.61-0.63 at sf0.001/0.01 for
    the 16x4/16-code geometry, n_cand=50)."""
    from etl_data_pipeline_spark.catalog import load_table
    from etl_data_pipeline_spark.operators.ann_adaptive import (
        pq_rerank_adaptive,
    )
    from etl_data_pipeline_spark.operators.similarity import knn

    e = load_table(spark, SF_DIR, "embeddings")
    exact = knn(e, k=3).select("vec_id", "neighbor")
    approx = pq_rerank_adaptive(e, k=3, n_cand=50).select(
        "vec_id", F.col("neighbor").alias("n2")
    )
    hits = exact.join(
        approx,
        (exact["vec_id"] == approx["vec_id"])
        & (exact["neighbor"] == approx["n2"]),
        "left_semi",
    ).count()
    total = exact.count()
    assert hits / total >= 0.4, (hits, total)


def test_lsh_buckets_partition_invariant(spark):
    """The round-6 integer-grid sign test (ADVICE r5): bucket
    assignments must be IDENTICAL under different partitionings — the
    former float SUM(v*w) projection could flip a sign bit within
    epsilon of zero depending on accumulation order.  Exact integer
    sums cannot."""
    from etl_data_pipeline_spark.catalog import load_table
    from etl_data_pipeline_spark.operators.similarity import lsh_buckets

    e = load_table(spark, SF_DIR, "embeddings")
    base = lsh_buckets(e, n_planes=4).orderBy("vec_id").toPandas()
    for n_parts in (1, 3, 17):
        alt = (
            lsh_buckets(e.repartition(n_parts), n_planes=4)
            .orderBy("vec_id")
            .toPandas()
        )
        assert (base["vec_id"].values == alt["vec_id"].values).all()
        assert (base["bucket"].values == alt["bucket"].values).all(), n_parts


def test_lsh_plane_weights_match_sql_md5(spark):
    """The driver-side LSH hyperplane weights equal the oracles' SQL
    spelling md5_hash32(j || '_' || pos) % 2001 - 1000, for all 30 x 64
    weights the oracles' plane generator (RANGE(30) x RANGE(64)) spans."""
    from etl_data_pipeline_spark.operators.similarity import _plane_weights
    from etl_data_pipeline_spark.operators.text import md5_hash32

    j = F.col("j").cast("string")
    pos = F.col("pos").cast("string")
    rows = (
        spark.range(30)
        .select(F.col("id").alias("j"))
        .crossJoin(spark.range(64).select(F.col("id").alias("pos")))
        .select(
            "j", "pos", (md5_hash32(F.concat_ws("_", j, pos)) % 2001 - 1000).alias("w")
        )
        .collect()
    )
    assert len(rows) == 30 * 64
    got = _plane_weights(30)
    assert got.shape == (64, 30)
    for r in rows:
        assert got[r["pos"], r["j"]] == r["w"], (r["j"], r["pos"])


@pytest.mark.parametrize(
    "bad, got", [([0.5, -0.25, 1.0], "3 values"), (None, "NULL")]
)
def test_lsh_buckets_rejects_bad_embedding(spark, bad, got):
    """lsh_buckets' input contract: an embedding that is NULL or not 64
    values long fails with a ValueError naming its vec_id, not with a
    numpy shape error or TypeError from inside the matmul."""
    from etl_data_pipeline_spark.operators.similarity import lsh_buckets

    good = [0.1 * (i % 7) - 0.3 for i in range(64)]
    e = spark.createDataFrame(
        [(1, good), (7, bad)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match=f"embedding of vec_id 7 is {got}"):
        lsh_buckets(e, n_planes=4).collect()


def test_ivf_pin_bound(spark):
    """The IVF builders pin the centroid table, so they accept nlist <=
    PIN_MAX_CELLS (n <= 12.5M vectors by the nlist rule) and reject
    nlist = PIN_MAX_CELLS + 1 with a ValueError naming n and nlist,
    before any Spark job."""
    from etl_data_pipeline_spark.operators.ann_adaptive import (
        PIN_MAX_CELLS,
        adaptive_nlist,
        kmeans_cell_ranks,
        require_pinnable,
    )

    assert PIN_MAX_CELLS == 100_000
    assert adaptive_nlist(12_500_124) == 100_000
    assert adaptive_nlist(12_500_125) == 100_001
    require_pinnable(100_000, n=12_500_124)
    with pytest.raises(
        ValueError, match="n=12500125 vectors give nlist=100001 cells"
    ):
        require_pinnable(100_001, n=12_500_125)

    e = load_table(spark, SF_DIR, "embeddings")
    n = e.count()
    sc = spark.sparkContext
    sc.setJobGroup("ivf-pin-bound", "pin bound check")
    try:
        with pytest.raises(ValueError, match="nlist=100001 cells"):
            kmeans_cell_ranks(e, n, nlist=100_001)
        assert sc.statusTracker().getJobIdsForGroup("ivf-pin-bound") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the bound itself is accepted: the build constructs and runs
    ranked = kmeans_cell_ranks(e, n, PIN_MAX_CELLS, iters=1, top=1)
    assert ranked.count() == n
    spark.catalog.clearCache()


def test_misra_gries_flags_partition_independent(spark):
    """The MG guarantee (recall above N/(K+1), never-overcount) must
    hold for ANY partitioning — the flags heavy_hitters_mg hashes are
    deterministic even though raw estimates are not.  Fold the sketch
    over 1, 3 and 8 partitions and check every above-threshold item
    survives with estimate in [true - N/(K+1), true] each time."""
    import pandas as pd

    from etl_data_pipeline_spark.catalog import load_table
    from etl_data_pipeline_spark.plans.sketches import misra_gries_partial

    ev = load_table(spark, SF_DIR, "events").select(
        F.col("user_id").alias("item")
    )
    exact = {
        r["item"]: r["n"]
        for r in ev.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(exact.values())
    k = 40  # small K so the threshold bites on sf0.001
    heavy = {i for i, c in exact.items() if c * (k + 1) > n_total}
    assert heavy, "fixture must have at least one heavy hitter"
    for n_parts in (1, 3, 8):
        partials = ev.repartition(n_parts).mapInPandas(
            lambda batches: misra_gries_partial(batches, k),
            schema="item long, est long",
        )
        est = {
            r["item"]: r["est"]
            for r in partials.groupBy("item")
            .agg(F.sum("est").alias("est"))
            .collect()
        }
        for item in heavy:
            assert item in est, (n_parts, item)
            assert est[item] <= exact[item], (n_parts, item)
            assert (exact[item] - est[item]) * (k + 1) <= n_total, (
                n_parts,
                item,
            )


import pytest as _pytest


@_pytest.mark.parametrize("n_parts", [1, 3, 7])
def test_asof_join_tied_right_timestamps_deterministic(spark, n_parts):
    """Right rows tying on (key, ts) must carry the SAME payload at
    every input partitioning — the window order ends with the payload
    struct, so the greatest struct wins deterministically instead of
    whichever row a partition happened to order last (the
    retry-nondeterminism class; invisible on the ns-timestamp testdata
    where ties never occur)."""
    from etl_data_pipeline_spark.operators.sessionize import asof_join

    left = spark.createDataFrame([(1, 10, 100)], "lid long, k long, ts long")
    right = spark.createDataFrame(
        [(5, 10, 100), (7, 10, 100), (6, 10, 100), (2, 10, 50)],
        "event_id long, k long, ts long",
    ).repartition(n_parts)
    out = asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        right_payload=["event_id", "ts"],
    ).collect()
    assert [(r["lid"], r["r_event_id"]) for r in out] == [(1, 7)]


def test_a18_footer_stats_match_pyarrow_and_scan(spark):
    """The footer sweep's row/column counts equal pyarrow's direct
    footer read AND a real scan's count — plus the row-group count the
    driver oracle can't see (no view-level SQL for it) is asserted
    here against pyarrow."""
    import pyarrow.parquet as pq

    from etl_data_pipeline_spark.catalog import TABLES, table_path

    out = {
        r["tbl"]: r
        for r in QUERIES["a18_parquet_stats"](spark, SF_DIR).collect()
    }
    assert set(out) == set(TABLES)
    for t in TABLES:
        md = pq.ParquetFile(table_path(SF_DIR, t)).metadata
        assert out[t]["n_rows"] == md.num_rows
        assert out[t]["n_cols"] == md.num_columns
        assert out[t]["n_rows"] == (
            load_table(spark, SF_DIR, t).count()
        )
        assert md.num_row_groups >= 1  # the field tests can see, oracle can't


def test_decontaminate_bloom_equals_exact_decontaminate(spark):
    """The bloom prune + exact confirm must be answer-identical to the
    plain broadcast semi-join formulation — the bitmap may only change
    COST, never the result (no false negatives; FPs die in the confirm
    join)."""
    exact = {
        (r["doc_id"], r["n_shared"])
        for r in QUERIES["decontaminate"](spark, SF_DIR).collect()
    }
    bloom = {
        (r["doc_id"], r["n_shared"])
        for r in QUERIES["decontaminate_bloom"](spark, SF_DIR).collect()
    }
    assert exact == bloom and len(exact) > 0


def test_b20_bloom_positions_match_python_mirror(spark):
    """Differential mirror (house convention): the 4 word/bit probe
    positions computed by the DataFrame expressions equal a from-scratch
    Python md5-slice mirror for arbitrary shingle strings."""
    import hashlib

    from etl_data_pipeline_spark.plans.scale_patterns import (
        _B20_PROBES,
        _B20_WORD_BITS,
        _b20_word_bit,
    )

    shingles = ["a b c", "join the stream", "", "dup dup dup", "x" * 50]
    df = spark.createDataFrame([(s,) for s in shingles], "sh string")
    cols = []
    for i in range(_B20_PROBES):
        w, b = _b20_word_bit(F.md5("sh"), i)
        cols += [w.alias(f"w{i}"), b.alias(f"b{i}")]
    got = {r["sh"]: r for r in df.select("sh", *cols).collect()}
    for s in shingles:
        hx = hashlib.md5(s.encode()).hexdigest()
        for i in range(_B20_PROBES):
            pos = int(hx[5 * i : 5 * i + 5], 16)
            assert got[s][f"w{i}"] == pos // _B20_WORD_BITS
            assert got[s][f"b{i}"] == pos % _B20_WORD_BITS


def test_blocked_kernels_blocking_invariant(spark):
    """The blocked all-pairs kernels must return IDENTICAL results at
    any block count (ADVICE r13: _resolve_blocks made the default
    data-dependent — max(8, n // 2500) — so the claim that n_blocks is
    purely a scheduling knob needs a regression test).  Each query
    meets every other vector in exactly one block pair and the final
    merge takes the global top under one total order, so n_blocks in
    {2, 8, None} must hash-match for every consumer."""
    from etl_data_pipeline_spark.operators.similarity import (
        cosine_topk_pairs,
        embedding_neardup,
        knn,
        quantized_rerank,
    )

    e = load_table(spark, SF_DIR, "embeddings")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for fn, kwargs in (
        (knn, {"k": 3}),
        (cosine_topk_pairs, {"k": 5}),
        (embedding_neardup, {"min_cos": 0.2}),
        (quantized_rerank, {"k": 3, "n_cand": 10}),
    ):
        base = rows(fn(e, n_blocks=2, **kwargs))
        assert len(base) > 0, fn.__name__
        for nb in (8, None):
            got = rows(fn(e, n_blocks=nb, **kwargs))
            assert got == base, (fn.__name__, nb)


def test_cell_topk_kern_bucket_invariance(spark):
    """The r16 cell-bucketed `_cell_topk_kern` must give the same answer
    whether each applyInPandas group holds one cell (the r15 keying,
    the B >= n_cells special case) or many cells share a bucket — the
    kernel loops the per-cell logic inside the frame and no query /
    member pair ever crosses a cell, so the result is invariant to the
    bucket count."""
    import numpy as np

    from etl_data_pipeline_spark.operators.similarity import _cell_topk_kern

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for cell in range(11):
        for _ in range(3 + cell % 4):  # queries probe their own cell too
            rows.append(
                (cell, vid, [float(x) for x in rng.normal(size=4)], 0)
            )
            rows.append(
                (cell, vid, [float(x) for x in rng.normal(size=4)], 1)
            )
            vid += 1
    tagged = spark.createDataFrame(
        rows, "cell long, vid long, embedding array<double>, side int"
    )
    schema = "q long, n long, cosine double"

    def res(df):
        return sorted(tuple(r) for r in df.collect())

    per_cell = res(
        tagged.groupBy("cell").applyInPandas(_cell_topk_kern(3), schema)
    )
    assert len(per_cell) > 0
    for nb in (1, 3):
        bucketed = res(
            tagged.withColumn(
                "bkt", F.pmod(F.xxhash64("cell"), F.lit(nb))
            )
            .groupBy("bkt")
            .applyInPandas(_cell_topk_kern(3), schema)
        )
        assert bucketed == per_cell, nb


def test_query_topk_matches_sorted_reference():
    """The shared per-query cosine top-k equals, row by row, a
    sorted(key=(-cosine, id)) reference: forced equal cosines, query ids
    among the candidates (self-pairs never emitted), NaN entries (never
    emitted) and k above the candidate count."""
    import math

    import numpy as np

    from etl_data_pipeline_spark.operators.similarity import _query_topk

    rng = np.random.default_rng(5)
    for trial in range(300):
        nq, nc = int(rng.integers(1, 6)), int(rng.integers(1, 8))
        pool = rng.choice(20, size=nq + nc, replace=False)
        q_ids = pool[:nq].astype("int64")
        c_ids = pool[nq:].astype("int64")
        m = int(rng.integers(0, min(nq, nc) + 1))
        c_ids[:m] = q_ids[:m]  # these queries meet themselves
        # few distinct values so equal cosines are common
        M = rng.choice([-0.5, -0.0, 0.0, 0.25, 0.5, 1.0], size=(nq, nc))
        if trial % 3 == 0:
            M[rng.integers(nq), rng.integers(nc)] = np.nan
        k = int(rng.integers(1, nc + 3))
        q, nb, cos = _query_topk(q_ids, c_ids, M, k)
        want = []
        for i, qid in enumerate(q_ids):
            cands = sorted(
                (-M[i, j], int(c_ids[j]))
                for j in range(nc)
                if c_ids[j] != qid and not math.isnan(M[i, j])
            )[:k]
            want += [(int(qid), cid, -negc) for negc, cid in cands]
        got = list(zip(q.tolist(), nb.tolist(), cos.tolist()))
        assert got == want, (trial, got, want)
