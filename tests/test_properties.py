"""Property-based algebraic invariants (SURVEY.md §5.3, hypothesis).

Small random frames -> invariants that must hold for ANY input:
filter-split equivalence, inner-join commutativity, dedup idempotence,
window rank is a permutation within its partition, union-all count
additivity. Examples are kept small (Spark job per example); the point
is input-shape coverage, not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql.window import Window

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),          # key
        st.integers(min_value=-100, max_value=100),     # val
        st.sampled_from(["x", "y", "z"]),               # tag
    ),
    min_size=1,
    max_size=30,
)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "key int, val int, tag string")


@SLOW
@given(rows=ROWS)
def test_filter_split_equivalence(spark, rows):
    # filter(a AND b) == filter(a).filter(b) — the rewrite predicate
    # pushdown relies on
    df = _df(spark, rows)
    both = df.filter((F.col("val") > 0) & (F.col("tag") != "y")).count()
    split = df.filter(F.col("val") > 0).filter(F.col("tag") != "y").count()
    assert both == split


@SLOW
@given(rows=ROWS, rows2=ROWS)
def test_inner_join_commutes(spark, rows, rows2):
    a = _df(spark, rows)
    b = _df(spark, rows2).withColumnRenamed("val", "val2").drop("tag")
    ab = a.join(b, "key").count()
    ba = b.join(a, "key").count()
    assert ab == ba


@SLOW
@given(rows=ROWS)
def test_dedup_idempotent(spark, rows):
    df = _df(spark, rows)
    once = df.distinct()
    assert once.count() == once.distinct().count()


@SLOW
@given(rows=ROWS)
def test_window_rank_is_permutation(spark, rows):
    # row_number within each partition is exactly 1..n (no gaps/dupes)
    df = _df(spark, rows)
    w = Window.partitionBy("key").orderBy("val", "tag")
    rn = df.withColumn("rn", F.row_number().over(w))
    per_key = rn.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("rn").alias("lo"),
        F.max("rn").alias("hi"),
        F.count_distinct("rn").alias("nd"),
    )
    bad = per_key.filter(
        (F.col("lo") != 1) | (F.col("hi") != F.col("n")) | (F.col("nd") != F.col("n"))
    ).count()
    assert bad == 0


@SLOW
@given(rows=ROWS, rows2=ROWS)
def test_union_all_count_additive(spark, rows, rows2):
    a, b = _df(spark, rows), _df(spark, rows2)
    assert a.unionByName(b).count() == a.count() + b.count()


# ---------------------------------------------------------------------------
# Multimodal codec properties (pure Python/numpy — no Spark, so not SLOW):
# encode->decode must be the identity for arbitrary content, dims, rates.
# ---------------------------------------------------------------------------


@given(
    data=st.binary(min_size=1, max_size=512),
    w=st.integers(min_value=1, max_value=32),
    h=st.integers(min_value=1, max_value=32),
)
def test_ppm_roundtrip_property(data, w, h):
    import numpy as np

    from etl_data_pipeline_spark.operators.multimodal import (
        decode_image,
        encode_ppm,
    )

    img = decode_image(encode_ppm(data, w, h))
    assert img.shape == (h, w, 3) and img.dtype == np.uint8
    n = w * h * 3
    want = bytes((data * (n // len(data) + 1))[:n])
    assert img.tobytes() == want


@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=256
    ),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(samples, rate):
    import numpy as np

    from etl_data_pipeline_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    sig = np.array(samples, dtype=np.int16)
    got_rate, ch, out = decode_audio(encode_wav(sig, rate))
    assert (got_rate, ch) == (rate, 1)
    assert np.array_equal(out, sig)


@given(
    n_frames=st.integers(min_value=1, max_value=12),
    every_n=st.integers(min_value=1, max_value=5),
    w=st.integers(min_value=1, max_value=8),
    h=st.integers(min_value=1, max_value=8),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_y4m_sampling_property(n_frames, every_n, w, h, seed):
    import numpy as np

    from etl_data_pipeline_spark.operators.multimodal import (
        encode_y4m,
        sample_video_frames,
    )

    rng = np.random.default_rng(seed)
    planes = [
        rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        for _ in range(n_frames)
    ]
    sampled = sample_video_frames(encode_y4m(planes, w, h), every_n=every_n)
    want_idx = list(range(0, n_frames, every_n))
    assert len(sampled) == len(want_idx)
    for got, i in zip(sampled, want_idx):
        assert np.array_equal(got, planes[i])


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ),
    min_size=1,
    max_size=25,
)


@SLOW
@given(edges=EDGES)
def test_star_cc_equals_union_find(spark, edges):
    """large-star/small-star components must equal a Python union-find
    on ANY random graph (self-loops, duplicates, both orientations) —
    the randomized counterpart of the chain fixture test."""
    from etl_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    df = spark.createDataFrame(edges, "u long, v long")
    assign, _ = connected_components_star(df)
    got = {r["u"]: r["component"] for r in assign.collect()}

    nodes = sorted({n for e in edges for n in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    expected = {
        n: find(n) for n in nodes if find(n) != n
    }  # non-min nodes only, matching the operator's contract
    assert got == expected


@SLOW
@given(edges=EDGES, k=st.integers(min_value=2, max_value=4))
def test_kcore_peel_rounds_match_python(spark, edges, k):
    """Three distributed peel rounds must equal three Python peel rounds
    on any random graph (same k), including the surviving-degree values."""
    from pyspark.sql import functions as F2

    clean = {(u, v) for u, v in edges if u != v}
    if not clean:
        return
    sym = clean | {(v, u) for u, v in clean}
    e = spark.createDataFrame(sorted(sym), "u long, v long")
    deg = None
    for _ in range(3):
        deg = e.groupBy("u").agg(F2.count(F2.lit(1)).alias("d"))
        nodes = deg.filter(F2.col("d") >= k).select("u")
        e = e.join(nodes, "u").join(nodes.select(F2.col("u").alias("v")), "v")
    survivors = {r["u"]: r["d"] for r in deg.collect() if r["d"] >= k}

    py = set(sym)
    pd_deg = {}
    for _ in range(3):
        pd_deg = {}
        for u, v in py:
            pd_deg[u] = pd_deg.get(u, 0) + 1
        keep = {u for u, d in pd_deg.items() if d >= k}
        py = {(u, v) for u, v in py if u in keep and v in keep}
    expected = {u: d for u, d in pd_deg.items() if d >= k}
    assert survivors == expected


@SLOW
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),      # orderkey
            st.integers(min_value=0, max_value=4),      # suppkey
            st.booleans(),                              # late?
        ),
        min_size=1,
        max_size=40,
    )
)
def test_q21_rewrite_matches_bruteforce_quantifiers(spark, rows):
    """tpch_q21's per-(order, supplier) aggregate rewrite must agree
    with the literal EXISTS + NOT EXISTS semantics on ANY input: count
    late lines l1 such that the order has another supplier AND no other
    supplier is late — evaluated here row-by-row in Python."""
    # brute force, straight from the quantifier definition
    from collections import defaultdict

    expected = defaultdict(int)
    for ok, sk, late in rows:
        if not late:
            continue
        other_supp = any(s != sk for o, s, _ in rows if o == ok)
        other_late = any(
            s != sk and lt for o, s, lt in rows if o == ok
        )
        if other_supp and not other_late:
            expected[sk] += 1
    expected = {k: v for k, v in expected.items() if v}

    # the rewrite (mirrors tpch_q21_waiting's ps/po shape)
    df = spark.createDataFrame(
        rows, "orderkey int, suppkey int, is_late boolean"
    )
    ps = df.groupBy("orderkey", "suppkey").agg(
        F.sum(F.when(F.col("is_late"), 1).otherwise(0)).alias("n_late")
    )
    po = ps.groupBy(F.col("orderkey").alias("po_ok")).agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum(F.when(F.col("n_late") > 0, 1).otherwise(0)).alias(
            "n_late_supps"
        ),
    )
    got = {
        r.suppkey: r.numwait
        for r in (
            ps.join(po, F.col("orderkey") == F.col("po_ok"))
            .filter(
                (F.col("n_late") > 0)
                & (F.col("n_supps") >= 2)
                & (F.col("n_late_supps") == 1)
            )
            .groupBy("suppkey")
            .agg(F.sum("n_late").alias("numwait"))
            .collect()
        )
    }
    assert got == expected


@SLOW
@given(
    series=st.lists(
        st.integers(min_value=-1000, max_value=1000),  # grid values
        min_size=1,
        max_size=20,
    )
)
def test_ewma_fir_matches_direct_convolution(spark, series):
    """ewma_smooth's 8-tap LAG formulation must equal the direct FIR
    convolution computed in Python for any single-user series: num =
    sum of v[t-i] * 2^(7-i) over present taps, den = matching weight
    sum."""
    rows = [(i, v) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "t int, v long")
    w = Window.orderBy("t")
    lags = [F.col("v")] + [F.lag("v", i).over(w) for i in range(1, 8)]
    weights = [128, 64, 32, 16, 8, 4, 2, 1]
    num = sum(
        (F.coalesce(lag, F.lit(0)) * weights[i] for i, lag in enumerate(lags)),
        start=F.lit(0),
    )
    den = sum(
        (
            F.when(lag.isNull(), 0).otherwise(weights[i])
            for i, lag in enumerate(lags)
        ),
        start=F.lit(0),
    )
    got = {
        r.t: (r.num, r.den)
        for r in df.select(
            "t", num.alias("num"), den.alias("den")
        ).collect()
    }
    for t in range(len(series)):
        taps = [(series[t - i], 128 >> i) for i in range(8) if t - i >= 0]
        exp_num = sum(v * wt for v, wt in taps)
        exp_den = sum(wt for _, wt in taps)
        assert got[t] == (exp_num, exp_den), t


# --- cents_grid: FLOOR(+0.5) must equal round-half-up on the money grid


@SLOW
@given(
    cents=st.lists(
        st.integers(min_value=-10_000_000_000, max_value=10_000_000_000),
        min_size=1,
        max_size=50,
    ),
    scale=st.sampled_from([2, 4, 6]),
)
def test_cents_grid_recovers_exact_grid_integers(spark, cents, scale):
    """cents_grid (FLOOR(x*10^s + 0.5), the primitive-codegen
    replacement for Spark's BigDecimal-backed ROUND) must recover the
    EXACT grid integer for every signed decimal(scale)-grid double —
    the invariant every exact money aggregate rests on (negative
    c_acctbal goes through it). Inputs sweep -1e10..1e10 grid units
    (1e8 currency units at 2dp), well past q1's domain."""
    from etl_data_pipeline_spark.functions.canonical import cents_grid

    df = spark.createDataFrame([(c,) for c in cents], "c long").select(
        "c", (F.col("c") / (10**scale)).alias("x")
    )
    out = df.select("c", cents_grid(F.col("x"), scale).alias("g")).collect()
    for r in out:
        # the grid double c/10^s must map back to exactly c
        assert r["g"] == r["c"], (r["c"], scale, r["g"])


@SLOW
@given(
    cents=st.lists(
        st.integers(min_value=-10_000_000_000, max_value=10_000_000_000),
        min_size=1,
        max_size=50,
    ),
    scale=st.sampled_from([2, 4, 6]),
)
def test_cents_grid_matches_spark_round(spark, cents, scale):
    """On grid doubles, cents_grid and Spark's ROUND (BigDecimal
    HALF_UP) agree value-for-value — the A/B that justifies swapping
    the mechanism without touching any oracle."""
    from etl_data_pipeline_spark.functions.canonical import cents_grid

    df = spark.createDataFrame([(c,) for c in cents], "c long").select(
        (F.col("c") / (10**scale)).alias("x")
    )
    out = df.select(
        cents_grid(F.col("x"), scale).alias("g"),
        F.round(F.col("x") * (10**scale)).cast("long").alias("r"),
    ).collect()
    for row in out:
        assert row["g"] == row["r"]


CORPUS = st.lists(
    st.tuples(
        st.sampled_from(["en", "de"]),                      # block
        st.lists(st.sampled_from("abcdef"), max_size=8),    # tokens
    ),
    min_size=2,
    max_size=12,
)

JACCARD_DIFF = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@JACCARD_DIFF
@given(
    corpus=CORPUS,
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
    max_df_frac=st.sampled_from([None, 0.2, 0.5]),
    shingle_n=st.sampled_from([1, 2]),
)
def test_jaccard_pairs_matches_brute_force(
    spark, corpus, threshold, max_df_frac, shingle_n
):
    """Differential oracle for the exact-verifier machinery
    (df_capped_shingle_stream + jaccard_pairs), BOTH shingle grains and
    the df-cap on/off, against a from-scratch Python brute force with
    the same declared semantics: distinct shingles per doc, block sizes
    counted over docs that PRODUCE at least one shingle, the integer
    df-cap (df*den <= num*n_docs), jaccard as one IEEE double division
    of exact ints.  This is the harness that would have caught a
    prefix-filter off-by-one before any driver run (the WWW'07
    experiment was validated against exactly this class of check)."""
    from fractions import Fraction

    from etl_data_pipeline_spark.operators.text import jaccard_pairs

    rows = [
        (i, blk, " ".join(toks)) for i, (blk, toks) in enumerate(corpus)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = sorted(
        (r["a"], r["b"], r["inter"], r["jaccard"])
        for r in jaccard_pairs(
            docs,
            threshold=threshold,
            max_df_frac=max_df_frac,
            shingle_n=shingle_n,
        ).collect()
    )
    spark.catalog.clearCache()

    # -- brute force -------------------------------------------------
    def shingles(text):
        toks = text.split(" ")
        if shingle_n == 1:
            return set(toks)
        return {
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        }

    sets = {i: (blk, shingles(txt)) for i, blk, txt in rows}
    sets = {i: v for i, v in sets.items() if v[1]}  # docs with shingles
    if max_df_frac is not None:
        frac = Fraction(max_df_frac).limit_denominator(1_000_000)
        n_docs = {}
        for blk, _ in sets.values():
            n_docs[blk] = n_docs.get(blk, 0) + 1
        df = {}
        for blk, sh in sets.values():
            for s in sh:
                df[(blk, s)] = df.get((blk, s), 0) + 1
        sets = {
            i: (
                blk,
                {
                    s
                    for s in sh
                    if df[(blk, s)] * frac.denominator
                    <= frac.numerator * n_docs[blk]
                },
            )
            for i, (blk, sh) in sets.items()
        }
    want = []
    ids = sorted(sets)
    for x in ids:
        for y in ids:
            if x >= y:
                continue
            (ba, sa), (bb, sb) = sets[x], sets[y]
            if ba != bb or not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter == 0:
                continue  # pairs sharing no shingle never materialize
            jac = inter / (len(sa) + len(sb) - inter)
            if jac >= threshold:
                want.append((x, y, inter, jac))
    assert got == sorted(want)


@JACCARD_DIFF
@given(
    corpus=CORPUS,
    thresh=st.sampled_from([(8, 10), (1, 2), (1, 1)]),
    max_df_frac=st.sampled_from([None, 0.2]),
)
def test_containment_pairs_matches_brute_force(
    spark, corpus, thresh, max_df_frac
):
    """Differential oracle for containment_pairs_op: the division-free
    integer threshold (inter*den >= num*min) and the 1e-6 integer grid
    score, against a from-scratch Python brute force in exact ints."""
    from fractions import Fraction

    from etl_data_pipeline_spark.operators.text import containment_pairs_op

    num, den = thresh
    rows = [
        (i, blk, " ".join(toks)) for i, (blk, toks) in enumerate(corpus)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = sorted(
        (r["a"], r["b"], r["inter"], r["n_small"], r["containment_grid"])
        for r in containment_pairs_op(
            docs, threshold_num=num, threshold_den=den,
            max_df_frac=max_df_frac,
        ).collect()
    )
    spark.catalog.clearCache()

    sets = {i: (blk, set(txt.split(" "))) for i, blk, txt in rows}
    sets = {i: v for i, v in sets.items() if v[1]}
    if max_df_frac is not None:
        frac = Fraction(max_df_frac).limit_denominator(1_000_000)
        n_docs = {}
        for blk, _ in sets.values():
            n_docs[blk] = n_docs.get(blk, 0) + 1
        df = {}
        for blk, sh in sets.values():
            for s in sh:
                df[(blk, s)] = df.get((blk, s), 0) + 1
        sets = {
            i: (
                blk,
                {
                    s
                    for s in sh
                    if df[(blk, s)] * frac.denominator
                    <= frac.numerator * n_docs[blk]
                },
            )
            for i, (blk, sh) in sets.items()
        }
    want = []
    ids = sorted(sets)
    for x in ids:
        for y in ids:
            if x >= y:
                continue
            (ba, sa), (bb, sb) = sets[x], sets[y]
            if ba != bb or not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter == 0:
                continue
            n_small = min(len(sa), len(sb))
            if inter * den >= num * n_small:
                want.append((x, y, inter, n_small, inter * 1_000_000 // n_small))
    assert got == sorted(want)


@JACCARD_DIFF
@given(
    corpus=CORPUS,
    threshold=st.sampled_from([0.3, 0.5]),
    cap=st.sampled_from([None, 2, 100]),
)
def test_minhash_lsh_pairs_matches_brute_force(spark, corpus, threshold, cap):
    """Differential oracle for the full LSH stack — md5-based 32-bit
    token hash, 16 affine minhash permutations, 4-row band keys, the
    bucket cap, the band self-join, and the exact-jaccard verify —
    against a from-scratch Python mirror.  cap=2 exercises the divert
    path on tiny corpora (identical docs collapse into one bucket)."""
    import hashlib

    from etl_data_pipeline_spark.operators.text import (
        MINHASH_BAND_ROWS,
        MINHASH_HASHES,
        MINHASH_P,
        minhash_lsh_pairs,
    )

    rows = [(i, " ".join(toks)) for i, (_, toks) in enumerate(corpus)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["a"], r["b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            docs, threshold=threshold, max_bucket_size=cap
        ).collect()
    )
    spark.catalog.clearCache()

    def h32(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % MINHASH_P

    sets = {i: set(txt.split(" ")) for i, txt in rows}
    # mirror Spark exactly: the mod is applied PER TOKEN, then min —
    # min((a*h+b) % P) != (min(a*h+b)) % P in general
    sig = {
        i: [
            min(((j * 37 + 11) * h32(t) + (j * 104729 + 17)) % MINHASH_P
                for t in toks)
            for j in range(MINHASH_HASHES)
        ]
        for i, toks in sets.items()
    }
    r = MINHASH_BAND_ROWS
    bands = {}  # (band, key) -> [doc_id]
    for i, m in sig.items():
        for b in range(MINHASH_HASHES // r):
            key = "-".join(str(m[b * r + j]) for j in range(r))
            bands.setdefault((b, key), []).append(i)
    cand = set()
    for members in bands.values():
        if cap is not None and len(members) > cap:
            continue  # diverted whole
        for x in members:
            for y in members:
                if x < y:
                    cand.add((x, y))
    want = []
    for x, y in sorted(cand):
        sa, sb = sets[x], sets[y]
        inter = len(sa & sb)
        jac = inter / (len(sa) + len(sb) - inter)
        if jac >= threshold:
            want.append((x, y, jac))
    assert got == sorted(want)


@JACCARD_DIFF
@given(
    corpus=CORPUS,
    max_hamming=st.sampled_from([2, 3]),
)
def test_simhash_neardup_matches_brute_force(spark, corpus, max_hamming):
    """Differential oracle for the fourth dedup modality: the SimHash
    fingerprint (tf-weighted ±1 votes over md5 bits, sign -> bit) and
    the Hamming-band pair finder, against a Python mirror + O(n^2)
    hamming scan.  max_hamming < bands, so by pigeonhole the banded
    join must equal the brute-force scan EXACTLY — this pins both the
    fingerprint math and the pigeonhole argument."""
    import hashlib

    from etl_data_pipeline_spark.operators.text import simhash_neardup_pairs

    rows = [(i, " ".join(toks)) for i, (_, toks) in enumerate(corpus)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["a"], r["b"], r["hamming"])
        for r in simhash_neardup_pairs(docs, max_hamming=max_hamming).collect()
    )
    spark.catalog.clearCache()

    def h32(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)

    def fingerprint(text):
        tf = {}
        for t in text.split(" "):
            tf[t] = tf.get(t, 0) + 1
        out = 0
        for j in range(32):
            v = sum(
                n * ((((h32(t) >> j) & 1) * 2) - 1) for t, n in tf.items()
            )
            if v > 0:
                out |= 1 << j
        return out

    fp = {i: fingerprint(txt) for i, txt in rows}
    want = []
    ids = sorted(fp)
    for x in ids:
        for y in ids:
            if x >= y:
                continue
            d = bin(fp[x] ^ fp[y]).count("1")
            if d <= max_hamming:
                want.append((x, y, d))
    assert got == sorted(want)


@SLOW
@given(
    cents=st.lists(
        st.one_of(
            st.none(), st.integers(min_value=-(10**15), max_value=10**15)
        ),
        min_size=1,
        max_size=40,
    ),
    scale=st.sampled_from([2, 4, 6]),
)
def test_dec_sum_exact(spark, cents, scale):
    """dec_sum (hi/lo BIGINT split recombined in DECIMAL(38,0)) must
    equal the exact integer total (Python bignum) cast to double and
    divided once — including totals past 2^53; under 2^53 it must equal
    Spark's own DECIMAL(38,s) sum, the oracle's formulation. A group of
    only NULLs sums to NULL."""
    from etl_data_pipeline_spark.functions.canonical import dec_sum

    rows = [(0, c) for c in cents] + [(1, None), (1, None)]
    df = spark.createDataFrame(rows, "g int, c long").select(
        "g", (F.col("c") / (10**scale)).alias("x")
    )
    got = {
        r["g"]: (r["s"], r["d"])
        for r in df.groupBy("g")
        .agg(
            dec_sum(F.col("x"), scale).alias("s"),
            F.sum(F.col("x").cast(f"decimal(38,{scale})"))
            .cast("double")
            .alias("d"),
        )
        .collect()
    }
    assert got[1] == (None, None)
    present = [c for c in cents if c is not None]
    s, d = got[0]
    if not present:
        assert s is None
        return
    total = sum(present)  # exact bignum
    assert s == float(total) / float(10**scale)
    if abs(total) < 2**53:
        assert s == d


@JACCARD_DIFF
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-1000, max_value=1000),
            min_size=64,
            max_size=64,
        ),
        min_size=1,
        max_size=6,
    ),
    n_planes=st.sampled_from([4, 8]),
)
def test_lsh_buckets_match_python_mirror(spark, vecs, n_planes):
    """Differential oracle for the ANN bucket assignment: int8
    quantization (pinned float op order: floor(x*127.0/max_abs + 0.5))
    followed by the exact-integer sign grid (md5-derived plane weights,
    integer projections) — mirrored step-for-step in Python.  This is
    the determinism core the r6 bit-flip fix moved to integers; any
    drift in the hash, the modulus, the quantization order, or the
    sign test flips a bucket bit here before any recall gate sees it."""
    import hashlib
    import math

    from etl_data_pipeline_spark.operators.similarity import lsh_buckets

    rows = [(i, [x / 100.0 for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["bucket"] for r in lsh_buckets(emb, n_planes).collect()
    }
    spark.catalog.clearCache()

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def w(j, pos):
        return h32(f"{j}_{pos}") % 2001 - 1000

    want = {}
    for i, v in rows:
        m = max(abs(x) for x in v)
        scale = 1.0 if m == 0 else m
        q = [math.floor(x * 127.0 / scale + 0.5) for x in v]
        bucket = 0
        for j in range(n_planes):
            proj = sum(int(q[pos]) * w(j, pos) for pos in range(64))
            if proj > 0:
                bucket |= 1 << j
        want[i] = bucket
    assert got == want


# ---------------------------------------------------------------------------
# Misra-Gries kernel guarantees (pure kernel — no Spark): the sketch the
# heavy_hitters_mg query builds per partition.  For ANY item stream, ANY
# partitioning, ANY batch size: estimates never exceed true counts, the
# total undercount is bounded by n/(k+1), and every item with true
# frequency > n/(k+1) survives the merged summary — the exact invariants
# the driver-checked query asserts as its found/within_bound flags, here
# proven over adversarial inputs instead of one dataset.
# ---------------------------------------------------------------------------


@given(
    items=st.lists(
        st.integers(min_value=0, max_value=20), min_size=1, max_size=200
    ),
    k=st.sampled_from([2, 4, 8]),
    n_parts=st.sampled_from([1, 2, 4]),
    batch=st.sampled_from([3, 7, 50]),
    offset=st.integers(min_value=0, max_value=3),
)
def test_misra_gries_merge_guarantees(items, k, n_parts, batch, offset):
    import pandas as pd

    from etl_data_pipeline_spark.plans.sketches import misra_gries_partial

    parts: list[list[int]] = [[] for _ in range(n_parts)]
    for i, item in enumerate(items):
        parts[(i + offset) % n_parts].append(item)

    merged: dict[int, int] = {}
    for part in parts:
        batches = (
            pd.DataFrame({"item": pd.Series(part[i:i + batch], dtype="int64")})
            for i in range(0, len(part), batch)
        )
        (summary,) = misra_gries_partial(batches, k=k)
        for item, est in zip(summary["item"], summary["est"]):
            merged[int(item)] = merged.get(int(item), 0) + int(est)

    true: dict[int, int] = {}
    for item in items:
        true[item] = true.get(item, 0) + 1
    n = len(items)

    for item, est in merged.items():
        assert est > 0, "pruned counters must not be emitted"
        assert est <= true[item], "MG estimates never exceed true counts"
        assert (true[item] - est) * (k + 1) <= n, "undercount > n/(k+1)"
    for item, cnt in true.items():
        if cnt * (k + 1) > n:  # true heavy hitter
            assert item in merged, (
                f"heavy hitter {item} (freq {cnt}, n {n}, k {k}) was lost"
            )
        elif item not in merged:
            # a dropped item's full count is its undercount — still bounded
            assert cnt * (k + 1) <= n


# ---------------------------------------------------------------------------
# As-of join differential mirror (operators/sessionize.asof_join — the C8
# triad's backward core): the tagged-union + ordered-carry formulation must
# equal the declared semantics — for each left row, the right row with the
# same key and the greatest right_ts <= left_ts, ties on right_ts resolved
# to the GREATEST payload struct (field-lexicographic; the round-8 total-
# order fix) — here mirrored with a from-scratch per-row max over tuples,
# including duplicate timestamps on both sides and keys with no match.
# ---------------------------------------------------------------------------


ASOF_LEFT = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # key
        st.integers(min_value=0, max_value=20),   # ts
    ),
    min_size=1,
    max_size=25,
)
ASOF_RIGHT = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # key
        st.integers(min_value=0, max_value=20),   # ts
        st.integers(min_value=-5, max_value=5),   # payload v
        st.integers(min_value=-5, max_value=5),   # payload u
    ),
    min_size=1,
    max_size=25,
)


@SLOW
@given(lrows=ASOF_LEFT, rrows=ASOF_RIGHT)
def test_asof_join_matches_bisect_mirror(spark, lrows, rrows):
    from etl_data_pipeline_spark.operators.sessionize import asof_join

    lrows = [(k, t, i) for i, (k, t) in enumerate(lrows)]
    left = spark.createDataFrame(lrows, "k int, lts int, lid int")
    right = spark.createDataFrame(rrows, "k int, rts int, v int, u int")
    out = asof_join(
        left, right, key="k", left_ts="lts", right_ts="rts",
        right_payload=["v", "u"],
    )
    got = {
        r["lid"]: (r["r_v"], r["r_u"]) for r in out.collect()
    }

    want = {}
    for k, lts, lid in lrows:
        cands = [(rts, v, u) for rk, rts, v, u in rrows
                 if rk == k and rts <= lts]
        if not cands:
            want[lid] = (None, None)
        else:
            rts, v, u = max(cands)  # max ts, then greatest (v, u) struct
            want[lid] = (v, u)
    assert got == want


# ---------------------------------------------------------------------------
# Sessionize differential mirror (operators/sessionize.sessionize — the
# J3/J4 batch formulation): gap-based session ids for ANY event layout,
# millisecond timestamps (timestamp_millis, so the double-cast epoch math
# is exact and tz-free), duplicate timestamps broken by event_id exactly
# as the window orders them, and the strict `gap > threshold` boundary.
# The mirror replays the identical IEEE arithmetic (us/1e6 subtraction)
# so a boundary-exact gap cannot diverge between engine and mirror.
# ---------------------------------------------------------------------------


SESSION_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),        # user_id
        st.integers(min_value=0, max_value=400_000),  # epoch ms
    ),
    min_size=1,
    max_size=30,
)


@SLOW
@given(events=SESSION_EVENTS)
def test_sessionize_matches_python_mirror(spark, events):
    from etl_data_pipeline_spark.operators.sessionize import sessionize

    rows = [(uid, ms, i) for i, (uid, ms) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "user_id int, ms long, event_id int"
    ).select(
        "user_id",
        F.timestamp_millis(F.col("ms")).alias("ts"),
        "event_id",
    )
    got = {
        r["event_id"]: r["session_id"]
        for r in sessionize(df, gap_minutes=1).collect()
    }

    want = {}
    by_uid: dict[int, list] = {}
    for uid, ms, eid in rows:
        by_uid.setdefault(uid, []).append((ms, eid))
    for uid, evs in by_uid.items():
        evs.sort()
        prev = None
        sid = 0
        for ms, eid in evs:
            ts_f = float(ms * 1000) / 1e6  # the engine's us/1e6 double
            if prev is None or (ts_f - prev) > 60.0:
                sid += 1
            prev = ts_f
            want[eid] = sid
    assert got == want


# ---------------------------------------------------------------------------
# Time-window ASSIGNMENT mirrors (J1/J2's F.window): epoch-aligned integer
# arithmetic for arbitrary millisecond timestamps, including exact-boundary
# events (ts on the hour belongs to the window STARTING there — [start,
# end) semantics) and the every-event-in-exactly-4-windows invariant of a
# 1h/15min slide.  Guards the boundary-inclusivity class the driver data
# cannot pin (nanosecond event times never land exactly on a boundary).
# ---------------------------------------------------------------------------


WINDOW_MS = st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=20_000_000),
        # force exact-hour and exact-slide boundaries into every run
        st.sampled_from([0, 3_600_000, 7_200_000, 900_000, 1_800_000]),
    ),
    min_size=1,
    max_size=25,
)


@SLOW
@given(ms_list=WINDOW_MS)
def test_tumbling_window_assignment_matches_integer_grid(spark, ms_list):
    rows = [(i, ms) for i, ms in enumerate(ms_list)]
    df = spark.createDataFrame(rows, "eid int, ms long").select(
        "eid", F.timestamp_millis(F.col("ms")).alias("ts")
    )
    got = {
        r["eid"]: r["start_ms"]
        for r in df.select(
            "eid",
            F.unix_millis(F.window("ts", "1 hour").start).alias("start_ms"),
        ).collect()
    }
    want = {eid: (ms // 3_600_000) * 3_600_000 for eid, ms in rows}
    assert got == want


@SLOW
@given(ms_list=WINDOW_MS)
def test_sliding_window_counts_match_enumeration(spark, ms_list):
    rows = [(i, ms) for i, ms in enumerate(ms_list)]
    df = spark.createDataFrame(rows, "eid int, ms long").select(
        "eid", F.timestamp_millis(F.col("ms")).alias("ts")
    )
    got = {
        r["start_ms"]: r["n"]
        for r in df.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_millis(F.col("w.start")).alias("start_ms"), "n")
        .collect()
    }
    want: dict[int, int] = {}
    for _, ms in rows:
        slide = ms // 900_000
        starts = [k * 900_000 for k in range(slide - 3, slide + 1)]
        assert all(s <= ms < s + 3_600_000 for s in starts)
        assert len(starts) == 4  # every event in exactly 4 windows
        for s in starts:
            want[s] = want.get(s, 0) + 1
    assert got == want


# ---------------------------------------------------------------------------
# Adaptive-IVF integer k-means (round 12, VERDICT r11 item 1): the coarse
# quantizer the ivf_ann oracle unrolls.  Differential oracle: the ENTIRE
# iteration chain — 1e-6 grid, stride seeds, integer-sqdist argmin with
# (d, cell) tie order, floor-division centroid update, final probe
# ranking — mirrored step-for-step in pure Python over adversarial small
# corpora (duplicates, ties, empty cells, nlist > n).  Exact-integer
# paths only, per the house rule: cosine VALUES are never compared here,
# cell/probe ASSIGNMENT is.
# ---------------------------------------------------------------------------


def _kmeans_mirror(rows, nlist, iters):
    """Pure-Python mirror of operators/ann_adaptive.py::
    kmeans_cell_ranks' declared semantics (see its docstring)."""
    import math

    ids = sorted(i for i, _ in rows)
    g = {i: [math.floor(x * 1000000) for x in v] for i, v in rows}
    n = len(ids)
    # round 13: deterministic Knuth-hash seed sample (ann_adaptive.
    # hash_seeds) — candidates under the threshold, first nlist by
    # (h, vec_id)
    thresh = min(2**32, (2**32 * (2 * nlist + 64)) // max(n, 1) + 1)

    def h(v):
        return ((v % 2**32) * 1327217885) % 2**32

    cand = sorted((i for i in ids if h(i) < thresh), key=lambda v: (h(v), v))
    seeds = cand[:nlist]
    cent = {s: list(g[s]) for s in seeds}

    def dists(vid):
        return sorted(
            (sum((a - b) ** 2 for a, b in zip(g[vid], cent[c])), c)
            for c in cent
        )

    for _ in range(iters - 1):
        assign = {vid: dists(vid)[0][1] for vid in ids}
        upd = {}
        for c in set(assign.values()):
            members = [vid for vid in ids if assign[vid] == c]
            upd[c] = [
                sum(g[vid][p] for vid in members) // len(members)
                for p in range(len(g[members[0]]))
            ]
        cent = upd
    ranks = {}
    for vid in ids:
        for crn, (_, c) in enumerate(dists(vid), start=1):
            ranks[(vid, crn)] = c
    return ranks


@JACCARD_DIFF
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1.0,
                max_value=1.0,
                allow_nan=False,
                width=32,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=14,
    ),
    nlist=st.sampled_from([2, 3, 5]),
    iters=st.sampled_from([1, 2, 3]),
)
def test_kmeans_cell_ranks_matches_python_mirror(spark, vecs, nlist, iters):
    """Differential oracle for the adaptive-IVF quantizer: Spark's
    kmeans_cell_ranks must reproduce the Python mirror's (vec_id, crn)
    -> cell map EXACTLY — any drift in the grid quantization, the seed
    stride, the argmin tie order, or the floor-division update moves a
    vector across a cell boundary here before any recall gate sees it.
    Duplicated vectors (hypothesis shrinks toward them) exercise the
    distance-tie path; tiny corpora exercise nlist > n and vanished
    cells."""
    from etl_data_pipeline_spark.operators.ann_adaptive import (
        kmeans_cell_ranks,
    )

    rows = [(i, list(v)) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["vec_id"], r["crn"]): r["cell"]
        for r in kmeans_cell_ranks(emb, len(rows), nlist, iters=iters).collect()
    }
    spark.catalog.clearCache()
    want = _kmeans_mirror(rows, nlist, iters)
    assert got == want
