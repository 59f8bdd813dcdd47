"""Text / LLM-data-pipeline operators (SURVEY.md §2 category I + the
training-data operators from the north star: dedup family, text
analysis, fingerprinting).

Everything here is pure DataFrame composition — token explode, hash,
self-join, window — so Catalyst owns the physical plan and each operator
scales by partitioning on doc/token keys.

Cross-engine hash: ``md5_hash32`` maps any string to a stable 32-bit int
identically in Spark (``conv(substring(md5(x),1,8),16,10)``) and DuckDB
(``('0x'||substr(md5(x),1,8))::BIGINT``) — the foundation for
MinHash/SimHash parity with the oracle, and (unlike a dense_rank vocab id)
it needs no global sort, so it is also the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from etl_data_pipeline_spark.materialize import materialize
from etl_data_pipeline_spark.operators.graph import connected_components_star

#: modulus for affine MinHash permutations; prime, small enough that
#: a_i * h stays far below int64 overflow.
MINHASH_P = 1_000_003

#: Default cap on LSH band-bucket size. A bucket of m docs fans out to
#: m*(m-1)/2 candidate pairs inside the band join; oversized buckets are
#: boilerplate/template text (measured on this corpus: at sf0.1 the four
#: largest buckets are ~2300 docs and carry 10.6M of the 10.9M candidate
#: pairs) and are DIVERTED from pairwise expansion — they belong to
#: exact-dedup / cluster-by-bucket handling instead.  100 caps any one
#: bucket at <= 4950 pairs, keeping total candidates linear-ish in corpus
#: size at 100 TB.  ``lsh_bucket_stats`` (plans/text.py) is the divert
#: report: per-size bucket counts with the oversized flag.
LSH_MAX_BUCKET_SIZE = 100


def md5_hash32(col: Column) -> Column:
    """Stable 32-bit string hash reproducible in ANSI SQL (see module doc)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Explode documents into (doc row..., pos, token). One narrow stage."""
    return docs.select(
        "*", F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token")
    )


def distinct_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, token) distinct pairs + per-doc distinct count ``n_tok``.

    Row-local dedup (array_distinct before explode) — same row set as
    the former global ``.distinct()``, no shuffle (round 14).

    CONTRACT (ADVICE r14): ``doc_id`` must be UNIQUE per input row —
    the row-local rewrite (here, ``_minhash_wide``,
    ``exact_jaccard_on_pairs``) is equivalent to the global distinct
    only then; duplicate doc_id rows would double-count tokens in
    n_tok/minhash/jaccard instead of being deduped.  Every caller
    feeds the ``documents`` table, whose doc_id is a primary key
    (tests/test_incremental.py::test_documents_doc_id_unique pins the
    fixture; exact_dedup is the operator for collapsing duplicate
    CONTENT — duplicate ids are a malformed input, not a near-dup)."""
    t = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias(
            "token"
        ),
    )
    counts = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    return t.join(counts, "doc_id")


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """I3: exact dedup by content hash, deterministic keep-min-doc_id.

    Scale: one shuffle on the 256-bit hash; survivors carry the group
    size. This is the always-first dedup pass in a training-data pipeline.
    """
    hashed = docs.withColumn("content_hash", F.sha2(F.col(text_col), 256))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        hashed.select(
            "doc_id",
            "content_hash",
            F.row_number().over(w).cast("long").alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("content_hash"))
            .alias("n_copies"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def df_capped_shingle_stream(
    docs: DataFrame,
    block_col: str = "lang",
    max_df_frac: float | None = None,
    shingle_n: int = 1,
) -> DataFrame:
    """Shared front-end of every exact set-overlap verifier
    (jaccard_pairs / containment_pairs): the distinct
    ``(doc_id, block, token, n_tok)`` shingle stream with the integer
    df-cap applied and the per-doc set size attached.

    ``shingle_n`` picks the set elements: 1 = word tokens, 2 = word
    bigrams (more selective — fewer candidate pairs downstream).

    ``max_df_frac`` is the quadratic-fan-out guard: shingles whose
    document frequency exceeds that fraction of the block's docs (stop
    words / stop-bigrams) are dropped BEFORE ``n_tok`` is computed, so
    any single shingle's downstream join fan-out is capped at
    (max_df_frac * |block|)^2 instead of |block|^2.  The comparison is
    integer (df * den <= num * n_docs): a double product
    (max_df_frac * n_docs) can round across an exact integer boundary
    and flip a shingle's inclusion vs a DECIMAL-arithmetic oracle —
    the float-boundary class this repo guards against everywhere else.

    The stream feeds up to four consumers downstream (block sizes, df
    counts, per-doc counts, both self-join sides); without a
    materialization point Spark re-scans the corpus for each
    (executed-plan audit: 12 scans, 0 reused exchanges).  The deduped
    stream is strictly smaller than the corpus, so computing it once
    is the 100 TB-correct trade.
    """
    if shingle_n == 1:
        sh = F.explode(F.split("text", " "))
    elif shingle_n == 2:
        docs = docs.withColumn("_s", F.split("text", " "))
        sh = F.explode(
            F.expr(
                "transform(slice(_s, 1, size(_s) - 1),"
                " (x, i) -> concat(x, ' ', _s[i + 1]))"
            )
        )
    else:
        raise ValueError(f"shingle_n must be 1 or 2, got {shingle_n}")
    t = docs.select(
        "doc_id",
        F.col(block_col).alias("block"),
        sh.alias("token"),
    ).distinct()
    t = materialize(t)
    if max_df_frac is not None:
        from fractions import Fraction

        frac = Fraction(max_df_frac).limit_denominator(1_000_000)
        block_sizes = (
            t.select("block", "doc_id")
            .distinct()
            .groupBy("block")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        dfc = t.groupBy("block", "token").agg(F.count(F.lit(1)).alias("df"))
        keep = (
            dfc.join(F.broadcast(block_sizes), "block")
            .filter(
                F.col("df") * F.lit(frac.denominator)
                <= F.lit(frac.numerator) * F.col("n_docs")
            )
            .select("block", "token")
        )
        t = t.join(keep, ["block", "token"])
    counts = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    return materialize(t.join(counts, "doc_id"))  # feeds both join sides


def _pair_intersections(t: DataFrame) -> DataFrame:
    """(a, b, na, nb, inter) for every doc pair a < b sharing a shingle in
    a block: the inverted-index self-join on (block, token) over
    ``df_capped_shingle_stream`` output, counted per pair."""
    a = t.select(
        "block", "token",
        F.col("doc_id").alias("a"), F.col("n_tok").alias("na"),
    )
    b = t.select(
        F.col("block").alias("block_b"), F.col("token").alias("token_b"),
        F.col("doc_id").alias("b"), F.col("n_tok").alias("nb"),
    )
    return (
        a.join(
            b,
            (a.block == b.block_b) & (a.token == b.token_b) & (a.a < b.b),
        )
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    block_col: str = "lang",
    max_df_frac: float | None = None,
    shingle_n: int = 1,
) -> DataFrame:
    """I4: all-pairs shingle-set Jaccard within a blocking key.

    Blocked self-join on (block, shingle): candidate pairs only
    materialize for docs sharing a shingle and block — the classic
    inverted-index join.  At 100 TB the block must be finer (LSH bands:
    see minhash_lsh_pairs); this exact variant is the verifier those
    candidates feed into.

    ``shingle_n`` picks the set elements: 1 = word tokens (i4),
    2 = word bigrams (i4c — more selective, so the self-join
    materializes fewer candidate pairs).

    ``max_df_frac`` is the quadratic-fan-out guard: shingles whose
    document frequency exceeds that fraction of the block's docs (stop
    words / stop-bigrams) are dropped BEFORE set sizes are computed,
    capping any single shingle's join fan-out at
    (max_df_frac * |block|)^2 instead of |block|^2.  Jaccard is then
    over the filtered shingle sets on both engines.

    Rejected alternative, measured 2026-08-14 (don't retry without a
    Zipf corpus): WWW'07 prefix filtering (index only each doc's
    rarest ``n - ceil(tau*n) + 1`` shingles under a global df order,
    then verify candidates exactly — output provably identical, and it
    WAS hash-identical here).  On this fixed-vocab synthetic corpus it
    ran 19.5 s vs 8.2 s direct at sf0.1 (bigrams, tau=0.5): there are
    no genuinely rare shingles (min per-shingle df ~ n/150, every df
    grows linearly with the corpus), so prefix collisions stay dense
    while the extra candidate-distinct + verify joins add two more
    shuffles.  Prefix filtering pays off when the df distribution has
    a Zipf tail (real text); the direct capped join is the better plan
    when it does not.  The genuinely sub-quadratic scale path either
    way is minhash_lsh_pairs (measured 10x-data slope 1.9 vs 7.5
    here) — this exact variant is its verifier/cost model, and is
    marked expected-superlinear in tools/slope_audit.py with this
    rationale.
    """
    t = df_capped_shingle_stream(
        docs, block_col=block_col, max_df_frac=max_df_frac,
        shingle_n=shingle_n,
    )
    inter = _pair_intersections(t)
    jac = inter.withColumn(
        "jaccard",
        F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "a", "b", "inter", "jaccard"
    )


def containment_pairs_op(
    docs: DataFrame,
    threshold_num: int = 8,
    threshold_den: int = 10,
    block_col: str = "lang",
    max_df_frac: float | None = 0.2,
    shingle_n: int = 1,
) -> DataFrame:
    """Asymmetric near-dup detection: shingle-set CONTAINMENT
    |A n B| / min(|A|, |B|) >= num/den — the measure that catches a
    short document embedded inside a long one, which symmetric Jaccard
    structurally under-scores.  Same front-end as jaccard_pairs
    (``df_capped_shingle_stream``); the threshold is the division-free
    integer comparison ``inter*den >= num*min(na,nb)`` and the score an
    exact 1e-6 integer grid, so no doubles exist anywhere.
    """
    t = df_capped_shingle_stream(
        docs, block_col=block_col, max_df_frac=max_df_frac,
        shingle_n=shingle_n,
    )
    inter = _pair_intersections(t)
    small = F.least(F.col("na"), F.col("nb"))
    return (
        inter.filter(
            F.col("inter") * F.lit(threshold_den)
            >= F.lit(threshold_num) * small
        )
        .select(
            "a",
            "b",
            F.col("inter").cast("long").alias("inter"),
            small.cast("long").alias("n_small"),
            F.expr(
                "(inter * 1000000) div least(na, nb)"
            ).alias("containment_grid"),
        )
    )


def _minhash_wide(docs: DataFrame, num_hashes: int) -> DataFrame:
    """One row per doc with all ``num_hashes`` minhashes as columns
    m0..m{n-1} — ONE groupBy over the distinct (doc_id, token) stream
    with num_hashes min-aggregates, instead of exploding every token row
    num_hashes times before aggregating (a 16x row amplification on the
    hot shared path of the whole LSH family; the per-permutation affine
    constants fold into each aggregate's expression).  Values are
    identical to the long-format pipeline: same h, same
    (a_i*h + b_i) mod P, same min.

    The (doc_id, token) distinct is computed ROW-LOCALLY with
    array_distinct BEFORE the explode (round 14, VERDICT r13 item 1;
    requires the unique-doc_id input contract — see distinct_tokens):
    per-doc token dedup needs no cross-row information, so the global
    ``.distinct()`` it replaces — a full shuffle of the ~55x-exploded
    token stream, 4,294 executor-seconds (48% of the query, 681 s of
    JVM GC, zero spill) in the sf100 stage profile — was pure waste.
    The identical row set remains (dedup within doc == dedup over
    (doc_id, token)), and the groupBy below now map-side-combines
    doc-adjacent exploded rows down to one row per doc before its
    shuffle."""
    t = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
        )
        .withColumn("h", md5_hash32(F.col("token")) % MINHASH_P)
    )
    return t.groupBy("doc_id").agg(
        *[
            F.min(
                (
                    F.lit(i * 37 + 11) * F.col("h")
                    + F.lit(i * 104729 + 17)
                )
                % MINHASH_P
            ).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """MinHash signatures: (doc_id, i, minhash) for i in [0, num_hashes).

    Affine permutations h_i(x) = (a_i * x + b_i) mod P over the md5-based
    token hash. Pure groupBy(min) — no global state, linear scale-out;
    the long format is unpivoted from the wide per-doc aggregate AFTER
    the shuffle, so the amplification happens on |docs| rows, not
    |tokens|.
    """
    wide = _minhash_wide(docs, num_hashes)
    return wide.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
        ).alias("i", "minhash"),
    )


def minhash_bands(
    docs: DataFrame, num_hashes: int = 16, band_size: int = 4
) -> DataFrame:
    """LSH banding stage: (doc_id, band, band_key) — ``band_size``
    consecutive signature rows concatenated into the bucket key. Shared
    by ``minhash_lsh_pairs`` (candidate join) and the bucket-size divert
    report (plans/text.py::lsh_bucket_stats).  Band keys come straight
    off the wide per-doc aggregate (concat of the band's minhash
    columns, ascending i — the same order the former
    array_sort(collect_list) produced), skipping the second
    groupBy(doc_id, band) entirely."""
    if num_hashes % band_size != 0:
        raise ValueError(
            f"band_size {band_size} must divide num_hashes {num_hashes}: "
            "a trailing partial band would silently change bucket keys"
        )
    wide = _minhash_wide(docs, num_hashes)
    n_bands = num_hashes // band_size
    return wide.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "-",
                        *[
                            F.col(f"m{b * band_size + j}").cast("string")
                            for j in range(band_size)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "band_key"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    num_hashes: int = 16,
    band_size: int = 4,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """I4 scale path: MinHash + LSH banding near-dup detection.

    Bands of ``band_size`` signature rows hash candidate pairs into
    buckets (join on the band key — never all-pairs); candidates are then
    verified with exact token-set Jaccard. With 16 hashes in 4 bands the
    S-curve crosses ~0.7 similarity.

    ``max_bucket_size`` is the quadratic-fan-out guard (the LSH sibling
    of ``jaccard_pairs``' max_df_frac): buckets larger than the cap are
    boilerplate/template clusters and are dropped BEFORE the band
    self-join, so no single bucket can contribute more than
    cap*(cap-1)/2 candidate pairs.  Diverted buckets are exactly the
    rows ``lsh_bucket_stats`` flags oversized; route them to exact-dedup
    / cluster-by-bucket handling.  ``None`` disables the cap.
    """
    cand = lsh_candidate_pairs(docs, num_hashes, band_size, max_bucket_size)
    jac = exact_jaccard_on_pairs(docs, cand)
    return jac.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Candidate (a, b) pairs from the capped band self-join — the
    generation stage of ``minhash_lsh_pairs``, exposed so quality
    audits (plans/text.py::minhash_est_quality) can inspect the
    UNVERIFIED candidate set.

    The returned pair set is a materialize() point (r15 optimization
    round, guide §5): every consumer uses it at least twice
    (exact_jaccard_on_pairs feeds it into both the inverted-index
    inter join and the final left join; minhash_est_quality adds a
    third, the signature-compare leg), and each re-execution repeats
    the (band, band_key) SHUFFLE self-join + distinct — unlike the
    token stream, whose recompute is a row-local scan (the r14 sf100
    no-persist rule does NOT apply here).  The cached rows are skinny
    (two longs per candidate, output-scale not corpus-scale), so the
    persist is bounded at any corpus size.  Interleaved A/B at sf0.1:
    identical 58,418 / 13 rows;
    i4b 4.95/3.77/3.37 -> 3.96/3.36/2.97 s, est_quality
    4.72/4.31/3.86 -> 3.85/3.86/3.81 s."""
    bands = materialize(minhash_bands(docs, num_hashes, band_size))
    if max_bucket_size is not None:
        # Count per (band, band_key) via window — same key as the join
        # below, so the extra pass rides the same hash partitioning.
        wb = Window.partitionBy("band", "band_key")
        bands = (
            bands.withColumn("bucket_n", F.count(F.lit(1)).over(wb))
            .filter(F.col("bucket_n") <= max_bucket_size)
            .drop("bucket_n")
        )
    left = bands.select(
        F.col("band").alias("band_l"),
        F.col("band_key").alias("key_l"),
        F.col("doc_id").alias("a"),
    )
    right = bands.select(
        F.col("band").alias("band_r"),
        F.col("band_key").alias("key_r"),
        F.col("doc_id").alias("b"),
    )
    return materialize(
        left.join(
            right,
            (left.band_l == right.band_r)
            & (left.key_l == right.key_r)
            & (left.a < right.b),
        )
        .select("a", "b")
        .distinct()
    )


def exact_jaccard_on_pairs(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact token-set Jaccard restricted to a candidate pair set:
    (a, b, inter, na, nb, jaccard) — never all-pairs; pairs sharing
    zero tokens are kept with inter = 0 so callers see the full
    candidate set.

    Contract (ADVICE r15): ``documents.text`` is non-NULL — the
    generator never emits NULL text, and a NULL would now survive as a
    NULL-array pair (the pre-r15 inverted-index form silently dropped
    it); empty text behaves identically both ways (split('') = ['']).
    Output is exactly the six columns above: any extra columns carried
    on ``cand`` are dropped (the pre-r15 form passed them through; all
    callers pass bare (a, b) frames).

    r15 optimization round (guide §2.3 "shuffle fewer rows"): the
    intersection is computed per pair with ``array_intersect`` over
    each doc's row-local distinct-token ARRAY, replacing the former
    inverted-index form (explode both sides, equi-join on (token, b),
    count matches).  Same integers — ``size(array_intersect(ta, tb))``
    over distinct arrays IS |A ∩ B|, and ``size(toks)`` IS the n_tok
    the counts aggregate produced — so the jaccard division sees
    bit-identical operands.  What changes is the shuffle shape: the
    token columns ship as ONE array row per doc instead of ~40
    exploded rows per doc, and the (pairs x tokens-of-a) intermediate
    (candidate fan-out x 40 rows, re-shuffled by (token, b)) is gone
    entirely — per pair the intersection is a task-local hash probe.
    Three-decade interleaved A/B with byte-identical pair sets
    (pair counts 58,418 / 150,003 /
    512,708 matching the recorded i4b values): sf0.1 1.90 -> 1.77 s,
    sf1 4.00 -> 3.45 s, sf10 27.7 -> 24.3 s min-of-4 through the full
    i4b, every interleaved pair in B's favor, and the gap widens under
    host pressure (the degraded 4th sf10 pass read 79.5 vs 42.1 s).

    The round-14 no-persist rule stands: the token-array frame is
    derived row-locally per consumer (one parquet scan + split +
    array_distinct), never cached.  Empty text behaves as before
    (split('') = [''] — one token both ways); the unique-doc_id input
    contract (see distinct_tokens) is unchanged."""
    tok = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    ta = tok.select(F.col("doc_id").alias("a"), F.col("toks").alias("toks_a"))
    tb = tok.select(F.col("doc_id").alias("b"), F.col("toks").alias("toks_b"))
    return (
        cand.join(ta, "a")
        .join(tb, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("toks_a", "toks_b"))
            .cast("long")
            .alias("inter"),
            F.size("toks_a").cast("long").alias("na"),
            F.size("toks_b").cast("long").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
    )


def simhash_fingerprints(docs: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash: tf-weighted ±1 vote per bit of the token hash, sign →
    fingerprint bit. Near-identical docs land within small Hamming
    distance. Returns (doc_id, simhash)."""
    t = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("h", md5_hash32(F.col("token")))
    )
    votes = t.select(
        "doc_id",
        "tf",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j"),
    ).select(
        "doc_id",
        "j",
        (
            F.col("tf")
            * (
                (
                    F.floor(F.col("h") / F.pow(F.lit(2.0), F.col("j")).cast("long"))
                    % 2
                )
                * 2
                - 1
            )
        ).alias("vote"),
    )
    bitvals = (
        votes.groupBy("doc_id", "j")
        .agg(F.sum("vote").alias("v"))
        .select(
            "doc_id",
            F.when(
                F.col("v") > 0, F.pow(F.lit(2.0), F.col("j")).cast("long")
            )
            .otherwise(F.lit(0))
            .alias("bitval"),
        )
    )
    return bitvals.groupBy("doc_id").agg(F.sum("bitval").alias("simhash"))


def simhash_neardup_pairs(
    docs: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs via Hamming-band LSH: split the ``bits``-bit
    fingerprint into ``bands`` equal bit-slices and equi-join docs that
    share any slice, then keep candidates within ``max_hamming``.

    By pigeonhole the banding is EXACT (not approximate) whenever
    ``max_hamming < bands``: a pair differing in <= max_hamming bits
    cannot touch every band, so at least one band matches and the pair
    is generated. Candidate generation is therefore an equi-join on
    (band index, band value) — one shuffle, never all-pairs — and the
    result is identical to the O(n^2) scan an oracle runs at test scale.
    Returns (a, b, hamming) with a < b.
    """
    width = bits // bands
    sh = simhash_fingerprints(docs, bits=bits)
    slices = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("k"),
    ).select(
        "doc_id",
        "simhash",
        "k",
        F.expr(f"shiftright(simhash, k * {width}) & {(1 << width) - 1}").alias(
            "band_val"
        ),
    )
    left = slices.select(
        F.col("doc_id").alias("a"),
        F.col("simhash").alias("sim_a"),
        "k",
        "band_val",
    )
    right = slices.select(
        F.col("doc_id").alias("b"),
        F.col("simhash").alias("sim_b"),
        "k",
        "band_val",
    )
    cand = (
        left.join(right, ["k", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sim_a", "sim_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", F.col("hamming").cast("long").alias("hamming"))
    )


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Token n-gram shingles via ordered window leads: (doc_id, shingle)."""
    t = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    cols = [F.col("token")] + [F.lead("token", k).over(w) for k in range(1, n)]
    sh = t.select("doc_id", F.concat_ws(" ", *cols).alias("shingle"), *[
        F.lead("token", n - 1).over(w).alias("_tail")
    ])
    return sh.filter(F.col("_tail").isNotNull()).drop("_tail")


def neardup_components(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    band_size: int = 4,
    max_iters: int = 25,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Dedup family: near-duplicate CLUSTERS, not just pairs.

    ``minhash_lsh_pairs`` emits verified near-dup edges; this closes
    them into connected components with the alternating large-star /
    small-star rounds of Kiveris et al., "Connected Components in
    MapReduce and Beyond" (SOCC'14) — see
    operators/graph.py::connected_components_star.  Unlike the min-label
    propagation this replaced (which needs diameter(component) rounds
    and silently truncated adversarial chains longer than ``max_iters``),
    the star alternation contracts path lengths geometrically: O(log
    diameter) rounds of the same join/groupBy primitives, each round two
    scalars to the driver and a flat, lineage-cut iteration loop.

    Returns one row per document: (doc_id, component, is_canonical) where
    ``component`` is the min doc_id of the near-dup cluster (singletons
    are their own component) and the canonical doc is the cluster min —
    filtering ``is_canonical`` IS the dedup.
    """
    pairs = minhash_lsh_pairs(
        docs, threshold, num_hashes, band_size, max_bucket_size
    ).select("a", "b")
    edges = pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
    assignments, _ = connected_components_star(edges, max_iters=max_iters)
    labels = docs.select("doc_id").join(
        assignments.select(F.col("u").alias("doc_id"), "component"),
        "doc_id",
        "left",
    )
    return labels.select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("component"),
    ).withColumn("is_canonical", F.col("component") == F.col("doc_id"))
