"""Vector similarity queries over ``embeddings`` (SURVEY.md §2 I6-I9 +
ANN scale paths). The numpy mapInPandas kernel is the fast path; every
oracle spells the identical cosine formula:
dot / sqrt(dot(a,a) * dot(b,b)) with float32 widened to float64 first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.operators.ann_adaptive import (
    ivf_topk_adaptive,
    pq_rerank_adaptive,
)
from etl_data_pipeline_spark.operators.similarity import (
    ann_lsh_multiprobe_topk,
    ann_lsh_topk,
    centroid_classify,
    cosine_pairs_hof,
    cosine_topk_pairs,
    dot_col,
    embedding_neardup,
    kmeans_iterations,
    knn,
    mmr_diversified,
    recall_vs_exact,
)
from etl_data_pipeline_spark.plans.registry import query
from etl_data_pipeline_spark.plans.text import bm25_scores

_COS_PAIRS_CTE = """
    WITH pairs AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
        list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        / SQRT(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
             * list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))
        AS cos
      FROM embeddings a JOIN embeddings b ON {cond}
    )
"""


@query(
    "cosine_topk",
    oracle=_COS_PAIRS_CTE.format(cond="a.vec_id < b.vec_id")
    + """
    SELECT a, b, ROUND(cos, 6) AS cosine
    FROM pairs
    ORDER BY ROUND(cos, 6) DESC, a, b
    LIMIT 10
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6: global top-10 most-similar pairs — blocked numpy applyInPandas
    kernel (one matmul per block pair, local top-k in-task, no driver
    collect; the 100x-faster replacement for the naive per-pair BNLJ,
    see BASELINE.md cosine_topk note)."""
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_pairs(e, k=10)


@query(
    "i6b_cosine_topk_hof",
    oracle=_COS_PAIRS_CTE.format(
        cond="a.vec_id < b.vec_id AND a.vec_id < 800 AND b.vec_id < 800"
    )
    + """
    SELECT a, b, ROUND(cos, 6) AS cosine
    FROM pairs
    ORDER BY ROUND(cos, 6) DESC, a, b
    LIMIT 10
    """,
)
def i6b_cosine_topk_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 cross-check: top-10 via pure higher-order functions (no Python
    anywhere) — proves kernel/HOF agreement through the oracle. The HOF
    form evaluates per pair (all-pairs join), so it is pinned to the
    deterministic vec_id < 800 subset: bounded work at every sf, by
    design never the scale path (that is cosine_topk's blocked kernel).
    """
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 800)
    pairs = cosine_pairs_hof(e, min_cos=-2.0)
    return (
        pairs.select("a", "b", F.round("cosine", 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("a"), F.asc("b"))
        .limit(10)
    )


@query(
    "i7_knn",
    oracle=_COS_PAIRS_CTE.format(cond="a.vec_id != b.vec_id")
    + """
    SELECT a AS vec_id, b AS neighbor, ROUND(cos, 6) AS cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY a
                    ORDER BY ROUND(cos, 6) DESC, b) AS rn FROM pairs)
    WHERE rn <= 3
    """,
)
def i7_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7: exact 3-NN per vector (brute force ANN baseline) — blocked
    kernel: per-group local top-3, then one window over <= 3 * n_blocks
    candidates per query. Distributed end to end."""
    e = load_table(spark, sf_dir, "embeddings")
    return knn(e, k=3)


@query(
    "embedding_neardup",
    oracle=_COS_PAIRS_CTE.format(cond="a.vec_id < b.vec_id")
    + """
    SELECT a, b, ROUND(cos, 6) AS cosine
    FROM pairs
    WHERE ROUND(cos, 6) >= 0.42
    """,
)
def embedding_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup family: embedding-cosine near-duplicate pairs (threshold
    picked at the top of this corpus's similarity range — the vectors are
    near-random, max pairwise cosine ~0.51). The threshold is applied
    inside the blocked kernel, so only surviving pairs ever leave a task."""
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup(e, min_cos=0.42)


@query(
    "i8_centroid_classify",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label, i.range AS pos,
             CAST(embedding[i.range + 1] AS DOUBLE) AS v
      FROM embeddings, RANGE(64) i
    ), cent AS (
      SELECT label AS cand_label, pos, AVG(v) AS c FROM dims GROUP BY label, pos
    ), cnorm AS (
      SELECT cand_label, SUM(c * c) AS nc2 FROM cent GROUP BY cand_label
    ), vnorm AS (
      SELECT vec_id, SUM(v * v) AS nv2 FROM dims GROUP BY vec_id
    ), dots AS (
      SELECT d.vec_id, d.label, c.cand_label, SUM(d.v * c.c) AS dot
      FROM dims d JOIN cent c USING (pos)
      GROUP BY d.vec_id, d.label, c.cand_label
    ), scored AS (
      SELECT t.vec_id, t.label, t.cand_label,
             t.dot / SQRT(v.nv2 * n.nc2) AS cos
      FROM dots t
      JOIN cnorm n USING (cand_label)
      JOIN vnorm v USING (vec_id)
    )
    SELECT vec_id, label, cand_label AS pred_label, ROUND(cos, 6) AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, cand_label) AS rn FROM scored)
    WHERE rn = 1
    """,
)
def i8_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I8: label centroids (avg per dim) + nearest-centroid classification
    by cosine — all JVM-side (posexplode/groupBy/broadcast join)."""
    e = load_table(spark, sf_dir, "embeddings")
    return centroid_classify(e)


#: Shared LSH bucket oracle body (mirrors operators/similarity.py::
#: lsh_buckets): INTEGER hyperplane weights (md5%2001-1000) applied to
#: int8-QUANTIZED dims (the verbatim i6c quantize expression), so each
#: projection is an exact integer sum — the sign test is
#: accumulation-order independent in both engines (ADVICE r5 fix).
_LSH_BUCKETS_BODY = """
    planes AS (
      SELECT j.range AS j, p.range AS pos,
             ((('0x' || SUBSTR(MD5(j.range::VARCHAR || '_' || p.range::VARCHAR), 1, 8))::BIGINT
               % 2001) - 1000) AS w
      FROM RANGE(4) j, RANGE(64) p
    ), lq AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> FLOOR(x * 127.0
                          / (CASE WHEN m = 0 THEN 1.0 ELSE m END)
                          + 0.5)) AS lqe
      FROM (SELECT vec_id, embedding,
                   list_aggregate(
                     list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> ABS(x)), 'max') AS m
            FROM embeddings) lqs
    ), ldims AS (
      SELECT vec_id, i.range AS pos, lqe[i.range + 1] AS v
      FROM lq, RANGE(64) i
    ), proj AS (
      SELECT d.vec_id, pl.j, CAST(SUM(d.v * pl.w) AS BIGINT) AS proj
      FROM ldims d JOIN planes pl USING (pos)
      GROUP BY d.vec_id, pl.j
    ), buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN proj > 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM proj GROUP BY vec_id
    )
"""


@query(
    "ann_lsh",
    # Scale-adaptive plane count (round 12, VERDICT r11 item 1): the
    # lp CTE computes planes = max(4, floor(log2(n // 125))) in pure
    # integer arithmetic (max shift with 2^j <= n/125 — no float log2
    # boundary ambiguity), and the .replace() swaps the shared bucket
    # body's fixed RANGE(4) plane generator for the lp-gated one.  The
    # replace is part of this decorator's AST (trace-audited); the
    # shared constant itself stays byte-identical so the other
    # fixed-plane consumers keep their hashes.  Mechanical sync guard:
    # tests/test_plans.py::test_adaptive_lsh_oracles_parameterized.
    oracle="WITH lp AS (SELECT GREATEST(4, COALESCE((SELECT MAX(t.j)"
    " FROM RANGE(2, 31) t(j), (SELECT COUNT(*) AS n FROM embeddings) cn"
    " WHERE (CAST(1 AS BIGINT) << t.j) <= cn.n // 125), 4)) AS planes), "
    + _LSH_BUCKETS_BODY.replace(
        "FROM RANGE(4) j, RANGE(64) p",
        "FROM RANGE(30) j, RANGE(64) p, lp WHERE j.range < lp.planes",
    )
    + """
    , pairs AS (
      SELECT qa.vec_id AS q, qb.vec_id AS n,
        ROUND(
          list_inner_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))
          / SQRT(list_inner_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[]))
               * list_inner_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))),
          6) AS cosine
      FROM buckets qa
      JOIN buckets qb ON qa.bucket = qb.bucket AND qa.vec_id != qb.vec_id
      JOIN embeddings ea ON ea.vec_id = qa.vec_id
      JOIN embeddings eb ON eb.vec_id = qb.vec_id
    )
    SELECT q AS vec_id, n AS neighbor, cosine, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                    ORDER BY cosine DESC, n) AS rn FROM pairs)
    WHERE rn <= 3
    """,
)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: random-hyperplane LSH buckets (deterministic
    md5-derived planes) -> in-bucket exact cosine top-3 per query.

    The bucket equi-join is the scale lever: work is sharded by bucket,
    never all-pairs.  Plane count is SCALE-ADAPTIVE (round 12):
    planes = max(4, floor(log2(n/125))) keeps the expected bucket
    population ~125 vectors, so in-bucket cost stays constant as the
    corpus grows (at the fixed 4 planes, sf1's buckets held ~1250
    vectors each — the round-11 watch-list finding).  Every sf <= 0.1
    still resolves to 4 planes, so the measured geometry and hashes
    there are unchanged; sf1 gets 7 planes / 128 buckets.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_topk(e, k=3)


@query(
    "ann_recall",
    # same adaptive-plane substitution as ann_lsh (see its comment)
    oracle="WITH lp AS (SELECT GREATEST(4, COALESCE((SELECT MAX(t.j)"
    " FROM RANGE(2, 31) t(j), (SELECT COUNT(*) AS n FROM embeddings) cn"
    " WHERE (CAST(1 AS BIGINT) << t.j) <= cn.n // 125), 4)) AS planes), "
    + _LSH_BUCKETS_BODY.replace(
        "FROM RANGE(4) j, RANGE(64) p",
        "FROM RANGE(30) j, RANGE(64) p, lp WHERE j.range < lp.planes",
    )
    + """
    , pairs AS (
      SELECT a.vec_id AS q, b.vec_id AS n,
        ROUND(
          list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
          / SQRT(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
               * list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))),
          6) AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
    ), exact AS (
      SELECT q, n
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                      ORDER BY cosine DESC, n) AS rn FROM pairs)
      WHERE rn <= 3
    ), lsh_cand AS (
      SELECT qa.vec_id AS q, qb.vec_id AS n, p.cosine
      FROM buckets qa
      JOIN buckets qb ON qa.bucket = qb.bucket AND qa.vec_id != qb.vec_id
      JOIN pairs p ON p.q = qa.vec_id AND p.n = qb.vec_id
    ), ann AS (
      SELECT q, n
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                      ORDER BY cosine DESC, n) AS rn FROM lsh_cand)
      WHERE rn <= 3
    )
    SELECT COUNT(*) AS n_exact,
           COUNT(a.q) AS n_hit,
           COUNT(a.q) / COUNT(*) AS recall,
           COUNT(a.q) / COUNT(*) >= 0.1 AS recall_ok
    FROM exact e LEFT JOIN ann a ON e.q = a.q AND e.n = a.n
    """,
)
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: recall@3 of the LSH path against exact kNN
    (similarity.recall_vs_exact), measured ~0.14 at sf0.001/0.01/0.1
    with the 4 planes those scales resolve to on this near-random
    corpus; recall_ok pins >= 0.1.  The single-probe recall cliff is
    the documented reason ann_multiprobe exists; this gate tracks that
    the cliff stays put while bucket population stays ~constant."""
    e = load_table(spark, sf_dir, "embeddings")
    return recall_vs_exact(e, ann_lsh_topk(e, k=3), 0.1)


@query(
    "i9_multimodal_join",
    oracle="""
    SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
           ROUND(SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                         CAST(e.embedding AS DOUBLE[]))), 6) AS vec_norm,
           CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_tokens
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def i9_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I9: multimodal carry-through — text table joined to vector table,
    arrays as first-class columns, derived scalars out."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")

    def dot_self(x):
        return F.aggregate(
            F.zip_with(x, x, lambda u, v: u.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "label",
        F.round(F.sqrt(dot_self(F.col("embedding"))), 6).alias("vec_norm"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )


#: Shared flat-IVF oracle chain (params -> grid -> Knuth-hash seeds
#: -> 3-iteration integer k-means -> assign + probe), embedded by
#: BOTH flat-IVF oracles so a one-sided edit is impossible (the
#: _HIER_CHAIN precedent; sync-guarded by tests/test_ann_hier.py::
#: test_ivf_oracles_share_one_chain).  Seeds (round 13, VERDICT r12
#: item 1): the nlist smallest (h, vec_id) under the exact-integer
#: hash h = ((vec_id % 2^32) * 1327217885) % 2^32, restricted first
#: to h < thresh (expected 2*nlist + 64 candidates) — the verbatim
#: mirror of operators/ann_adaptive.py::hash_seeds, which replaced
#: the global-rank stride sample so the engine build never sorts
#: the corpus in one task; the ROW_NUMBER here ranks only the
#: candidate set.
_IVF_CHAIN = """
    p AS (
      SELECT COUNT(*) AS n,
             GREATEST(4, COUNT(*) // 125) AS nlist,
             GREATEST(2, GREATEST(4, COUNT(*) // 125) // 5) AS nprobe,
             CAST(LEAST(4294967296, (CAST(4294967296 AS HUGEINT)
                  * (2 * GREATEST(4, COUNT(*) // 125) + 64))
                  // COUNT(*) + 1) AS BIGINT) AS thresh
      FROM embeddings
    ), grid AS (
      SELECT vec_id, i.range AS pos,
             CAST(FLOOR(CAST(embedding[i.range + 1] AS DOUBLE) * 1000000) AS BIGINT) AS gv
      FROM embeddings, RANGE(64) i
    ), hs AS (
      SELECT vec_id,
             ((vec_id % 4294967296 + 4294967296) % 4294967296
              * 1327217885) % 4294967296 AS h
      FROM embeddings
    ), cnd AS (
      SELECT hs.vec_id,
             ROW_NUMBER() OVER (ORDER BY hs.h, hs.vec_id) AS srn
      FROM hs, p WHERE hs.h < p.thresh
    ), c0 AS (
      SELECT cnd.vec_id AS cell, g.pos, g.gv AS c
      FROM cnd, p, grid g
      WHERE g.vec_id = cnd.vec_id AND cnd.srn <= p.nlist
    ), d1 AS (
      SELECT g.vec_id, c.cell, SUM((g.gv - c.c) * (g.gv - c.c)) AS d
      FROM grid g JOIN c0 c USING (pos) GROUP BY g.vec_id, c.cell
    ), a1 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM d1) WHERE rn = 1
    ), c1 AS (
      SELECT a.cell, g.pos,
             CAST((SUM(g.gv) - ((SUM(g.gv) % COUNT(*)) + COUNT(*)) % COUNT(*))
                  // COUNT(*) AS BIGINT) AS c
      FROM a1 a JOIN grid g USING (vec_id) GROUP BY a.cell, g.pos
    ), d2 AS (
      SELECT g.vec_id, c.cell, SUM((g.gv - c.c) * (g.gv - c.c)) AS d
      FROM grid g JOIN c1 c USING (pos) GROUP BY g.vec_id, c.cell
    ), a2 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM d2) WHERE rn = 1
    ), c2 AS (
      SELECT a.cell, g.pos,
             CAST((SUM(g.gv) - ((SUM(g.gv) % COUNT(*)) + COUNT(*)) % COUNT(*))
                  // COUNT(*) AS BIGINT) AS c
      FROM a2 a JOIN grid g USING (vec_id) GROUP BY a.cell, g.pos
    ), d3 AS (
      SELECT g.vec_id, c.cell, SUM((g.gv - c.c) * (g.gv - c.c)) AS d
      FROM grid g JOIN c2 c USING (pos) GROUP BY g.vec_id, c.cell
    ), r3 AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS crn
      FROM d3
    ), assign AS (
      SELECT vec_id AS n, cell FROM r3 WHERE crn = 1
    ), probe AS (
      SELECT r3.vec_id AS q, r3.cell FROM r3, p WHERE r3.crn <= p.nprobe
    )
"""


@query(
    "ivf_ann",
    oracle="""
    WITH """
    + _IVF_CHAIN
    + """, pairs AS (
      SELECT pr.q, a.n,
        ROUND(
          list_inner_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))
          / SQRT(list_inner_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[]))
               * list_inner_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))),
          6) AS cosine
      FROM probe pr
      JOIN assign a ON a.cell = pr.cell AND a.n != pr.q
      JOIN embeddings ea ON ea.vec_id = pr.q
      JOIN embeddings eb ON eb.vec_id = a.n
    )
    SELECT q AS vec_id, n AS neighbor, cosine, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                    ORDER BY cosine DESC, n) AS rn FROM pairs)
    WHERE rn <= 3
    """,
)
def ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #2: IVF with the SCALE-ADAPTIVE coarse quantizer
    (round 12, VERDICT r11 item 1) — nlist = max(4, n/125) cells from a
    seeded integer-grid Lloyd k-means (3 iterations), nprobe = nlist/5
    (~20% scan), exact cosine only inside probed cells.  See
    operators/ann_adaptive.py for the scaling calibration and the
    exact-integer iteration contract the oracle unrolls (seeds = the
    nlist smallest (knuth-hash, vec_id) ids — round 13's replacement
    for the global-rank stride sample, so the build has no single-task
    corpus sort; assignment argmin of integer squared distance, ties
    by cell id; floor-division centroid update).  The centroid table is
    pinned into the assignment kernel, so the build accepts nlist <=
    100,000 cells (n <= 12.5M vectors; the driver and each Python
    worker then hold nlist x 64 x 8 B = 51 MB) and raises ValueError
    above it before any k-means job.

    Replaced the fixed 10-label-cell quantizer whose per-cell
    population grew with n (the round-11 ``weak`` finding): measured
    recall@3 0.41 -> 0.733 at sf0.01 under the r12 stride seeds
    (hash seeds re-measured in BASELINE.md's round-13 row).
    """
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_adaptive(e, k=3, iters=3)


@query(
    "kmeans_lloyd",
    oracle="""
    SELECT i.range + 1 AS iteration,
           1 AS inertia_decreased,
           (SELECT COUNT(*) FROM embeddings) AS n_assigned
    FROM RANGE(3) i
    """,
)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd k-means over embeddings, 3 iterations (see
    operators/similarity.py::kmeans_iterations).

    EXACT error-bound oracle (ann_recall template): raw inertia values
    are not SQL-reproducible (iterative float algorithm), so the query
    emits Lloyd's INVARIANTS as driver-hashable values — per iteration,
    ``inertia_decreased`` (1 iff inertia is non-increasing vs the
    previous iteration, with 1e-9 relative slack for float accumulation)
    and ``n_assigned`` (every vector assigned exactly once == table
    count, which the oracle recomputes). A broken iteration flips the
    driver hash red. Raw monotonicity + non-empty clusters additionally
    asserted in tests/test_operators.py::test_kmeans_inertia_monotone.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings")
    res = kmeans_iterations(e, k=8, iters=3)
    w = Window.orderBy("iteration")
    prev = F.lag("inertia").over(w)
    return res.select(
        "iteration",
        F.when(
            prev.isNull() | (F.col("inertia") <= prev * 1.000000001 + 1e-9),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("inertia_decreased"),
        "n_assigned",
    )


@query(
    "vector_centroids",
    oracle="""
    WITH ex AS (
      SELECT label,
             UNNEST(embedding) AS v,
             UNNEST(RANGE(1, LEN(embedding) + 1)) AS dim
      FROM embeddings
    )
    SELECT label, dim,
           COUNT(*) AS n_vecs,
           SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT))
                 / (COUNT(*) * 1000000.0) AS centroid
    FROM ex GROUP BY label, dim
    """,
)
def vector_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector AGGREGATION (the counterpart of i8's classify-to-given-
    centroids): per-label mean embedding via posexplode -> grid-sum.
    Components are floored to 1e-6 integer units before summing
    (functions/canonical.py discipline), so the per-dimension totals are
    exact integers — deterministic cross-engine and across any partition
    / accumulation order, which a naive float sum is not.

    Scale: one shuffle on (label, dim) — 64*k cells regardless of row
    count; partial aggregation does the heavy lifting map-side. This is
    the building block k-means/centroid-classify consume upstream.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    return (
        ex.select(
            "label",
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.floor(F.col("v").cast("double") * 1000000).cast("long").alias("g"),
        )
        .groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("g").alias("s"))
        .select(
            "label",
            "dim",
            "n_vecs",
            # no ROUND: integer grid-sum / integer count is one IEEE
            # division, bitwise identical cross-engine; rounding would
            # reintroduce half-way ties that the two engines break
            # differently.
            (F.col("s") / (F.col("n_vecs") * F.lit(1000000.0))).alias("centroid"),
        )
    )


@query(
    "embedding_clip_stats",
    oracle="""
    WITH ex AS (
      SELECT UNNEST(embedding) AS v,
             UNNEST(RANGE(1, LEN(embedding) + 1)) AS dim
      FROM embeddings
    ), q AS (
      SELECT dim,
             QUANTILE_CONT(CAST(v AS DOUBLE), 0.01) AS p01,
             QUANTILE_CONT(CAST(v AS DOUBLE), 0.99) AS p99
      FROM ex GROUP BY dim
    )
    SELECT e.dim,
           ROUND(q.p01, 6) AS p01,
           ROUND(q.p99, 6) AS p99,
           COUNT(*) FILTER (WHERE CAST(e.v AS DOUBLE) < q.p01
                               OR CAST(e.v AS DOUBLE) > q.p99) AS n_clipped
    FROM ex e JOIN q USING (dim)
    GROUP BY e.dim, q.p01, q.p99
    """,
)
def embedding_clip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding preprocessing: per-dimension p01/p99 outlier bounds and
    the count of components each would clip — the calibration pass run
    before int8 quantization (i6c) so a single outlier doesn't stretch
    a dimension's quantization range 10x.

    Two stages over the exploded components: exact percentile per dim
    (64 groups — the agg state is 64 sort buffers regardless of row
    count... at true 100 TB swap the exact percentile for
    approx_percentile and this stays one pass), then bounds joined back
    (broadcast — 64 rows) for the clip count. Exact linear-interpolation
    percentiles match QUANTILE_CONT cross-engine (d8 precedent).
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode("embedding").alias("pos", "v")).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    q = ex.groupBy("dim").agg(
        F.percentile("v", F.lit(0.01)).alias("p01_raw"),
        F.percentile("v", F.lit(0.99)).alias("p99_raw"),
    )
    return (
        ex.join(F.broadcast(q), "dim")
        .groupBy("dim", "p01_raw", "p99_raw")
        .agg(
            F.count(
                F.when((F.col("v") < F.col("p01_raw")) | (F.col("v") > F.col("p99_raw")), 1)
            ).alias("n_clipped")
        )
        .select(
            "dim",
            F.round("p01_raw", 6).alias("p01"),
            F.round("p99_raw", 6).alias("p99"),
            "n_clipped",
        )
    )


@query(
    "mmr_diversified_topk",
    oracle="""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> FLOOR(x * 127.0
                          / (CASE WHEN m = 0 THEN 1.0 ELSE m END)
                          + 0.5)) AS qe
      FROM (SELECT vec_id, embedding,
                   list_aggregate(
                     list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> ABS(x)), 'max') AS m
            FROM embeddings) s
    ), rel AS (
      SELECT b.vec_id AS c,
             list_inner_product(a.qe, b.qe)
               / SQRT(list_inner_product(a.qe, a.qe)
                    * list_inner_product(b.qe, b.qe)) AS r
      FROM qv a JOIN qv b ON a.vec_id = 0 AND b.vec_id != 0
    ), cand AS (
      SELECT c, r FROM (
        SELECT c, r, ROW_NUMBER() OVER (ORDER BY r DESC, c) AS rn FROM rel)
      WHERE rn <= 16
    ), sims AS (
      SELECT x.c AS c1, y.c AS c2,
             list_inner_product(qx.qe, qy.qe)
               / SQRT(list_inner_product(qx.qe, qx.qe)
                    * list_inner_product(qy.qe, qy.qe)) AS s
      FROM cand x JOIN cand y ON x.c != y.c
      JOIN qv qx ON qx.vec_id = x.c
      JOIN qv qy ON qy.vec_id = y.c
    ), s1 AS (
      SELECT c, r, 0.5 * r AS score FROM cand
      ORDER BY score DESC, c LIMIT 1
    ), s2 AS (
      SELECT x.c, x.r, 0.5 * x.r - 0.5 * sa.s AS score
      FROM cand x
      JOIN s1 ON x.c != s1.c
      JOIN sims sa ON sa.c1 = x.c AND sa.c2 = s1.c
      ORDER BY score DESC, x.c LIMIT 1
    ), s3 AS (
      SELECT x.c, x.r, 0.5 * x.r - 0.5 * GREATEST(sa.s, sb.s) AS score
      FROM cand x
      JOIN s1 ON x.c != s1.c
      JOIN s2 ON x.c != s2.c
      JOIN sims sa ON sa.c1 = x.c AND sa.c2 = s1.c
      JOIN sims sb ON sb.c1 = x.c AND sb.c2 = s2.c
      ORDER BY score DESC, x.c LIMIT 1
    )
    SELECT CAST(1 AS BIGINT) AS rank, c AS vec_id,
           ROUND(r, 6) AS relevance, ROUND(score, 6) AS mmr_score FROM s1
    UNION ALL
    SELECT 2, c, ROUND(r, 6), ROUND(score, 6) FROM s2
    UNION ALL
    SELECT 3, c, ROUND(r, 6), ROUND(score, 6) FROM s3
    """,
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval: Maximal Marginal Relevance top-3 for query
    vector 0 over a 16-candidate pool (lam=0.5) — see
    operators/similarity.py::mmr_diversified. Every similarity is the
    exactly-reproducible quantized-integer cosine and lam is a binary
    power, so the greedy's float comparisons are identical cross-engine;
    the oracle unrolls the three selection steps as chained CTEs (the
    pagerank unroll pattern). Guards result lists against near-dup
    cluster takeover — the diversity-aware sampling primitive."""
    e = load_table(spark, sf_dir, "embeddings")
    return mmr_diversified(spark, e, query_id=0, k=3, n_cand=16, lam=0.5)


@query(
    "ivf_recall",
    oracle="""
    WITH allp AS (
      SELECT a.vec_id AS q, b.vec_id AS n,
        ROUND(
          list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
          / SQRT(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
               * list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))),
          6) AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
    ), exact AS (
      SELECT q, n
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                      ORDER BY cosine DESC, n) AS rn FROM allp)
      WHERE rn <= 3
    ), """
    + _IVF_CHAIN
    + """, icand AS (
      SELECT pr.q, a.n, ap.cosine
      FROM probe pr
      JOIN assign a ON a.cell = pr.cell AND a.n != pr.q
      JOIN allp ap ON ap.q = pr.q AND ap.n = a.n
    ), ivf AS (
      SELECT q, n
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                      ORDER BY cosine DESC, n) AS rn FROM icand)
      WHERE rn <= 3
    )
    SELECT COUNT(*) AS n_exact,
           COUNT(a.q) AS n_hit,
           COUNT(a.q) / COUNT(*) AS recall,
           COUNT(a.q) / COUNT(*) >= 0.45 AS recall_ok
    FROM exact e LEFT JOIN ivf a ON e.q = a.q AND e.n = a.n
    """,
)
def ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quality gate: recall@3 of the adaptive IVF path (nlist =
    n/125 integer-k-means cells, nprobe = nlist/5) against exact kNN
    (similarity.recall_vs_exact).  recall_ok pins >= 0.45: the adaptive
    quantizer measures 0.713 at sf0.001, 0.721 at sf0.01 and 0.485 at
    sf0.1 (~19% scan) vs the fixed label-cell quantizer's 0.41."""
    e = load_table(spark, sf_dir, "embeddings")
    return recall_vs_exact(e, ivf_topk_adaptive(e, k=3, iters=3), 0.45)


#: Shared PQ oracle body: int8 quantize (verbatim i6c expression) ->
#: 16x4 subvector split -> 16-code seed codebook -> integer-distance
#: argmin assignment -> decode -> SDC candidate top-50 -> exact rerank.
_PQ_BODY = """
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> FLOOR(x * 127.0
                          / (CASE WHEN m = 0 THEN 1.0 ELSE m END)
                          + 0.5)) AS qe
      FROM (SELECT vec_id, embedding,
                   list_aggregate(
                     list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> ABS(x)), 'max') AS m
            FROM embeddings) s
    ), dims AS (
      SELECT vec_id, i.range // 4 AS sub, i.range % 4 AS d,
             qe[i.range + 1] AS v
      FROM qv, RANGE(64) i
    ), cb AS (
      SELECT sub, vec_id AS code, d, v AS c FROM dims WHERE vec_id < 16
    ), dist AS (
      SELECT m.vec_id, m.sub, c.code,
             SUM((m.v - c.c) * (m.v - c.c)) AS dist
      FROM dims m JOIN cb c ON c.sub = m.sub AND c.d = m.d
      GROUP BY m.vec_id, m.sub, c.code
    ), assign AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, code) AS rn
        FROM dist) WHERE rn = 1
    ), dec AS (
      SELECT a.vec_id, LIST(c.c ORDER BY c.sub * 4 + c.d) AS de
      FROM assign a JOIN cb c ON c.sub = a.sub AND c.code = a.code
      GROUP BY a.vec_id
    ), qp AS (
      SELECT a.vec_id AS q, b.vec_id AS n,
             ROUND(list_inner_product(a.de, b.de)
               / SQRT(list_inner_product(a.de, a.de)
                    * list_inner_product(b.de, b.de)), 6) AS qcos
      FROM dec a JOIN dec b ON a.vec_id != b.vec_id
    ), cand AS (
      SELECT q, n FROM (
        SELECT q, n,
               ROW_NUMBER() OVER (PARTITION BY q ORDER BY qcos DESC, n) AS rn
        FROM qp)
      WHERE rn <= 50
    ), rr AS (
      SELECT c.q AS vec_id, c.n AS neighbor,
             ROUND(list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[]))
               / SQRT(list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                         CAST(a.embedding AS DOUBLE[]))
                    * list_inner_product(CAST(b.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))), 6)
               AS cosine
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.q
      JOIN embeddings b ON b.vec_id = c.n
    ), pq3 AS (
      SELECT vec_id, neighbor, cosine
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY cosine DESC, neighbor) AS rn FROM rr)
      WHERE rn <= 3
    )
"""


@query(
    "pq_ann",
    # Scale-adaptive codebook (round 12): pc computes n_codes =
    # max(16, n // 125) and the .replace swaps the fixed 16-seed cb
    # selection for a rank-gated one (seeds = the n_codes lowest
    # vec_ids — the exact mirror of orderBy(vec_id).limit(n_codes)).
    # Same substitution mechanics/rationale as ann_lsh's lp CTE.
    oracle=_PQ_BODY.replace(
        "WITH qv AS (",
        "WITH pc AS (SELECT GREATEST(16, (SELECT COUNT(*) FROM embeddings)"
        " // 125) AS n_codes), qv AS (",
    ).replace(
        "SELECT sub, vec_id AS code, d, v AS c FROM dims WHERE vec_id < 16",
        """SELECT dm.sub, dm.vec_id AS code, dm.d, dm.v AS c
      FROM dims dm, (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id)
                     AS r FROM embeddings) rk, pc
      WHERE rk.vec_id = dm.vec_id AND rk.r <= pc.n_codes""",
    )
    + "SELECT vec_id, neighbor, cosine FROM pq3",
)
def pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third ANN path: PRODUCT QUANTIZATION (SDC variant) — 16
    subvectors x max(16, n/125) codes = 8 bytes per vector (8x smaller
    than int8, 32x smaller than float32), top-50 candidates from the
    blocked kernel over PQ-reconstructed vectors, exact float re-rank
    to top-3.  The FAISS IVF-PQ memory model's PQ half; the codebook is
    SCALE-ADAPTIVE since round 12 (operators/ann_adaptive.py::
    pq_rerank_adaptive — per-code population held ~125, so every
    sf <= 0.1 keeps the measured 16-code geometry and hashes while sf1
    gets 160 codes).  Every compressed number is an integer, so
    candidate generation is exactly cross-engine reproducible like i6c
    one compression level up.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return pq_rerank_adaptive(e, k=3, n_cand=50)


@query(
    "pq_recall",
    # same adaptive-codebook substitutions as pq_ann (see its comment)
    oracle=_PQ_BODY.replace(
        "WITH qv AS (",
        "WITH pc AS (SELECT GREATEST(16, (SELECT COUNT(*) FROM embeddings)"
        " // 125) AS n_codes), qv AS (",
    ).replace(
        "SELECT sub, vec_id AS code, d, v AS c FROM dims WHERE vec_id < 16",
        """SELECT dm.sub, dm.vec_id AS code, dm.d, dm.v AS c
      FROM dims dm, (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id)
                     AS r FROM embeddings) rk, pc
      WHERE rk.vec_id = dm.vec_id AND rk.r <= pc.n_codes""",
    )
    + """
    , allp AS (
      SELECT a.vec_id AS q, b.vec_id AS n,
        ROUND(
          list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
          / SQRT(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
               * list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))),
          6) AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
    ), exact AS (
      SELECT q, n
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                      ORDER BY cosine DESC, n) AS rn FROM allp)
      WHERE rn <= 3
    ), hits AS (
      SELECT e.q, e.n,
             CASE WHEN p.vec_id IS NOT NULL THEN 1 END AS hit
      FROM exact e
      LEFT JOIN pq3 p ON p.vec_id = e.q AND p.neighbor = e.n
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(hit) AS BIGINT) AS n_hit,
           COUNT(hit) / CAST(COUNT(*) AS DOUBLE) AS recall,
           COUNT(hit) / CAST(COUNT(*) AS DOUBLE) >= 0.4 AS recall_ok
    FROM hits
    """,
)
def pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality gate: recall@3 of the PQ path against exact kNN
    (similarity.recall_vs_exact).  recall_ok pins >= 0.4 (measured 0.61
    at sf0.01 — the 16x4/4-bit geometry was chosen over 8x8 subvectors
    by a recall sweep because it clears this bar at the same 8-byte
    budget)."""
    e = load_table(spark, sf_dir, "embeddings")
    approx = pq_rerank_adaptive(e, k=3, n_cand=50)
    return recall_vs_exact(e, approx, 0.4)


#: Shared LSH CTE (4 md5-derived hyperplanes -> signed-projection bit
#: bucket) + the Hamming-1 multiprobe expansion.
_LSH_PROBES_BODY = _LSH_BUCKETS_BODY + """
    , probes AS (
      SELECT vec_id,
             UNNEST([bucket, XOR(bucket, 1), XOR(bucket, 2),
                     XOR(bucket, 4), XOR(bucket, 8)]) AS pbucket
      FROM buckets
    ), allcos AS (
      SELECT a.vec_id AS q, b.vec_id AS n,
        ROUND(
          list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
          / SQRT(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
               * list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))),
          6) AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
    ), mp_cand AS (
      SELECT pq.vec_id AS q, nb.vec_id AS n, p.cosine
      FROM probes pq
      JOIN buckets nb ON nb.bucket = pq.pbucket AND nb.vec_id != pq.vec_id
      JOIN allcos p ON p.q = pq.vec_id AND p.n = nb.vec_id
    ), mp3 AS (
      SELECT q, n, cosine, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                  ORDER BY cosine DESC, n) AS rn
        FROM mp_cand)
      WHERE rn <= 3
    )
"""


@query(
    "ann_multiprobe",
    # adaptive planes (see ann_lsh) + the Hamming-1 probe expansion
    # generalized from the fixed [1,2,4,8] literal to one bit flip per
    # plane (lp-gated shift join) — same substitution mechanics
    oracle="WITH lp AS (SELECT GREATEST(4, COALESCE((SELECT MAX(t.j)"
    " FROM RANGE(2, 31) t(j), (SELECT COUNT(*) AS n FROM embeddings) cn"
    " WHERE (CAST(1 AS BIGINT) << t.j) <= cn.n // 125), 4)) AS planes), "
    + _LSH_PROBES_BODY.replace(
        "FROM RANGE(4) j, RANGE(64) p",
        "FROM RANGE(30) j, RANGE(64) p, lp WHERE j.range < lp.planes",
    ).replace(
        """SELECT vec_id,
             UNNEST([bucket, XOR(bucket, 1), XOR(bucket, 2),
                     XOR(bucket, 4), XOR(bucket, 8)]) AS pbucket
      FROM buckets""",
        """SELECT vec_id, bucket AS pbucket FROM buckets
      UNION ALL
      SELECT b.vec_id, XOR(b.bucket, CAST(1 AS BIGINT) << jj.range) AS pbucket
      FROM buckets b, RANGE(30) jj, lp WHERE jj.range < lp.planes
      UNION ALL
      SELECT b.vec_id,
             XOR(b.bucket, (CAST(1 AS BIGINT) << j1.range)
                           | (CAST(1 AS BIGINT) << j2.range)) AS pbucket
      FROM buckets b, RANGE(30) j1, RANGE(30) j2, lp
      WHERE j1.range < j2.range AND j2.range < lp.planes
        AND (lp.planes + 1) * 5 < (CAST(1 AS BIGINT) << lp.planes)""",
    )
    + """
    SELECT q AS vec_id, n AS neighbor, cosine, CAST(rn AS BIGINT) AS rn
    FROM mp3
    """,
)
def ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH ANN: single-probe LSH (ann_lsh) recalls only
    ~0.14 on this near-random corpus — the known recall cliff of a
    4-bit signature. Probing the 4 Hamming-1 neighbor buckets as well
    (operators/similarity.py::ann_lsh_multiprobe_topk) recovers the
    neighbors that landed just across one hyperplane at (planes+1)x the
    probe fan-out — no extra tables, still bucket-equi-join sharded.
    Plane count scale-adaptive since round 12 (see ann_lsh): fan-out
    grows only logarithmically with n while bucket population stays
    ~125."""
    e = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_multiprobe_topk(e, k=3)


@query(
    "ann_multiprobe_recall",
    # same adaptive substitutions as ann_multiprobe (see its comment)
    oracle="WITH lp AS (SELECT GREATEST(4, COALESCE((SELECT MAX(t.j)"
    " FROM RANGE(2, 31) t(j), (SELECT COUNT(*) AS n FROM embeddings) cn"
    " WHERE (CAST(1 AS BIGINT) << t.j) <= cn.n // 125), 4)) AS planes), "
    + _LSH_PROBES_BODY.replace(
        "FROM RANGE(4) j, RANGE(64) p",
        "FROM RANGE(30) j, RANGE(64) p, lp WHERE j.range < lp.planes",
    ).replace(
        """SELECT vec_id,
             UNNEST([bucket, XOR(bucket, 1), XOR(bucket, 2),
                     XOR(bucket, 4), XOR(bucket, 8)]) AS pbucket
      FROM buckets""",
        """SELECT vec_id, bucket AS pbucket FROM buckets
      UNION ALL
      SELECT b.vec_id, XOR(b.bucket, CAST(1 AS BIGINT) << jj.range) AS pbucket
      FROM buckets b, RANGE(30) jj, lp WHERE jj.range < lp.planes
      UNION ALL
      SELECT b.vec_id,
             XOR(b.bucket, (CAST(1 AS BIGINT) << j1.range)
                           | (CAST(1 AS BIGINT) << j2.range)) AS pbucket
      FROM buckets b, RANGE(30) j1, RANGE(30) j2, lp
      WHERE j1.range < j2.range AND j2.range < lp.planes
        AND (lp.planes + 1) * 5 < (CAST(1 AS BIGINT) << lp.planes)""",
    )
    + """
    , exact AS (
      SELECT q, n
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                      ORDER BY cosine DESC, n) AS rn FROM allcos)
      WHERE rn <= 3
    )
    SELECT COUNT(*) AS n_exact,
           COUNT(m.q) AS n_hit,
           COUNT(m.q) / COUNT(*) AS recall,
           COUNT(m.q) / COUNT(*) >= 0.3 AS recall_ok
    FROM exact e LEFT JOIN mp3 m ON m.q = e.q AND m.n = e.n
    """,
)
def ann_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH quality gate: recall@3 vs exact kNN
    (similarity.recall_vs_exact), measured 0.50-0.52 at sf0.001/0.01 —
    a 3.6x lift over single-probe LSH (~0.14) for 5x probe fan-out.
    Gate pinned >= 0.3."""
    e = load_table(spark, sf_dir, "embeddings")
    return recall_vs_exact(e, ann_lsh_multiprobe_topk(e, k=3), 0.3)


@query(
    "i8b_centroid_accuracy",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label, i.range AS pos,
             CAST(embedding[i.range + 1] AS DOUBLE) AS v
      FROM embeddings, RANGE(64) i
    ), cent AS (
      SELECT label AS cand_label, pos, AVG(v) AS c FROM dims GROUP BY label, pos
    ), cnorm AS (
      SELECT cand_label, SUM(c * c) AS nc2 FROM cent GROUP BY cand_label
    ), vnorm AS (
      SELECT vec_id, SUM(v * v) AS nv2 FROM dims GROUP BY vec_id
    ), dots AS (
      SELECT d.vec_id, d.label, c.cand_label, SUM(d.v * c.c) AS dot
      FROM dims d JOIN cent c USING (pos)
      GROUP BY d.vec_id, d.label, c.cand_label
    ), scored AS (
      SELECT t.vec_id, t.label, t.cand_label,
             t.dot / SQRT(v.nv2 * n.nc2) AS cos
      FROM dots t
      JOIN cnorm n USING (cand_label)
      JOIN vnorm v USING (vec_id)
    ), pred AS (
      SELECT vec_id, label, cand_label AS pred_label
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, cand_label) AS rn FROM scored)
      WHERE rn = 1
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN pred_label = label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           (CAST(SUM(CASE WHEN pred_label = label THEN 1 ELSE 0 END)
                 AS BIGINT) * 1000000)
             // CAST(COUNT(*) AS BIGINT) AS acc_grid
    FROM pred GROUP BY label
    """,
)
def i8b_centroid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier quality gate for the centroid classifier (i8):
    per-label accuracy on exact integer grids — lang_id_confusion's
    sibling for the embedding side, so every classifier in the repo
    carries a measured-quality row (labels are cluster-aligned in this
    corpus, so the diagonal dominating is itself a data property the
    driver hashes). Reuses the registered operator, adds one agg.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pred = centroid_classify(e).select("label", "pred_label")
    return pred.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("pred_label") == F.col("label"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.expr(
            "(sum(CASE WHEN pred_label = label THEN 1 ELSE 0 END) * 1000000)"
            " div count(1)"
        ).alias("acc_grid"),
    )


@query(
    "hybrid_rrf_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents
    ), q AS (SELECT UNNEST(['join', 'hash', 'vector']) AS term
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_len FROM dl
    ), tf AS (
      SELECT t.doc_id, t.token AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks t JOIN q ON q.term = t.token
      GROUP BY t.doc_id, t.token
    ), df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), bm AS (
      SELECT tf.doc_id,
             CAST(SUM(CAST(FLOOR(
               LN((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * s.n_docs
                                         / CAST(s.total_len AS DOUBLE)))
               * 1000000) AS BIGINT)) AS BIGINT) AS bm25_grid
      FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ), lex_rank AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25_grid DESC, doc_id) AS r
      FROM bm
    ), qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0
    ), dense AS (
      SELECT e.vec_id AS doc_id,
        ROUND(
          list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(qv.embedding AS DOUBLE[]))
          / SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
               * list_inner_product(CAST(qv.embedding AS DOUBLE[]), CAST(qv.embedding AS DOUBLE[]))),
          6) AS cosine
      FROM embeddings e CROSS JOIN qv
      WHERE e.vec_id != 0
    ), dense_rank_t AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS r
      FROM dense
    ), fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             COALESCE((1000000000 // (60 + l.r)), 0)
               + COALESCE((1000000000 // (60 + d.r)), 0) AS rrf_grid,
             COALESCE(l.r, 0) AS lex_rank,
             COALESCE(d.r, 0) AS dense_rank
      FROM lex_rank l FULL OUTER JOIN dense_rank_t d USING (doc_id)
    )
    SELECT doc_id, CAST(rrf_grid AS BIGINT) AS rrf_grid,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(dense_rank AS BIGINT) AS dense_rank
    FROM fused
    ORDER BY rrf_grid DESC, doc_id
    LIMIT 10
    """,
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: reciprocal-rank fusion (RRF, k=60) of the
    lexical BM25 ranking and the dense cosine ranking against a query
    vector (vec 0; documents and vectors share ids) — the fusion every
    production search stack runs over its sparse + dense legs. Top-10
    fused, with both source ranks carried for explainability.

    Exactness: each leg's rank is a total order (score desc, id), and
    each RRF contribution is the exact integer 1e9 div (60 + rank) —
    no floating fusion math at all. Scale: the BM25 leg is the shared
    ``bm25_scores`` core (semi-join + two aggs); the dense leg here is
    the brute-force broadcast-query scan — at corpus scale swap in any
    of the four registered ANN paths, the fusion join is unchanged;
    rank windows run over ALREADY-SCORED small legs (top-N truncation
    upstream in production).
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    bm = bm25_scores(d, ["join", "hash", "vector"])
    wl = Window.orderBy(F.desc("bm25_grid"), F.asc("doc_id"))
    lex = bm.select("doc_id", F.row_number().over(wl).alias("lr"))
    # The query vector's self-norm is computed ONCE on the 1-row frame
    # and carried through the broadcast (r15 optimization round) —
    # cosine_col inlined dot(qe, qe) per scanned row.  Bit-identical:
    # same HOF fold, same sqrt(n2_emb * qn2) multiplication order.
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"),
        dot_col(F.col("embedding"), F.col("embedding")).alias("qn2"),
    )
    dense = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                dot_col(F.col("embedding"), F.col("qe"))
                / F.sqrt(
                    dot_col(F.col("embedding"), F.col("embedding"))
                    * F.col("qn2")
                ),
                6,
            ).alias("cosine"),
        )
    )
    wd = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    den = dense.select("doc_id", F.row_number().over(wd).alias("dr"))
    fused = lex.join(den, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.expr("1000000000 div (60 + lr)"), F.lit(0))
            + F.coalesce(F.expr("1000000000 div (60 + dr)"), F.lit(0))
        )
        .cast("long")
        .alias("rrf_grid"),
        F.coalesce(F.col("lr"), F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce(F.col("dr"), F.lit(0)).cast("long").alias("dense_rank"),
    )
    return fused.orderBy(F.desc("rrf_grid"), F.asc("doc_id")).limit(10)
