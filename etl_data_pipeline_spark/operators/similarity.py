"""Vector similarity operators (SURVEY.md §2 I6-I8 + ANN scale paths).

Two implementations of the cosine kernel:

- ``cosine_pairs_hof``: pure higher-order-function DataFrame expression
  (zip_with + aggregate). Stays 100% JVM-side but evaluates per pair —
  measured ~30s for 2M pairs at sf0.1 (BASELINE.md) — kept as the
  cross-check / no-Python fallback.
- ``cosine_topk_pairs`` / ``knn`` / ``embedding_neardup``: BLOCKED
  brute force — vectors are assigned to ``vec_id % n_blocks`` blocks, a
  tiny broadcast (block_a, block_b) frame fans each row out to its block
  pairs, and one Arrow-batched ``applyInPandas`` task per block pair runs
  a numpy float64 matmul over just those two blocks. Exact results, no
  driver-side collect anywhere, and per-task memory is (n/n_blocks)^2 —
  ``n_blocks`` is the knob that keeps tasks executor-sized at any corpus
  size (the classic distributed all-pairs decomposition).

Scale posture (100 TB): blocked brute force distributes but stays
O(n^2) total work — beyond brute-force reach, cut candidates first with
LSH buckets (``ann_lsh_topk``, ``ann_lsh_multiprobe_topk``) or an IVF
coarse quantizer (``ann_adaptive.ivf_topk_adaptive``, the two-level
``plans/ann_hier.ivf2_topk``).  Each of the four only builds narrow
(vid, cell, side) pairs; ``cell_topk`` is the one retrieval core that
fetches the vectors and runs exact cosine inside each cell.

Per-query selection has one routine: ``_query_topk`` takes the top-k
of a rounded-cosine matrix under (-cosine, id) with self-pairs dropped,
for ``knn``'s block pairs and ``cell_topk``'s cells alike.  Its
transient memory is |queries| x |candidates| x 8 B: bounded by the
block size in ``knn``, unbounded in a hot ``cell_topk`` cell.

Cosine formula pinned for oracle parity: dot / sqrt(na2 * nb2) with
float32 inputs widened to float64 BEFORE any arithmetic (matches
``list_inner_product(CAST(x AS DOUBLE[]), ...)`` in DuckDB).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_pipeline_spark.materialize import materialize
from etl_data_pipeline_spark.session import group_buckets


def dot_col(x: Column, y: Column) -> Column:
    """JVM-side dot product of two float arrays: the canonical HOF fold
    (zip_with multiply, sequential aggregate from 0.0).  Every exact
    cosine in the engine is built from THIS expression so the float
    evaluation order — and therefore the result bits — cannot drift
    between call sites."""
    return F.aggregate(
        F.zip_with(x, y, lambda u, v: u.cast("double") * v.cast("double")),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def cosine_col(a: Column, b: Column) -> Column:
    """JVM-side cosine of two float arrays via higher-order functions.

    Inlines both self-norms per evaluation — fine for one-shot pair
    expressions; per-pair rerank paths use ``exact_cosine_rerank_topk``
    instead, which hoists the self-norms to once per vector."""
    return dot_col(a, b) / F.sqrt(dot_col(a, a) * dot_col(b, b))


def exact_cosine_rerank_topk(
    cand: DataFrame, embeddings: DataFrame, k: int
) -> DataFrame:
    """Exact float-cosine top-``k`` re-rank of candidate pairs — the
    shared stage-2 of every two-stage retrieval path (i6c int8, PQ/SDC).

    ``cand`` carries (vec_id, neighbor); both sides join back to
    ``embeddings`` and the per-pair cosine is
    ``dot(vq, vn) / sqrt(nq2 * nn2)`` with the self-norms HOISTED into
    the per-vector projections (r15 optimization round, guide §2.3):
    ``cosine_col`` evaluated per pair runs THREE interpreted HOF folds
    — dot(vq,vn), dot(vq,vq), dot(vn,vn) — of which the two self-norms
    depend only on the vector, so inlining them repeated each vector's
    norm fold n_cand times.  Bit-identical by construction: the same
    ``dot_col`` fold over the same array yields the same double
    wherever it is evaluated, and the sqrt/divide/round tail is
    unchanged (interleaved A/B at sf0.1: identical 6,000 rows, warm-min
    2.32 -> 1.86 s through i6c_quantized_rerank)."""
    from pyspark.sql.window import Window

    n2 = dot_col(F.col("embedding"), F.col("embedding"))
    eq = embeddings.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("vq"),
        n2.alias("nq2"),
    )
    en = embeddings.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("vn"),
        n2.alias("nn2"),
    )
    rer = (
        cand.select("vec_id", "neighbor")
        .join(eq, F.col("vec_id") == F.col("q_id"))
        .join(en, F.col("neighbor") == F.col("n_id"))
        .withColumn(
            "cosine",
            F.round(
                dot_col(F.col("vq"), F.col("vn"))
                / F.sqrt(F.col("nq2") * F.col("nn2")),
                6,
            ),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("neighbor")
    )
    return (
        rer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("vec_id", "neighbor", "cosine")
    )


def cosine_pairs_hof(embeddings: DataFrame, min_cos: float) -> DataFrame:
    """All-pairs cosine >= min_cos via HOF expressions (exact, slow path)."""
    a = embeddings.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("va")
    )
    b = embeddings.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("vb")
    )
    pairs = a.join(b, F.col("a") < F.col("b"))
    return (
        pairs.withColumn("cosine", cosine_col(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= min_cos)
        .select("a", "b", "cosine")
    )


#: Target rows per block for the blocked all-pairs kernels, and per
#: kernel frame for ``cell_topk``.  The per-task cosine matrix is
#: (n/n_blocks)^2 doubles, so a FIXED n_blocks=8 is ~50 MB/task at
#: sf1's 20k vectors but 5 GB/task at sf10's 200k (measured: it
#: OOM-killed the local JVM there).  Holding the block population at
#: ~2500 rows keeps every task at ~50 MB at any n.
TARGET_BLOCK_ROWS = 2500


def blocks_for(n: int) -> int:
    """Block count for ``n`` vectors: max(8, n // TARGET_BLOCK_ROWS).
    The answer is blocking-invariant by construction — every query
    meets every other vector in exactly one block pair and the final
    window/sort takes the global top under the same total order — so
    only task memory changes (asserted by tests/test_operators.py's
    blocking-invariance cases)."""
    return max(8, n // TARGET_BLOCK_ROWS)


def _resolve_blocks(embeddings: DataFrame, n_blocks: int | None) -> int:
    """n_blocks=None -> blocks_for(n), at the cost of one count() job."""
    if n_blocks is not None:
        return n_blocks
    return blocks_for(embeddings.count())


def _block_tagged(embeddings: DataFrame, n_blocks: int) -> DataFrame:
    """Fan each vector out to its (block_a, block_b) group-sides.

    Block = ``vec_id % n_blocks``. A row in block i belongs to group
    (i, j) as the LEFT side (side 0) for every j >= i, and to group
    (j, i) as the RIGHT side (side 1) for every j <= i; one generated
    array + explode emits all n_blocks + 1 assignments in a single scan
    (no join, no union — the only shuffle is the downstream groupBy).
    Each applyInPandas group then holds exactly two blocks — per-task
    memory is 2n/n_blocks rows however big n gets.
    """
    blk = F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
    as_left = F.transform(
        F.sequence(blk, F.lit(n_blocks - 1)),
        lambda j: F.struct(
            blk.alias("ba"), j.cast("int").alias("bb"), F.lit(0).alias("side")
        ),
    )
    as_right = F.transform(
        F.sequence(F.lit(0), blk),
        lambda j: F.struct(
            j.cast("int").alias("ba"), blk.alias("bb"), F.lit(1).alias("side")
        ),
    )
    return embeddings.select(
        F.explode(F.concat(as_left, as_right)).alias("g"), "vec_id", "embedding"
    ).select("g.ba", "g.bb", "g.side", "vec_id", "embedding")


def _group_matrices(
    pdf: pd.DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray] | None:
    """Split one (ba, bb) group into L/R id vectors + float64 matrices."""
    L = pdf[pdf["side"] == 0]
    R = pdf[pdf["side"] == 1]
    if len(L) == 0 or len(R) == 0:
        return None
    l_ids = L["vec_id"].to_numpy().astype("int64")
    r_ids = R["vec_id"].to_numpy().astype("int64")
    A = np.stack(L["embedding"].to_numpy()).astype("float64")
    B = np.stack(R["embedding"].to_numpy()).astype("float64")
    return l_ids, r_ids, A, B


def _cosine_matrix(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Rounded (6dp) cosine of every L row against every R row."""
    na2 = (A * A).sum(axis=1)
    nb2 = (B * B).sum(axis=1)
    return np.round((A @ B.T) / np.sqrt(na2[:, None] * nb2[None, :]), 6)


def _query_topk(
    q_ids: np.ndarray, c_ids: np.ndarray, M: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one per-query cosine top-k: for each row of the |q| x |c|
    rounded-cosine matrix ``M``, the ``k`` best candidates under
    (-cosine, candidate id), self-pairs (equal ids) dropped and NaN
    never emitted.  The candidate COLUMNS are put in id order once, so
    a stable row argsort on -cosine breaks ties by id with no per-query
    loop.  Shared by ``knn`` (both sides of a block pair) and
    ``_cell_topk_kern``.  Transient memory: |q| x |c| x 8 B for the
    reordered matrix and again for the argsort.  Returns flat (query,
    candidate, cosine) arrays."""
    col_order = np.argsort(c_ids, kind="stable")
    cid = c_ids[col_order]
    Ms = M[:, col_order]  # a copy: the caller's M is left unmasked
    Ms[cid[None, :] == q_ids[:, None]] = -np.inf
    kk = min(k, Ms.shape[1])
    idx = np.argsort(-Ms, axis=1, kind="stable")[:, :kk]
    top = np.take_along_axis(Ms, idx, axis=1).ravel()
    valid = top > -np.inf
    return np.repeat(q_ids, kk)[valid], cid[idx].ravel()[valid], top[valid]


_PAIR_SCHEMA = "a long, b long, cosine double"
_EMPTY_PAIRS = pd.DataFrame({"a": pd.Series(dtype="int64"),
                             "b": pd.Series(dtype="int64"),
                             "cosine": pd.Series(dtype="float64")})


def _blocked_pairs(
    embeddings: DataFrame,
    n_blocks: int | None,
    k: int | None,
    min_cos: float | None,
) -> DataFrame:
    """Unordered pairs (a < b, cosine) via the blocked kernel.

    Each unordered pair of vectors lives in exactly one (ba, bb) group
    (its sorted block pair), so emitting min(id)/max(id) per L x R cell
    — with an id mask on the diagonal groups — enumerates every pair
    once. ``k`` keeps only each group's local top-k under the global
    (-cosine, a, b) order (a superset of any global top-k under the same
    order); ``min_cos`` thresholds inside the kernel so the candidate
    set never leaves the task.
    """
    n_blocks = _resolve_blocks(embeddings, n_blocks)

    def kern(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        mats = _group_matrices(pdf)
        if mats is None:
            return _EMPTY_PAIRS
        l_ids, r_ids, A, B = mats
        C = _cosine_matrix(A, B)
        if key[0] == key[1]:
            ii, jj = np.nonzero(l_ids[:, None] < r_ids[None, :])
        else:
            ii, jj = np.nonzero(np.ones((len(l_ids), len(r_ids)), dtype=bool))
        a = np.minimum(l_ids[ii], r_ids[jj])
        b = np.maximum(l_ids[ii], r_ids[jj])
        cos = C[ii, jj]
        if min_cos is not None:
            keep = cos >= min_cos
            a, b, cos = a[keep], b[keep], cos[keep]
        if k is not None and len(cos) > k:
            order = np.lexsort((b, a, -cos))[:k]
            a, b, cos = a[order], b[order], cos[order]
        return pd.DataFrame({"a": a, "b": b, "cosine": cos})

    return (
        _block_tagged(embeddings, n_blocks)
        .groupBy("ba", "bb")
        .applyInPandas(kern, schema=_PAIR_SCHEMA)
    )


def cosine_topk_pairs(
    spark: SparkSession, embeddings: DataFrame, k: int, n_blocks: int | None = None
) -> DataFrame:
    """I6: global top-k most-similar pairs (a < b), blocked numpy kernel.

    Per group: one matmul + local top-k; globally: sort the <= k *
    n_groups survivors. No driver-side collect anywhere in the plan.
    """
    per_group = _blocked_pairs(embeddings, n_blocks, k=k, min_cos=None)
    return per_group.orderBy(F.desc("cosine"), F.asc("a"), F.asc("b")).limit(k)


def knn(
    spark: SparkSession, embeddings: DataFrame, k: int, n_blocks: int | None = None
) -> DataFrame:
    """I7: k nearest neighbors per vector (neighbor != self).

    Every query meets every other block once (as side L or side R of
    some group), emits its local top-k there, and a final window over
    the <= k * n_blocks candidates per query takes the global top-k
    under the same (-cosine, neighbor) total order.
    """
    from pyspark.sql.window import Window

    n_blocks = _resolve_blocks(embeddings, n_blocks)

    def kern(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        mats = _group_matrices(pdf)
        if mats is None:
            return _EMPTY_PAIRS
        l_ids, r_ids, A, B = mats
        C = _cosine_matrix(A, B)
        parts = [_query_topk(l_ids, r_ids, C, k)]
        if key[0] != key[1]:  # off-diagonal: R rows are queries against L too
            parts.append(_query_topk(r_ids, l_ids, C.T, k))
        a, b, cos = (np.concatenate(p) for p in zip(*parts))
        return pd.DataFrame({"a": a, "b": b, "cosine": cos})

    cands = (
        _block_tagged(embeddings, n_blocks)
        .groupBy("ba", "bb")
        .applyInPandas(kern, schema=_PAIR_SCHEMA)
    )
    w = Window.partitionBy("a").orderBy(F.desc("cosine"), F.asc("b"))
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("a").alias("vec_id"), F.col("b").alias("neighbor"), "cosine")
    )


def recall_vs_exact(
    spark: SparkSession, embeddings: DataFrame, approx: DataFrame, floor: float
) -> DataFrame:
    """Recall@3 gate of an approximate top-3 retrieval ``approx``
    (vec_id, neighbor, ...) against the exact blocked ``knn``: one row
    (n_exact, n_hit, recall, recall_ok) with recall_ok = recall >=
    ``floor``.  Both legs are the registered operators themselves, so
    the row certifies retrieval quality end to end."""
    exact = knn(spark, embeddings, k=3).select("vec_id", "neighbor")
    hits = approx.select("vec_id", "neighbor").withColumn("hit", F.lit(1))
    recall = F.col("n_hit") / F.col("n_exact")
    return (
        exact.join(hits, ["vec_id", "neighbor"], "left")
        .agg(F.count(F.lit(1)).alias("n_exact"), F.count("hit").alias("n_hit"))
        .select(
            "n_exact",
            "n_hit",
            recall.alias("recall"),
            (recall >= floor).alias("recall_ok"),
        )
    )


def embedding_neardup(
    spark: SparkSession, embeddings: DataFrame, min_cos: float, n_blocks: int | None = None
) -> DataFrame:
    """Dedup family: embedding-cosine near-duplicate pairs (>= min_cos).

    The threshold is applied INSIDE the blocked kernel (mask on the
    cosine matrix), so only surviving pairs are ever materialized — no
    count() pre-pass, no top-k detour, no all-pairs output.
    """
    return _blocked_pairs(embeddings, n_blocks, k=None, min_cos=min_cos)


def explode_dims(embeddings: DataFrame) -> DataFrame:
    """(vec_id, label, pos, v): positional explode with float64 widening."""
    return embeddings.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "v_raw"),
    ).select("vec_id", "label", "pos", F.col("v_raw").cast("double").alias("v"))


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """I8: per-label centroid, one row per (label, pos) — pure groupBy."""
    return (
        explode_dims(embeddings)
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
    )


def centroid_classify(embeddings: DataFrame) -> DataFrame:
    """I8: nearest-centroid classification by cosine, ties -> smaller label.

    Join-on-pos + re-aggregate keeps everything JVM-side; the centroid
    side is tiny (labels x dims) and broadcasts.
    """
    dims = explode_dims(embeddings)
    cent = label_centroids(embeddings).select(
        F.col("label").alias("cand_label"), "pos", "c"
    )
    cnorm = cent.groupBy("cand_label").agg(F.sum(F.col("c") * F.col("c")).alias("nc2"))
    vnorm = dims.groupBy("vec_id").agg(F.sum(F.col("v") * F.col("v")).alias("nv2"))
    dots = (
        dims.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "cand_label")
        .agg(F.sum(F.col("v") * F.col("c")).alias("dot"))
    )
    scored = (
        dots.join(F.broadcast(cnorm), "cand_label")
        .join(vnorm, "vec_id")
        .withColumn("cos", F.col("dot") / F.sqrt(F.col("nv2") * F.col("nc2")))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cand_label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "label",
            F.col("cand_label").alias("pred_label"),
            F.round("cos", 6).alias("score"),
        )
    )


#: Target vectors per IVF cell / LSH bucket — the executor-task-sized
#: cell population the scaling rules hold constant (round-11 prep
#: calibration: sf1's 20000 vectors / 125 = 160 cells reads recall@3
#: 0.714 at a 20% scan vs 0.465 for the fixed 10-cell quantizer).
TARGET_CELL = 125


def adaptive_planes(n: int) -> int:
    """LSH hyperplane count for a ~TARGET_CELL bucket population:
    2^planes buckets ~ n / 125, i.e. planes = floor(log2(n // 125)),
    floored at the legacy 4 (so every sf <= 0.1 keeps its measured
    bucket geometry and hashes).  Integer-only — ``bit_length`` avoids
    the float-log2 boundary ambiguity at exact powers of two; the SQL
    mirror is ``max j in [2, 30] with (1 << j) <= n // 125``."""
    m = max(n // TARGET_CELL, 1)
    return max(4, m.bit_length() - 1)


def _raise_bad_embedding(pdf: pd.DataFrame) -> None:
    """Raise ValueError for the first row of ``pdf`` whose embedding is
    NULL or not 64 values long (lsh_buckets' input contract)."""
    for vid, emb in zip(pdf["vec_id"], pdf["embedding"]):
        if emb is None or len(emb) != 64:
            got = "NULL" if emb is None else f"{len(emb)} values"
            raise ValueError(
                f"lsh_buckets: embedding of vec_id {vid} is {got}; "
                "expected 64 non-NULL values"
            )


def _plane_weights(n_planes: int) -> np.ndarray:
    """(64, n_planes) int64 LSH hyperplane weights, w[pos, j] =
    md5_32(f"{j}_{pos}") % 2001 - 1000: the driver-side spelling of the
    ``md5_hash32`` SQL expression the oracles use, computed with no
    Spark job (tests/test_operators.py pins all 30 x 64 weights to the
    SQL expression)."""
    w = np.empty((64, n_planes), dtype=np.int64)
    for j in range(n_planes):
        for pos in range(64):
            h = hashlib.md5(f"{j}_{pos}".encode()).hexdigest()
            w[pos, j] = int(h[:8], 16) % 2001 - 1000
    return w


def lsh_buckets(embeddings: DataFrame, n_planes: int = 8) -> DataFrame:
    """ANN scale path: random-hyperplane LSH bucket per vector.

    Hyperplane weights are the cross-engine md5 hash (``_plane_weights``)
    kept as INTEGERS and applied to int8-QUANTIZED dims, so each
    projection is an exact integer sum (|term| <= 127*1000, 64 terms,
    far under 2^53): the sign test is accumulation-order independent
    across Spark partitionings and vs the DuckDB oracle.  The
    projections run as one int64 matmul per Arrow batch.  Quantization
    perturbs direction < 1%, so bucket geometry (and measured recall)
    is statistically unchanged.  Returns (vec_id, bucket).

    Input contract: every embedding is a non-NULL array of 64 values;
    the kernel raises ``ValueError`` naming the first offending vec_id
    otherwise.
    """
    wmat = _plane_weights(n_planes)
    pow2 = 2 ** np.arange(n_planes, dtype=np.int64)

    def kern(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            try:
                A = np.stack(pdf["embedding"].to_numpy()).astype(np.int64)
            except (TypeError, ValueError):
                A = None
            if A is None or A.shape[1:] != (64,):
                _raise_bad_embedding(pdf)
            proj = A @ wmat
            bucket = ((proj > 0) * pow2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().astype("int64"),
                    "bucket": bucket,
                }
            )

    return quantize_embeddings(embeddings).mapInPandas(
        kern, schema="vec_id long, bucket long"
    )


def ann_lsh_topk(embeddings: DataFrame, k: int) -> DataFrame:
    """ANN: top-k per query within its own LSH bucket (``cell_topk``
    with fanout 1: every vector is the query and a member of its
    bucket).  The plane count is adaptive_planes(n); the same count
    sizes the kernel's bucket groups."""
    n = embeddings.count()  # bounded driver pin: one scalar
    b = lsh_buckets(embeddings, adaptive_planes(n))
    pairs = b.select(
        F.col("vec_id").alias("vid"),
        F.col("bucket").alias("cell"),
        F.explode(F.array(F.lit(0), F.lit(1))).alias("side"),
    )
    return cell_topk(pairs, embeddings, k, n, fanout=1)


def _cell_topk_kern(k: int):
    """Per-cell numpy kernel behind ``cell_topk``: rows tagged side=0
    are probing queries, side=1 are cell members; emits each query's
    local top-k by rounded cosine through ``_query_topk`` ((-cosine,
    id) order, self-pairs dropped).  A frame holds every row of one
    cell BUCKET; the kernel loops the per-cell matmul over its cells,
    so no query/member pair ever crosses a cell.  Transient memory:
    |queries| x |members| x 8 B per cell — unbounded in a hot cell
    (ROADMAP direction 4 chunks the queries there)."""

    def kern(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, g in pdf.groupby("cell", sort=False):
            Q = g[g["side"] == 0]
            M = g[g["side"] == 1]
            if len(Q) == 0 or len(M) == 0:
                continue
            A = np.stack(Q["embedding"].to_numpy()).astype("float64")
            B = np.stack(M["embedding"].to_numpy()).astype("float64")
            out.append(
                _query_topk(
                    Q["vid"].to_numpy().astype("int64"),
                    M["vid"].to_numpy().astype("int64"),
                    _cosine_matrix(A, B),
                    k,
                )
            )
        if not out:
            return _EMPTY_PAIRS.set_axis(["q", "n", "cosine"], axis=1)
        q, nb, cos = (np.concatenate(c) for c in zip(*out))
        return pd.DataFrame({"q": q, "n": nb, "cosine": cos})

    return kern


def cell_topk(
    pairs: DataFrame, embeddings: DataFrame, k: int, n: int, fanout: int
) -> DataFrame:
    """The ANN retrieval core shared by LSH, multiprobe LSH, IVF and
    two-level IVF: exact top-k per query inside the cells it probes.

    ``pairs`` holds narrow (vid, cell, side) rows — side 0 = vid probes
    cell as a query, side 1 = vid is a member of cell; ``n`` vectors
    each probe ``fanout`` cells, so the stream has ~n*(1+fanout) rows.
    One join fetches the embedding payload; the kernel
    (``_cell_topk_kern``) groups on the cell BUCKET pmod(xxhash64(cell),
    B), B = group_buckets(n*(1+fanout), TARGET_BLOCK_ROWS), so a
    kernel frame holds ~TARGET_BLOCK_ROWS rows in expectation however
    many cells there are.  The result is invariant to B
    (tests/test_operators.py::test_cell_topk_kern_bucket_invariance):
    no pair crosses a cell and the final (-cosine, neighbor) window
    takes the global top-k.  A (q, n) pair arises from at most one
    probe when each vector is a member of one cell, so no dedup runs.
    Returns (vec_id, neighbor, cosine, rn).

    Per cell the kernel selects with ``_query_topk``; its transient
    memory is |queries| x |members| x 8 B per cell, which no bucket
    count bounds in a hot cell (ROADMAP direction 4).

    One matmul per cell instead of a per-pair HOF cosine: measured
    5.7 s -> ~1 s for ann_lsh and 24.8 s -> ~1 s for multiprobe's 5x
    fan-out at sf0.1, with identical rounded cosines and tie order."""
    from pyspark.sql.window import Window

    emb = embeddings.select("vec_id", "embedding")
    tagged = pairs.join(emb, pairs.vid == emb.vec_id).select(
        "cell", "vid", "embedding", "side"
    )
    nb = group_buckets(embeddings.sparkSession, n * (1 + fanout), TARGET_BLOCK_ROWS)
    local = (
        tagged.withColumn("bkt", F.pmod(F.xxhash64("cell"), F.lit(nb)))
        .groupBy("bkt")
        .applyInPandas(_cell_topk_kern(k), schema="q long, n long, cosine double")
    )
    w = Window.partitionBy("q").orderBy(F.desc("cosine"), F.asc("n"))
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("q").alias("vec_id"),
            F.col("n").alias("neighbor"),
            "cosine",
            F.col("rn").cast("long").alias("rn"),
        )
    )


def kmeans_iterations(embeddings: DataFrame, k: int = 8, iters: int = 3) -> DataFrame:
    """Iterative k-means (Lloyd) as a driver-side loop over DataFrame ops
    — the pattern for iterative algorithms on Spark: per-iteration state
    (centroids) is a small DataFrame, the big table is touched once per
    iteration, and intermediate assignments are persisted to truncate
    lineage. Deterministic init: the k lowest vec_ids seed the centroids.

    Returns one row per iteration: (iteration, inertia, n_nonempty,
    n_assigned), built from driver-side rows, so every frame the loop
    persisted is released before it returns.
    At 100 TB: same loop, with centroids broadcast (they stay k x dims)
    and dims cached in memory/disk; convergence adds a driver-side delta
    check on the tiny centroid frame.
    """
    from pyspark.sql.window import Window

    dims = materialize(explode_dims(embeddings).select("vec_id", "pos", "v"))
    seeds = (
        embeddings.select("vec_id").orderBy("vec_id").limit(k).collect()
    )
    seed_ids = [r["vec_id"] for r in seeds]
    cent = (
        dims.filter(F.col("vec_id").isin(seed_ids))
        .select(F.col("vec_id").alias("cid"), "pos", F.col("v").alias("c"))
    )
    held, results = [dims], []
    for it in range(1, iters + 1):
        d2 = (
            dims.join(F.broadcast(cent), "pos")
            .groupBy("vec_id", "cid")
            .agg(F.sum((F.col("v") - F.col("c")) ** 2).alias("dist2"))
        )
        w = Window.partitionBy("vec_id").orderBy("dist2", "cid")
        assign = materialize(
            d2.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid", "dist2")
        )
        held.append(assign)
        stats = assign.agg(
            F.round(F.sum("dist2"), 6).alias("inertia"),
            F.count_distinct("cid").alias("n_nonempty"),
            F.count(F.lit(1)).alias("n_assigned"),
        ).collect()[0]
        results.append(
            (
                it,
                float(stats["inertia"]),
                int(stats["n_nonempty"]),
                int(stats["n_assigned"]),
            )
        )
        cent = (
            dims.join(assign.select("vec_id", "cid"), "vec_id")
            .groupBy("cid", "pos")
            .agg(F.avg("v").alias("c"))
        )
    for df in held:
        df.unpersist()
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        results,
        "iteration long, inertia double, n_nonempty long, n_assigned long",
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization, JVM-side: q[i] = floor(x[i] * 127 /
    max_abs + 0.5), stored as integer-valued doubles so the blocked
    kernel consumes them unchanged.

    The expression order (widen to double, * 127.0, / max_abs, + 0.5,
    floor) is pinned — the oracle repeats it verbatim, and because every
    later dot product / squared norm over these values is integer-valued
    (< 2^53), quantized cosine is EXACTLY reproducible across engines
    regardless of summation order. That exactness — not just the 4x
    memory-bandwidth cut — is why the compressed domain is the candidate
    path at 100 TB.

    The max_abs scale is HOISTED into its own projection (referenced
    twice by the CASE, so CollapseProject keeps it materialized per
    row): inlining array_max into the transform lambda re-evaluates the
    64-element scan per element — 128x redundant work per row, measured
    0.94 s -> 0.23 s for the bare pass at sf0.1 and 1.56 s -> 1.00 s
    through the blocked kernel's fan-out.  Values unchanged.
    """
    m = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    withm = embeddings.select("vec_id", "embedding", m.alias("m"))
    scale = F.when(F.col("m") == 0, F.lit(1.0)).otherwise(F.col("m"))
    qe = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 127.0 / scale + 0.5).cast(
            "double"
        ),
    )
    return withm.select("vec_id", qe.alias("embedding"))


def quantized_rerank(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = 3,
    n_cand: int = 20,
    n_blocks: int | None = None,
) -> DataFrame:
    """I6 compressed-domain ANN: int8-quantized candidate generation,
    exact float re-rank — the two-stage retrieval shape every production
    vector store uses (quantized scan -> exact top-k over candidates).

    Stage 1 runs the blocked ``knn`` kernel on the quantized vectors
    (top ``n_cand`` per query by quantized cosine); stage 2 joins the
    survivors back to the float embeddings and takes exact-cosine top-k.
    At scale only stage 1 touches every pair (at 1/4 the bytes), and the
    re-rank is a per-query k*n_cand-row join, never all-pairs.

    Block count NEVER changes the result (each query's global top-k is
    taken over the union of per-block-pair top-k under one total
    order), so it is purely a scheduling knob: an A/B sweep on this
    host (2026-08-14, sf0.1, local[32], loadavg ~5) measured 8-24
    blocks within session noise (2.0-2.6 s swing across sessions for
    EITHER setting); since round 13 the default defers to knn's
    adaptive ~2500-rows-per-block rule (_resolve_blocks) so this path
    inherits the sf10 OOM fix like every other blocked-kernel consumer
    (ADVICE r12) — every sf <= 1 still resolves to the measured 8.
    """
    cand = knn(spark, quantize_embeddings(embeddings), k=n_cand, n_blocks=n_blocks)
    return exact_cosine_rerank_topk(cand, embeddings, k)


def mmr_candidates(
    embeddings: DataFrame, query_id: int, n_cand: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """MMR stage 1 (the distributed part, exposed for plan audits):
    quantized dims, per-vector norms, and the top-``n_cand`` relevance
    cut vs the query vector.

    The relevance pass is shuffle-free: the query's quantized vector is
    ONE bounded pin (64 ints — the canonical ANN query-vector pattern)
    folded into row-level higher-order expressions (zip_with dot,
    per-row norm), so every score is a narrow map over the scan and the
    only wide op is the ``orderBy().limit()`` cut —
    TakeOrderedAndProject, distributed top-k, never a no-partition
    window.  All quantized values are exact integers (< 2^53), so the
    HOF fold is bit-identical to the former explode/groupBy plan in any
    evaluation order."""
    qe = quantize_embeddings(embeddings)
    dims = qe.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
    norms = dims.groupBy("vec_id").agg(
        F.sum(F.col("v") * F.col("v")).alias("n2")
    )
    qrows = qe.filter(F.col("vec_id") == query_id).select("embedding").collect()
    if not qrows:
        raise ValueError(f"mmr query_id {query_id} not found in embeddings")
    qv = qrows[0]["embedding"]
    qn2 = float(sum(x * x for x in qv))
    qarr = F.array(*[F.lit(float(x)) for x in qv])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), qarr, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n2 = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rel = (
        qe.filter(F.col("vec_id") != query_id)
        .select("vec_id", (dot / F.sqrt(n2 * F.lit(qn2))).alias("r"))
    )
    cand = (
        rel.orderBy(F.desc("r"), F.asc("vec_id"))
        .limit(n_cand)
        .select("vec_id", "r")
    )
    return dims, norms, cand


def mmr_diversified(
    spark: SparkSession,
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 3,
    n_cand: int = 16,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98)
    diversified top-k: greedily pick the candidate maximizing
    ``lam * sim(query, c) - (1-lam) * max_{s in selected} sim(c, s)`` —
    the retrieval shape that stops a near-dup cluster from filling the
    whole result list (diversity-aware sampling for curation).

    Cross-engine exactness: all similarities are QUANTIZED-integer
    cosines (integer dot / sqrt of integer norm product — every
    intermediate exact, the i6c discipline), lam=0.5 is a binary
    power so each MMR score is two exact IEEE ops; ties break by lower
    vec_id. The greedy itself runs driver-side over the collected
    (n_cand relevances + n_cand^2 pairwise sims) — bounded constants,
    the kmeans-centroid precedent; candidate generation and the
    pairwise matrix are distributed joins. At 100 TB stage 1 swaps in
    the blocked ``knn`` kernel (same contract); the greedy never grows
    past n_cand.
    """
    from pyspark.sql.window import Window

    # The driver-side greedy holds n_cand relevances + n_cand^2 sims;
    # the "bounded constants" contract is enforced, not assumed
    # (VERDICT r5 item 5): 256 candidates = 64Ki floats, trivially
    # driver-safe; anything larger must go through the blocked knn
    # kernel for stage 1 instead.
    if n_cand > 256:
        raise ValueError(
            f"mmr_diversified: n_cand={n_cand} exceeds the driver-side "
            "greedy bound (256); use the blocked knn kernel for "
            "candidate generation at this scale"
        )
    dims, norms, cand = mmr_candidates(embeddings, query_id, n_cand)
    # Collect the candidate cut ONCE (n_cand rows, the same pin the
    # greedy needs anyway) and rebuild the pairwise stage from an
    # isin() filter on the collected ids — a pushdown-able predicate on
    # the base scan — instead of referencing `cand` in three separate
    # actions, which re-executed the whole stage-1 top-k pipeline per
    # action (measured 3x the query's cost at sf0.1).
    cand_rows = cand.collect()
    rel_map = {row["vec_id"]: row["r"] for row in cand_rows}
    cand_ids = sorted(rel_map)
    # Pairwise sims over the n_cand survivors as a bounded crossJoin of
    # two isin-pruned (pushdown-able) n_cand-row frames with row-level
    # HOF dot/norm folds — no explode, no pos-join, no groupBy; exact
    # integers throughout, so bit-identical to the former dims plan.
    ce = quantize_embeddings(embeddings).filter(
        F.col("vec_id").isin(cand_ids)
    )
    ca = ce.select(F.col("vec_id").alias("c1"), F.col("embedding").alias("e1"))
    cb = ce.select(F.col("vec_id").alias("c2"), F.col("embedding").alias("e2"))
    hof_dot = F.aggregate(
        F.zip_with(F.col("e1"), F.col("e2"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def hof_n2(col):
        return F.aggregate(
            F.transform(col, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sims = (
        ca.crossJoin(F.broadcast(cb))
        .filter(F.col("c1") != F.col("c2"))
        .select(
            "c1",
            "c2",
            (hof_dot / F.sqrt(hof_n2(F.col("e1")) * hof_n2(F.col("e2")))).alias(
                "s"
            ),
        )
    )
    sim_map = {(row["c1"], row["c2"]): row["s"] for row in sims.collect()}
    selected: list[int] = []
    rows = []
    remaining = list(cand_ids)
    for rank in range(1, k + 1):
        best, best_score = None, None
        for c in remaining:
            ms = max((sim_map[(c, s)] for s in selected), default=0.0)
            score = lam * rel_map[c] - (1 - lam) * ms
            if best is None or score > best_score or (
                score == best_score and c < best
            ):
                best, best_score = c, score
        rows.append((rank, best, rel_map[best], best_score))
        selected.append(best)
        remaining.remove(best)
    out = spark.createDataFrame(
        rows, "rank long, vec_id long, relevance double, mmr_score double"
    )
    return out.select(
        "rank",
        "vec_id",
        F.round("relevance", 6).alias("relevance"),
        F.round("mmr_score", 6).alias("mmr_score"),
    )


#: PQ geometry shared by ``ann_adaptive.pq_rerank_adaptive`` and its
#: oracle: 64-d vectors split into PQ_SUBSPACES subvectors of PQ_SUBDIM
#: dims.
PQ_SUBSPACES = 16
PQ_SUBDIM = 4


def ann_lsh_multiprobe_topk(embeddings: DataFrame, k: int) -> DataFrame:
    """Multiprobe LSH ANN (Lv et al., VLDB'07): each query probes its
    own bucket PLUS every Hamming-1 neighbor bucket (one hyperplane bit
    flipped) — the standard fix for single-probe LSH's recall cliff:
    near neighbors that landed just across one hyperplane become
    reachable without adding tables.  Probes are distinct buckets and
    each vector is a member of one bucket, so ``cell_topk`` needs no
    dedup.

    The probe RADIUS follows the same ~20%-scan rule as IVF's nprobe:
    when the Hamming-1 probe set covers under 1/5 of the 2^n_planes
    buckets (integer test: (n_planes + 1) * 5 < 2^n_planes), the
    Hamming-2 shell joins the probe set.  At the 4 planes every
    sf <= 0.1 resolves to, H1 already scans 5 of 16 buckets; at sf1's 7
    planes H1 alone scans 8/128 = 6.25% and measured recall@3 0.235,
    H<=2 scans 29/128 = 22.7%.  Beyond ~9 planes even H<=2 falls under
    the target fraction and recall decays gracefully — the hand-over
    point to IVF (ivf_topk_adaptive).

    The plane count is adaptive_planes(n), from the same row count that
    sizes the kernel's bucket groups."""
    # b is a materialize point (two longs per row): both the probe
    # fan-out and the member side consume it, and without the persist
    # the LSH signature pass re-executed once per consumer.
    n = embeddings.count()  # bounded driver pin: one scalar
    n_planes = adaptive_planes(n)
    b = materialize(lsh_buckets(embeddings, n_planes))
    flips = [1 << j for j in range(n_planes)]
    if (n_planes + 1) * 5 < (1 << n_planes):
        flips += [
            (1 << j1) | (1 << j2)
            for j1 in range(n_planes)
            for j2 in range(j1 + 1, n_planes)
        ]
    probes = b.select(
        F.col("vec_id").alias("vid"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.expr(f"bucket ^ {m}") for m in flips],
            )
        ).alias("cell"),
        F.lit(0).alias("side"),
    )
    members = b.select(
        F.col("vec_id").alias("vid"),
        F.col("bucket").alias("cell"),
        F.lit(1).alias("side"),
    )
    pairs = probes.unionByName(members)
    return cell_topk(pairs, embeddings, k, n, fanout=len(flips) + 1)
