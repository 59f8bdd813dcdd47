"""Two-level (hierarchical) IVF ANN — the 100 TB assignment path
(added under the SURVEY §2.2 growth rules as a new capability).

WHY A SECOND LEVEL.  The adaptive flat IVF (operators/ann_adaptive.py)
holds per-cell population constant (nlist = n/125), which fixes recall
drift but leaves two costs that still grow linearly with nlist:

- the ASSIGNMENT pass is O(n * nlist) = n^2/125 kernel distances (fine
  through sf10's 200k x 1600 = 320M, a straggler at another decade);
- each query RANKS all nlist cells before probing, and the 20%-scan
  contract (nprobe = nlist/5) makes the per-query exact scan itself
  O(n/5).

The classic fix (IMI / two-level coarse quantizers) splits the
quantizer: nsup ~ sqrt(nlist) SUPERCLUSTERS, each independently split
into ~cnt/125 CHILDREN, so

- build assignment = O(n * nsup) level-1 + O(n * nlist/nsup) level-2
  = O(n * sqrt(nlist)) — the square root of the flat pass;
- a query ranks nsup superclusters, then only the CHILDREN of its top
  psup = O(log nsup) superclusters (psup * nlist/nsup cells), and
  exact-scans the best ncell = nlist/nsup of those: ~125 * sqrt(nlist)
  vectors — per-query cost O~(sqrt(n)), vs the flat contract's O(n/5).

The price is recall: candidate cells are drawn only from the top-psup
superclusters, so a true neighbor whose cell hangs under an unprobed
supercluster is unreachable.  Measured numbers are in the
``ivf2_recall`` docstring; the flat path remains the higher-recall
option and this operator is the documented cost-model alternative —
the pair brackets the recall/cost trade the way i6c (exact) vs ann_lsh
(approximate) already do for the scan itself.

DETERMINISM (the exact-oracle contract).  Both levels run the same
seeded integer-grid Lloyd k-means as the flat path (1e-6 grid, exact
int64 squared distances, (d, cell)-ascending ties, pmod floor-division
centroid updates — operators/ann_adaptive.py's doctrine), so the
DuckDB oracle unrolls the full chain bit-for-bit:

- level 1: seeds = the nsup smallest (knuth-hash, vec_id) ids
  (ann_adaptive.hash_seeds — round 13: the deterministic hash sample
  that replaced the global-rank window), 2 iterations (assign ->
  update -> final assign + probe ranking);
- level 2: per supercluster s with cnt_s members, nchild_s =
  max(1, cnt_s // 125) children seeded from every (cnt_s //
  nchild_s)-th member in vec_id rank order WITHIN s, 2 iterations,
  assignment restricted to the member's own supercluster's children
  (the flat path's Lloyd loop, ``ann_adaptive.lloyd_cells``, grouped
  by supercluster);
- probing (round-13 calibrated budget — see hier_psup): psup =
  min(nsup, max(2, 2 * floor(log2 nsup))) superclusters (the SQL
  mirror is max j with (1 << j) <= nsup), candidate cells = the
  probed superclusters' children ranked by exact integer distance,
  top ncell = max(2, 3 * (nlist // nsup)) scanned with the shared
  per-cell exact-cosine kernel.

Scale-parameter walk (nlist = max(4, n // 125); round-13 calibrated
probe budget psup = 2*log2(nsup), ncell = 3*nlist/nsup):
  sf0.01 (n=500):  nlist 4,   nsup 2,  psup 2 (all), ncell 6  -> full scan
  sf0.1  (n=2k):   nlist 16,  nsup 4,  psup 4 (all), ncell 12 -> ~75%
  sf1    (n=20k):  nlist 160, nsup 12, psup 6,       ncell 39 -> ~24%
  sf10   (n=200k): nlist 1.6k, nsup 40, psup 10,     ncell 120 -> ~7.5%
  1e9:             nlist 8M,  nsup 2.8k, psup 22,    ncell 8.5k -> ~0.1%
                   (cost model only: above the PIN_MAX_CELLS bound)
The scan FRACTION falls with n (the flat path pins it at 20%); what
stays constant is the ~125-vector cell population and the
O~(sqrt(n)) per-query work (the calibration multiplied the budget by
a CONSTANT — the n-dependence is unchanged).

SHUFFLE/PARTITION story at scale: the driver pins the child-centroid
table (~nlist x 64 longs) into the assignment and probe kernels'
closures, plus the two scalar counts.  The build accepts nlist <=
PIN_MAX_CELLS (100,000 cells, n <= 12.5M vectors) and raises
ValueError above it before any k-means job; at the bound the driver
and each Python worker hold nlist x 64 x 8 B = 51 MB of children
(PySpark ships any closure over 1 MB as a torrent broadcast, not
inside every task).  Assignment and probing stay mapInPandas over the
vector partitions (no shuffle), and both select cells with the one
integer kernel ``ann_adaptive._topk_cells`` (rows x _CELL_BLOCK x 8 B
of transient distances per batch); the level-2 update is one
groupBy(grp, cell, pos) where grp is the supercluster; the final
exact scan (similarity.cell_topk) shuffles on cell buckets —
~125-member cells by construction, so no skew.
"""

from __future__ import annotations

from math import isqrt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.materialize import materialize
from etl_data_pipeline_spark.operators.ann_adaptive import (
    TARGET_CELL,
    _topk_cells,
    adaptive_nlist,
    grid_vectors,
    kmeans_cell_ranks,
    lloyd_cells,
    require_pinnable,
)
from etl_data_pipeline_spark.operators.similarity import (
    cell_topk,
    recall_vs_exact,
)
from etl_data_pipeline_spark.plans.registry import query


def hier_nsup(nlist: int) -> int:
    """Supercluster count = isqrt(nlist), floored at 2 — the balance
    point of the O(n*(nsup + nlist/nsup)) two-level assignment."""
    return max(2, isqrt(nlist))


def hier_psup(nsup: int) -> int:
    """Probed superclusters = min(nsup, max(2, 2 * floor(log2 nsup)))
    — log-scaled like adaptive_planes, integer bit_length so the SQL
    mirror (max j with (1 << j) <= nsup) is boundary-exact.

    The 2x multiplier is the round-13 probe-budget CALIBRATION (the
    round-11 nlist methodology applied to the two-level knobs —
    VERDICT r12 item 2): sweeping psup/ncell multipliers (pm, cm) in
    {1,2,3}^2 at sf1 measured recall@3 0.379 (1,1 — the r12 shape),
    0.505 (1,2), 0.582 (2,2), 0.688 (2,3), 0.716 (3,3); the (2,3)
    knee buys +0.31 recall for a constant-factor cost increase (the
    per-query budget stays O~(sqrt(n))), while the next step (3,3)
    adds only +0.028.  Full table in BASELINE.md."""
    return min(nsup, max(2, 2 * max(1, nsup.bit_length() - 1)))


def hier_ncell(nlist: int, nsup: int) -> int:
    """Cells exact-scanned per query = max(2, 3 * (nlist // nsup)) —
    three superclusters' worth of children, ~375 * sqrt(nlist)
    vectors (the cm=3 leg of the round-13 calibration knee; see
    hier_psup)."""
    return max(2, 3 * (nlist // nsup))


def _probe_kern(pins: dict, ncell: int):
    """Probe-cell selection kernel: a query's candidate cells are the
    children of its probed superclusters (its ``sups`` array), ranked
    by ``ann_adaptive._topk_cells`` over the merged cell-ascending
    table, top ``ncell`` kept under the (d, cell) order.  Queries
    sharing a probe set vectorize together (level-1 neighbors share
    top-psup sets, so batches collapse to a few distinct keys); the
    transient distance matrix is rows x _CELL_BLOCK x 8 B per probe
    set.  Superclusters absent from the child table — emptied by the
    update — are skipped (the oracle's inner join drops them
    identically)."""
    import numpy as np
    import pandas as pd

    def kern(batches):
        for pdf in batches:
            for ks, sub in pdf.groupby(pdf["sups"].map(tuple), sort=False):
                have = [s for s in ks if s in pins]
                if not have:
                    continue
                cells, C, c2 = (
                    np.concatenate([pins[s][i] for s in have]) for i in range(3)
                )
                order = np.argsort(cells, kind="stable")
                G = np.stack(sub["g"].to_numpy()).astype("float64")
                kk = min(ncell, len(cells))
                _, top = _topk_cells(
                    G, (G * G).sum(axis=1)[:, None], C[order], c2[order], cells[order], kk
                )
                yield pd.DataFrame(
                    {
                        "q": np.repeat(sub["vec_id"].to_numpy(), kk),
                        "cell": top.reshape(-1),
                    }
                )

    return kern


def ivf2_topk(embeddings: DataFrame, k: int = 3) -> DataFrame:
    """Two-level IVF top-k.  Level 1 is the flat path's seeded integer
    k-means (kmeans_cell_ranks) with nlist=nsup and iters=2.  Level 2
    is one call of the same grouped Lloyd loop
    (ann_adaptive.lloyd_cells, iters=2, top=1) with grp = the vector's
    supercluster, per-sup seeds, and so own-sup-restricted assignment;
    it returns the members and the pinned children that ``_probe_kern``
    ranks.  Every distance pass is ann_adaptive._topk_cells (rows x
    _CELL_BLOCK x 8 B of transient distances per batch).  The final
    exact scan is the shared retrieval core (similarity.cell_topk,
    fanout ncell).

    Bound: the ~nlist-row child-centroid table is pinned into the
    assignment and probe kernels, so the build accepts nlist <=
    PIN_MAX_CELLS (100,000 cells, n <= 12.5M vectors) and raises
    ``ValueError`` naming n and nlist above it, right after the row
    count and before any k-means job.  At the bound the driver and each
    Python worker hold nlist x 64 x 8 B = 51 MB of children; level 1's
    table is nsup ~ sqrt(nlist) rows."""
    n = embeddings.count()  # bounded driver pin: one scalar
    nlist = adaptive_nlist(n)
    require_pinnable(nlist, n)
    nsup = hier_nsup(nlist)
    psup = hier_psup(nsup)
    ncell = hier_ncell(nlist, nsup)

    l1 = kmeans_cell_ranks(embeddings, n, nsup, iters=2, top=psup)
    # grp = the vector's supercluster (crn 1 of level 1)
    sup = l1.filter(F.col("crn") == 1).select(
        "vec_id", F.col("cell").alias("grp")
    )
    gs = materialize(grid_vectors(embeddings).join(sup, "vec_id"))

    # per-sup child seeds: every stride2-th member in vec_id rank order;
    # rank and size share one window partitioning, so one shuffle
    w = Window.partitionBy("grp")
    seeds = (
        gs.withColumn("rs", F.row_number().over(w.orderBy("vec_id")) - 1)
        .withColumn("cnt", F.count(F.lit(1)).over(w))
        .withColumn(
            "nchild",
            F.greatest(
                F.lit(1).cast("long"), F.expr(f"cnt div {TARGET_CELL}")
            ),
        )
        .withColumn("stride2", F.expr("cnt div nchild"))
        .filter(
            (F.col("rs") % F.col("stride2") == 0)
            & (F.col("rs") < F.col("stride2") * F.col("nchild"))
        )
        .select(
            "grp", F.col("vec_id").alias("cell"), F.col("g").alias("carr")
        )
    )
    ranked, children = lloyd_cells(gs, seeds, iters=2, top=1)

    # query probing input: rank the probed sups' children, scan top-ncell
    probes = (
        l1.filter(F.col("crn") <= psup)
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list("cell")).alias("sups"))
    )
    pc = (
        gs.select("vec_id", "g")
        .join(probes, "vec_id")
        .mapInPandas(_probe_kern(children, ncell), schema="q long, cell long")
    )
    pairs = pc.select(
        F.col("q").alias("vid"), "cell", F.lit(0).alias("side")
    ).unionByName(
        ranked.select(F.col("vec_id").alias("vid"), "cell", F.lit(1).alias("side"))
    )
    return cell_topk(pairs, embeddings, k, n, fanout=ncell)


#: The full deterministic two-level chain as DuckDB CTEs, shared by
#: both oracles (params -> grid -> level-1 x2 iterations -> per-sup
#: seeds -> level-2 x2 iterations -> members b2 + probed cells pc).
_HIER_CHAIN = """
    p AS (
      SELECT COUNT(*) AS n, GREATEST(4, COUNT(*) // 125) AS nlist
      FROM embeddings
    ), pp AS (
      SELECT n, nlist,
             CASE WHEN nlist >= 100001 * CAST(100001 AS BIGINT)
                  THEN CAST(error('ivf2 oracle: nlist exceeds the isqrt '
                                  'search bound (100001^2)') AS BIGINT)
                  ELSE GREATEST(2, (SELECT MAX(t.j) FROM
                      (SELECT range AS j FROM RANGE(1, 100001)) t
                      WHERE t.j * t.j <= p.nlist)) END AS nsup
      FROM p
    ), p3 AS (
      SELECT n, nlist, nsup,
             LEAST(nsup, GREATEST(2, 2 * (SELECT MAX(t.j) FROM
                 (SELECT range AS j FROM RANGE(1, 31)) t
                 WHERE (1 << t.j) <= pp.nsup))) AS psup,
             GREATEST(2, 3 * (nlist // nsup)) AS ncell,
             CAST(LEAST(4294967296, (CAST(4294967296 AS HUGEINT)
                  * (2 * nsup + 64)) // n + 1) AS BIGINT) AS thresh1
      FROM pp
    ), grid AS (
      SELECT vec_id, i.range AS pos,
             CAST(FLOOR(CAST(embedding[i.range + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS gv
      FROM embeddings, RANGE(64) i
    ), hs AS (
      SELECT vec_id,
             ((vec_id % 4294967296 + 4294967296) % 4294967296
              * 1327217885) % 4294967296 AS h
      FROM embeddings
    ), cnd AS (
      SELECT hs.vec_id,
             ROW_NUMBER() OVER (ORDER BY hs.h, hs.vec_id) AS srn
      FROM hs, p3 WHERE hs.h < p3.thresh1
    ), c0 AS (
      SELECT cnd.vec_id AS cell, g.pos, g.gv AS c
      FROM cnd, p3, grid g
      WHERE g.vec_id = cnd.vec_id AND cnd.srn <= p3.nsup
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
    ), r2 AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS crn
      FROM d2
    ), supa AS (
      SELECT vec_id, cell AS sup FROM r2 WHERE crn = 1
    ), sc AS (
      SELECT sup, COUNT(*) AS cnt,
             GREATEST(1, COUNT(*) // 125) AS nchild,
             COUNT(*) // GREATEST(1, COUNT(*) // 125) AS stride2
      FROM supa GROUP BY sup
    ), mr AS (
      SELECT vec_id, sup,
             ROW_NUMBER() OVER (PARTITION BY sup ORDER BY vec_id) - 1 AS rs
      FROM supa
    ), s0 AS (
      SELECT mr.sup, mr.vec_id AS cell, g.pos, g.gv AS c
      FROM mr JOIN sc USING (sup) JOIN grid g ON g.vec_id = mr.vec_id
      WHERE mr.rs % sc.stride2 = 0 AND mr.rs < sc.stride2 * sc.nchild
    ), e1 AS (
      SELECT m.vec_id, s.cell, SUM((g.gv - s.c) * (g.gv - s.c)) AS d
      FROM supa m JOIN grid g ON g.vec_id = m.vec_id
      JOIN s0 s ON s.sup = m.sup AND s.pos = g.pos
      GROUP BY m.vec_id, s.cell
    ), b1 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM e1) WHERE rn = 1
    ), u1 AS (
      SELECT m.sup, b.cell, g.pos,
             CAST((SUM(g.gv) - ((SUM(g.gv) % COUNT(*)) + COUNT(*)) % COUNT(*))
                  // COUNT(*) AS BIGINT) AS c
      FROM b1 b JOIN supa m ON m.vec_id = b.vec_id
      JOIN grid g ON g.vec_id = b.vec_id
      GROUP BY m.sup, b.cell, g.pos
    ), e2 AS (
      SELECT m.vec_id, u.cell, SUM((g.gv - u.c) * (g.gv - u.c)) AS d
      FROM supa m JOIN grid g ON g.vec_id = m.vec_id
      JOIN u1 u ON u.sup = m.sup AND u.pos = g.pos
      GROUP BY m.vec_id, u.cell
    ), b2 AS (
      SELECT vec_id AS mem, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM e2) WHERE rn = 1
    ), ps AS (
      SELECT r2.vec_id AS q, r2.cell AS sup
      FROM r2, p3 WHERE r2.crn <= p3.psup
    ), f AS (
      SELECT ps.q, u.cell, SUM((g.gv - u.c) * (g.gv - u.c)) AS d
      FROM ps JOIN grid g ON g.vec_id = ps.q
      JOIN u1 u ON u.sup = ps.sup AND u.pos = g.pos
      GROUP BY ps.q, u.cell
    ), pc AS (
      SELECT t.q, t.cell FROM (
        SELECT q, cell,
               ROW_NUMBER() OVER (PARTITION BY q ORDER BY d, cell) AS rn
        FROM f) t, p3 WHERE t.rn <= p3.ncell
    )
"""

_COS = """
        ROUND(
          list_inner_product(CAST(ea.embedding AS DOUBLE[]),
                             CAST(eb.embedding AS DOUBLE[]))
          / SQRT(list_inner_product(CAST(ea.embedding AS DOUBLE[]),
                                    CAST(ea.embedding AS DOUBLE[]))
               * list_inner_product(CAST(eb.embedding AS DOUBLE[]),
                                    CAST(eb.embedding AS DOUBLE[]))),
          6)
"""


@query(
    "ivf2_ann",
    oracle=f"""
    WITH {_HIER_CHAIN},
    pairs AS (
      SELECT pc.q, b.mem AS n, {_COS} AS cosine
      FROM pc
      JOIN b2 b ON b.cell = pc.cell AND b.mem != pc.q
      JOIN embeddings ea ON ea.vec_id = pc.q
      JOIN embeddings eb ON eb.vec_id = b.mem
    )
    SELECT q AS vec_id, n AS neighbor, cosine, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                    ORDER BY cosine DESC, n) AS rn FROM pairs)
    WHERE rn <= 3
    """,
)
def ivf2_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #5: two-level (hierarchical) IVF — O(n *
    sqrt(nlist)) build assignment and O~(sqrt(n)) per-query probing,
    vs the flat adaptive path's O(n * nlist) and 20%-of-corpus scan.
    See the module docstring for the full cost model and the oracle's
    deterministic two-level k-means chain."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf2_topk(e, k=3)


@query(
    "ivf2_recall",
    oracle=f"""
    WITH {_HIER_CHAIN},
    allp AS (
      SELECT ea.vec_id AS q, eb.vec_id AS n, {_COS} AS cosine
      FROM embeddings ea JOIN embeddings eb ON ea.vec_id != eb.vec_id
    ), exact AS (
      SELECT q, n
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                      ORDER BY cosine DESC, n) AS rn FROM allp)
      WHERE rn <= 3
    ), icand AS (
      SELECT pc.q, b.mem AS n, ap.cosine
      FROM pc
      JOIN b2 b ON b.cell = pc.cell AND b.mem != pc.q
      JOIN allp ap ON ap.q = pc.q AND ap.n = b.mem
    ), hier AS (
      SELECT q, n
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                      ORDER BY cosine DESC, n) AS rn FROM icand)
      WHERE rn <= 3
    )
    SELECT COUNT(*) AS n_exact,
           COUNT(a.q) AS n_hit,
           COUNT(a.q) / COUNT(*) AS recall,
           COUNT(a.q) / COUNT(*) >= 0.5 AS recall_ok
    FROM exact e LEFT JOIN hier a ON e.q = a.q AND e.n = a.n
    """,
)
def ivf2_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level IVF quality gate: recall@3 vs exact kNN
    (similarity.recall_vs_exact).  recall_ok pins >= 0.5: under the
    calibrated probe budget (hier_psup) the measured recall@3 is 0.949
    at sf0.1 and 0.688 at sf1 (full table in BASELINE.md)."""
    e = load_table(spark, sf_dir, "embeddings")
    return recall_vs_exact(spark, e, ivf2_topk(e, k=3), 0.5)
