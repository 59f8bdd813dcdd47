"""Scale-ADAPTIVE ANN parameters (round 12, VERDICT r11 item 1).

The round-11 verdict's one ``weak`` component: every approximate
retrieval path ran with corpus-size-INDEPENDENT parameters (10 label
cells for IVF, 4 LSH planes, 16 PQ codes), so cell/bucket population
grows proportional to n and the "approximate" path's cost trends toward
the exact path's — the sf0.1->sf1 slope audit watch-listed all four at
slopes 5.4-7.4.  This module implements the calibrated scaling rule
measured in the round-11 prep (SURVEY.md round-11 record): keep the
expected CELL POPULATION constant (~125 vectors — executor-task-sized)
and the SCAN FRACTION constant (~20%), so at 10x the corpus there are
10x the cells, each the same size, and recall IMPROVES with corpus size
(measured on the sf1 embeddings: recall@3 0.465 at nlist=10 -> 0.832 at
nlist=640, same 20% scan).

The coarse quantizer is a seeded INTEGER-GRID Lloyd k-means — every
quantity is exact int64 arithmetic so the DuckDB oracle can mirror the
whole iteration chain bit-for-bit (the open design question the round-11
prep named):

- components quantized to the 1e-6 grid: ``g = floor(v * 1e6)`` (the
  functions/canonical.py discipline);
- seeds (round 13, VERDICT r12 item 1): the ``nlist`` vectors with the
  smallest ``(h, vec_id)`` where ``h`` is the exact-integer Knuth
  multiplicative hash (see ``seed_hash_col``) — restricted FIRST to the
  candidate set ``h < seed_threshold(n, nlist)`` (expected 2*nlist + 64
  candidates), so selecting them ranks O(nlist) skinny rows instead of
  the previous global ``Window.orderBy(vec_id)``'s one-task sort of
  the whole corpus.  The seed's vec_id IS the cell id (unchanged);
- assignment: argmin over cells of the exact integer squared distance
  ``sum((g - c)^2)`` (|diff| <= 2e6, 64 dims -> max 2.6e14, far inside
  int64), ties broken by ascending cell id;
- update: per-dimension integer FLOOR DIVISION ``(s - pmod(s, cnt)) /
  cnt`` — the pmod subtraction makes the numerator exactly divisible,
  so the division is exact in both engines regardless of their ``/``
  semantics; centroids stay ON the integer grid every iteration.

Float arithmetic appears exactly once: the final candidate cosine
(float64, rounded to 6 — the same kernel contract every other vector
query uses).  Everything upstream of the candidate SET is
order-independent integer math, which is what makes a mid-iteration
executor kill recoverable with an identical hash (the persist points
keep lineage; recompute re-derives the same integers).

Centroid assignment has ONE path: the centroid table is collected on
the driver (``_pin_cells``) and pinned into the ranking kernel's
closure (``_rank_kern``); the Lloyd loop (``lloyd_cells``) and the
nearest-cell selection (``_topk_cells``) are shared with the two-level
quantizer and PQ.  The contract is ``nlist <= PIN_MAX_CELLS``
(100,000 cells, i.e. n <= 12.5M vectors by the nlist rule — 62x the
sf10 fixture's 1,600 cells); the builders raise ``ValueError`` above it
before any k-means job runs.  At the bound the driver and each Python
worker hold nlist x 64 x 8 B = 51 MB of centroids.  The table does not
travel inside every task: PySpark ships any pickled closure over 1 MB
as a torrent broadcast (``pyspark.core.rdd._prepare_for_python_RDD``).
The kernel's transient distance matrix is bounded separately by
``_CELL_BLOCK``, however many cells the table holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_data_pipeline_spark.materialize import materialize
from etl_data_pipeline_spark.operators.similarity import (
    PQ_SUBDIM,
    PQ_SUBSPACES,
    TARGET_CELL,
    blocks_for,
    cell_topk,
    exact_cosine_rerank_topk,
    knn,
    quantize_embeddings,
)

#: Scan fraction ~ 1/SCAN_DIV of the corpus: nprobe = nlist // 5.
SCAN_DIV = 5

#: Largest centroid table the builders accept (see the module
#: docstring): 100,000 cells x 64 x 8 B = 51 MB pinned on the driver and
#: in each Python worker.
PIN_MAX_CELLS = 100_000

#: Knuth multiplicative seed hash: round(2^31 * (phi - 1)) =
#: 1327217885 (odd; the floor, 1327217884, is even — ADVICE r13).
#: Chosen < 2^31 so (vec_id % 2^32) * KNUTH32 < 2^63 stays EXACT int64
#: in both engines at any BIGINT vec_id (the 32-bit golden constant
#: 2654435761 overflows int64 past vec_id % 2^32 ~ 3.5e9 — rejected).
KNUTH32 = 1327217885

_M32 = 4294967296  # 2^32 — the hash modulus


def seed_hash_col():
    """h(vec_id) = ((vec_id % 2^32) * KNUTH32) % 2^32 as a Column —
    exact integer arithmetic, identical in Spark and DuckDB.  Reducing
    mod 2^32 BEFORE the multiply changes nothing for ids < 2^32
    ((q*2^32 + r) * K == r * K (mod 2^32)) and keeps the product inside
    int64 beyond.  ``F.pmod`` is non-negative while DuckDB's ``%``
    keeps the dividend's sign, so the SQL mirror spells the inner
    reduction ``((vec_id % m + m) % m)`` — identical for ids >= 0 and
    pmod-equal for negative BIGINT ids (ADVICE r13; negative-id case in
    tests/test_ann_hier.py::test_hash_seed_sql_parity)."""
    return F.pmod(
        F.pmod(F.col("vec_id"), F.lit(_M32)) * F.lit(KNUTH32), F.lit(_M32)
    )


def seed_threshold(n: int, nlist: int) -> int:
    """Candidate-set hash bound: expected 2*nlist + 64 candidates.
    The margin makes a sub-nlist candidate count astronomically
    unlikely at any n (and for dense vec_ids the multiplicative hash is
    a low-discrepancy sequence, so the realized count is tighter than
    binomial); if the data ever did fall short, BOTH engines select the
    same smaller seed set — consistent, just fewer cells.  SQL mirror:
    CAST(LEAST(4294967296, (CAST(4294967296 AS HUGEINT) * (2*nlist +
    64)) // n + 1) AS BIGINT)."""
    return min(_M32, (_M32 * (2 * nlist + 64)) // max(n, 1) + 1)


def hash_seeds(grid: DataFrame, n: int, nlist: int) -> DataFrame:
    """(cell, carr): the nlist grid vectors with smallest (h, vec_id),
    h restricted to the seed_threshold candidate set first.  No global
    window: the filter keeps ~2*nlist + 64 rows and the orderBy+limit
    plans as TakeOrderedAndProject (per-partition top-nlist, one
    bounded merge of nlist skinny rows) — an n/nlist ~ 125x reduction
    of the old global-rank seed window's single-task sort, and the
    ranked rows carry only (h, vec_id, g), never the whole corpus
    (plan-asserted by tests/test_plans.py::
    test_kmeans_build_plan_has_no_global_sort)."""
    t = seed_threshold(n, nlist)
    cand = grid.select("vec_id", "g", seed_hash_col().alias("h")).filter(
        F.col("h") < t
    )
    return cand.orderBy("h", "vec_id").limit(nlist).select(
        F.col("vec_id").alias("cell"), F.col("g").alias("carr")
    )


def adaptive_nlist(n: int) -> int:
    """Cells grow with the corpus so the PER-CELL population stays
    ~TARGET_CELL: nlist = max(4, n // 125).  sf0.01 (500) -> 4,
    sf0.1 (2000) -> 16, sf1 (20000) -> 160, 1e9 -> 8M."""
    return max(4, n // TARGET_CELL)


def adaptive_nprobe(nlist: int) -> int:
    """Probes grow WITH nlist at a fixed ~20% scan fraction (the
    calibration's constant-cost column): max(2, nlist // 5)."""
    return max(2, nlist // SCAN_DIV)


def adaptive_codes(n: int) -> int:
    """PQ codebook size: max(16, n // 125) seed codes — the same
    population rule one compression level down (a fixed 16-code book
    quantizes a 10x corpus with the same 16 prototypes; scaling the
    book keeps per-code population constant so reconstruction error
    does not drift up with n).  sf <= 0.1 -> 16 (unchanged), sf1 ->
    160."""
    return max(16, n // TARGET_CELL)


def grid_vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, g: array<long>) — components floored to the 1e-6
    integer grid, the exact-arithmetic domain of the whole quantizer."""
    return embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1000000).cast("long"),
        ).alias("g"),
    )


#: Cells per in-kernel distance block: the kernel's transient distance
#: matrix is rows x _CELL_BLOCK x 8 B per Arrow batch (~160 MB at the
#: default 10k-row batch), HOWEVER many cells the table holds — one
#: batch x nlist allocation would be ~8 GB per task at PIN_MAX_CELLS.
#: Blocking changes no result: blocks are ascending slices of the
#: cell-ascending table, so a stable argsort over the block-ordered
#: candidate concat realizes the exact (d, cell) total order.
_CELL_BLOCK = 2048


def _topk_cells(G, g2, C, c2, cell_ids, kk):
    """The one exact integer nearest-cell selection: running top-``kk``
    (d, cell)-ascending cells per row of ``G``, one _CELL_BLOCK-wide
    distance block at a time.  Every integer-grid vector kernel calls
    it: IVF assignment and probe ranking (flat and two-level, via
    ``_rank_kern`` and ``ann_hier._probe_kern``) and PQ's per-subspace
    code assignment.

    ``C`` must be cell-ascending (``_pin_cells`` pins it that way),
    ``g2`` = |G|^2 as a column, ``c2`` = |C|^2.  d = |g|^2 + |c|^2 -
    2 g.c is exact: every term is an integer below 2^53, so the float64
    BLAS result is the int64 sum((g - c)^2) the oracle computes.
    Transient memory: rows x _CELL_BLOCK x 8 B per call.  Returns
    (D, CE): row-aligned matrices of the kk smallest distances and
    their cell ids in exact (d, cell) order."""
    import numpy as np

    parts_d, parts_c = [], []
    for s in range(0, len(cell_ids), _CELL_BLOCK):
        Cb, c2b, ib = C[s : s + _CELL_BLOCK], c2[s : s + _CELL_BLOCK], cell_ids[s : s + _CELL_BLOCK]
        # in-place accumulation onto the matmul output — one transient
        # instead of three (measured 1.9x on the 10k x 2048 block).
        # Bit-identical to g2 + c2 - 2*gc in ANY association order:
        # every intermediate is an exactly-representable integer
        # (|gc| <= 3.2e13, final d <= 1.28e14, all < 2^53), so float64
        # addition is exact at each step.
        d = G @ Cb.T
        d *= -2.0
        d += g2
        d += c2b[None, :]
        kb = min(kk, d.shape[1])
        if kb == 1:
            # assignment fast path: argmin's first-occurrence-of-min on
            # the cell-ascending block IS the (d, cell) rule, at O(n)
            # instead of the argsort's O(n log n)
            j = np.argmin(d, axis=1)
            rows = np.arange(d.shape[0])
            parts_d.append(d[rows, j][:, None])
            parts_c.append(ib[j][:, None])
            continue
        # stable argsort on d: ib is ascending, so ties resolve
        # cell-ascending WITHIN the block
        order = np.argsort(d, axis=1, kind="stable")[:, :kb]
        parts_d.append(np.take_along_axis(d, order, axis=1))
        parts_c.append(ib[order])
    if len(parts_d) == 1:
        return parts_d[0], parts_c[0]
    # blocks are ascending cell RANGES, so block-ordered concat + one
    # stable argsort on d is again the exact (d, cell) order; the
    # candidate set is only nblocks x kk wide
    D = np.concatenate(parts_d, axis=1)
    CE = np.concatenate(parts_c, axis=1)
    order = np.argsort(D, axis=1, kind="stable")[:, :kk]
    return np.take_along_axis(D, order, axis=1), np.take_along_axis(CE, order, axis=1)


def _rank_kern(pins: dict, top: int | None):
    """Grouped assignment kernel: each (vec_id, g, grp) row is ranked
    against the pinned centroid table of ITS group ``grp`` only
    (``pins`` from ``_pin_cells``), by ``_topk_cells``.  Emits the
    ``top`` nearest cells (all cells of the group when None) as
    (vec_id, d, cell, crn) in (d, cell) order.  Flat IVF and level 1 of
    two-level IVF are the one-group case; level 2 groups by
    supercluster.  Transient memory: rows x _CELL_BLOCK x 8 B per
    batch, plus the rows x top output.

    The numpy form replaced a per-row HOF (zip_with/aggregate over an
    nlist-element transform), which was a single-task straggler at
    sf10's 320M cell distances; emitting only the top ranks in-kernel
    also removes an n x nlist explode + window shuffle."""
    import numpy as np
    import pandas as pd

    def kern(batches):
        for pdf in batches:
            for grp, sub in pdf.groupby("grp", sort=False):
                cell_ids, C, c2 = pins[int(grp)]
                kk = len(cell_ids) if top is None else min(top, len(cell_ids))
                G = np.stack(sub["g"].to_numpy()).astype("float64")
                D, CE = _topk_cells(G, (G * G).sum(axis=1)[:, None], C, c2, cell_ids, kk)
                vids = sub["vec_id"].to_numpy()
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(vids, kk),
                        "d": D.reshape(-1).astype("int64"),
                        "cell": CE.reshape(-1),
                        "crn": np.tile(np.arange(1, kk + 1, dtype="int64"), len(vids)),
                    }
                )

    return kern


_RANK_SCHEMA = "vec_id long, d long, cell long, crn long"


def _pin_cells(cent: DataFrame) -> dict:
    """Driver-pin a (grp, cell, carr) centroid frame as {grp: (cell ids
    ascending int64, C float64, |C|^2)} — nlist x 64 values in all, at
    most 51 MB under the PIN_MAX_CELLS contract."""
    import numpy as np

    by_grp: dict[int, tuple[list, list]] = {}
    for r in sorted(cent.collect(), key=lambda r: (r["grp"], r["cell"])):
        ids, rows = by_grp.setdefault(int(r["grp"]), ([], []))
        ids.append(r["cell"])
        rows.append(list(r["carr"]))
    pins = {}
    for grp, (ids, rows) in by_grp.items():
        C = np.asarray(rows, dtype="float64")
        pins[grp] = (np.asarray(ids, dtype="int64"), C, (C * C).sum(axis=1))
    return pins


def require_pinnable(nlist: int, n: int | None = None) -> None:
    """Raise ``ValueError`` when an IVF build of ``nlist`` cells (over
    ``n`` vectors, when the caller has counted them) exceeds the
    PIN_MAX_CELLS contract.  Called before any k-means job runs."""
    if nlist > PIN_MAX_CELLS:
        over = f"n={n} vectors give " if n is not None else ""
        raise ValueError(
            f"IVF build: {over}nlist={nlist} cells, above PIN_MAX_CELLS="
            f"{PIN_MAX_CELLS}; the centroid table is pinned into the "
            "assignment kernel, so the build accepts n <= 12.5M vectors"
        )


def lloyd_cells(
    grid: DataFrame, cent: DataFrame, iters: int, top: int | None
) -> tuple[DataFrame, dict]:
    """The one integer-grid Lloyd loop, grouped: ``grid`` holds
    (vec_id, g, grp), ``cent`` the seed table (grp, cell, carr); each
    row only ever meets its own group's cells.  ``iters`` assign passes
    (``_rank_kern`` against ``_pin_cells``) and ``iters - 1`` updates:
    exact integer sums per (grp, cell, pos) and the pmod floor
    division.  Returns the final pass's ranking (vec_id, d, cell, crn),
    ``top`` ranks per row, and the pinned final centroid tables.

    Every centroid frame is materialized.  Within one build each is
    collected once into the kernel closure, so the persist saves
    nothing there; it pays across builds: a warm pass that rebuilds
    the same query reads the previous pass's cached centroids instead
    of re-running the k-means jobs (traced perfbench curation_sf0.1,
    seed 7, 4-core host: without the centroid persists a warm pass
    issued 18 construction jobs instead of 12 and spent 3.3 s instead
    of 2.4 s building its queries).  Lineage is kept, so an executor
    loss recomputes the same integers."""
    cent = materialize(cent)
    for _ in range(iters - 1):
        assign = grid.mapInPandas(
            _rank_kern(_pin_cells(cent), 1), schema=_RANK_SCHEMA
        ).select("vec_id", "cell")
        upd = (
            assign.join(grid, "vec_id")
            .select("grp", "cell", F.posexplode("g").alias("pos", "gv"))
            .groupBy("grp", "cell", "pos")
            .agg(F.sum("gv").alias("s"), F.count(F.lit(1)).alias("cnt"))
            .select(
                "grp",
                "cell",
                "pos",
                # exact floor division: pmod makes the numerator
                # exactly divisible, so the one double division is an
                # exact integer (< 2^53) — cross-engine deterministic
                ((F.col("s") - F.pmod("s", "cnt")) / F.col("cnt"))
                .cast("long")
                .alias("c"),
            )
            .groupBy("grp", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "c"))),
                    lambda s: s["c"],
                ).alias("carr")
            )
        )
        cent = materialize(upd)
    pins = _pin_cells(cent)
    return grid.mapInPandas(_rank_kern(pins, top), schema=_RANK_SCHEMA), pins


def kmeans_cell_ranks(
    embeddings: DataFrame,
    n: int,
    nlist: int,
    iters: int = 3,
    top: int | None = None,
) -> DataFrame:
    """Seeded integer-grid Lloyd k-means; returns the FINAL iteration's
    per-vector cell ranking ``(vec_id, cell, d, crn)``, truncated to
    ``top`` ranks when given — crn = 1 is the cell assignment,
    crn <= nprobe the probe set, so one frame serves both consumers
    (materialized).  ``n`` is the row count of ``embeddings``, which
    every caller already holds (it sizes nlist), so the build does not
    count the corpus again.

    ``iters`` distance passes, ``iters - 1`` centroid updates (the
    final pass both assigns and ranks probes).  3 iterations measured
    on the real corpus: recall@3 0.677/0.711/0.733 for 1/2/3 iterations
    at sf0.01 and 0.423/0.460/0.479 at sf0.1 — the 3rd iteration still
    buys 2 points, the 4th read 0.725/0.488 (inside noise of the 3rd),
    so 3 is the knee; every extra iteration also grows the oracle's
    unrolled CTE chain by one assign/update block.

    The loop is ``lloyd_cells`` with one group: every distance pass is
    ``_rank_kern`` -> ``_topk_cells`` against the pinned table (nlist <=
    PIN_MAX_CELLS, checked before any job; rows x _CELL_BLOCK x 8 B of
    transient distances per batch).  Assignment cost is O(n * nlist) =
    n^2/125 by the nlist rule — measured fine through sf10 (200k x 1600
    cells) at kernel speed; the TWO-LEVEL quantizer (plans/ann_hier.py)
    is the registered O(n * sqrt(nlist)) scale path for the work term.
    Seeds come from the deterministic Knuth-hash sample (hash_seeds), so
    no global-rank window ever sorts the corpus in one task.
    """
    require_pinnable(nlist, n)
    # the constant group column is added after the persist, so the
    # cached grid stays the plain grid_vectors frame that ann_hier's
    # level-2 grid join reads back from the cache
    grid = materialize(grid_vectors(embeddings)).withColumn("grp", F.lit(0))
    seeds = hash_seeds(grid, n, nlist).withColumn("grp", F.lit(0))
    ranked, _ = lloyd_cells(grid, seeds, iters, top)
    return materialize(ranked.select("vec_id", "cell", "d", "crn"))


def ivf_topk_adaptive(
    embeddings: DataFrame,
    k: int = 3,
    iters: int = 3,
) -> DataFrame:
    """IVF top-k with the SCALE-ADAPTIVE quantizer: nlist = n/125 cells
    from the seeded integer k-means (kmeans_cell_ranks), nprobe =
    nlist/5 (~20% scan), exact cosine only inside probed cells via the
    shared retrieval core (similarity.cell_topk, fanout nprobe).
    Measured recall@3 vs the fixed 10-label-cell quantizer's 0.41:
    0.733 at sf0.01, 0.479 at sf0.1 (18.8% scan); the fixed quantizer's
    per-cell population grew with n (SLOPE_AUDIT_SF1.json).

    Bound: the centroid table is pinned into the assignment kernel, so
    the build accepts nlist <= PIN_MAX_CELLS (100,000 cells, n <= 12.5M
    vectors) and raises ``ValueError`` naming n and nlist above it,
    right after the row count and before any k-means job.  At the
    bound the driver and each Python worker hold nlist x 64 x 8 B =
    51 MB of centroids.
    """
    n = embeddings.count()  # bounded driver pin: one scalar
    nlist = adaptive_nlist(n)
    require_pinnable(nlist, n)
    nprobe = adaptive_nprobe(nlist)
    # top=nprobe: ranks beyond the probe set are never consumed, so the
    # kernel never materializes the n x nlist ranking
    ranked = kmeans_cell_ranks(embeddings, n, nlist, iters=iters, top=nprobe)
    # One pass over the ranking yields both sides: every (vec_id, cell)
    # row probes (side 0), and crn == 1 is also the member assignment
    # (side 1; nprobe >= 2, so the probe filter never drops members).
    pairs = ranked.filter(F.col("crn") <= nprobe).select(
        F.col("vec_id").alias("vid"),
        "cell",
        F.explode(
            F.when(
                F.col("crn") == 1, F.array(F.lit(0), F.lit(1))
            ).otherwise(F.array(F.lit(0)))
        ).alias("side"),
    )
    return cell_topk(pairs, embeddings, k, n, fanout=nprobe)


def pq_rerank_adaptive(
    embeddings: DataFrame,
    k: int = 3,
    n_cand: int = 50,
    n_blocks: int | None = None,
) -> DataFrame:
    """PQ two-stage ANN (SDC variant) with a SCALE-ADAPTIVE codebook:
    n_codes = max(16, n / 125) seed codes — the constant-population
    rule of adaptive_nlist one compression level down (a fixed 16-code
    book quantizes a 10x corpus with the same 16 prototypes, so
    reconstruction error drifts up with n).  Every sf <= 0.1 resolves
    to 16 codes; sf1 gets 160.

    Stage 1: int8 quantize (quantize_embeddings); the seed codebook is
    the n_codes lowest vec_ids (collected — a bounded driver pin that
    grows only as n/125); one vectorized numpy mapInPandas stage
    assigns each subvector its nearest code and decodes, with no join
    and no shuffle; the blocked knn kernel takes the top-n_cand
    candidates over the reconstructions.  Stage 2: exact float re-rank
    (similarity.exact_cosine_rerank_topk).  Every compressed number is
    an integer, so candidates are exactly cross-engine reproducible.
    The SDC scan stays all-pairs by contract; the scale path for the
    scan is IVF cells (ivf_topk_adaptive)."""
    import numpy as np
    import pandas as pd

    n = embeddings.count()
    n_codes = adaptive_codes(n)
    qe = quantize_embeddings(embeddings)
    seed_rows = (
        qe.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(n_codes)
        .collect()
    )
    if len(seed_rows) != n_codes:
        raise ValueError(
            f"PQ seed codebook needs {n_codes} vectors, got "
            f"{len(seed_rows)} — corpus smaller than the codebook"
        )
    cb_arr = np.array(
        [
            [
                [float(r["embedding"][PQ_SUBDIM * s + d]) for d in range(PQ_SUBDIM)]
                for r in seed_rows
            ]
            for s in range(PQ_SUBSPACES)
        ]
    )

    # one (rows, n_codes) _topk_cells call per subspace: the full (n,
    # 16, n_codes) distance tensor is ~2 GB per Arrow batch at sf10's
    # n_codes=1600 and OOM-killed the Python workers.  Inputs are
    # int8-quantized (4-dim dots <= 6.5e4, float64-exact); code ids
    # 0..n_codes-1 are ascending, so kk=1 keeps the lowest code on ties.
    cb2 = (cb_arr**2).sum(-1)  # (subspaces, n_codes)
    code_ids = np.arange(n_codes, dtype="int64")

    def decode_kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = (
                np.stack(pdf["embedding"].to_numpy())
                .astype("float64")
                .reshape(len(pdf), PQ_SUBSPACES, PQ_SUBDIM)
            )
            code = np.empty((len(pdf), PQ_SUBSPACES), dtype="int64")
            for s in range(PQ_SUBSPACES):
                Xs = X[:, s, :]
                x2 = (Xs * Xs).sum(axis=1)[:, None]
                code[:, s] = _topk_cells(Xs, x2, cb_arr[s], cb2[s], code_ids, 1)[1][:, 0]
            dec = cb_arr[np.arange(PQ_SUBSPACES)[None, :], code]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": list(
                        dec.reshape(len(pdf), PQ_SUBSPACES * PQ_SUBDIM)
                    ),
                }
            )

    decoded = qe.select("vec_id", "embedding").mapInPandas(
        decode_kern, schema="vec_id long, embedding array<double>"
    )
    # the blocked kernel's block rule, from the n already counted (knn
    # would otherwise count the decoded frame: one more decode pass)
    if n_blocks is None:
        n_blocks = blocks_for(n)
    cand = knn(decoded, k=n_cand, n_blocks=n_blocks)
    return exact_cosine_rerank_topk(cand, embeddings, k)
