"""Authority tests for the two-level (hierarchical) IVF path
(plans/ann_hier.py, round 12) beyond the automatic engine<->oracle
parity row test_correctness.py already parametrizes over it."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_data_pipeline_spark.plans import load_all_plans
from tests.conftest import SF_DIR

load_all_plans()


def test_hier_parameter_parity_cross_engine():
    """The oracle's integer isqrt / log2 subqueries must equal the
    Python rules at every corpus size the repo measures (and past the
    next decade) — a boundary drift (e.g. isqrt at exact squares, or
    bit_length at exact powers of two) would only surface as an sf>=1
    hash mismatch otherwise."""
    from etl_data_pipeline_spark.plans.ann_hier import (
        hier_ncell,
        hier_nsup,
        hier_psup,
    )
    from etl_data_pipeline_spark.operators.ann_adaptive import adaptive_nlist

    # includes the 1e9- and 1e12-vector regimes the module's scale walk
    # cites (nlist ~8M and ~8e9) — the old RANGE(1, 3000) isqrt bound
    # silently capped nsup at 2999 past nlist ~9M (ADVICE r12)
    for n in (
        50, 100, 500, 2000, 20000, 200000, 2000000, 4096 * 125,
        10**9, 12 * 10**11,
    ):
        nlist = adaptive_nlist(n)
        nsup_sql, psup_sql, ncell_sql = duckdb.sql(
            f"""
            WITH pp AS (
              SELECT {nlist} AS nlist,
                     CASE WHEN {nlist} >= 100001 * CAST(100001 AS BIGINT)
                          THEN CAST(error('bound') AS BIGINT)
                          ELSE GREATEST(2, (SELECT MAX(t.j) FROM
                              (SELECT range AS j FROM RANGE(1, 100001)) t
                              WHERE t.j * t.j <= {nlist})) END AS nsup
            )
            SELECT nsup,
                   LEAST(nsup, GREATEST(2, 2 * (SELECT MAX(t.j) FROM
                       (SELECT range AS j FROM RANGE(1, 31)) t
                       WHERE (1 << t.j) <= pp.nsup))),
                   GREATEST(2, 3 * (nlist // nsup))
            FROM pp
            """
        ).fetchone()
        nsup = hier_nsup(nlist)
        assert nsup_sql == nsup, n
        assert psup_sql == hier_psup(nsup), n
        assert ncell_sql == hier_ncell(nlist, nsup), n


def test_hier_oracle_isqrt_overflow_fails_loudly():
    """Past the isqrt search bound (nlist >= 100001^2, i.e. n ~1.25e12
    vectors) the oracle must ERROR, not silently cap nsup and let the
    SQL chain drift from Python's unbounded math.isqrt (ADVICE r12)."""
    from etl_data_pipeline_spark.plans.ann_hier import _HIER_CHAIN

    assert "error(" in _HIER_CHAIN  # the guard is in the shared chain
    with pytest.raises(Exception, match="isqrt"):
        duckdb.sql(
            """
            SELECT CASE WHEN nlist >= 100001 * CAST(100001 AS BIGINT)
                        THEN CAST(error('ivf2 oracle: nlist exceeds the '
                                        'isqrt search bound') AS BIGINT)
                        ELSE 1 END
            FROM (SELECT 100001 * CAST(100001 AS BIGINT) AS nlist)
            """
        ).fetchone()


def test_hier_oracles_share_one_chain():
    """Both ivf2 oracles embed the SAME _HIER_CHAIN constant — a
    one-sided edit (fixing the query oracle but not the recall oracle)
    would otherwise leave the recall gate checking a stale chain."""
    from etl_data_pipeline_spark.plans import ORACLES
    from etl_data_pipeline_spark.plans.ann_hier import _HIER_CHAIN

    for name in ("ivf2_ann", "ivf2_recall"):
        assert _HIER_CHAIN in ORACLES[name], name


@pytest.fixture(scope="module")
def hier_frames(spark):
    from etl_data_pipeline_spark.catalog import load_table
    from etl_data_pipeline_spark.plans.ann_hier import ivf2_topk

    e = load_table(spark, SF_DIR, "embeddings")
    return e, ivf2_topk(e, k=3)


def test_hier_topk_invariants(spark, hier_frames):
    """Structural invariants of the two-level result: every query emits
    at most k rows with dense rn 1..k, neighbors never self, cosine
    non-increasing within a query."""
    e, res = hier_frames
    pdf = res.toPandas().sort_values(["vec_id", "rn"])
    assert (pdf["vec_id"] != pdf["neighbor"]).all()
    per_q = pdf.groupby("vec_id")
    assert (per_q["rn"].apply(lambda s: list(s) == list(range(1, len(s) + 1)))).all()
    assert (per_q["cosine"].apply(lambda s: (s.diff().dropna() <= 0).all())).all()
    # near-total coverage floor, NOT strict equality: probed cells come
    # from the iteration-1 update (u1/children), and the final
    # iteration-2 reassignment can vacate a probed cell, so a query
    # whose only non-empty probed cell is its own singleton cell
    # legitimately yields zero candidates (engine and oracle agree —
    # only a strict-equality assertion would fail; ADVICE r12)
    assert pdf["vec_id"].nunique() >= 0.99 * e.count()


def test_hier_recall_not_worse_than_floor(spark, hier_frames):
    """The registered recall gate's 0.5 floor (raised from 0.30 by the
    round-13 probe-budget calibration) holds with margin at the test
    sf, so the pin catches a real quantizer regression rather than
    noise."""
    from etl_data_pipeline_spark.operators.similarity import knn

    e, res = hier_frames
    exact = knn(e, k=3).select("vec_id", "neighbor")
    hit = exact.join(
        res.select("vec_id", "neighbor"), ["vec_id", "neighbor"], "inner"
    ).count()
    total = exact.count()
    assert hit / total >= 0.5, (hit, total)


def test_hier_member_partition(spark, hier_frames):
    """Level-2 membership is a PARTITION of the corpus: every vector in
    exactly one cell, and each cell's centroid parent (sup) claims only
    its own members — the property the per-sup assignment kernel must
    preserve for the O(n*sqrt(nlist)) cost claim to be the same answer
    as a flat assignment over the same children."""
    from etl_data_pipeline_spark.catalog import load_table
    from etl_data_pipeline_spark.operators.ann_adaptive import (
        adaptive_nlist,
        grid_vectors,
        kmeans_cell_ranks,
    )
    from etl_data_pipeline_spark.plans.ann_hier import (
        hier_nsup,
        hier_psup,
        ivf2_topk,  # noqa: F401  (import path sanity)
    )

    e = load_table(spark, SF_DIR, "embeddings")
    n = e.count()
    nsup = hier_nsup(adaptive_nlist(n))
    l1 = kmeans_cell_ranks(e, n, nsup, iters=2, top=hier_psup(nsup))
    sup = l1.filter(F.col("crn") == 1)
    assert sup.count() == n
    assert sup.select("vec_id").distinct().count() == n


def test_ivf_oracles_share_one_chain():
    """Both flat-IVF oracles embed the SAME _IVF_CHAIN constant (the
    _HIER_CHAIN precedent) — a one-sided seed/iteration edit cannot
    leave the recall gate checking a stale chain."""
    from etl_data_pipeline_spark.plans import ORACLES
    from etl_data_pipeline_spark.plans.vectors import _IVF_CHAIN

    for name in ("ivf_ann", "ivf_recall"):
        assert _IVF_CHAIN in ORACLES[name], name


def test_hash_seed_sql_parity():
    """The Knuth-hash seed selection must pick the SAME ids in Python
    (ann_adaptive.hash_seeds' arithmetic) and DuckDB (the _IVF_CHAIN /
    _HIER_CHAIN hs+cnd CTEs) at several corpus shapes, including
    non-dense and huge vec_ids (the hash reduces mod 2^32 first so the
    product stays exact int64 in both engines)."""
    from etl_data_pipeline_spark.operators.ann_adaptive import (
        seed_threshold,
    )

    for ids, nlist in (
        (list(range(500)), 4),
        (list(range(0, 4000, 2)), 16),
        ([7, 99, 2**33 + 5, 2**40 + 1, 123456789, 42], 3),
        # negative BIGINT ids: Spark pmod vs DuckDB sign-keeping % —
        # the SQL mirror's ((vec_id % m + m) % m) must pick the SAME
        # seeds (ADVICE r13)
        ([-1, -7, -(2**33) - 5, 0, 3, 2**40 + 1, -123456789], 3),
    ):
        n = len(ids)
        t = seed_threshold(n, nlist)
        want = sorted(
            ids, key=lambda v: (((v % 2**32) * 1327217885) % 2**32, v)
        )
        want = [v for v in want if ((v % 2**32) * 1327217885) % 2**32 < t][
            :nlist
        ]
        got = [
            r[0]
            for r in duckdb.sql(
                f"""
            WITH e(vec_id) AS (SELECT UNNEST({ids})),
            hs AS (SELECT vec_id,
                          ((vec_id % 4294967296 + 4294967296) % 4294967296
              * 1327217885) % 4294967296 AS h
                   FROM e),
            cnd AS (SELECT vec_id,
                           ROW_NUMBER() OVER (ORDER BY h, vec_id) AS srn
                    FROM hs WHERE h < {t})
            SELECT vec_id FROM cnd WHERE srn <= {nlist} ORDER BY srn
            """
            ).fetchall()
        ]
        assert got == want, (nlist, got, want)


def test_topk_cells_blocked_matches_bruteforce(monkeypatch):
    """The cell-blocked kernel selection (round 14: bounded transient
    distance matrix) must equal the one-shot brute-force (d, cell)
    selection, including d-ties across block boundaries."""
    import numpy as np

    from etl_data_pipeline_spark.operators import ann_adaptive as aa

    rng = np.random.RandomState(7)
    monkeypatch.setattr(aa, "_CELL_BLOCK", 3)  # force many blocks
    for trial in range(20):
        n, m = rng.randint(2, 12), rng.randint(1, 17)
        # small integer grid so d-ties are common
        G = rng.randint(-2, 3, size=(n, 4)).astype("float64")
        C = rng.randint(-2, 3, size=(m, 4)).astype("float64")
        cell_ids = np.sort(rng.choice(10_000, size=m, replace=False)).astype("int64")
        g2 = (G * G).sum(axis=1)[:, None]
        c2 = (C * C).sum(axis=1)
        kk = int(rng.randint(1, m + 2))
        D, CE = aa._topk_cells(G, g2, C, c2, cell_ids, kk)
        # brute force: full matrix, lexsort by (d, cell)
        d_full = g2 + c2[None, :] - 2.0 * (G @ C.T)
        order = np.lexsort((np.broadcast_to(cell_ids, d_full.shape), d_full), axis=1)
        keep = min(kk, m)
        want_d = np.take_along_axis(d_full, order, axis=1)[:, :keep]
        want_c = np.take_along_axis(
            np.broadcast_to(cell_ids, d_full.shape), order, axis=1
        )[:, :keep]
        assert np.array_equal(D, want_d), trial
        assert np.array_equal(CE, want_c), trial


class _Frame:
    """Stand-in for a collected (grp, cell, carr) centroid frame."""

    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return list(self._rows)


def test_grouped_rank_kern_keeps_rows_in_their_group():
    """The grouped assignment kernel ranks each row only against its own
    group's pinned cells: equal to a per-group brute-force (d, cell)
    selection, with two groups whose centroid tables differ in size and
    cell ids."""
    import numpy as np
    import pandas as pd

    from etl_data_pipeline_spark.operators import ann_adaptive as aa

    rng = np.random.RandomState(11)
    tables = {
        3: (np.array([5, 9, 40], dtype="int64"), rng.randint(-2, 3, size=(3, 4))),
        8: (np.array([1, 2, 7, 30, 31], dtype="int64"), rng.randint(-2, 3, size=(5, 4))),
    }
    cent = [
        {"grp": grp, "cell": int(c), "carr": [int(x) for x in row]}
        for grp, (ids, C) in tables.items()
        for c, row in zip(ids, C)
    ]
    rng.shuffle(cent)  # the pin sorts; collect order is arbitrary
    pins = aa._pin_cells(_Frame(cent))
    n = 40
    grps = rng.choice([3, 8], size=n)
    G = rng.randint(-2, 3, size=(n, 4))
    pdf = pd.DataFrame({"vec_id": np.arange(100, 100 + n), "g": list(G), "grp": grps})
    for top in (1, 2, None):
        got = pd.concat(list(aa._rank_kern(pins, top)([pdf.iloc[:25], pdf.iloc[25:]])))
        for i in range(n):
            ids, C = tables[grps[i]]
            d = ((G[i][None, :] - C) ** 2).sum(axis=1)
            order = np.lexsort((ids, d))[: len(ids) if top is None else top]
            rows = got[got["vec_id"] == 100 + i]
            assert rows["cell"].tolist() == ids[order].tolist(), (top, i)
            assert rows["d"].tolist() == d[order].tolist(), (top, i)
            assert rows["crn"].tolist() == list(range(1, len(order) + 1))
