#!/usr/bin/env python
"""Second-decade CORRECTNESS evidence (round 12, VERDICT r11 item 2).

Round 11 made sf1 timing-complete (SLOPE_AUDIT_SF1 times all sweepable
queries over sf0.1 -> sf1) but hash-sparse: only 9 queries were
oracle-checked at sf1 (FIXTURES.md), because some DuckDB oracles blow
up at 10x data (i4b's spilled >80 GB — the ORACLE, not the engine, is
the bottleneck).  This tool closes that gap with TWO check modes:

- **oracle** (the default for every query): the driver-emulator compare
  — row count + column set + order-insensitive value hash — against the
  registered DuckDB oracle over the sf1 parquet, with a per-oracle
  watchdog (``con.interrupt()`` after ``--oracle-budget`` seconds) so a
  quadratic oracle costs a bounded, DISCLOSED timeout instead of hours.
- **mirror** (the named oracle-blowup heavies): the engine's sf1 output
  is compared bit-for-bit against a pure Python/numpy mirror of the
  declared semantics — the tests/test_properties.py machinery applied
  at scale.  Mirrors are exact-path only per the house rule: integer
  grids, id sets, and ROUND(...,6) cosines, never raw-float sums.

Queries in SKIP carry a one-line reason (the quadratic-by-contract
oracle classes); everything else must pass one of the two modes.
Writes SF1_PARITY.json at the repo root; exits 1 on any mismatch.

Usage::

    SPARK_GRAFT_DRIVER_MEM=32g python tools/sf1_parity.py \
        [--sf-dir /root/repo/.scratch/sf1] [--oracle-budget 240]

(32g driver per the sf1 regime note — 8g OOMs on the heavy queries.)
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

import duckdb  # noqa: E402

from tools.driver_emulator import TABLES, value_hash  # noqa: E402

#: Oracle-blowup skips, each with the quadratic term named.  The engine
#: side of every one of these is covered elsewhere: sf0.01 driver
#: hashes + SLOPE_AUDIT_SF1 timings + (for the starred ones) the mirror
#: section below.
SKIP: dict[str, str] = {
    # -- exact all-pairs vector oracles: 20000^2 = 400M pair rows, each
    # a 64-dim list_inner_product in DuckDB (hours).  *cosine_topk,
    # *i7_knn, *embedding_neardup are mirror-checked below instead.
    "cosine_topk": "oracle is all-pairs cosine (400M pairs) — mirror-checked",
    "i7_knn": "oracle is all-pairs cosine (400M pairs) — mirror-checked",
    "embedding_neardup": (
        "oracle is all-pairs cosine (400M pairs) — mirror-checked"
    ),
    "ann_recall": "recall oracle recomputes exact kNN (all pairs) — mirror-checked",
    "ann_multiprobe_recall": "recall oracle recomputes exact kNN (all pairs) — mirror-checked",
    "ivf_recall": "recall oracle recomputes exact kNN (all pairs) — mirror-checked",
    "pq_recall": "recall oracle recomputes exact kNN (all pairs) — mirror-checked",
    "pq_ann": "SDC oracle scans all PQ-code pairs (400M) — mirror-checked",
    "i6c_quantized_rerank": "oracle scans all quantized pairs (400M) — mirror-checked",
    "ivf_ann": (
        "unrolled k-means oracle joins 205M rows x 3 iterations "
        "(measured 240s+ in DuckDB at sf1) — mirror-checked"
    ),
    "ann_multiprobe": (
        "oracle's allcos CTE is all-pairs cosine (400M; measured "
        "oracle-timeout at sf1) — mirror-checked"
    ),
    # -- round 12 second session: the two-level IVF additions follow
    # the flat path's split (query mirrored, recall gate skipped).
    "ivf2_ann": (
        "two-level unrolled k-means oracle + ~32M candidate-pair "
        "cosines (the ivf_ann oracle class) — mirror-checked"
    ),
    "ivf2_recall": "recall oracle recomputes exact kNN (all pairs) — mirror-checked",
    # -- text/graph pair oracles whose join volume grows ~(10x)^2 with
    # the corpus (50k docs at sf1).  *i4b is mirror-checked below.
    "i4b_minhash_lsh": (
        "oracle spilled >80 GB at sf1 (FIXTURES.md r11) — mirror-checked"
    ),
    "incremental_neardup": (
        "oracle is the full-corpus LSH pair set (the i4b oracle class; "
        "measured oracle-timeout at sf1) — mirror-checked"
    ),
    "i4_jaccard_pairs": "exact all-pairs verifier: sum(df^2) join volume",
    "i4c_ngram_jaccard": "exact bigram all-pairs verifier (305 s engine-only)",
    "containment_pairs": "exact all-pairs containment verifier",
    "containment_df_stats": "df-squared join-volume stats over all pairs",
    "minhash_est_quality": "quality gate joins estimates to exact all-pairs",
    "simhash_neardup": "output IS the near-dup pair set (n^2 by design)",
    "neardup_clusters": "components over the near-dup graph (quadratic oracle) — mirror-checked",
    "neardup_degree_hist": "degree histogram over the near-dup graph (quadratic oracle) — mirror-checked",
    "neardup_triangles": "triangle count over the near-dup graph (quadratic oracle) — mirror-checked",
    "neardup_link_predict": "link prediction over the near-dup graph (quadratic oracle) — mirror-checked",
    "pagerank_neardup": "pagerank over the near-dup graph (quadratic oracle) — mirror-checked",
    "kcore_peel": "k-core peel over the near-dup graph (quadratic oracle) — mirror-checked",
    "pretrain_corpus": "oracle trigram self-join spills at sf1 — mirror-checked (full-DAG Python mirror)",
    "pack_greedy": (
        "oracle is a row-recursive CTE (one iteration per document — "
        "50k steps at sf1, measured oracle-timeout) — mirror-checked"
    ),
}


def _run_oracle(con, sql: str, budget: float):
    """Run one oracle with an interrupt watchdog.  Returns (pdf, err)."""
    timer = threading.Timer(budget, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).fetchdf(), None
    except Exception as exc:  # noqa: BLE001 — interrupt or real error
        return None, repr(exc)[:160]
    finally:
        timer.cancel()


def _mirror_vectors(sf_dir: str):
    """numpy exact mirrors for the all-pairs vector family: rounded-6
    float64 cosine, ties by ascending id — the declared semantics of
    cosine_topk / i7_knn / embedding_neardup."""
    import numpy as np

    con = duckdb.connect()
    df = con.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchnumpy()
    ids = df["vec_id"].astype("int64")
    E = np.stack([np.asarray(e, dtype="float64") for e in df["embedding"]])
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    C = np.round(N @ N.T, 6)

    # cosine_topk: global top-10 pairs (a < b) by (-cos, a, b)
    iu = np.triu_indices(len(ids), k=1)
    flat = C[iu]
    order = np.lexsort((ids[iu[1]], ids[iu[0]], -flat))[:10]
    topk = [
        (int(ids[iu[0]][o]), int(ids[iu[1]][o]), float(flat[o]))
        for o in order
    ]

    # i7_knn: per-query top-3 by (-cos, neighbor)
    D = C.copy()
    np.fill_diagonal(D, -np.inf)
    knn = {}
    for i in range(len(ids)):
        o = np.lexsort((ids, -D[i]))[:3]
        knn[int(ids[i])] = [
            (int(ids[j]), float(D[i][j])) for j in o
        ]

    # embedding_neardup: pairs (a < b) with rounded cos >= 0.42
    mask = flat >= 0.42
    neardup = {
        (int(ids[a]), int(ids[b]), float(c))
        for a, b, c in zip(iu[0][mask], iu[1][mask], flat[mask])
    }
    return topk, knn, neardup


def _mirror_minhash(sf_dir: str):
    """Pure-Python mirror of minhash_lsh_pairs(threshold=0.5) — the
    test_properties mirror applied to the full sf1 corpus (the one case
    whose DuckDB oracle spills)."""
    import hashlib

    from etl_data_pipeline_spark.operators.text import (
        LSH_MAX_BUCKET_SIZE,
        MINHASH_BAND_ROWS,
        MINHASH_HASHES,
        MINHASH_P,
    )

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    hcache: dict[str, int] = {}

    def h32(tok: str) -> int:
        if tok not in hcache:
            hcache[tok] = (
                int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % MINHASH_P
            )
        return hcache[tok]

    sets = {i: set(t.split(" ")) for i, t in rows}
    bands: dict[tuple, list] = {}
    for i, toks in sets.items():
        hs = [h32(t) for t in toks]
        sig = [
            min(((j * 37 + 11) * h + (j * 104729 + 17)) % MINHASH_P
                for h in hs)
            for j in range(MINHASH_HASHES)
        ]
        r = MINHASH_BAND_ROWS
        for b in range(MINHASH_HASHES // r):
            key = "-".join(str(sig[b * r + j]) for j in range(r))
            bands.setdefault((b, key), []).append(i)
    cand = set()
    for members in bands.values():
        if len(members) > LSH_MAX_BUCKET_SIZE:
            continue  # diverted whole, same as the engine's cap
        members = sorted(members)
        for xi, x in enumerate(members):
            for y in members[xi + 1:]:
                cand.add((x, y) if x < y else (y, x))
    want = set()
    for x, y in cand:
        sa, sb = sets[x], sets[y]
        inter = len(sa & sb)
        jac = inter / (len(sa) + len(sb) - inter)
        if jac >= 0.5:
            want.add((x, y, jac))
    return want


def _mirror_ivf(sf_dir: str, k: int = 3, iters: int = 3):
    """numpy mirror of the FULL adaptive-IVF retrieval (operators/
    ann_adaptive.py): integer-grid seeded k-means (exact int64), probe
    ranking, in-cell rounded-6 cosine top-k with (cos desc, n) ties —
    the round-12 calibration prototype promoted to a parity check."""
    import numpy as np

    con = duckdb.connect()
    df = con.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchnumpy()
    ids = df["vec_id"].astype("int64")
    E = np.stack([np.asarray(e, dtype="float64") for e in df["embedding"]])
    G = np.floor(E * 1e6).astype("int64")
    n = len(ids)
    nlist = max(4, n // 125)
    nprobe = max(2, nlist // 5)
    # round 13: Knuth-hash seed sample (ann_adaptive.hash_seeds)
    thresh = min(2**32, (2**32 * (2 * nlist + 64)) // max(n, 1) + 1)
    hv = ((ids % 2**32) * 1327217885) % 2**32
    cand_pos = np.nonzero(hv < thresh)[0]
    order = np.lexsort((ids[cand_pos], hv[cand_pos]))
    seed_rows = cand_pos[order][:nlist]
    cells = ids[seed_rows].copy()
    C = G[seed_rows].copy()
    for t in range(1, iters + 1):
        cs = np.argsort(cells)
        cells, C = cells[cs], C[cs]
        D = ((G[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = D.argmin(axis=1)  # cells ascending -> first min = tie rule
        if t < iters:
            newC, newcells = [], []
            for ci in range(len(cells)):
                m = assign == ci
                if m.any():
                    newC.append(np.floor_divide(G[m].sum(axis=0), m.sum()))
                    newcells.append(cells[ci])
            C, cells = np.array(newC), np.array(newcells)
    probe_idx = np.argsort(D, axis=1, kind="stable")[:, :nprobe]
    members = {ci: np.nonzero(assign == ci)[0] for ci in range(len(cells))}
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    out = {}
    for i in range(n):
        cand = np.concatenate([members[ci] for ci in probe_idx[i]])
        cand = cand[cand != i]
        if len(cand) == 0:
            out[int(ids[i])] = []
            continue
        cos = np.round(N[i] @ N[cand].T, 6)
        o = np.lexsort((ids[cand], -cos))[:k]
        out[int(ids[i])] = [
            (int(ids[cand][j]), float(cos[j]), rn + 1)
            for rn, j in enumerate(o)
        ]
    return out


def _mirror_ivf2(sf_dir: str, k: int = 3):
    """numpy mirror of the FULL two-level IVF retrieval (plans/
    ann_hier.py): level-1 seeded integer k-means (2 iterations, nsup =
    isqrt(nlist) cells), per-sup level-2 child k-means (2 iterations,
    nchild_s = cnt_s // 125, seeds every stride-th member in vec_id
    rank order WITHIN the sup), probing = children of the top-psup
    sups ranked by exact integer distance with (d, cell) ties, top
    ncell scanned with rounded-6 cosine and (cos desc, n) ties."""
    import numpy as np

    from etl_data_pipeline_spark.plans.ann_hier import (
        hier_ncell,
        hier_nsup,
        hier_psup,
    )

    con = duckdb.connect()
    df = con.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchnumpy()
    ids = df["vec_id"].astype("int64")
    E = np.stack([np.asarray(e, dtype="float64") for e in df["embedding"]])
    G = np.floor(E * 1e6).astype("int64")
    n = len(ids)
    nlist = max(4, n // 125)
    # parameter rules imported from the module so the mirror cannot
    # drift when the probe budget is recalibrated (round 13 lesson)
    nsup = hier_nsup(nlist)
    psup = hier_psup(nsup)
    ncell = hier_ncell(nlist, nsup)

    # level 1 (iters=2: assign -> update -> final distances);
    # round 13: Knuth-hash seed sample (ann_adaptive.hash_seeds)
    thresh1 = min(2**32, (2**32 * (2 * nsup + 64)) // max(n, 1) + 1)
    hv = ((ids % 2**32) * 1327217885) % 2**32
    cand_pos = np.nonzero(hv < thresh1)[0]
    horder = np.lexsort((ids[cand_pos], hv[cand_pos]))
    seed_rows = cand_pos[horder][:nsup]
    sups, C = ids[seed_rows].copy(), G[seed_rows].copy()
    for t in (1, 2):
        cs = np.argsort(sups)
        sups, C = sups[cs], C[cs]
        D = ((G[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        sup_of = D.argmin(axis=1)  # ascending cells -> first-min ties
        if t < 2:
            new_c, new_s = [], []
            for ci in range(len(sups)):
                m = sup_of == ci
                if m.any():
                    new_c.append(np.floor_divide(G[m].sum(axis=0), m.sum()))
                    new_s.append(sups[ci])
            C, sups = np.array(new_c), np.array(new_s)
    probe_sup = np.argsort(D, axis=1, kind="stable")[:, : min(psup, len(sups))]

    # level 2 per sup (iters=2), assignment restricted to own-sup children
    child_cells: dict[int, tuple] = {}
    memb_cell = np.full(n, -1, dtype="int64")
    for ci in range(len(sups)):
        mem = np.nonzero(sup_of == ci)[0]  # vec_id-ascending by layout
        cnt = len(mem)
        if cnt == 0:
            continue
        nchild = max(1, cnt // 125)
        stride2 = cnt // nchild
        seeds = [mem[j * stride2] for j in range(nchild)
                 if j * stride2 < cnt]
        cc, CC = ids[seeds].copy(), G[seeds].copy()
        for t in (1, 2):
            cs = np.argsort(cc)
            cc, CC = cc[cs], CC[cs]
            DD = ((G[mem][:, None, :] - CC[None, :, :]) ** 2).sum(axis=2)
            a2 = DD.argmin(axis=1)
            if t < 2:
                new_c, new_ids = [], []
                for j in range(len(cc)):
                    mm = a2 == j
                    if mm.any():
                        new_c.append(
                            np.floor_divide(G[mem][mm].sum(axis=0), mm.sum())
                        )
                        new_ids.append(cc[j])
                CC, cc = np.array(new_c), np.array(new_ids)
        child_cells[ci] = (cc, CC)
        memb_cell[mem] = cc[a2]

    members_by_cell: dict[int, list] = {}
    for i in range(n):
        members_by_cell.setdefault(int(memb_cell[i]), []).append(i)
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    out: dict[int, list] = {}
    for i in range(n):
        have = [int(ci) for ci in probe_sup[i] if int(ci) in child_cells]
        cc = np.concatenate([child_cells[ci][0] for ci in have])
        CC = np.vstack([child_cells[ci][1] for ci in have])
        o = np.argsort(cc, kind="stable")
        cc, CC = cc[o], CC[o]
        d = ((G[i][None, :] - CC) ** 2).sum(axis=1)
        top = np.argsort(d, kind="stable")[: min(ncell, len(cc))]
        cand = np.array(
            [m for j in top for m in members_by_cell.get(int(cc[j]), [])],
            dtype="int64",
        )
        cand = cand[cand != i]
        if len(cand) == 0:
            out[int(ids[i])] = []
            continue
        cos = np.round(N[i] @ N[cand].T, 6)
        o = np.lexsort((ids[cand], -cos))[:k]
        out[int(ids[i])] = [
            (int(ids[cand][j]), float(cos[j]), rn + 1)
            for rn, j in enumerate(o)
        ]
    return out


def _mirror_multiprobe(sf_dir: str, k: int = 3):
    """numpy mirror of the FULL adaptive multiprobe-LSH retrieval:
    int8 quantization, md5-integer plane projections (exact int64 —
    the lsh_buckets contract), adaptive plane count, the Hamming<=2
    probe shell gated by the 20%-scan rule, in-bucket rounded-6 cosine
    top-k.  Vectorized by BUCKET: every query in a bucket shares its
    probe set, so the work is <=2^planes (queries x candidates)
    matmuls, not a per-query loop."""
    import hashlib

    import numpy as np

    from etl_data_pipeline_spark.operators.similarity import adaptive_planes

    con = duckdb.connect()
    df = con.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchnumpy()
    ids = df["vec_id"].astype("int64")
    E = np.stack([np.asarray(e, dtype="float64") for e in df["embedding"]])
    n, planes = len(ids), adaptive_planes(len(ids))

    m = np.abs(E).max(axis=1)
    scale = np.where(m == 0, 1.0, m)
    q = np.floor(E * 127.0 / scale[:, None] + 0.5)
    w = np.array([
        [int(hashlib.md5(f"{j}_{p}".encode()).hexdigest()[:8], 16)
         % 2001 - 1000 for p in range(64)]
        for j in range(planes)
    ], dtype="float64")
    proj = q @ w.T  # integer-valued float64, |.| <= 8.1e6 — exact
    bucket = ((proj > 0) << np.arange(planes)).sum(axis=1).astype("int64")

    flips = [1 << j for j in range(planes)]
    if (planes + 1) * 5 < (1 << planes):
        flips += [
            (1 << j1) | (1 << j2)
            for j1 in range(planes)
            for j2 in range(j1 + 1, planes)
        ]
    members: dict[int, np.ndarray] = {}
    for b in np.unique(bucket):
        members[int(b)] = np.nonzero(bucket == b)[0]
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    out = {}
    for b, qrows in members.items():
        probe_bs = [b] + [b ^ f for f in flips]
        cand = np.concatenate(
            [members[pb] for pb in probe_bs if pb in members]
        )
        C = np.round(N[qrows] @ N[cand].T, 6)
        for qi, row in zip(qrows, C):
            mask = cand != qi
            cc, rr = cand[mask], row[mask]
            o = np.lexsort((ids[cc], -rr))[:k]
            out[int(ids[qi])] = [
                (int(ids[cc][j]), float(rr[j]), rn + 1)
                for rn, j in enumerate(o)
            ]
    return out


def _mirror_pack_greedy(sf_dir: str, budget: int = 256):
    """Pure-Python mirror of the greedy close-when-full packer: docs
    stream per language in doc_id order; a pack closes when the next
    doc would overflow the budget.  All-integer — exact by nature."""
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, lang, LEN(STRING_SPLIT(text, ' ')) "
        f"FROM '{sf_dir}/documents.parquet' ORDER BY lang, doc_id"
    ).fetchall()
    out: dict[tuple, list] = {}
    state: dict[str, list] = {}  # lang -> [pack_id, fill]
    for _doc, lang, ntok in rows:
        pid, fill = state.get(lang, [0, None])
        if fill is not None and fill + ntok > budget:
            pid, fill = pid + 1, ntok
        else:
            fill = ntok if fill is None else fill + ntok
        state[lang] = [pid, fill]
        agg = out.setdefault((lang, pid), [0, 0])
        agg[0] += 1
        agg[1] += ntok
    return {
        (lang, pid, n, tot) for (lang, pid), (n, tot) in out.items()
    }




def _load_emb(sf_dir: str):
    """(ids int64 ascending, E float64 matrix) for the mirror family."""
    import numpy as np

    con = duckdb.connect()
    df = con.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchnumpy()
    ids = df["vec_id"].astype("int64")
    E = np.stack([np.asarray(e, dtype="float64") for e in df["embedding"]])
    return ids, E


def _exact3_pairs(ids, E, k: int = 3):
    """Exact top-k neighbor PAIR SET {(q, n)} by (rounded-6 cos desc,
    id asc) — the exact leg every recall gate shares.  Row-chunked
    matmuls (1000 x n), never the full n^2 matrix."""
    import numpy as np

    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    n = len(ids)
    pairs = set()
    for lo in range(0, n, 1000):
        hi = min(lo + 1000, n)
        C = np.round(N[lo:hi] @ N.T, 6)
        for r in range(hi - lo):
            C[r, lo + r] = -np.inf  # mask self
            o = np.lexsort((ids, -C[r]))[:k]
            q = int(ids[lo + r])
            for j in o:
                pairs.add((q, int(ids[j])))
    return pairs


def _recall_row(exact_pairs, approx_pairs):
    """(n_exact, n_hit, recall) with the engines' exact float division."""
    n_exact = len(exact_pairs)
    n_hit = len(exact_pairs & approx_pairs)
    return n_exact, n_hit, n_hit / n_exact


def _mirror_lsh_single(sf_dir: str, k: int = 3):
    """numpy mirror of SINGLE-probe LSH top-k (ann_lsh semantics:
    adaptive planes, md5-integer projections, in-bucket rounded-6
    cosine, (cos desc, id) ties) — _mirror_multiprobe without the
    Hamming shell; used by the ann_recall gate mirror."""
    import hashlib

    import numpy as np

    from etl_data_pipeline_spark.operators.similarity import adaptive_planes

    ids, E = _load_emb(sf_dir)
    n, planes = len(ids), adaptive_planes(len(ids))
    m = np.abs(E).max(axis=1)
    scale = np.where(m == 0, 1.0, m)
    q = np.floor(E * 127.0 / scale[:, None] + 0.5)
    w = np.array([
        [int(hashlib.md5(f"{j}_{p}".encode()).hexdigest()[:8], 16)
         % 2001 - 1000 for p in range(64)]
        for j in range(planes)
    ], dtype="float64")
    bucket = (((q @ w.T) > 0) << np.arange(planes)).sum(axis=1).astype(
        "int64"
    )
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    pairs = set()
    for b in np.unique(bucket):
        rows = np.nonzero(bucket == b)[0]
        if len(rows) < 2:
            continue
        C = np.round(N[rows] @ N[rows].T, 6)
        for r in range(len(rows)):
            C[r, r] = -np.inf
            o = np.lexsort((ids[rows], -C[r]))[:k]
            o = [j for j in o if C[r, j] > -np.inf]
            for j in o:
                pairs.add((int(ids[rows[r]]), int(ids[rows[j]])))
    return pairs


def _mirror_pq(sf_dir: str, k: int = 3, n_cand: int = 50):
    """numpy mirror of the FULL scale-adaptive PQ retrieval
    (operators/ann_adaptive.py::pq_rerank_adaptive): int8 quantize,
    n_codes = max(16, n/125) seed codebook (lowest vec_ids), exact
    integer subspace argmin with (dist, code) ties, decode, rounded-6
    SDC candidate top-n_cand with (qcos desc, n) ties, exact rounded-6
    float rerank to top-k."""
    import numpy as np

    ids, E = _load_emb(sf_dir)
    n = len(ids)
    n_codes = max(16, n // 125)
    m = np.abs(E).max(axis=1)
    scale = np.where(m == 0, 1.0, m)
    q8 = np.floor(E * 127.0 / scale[:, None] + 0.5)  # integer-valued
    # seeds: the n_codes LOWEST vec_ids (ids are ascending)
    cb = q8[:n_codes].reshape(n_codes, 16, 4).transpose(1, 0, 2)  # (16,nc,4)
    X = q8.reshape(n, 16, 4)
    codes = np.empty((n, 16), dtype="int64")
    for s in range(16):
        Xs, Cs = X[:, s, :], cb[s]
        ds = ((Xs * Xs).sum(1)[:, None] + (Cs * Cs).sum(1)[None, :]
              - 2.0 * (Xs @ Cs.T))
        codes[:, s] = ds.argmin(axis=1)  # first min = lowest code id
    dec = cb[np.arange(16)[None, :], codes].reshape(n, 64)
    Nd = dec / np.linalg.norm(dec, axis=1, keepdims=True)
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    out = {}
    for lo in range(0, n, 1000):
        hi = min(lo + 1000, n)
        Dq = np.round(Nd[lo:hi] @ Nd.T, 6)
        for r in range(hi - lo):
            i = lo + r
            Dq[r, i] = -np.inf
            cand = np.lexsort((ids, -Dq[r]))[:n_cand]
            cos = np.round(N[i] @ N[cand].T, 6)
            o = np.lexsort((ids[cand], -cos))[:k]
            out[int(ids[i])] = [
                (int(ids[cand][j]), float(cos[j])) for j in o
            ]
    return out


def _mirror_i6c(sf_dir: str, k: int = 3, n_cand: int = 20):
    """numpy mirror of the quantized-rerank path (i6c): int8-quantized
    rounded-6 cosine candidate top-20 per query with (qcos desc, n)
    ties, exact rounded-6 float rerank to top-3."""
    import numpy as np

    ids, E = _load_emb(sf_dir)
    n = len(ids)
    m = np.abs(E).max(axis=1)
    scale = np.where(m == 0, 1.0, m)
    q8 = np.floor(E * 127.0 / scale[:, None] + 0.5)
    Nq = q8 / np.linalg.norm(q8, axis=1, keepdims=True)
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    out = {}
    for lo in range(0, n, 1000):
        hi = min(lo + 1000, n)
        Cq = np.round(Nq[lo:hi] @ Nq.T, 6)
        for r in range(hi - lo):
            i = lo + r
            Cq[r, i] = -np.inf
            cand = np.lexsort((ids, -Cq[r]))[:n_cand]
            cos = np.round(N[i] @ N[cand].T, 6)
            o = np.lexsort((ids[cand], -cos))[:k]
            out[int(ids[i])] = [
                (int(ids[cand][j]), float(cos[j])) for j in o
            ]
    return out


def _mirror_pretrain(sf_dir: str, stage_counts: dict | None = None):
    """Pure-Python mirror of the FLAGSHIP end-to-end DAG
    (plans/pipelines.py::pretrain_corpus): sha-exact dedup keep-min,
    word-trigram decontamination against the doc_id%97 eval slice,
    Knuth-hash mixture sampling, per-(lang, source) fingerprint.
    All-integer/exact-string semantics — no floats except the one
    hash/2^32 < rate comparison, mirrored bit-for-bit."""
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text, lang, source "
        f"FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    # 1. exact dedup: keep-min doc_id per exact text (sha2 keying is
    # injective on the corpus, so grouping by text is the same answer)
    seen: dict[str, int] = {}
    docs = []
    for doc_id, text, lang, source in rows:  # doc_id ascending
        if text in seen:
            continue
        seen[text] = doc_id
        docs.append((doc_id, text, lang, source))
    # 2. trigram decontamination
    tris: dict[int, set] = {}
    for doc_id, text, _l, _s in docs:
        s = text.split(" ")
        tris[doc_id] = {
            " ".join(s[i:i + 3]) for i in range(len(s) - 2)
        }
    ev: set = set()
    for doc_id, tr in tris.items():
        if doc_id % 97 == 0:
            ev |= tr
    clean = [
        (doc_id, text, lang, source)
        for doc_id, text, lang, source in docs
        if doc_id % 97 != 0 and not (tris[doc_id] & ev)
    ]
    if stage_counts is not None:
        stage_counts["dedup"] = len(docs)
        stage_counts["eval_trigrams"] = len(ev)
        stage_counts["clean"] = len(clean)
    # 3. mixture sample: u = (id * 2654435761 % 2^32) / 2^32 < rate
    rates = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.1}
    out: dict[tuple, list] = {}
    for doc_id, text, lang, source in clean:
        u = ((doc_id * 2654435761) % 4294967296) / 4294967296.0
        if not (u < rates.get(lang, 0.05)):
            continue
        agg = out.setdefault((lang, source), [0, 0])
        agg[0] += 1
        agg[1] += len(text.split(" "))
    return {
        (lang, source, n, tot) for (lang, source), (n, tot) in out.items()
    }




def _mirror_graphs(sf_dir: str):
    """Pure-Python mirrors of the six near-dup GRAPH queries — all
    built on the SAME verified LSH pair set as i4b (_mirror_minhash),
    so the quadratic term lives only in the upstream candidate
    generator the engine also uses, never here.  Exact-path only:
    component ids, integer-grid pagerank (the one float op mirrored
    expression-for-expression), integer jaccard grids.

    Returns {query_name: canonical comparable}."""
    import math

    con = duckdb.connect()
    doc_ids = [
        r[0] for r in con.sql(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]
    edges = sorted((a, b) for a, b, _j in _mirror_minhash(sf_dir))
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    out: dict = {}

    # neardup_clusters: component = min reachable over ALL doc nodes
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for d in doc_ids:
        parent[d] = d
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for d in doc_ids:
        r = find(d)
        comp_min[r] = min(comp_min.get(r, d), d)
    out["neardup_clusters"] = {
        (d, comp_min[find(d)], comp_min[find(d)] == d) for d in doc_ids
    }

    # degree histogram (nodes with >= 1 edge)
    deg = {u: len(vs) for u, vs in adj.items()}
    hist: dict[int, int] = {}
    for dv in deg.values():
        hist[dv] = hist.get(dv, 0) + 1
    out["neardup_degree_hist"] = {(d, n) for d, n in hist.items()}

    # triangles / wedges / clustering coefficient
    fwd: dict[int, set] = {}
    for a, b in edges:
        fwd.setdefault(a, set()).add(b)
    tri = sum(
        len(fwd.get(a, set()) & fwd.get(b, set())) for a, b in edges
    )
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    out["neardup_triangles"] = (tri, wedges, 3.0 * tri / wedges)

    # kcore_peel: 3 rounds of remove-degree-<3
    nodes = set(deg)
    cur = {(u, v) for u, v in edges} | {(v, u) for u, v in edges}
    survivors = []
    last_deg: dict[int, int] = {}
    for _ in range(3):
        dcnt: dict[int, int] = {}
        for u, _v in cur:
            dcnt[u] = dcnt.get(u, 0) + 1
        nodes = {u for u, dv in dcnt.items() if dv >= 3}
        survivors.append(set(nodes))
        cur = {(u, v) for u, v in cur if u in nodes and v in nodes}
        last_deg = dcnt
    converged = len(survivors[2]) == len(survivors[1])
    out["kcore_peel"] = {
        (u, last_deg[u], converged) for u in survivors[2]
    }

    # pagerank (3 iterations, 1e-12 integer grid, floor per edge)
    n_nodes = len(deg)
    g = {u: math.floor(1000000000000.0 / n_nodes) for u in deg}
    base = math.floor(150000000000.0 / n_nodes)
    for _ in range(3):
        nxt = {u: base for u in deg}
        for u, vs in adj.items():
            c = math.floor(0.85 * g[u] / deg[u])
            for v in vs:
                nxt[v] += c
        g = nxt
    out["pagerank_neardup"] = {
        (u, round(gv / 1000000000000.0, 6)) for u, gv in g.items()
    }

    # link prediction: top-20 two-hop non-edges by neighborhood jaccard
    eset = set(edges)
    cand: dict[tuple, int] = {}
    for w, vs in adj.items():
        vs_sorted = sorted(vs)
        for i, u in enumerate(vs_sorted):
            for v in vs_sorted[i + 1:]:
                cand[(u, v)] = cand.get((u, v), 0) + 1
    scored = [
        (u, v, c, (c * 1000000) // (deg[u] + deg[v] - c))
        for (u, v), c in cand.items()
        if (u, v) not in eset
    ]
    scored.sort(key=lambda t: (-t[3], -t[2], t[0], t[1]))
    out["neardup_link_predict"] = scored[:20]
    return out


def run_mirrors(spark, qs, sf_dir: str, results: dict,
                names: set[str] | None = None) -> int:
    """The mirror-mode checks; returns the number of failures.
    ``names`` restricts to a subset (--mirrors-only n1 n2 ...)."""
    fails = 0

    def want(name: str) -> bool:
        return names is None or name in names

    vec_names = {"cosine_topk", "i7_knn", "embedding_neardup"}
    if names is None or (vec_names & names):
        t0 = time.monotonic()
        topk, knn_m, neardup = _mirror_vectors(sf_dir)
        prep = time.monotonic() - t0

    def record(name, match, n, secs, detail=""):
        nonlocal fails
        results[name] = {
            "mode": "mirror",
            "match": bool(match),
            "rows": n,
            "secs": round(secs, 2),
        }
        if detail:
            results[name]["detail"] = detail
        if not match:
            fails += 1
        print(f"  {'OK ' if match else 'FAIL'} {name} (mirror): {n} rows "
              f"{secs:.1f}s {detail}", flush=True)

    if want("cosine_topk"):
        t0 = time.monotonic()
        got = [
            (r["a"], r["b"], r["cosine"])
            for r in qs["cosine_topk"](spark, sf_dir).collect()
        ]
        record("cosine_topk", got == topk, len(got), time.monotonic() - t0 + prep)

    if want("i7_knn"):
        t0 = time.monotonic()
        got_knn: dict[int, list] = {}
        for r in qs["i7_knn"](spark, sf_dir).collect():
            got_knn.setdefault(r["vec_id"], []).append(
                (r["neighbor"], r["cosine"])
            )
        for v in got_knn.values():  # collect order is not the rank order
            v.sort(key=lambda t: (-t[1], t[0]))
        match = got_knn == knn_m
        record("i7_knn", match, sum(map(len, got_knn.values())),
               time.monotonic() - t0)

    if want("embedding_neardup"):
        t0 = time.monotonic()
        got_nd = {
            (r["a"], r["b"], r["cosine"])
            for r in qs["embedding_neardup"](spark, sf_dir).collect()
        }
        record("embedding_neardup", got_nd == neardup, len(got_nd),
               time.monotonic() - t0)

    if want("ivf_ann"):
        t0 = time.monotonic()
        ivf_want = _mirror_ivf(sf_dir)
        got_ivf: dict[int, list] = {}
        for r in qs["ivf_ann"](spark, sf_dir).collect():
            got_ivf.setdefault(r["vec_id"], []).append(
                (r["neighbor"], r["cosine"], r["rn"])
            )
        for v in got_ivf.values():
            v.sort(key=lambda t: t[2])
        # vectors with no candidates emit no rows in the engine
        match = got_ivf == {q: v for q, v in ivf_want.items() if v}
        record("ivf_ann", match,
               sum(map(len, got_ivf.values())), time.monotonic() - t0)

    if want("ivf2_ann"):
        t0 = time.monotonic()
        ivf2_want = _mirror_ivf2(sf_dir)
        got_ivf2: dict[int, list] = {}
        for r in qs["ivf2_ann"](spark, sf_dir).collect():
            got_ivf2.setdefault(r["vec_id"], []).append(
                (r["neighbor"], r["cosine"], r["rn"])
            )
        for v in got_ivf2.values():
            v.sort(key=lambda t: t[2])
        match = got_ivf2 == {q: v for q, v in ivf2_want.items() if v}
        record("ivf2_ann", match,
               sum(map(len, got_ivf2.values())), time.monotonic() - t0)

    if want("ann_multiprobe"):
        t0 = time.monotonic()
        mp_want = _mirror_multiprobe(sf_dir)
        got_mp: dict[int, list] = {}
        for r in qs["ann_multiprobe"](spark, sf_dir).collect():
            got_mp.setdefault(r["vec_id"], []).append(
                (r["neighbor"], r["cosine"], r["rn"])
            )
        for v in got_mp.values():
            v.sort(key=lambda t: t[2])
        match = got_mp == {q: v for q, v in mp_want.items() if v}
        record("ann_multiprobe", match,
               sum(map(len, got_mp.values())), time.monotonic() - t0)

    if want("i4b_minhash_lsh"):
        t0 = time.monotonic()
        want_pairs = _mirror_minhash(sf_dir)
        got_pairs = {
            (r["a"], r["b"], r["jaccard"])
            for r in qs["i4b_minhash_lsh"](spark, sf_dir).collect()
        }
        # jaccard is one IEEE division of two ints in both — compare exact,
        # with isclose as the diagnostic (never the pass criterion)
        match = got_pairs == want_pairs
        detail = ""
        if not match:
            only_g = len(got_pairs - want_pairs)
            only_w = len(want_pairs - got_pairs)
            detail = f"engine-only={only_g} mirror-only={only_w}"
        record("i4b_minhash_lsh", match, len(got_pairs),
               time.monotonic() - t0, detail)
    if want("incremental_neardup"):
        # The incremental probe's equivalence contract IS
        # "full-corpus LSH restricted to batch-touching pairs", so the
        # mirror is _mirror_minhash filtered to the registered batch
        # split (doc_id % 10 == 0) — same exact-Jaccard float.
        t0 = time.monotonic()
        inc_want = {
            (a, b, j) for a, b, j in _mirror_minhash(sf_dir)
            if a % 10 == 0 or b % 10 == 0
        }
        inc_got = {
            (r["a"], r["b"], r["jaccard"])
            for r in qs["incremental_neardup"](spark, sf_dir).collect()
        }
        match = inc_got == inc_want
        detail = ""
        if not match:
            detail = (f"engine-only={len(inc_got - inc_want)} "
                      f"mirror-only={len(inc_want - inc_got)}")
        record("incremental_neardup", match, len(inc_got),
               time.monotonic() - t0, detail)
    if want("pack_greedy"):
        t0 = time.monotonic()
        want_packs = _mirror_pack_greedy(sf_dir)
        got_packs = {
            (r["lang"], r["pack_id"], r["n_docs"], r["pack_tokens"])
            for r in qs["pack_greedy"](spark, sf_dir).collect()
        }
        record("pack_greedy", got_packs == want_packs, len(got_packs),
               time.monotonic() - t0)
    spark.catalog.clearCache()

    # ---- round-13 additions (VERDICT r12 items 3 & 4) ----
    quality = {"ivf_recall", "ivf2_recall", "ann_recall",
               "ann_multiprobe_recall", "pq_recall"}
    if names is None or (quality & names):
        t0 = time.monotonic()
        _ids, _E = _load_emb(sf_dir)
        exact3 = _exact3_pairs(_ids, _E)
        prep_q = time.monotonic() - t0

    def check_recall(name, approx_pairs, prep_secs):
        t0 = time.monotonic()
        n_exact, n_hit, recall = _recall_row(exact3, approx_pairs)
        row = qs[name](spark, sf_dir).collect()[0]
        match = (
            row["n_exact"] == n_exact
            and row["n_hit"] == n_hit
            and row["recall"] == recall
        )
        record(name, match, 1, prep_secs + time.monotonic() - t0,
               detail=f"recall={recall:.4f}")
        spark.catalog.clearCache()

    if want("ivf_recall"):
        t0 = time.monotonic()
        ivf_pairs = {
            (q, n)
            for q, lst in _mirror_ivf(sf_dir).items()
            for (n, _c, _r) in lst
        }
        check_recall("ivf_recall", ivf_pairs, time.monotonic() - t0)

    if want("ivf2_recall"):
        t0 = time.monotonic()
        ivf2_pairs = {
            (q, n)
            for q, lst in _mirror_ivf2(sf_dir).items()
            for (n, _c, _r) in lst
        }
        check_recall("ivf2_recall", ivf2_pairs, time.monotonic() - t0)

    if want("ann_recall"):
        t0 = time.monotonic()
        lsh_pairs = _mirror_lsh_single(sf_dir)
        check_recall("ann_recall", lsh_pairs, time.monotonic() - t0)

    if want("ann_multiprobe_recall"):
        t0 = time.monotonic()
        mp_pairs = {
            (q, n)
            for q, lst in _mirror_multiprobe(sf_dir).items()
            for (n, _c, _r) in lst
        }
        check_recall("ann_multiprobe_recall", mp_pairs,
                     time.monotonic() - t0)

    if want("pq_ann") or want("pq_recall"):
        t0 = time.monotonic()
        pq_want = _mirror_pq(sf_dir)
        pq_prep = time.monotonic() - t0
        if want("pq_ann"):
            t0 = time.monotonic()
            got_pq: dict[int, list] = {}
            for r in qs["pq_ann"](spark, sf_dir).collect():
                got_pq.setdefault(r["vec_id"], []).append(
                    (r["neighbor"], r["cosine"])
                )
            spark.catalog.clearCache()
            match = got_pq == {q: v for q, v in pq_want.items() if v}
            record("pq_ann", match, sum(map(len, got_pq.values())),
                   pq_prep + time.monotonic() - t0)
        if want("pq_recall"):
            pq_pairs = {
                (q, n) for q, lst in pq_want.items() for (n, _c) in lst
            }
            check_recall("pq_recall", pq_pairs, pq_prep)

    if want("i6c_quantized_rerank"):
        t0 = time.monotonic()
        i6c_want = _mirror_i6c(sf_dir)
        got_i6c: dict[int, list] = {}
        for r in qs["i6c_quantized_rerank"](spark, sf_dir).collect():
            got_i6c.setdefault(r["vec_id"], []).append(
                (r["neighbor"], r["cosine"])
            )
        spark.catalog.clearCache()
        match = got_i6c == {q: v for q, v in i6c_want.items() if v}
        record("i6c_quantized_rerank", match,
               sum(map(len, got_i6c.values())), time.monotonic() - t0)

    if want("pretrain_corpus"):
        t0 = time.monotonic()
        stages: dict = {}
        fp_want = _mirror_pretrain(sf_dir, stage_counts=stages)
        got_fp = {
            (r["lang"], r["source"], r["n_docs"], r["total_tokens"])
            for r in qs["pretrain_corpus"](spark, sf_dir).collect()
        }
        spark.catalog.clearCache()
        match = got_fp == fp_want
        detail = (f"stages: dedup={stages['dedup']} "
                  f"eval_trigrams={stages['eval_trigrams']} "
                  f"clean={stages['clean']}")
        if match and not got_fp:
            # an all-empty match is weak evidence on its own: at sf1
            # the synthetic corpus's small vocabulary saturates the
            # trigram eval set (16992 trigrams hit all 49401 non-eval
            # docs), so the DAG's output is LEGITIMATELY empty — back
            # the match with engine-vs-mirror STAGE counts instead
            from pyspark.sql import functions as F

            from etl_data_pipeline_spark.catalog import load_table
            from etl_data_pipeline_spark.operators.text import (
                EVAL_MOD,
                exact_dedup,
                word_ngrams,
            )

            dd = exact_dedup(load_table(spark, sf_dir, "documents"))
            evf = (dd.filter(F.col("doc_id") % EVAL_MOD == 0)
                   .select(F.explode(word_ngrams(3)).alias("sh")).distinct())
            match = (dd.count() == stages["dedup"]
                     and evf.count() == stages["eval_trigrams"])
            detail += " (empty output: stage-verified vs engine)"
            spark.catalog.clearCache()
        # Round 14 (VERDICT r13 item 5): a legitimately-empty base-sf1
        # output is weak end-to-end evidence even stage-verified, so
        # the flagship is ALSO certified on the disjoint-eval-vocab
        # variant fixture, whose corpus survives decontamination — the
        # mirror must match AND be non-empty there.
        var_dir = str(_REPO / ".scratch" / "sf1_pretrain")
        if not Path(var_dir, "documents.parquet").exists():
            from tools.gen_sf import gen_pretrain_variant

            gen_pretrain_variant(sf_dir, var_dir)
        var_want = _mirror_pretrain(var_dir)
        var_got = {
            (r["lang"], r["source"], r["n_docs"], r["total_tokens"])
            for r in qs["pretrain_corpus"](spark, var_dir).collect()
        }
        spark.catalog.clearCache()
        var_match = var_got == var_want and len(var_got) > 0
        match = match and var_match
        detail += (f"; variant(disjoint eval vocab): {len(var_got)} rows, "
                   f"match={var_match}")
        # ADVICE r14: the recorded row count is the BASE fixture's
        # output (legitimately 0 at sf1 — stage-verified above); the
        # variant fixture's count lives only in the detail string so
        # the two fixtures are never conflated in one metric.
        record("pretrain_corpus", match, len(got_fp),
               time.monotonic() - t0, detail=detail)


    graph_names = {"neardup_clusters", "neardup_degree_hist",
                   "neardup_triangles", "kcore_peel",
                   "pagerank_neardup", "neardup_link_predict"}
    if names is None or (graph_names & names):
        t0 = time.monotonic()
        gw = _mirror_graphs(sf_dir)
        gprep = time.monotonic() - t0

    if want("neardup_clusters"):
        t0 = time.monotonic()
        got = {
            (r["doc_id"], r["component"], r["is_canonical"])
            for r in qs["neardup_clusters"](spark, sf_dir).collect()
        }
        spark.catalog.clearCache()
        record("neardup_clusters", got == gw["neardup_clusters"],
               len(got), gprep + time.monotonic() - t0)

    if want("neardup_degree_hist"):
        t0 = time.monotonic()
        got = {
            (r["degree"], r["n_nodes"])
            for r in qs["neardup_degree_hist"](spark, sf_dir).collect()
        }
        spark.catalog.clearCache()
        record("neardup_degree_hist", got == gw["neardup_degree_hist"],
               len(got), time.monotonic() - t0)

    if want("neardup_triangles"):
        t0 = time.monotonic()
        r = qs["neardup_triangles"](spark, sf_dir).collect()[0]
        spark.catalog.clearCache()
        got = (r["n_triangles"], r["n_wedges"], r["clustering_coeff"])
        record("neardup_triangles", got == gw["neardup_triangles"], 1,
               time.monotonic() - t0,
               detail=f"tri={got[0]} wedges={got[1]}")

    if want("kcore_peel"):
        t0 = time.monotonic()
        got = {
            (r["doc_id"], r["degree"], r["converged"])
            for r in qs["kcore_peel"](spark, sf_dir).collect()
        }
        spark.catalog.clearCache()
        record("kcore_peel", got == gw["kcore_peel"], len(got),
               time.monotonic() - t0)

    if want("pagerank_neardup"):
        t0 = time.monotonic()
        got = {
            (r["doc_id"], r["pagerank"])
            for r in qs["pagerank_neardup"](spark, sf_dir).collect()
        }
        spark.catalog.clearCache()
        record("pagerank_neardup", got == gw["pagerank_neardup"],
               len(got), time.monotonic() - t0)

    if want("neardup_link_predict"):
        t0 = time.monotonic()
        got = [
            (r["u"], r["v"], r["common"], r["jaccard_grid"])
            for r in qs["neardup_link_predict"](spark, sf_dir).collect()
        ]
        spark.catalog.clearCache()
        record("neardup_link_predict",
               got == gw["neardup_link_predict"], len(got),
               time.monotonic() - t0)

    return fails


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=str(_REPO / ".scratch" / "sf1"))
    ap.add_argument("--oracle-budget", type=float, default=240.0)
    ap.add_argument("--only", nargs="*", default=None,
                    help="restrict to these query names (debug)")
    ap.add_argument("--mirrors-only", nargs="*", default=None,
                    metavar="NAME",
                    help="run only the named mirror checks and MERGE "
                         "them into the existing SF1_PARITY.json "
                         "(re-running one mirror must not discard the "
                         "75-min oracle sweep)")
    args = ap.parse_args(argv)

    from etl_data_pipeline_spark.plans import (
        ORACLES,
        QUERIES,
        load_all_plans,
    )
    from etl_data_pipeline_spark.session import get_spark

    load_all_plans()
    spark = get_spark(app_name="sf1-parity")
    spark.sparkContext.setLogLevel("ERROR")

    out_path = _REPO / "SF1_PARITY.json"
    if args.mirrors_only is not None:
        prior = json.loads(out_path.read_text()) if out_path.exists() else {}
        results = prior.get("results", {})
        n_fail = run_mirrors(spark, QUERIES, args.sf_dir, results,
                             names=set(args.mirrors_only) or None)
        prior["results"] = results
        prior["n_mirror_match"] = sum(
            1 for r in results.values()
            if r.get("match") and r["mode"] == "mirror"
        )
        prior["n_fail"] = prior.get("n_fail", 0) + n_fail
        modes: dict[str, int] = {}
        for r in results.values():
            modes[r["mode"]] = modes.get(r["mode"], 0) + 1
        prior["modes"] = modes
        # keep the headline skip list in sync when a mirror drains it
        # (a merged mirror row replaces the skip entry in results)
        prior["skips"] = {
            k: r.get("reason", SKIP.get(k, ""))
            for k, r in sorted(results.items())
            if r["mode"] in ("skip", "oracle-timeout", "oracle-error")
        }
        with open(out_path, "w") as fh:
            json.dump(prior, fh, indent=1)
        print(f"merged mirrors into {out_path}")
        spark.stop()
        sys.exit(1 if n_fail else 0)

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{_REPO / '.scratch' / 'duck_tmp'}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    results: dict[str, dict] = {}
    names = args.only or sorted(QUERIES)
    n_ok = n_fail = 0
    for name in names:
        if name in SKIP:
            results[name] = {"mode": "skip", "reason": SKIP[name]}
            continue
        t0 = time.monotonic()
        try:
            spdf = QUERIES[name](spark, args.sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            results[name] = {"mode": "oracle", "match": False,
                             "err": f"engine: {exc!r}"[:200]}
            n_fail += 1
            print(f"  FAIL {name}: engine raised {exc!r}"[:160], flush=True)
            spark.catalog.clearCache()
            continue
        engine_secs = time.monotonic() - t0
        spark.catalog.clearCache()
        if name not in ORACLES:
            results[name] = {"mode": "rows-only", "rows": len(spdf),
                             "secs": round(engine_secs, 2)}
            continue
        t0 = time.monotonic()
        opdf, err = _run_oracle(con, ORACLES[name], args.oracle_budget)
        oracle_secs = time.monotonic() - t0
        if err is not None:
            kind = ("oracle-timeout"
                    if "INTERRUPT" in err.upper() else "oracle-error")
            results[name] = {"mode": kind, "reason": err,
                             "secs": round(oracle_secs, 1)}
            print(f"  SKIP {name}: {kind} after {oracle_secs:.0f}s",
                  flush=True)
            continue
        match = (
            sorted(spdf.columns) == sorted(opdf.columns)
            and len(spdf) == len(opdf)
            and value_hash(spdf) == value_hash(opdf)
        )
        results[name] = {
            "mode": "oracle",
            "match": bool(match),
            "rows": len(spdf),
            "secs": round(engine_secs + oracle_secs, 2),
        }
        if match:
            n_ok += 1
        else:
            n_fail += 1
            print(f"  FAIL {name}: rows {len(spdf)}/{len(opdf)}", flush=True)

    if not args.only:
        n_fail += run_mirrors(spark, QUERIES, args.sf_dir, results)

    modes = {}
    for r in results.values():
        modes[r["mode"]] = modes.get(r["mode"], 0) + 1
    out = {
        "sf_dir": args.sf_dir,
        "oracle_budget_sec": args.oracle_budget,
        "method": (
            "per query: engine at sf1 (engine confs, 32g driver) vs the "
            "registered DuckDB oracle on the same parquet (emulator "
            "compare: rows + columns + order-insensitive value hash), "
            "interrupt watchdog on the oracle; named heavies checked "
            "against pure Python/numpy mirrors instead (exact paths "
            "only); quadratic-by-contract oracles skipped with reasons"
        ),
        "n_hash_match": sum(
            1 for r in results.values()
            if r.get("match") and r["mode"] == "oracle"
        ),
        "n_mirror_match": sum(
            1 for r in results.values()
            if r.get("match") and r["mode"] == "mirror"
        ),
        "n_fail": n_fail,
        "modes": modes,
        "skips": {n: r["reason"] for n, r in results.items()
                  if r["mode"] in ("skip", "oracle-timeout", "oracle-error")},
        "results": results,
    }
    out_path = _REPO / "SF1_PARITY.json"
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: out[k] for k in
                      ("n_hash_match", "n_mirror_match", "n_fail", "modes")}))
    print(f"wrote {out_path}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
