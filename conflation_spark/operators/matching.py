"""HMM-Viterbi map matching (reference J3).

The reference delegates matching to Valhalla's ``trace_attributes`` with
``costing=auto, shape_match=map_snap, use_timestamps=true``
(/root/reference/conflation/map_matching/valhalla.py:141-165); the HMM lives
outside the repo. This module is our native stand-in, a Newson-Krumm-style
HMM (emission ~ Gaussian GPS noise on point-to-edge distance; transition ~
agreement between route distance and great-circle distance), with parameters
fixed and documented here so the pure-Python test oracle can share them.

Execution shape (zero-shuffle off the bucketed checkpoint): the matcher
consumes the candidate rows, collapses them to ONE ROW PER POINT
(doc_id, gps_idx, time, gc_prev, cands: array<struct>) with an in-partition
hash aggregation — the (doc_id, gps_idx) grouping is satisfied by the
checkpoint's hash(doc_id) bucketing, so no exchange — then
sortWithinPartitions + a mapInArrow Viterbi kernel, coalesced to one task
per core. Collapsing before the sort/Arrow boundary removes the
per-candidate duplication of the point attrs (~2.1 candidate rows per
point at fixture density), and the
transition model consumes ``gc_prev`` (the adjacent-pair great-circle the
trace filter already computes in its window pass) instead of re-deriving it
from (lon, lat) — together ~45%% less data through the traversal stage's
sort + Python boundary, the stage BENCH_NOTES shows is memory-bandwidth
bound at high core counts.

Points with no candidate within the search radius never appear in the
candidate set; the kernels detect them as GAPS in ``gps_idx`` (the dense
per-doc point index the trace filter emits for free). Per-doc stats
(t0, n_points) come from a map-side-combined aggregation of the points
table (tiny shuffle) joined onto the traversal rows (small) after matching.

Output: one row per matched edge traversal —
  (doc_id, edge_seq, edge_id, elapsed_time, n_pts, n_points, n_unmatched, t0)
where ``elapsed_time`` is the doc-elapsed seconds at the LAST point matched
to the traversal (our analog of Valhalla's ``end_node.elapsed_time``,
consumed at valhalla.py:180), and n_points/n_unmatched feed the M1
unmatched-ratio filter (valhalla.py:303-309: a point with no candidate
within the search radius is 'unmatched').
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SIGMA_M = 4.5  # GPS noise std-dev for the emission model
BETA_M = 10.0  # route-vs-geodesic disagreement scale for transitions
SWITCH_LOGP = -2.5  # fixed cost for changing edges (suppresses junction flicker)
JUMP_LOGP = -15.0  # fallback transition for non-adjacent candidate pairs
EARTH_RADIUS_M = 6378160.0  # parity with the reference haversine
BOUNDARY_FIT_W = 16  # samples per side for the node-crossing LSQ fit

MATCH_SCHEMA = (
    "doc_id string, edge_seq int, edge_id long, elapsed_time double, "
    "n_pts int, n_points int, n_unmatched int, t0 double"
)
# kernel-internal schema: absolute end times + present-point counts; the
# doc-level (t0, n_points) join in match_traces converts to MATCH_SCHEMA
RUN_SCHEMA = (
    "doc_id string, edge_seq int, edge_id long, end_time double, "
    "n_pts int, n_present int"
)
_RUN_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("edge_seq", pa.int32()),
        ("edge_id", pa.int64()),
        ("end_time", pa.float64()),
        ("n_pts", pa.int32()),
        ("n_present", pa.int32()),
    ]
)


def viterbi_one_doc(pdf: pd.DataFrame, k: int = 4) -> pd.DataFrame:
    """Pure function (shared with the test oracle): candidate rows of one doc
    -> traversal runs (RUN_SCHEMA columns). Takes top-k candidates per point
    here (numpy) so the upstream join needs no per-point window shuffle.
    Deterministic: ties broken by (dist_m, edge_id); first-wins argmax.

    Input carries ONLY points that have >=1 candidate; an unmatched point
    shows up as a gps_idx gap, which breaks the Viterbi chain exactly like
    the explicit candidate-less row used to. ``gc_prev`` is the great-circle
    meters to the previous point (by offset) — the transition model only
    ever needs it between ADJACENT points (a gap breaks the chain), so the
    precomputed column replaces per-pair haversine over (lon, lat)."""
    cols = ["doc_id", "edge_seq", "edge_id", "end_time", "n_pts", "n_present"]
    if not len(pdf):  # a doc whose every point is unmatched has no rows
        return pd.DataFrame(columns=cols)
    doc_id = pdf["doc_id"].iloc[0]
    pdf = pdf.sort_values(["gps_idx", "dist_m", "edge_id"], kind="mergesort")

    gidxs = pdf["gps_idx"].to_numpy()
    times = pdf["time"].to_numpy()
    gcp = pdf["gc_prev"].to_numpy(dtype="float64", na_value=0.0)
    e_id = pdf["edge_id"].to_numpy(dtype="float64", na_value=np.nan)
    e_src = pdf["src"].to_numpy(dtype="float64", na_value=np.nan)
    e_dst = pdf["dst"].to_numpy(dtype="float64", na_value=np.nan)
    e_dist = pdf["dist_m"].to_numpy(dtype="float64", na_value=np.nan)
    e_t = pdf["t_param"].to_numpy(dtype="float64", na_value=np.nan)
    e_len = pdf["len_m"].to_numpy(dtype="float64", na_value=np.nan)

    # split row range into per-point slices (gps_idx values are sorted)
    uniq_g, starts = np.unique(gidxs, return_index=True)
    bounds = np.append(starts, len(gidxs))
    pts = []  # (gps_idx, time, gc_prev, candidate row indices [top-k])
    for i in range(len(uniq_g)):
        s, e = bounds[i], bounds[i + 1]
        pts.append((int(gidxs[s]), times[s], gcp[s], list(range(s, e))[:k]))

    n_present = len(pts)
    if n_present == 0:
        return pd.DataFrame(columns=cols)

    matched = [None] * n_present  # per point: candidate row index
    chain: list[int] = []
    prev_scores = None
    prev_back: list[np.ndarray] = []

    def flush(chain_pts, scores, backs):
        if not chain_pts:
            return
        best = int(np.argmax(scores))
        sel = [best]
        for b in reversed(backs):
            sel.append(int(b[sel[-1]]))
        sel.reverse()
        for p_i, c_i in zip(chain_pts, sel):
            matched[p_i] = pts[p_i][3][c_i]

    for p_i, (g, t, gc, cands) in enumerate(pts):
        # a gps_idx gap = one or more unmatched points -> chain break
        if chain and g != pts[chain[-1]][0] + 1:
            flush(chain, prev_scores, prev_back)
            chain, prev_scores, prev_back = [], None, []
        ci = np.asarray(cands)
        emis = -0.5 * (e_dist[ci] / SIGMA_M) ** 2
        if prev_scores is None:
            chain = [p_i]
            prev_scores = emis
            prev_back = []
            continue
        q_i = chain[-1]
        pc = np.asarray(pts[q_i][3])
        # vectorized route-distance matrix over (prev cands x cur cands)
        ida, sa, da = e_id[pc, None], e_src[pc, None], e_dst[pc, None]
        ta, la = e_t[pc, None], e_len[pc, None]
        idb, sb, db = e_id[None, ci], e_src[None, ci], e_dst[None, ci]
        tb, lb = e_t[None, ci], e_len[None, ci]
        along_a_fwd, along_a_bwd = (1 - ta) * la, ta * la
        along_b_fwd, along_b_bwd = tb * lb, (1 - tb) * lb
        route = np.select(
            [ida == idb, da == sb, da == db, sa == sb, sa == db],
            [
                np.abs(tb - ta) * la,
                along_a_fwd + along_b_fwd,
                along_a_fwd + along_b_bwd,
                along_a_bwd + along_b_fwd,
                along_a_bwd + along_b_bwd,
            ],
            default=np.nan,
        )
        trans = np.where(
            np.isnan(route),
            JUMP_LOGP - gc / BETA_M,
            -np.abs(route - gc) / BETA_M + np.where(ida == idb, 0.0, SWITCH_LOGP),
        )
        cand_scores = prev_scores[:, None] + trans
        back = np.argmax(cand_scores, axis=0)
        prev_scores = cand_scores[back, np.arange(len(ci))] + emis
        prev_back.append(back)
        chain.append(p_i)
    flush(chain, prev_scores, prev_back)

    # collapse consecutive matched edges into traversals. Edge-end elapsed
    # time: multi-sample node-crossing estimate — a least-squares fit of
    # distance-to-shared-node vs time over up to BOUNDARY_FIT_W samples on
    # EACH side of the crossing, extrapolated to distance 0 and combined
    # (sample-count weighted). GPS-projection noise on a single t_param is
    # the dominant speed-bucket error source (tools/accuracy_attribution.py);
    # n samples shrink it ~1/sqrt(n). Falls back to the two-sample
    # distance-weighted interpolation (Valhalla-style) when a fit is
    # degenerate (1 sample, zero time spread, or wrong-sign slope), to the
    # samples' midpoint when the edges share no node, and to the last
    # sample at chain ends / gps gaps. Clamped to the straddling samples'
    # time window. MUST stay byte-equal to the vectorized collapse in
    # _viterbi_core: same sums in the same order, same selection logic.
    def _fit(taus, dists, tau_a, want_neg):
        # LSQ dist = alpha + beta*(tau - tau_a); crossing where dist == 0.
        # Samples ordered boundary-nearest-first (the batch kernel
        # accumulates in the same order). Returns (T, var) where var is the
        # extrapolation variance with the common sigma^2 factored out —
        # var(T) ~ (1/n + (T - tbar)^2 / S) / beta^2 — used for
        # inverse-variance combination of the two sides.
        n = float(len(taus))
        s_t = s_d = s_tt = s_td = 0.0
        for tau, d in zip(taus, dists):
            tc = tau - tau_a
            s_t += tc
            s_d += d
            s_tt += tc * tc
            s_td += tc * d
        den = n * s_tt - s_t * s_t
        if n < 2.0 or den == 0.0:
            return np.nan, np.nan
        beta = (n * s_td - s_t * s_d) / den
        if (beta >= 0.0) if want_neg else (beta <= 0.0):
            return np.nan, np.nan
        t_x = tau_a - ((s_d - beta * s_t) / n) / beta
        if not np.isfinite(t_x):
            return np.nan, np.nan
        tbar = s_t / n
        s_c = s_tt - s_t * s_t / n
        dev = t_x - tau_a - tbar
        var = (1.0 / n + dev * dev / s_c) / (beta * beta)
        return t_x, var

    def boundary_time(run_a, run_b):
        p_last, c_last = run_a[-1]
        p_next, c_next = run_b[0]
        if pts[p_next][0] != pts[p_last][0] + 1:  # gps_idx adjacency
            return pts[p_last][1]
        tau_a, tau_b = pts[p_last][1], pts[p_next][1]
        # shared-node orientation; priority order mirrors the batch select
        if e_dst[c_last] == e_src[c_next]:
            a_at_dst, b_at_src = True, True
        elif e_dst[c_last] == e_dst[c_next]:
            a_at_dst, b_at_src = True, False
        elif e_src[c_last] == e_src[c_next]:
            a_at_dst, b_at_src = False, True
        elif e_src[c_last] == e_dst[c_next]:
            a_at_dst, b_at_src = False, False
        else:
            return (tau_a + tau_b) / 2.0
        wa = run_a[: -BOUNDARY_FIT_W - 1 : -1]  # boundary-nearest first
        wb = run_b[:BOUNDARY_FIT_W]
        taus_a = [pts[p][1] for p, _ in wa]
        rems_a = [
            (1.0 - e_t[c]) * e_len[c] if a_at_dst else e_t[c] * e_len[c]
            for _, c in wa
        ]
        taus_b = [pts[p][1] for p, _ in wb]
        intos_b = [
            e_t[c] * e_len[c] if b_at_src else (1.0 - e_t[c]) * e_len[c]
            for _, c in wb
        ]
        t_a, var_a = _fit(taus_a, rems_a, tau_a, want_neg=True)
        t_b, var_b = _fit(taus_b, intos_b, tau_a, want_neg=False)
        rem, into = rems_a[0], intos_b[0]
        denom = rem + into
        frac = rem / denom if denom > 0 else 0.5
        if not np.isnan(t_a) and not np.isnan(t_b):
            w_a = 1.0 / var_a
            w_b = 1.0 / var_b
            t = (w_a * t_a + w_b * t_b) / (w_a + w_b)
        elif not np.isnan(t_a):
            t = t_a
        elif not np.isnan(t_b):
            t = t_b
        else:
            t = tau_a + (tau_b - tau_a) * frac
        return min(max(t, tau_a), tau_b)

    # runs of consecutive matched points on the same edge (a gps gap does
    # NOT split a run when the same edge resumes — matches the batch path)
    runs: list[tuple[int, list[tuple[int, int]]]] = []
    for p_i in range(n_present):
        c = matched[p_i]
        if c is None:
            continue
        eid = int(e_id[c])
        if runs and runs[-1][0] == eid:
            runs[-1][1].append((p_i, c))
        else:
            runs.append((eid, [(p_i, c)]))
    out = []
    for seq, (eid, samples) in enumerate(runs):
        if seq + 1 < len(runs):
            end_t = boundary_time(samples, runs[seq + 1][1])
        else:
            end_t = pts[samples[-1][0]][1]
        out.append((doc_id, seq, eid, end_t, len(samples), n_present))

    return pd.DataFrame(out, columns=cols)


K_SLOTS = 4  # top-k candidates per point (padded width of the DP tensors)


def _viterbi_core(
    doc_uniques,
    p_doc: np.ndarray,
    p_gidx: np.ndarray,
    p_time: np.ndarray,
    p_gc: np.ndarray,
    c_id: np.ndarray,
    c_src: np.ndarray,
    c_dst: np.ndarray,
    c_dist: np.ndarray,
    c_t: np.ndarray,
    c_len: np.ndarray,
    valid: np.ndarray,
) -> pd.DataFrame:
    """Batch-vectorized Viterbi over per-point padded tensors.

    Inputs: P-length point arrays (doc code, gps_idx, time, gc_prev) and
    (P, K_SLOTS) candidate tensors, points sorted by (doc, gps_idx) and
    candidates by (dist_m, edge_id) within each point. Emission/transition
    tensors are built in single vectorized shots; only the inherently
    sequential DP recurrence is a Python loop of tiny (k,)/(k,k) ops.
    Produces EXACTLY the same traversals as ``viterbi_one_doc`` (same
    candidate order, same first-wins argmax, same chain-break semantics).
    """
    cols = ["doc_id", "edge_seq", "edge_id", "end_time", "n_pts", "n_present"]
    P = len(p_doc)
    if P == 0:
        return pd.DataFrame(columns=cols)
    p_has = valid.any(axis=1)

    NEG = -1e30
    emis = np.where(valid, -0.5 * (c_dist / SIGMA_M) ** 2, NEG)

    # pairwise tensors between consecutive points (within the batch; pairs
    # crossing doc boundaries are masked off in the DP loop). gc between
    # point p-1 and p = p's gc_prev (only ever consumed when the pair is
    # gps_idx-adjacent in the same doc — exactly when the chain continues).
    if P > 1:
        gc = p_gc[1:]  # (P-1,)
        ida, idb = c_id[:-1, :, None], c_id[1:, None, :]
        sa, sb = c_src[:-1, :, None], c_src[1:, None, :]
        da, db = c_dst[:-1, :, None], c_dst[1:, None, :]
        ta, tb = c_t[:-1, :, None], c_t[1:, None, :]
        la, lb = c_len[:-1, :, None], c_len[1:, None, :]
        a_fwd, a_bwd = (1 - ta) * la, ta * la
        b_fwd, b_bwd = tb * lb, (1 - tb) * lb
        same = ida == idb
        route = np.select(
            [same, da == sb, da == db, sa == sb, sa == db],
            [np.abs(tb - ta) * la, a_fwd + b_fwd, a_fwd + b_bwd, a_bwd + b_fwd, a_bwd + b_bwd],
            default=np.nan,
        )
        g3 = gc[:, None, None]
        trans = np.where(
            np.isnan(route),
            JUMP_LOGP - g3 / BETA_M,
            -np.abs(route - g3) / BETA_M + np.where(same, 0.0, SWITCH_LOGP),
        )
    else:
        trans = np.zeros((0, K_SLOTS, K_SLOTS))

    # sequential DP with chain breaks at doc boundaries / candidate-less pts
    matched_slot = np.full(P, -1, dtype=np.int64)
    back = np.empty((P, K_SLOTS), dtype=np.int64)
    arangek = np.arange(K_SLOTS)

    chain_start = -1
    scores = None

    def flush(end_p):
        # backtrack chain [chain_start, end_p]
        if chain_start < 0:
            return
        best = int(np.argmax(scores))
        p = end_p
        while p > chain_start:
            matched_slot[p] = best
            best = int(back[p, best])
            p -= 1
        matched_slot[chain_start] = best

    for p in range(P):
        # break on doc change, a gps_idx gap (unmatched points in between),
        # or a degenerate candidate-less point (can't occur in the
        # candidates-only input, kept for robustness)
        broke = (
            p == 0
            or p_doc[p] != p_doc[p - 1]
            or p_gidx[p] != p_gidx[p - 1] + 1
            or not p_has[p]
            or not p_has[p - 1]
        )
        if not p_has[p]:
            flush(p - 1)
            chain_start, scores = -1, None
            continue
        if broke or scores is None:
            flush(p - 1)
            chain_start = p
            scores = emis[p].copy()
            continue
        cand_scores = scores[:, None] + trans[p - 1]
        b = np.argmax(cand_scores, axis=0)
        back[p] = b
        scores = cand_scores[b, arangek] + emis[p]
    flush(P - 1)

    # vectorized collapse of consecutive same-edge points into traversals
    sel = matched_slot >= 0
    m_edge = np.where(sel, c_id[np.arange(P), np.clip(matched_slot, 0, None)], np.nan)
    n_present_per_doc = np.bincount(p_doc, minlength=len(doc_uniques))

    mp = np.flatnonzero(sel)  # matched points in order
    if not len(mp):
        return pd.DataFrame(columns=cols)
    md = p_doc[mp]
    me = m_edge[mp]
    new_run = np.empty(len(mp), dtype=bool)
    new_run[0] = True
    new_run[1:] = (md[1:] != md[:-1]) | (me[1:] != me[:-1])
    run_idx = np.cumsum(new_run) - 1
    R = int(run_idx[-1]) + 1
    run_start = np.flatnonzero(new_run)
    run_doc = md[run_start]
    run_edge = me[run_start].astype(np.int64)
    run_npts = np.bincount(run_idx, minlength=R)
    # last point of each run = element before next run start (or last)
    run_end = np.append(run_start[1:], len(mp)) - 1
    run_last_time = p_time[mp[run_end]]
    # multi-sample node-crossing estimate (see viterbi_one_doc for the
    # estimator spec — this is its byte-equal vectorized twin): LSQ fit of
    # distance-to-shared-node vs time over up to BOUNDARY_FIT_W samples per
    # side, extrapolated to distance 0, count-weighted combination, with
    # two-sample interpolation / midpoint / last-sample fallbacks.
    if R > 1:
        np_first = mp[run_start[1:]]
        tp_last = mp[run_end[:-1]]
        # adjacency = consecutive gps_idx within the same doc (an absent
        # index in between means an unmatched point separated the samples)
        contiguous = (p_gidx[np_first] == p_gidx[tp_last] + 1) & (
            p_doc[np_first] == p_doc[tp_last]
        )
        sa_ = matched_slot[tp_last]
        sb_ = matched_slot[np_first]
        la = c_len[tp_last, sa_]
        lb = c_len[np_first, sb_]
        srca, dsta = c_src[tp_last, sa_], c_dst[tp_last, sa_]
        srcb, dstb = c_src[np_first, sb_], c_dst[np_first, sb_]
        # shared-node orientation, first-match priority (same order as the
        # scalar if/elif chain in viterbi_one_doc.boundary_time)
        c1 = dsta == srcb
        c2 = ~c1 & (dsta == dstb)
        c3 = ~c1 & ~c2 & (srca == srcb)
        c4 = ~c1 & ~c2 & ~c3 & (srca == dstb)
        shared = c1 | c2 | c3 | c4
        a_at_dst = c1 | c2
        b_at_src = c1 | c3
        tau_a, tau_b = p_time[tp_last], p_time[np_first]

        # per-side LSQ sums, accumulated boundary-nearest-first (w order
        # matches the scalar loop; masked terms add exact 0.0)
        nA = np.minimum(run_npts[:-1], BOUNDARY_FIT_W)
        nB = np.minimum(run_npts[1:], BOUNDARY_FIT_W)
        B = R - 1
        s_t_a = np.zeros(B)
        s_d_a = np.zeros(B)
        s_tt_a = np.zeros(B)
        s_td_a = np.zeros(B)
        s_t_b = np.zeros(B)
        s_d_b = np.zeros(B)
        s_tt_b = np.zeros(B)
        s_td_b = np.zeros(B)
        for w in range(BOUNDARY_FIT_W):
            ok_a = w < nA
            ra = mp[run_end[:-1] - np.minimum(w, run_npts[:-1] - 1)]
            t_pa = c_t[ra, matched_slot[ra]]
            l_pa = c_len[ra, matched_slot[ra]]  # per-sample len (scalar parity)
            d_a = np.where(a_at_dst, (1.0 - t_pa) * l_pa, t_pa * l_pa)
            tc_a = p_time[ra] - tau_a
            s_t_a += np.where(ok_a, tc_a, 0.0)
            s_d_a += np.where(ok_a, d_a, 0.0)
            s_tt_a += np.where(ok_a, tc_a * tc_a, 0.0)
            s_td_a += np.where(ok_a, tc_a * d_a, 0.0)
            ok_b = w < nB
            rb_ = mp[run_start[1:] + np.minimum(w, run_npts[1:] - 1)]
            t_pb = c_t[rb_, matched_slot[rb_]]
            l_pb = c_len[rb_, matched_slot[rb_]]
            d_b = np.where(b_at_src, t_pb * l_pb, (1.0 - t_pb) * l_pb)
            tc_b = p_time[rb_] - tau_a
            s_t_b += np.where(ok_b, tc_b, 0.0)
            s_d_b += np.where(ok_b, d_b, 0.0)
            s_tt_b += np.where(ok_b, tc_b * tc_b, 0.0)
            s_td_b += np.where(ok_b, tc_b * d_b, 0.0)

        nAf = nA.astype(np.float64)
        nBf = nB.astype(np.float64)
        den_a = nAf * s_tt_a - s_t_a * s_t_a
        den_b = nBf * s_tt_b - s_t_b * s_t_b
        with np.errstate(divide="ignore", invalid="ignore"):
            beta_a = (nAf * s_td_a - s_t_a * s_d_a) / np.where(
                den_a != 0, den_a, 1.0
            )
            t_fit_a = tau_a - ((s_d_a - beta_a * s_t_a) / nAf) / np.where(
                beta_a != 0, beta_a, 1.0
            )
            beta_b = (nBf * s_td_b - s_t_b * s_d_b) / np.where(
                den_b != 0, den_b, 1.0
            )
            t_fit_b = tau_a - ((s_d_b - beta_b * s_t_b) / nBf) / np.where(
                beta_b != 0, beta_b, 1.0
            )
        valid_a = (nAf >= 2) & (den_a != 0) & (beta_a < 0) & np.isfinite(t_fit_a)
        valid_b = (nBf >= 2) & (den_b != 0) & (beta_b > 0) & np.isfinite(t_fit_b)
        # inverse-variance weights for combining the two sides (sigma^2 is
        # common and cancels); same arithmetic as the scalar _fit
        with np.errstate(divide="ignore", invalid="ignore"):
            tbar_a = s_t_a / nAf
            s_c_a = s_tt_a - s_t_a * s_t_a / nAf
            dev_a = t_fit_a - tau_a - tbar_a
            var_a = (1.0 / nAf + dev_a * dev_a / s_c_a) / (beta_a * beta_a)
            tbar_b = s_t_b / nBf
            s_c_b = s_tt_b - s_t_b * s_t_b / nBf
            dev_b = t_fit_b - tau_a - tbar_b
            var_b = (1.0 / nBf + dev_b * dev_b / s_c_b) / (beta_b * beta_b)

        # two-sample fallback (the straddling samples' rem/into == the w=0
        # terms of the fit sums)
        ta = c_t[tp_last, sa_]
        tb = c_t[np_first, sb_]
        rem = np.where(a_at_dst, (1.0 - ta) * la, ta * la)
        into = np.where(b_at_src, tb * lb, (1.0 - tb) * lb)
        denom = rem + into
        frac = np.where(denom > 0, rem / np.where(denom > 0, denom, 1.0), 0.5)
        two_sample = tau_a + (tau_b - tau_a) * frac

        with np.errstate(invalid="ignore", divide="ignore"):
            w_a = 1.0 / var_a
            w_b = 1.0 / var_b
            refined = np.where(
                valid_a & valid_b,
                (w_a * t_fit_a + w_b * t_fit_b) / (w_a + w_b),
                np.where(valid_a, t_fit_a, np.where(valid_b, t_fit_b, two_sample)),
            )
            refined = np.minimum(np.maximum(refined, tau_a), tau_b)
        boundary = np.where(shared, refined, (tau_a + tau_b) / 2.0)
        run_last_time = run_last_time.copy()
        run_last_time[:-1] = np.where(contiguous, boundary, run_last_time[:-1])
    # edge_seq: position of run within its doc
    new_doc_run = np.empty(R, dtype=bool)
    new_doc_run[0] = True
    new_doc_run[1:] = run_doc[1:] != run_doc[:-1]
    doc_run_start = np.maximum.accumulate(np.where(new_doc_run, np.arange(R), 0))
    edge_seq = np.arange(R) - doc_run_start

    return pd.DataFrame(
        {
            "doc_id": np.asarray(doc_uniques)[run_doc],
            "edge_seq": edge_seq.astype("int32"),
            "edge_id": run_edge,
            "end_time": run_last_time,
            "n_pts": run_npts.astype("int32"),
            "n_present": n_present_per_doc[run_doc].astype("int32"),
        }
    )


def viterbi_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Batch-vectorized Viterbi over MANY docs at once, FLAT candidate rows
    (one row per (point, candidate), sorted by (doc_id, gps_idx, dist_m,
    edge_id)). Test/back-compat surface: builds the per-point padded
    tensors and delegates to ``_viterbi_core`` — the production path
    (``match_traces``) feeds the same core from Arrow list batches instead.
    Byte-equal to per-doc ``viterbi_one_doc``; asserted in tests.
    """
    cols = ["doc_id", "edge_seq", "edge_id", "end_time", "n_pts", "n_present"]
    if not len(pdf):
        return pd.DataFrame(columns=cols)

    doc_codes, doc_uniques = pd.factorize(pdf["doc_id"], sort=False)
    offsets = pdf["gps_idx"].to_numpy()
    times = pdf["time"].to_numpy(dtype="float64")
    gcp = pdf["gc_prev"].to_numpy(dtype="float64", na_value=0.0)
    has_cand = pdf["edge_id"].notna().to_numpy()
    e_id = pdf["edge_id"].to_numpy(dtype="float64", na_value=np.nan)
    e_src = pdf["src"].to_numpy(dtype="float64", na_value=np.nan)
    e_dst = pdf["dst"].to_numpy(dtype="float64", na_value=np.nan)
    e_dist = pdf["dist_m"].to_numpy(dtype="float64", na_value=np.nan)
    e_t = pdf["t_param"].to_numpy(dtype="float64", na_value=np.nan)
    e_len = pdf["len_m"].to_numpy(dtype="float64", na_value=np.nan)

    n_rows = len(pdf)
    # point index: one per distinct (doc, offset), in row order
    new_point = np.empty(n_rows, dtype=bool)
    new_point[0] = True
    new_point[1:] = (doc_codes[1:] != doc_codes[:-1]) | (offsets[1:] != offsets[:-1])
    point_idx = np.cumsum(new_point) - 1
    P = int(point_idx[-1]) + 1
    point_start = np.flatnonzero(new_point)
    slot = np.arange(n_rows) - point_start[point_idx]

    # per-point arrays (from each point's first row)
    p_doc = doc_codes[point_start]
    p_gidx = offsets[point_start]  # gps_idx per present point
    p_time = times[point_start]
    p_gc = gcp[point_start]

    # scatter candidate rows into (P, K) padded tensors
    ok = has_cand & (slot < K_SLOTS)
    pi, si = point_idx[ok], slot[ok]

    def scat(src, fill):
        out = np.full((P, K_SLOTS), fill, dtype="float64")
        out[pi, si] = src[ok]
        return out

    c_id = scat(e_id, np.nan)
    c_src = scat(e_src, np.nan)
    c_dst = scat(e_dst, np.nan)
    c_dist = scat(e_dist, np.inf)
    c_t = scat(e_t, 0.0)
    c_len = scat(e_len, 0.0)
    valid = np.zeros((P, K_SLOTS), dtype=bool)
    valid[pi, si] = True

    return _viterbi_core(
        doc_uniques, p_doc, p_gidx, p_time, p_gc,
        c_id, c_src, c_dst, c_dist, c_t, c_len, valid,
    )


# Arrow struct-field order matters twice: array_sort on the JVM side orders
# candidates lexicographically by field position — (dist_m, edge_id) first
# gives exactly the kernels' deterministic tie-break — and the kernel reads
# the child arrays back by these names.
CAND_STRUCT_FIELDS = ["dist_m", "edge_id", "src", "dst", "t_param", "len_m"]


def _viterbi_table(tbl: pa.Table) -> pd.DataFrame:
    """One-row-per-point Arrow table -> traversal runs via _viterbi_core."""
    cols = ["doc_id", "edge_seq", "edge_id", "end_time", "n_pts", "n_present"]
    if tbl.num_rows == 0:
        return pd.DataFrame(columns=cols)
    doc_codes, doc_uniques = pd.factorize(
        tbl.column("doc_id").to_pandas(), sort=False
    )
    p_gidx = tbl.column("gps_idx").to_numpy().astype(np.int64)
    p_time = tbl.column("time").to_numpy().astype(np.float64)
    p_gc = tbl.column("gc_prev").to_numpy().astype(np.float64)

    cands = tbl.column("cands")
    if isinstance(cands, pa.ChunkedArray):
        cands = cands.combine_chunks()
        if isinstance(cands, pa.ChunkedArray):  # older pyarrow keeps the wrapper
            cands = cands.chunk(0) if cands.num_chunks == 1 else pa.concat_arrays(
                cands.chunks
            )
    off = cands.offsets.to_numpy().astype(np.int64)  # absolute into .values
    counts = np.diff(off)
    vals = cands.values  # flat StructArray (absolute indexing)
    lo, hi = int(off[0]), int(off[-1])
    flat = {f: vals.field(f).to_numpy(zero_copy_only=False)[lo:hi] for f in CAND_STRUCT_FIELDS}

    P = tbl.num_rows
    pi_all = np.repeat(np.arange(P), counts)
    slot_all = np.arange(hi - lo) - np.repeat(off[:-1] - lo, counts)
    ok = slot_all < K_SLOTS
    pi, si = pi_all[ok], slot_all[ok]

    def scat(src, fill):
        out = np.full((P, K_SLOTS), fill, dtype="float64")
        out[pi, si] = src[ok]
        return out

    c_dist = scat(flat["dist_m"], np.inf)
    c_id = scat(flat["edge_id"].astype(np.float64), np.nan)
    c_src = scat(flat["src"].astype(np.float64), np.nan)
    c_dst = scat(flat["dst"].astype(np.float64), np.nan)
    c_t = scat(flat["t_param"], 0.0)
    c_len = scat(flat["len_m"], 0.0)
    valid = np.zeros((P, K_SLOTS), dtype=bool)
    valid[pi, si] = True

    return _viterbi_core(
        doc_uniques, doc_codes, p_gidx, p_time, p_gc,
        c_id, c_src, c_dst, c_dist, c_t, c_len, valid,
    )


def _runs_to_arrow(out: pd.DataFrame) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array(out["doc_id"], pa.string()),
            pa.array(out["edge_seq"].to_numpy(), pa.int32()),
            pa.array(out["edge_id"].to_numpy(), pa.int64()),
            pa.array(out["end_time"].to_numpy(), pa.float64()),
            pa.array(out["n_pts"].to_numpy(), pa.int32()),
            pa.array(out["n_present"].to_numpy(), pa.int32()),
        ],
        schema=_RUN_ARROW_SCHEMA,
    )


def _viterbi_partition_arrow(batches):
    """mapInArrow kernel: one-row-per-point batches arrive as sorted
    (doc_id, gps_idx) runs — one run per hash partition the coalesced task
    holds, so every doc's rows are contiguous — with the candidate struct
    array pre-sorted by (dist_m, edge_id) (JVM array_sort). A doc can
    straddle two Arrow batches of the same task, so the last (possibly
    incomplete) doc of each batch is buffered into the next.
    """
    buf: pa.Table | None = None
    for rb in batches:
        tbl = pa.Table.from_batches([rb])
        if buf is not None and buf.num_rows:
            tbl = pa.concat_tables([buf, tbl]).combine_chunks()
        if tbl.num_rows == 0:
            continue
        doc = tbl.column("doc_id").to_pandas().to_numpy()
        split_mask = doc != doc[-1]
        split = int(split_mask.nonzero()[0][-1]) + 1 if split_mask.any() else 0
        buf = tbl.slice(split)
        main = tbl.slice(0, split)
        if main.num_rows:
            out = _viterbi_table(main)
            if len(out):
                yield _runs_to_arrow(out)
    if buf is not None and buf.num_rows:
        out = _viterbi_table(buf)
        if len(out):
            yield _runs_to_arrow(out)


def with_gps_index(points: DataFrame) -> DataFrame:
    """Dense 0-based per-doc point index (ordered by offset) + ``gc_prev``
    (great-circle meters to the previous point). filter_traces emits both
    for free inside its existing window pass; use this helper only when
    feeding the matcher from raw (unfiltered) points."""
    from pyspark.sql import Window

    from conflation_spark.operators.trace_filter import haversine_m

    w = Window.partitionBy("doc_id").orderBy("offset")
    d = haversine_m(
        F.lag("lon").over(w), F.lag("lat").over(w), F.col("lon"), F.col("lat")
    )
    return points.withColumn(
        "gps_idx", (F.row_number().over(w) - 1).cast("int")
    ).withColumn("gc_prev", F.coalesce(d, F.lit(0.0)))


def match_traces(
    points: DataFrame, candidates: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """points + candidate rows -> traversal rows (MATCH_SCHEMA).

    Physical shape (zero extra shuffles off the bucketed checkpoint):
    candidate rows are collapsed to ONE ROW PER POINT — an in-partition
    hash aggregation on (doc_id, gps_idx) whose clustering requirement is
    satisfied by hash(doc_id) partitioning (subset co-partitioning; the
    session sets requireAllClusterKeysForCoPartition=false) — with the
    per-point candidates packed into a struct array that JVM ``array_sort``
    orders by (dist_m, edge_id), the kernels' deterministic tie-break.
    Then one repartition by doc_id (ELIDED when the input already carries
    hash(doc_id) partitioning, e.g. reading the bucketed filtered_points
    checkpoint), sortWithinPartitions(doc_id, gps_idx), a narrow coalesce
    to ``defaultParallelism`` tasks, and a mapInArrow Viterbi over the
    point rows. vs the flat-row round-2 form this sends
    ~45% fewer bytes through the stage's sort + Arrow boundary (point
    attrs once per point instead of once per candidate; gc_prev instead
    of lon+lat).

    A point with no candidate within the search radius is a gps_idx GAP —
    it breaks the Viterbi chain and counts toward the M1 unmatched ratio
    exactly like Valhalla's unmatched matched_points.

    ``points`` is consumed only for per-doc stats (t0 = first point time,
    n_points): a map-side-combined aggregation whose shuffle is one row per
    doc, joined onto the (small) traversal output — broadcast at bench
    scale, an ordinary small join beyond ``autoBroadcastJoinThreshold``.
    Doc sizes are bounded (~10^2 points), so hash partitioning by doc_id is
    skew-safe even with hot urban cells.
    """
    for req in ("gps_idx", "gc_prev"):
        if req not in candidates.columns:
            raise ValueError(
                f"candidates must carry {req} — build them from filter_traces "
                "output or matching.with_gps_index(points)"
            )
    spark = points.sparkSession
    cores = spark.sparkContext.defaultParallelism
    p = num_partitions or cores
    cand_struct = F.struct(*[F.col(f) for f in CAND_STRUCT_FIELDS])
    # repartition FIRST: hash(doc_id, p) satisfies the aggregation's
    # (doc_id, gps_idx) clustering as a subset, so the agg runs
    # in-partition with NO further exchange — and when the candidates
    # already carry hash(doc_id) partitioning (bucketed checkpoint), the
    # repartition itself elides, making the whole stage shuffle-free.
    per_point = (
        candidates.repartition(p, "doc_id")
        .groupBy("doc_id", "gps_idx")
        .agg(
            F.first("time").alias("time"),
            F.first("gc_prev").alias("gc_prev"),
            F.array_sort(F.collect_list(cand_struct)).alias("cands"),
        )
        .sortWithinPartitions("doc_id", "gps_idx")
        # narrow coalesce: each Python task takes whole hash partitions
        # back to back (a doc never spans two), so the kernel pays its
        # per-task fixed cost once per core, not once per partition
        .coalesce(cores)
    )
    runs = per_point.mapInArrow(
        _viterbi_partition_arrow, schema=RUN_SCHEMA
    )
    # the per-doc stats get the same one-task-per-core treatment; the
    # coalesce drops hash partitioning, which the broadcast join ignores
    meta = (
        points.groupBy("doc_id")
        .agg(
            F.min_by("time", "offset").alias("t0"),
            F.count(F.lit(1)).cast("int").alias("n_points"),
        )
        .coalesce(cores)
    )
    out = runs.join(meta, "doc_id")  # AQE broadcasts the per-doc side
    return out.select(
        "doc_id",
        "edge_seq",
        "edge_id",
        (F.col("end_time") - F.col("t0")).alias("elapsed_time"),
        "n_pts",
        "n_points",
        (F.col("n_points") - F.col("n_present")).cast("int").alias("n_unmatched"),
        "t0",
    )
