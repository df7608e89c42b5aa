"""Barrier-mode trainer: the whole boosting loop in ONE Spark job.

This is the fast path, mirroring the architecture of the reference's own
PySpark integration (`python-package/xgboost/spark/core.py:1128`
``dataset.mapInPandas(_train_booster, barrier=True)`` with per-worker
ring-allreduce sync): each barrier task materializes its partition once,
quantizes it against the broadcast global cuts, and runs the identical
deterministic tree-growth loop; per-level gradient histograms are summed
across tasks with a ring allreduce (`xgboost_spark/collective.py`,
reference `src/collective/allreduce.cc:21-129`).  Because the reduced
histograms are bit-identical on every rank and all random draws come
from the same seeded generator, every task grows the same trees; task 0
returns the model.

Why it exists alongside the per-level DataFrame path
(`plans/booster.py`): a depth-6, 100-round training is ~700 level
aggregations.  As DataFrame jobs those cost a scheduler round-trip each
(~0.3-1 s fixed, regardless of data size); inside one barrier job the
same sync is a millisecond-scale allreduce.  The DataFrame path remains
the declarative, oracle-checkable form and the fallback for operators
that need global relational context (Cox partial likelihood, adaptive
leaves, per-round re-sketch, eval-set metrics).

Scale: per-task memory = its partition's quantized matrix (int16) —
size partitions so each fits (same contract as the reference Spark
wrapper's per-worker DMatrix).  Allreduce payloads are nodes x features
x (bins+1) x 2 float64, independent of row count.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import time
from collections import defaultdict
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from xgboost_spark import core
from xgboost_spark.collective import RingComm
from xgboost_spark.config import TrainParams
from xgboost_spark.local.booster import (_NumpyHistBuilder,
                                          _NumpyMultiHistBuilder)

#: per-task wall-clock attribution for the barrier loop (guide §1:
#: measure before optimizing).  Written only inside barrier tasks;
#: rank 0 dumps it to $SPARK_GRAFT_PROF when that env var names a file.
#: Zero overhead concerns: a handful of float adds per tree level.
_PROF: dict[str, float] = defaultdict(float)


class _AllreduceHistBuilder(_NumpyHistBuilder):
    """Local partial histogram + ring allreduce = global histogram
    (reference `SyncHistogram`, `src/tree/hist/histogram.h:177-188`)."""

    def __init__(self, Xb, cuts, n_bins, comm):
        super().__init__(Xb, cuts, n_bins)
        self.comm = comm

    def build(self, tree: core.Tree, nids: list[int]):
        t0 = time.perf_counter()
        hg, hh = super().build(tree, nids)
        t1 = time.perf_counter()
        red = self.comm.allreduce_sum(np.stack([hg, hh]))
        t2 = time.perf_counter()
        _PROF["hist_local"] += t1 - t0
        _PROF["hist_allreduce"] += t2 - t1
        _PROF["allreduce_calls"] += 1
        _PROF["allreduce_bytes"] += 2 * hg.nbytes
        return red[0], red[1]


class _AllreduceMultiHistBuilder(_NumpyMultiHistBuilder):
    """K-target stacked histograms + one allreduce (multi_output_tree)."""

    def __init__(self, Xb, cuts, n_bins, K, comm):
        super().__init__(Xb, cuts, n_bins, K)
        self.comm = comm

    def build(self, tree: core.Tree, nids: list[int]):
        hg, hh = super().build(tree, nids)
        red = self.comm.allreduce_sum(np.stack([hg, hh]))
        return red[0], red[1]




def _mvs_threshold_allreduce(comm, rag: np.ndarray, subsample: float,
                             coarse: int = 512,
                             max_rounds: int = 60) -> float:
    """Distributed MVS threshold: the u with
    ``sum_i min(1, rag_i / u) = floor(n_global * subsample)`` over ALL
    workers' rows (reference CalculateThreshold, sampler.cc — a
    single-machine sorted binary search there; here an iterative
    histogram refinement, one (count, sum) + one (min, max) allreduce
    per round, payload O(coarse) float64 — no row ever moves).

    Invariant per round: the breakpoint pair lies in the active value
    interval (lo, hi]; ``S_lo`` = global sum of rag <= lo, ``N_hi`` =
    global count of rag > hi.  Let F(t) = S(<=t)/t + N(>t) — the
    sampled mass at u=t, decreasing in t.  The first nonempty bin
    boundary with F <= k either yields the closed form
    u = S(prev)/(k - N(>prev)) on the value gap before it, or the
    breakpoint is among that bin's values and the search recurses into
    the bin; a single-distinct-value bin resolves exactly.  Every
    worker consumes identical allreduced statistics, so every worker
    computes the IDENTICAL u."""
    stats = comm.allreduce_sum(np.array([float(len(rag)),
                                         float(rag.sum())]))
    n_g, s_g = stats[0], stats[1]
    k = float(int(n_g * subsample))
    if k <= 0:
        return float("inf")
    mn_l = float(rag.min()) if len(rag) else np.inf
    mx_l = float(rag.max()) if len(rag) else -np.inf
    mn, mx = comm.allreduce_minmax(np.array([mn_l]), np.array([mx_l]))
    gmin, gmax = float(mn[0]), float(mx[0])
    if not np.isfinite(gmin) or gmin == gmax:
        # no rows anywhere / all rag equal: reference degenerate
        # fallback total / k
        return float(s_g / k) if s_g > 0 else float("inf")
    lo = np.nextafter(gmin, -np.inf)      # (lo, hi] holds every value
    hi = gmax
    S_lo, N_hi = 0.0, 0.0
    for _ in range(max_rounds):
        width = (hi - lo) / coarse
        in_iv = (rag > lo) & (rag <= hi)
        v = rag[in_iv]
        if width > 0:
            b = np.minimum(((v - lo) / width).astype(np.int64), coarse - 1)
        else:
            b = np.zeros(len(v), dtype=np.int64)
        cnt = np.bincount(b, minlength=coarse).astype(np.float64)
        sm = np.bincount(b, weights=v, minlength=coarse) if len(v) \
            else np.zeros(coarse)
        mns = np.full(coarse, np.inf)
        mxs = np.full(coarse, -np.inf)
        if len(v):
            np.minimum.at(mns, b, v)
            np.maximum.at(mxs, b, v)
        red = comm.allreduce_sum(np.concatenate([cnt, sm]))
        cnt, sm = red[:coarse], red[coarse:]
        mns, mxs = comm.allreduce_minmax(mns, mxs)
        ne = np.nonzero(cnt > 0.0)[0]          # nonempty bins, ascending
        if len(ne) == 0:
            # no breakpoints left in the interval: closed form
            denom = k - N_hi
            return float(S_lo / denom) if denom > 0 else float(s_g / k)
        pre_s = S_lo + np.cumsum(sm[ne])       # S(<= mxs[ne_m])
        post_n = N_hi + (np.cumsum(cnt[ne][::-1])[::-1] - cnt[ne])  # N(> mxs)
        t = mxs[ne]
        with np.errstate(divide="ignore", invalid="ignore"):
            Fv = np.where(t > 0.0, pre_s / np.where(t > 0.0, t, 1.0)
                          + post_n, np.inf)
        hit = np.nonzero(Fv <= k)[0]
        if len(hit) == 0:
            # even u = hi leaves more than k expected rows: breakpoint
            # pair is (hi, next value above], closed form
            denom = k - N_hi
            return float(pre_s[-1] / denom) if denom > 0 else float(s_g / k)
        m = int(hit[0])
        j = int(ne[m])
        prev_s = S_lo + (pre_s[m] - sm[j] - S_lo)   # S(<= prev boundary)
        n_from_j = N_hi
        for jj in ne[m:]:
            n_from_j += cnt[jj]
        # candidate: breakpoint in the empty gap below bin j's values
        denom = k - n_from_j
        if denom > 0:
            u0 = prev_s / denom
            prev_t = mxs[ne[m - 1]] if m > 0 else lo
            if prev_t < u0 <= mns[j]:
                return float(u0)
        # breakpoint among bin j's values: recurse into the bin
        S_lo = prev_s
        N_hi = N_hi + float(post_n[m] - N_hi)       # N(> mxs[j])
        if mns[j] == mxs[j]:
            # single distinct value v0 (count c): below-or-above v0
            v0, c = float(mns[j]), float(cnt[j])
            d1 = k - (N_hi + c)
            if d1 > 0 and 0.0 < S_lo / d1 <= v0:
                return float(S_lo / d1)
            d2 = k - N_hi
            if d2 > 0:
                return float((S_lo + c * v0) / d2)
            return float(s_g / k)
        lo = np.nextafter(float(mns[j]), -np.inf)
        hi = float(mxs[j])
    denom = k - N_hi
    return float(S_lo / denom) if denom > 0 else float(s_g / k)


def _approx_rebin(comm, Xb_fine, h, fine_cuts, cat_mask, max_bin):
    """Per-round hessian-weighted re-sketch (reference approx updater,
    `updater_approx.cc:95-130`) without touching raw values: features are
    pre-binned at fine resolution (4x max_bin); the weighted quantile
    boundaries are picked from ONE allreduced (feature x fine-bin)
    hessian histogram, and re-quantization is a per-feature LUT.  Error
    is bounded by the fine grid — the same approximation class as a
    direct weighted sketch at 4x resolution.

    Trees grown on the coarse binning are remapped back to the FINE bin
    space afterwards (`_remap_split_bins`), so margins, eval sets and
    DART corrections all traverse one consistent binned matrix.

    Returns (Xb_coarse, coarse_cuts, bounds_list) where
    ``bounds_list[f]`` maps coarse bin -> last fine bin it covers
    (None = feature not re-binned)."""
    n, Fn = Xb_fine.shape
    fineB = max(len(c) for c in fine_cuts)
    hist = np.zeros(Fn * (fineB + 1))
    if n:
        hw = np.abs(h).sum(axis=1) if h.ndim == 2 else np.abs(h)
        for f in range(Fn):
            b = Xb_fine[:, f].astype(np.int64)
            b = np.where(b == core.MISSING_BIN, fineB, b)
            hist[f * (fineB + 1):(f + 1) * (fineB + 1)] += np.bincount(
                b, weights=hw, minlength=fineB + 1)[: fineB + 1]
    hist = comm.allreduce_sum(hist).reshape(Fn, fineB + 1)
    Xb_c = Xb_fine.copy()
    coarse_cuts = []
    bounds_list = []
    for f in range(Fn):
        nf = len(fine_cuts[f])
        if (cat_mask is not None and cat_mask[f]) or nf <= max_bin:
            coarse_cuts.append(np.asarray(fine_cuts[f], dtype=np.float64))
            bounds_list.append(None)
            continue
        w = hist[f, :nf]
        W = w.sum()
        if W <= 0:      # no hessian mass this round: even fine-bin merge
            bounds = np.linspace(0, nf - 1, max_bin).astype(np.int64)
        else:
            cum = np.cumsum(w)
            targets = W * np.arange(1, max_bin) / max_bin
            bounds = np.searchsorted(cum, targets, side="left")
            bounds = np.unique(np.append(bounds, nf - 1))
        lut = np.searchsorted(bounds, np.arange(nf), side="left").astype(np.int16)
        bounds_list.append(bounds)
        coarse_cuts.append(np.asarray(fine_cuts[f], dtype=np.float64)[bounds])
        col = Xb_fine[:, f]
        Xb_c[:, f] = np.where(col == core.MISSING_BIN, core.MISSING_BIN,
                              lut[np.maximum(col, 0)])
    return Xb_c, coarse_cuts, bounds_list


def _rebin_from_bounds(Xb_fine, fine_cuts, bounds_list):
    """Re-apply a persisted coarse binning (checkpoint resume of the
    const-hess sketch-once cadence): the round-0 bounds are global, so
    every rank reconstructs its own coarse matrix with the same LUT
    application as `_approx_rebin` — resumed fits keep the ORIGINAL
    round-0 cuts instead of re-sketching at the resume round."""
    Xb_c = Xb_fine.copy()
    coarse_cuts = []
    for f, bounds in enumerate(bounds_list):
        fc = np.asarray(fine_cuts[f], dtype=np.float64)
        if bounds is None:
            coarse_cuts.append(fc)
            continue
        lut = np.searchsorted(bounds, np.arange(len(fc)),
                              side="left").astype(np.int16)
        col = Xb_fine[:, f]
        Xb_c[:, f] = np.where(col == core.MISSING_BIN, core.MISSING_BIN,
                              lut[np.maximum(col, 0)])
        coarse_cuts.append(fc[bounds])
    return Xb_c, coarse_cuts


def _remap_split_bins(tree: core.Tree, bounds_list) -> None:
    """Rewrite a tree grown in a round's coarse bin space back into the
    global FINE bin space: coarse split ``b <= sb`` == fine split
    ``b_fine <= bounds[sb]`` (the LUT is monotone).  ``split_value`` is
    already the raw-domain boundary and needs no change."""
    for nid in range(tree.n_nodes):
        f = tree.feature[nid]
        if f < 0 or tree.categories[nid] is not None:
            continue
        b = bounds_list[f]
        if b is not None:
            tree.split_bin[nid] = int(b[tree.split_bin[nid]])


def _leaf_quantile_refresh(comm, tree, Xb, resid, w, alpha, eta, n_hist=2048,
                           leaf=None):
    """UpdateTreeLeaf for CUSTOM adaptive objectives in barrier mode
    (no built-in reference objective is adaptive — this reference has no
    UpdateTreeLeaf; kept for custom objectives that set adaptive_alpha;
    cf. upstream-style
    `regression_obj.cu:745-753`): per-leaf weighted residual quantiles
    from ONE min/max allreduce + ONE histogram allreduce.  Quantile error
    is bounded by (max-min)/n_hist — the same accuracy class as the
    DataFrame path's percentile_approx."""
    n_nodes = tree.n_nodes
    if len(resid):
        mn_l, mx_l = float(resid.min()), float(resid.max())
    else:
        mn_l, mx_l = np.inf, -np.inf
    mn, mx = comm.allreduce_minmax(np.array([mn_l]), np.array([mx_l]))
    mn, mx = float(mn[0]), float(mx[0])
    if not np.isfinite(mn):
        return
    scale = (mx - mn) or 1.0
    hist = np.zeros(n_nodes * n_hist)
    if len(resid):
        if leaf is None:
            leaf = core.tree_leaf_ids(tree, Xb, binned=True)
        b = np.clip(((resid - mn) / scale * n_hist).astype(np.int64),
                    0, n_hist - 1)
        ww = w if w is not None else np.ones(len(resid))
        hist = np.bincount(leaf.astype(np.int64) * n_hist + b, weights=ww,
                           minlength=n_nodes * n_hist)
    hist = comm.allreduce_sum(hist).reshape(n_nodes, n_hist)
    for nid in range(n_nodes):
        if tree.left[nid] != -1:
            continue
        row = hist[nid]
        tot = row.sum()
        if tot <= 0:
            continue
        cum = np.cumsum(row)
        t = alpha * tot
        i = int(np.searchsorted(cum, t))
        i = min(i, n_hist - 1)
        prev = cum[i - 1] if i > 0 else 0.0
        frac = (t - prev) / row[i] if row[i] > 0 else 0.5
        tree.leaf_value[nid] = eta * (mn + (i + frac) * scale / n_hist)


def supports_barrier(p: TrainParams, obj, evals, callbacks, xgb_model,
                     has_qid: bool = False) -> tuple[bool, str]:
    from xgboost_spark.functions.metrics import barrier_metric_supported
    if p.tree_method not in ("hist", "approx"):
        return False, f"tree_method={p.tree_method} is unsupported"
    if p.booster not in ("gbtree", "dart"):
        return False, f"booster={p.booster} uses the DataFrame path"
    if p.booster == "dart" and p.multi_strategy == "multi_output_tree":
        return False, "dart + multi_output_tree is unsupported"
    if obj.needs_global_sort:
        return False, "survival:cox needs a global sort (DataFrame path)"

    if callbacks:
        return False, "callbacks run on the DataFrame path"
    if evals:
        from xgboost_spark.plans.booster import _effective_metrics
        metric_names = _effective_metrics(p, obj)
        for mname in metric_names:
            if not barrier_metric_supported(mname, has_qid):
                return False, (f"metric {mname!r} needs a global sort "
                               "(DataFrame path)")
    return True, ""


def _splits_balanced(split_rows: dict[int, int] | None,
                     n_splits: int) -> bool:
    """True when every one of ``n_splits`` scan splits was counted and
    the fullest holds at most 1.1x the mean (one split is balanced)."""
    if n_splits == 1:
        return True
    if not split_rows or sorted(split_rows) != list(range(n_splits)):
        return False
    return max(split_rows.values()) <= 1.1 * sum(split_rows.values()) / n_splits


def fit_barrier(params: TrainParams, obj, raw: DataFrame, fnames: list[str],
                cuts: list[np.ndarray], cat_mask, base_score: float,
                mono, isets, n_part: int,
                evals_raw: list[tuple[DataFrame, str]] | None = None,
                prev_state: dict | None = None,
                split_rows: dict[int, int] | None = None,
                ) -> tuple[list[list[core.Tree]], dict, int | None]:
    """Run the boosting loop in one barrier job.

    Eval sets ride in the SAME job: tagged with a ``_role`` column,
    co-partitioned with the training rows, re-binned with the training
    cuts (QuantileDMatrix ``ref=`` semantics); per-round metrics are
    allreduced partial sums (`functions/metrics.py metric_partial_np`,
    reference metric allreduce `src/metric/elementwise_metric.cu`), so
    early stopping decides identically on every rank.

    ``split_rows``: ``{scan split index: rows}`` counted by the sketch
    scan (`operators/sketch.py approx_cuts`); the scan's splits become
    the barrier tasks only when these show them balanced.

    Returns (trees per round, eval history, best_iteration).
    """
    import pyspark.sql.functions as F
    p = params
    K = p.n_groups
    spark = raw.sparkSession
    sc = spark.sparkContext
    n_part = max(1, min(n_part, sc.defaultParallelism))  # barrier needs a slot per task
    has_w = "weight" in raw.columns
    has_bm = "base_margin" in raw.columns
    has_q = "qid" in raw.columns
    has_b = obj.needs_bounds
    has_y = "label" in raw.columns
    evals_raw = evals_raw or []
    eval_names = [nm for _, nm in evals_raw]
    from xgboost_spark.plans.booster import _effective_metrics
    metric_names = _effective_metrics(p, obj) if evals_raw else []
    esr = p.early_stopping_rounds

    need = list(fnames)
    for c, flag in (("label", has_y), ("weight", has_w), ("base_margin", has_bm),
                    ("qid", has_q), ("label_lower", has_b), ("label_upper", has_b)):
        if flag:
            need.append(c)
    sel = raw.select(*need).withColumn("_role", F.lit(0))
    for i, (ev_raw, _nm) in enumerate(evals_raw):
        ev = ev_raw
        for c in need:      # tolerate absent optional cols on eval frames
            if c not in ev.columns:
                ev = ev.withColumn(
                    c, F.lit(1.0 if c == "weight" else 0.0).cast("double"))
        sel = sel.unionByName(ev.select(*need).withColumn("_role", F.lit(i + 1)))
    need_r = need + ["_role"]
    _mpb_restore = None
    if has_q:
        # ranking co-locates query groups: the hash shuffle is the point
        sel = sel.repartition(n_part, "qid")
    else:
        # Non-ranking training doesn't care where a row lives, so when
        # the scan's own splits already give every rank an even share
        # they ARE the barrier tasks, and the fit skips a round trip of
        # the whole training set through the shuffle before the first
        # gradient (measured sf10: scan+barrier 28-35 s vs 51-99 s with
        # the repartition).  Adoption needs both of:
        #  - no eval frames: Spark rejects a unionByName under a barrier
        #    stage [SPARK-24820];
        #  - split row counts known to be balanced (max <= 1.1 x mean),
        #    counted by the sketch scan the fit already ran.  A parquet
        #    file with one row group (pyarrow writes any file under ~1M
        #    rows that way) is cut into byte ranges of which only one
        #    holds rows; adopting those put every row on one rank while
        #    the others waited in allreduce.
        # When the scan has more splits than slots, grow
        # spark.sql.files.maxPartitionBytes (re-read at action-planning
        # time, so the SAME plan re-splits) until they fit; the sketch's
        # counts then no longer describe the splits, so that branch
        # adopts on the split count alone.  Everything else pays the
        # repartition (barrier stages also forbid coalesce()).

        def _np_in() -> int:
            return sel.rdd.getNumPartitions()

        key = "spark.sql.files.maxPartitionBytes"

        def _parse_bytes(v: str) -> int:
            s_ = str(v).strip().lower()
            for suf, mult in (("pb", 1 << 50), ("tb", 1 << 40),
                              ("gb", 1 << 30), ("mb", 1 << 20),
                              ("kb", 1 << 10), ("p", 1 << 50),
                              ("t", 1 << 40), ("g", 1 << 30),
                              ("m", 1 << 20), ("k", 1 << 10), ("b", 1)):
                if s_.endswith(suf):
                    return int(float(s_[: -len(suf)]) * mult)
            return int(s_)

        adopt = False
        if not evals_raw:
            np_in = _np_in()
            if np_in > n_part:
                _mpb_restore = spark.conf.get(key, "134217728")
                mpb = _parse_bytes(_mpb_restore)
                for _ in range(4):
                    mpb = int(mpb * (np_in / n_part) * 1.05)
                    spark.conf.set(key, str(mpb))
                    np_in = _np_in()
                    if np_in <= n_part:
                        break
                adopt = n_part * 0.6 <= np_in <= n_part
            else:
                adopt = (n_part * 0.6 <= np_in
                         and _splits_balanced(split_rows, np_in))
        if adopt:
            n_part = np_in                      # scan splits ARE the tasks
        else:
            if _mpb_restore is not None:
                spark.conf.set(key, _mpb_restore)
                _mpb_restore = None
            sel = sel.repartition(n_part)

    # everything from here through the barrier action runs under one
    # try/finally: an exception ANYWHERE after the maxPartitionBytes
    # mutation above (setup validation, broadcasts, the action itself)
    # must still restore the session conf — see the finally below
    try:
        bc_cuts = sc.broadcast([np.asarray(c, dtype=np.float64) for c in cuts])
        bc_cat = sc.broadcast(cat_mask)
        bc_prev = sc.broadcast(prev_state) if prev_state is not None else None
        seed = p.seed

        # fault tolerance (TrainParams.checkpoint_dir): rank 0 periodically
        # persists the model-so-far; a retried barrier job — or a re-issued
        # fit() after a failure — resumes from it instead of round 0.
        # Exactness: plain boosting replays margins from the stored trees
        # (immutable history); DART re-weights historical trees, so its
        # checkpoint carries a per-round dropout/rescale EVENT LOG and
        # resume replays the exact float-op sequence (same dw expressions,
        # same order) — bit-identical either way.  multi_output_tree +
        # adaptive leaves (history refreshed after the margin update) stays
        # rejected.
        ckpt_path = None
        if p.checkpoint_dir:
            if (p.booster == "dart"
                    and K > 1 and p.multi_strategy == "multi_output_tree"):
                raise ValueError(
                    "checkpoint_dir: dart resume replays the per-round "
                    "dropout/rescale event log, which assumes weighted "
                    "scalar-leaf margin updates; multi_output_tree ignores "
                    "tree weights and is unsupported")
            if (K > 1 and p.multi_strategy == "multi_output_tree"
                    and obj.adaptive_alpha is not None):
                raise ValueError(
                    "checkpoint_dir: exact resume needs immutable historical "
                    "trees; multi_output_tree+custom adaptive leaves are "
                    "unsupported")
            os.makedirs(p.checkpoint_dir, exist_ok=True)
            ckpt_path = os.path.join(p.checkpoint_dir, "barrier_ckpt.pkl")
        # fingerprint of everything resume-exactness depends on: a stale
        # checkpoint from a DIFFERENT configuration (params, features,
        # partitioning, data intercept) sharing the dir must be rejected,
        # not silently resumed into the wrong model
        ckpt_fp = hashlib.md5(repr((
            sorted((k, repr(v)) for k, v in vars(p).items()
                   if k != "checkpoint_dir"),
            list(fnames), int(n_part),
            np.asarray(base_score, dtype=np.float64).tolist(),
        )).encode()).hexdigest()

        from xgboost_spark.functions.metrics import metric_finalize, metric_partial_np
        from xgboost_spark.plans.booster import _compute_grads, _maximize

        # captured driver-side so a mid-session A/B toggle reaches the
        # (env-frozen) reused executor Python workers
        ar_mode = os.environ.get("SPARK_GRAFT_ALLREDUCE", "hd")
        prof_path_cfg = os.environ.get("SPARK_GRAFT_PROF")

        # Driver-side rendezvous server (round-15 optimization): every
        # BarrierTaskContext.barrier()/allGather() RPC costs a fixed
        # ~1.0 s in this Spark build (the coordinator reply is polled
        # on a 1 s tick), which was the whole "rendezvous floor" of the
        # fit profile.  The ranks exchange (ip, port) through this
        # millisecond-latency server instead; one server per fit, so
        # concurrent fits never cross-wire.  p=1 jobs skip rendezvous
        # entirely (rank count is local task metadata).
        # SPARK_GRAFT_RENDEZVOUS=allgather restores the old path (A/B).
        rdv = None
        rdv_addr = None
        if (n_part > 1 and os.environ.get(
                "SPARK_GRAFT_RENDEZVOUS", "driver") != "allgather"):
            from xgboost_spark.collective import RendezvousServer
            rdv = RendezvousServer(n_part)
            rdv_addr = rdv.address
            # executors reach the driver at spark.driver.host (the
            # address every executor already uses for RPC); interface
            # sniffing is only the local-mode fallback
            drv_host = sc.getConf().get("spark.driver.host", None)
            if drv_host:
                rdv_addr = (drv_host, rdv_addr[1], rdv_addr[2])

        def train_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import BarrierTaskContext

            # bind the EXECUTOR module's _PROF (cloudpickle copies
            # module globals referenced by a nested function by value,
            # so without this the hist builders — imported by reference
            # — would write to a different dict than the one dumped)
            from xgboost_spark.plans.barrier import _PROF
            ctx = BarrierTaskContext.get()
            _PROF.clear()
            _t_task0 = time.perf_counter()
            comm = RingComm.create(ctx, mode=ar_mode, rendezvous=rdv_addr)
            _PROF["rendezvous"] = time.perf_counter() - _t_task0
            try:
                cuts_l = bc_cuts.value
                cm = bc_cat.value
                _t_sec = time.perf_counter()
                parts = [pdf for pdf in it if len(pdf)]
                if parts:
                    full = pd.concat(parts, ignore_index=True)
                else:
                    full = pd.DataFrame({c: pd.Series([], dtype="float64")
                                         for c in need_r})

                Fn = len(fnames)

                def load_rows(pdf):
                    """(Xb, y, w, q, bounds, margin) for one role's rows."""
                    nn = len(pdf)
                    Xb_ = np.empty((nn, Fn), dtype=np.int16)
                    for i, c in enumerate(fnames):
                        x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
                        Xb_[:, i] = (core.bin_categorical(x, len(cuts_l[i]))
                                     if cm is not None and cm[i]
                                     else core.bin_values(x, cuts_l[i]))
                    bounds_ = None
                    # copies, not views: a view would pin the frame's
                    # whole float block for the rest of the loop
                    if has_b:
                        yl = pdf["label_lower"].to_numpy(dtype=np.float64,
                                                         copy=True)
                        yu = pdf["label_upper"].to_numpy(dtype=np.float64,
                                                         na_value=np.inf,
                                                         copy=True)
                        bounds_ = (yl, yu)
                        y_ = (pdf["label"].to_numpy(dtype=np.float64,
                                                    copy=True)
                              if has_y else yl)
                    else:
                        y_ = pdf["label"].to_numpy(dtype=np.float64, copy=True)
                    w_ = (pdf["weight"].to_numpy(dtype=np.float64, copy=True)
                          if has_w else None)
                    q_ = (pdf["qid"].to_numpy(dtype=np.int64, copy=True)
                          if has_q else None)
                    if has_bm:
                        # base_margin REPLACES base_score (predictor.cc:66)
                        m_ = np.repeat(pdf["base_margin"]
                                       .to_numpy(dtype=np.float64)[:, None], K, 1)
                    else:
                        m_ = np.full((nn, K), base_score, dtype=np.float64)
                    if bc_prev is not None:
                        # training continuation (reference xgb_model,
                        # training.py:183): previous model's margin, raw-domain
                        # traversal on this task's rows
                        st_prev = bc_prev.value
                        Xr = np.column_stack([
                            pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
                            for c in fnames]) if nn else np.empty((0, Fn))
                        core.apply_model_margin(m_, st_prev["trees"],
                                                st_prev["weights"], Xr, False, K)
                    return Xb_, y_, w_, q_, bounds_, m_

                role = (full["_role"].to_numpy(dtype=np.int64)
                        if "_role" in full.columns else np.zeros(len(full), np.int64))
                _PROF["materialize"] = time.perf_counter() - _t_sec
                _t_sec = time.perf_counter()
                Xb, y, w, q, bounds, margin = load_rows(full[role == 0])
                n = len(y)
                ev_states = [load_rows(full[role == i + 1])
                             for i in range(len(eval_names))]
                # the loop reads only what load_rows returned: free the
                # float frames before it starts
                del parts, full, role
                _PROF["bin_load"] = time.perf_counter() - _t_sec

                n_bins = max(len(c) for c in cuts_l)
                is_multi = K > 1 and p.multi_strategy == "multi_output_tree"
                is_approx = p.tree_method == "approx"
                # const-hess sketch-once cadence (updater_approx.cc:47-52
                # BatchSpec: regen = !const_hess): round 0's coarse
                # binning is cached and reused for every later round
                approx_cache = None
                builder = (_AllreduceMultiHistBuilder(Xb, cuts_l, n_bins, K, comm)
                           if is_multi
                           else _AllreduceHistBuilder(Xb, cuts_l, n_bins, comm))
                fw = (np.asarray(p.feature_weights, dtype=np.float64)
                      if p.feature_weights is not None else None)
                rng = np.random.default_rng(p.seed)
                n_forest = max(p.num_parallel_tree, 1)
                is_dart = p.booster == "dart"
                tree_weights: list[float] = []
                trees: list[list[core.Tree]] = []
                history: dict[str, dict[str, list[float]]] = {}
                best_it = None
                best_metric = None
                start_round = 0
                # DART resume needs the exact per-round op sequence, not
                # just final weights: one entry per completed round with the
                # dropped tree indices, their PRE-rescale weights, the
                # rescale factor and the new tree's weight
                dart_log: list[dict] = []
                if ckpt_path and os.path.exists(ckpt_path):
                    # resume: every rank reads the same checkpoint and
                    # replays the stored trees over its local rows in the
                    # EXACT accumulation order of the incremental updates,
                    # so margins — and therefore every subsequent round —
                    # are bit-identical to an uninterrupted run.  rng and
                    # objective state (e.g. lambdarank position-bias
                    # tables) ride along so stateful draws continue
                    # deterministically.
                    with open(ckpt_path, "rb") as fh:
                        ck = pickle.load(fh)
                    if ck.get("fingerprint") != ckpt_fp:
                        raise ValueError(
                            "checkpoint_dir holds a checkpoint from a "
                            "different fit configuration (params/features/"
                            "partitioning mismatch); refusing to resume — "
                            "clear the directory or use a distinct one per "
                            "fit")
                    if not 0 < ck["round"] < p.num_boost_round:
                        raise ValueError(
                            f"checkpoint round {ck['round']} is outside "
                            f"(0, {p.num_boost_round}); a completed or "
                            "corrupt checkpoint cannot be resumed")
                    trees = ck["trees"]
                    tree_weights = ck["tree_weights"]
                    history = ck["history"]
                    best_it, best_metric = ck["best_it"], ck["best_metric"]
                    rng = ck["rng"]
                    obj.__dict__.update(ck["obj_state"])
                    start_round = ck["round"]
                    dart_log = ck.get("dart_log", [])
                    replay = [(Xb, margin, True)] + [(st[0], st[5], False)
                                                     for st in ev_states]
                    for ri, rt in enumerate(trees):
                        ev = dart_log[ri] if (is_dart and ri < len(dart_log)) \
                            else None
                        for Xc, mc, is_train_m in replay:
                            if is_multi:
                                mc += core.tree_predict(rt[0], Xc, binned=True)
                                continue
                            if ev and ev["dropped"]:
                                # replay the round's rescale deltas with the
                                # SAME float expressions the live loop used
                                # (train and eval paths compute dw through
                                # different — algebraically equal, bitwise
                                # distinct — forms; see the loop below)
                                f_ = ev["factor"]
                                for di, d in enumerate(ev["dropped"]):
                                    w_old = ev["w_old"][di]
                                    dw = (w_old * (f_ - 1.0) if is_train_m
                                          else (w_old * f_) * (1.0 - 1.0 / f_))
                                    nf2 = len(trees[d]) // K
                                    for k2 in range(K):
                                        for j in range(nf2):
                                            mc[:, k2] += dw * core.tree_predict(
                                                trees[d][k2 * nf2 + j], Xc,
                                                binned=True)
                            w_r = ev["w_new"] if ev is not None else tree_weights[ri]
                            ti = 0
                            for k in range(K):
                                for _ in range(len(rt) // K):
                                    mc[:, k] += w_r * \
                                        core.tree_predict(rt[ti], Xc,
                                                          binned=True)
                                    ti += 1
                    if (is_approx and K == 1 and obj.const_hess
                            and ck.get("approx_bounds") is not None):
                        # rebuild the frozen round-0 coarse binning from
                        # the persisted bounds so the resumed fit keeps
                        # the original cuts (BatchSpec regen=!const_hess)
                        a_bounds = ck["approx_bounds"]
                        Xb_ca, cuts_ca = _rebin_from_bounds(Xb, cuts_l,
                                                            a_bounds)
                        nb_ca = max(len(c) for c in cuts_ca)
                        approx_cache = (Xb_ca, cuts_ca, a_bounds,
                                        _AllreduceHistBuilder(
                                            Xb_ca, cuts_ca, nb_ca, comm))
                for it_round in range(start_round, p.num_boost_round):
                    # DART dropout (reference gbtree.h:89-123 DropTrees):
                    # selection draws are deterministic from the shared rng,
                    # margin corrections are local rows
                    dropped: list[int] = []
                    if is_dart and trees:
                        if not (p.skip_drop > 0.0 and rng.random() < p.skip_drop):
                            if p.sample_type == "weighted":
                                wts = np.asarray(tree_weights)
                                probs = np.minimum(
                                    p.rate_drop * wts * len(wts)
                                    / max(wts.sum(), 1e-16), 1.0)
                                mask = rng.random(len(trees)) < probs
                            else:
                                mask = rng.random(len(trees)) < p.rate_drop
                            if p.one_drop and not mask.any():
                                mask[rng.integers(0, len(trees))] = True
                            dropped = [i for i in range(len(trees)) if mask[i]]
                    if dropped:
                        m_eff = margin.copy()
                        for ri in dropped:
                            nf = len(trees[ri]) // K
                            for k2 in range(K):
                                for j in range(nf):
                                    m_eff[:, k2] -= tree_weights[ri] * core.tree_predict(
                                        trees[ri][k2 * nf + j], Xb, binned=True)
                    else:
                        m_eff = margin
                    if obj.needs_global_scale:
                        # per-iteration global residual scale (reference
                        # MAE/quantile GlobalSum, regression_obj.cu:655-660 /
                        # quantile_obj.cu:139-142): one tiny allreduce of the
                        # per-target sqrt-residual sums, every worker then
                        # computes gradients with the SAME scale
                        m_sc = m_eff if K > 1 else m_eff[:, 0]
                        obj.set_scale(comm.allreduce_sum(
                            obj.scale_stats(y, m_sc, w)))
                    is_mvs = (p.subsample < 1.0
                              and getattr(p, "sampling_method", "uniform")
                              == "gradient_based")
                    _t_sec = time.perf_counter()
                    g, h = _compute_grads(obj, y, m_eff, w, q, seed + it_round,
                                          1.0 if is_mvs else p.subsample, K,
                                          bounds=bounds)
                    _PROF["grads"] += time.perf_counter() - _t_sec
                    if is_mvs:
                        # MVS gradient-based sampling (reference
                        # src/tree/hist/sampler.cc GradientBasedSampling):
                        # the threshold u is GLOBAL — every worker derives
                        # the identical u from allreduced histograms, then
                        # keeps row i w.p. min(1, rag_i/u) and rescales its
                        # gradients by 1/p (expectation-preserving)
                        rag = core.mvs_reg_abs_grad(g, h)
                        u = _mvs_threshold_allreduce(comm, rag, p.subsample)
                        mvs_rng = np.random.default_rng(
                            ((seed + it_round) * 1_000_003
                             + getattr(comm, "rank", 0)) & 0x7FFFFFFF)
                        core.apply_mvs(g, h, rag, u, mvs_rng)
                    if getattr(obj, "unbiased", False):
                        # position-bias update: sum this round's pair-cost
                        # accumulators over all workers, then every worker
                        # applies the SAME t+/t- tables (one tiny allreduce,
                        # mirroring the reference's distributed estimation)
                        costs = comm.allreduce_sum(obj.take_round_costs())
                        obj.apply_position_bias(costs)
                    fmask = None
                    if p.colsample_bytree < 1.0:
                        fmask = core._rng_mask(rng, Fn, p.colsample_bytree, weights=fw)
                    bounds_list = None
                    approx_groups = None
                    if is_approx and K == 1:
                        # per-round hessian-weighted re-quantization —
                        # except const-hess objectives (squarederror),
                        # whose round-0 binning is frozen (BatchSpec
                        # regen = !const_hess, updater_approx.cc:47-52)
                        if approx_cache is not None:
                            Xb_c, coarse_cuts, bounds_list, builder = \
                                approx_cache
                        else:
                            Xb_c, coarse_cuts, bounds_list = _approx_rebin(
                                comm, Xb, h, cuts_l, cm, p.max_bin)
                            nb_c = max(len(c) for c in coarse_cuts)
                            builder = _AllreduceHistBuilder(
                                Xb_c, coarse_cuts, nb_c, comm)
                            if obj.const_hess:
                                approx_cache = (Xb_c, coarse_cuts,
                                                bounds_list, builder)
                    elif is_approx and not is_multi:
                        # K>1 scalar groups: the reference regenerates the
                        # GHistIndexMatrix once per group — gbtree
                        # BoostNewTrees calls the updater per group and
                        # each Update re-sketches with THAT group's
                        # hessians (updater_approx.cc:283-298) — so each
                        # class gets its own coarse binning.  (approx +
                        # multi_output_tree is rejected at fit entry,
                        # matching CHECK(!IsMultiTarget),
                        # updater_approx.cc:166.)
                        approx_groups = []
                        for k in range(K):
                            Xb_ck, cuts_ck, bnd_k = _approx_rebin(
                                comm, Xb, h[:, k], cuts_l, cm, p.max_bin)
                            nb_ck = max(len(c) for c in cuts_ck)
                            approx_groups.append(
                                (_AllreduceHistBuilder(Xb_ck, cuts_ck,
                                                       nb_ck, comm), bnd_k))
                    approx_round = (bounds_list is not None
                                    or approx_groups is not None)
                    _t_sec = time.perf_counter()
                    round_trees: list[core.Tree] = []
                    if is_multi:
                        builder.set_grad(g, h)
                        tree = core.grow_tree_multi(builder, p, rng,
                                                    feature_mask_tree=fmask)
                        round_trees = [tree]
                    else:
                        for k in range(K):
                            if approx_groups is not None:
                                builder = approx_groups[k][0]
                            builder.set_grad(g[:, k], h[:, k])
                            forest = []
                            for _ in range(n_forest):
                                # root stats derive from the allreduced root
                                # histogram, matching the DataFrame path
                                tree = core.grow_tree(
                                    builder, p, rng,
                                    feature_mask_tree=fmask, monotone=mono,
                                    interaction_sets=isets, cat_features=cm)
                                forest.append(tree)
                            if n_forest > 1:
                                for t in forest:
                                    t.leaf_value = [v / n_forest
                                                    for v in t.leaf_value]
                            round_trees.extend(forest)
                    _PROF["grow"] += time.perf_counter() - _t_sec
                    _t_sec = time.perf_counter()
                    if bounds_list is not None:
                        # back to the global fine bin space: all later
                        # traversals use the one persistent binned matrix
                        for t in round_trees:
                            _remap_split_bins(t, bounds_list)
                    elif approx_groups is not None:
                        for ti, t in enumerate(round_trees):
                            bnd_k = approx_groups[ti // n_forest][1]
                            if bnd_k is not None:
                                _remap_split_bins(t, bnd_k)
                    if is_multi:
                        if bounds_list is not None:
                            # approx: split bins were remapped to the fine
                            # space — the coarse builder's cache no longer
                            # matches the tree; route on the fine matrix
                            margin += core.tree_predict(round_trees[0], Xb,
                                                        binned=True)
                        else:
                            margin += round_trees[0].finalize_arrays()[
                                "leaf_value"][
                                    builder.leaf_assignment(round_trees[0])]
                    if obj.adaptive_alpha is not None:
                        aa = obj.adaptive_alpha
                        for ti, t in enumerate(round_trees):
                            k_r = ti // n_forest
                            _leaf_quantile_refresh(
                                comm, t, Xb, y - margin[:, k_r], w,
                                aa[k_r] if isinstance(aa, tuple) else aa, p.eta,
                                leaf=(builder.leaf_assignment(t)
                                      if not approx_round else None))
                    # DART normalization (reference normalize_type semantics)
                    kdrop = len(dropped)
                    if is_dart and kdrop > 0:
                        if p.normalize_type == "forest":
                            w_new = 1.0 / (1.0 + p.eta)
                            factor = 1.0 / (1.0 + p.eta)
                        else:
                            w_new = 1.0 / (kdrop + p.eta)
                            factor = kdrop / (kdrop + p.eta)
                        if is_dart:
                            dart_log.append({
                                "dropped": list(dropped),
                                "w_old": [tree_weights[ri] for ri in dropped],
                                "factor": factor, "w_new": w_new})
                        for ri in dropped:
                            dw = tree_weights[ri] * (factor - 1.0)
                            nf = len(trees[ri]) // K
                            for k2 in range(K):
                                for j in range(nf):
                                    margin[:, k2] += dw * core.tree_predict(
                                        trees[ri][k2 * nf + j], Xb, binned=True)
                            tree_weights[ri] *= factor
                    else:
                        w_new = 1.0
                        if is_dart:
                            dart_log.append({"dropped": [], "w_old": [],
                                             "factor": 1.0, "w_new": w_new})
                    if not is_multi:
                        ti = 0
                        for k in range(K):
                            for _ in range(n_forest):
                                t_new = round_trees[ti]
                                if approx_round:
                                    # approx: tree remapped to fine bins —
                                    # the coarse builder cache is invalid
                                    margin[:, k] += w_new * core.tree_predict(
                                        t_new, Xb, binned=True)
                                else:
                                    # builder-cached incremental assignment:
                                    # only the final level routes (full
                                    # re-traversal was a per-round
                                    # O(n*depth) tax in the sf10 profile)
                                    lid = builder.leaf_assignment(t_new)
                                    margin[:, k] += w_new * \
                                        t_new.finalize_arrays()["leaf_value"][lid]
                                ti += 1
                    trees.append(round_trees)
                    tree_weights.append(w_new)
                    _PROF["margin_update"] += time.perf_counter() - _t_sec
                    _t_sec = time.perf_counter()
                    # eval-set margins + allreduced metrics (EvalOneIter,
                    # reference learner.cc:1164-1194)
                    last = None
                    for ei, (Xe, ye, we, qe, be, me) in enumerate(ev_states):
                        if is_multi:
                            me += core.tree_predict(round_trees[0], Xe, binned=True)
                        else:
                            if is_dart and kdrop > 0:
                                # dropped trees were re-weighted w_old -> w_old*factor;
                                # apply the delta (tree_weights[ri] is already new)
                                for ri in dropped:
                                    dw = tree_weights[ri] * (1.0 - 1.0 / factor)
                                    nf = len(trees[ri]) // K
                                    for k2 in range(K):
                                        for j in range(nf):
                                            me[:, k2] += dw * core.tree_predict(
                                                trees[ri][k2 * nf + j], Xe, binned=True)
                            ti = 0
                            for k in range(K):
                                for _ in range(n_forest):
                                    me[:, k] += w_new * core.tree_predict(
                                        round_trees[ti], Xe, binned=True)
                                    ti += 1
                        for mname in metric_names:
                            num, den = metric_partial_np(
                                mname, ye, me, we, bounds=be, obj=obj, qid=qe,
                                exp_gain=p.ndcg_exp_gain)
                            rn, rd = comm.allreduce_scalar(num, den)
                            val = metric_finalize(mname, rn, rd)
                            history.setdefault(eval_names[ei], {}).setdefault(
                                mname, []).append(val)
                            last = val
                    _PROF["eval"] += time.perf_counter() - _t_sec
                    if esr and last is not None:
                        better = (best_metric is None or
                                  (last > best_metric if _maximize(metric_names[-1])
                                   else last < best_metric))
                        if better:
                            best_metric, best_it = last, it_round
                        elif it_round - best_it >= esr:
                            break
                    if (ckpt_path and comm.rank == 0
                            and (it_round + 1) % max(p.checkpoint_interval, 1) == 0
                            and (it_round + 1) < p.num_boost_round):
                        # atomic write (tmp + rename): a task killed
                        # mid-write can never leave a torn checkpoint
                        tmp = ckpt_path + ".tmp"
                        with open(tmp, "wb") as fh:
                            pickle.dump({"round": it_round + 1, "trees": trees,
                                         "tree_weights": tree_weights,
                                         "history": history,
                                         "best_it": best_it,
                                         "best_metric": best_metric,
                                         "rng": rng,
                                         "fingerprint": ckpt_fp,
                                         "dart_log": dart_log,
                                         # const-hess approx: the frozen
                                         # round-0 binning rides along so
                                         # a resume keeps the same cuts
                                         "approx_bounds": (
                                             approx_cache[2]
                                             if approx_cache is not None
                                             else None),
                                         "obj_state": obj.__dict__}, fh)
                        os.replace(tmp, ckpt_path)
                _PROF["task_total"] = time.perf_counter() - _t_task0
                prof_path = prof_path_cfg or os.environ.get("SPARK_GRAFT_PROF")
                if prof_path and comm.rank == 0:
                    import json as _json
                    with open(prof_path, "w") as fh:
                        _json.dump({k: (round(v, 4) if isinstance(v, float)
                                        else v)
                                    for k, v in _PROF.items()}, fh)
                if comm.rank == 0:
                    yield pd.DataFrame(
                        {"model": [pickle.dumps(
                            (trees, history, best_it, tree_weights))]})
            finally:
                comm.close()

        try:
            rows = sel.mapInPandas(train_fn, schema="model binary",
                                   barrier=True).collect()
        finally:
            if rdv is not None:
                rdv.close()
    finally:
        if _mpb_restore is not None:
            # the scan-resize conf is only needed while THIS action
            # plans; restore so later jobs see the session default —
            # on EVERY exit path, including exceptions raised anywhere
            # between the mutation and the action (setup validation,
            # broadcasts, a failed barrier job).  Caveat: the mutation
            # is session-global while it lasts, so a concurrent query
            # planned in the SAME session during a fit would see the
            # inflated value — acceptable for this engine's one-fit-at-
            # a-time sessions; migrate to a per-relation read option if
            # Spark ever offers one.
            raw.sparkSession.conf.set(
                "spark.sql.files.maxPartitionBytes", _mpb_restore)
    if not rows:
        raise RuntimeError("barrier training returned no model")
    out = pickle.loads(bytes(rows[0]["model"]))
    # a COMPLETED fit owns no resume state — only a failed/killed one
    # leaves its checkpoint behind (streaming checkpointLocation
    # semantics: re-running with the same dir resumes the failure).
    # checkpoint_dir's contract is a DRIVER-VISIBLE shared filesystem
    # (same as a streaming checkpointLocation); if an exotic mount hides
    # it from the driver, the fingerprint guard above still rejects the
    # leftover on any later differently-configured fit.
    if ckpt_path and os.path.exists(ckpt_path):
        try:
            os.remove(ckpt_path)
        except OSError:
            pass
    return out
