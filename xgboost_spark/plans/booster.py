"""Distributed boosting driver — the Spark-native `xgb.train`.

Two execution strategies (`TrainParams.exec_mode`):

- **barrier** (default via ``auto`` when supported): the whole boosting
  loop in one `mapInPandas(barrier=True)` job with ring-allreduce
  histogram sync — see `plans/barrier.py`.  ~100× fewer Spark jobs.
- **dataframe** (this module's loop): one job per tree level +
  one margin pass per round; fully declarative and oracle-checkable;
  required for global-context training (cox, adaptive leaves, approx
  re-sketch, eval sets/early stopping, DART, continuation).

Lifecycle mirrors the reference (`src/learner.cc:1114-1139`,
`src/gbm/gbtree.cc:182-275`) re-expressed for Spark's execution model:

- the quantized matrix lives in a cached DataFrame that is NEVER
  mutated during a tree: rows are routed to nodes by traversing the
  broadcast partial tree inside the histogram pass (see
  operators/histogram.py) — one Spark job per tree level;
- the prediction cache (`include/xgboost/cache.h`, used
  `learner.cc:1128`) becomes persisted margin columns: after each round
  ONE Arrow-batched pass adds the new trees' leaf values to the margin
  and computes the next round's gradients, then `localCheckpoint`
  truncates the lineage (at cluster scale use a reliable checkpoint
  dir; the pattern is identical);
- gradients/hessians are fp64 columns (reference accumulates
  `GradientPairPrecise`, `src/common/hist_util.h:388`).

Per-round Spark jobs: depth (histogram levels) + 1 (margin/grad update)
+ |evals| — independent of cluster size and of the number of tree nodes.
"""

from __future__ import annotations

from collections.abc import Iterator

import os
import time

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xgboost_spark import core
from xgboost_spark.config import TrainParams
from xgboost_spark.functions import metrics as metrics_mod
from xgboost_spark.functions.objectives import get_objective
from xgboost_spark.operators.histogram import SparkHistBuilder
from xgboost_spark.operators.sketch import approx_cuts
from xgboost_spark.plans.model import GBDTModel
from xgboost_spark.sources.tables import assemble_features

# wall-clock of the LAST fit's fixed-overhead stages (prep = encode/
# assemble/validate, cuts = sketch job, base_score = intercept job,
# loop = the boosting loop itself).  Written by every _fit_impl call;
# read by bench.py to attribute startup-cost drift (a fit that slows
# down while per-tree throughput holds steady is hiding in one of the
# first three numbers).  Diagnostic only — never consumed by training.
FIT_STAGE_TIMES: dict[str, float] = {}


def _compute_grads(obj, y, m, w, q, seed, subsample, K, bounds=None):
    """Shared gradient kernel; subsample zeroes rows (reference
    `src/tree/hist/sampler.h:95-104` Bernoulli row sampling)."""
    if obj.needs_bounds and bounds is not None:
        mm = m[:, 0] if m.ndim > 1 else m
        g, h = obj.grad_hess_bounds(bounds[0], bounds[1], mm, w)
        g, h = g[:, None], h[:, None]
    elif obj.needs_qid and q is not None:
        g = np.zeros(len(y))
        h = np.zeros(len(y))
        mm = m[:, 0] if m.ndim > 1 else m
        for qv in np.unique(q):
            rows = q == qv
            gq, hq = obj.grad_hess_group(
                y[rows], mm[rows], None if w is None else w[rows],
                seed=int(seed) ^ int(qv),
            )
            g[rows], h[rows] = gq, hq
        g = g[:, None]
        h = h[:, None]
    else:
        mm = m if K > 1 else (m[:, 0] if m.ndim > 1 else m)
        g, h = obj.grad_hess(y, mm, w)
        if g.ndim == 1:
            g, h = g[:, None], h[:, None]
    if subsample < 1.0:
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        rng = np.random.default_rng((int(seed) * 1_000_003 + pid) & 0x7FFFFFFF)
        keep = rng.random(len(y)) < subsample
        g = g * keep[:, None]
        h = h * keep[:, None]
    return g, h


def meta_checks(raw: DataFrame, obj, objective_name: str) -> list:
    """(name, bad_row_bool_col, message) triples for the reference's
    MetaInfo::Validate + per-objective CheckLabel (src/data/data.cc
    "Label contains NaN/Inf", regression_loss.h label-range checks).
    Consumed two ways: a standalone column-pruned aggregation
    (:func:`validate_meta` — gblinear and pinned-cuts fits) or fused
    onto the cuts-sketch scan as extra sums (_fit_impl — saves one full
    corpus pass per fit; the checks themselves are identical)."""
    checks = []
    if "label" in raw.columns:
        y = F.col("label")
        bad = y.isNull() | F.isnan(y) | (F.abs(y) > 1e308)
        rng = getattr(obj, "label_range", None)
        if rng is not None:
            lo, hi, lo_excl = rng
            if np.isfinite(lo):
                bad = bad | ((y <= lo) if lo_excl else (y < lo))
            if np.isfinite(hi):
                bad = bad | (y > hi)
        checks.append(("bad_label", bad,
                       f"label contains NaN/Inf/null or values outside the "
                       f"valid range for objective {objective_name!r}"))
    if "weight" in raw.columns:
        wc = F.col("weight")
        badw = wc.isNull() | F.isnan(wc) | (wc < 0)
        checks.append(("bad_weight", badw,
                       "weights must be finite and >= 0"))
    if "label_lower" in raw.columns and "label_upper" in raw.columns:
        lo, hi = F.col("label_lower"), F.col("label_upper")
        # AFT censored intervals: lower finite >= 0, lower <= upper
        # (upper may be +inf or NULL for right-censored rows)
        badb = (lo.isNull() | F.isnan(lo) | (lo < 0)
                | (hi.isNotNull() & (F.isnan(hi) | (lo > hi))))
        checks.append(("bad_bounds", badb,
                       "survival bounds must satisfy 0 <= label_lower <= "
                       "label_upper (upper may be +inf)"))
    return checks


def raise_meta_violations(checks: list, counts) -> None:
    """Shared error surface for both validation paths: ``counts`` maps
    check name -> offending-row count (None/0 = clean)."""
    for key, _bad, msg in checks:
        n = counts.get(key) or 0
        if n > 0:
            raise ValueError(f"{msg} ({int(n)} offending rows)")


def validate_meta(raw: DataFrame, obj, objective_name: str) -> None:
    """Fail fast on invalid labels/weights; one column-pruned
    aggregation; without it a single NaN label silently poisons every
    leaf/coefficient in the model."""
    checks = meta_checks(raw, obj, objective_name)
    if not checks:
        return
    row = raw.agg(*[F.sum(bad.cast("long")).alias(name)
                    for name, bad, _ in checks]).first()
    raise_meta_violations(checks, {name: row[name] for name, _b, _m in checks})


class SparkBooster:
    """Train driver.  Usage::

        model = SparkBooster(TrainParams(...)).fit(
            df, feature_cols=[...], label_col="y")
    """

    def __init__(self, params: TrainParams, obj=None):
        """``obj``: optional custom objective — an `Objective` instance or
        a callable ``fn(y, margin, weight) -> (grad, hess)`` (the
        reference's ``xgb.train(obj=...)`` surface, `training.py:53`)."""
        self.params = params
        self.obj = get_objective(obj if obj is not None else params.objective, params)

    # ------------------------------------------------------------------
    def _schema(self, Fn: int, K: int, has_q: bool, with_grads: bool,
                with_bounds: bool = False, with_raw: bool = False) -> str:
        parts = [f"x{i} smallint" for i in range(Fn)]
        if with_raw:
            parts += [f"rawx{i} double" for i in range(Fn)]
        parts += ["y double", "w double"]
        if with_bounds:
            parts += ["yl double", "yu double"]
        if has_q:
            parts.append("q long")
        parts += [f"m{k} double" for k in range(K)]
        if with_grads:
            parts += [f"g{k} double" for k in range(K)]
            parts += [f"h{k} double" for k in range(K)]
        return ", ".join(parts)

    def _validate_meta(self, raw: DataFrame) -> None:
        validate_meta(raw, self.obj, self.params.objective)

    # expectileerror is NOT fusable: its InitEstimation is mean + a
    # per-alpha Newton step (regression_obj.cu:409-455), which needs a
    # second pass over (mean - y) — see _base_score
    _FUSED_BS_OBJECTIVES = (
        "reg:squarederror", "binary:logistic", "binary:logitraw",
        "reg:logistic", "count:poisson", "reg:gamma", "reg:tweedie")

    def _base_score_fuse_aggs(self, raw: DataFrame):
        """Fused-sum specs for the mean-family intercept, to ride the
        cuts-sketch scan (see _fit_impl; approx_cuts ``extra_sums``);
        None when the objective needs its own pass (AFT/custom/median)
        or has a fixed intercept."""
        from xgboost_spark.functions.objectives import CustomObjective
        if (self.params.objective not in self._FUSED_BS_OBJECTIVES
                or isinstance(self.obj, CustomObjective)
                or "label" not in raw.columns):
            return None
        w = "weight" if "weight" in raw.columns else None
        return [("_bs_sy", "label", w), ("_bs_sw", None, w)]

    def _base_score_from_fused(self, row) -> float | None:
        sy, sw = row["_bs_sy"], row["_bs_sw"]
        if sw is None or sw == 0.0:
            raise ValueError("training dataset is empty (no rows / zero "
                             "total weight)")
        if sy is None:
            return None
        v = float(sy) / float(sw)
        name = self.params.objective
        if name in ("binary:logistic", "binary:logitraw", "reg:logistic"):
            pmean = min(max(v, 1e-7), 1 - 1e-7)
            return float(np.log(pmean / (1 - pmean)))
        if name in ("count:poisson", "reg:gamma", "reg:tweedie"):
            return float(np.log(max(v, 1e-16)))
        return v

    def _base_score(self, raw: DataFrame) -> float:
        """Distributed fit_stump (reference `src/tree/fit_stump.h:34`,
        `src/objective/init_estimation.h:13-18`)."""
        p = self.params
        if p.base_score is not None:
            return float(p.base_score)
        name = p.objective
        if name.startswith("rank:"):
            # FitIntercept over pair gradients at margin 0 is exactly 0
            # (every pair contributes +lambda/-lambda)
            return 0.0
        if name == "survival:aft":
            # the reference's AFTObj does not override InitEstimation:
            # plain DefaultBaseScore (objective.cc:34-38)
            return 0.5
        if name == "survival:cox":
            # FitIntercept stump over the Breslow gradients at margin 0
            # (regression_obj.cu:517), distributed with the same
            # prefix-scan shape as _cox_grad_pass: at m=0, e^m = 1, so
            # per distinct |time| t the risk-set terms reduce to row
            # weights; G = sum(w*R(t)) - sum(event w),
            # H = sum(w*R(t)) - sum(w^2*R2(t))
            from xgboost_spark.operators.scan import prefix_sums
            n_part = raw.sparkSession.sparkContext.defaultParallelism
            w_c = (F.col("weight") if "weight" in raw.columns
                   else F.lit(1.0))
            per_t = (raw.groupBy(F.abs(F.col("label")).alias("t"))
                     .agg(F.sum(w_c).alias("e"),
                          F.sum(w_c * w_c).alias("e2"),
                          F.sum(F.when(F.col("label") > 0, w_c)
                                .otherwise(0.0)).alias("dw")))
            tot = per_t.agg(F.sum("e").alias("te")).first()["te"]
            s1 = prefix_sums(per_t, "t", ["e"], n_part)
            s1 = s1.withColumn(
                "S", F.greatest(F.lit(tot) - F.col("cum_e") + F.col("e"),
                                F.lit(1e-300)))
            s1 = (s1.withColumn("rr", F.col("dw") / F.col("S"))
                  .withColumn("rr2",
                              F.col("dw") / (F.col("S") * F.col("S"))))
            s2 = prefix_sums(s1, "t", ["rr", "rr2"], n_part)
            r = s2.agg(
                F.sum(F.col("e") * F.col("cum_rr")).alias("wr"),
                F.sum(F.col("e2") * F.col("cum_rr2")).alias("w2r2"),
                F.sum("dw").alias("sdw")).first()
            G = float(r["wr"]) - float(r["sdw"])
            H = float(r["wr"]) - float(r["w2r2"])
            return float(-G / max(H, 1e-6))
        if name in ("reg:squaredlogerror", "reg:pseudohubererror",
                    "binary:hinge"):
            # FitIntercept (init_estimation.cc:8-27): one distributed
            # Newton stump from the gradients at margin 0, then the
            # objective's own PredTransform (hinge -> 0/1 indicator;
            # identity for the others, and ProbToMargin is identity)
            obj0 = self.obj
            has_w0 = "weight" in raw.columns

            def ghz_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                G = H = 0.0
                for pdf in it:
                    yv = pdf["label"].to_numpy(dtype=np.float64)
                    w_ = (pdf["weight"].to_numpy(dtype=np.float64)
                          if has_w0 else None)
                    g, h = obj0.grad_hess(yv, np.zeros(len(pdf)), w_)
                    G += g.sum()
                    H += h.sum()
                yield pd.DataFrame({"G": [G], "H": [H]})

            r = (raw.mapInPandas(ghz_fn, schema="G double, H double")
                 .agg(F.sum("G").alias("G"), F.sum("H").alias("H")).first())
            w0 = float(-r["G"] / max(r["H"], 1e-6))
            if name == "binary:hinge":
                return 1.0 if w0 > 0 else 0.0
            return w0
        from xgboost_spark.functions.objectives import CustomObjective
        if isinstance(self.obj, CustomObjective):
            if self.obj._bs is not None:
                return float(self.obj._bs)
            # generic distributed Newton stump on the custom gradient
            obj = self.obj
            has_w = "weight" in raw.columns

            def gh0_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                G = H = 0.0
                for pdf in it:
                    yv = pdf["label"].to_numpy(dtype=np.float64)
                    w_ = (pdf["weight"].to_numpy(dtype=np.float64) if has_w else None)
                    g, h = obj.grad_hess(yv, np.zeros(len(pdf)), w_)
                    G += g.sum()
                    H += h.sum()
                yield pd.DataFrame({"G": [G], "H": [H]})

            r = (raw.mapInPandas(gh0_fn, schema="G double, H double")
                 .agg(F.sum("G").alias("G"), F.sum("H").alias("H")).first())
            return float(-r["G"] / max(r["H"], 1e-16))
        w = F.col("weight") if "weight" in raw.columns else F.lit(1.0)
        y = F.col("label")
        if name == "reg:expectileerror":
            # reference InitEstimation (regression_obj.cu:409-455):
            # label mean, then ONE unregularized Newton step per alpha
            # at pred=mean (FitStump, -g/max(h, kRtEps)), clamped
            # monotone non-decreasing; ProbToMargin (:478-485) converts
            # the stacked expectile-space intercepts back to raw margin
            # space (gap -> SoftPlusInv).  Two tiny scans: mean, then
            # 2K conditional sums.
            from xgboost_spark.functions.objectives import (
                _RT_EPS, Expectile)
            alphas = p.expectile_alphas
            r = raw.agg((F.sum(y * w) / F.sum(w)).alias("v")).first()
            if r["v"] is None:
                raise ValueError("training dataset is empty (no rows / "
                                 "zero total weight)")
            mean = float(r["v"])
            d = F.lit(mean) - y
            aggs = []
            for i, a in enumerate(alphas):
                ws = F.when(d >= 0, 1.0 - a).otherwise(a) * w
                aggs += [F.sum(ws * d).alias(f"g{i}"),
                         F.sum(ws).alias(f"h{i}")]
            row = raw.agg(*aggs).first()
            out = np.array([mean - float(row[f"g{i}"])
                            / max(float(row[f"h{i}"]), _RT_EPS)
                            for i in range(len(alphas))])
            if len(alphas) == 1:
                return float(out[0])
            return Expectile.margins_from_expectiles(out)
        if name in ("reg:squarederror",):
            r = raw.agg((F.sum(y * w) / F.sum(w)).alias("v")).first()
            if r["v"] is None:
                raise ValueError("training dataset is empty (no rows / "
                                 "zero total weight)")
            return float(r["v"])
        if name in ("binary:logistic", "binary:logitraw", "reg:logistic"):
            r = raw.agg((F.sum(y * w) / F.sum(w)).alias("v")).first()
            pmean = min(max(float(r["v"]), 1e-7), 1 - 1e-7)
            return float(np.log(pmean / (1 - pmean)))
        if name in ("count:poisson", "reg:gamma", "reg:tweedie"):
            r = raw.agg((F.sum(y * w) / F.sum(w)).alias("v")).first()
            return float(np.log(max(float(r["v"]), 1e-16)))
        if name == "reg:absoluteerror":
            # reference MeanAbsoluteError::InitEstimation
            # (regression_obj.cu:686-739): label mean + one FitStump step
            # of the MM gradient at that mean.  Three tiny scans: mean,
            # the automatic scale delta, then the (G, H) sums.
            from xgboost_spark.functions.objectives import _RT_EPS
            r = raw.agg(F.sum(y * w).alias("sy"), F.sum(w).alias("sw")).first()
            if r["sw"] is None or float(r["sw"]) == 0.0:
                raise ValueError("training dataset is empty (no rows / "
                                 "zero total weight)")
            mean = float(r["sy"]) / float(r["sw"])
            resid = F.lit(mean) - y
            s = float(raw.agg(F.sum(w * F.sqrt(F.abs(resid))).alias("s"))
                      .first()["s"])
            delta = ((s / float(r["sw"])) ** 2
                     if float(r["sw"]) > _RT_EPS else 0.0)
            norm = F.hypot(F.lit(delta), resid)
            curv = F.when(norm > 0.0, F.lit(delta) / norm).otherwise(F.lit(1.0))
            gh = raw.agg(F.sum(w * resid * curv).alias("G"),
                         F.sum(w * curv).alias("H")).first()
            return mean + float(-gh["G"] / max(gh["H"], _RT_EPS))
        if name == "reg:quantileerror":
            # reference QuantileRegression::InitEstimation
            # (quantile_obj.cu:200-265): per-alpha label quantile —
            # interpolated R-6 unweighted, step-function weighted
            # (common/stats.h:34-103).  Exact and scale-safe via the
            # iterative-histogram selection (no sort, no global window).
            alphas = [float(a) for a in p.quantile_alpha]
            if "weight" in raw.columns:
                from xgboost_spark.operators.sketch import \
                    weighted_step_quantiles
                vals = weighted_step_quantiles(raw, "label", "weight", alphas)
                if np.isnan(vals[0]):
                    raise ValueError("training dataset is empty (no rows / "
                                     "zero total weight)")
            else:
                from xgboost_spark.operators.sketch import exact_rank_values
                n = raw.filter(F.col("label").isNotNull()
                               & ~F.isnan("label")).count()
                if n == 0:
                    raise ValueError("training dataset is empty (no rows / "
                                     "zero total weight)")
                plan = []        # (alpha) -> (k0_rank, k1_rank, d) or value
                need: set[int] = set()
                for a in alphas:
                    if a <= 1.0 / (n + 1):
                        plan.append((1, None, 0.0)); need.add(1)
                    elif a >= n / (n + 1.0):
                        plan.append((n, None, 0.0)); need.add(n)
                    else:
                        x = a * (n + 1.0)
                        k = int(np.floor(x) - 1)       # 0-based lower
                        d = (x - 1.0) - k
                        plan.append((k + 1, k + 2, d))
                        need.update((k + 1, k + 2))
                rv = exact_rank_values(raw, "label", sorted(need))
                vals = [rv[r0] if r1 is None
                        else rv[r0] + d * (rv[r1] - rv[r0])
                        for r0, r1, d in plan]
            if len(vals) == 1:
                return float(vals[0])
            return np.asarray(vals, dtype=np.float64)
        return 0.5

    # ------------------------------------------------------------------
    def fit(self, df: DataFrame, feature_cols: list[str] | None = None,
            array_col: str | None = None,
            categorical_features: list | None = None,
            evals: list[tuple[DataFrame, str]] | None = None,
            **kw) -> GBDTModel:
        """Train; see :meth:`_fit_impl` for the full surface.  STRING
        feature columns are ordinal-encoded here first (reference
        `src/encoder/ordinal.h` CatContainer: dictionary learned at fit,
        stored in the model, applied at predict) and routed through the
        categorical split path; a string column is treated as
        categorical whether or not it is listed in
        ``categorical_features``."""
        from xgboost_spark.sources.encoder import (
            encode_ordinal, fit_ordinal_encoder)
        dt = dict(df.dtypes)
        listed = list(categorical_features or [])
        str_cats = [c for c in (feature_cols or [])
                    if dt.get(c) == "string"]
        for c in listed:
            if isinstance(c, str) and dt.get(c) == "string" and c not in str_cats:
                str_cats.append(c)
        mapping = {}
        if str_cats:
            mapping = fit_ordinal_encoder(df, str_cats)
            df = encode_ordinal(df, mapping)
            evals = [(encode_ordinal(ev, mapping), name)
                     for ev, name in (evals or [])] or None
            listed = listed + [c for c in str_cats if c not in listed]
        model = self._fit_impl(df, feature_cols=feature_cols,
                               array_col=array_col,
                               categorical_features=listed or None,
                               evals=evals, **kw)
        if mapping:
            model.category_maps = mapping
        model.missing = kw.get("missing")
        return model

    def _fit_impl(self, df: DataFrame, feature_cols: list[str] | None = None,
            array_col: str | None = None, label_col: str = "label",
            weight_col: str | None = None, base_margin_col: str | None = None,
            qid_col: str | None = None,
            label_lower_col: str | None = None,
            label_upper_col: str | None = None,
            evals: list[tuple[DataFrame, str]] | None = None,
            cuts: list[np.ndarray] | None = None,
            num_partitions: int | None = None,
            callbacks: list | None = None,
            xgb_model: GBDTModel | None = None,
            categorical_features: list | None = None,
            custom_metric=None, maximize: bool | None = None,
            missing: float | None = None,
            verbose: bool = False) -> GBDTModel:
        """``custom_metric``: callable ``fn(eval_df) -> (name, value)``
        over the internal eval frame (columns ``y``, ``w``, ``m0..mK-1``
        [, ``q``]) — the reference's ``feval`` surface (`training.py:53`
        ``custom_metric``).  ``maximize`` overrides the early-stopping
        direction (else inferred from the last metric's name)."""
        _t0 = time.monotonic()
        FIT_STAGE_TIMES.clear()
        for _, _ev_name in (evals or []):
            # reference CallbackContainer.after_iteration asserts this
            # (callback.py:263): history keys are parsed by splitting the
            # eval string on '-', so a dash in the set name corrupts them
            if "-" in _ev_name:
                raise ValueError(
                    f"Dataset name should not contain `-`: {_ev_name!r}")
        if self.params.early_stopping_rounds and not evals:
            # reference EarlyStopping.after_iteration (callback.py:449):
            # silent no-op stopping would be a footgun, so fail up front
            raise ValueError(
                "Must have at least 1 validation dataset for early "
                "stopping.")
        if (self.params.early_stopping_rounds and evals
                and not self.params.eval_metric
                and self.params.disable_default_eval_metric
                and custom_metric is None):
            # same footgun through the r14 disable_default_eval_metric
            # path: zero metrics -> an empty evals_log -> the reference
            # raises rather than silently never stopping
            raise ValueError(
                "early stopping requires at least one metric: "
                "eval_metric is empty, disable_default_eval_metric is "
                "set, and no custom_metric was given")
        p = self.params
        K = p.n_groups
        spark = df.sparkSession
        sc = spark.sparkContext
        obj = self.obj
        obj.set_scale(None)      # never reuse a previous fit's scale
        if hasattr(obj, "weight_norm"):
            obj.weight_norm = 1.0    # per-fit; recomputed below when qid+weights
        has_b = obj.needs_bounds
        is_cox = obj.needs_global_sort
        is_approx = p.tree_method == "approx"
        if p.tree_method not in ("hist", "approx"):
            raise ValueError(f"unsupported tree_method {p.tree_method!r} "
                             "(exact greedy is not distributed; use hist)")
        if p.multi_strategy == "multi_output_tree" and obj.adaptive_alpha is not None:
            raise NotImplementedError(
                "custom adaptive-leaf objectives (adaptive_alpha set) need "
                "scalar leaves — use multi_strategy='one_output_per_tree'")
        if is_approx and p.multi_strategy == "multi_output_tree" and K > 1:
            # reference: CHECK(!p_tree->IsMultiTarget()) << "approx" <<
            # MTNotImplemented() (updater_approx.cc:166)
            raise NotImplementedError(
                "approx is not yet implemented for multi-target trees — "
                "use tree_method='hist' or "
                "multi_strategy='one_output_per_tree'")
        if has_b and not (label_lower_col and label_upper_col):
            raise ValueError(f"{p.objective} needs label_lower_col and label_upper_col")
        eff_label = label_col if (label_col in df.columns or not has_b) else None
        raw, fnames = assemble_features(
            df, feature_cols=feature_cols, array_col=array_col, label_col=eff_label,
            weight_col=weight_col, base_margin_col=base_margin_col, qid_col=qid_col,
            label_lower_col=label_lower_col, label_upper_col=label_upper_col,
            missing=missing,
        )
        Fn = len(fnames)
        # label/weight/bounds validation (reference MetaInfo::Validate):
        # when a cuts sketch is about to scan the corpus anyway, the
        # bad-row counts ride THAT scan as fused sums (round-14
        # optimization — the standalone column-pruned aggregation was a
        # whole extra corpus pass per fit); fits with pre-built cuts
        # (continuation, pinned-cuts oracles) keep the standalone pass
        vm_checks = meta_checks(raw, self.obj, self.params.objective)
        # fail a vector-alpha eval metric that can't match this model's
        # output width BEFORE training starts (the kernels raise too,
        # but mid-barrier-job — reference CHECKs this upfront)
        for mname in (p.eval_metric or []):
            mbase, _, marg = mname.partition("@")
            if mbase.rstrip("-") in ("quantile", "expectile") and marg:
                n_alphas = len([a for a in marg.rstrip("-").split(",")
                                if a.strip()])
                if n_alphas > 1 and n_alphas != K:
                    raise ValueError(
                        f"eval_metric {mname!r} has {n_alphas} alphas but "
                        f"the model produces {K} output group(s)")
        FIT_STAGE_TIMES["prep"] = round(time.monotonic() - _t0, 3)
        _t1 = time.monotonic()
        feat_names_out = feature_cols if (feature_cols and not array_col) else fnames
        if p.feature_weights is not None:
            if isinstance(p.feature_weights, dict):
                fwl = [float(p.feature_weights.get(c, 1.0)) for c in feat_names_out]
            else:
                fwl = [float(v) for v in p.feature_weights]
            if len(fwl) != Fn:
                raise ValueError(
                    f"feature_weights: {len(fwl)} weights for {Fn} features")
            p.feature_weights = fwl      # normalized; grow_tree reads it
        fw = (np.asarray(p.feature_weights, dtype=np.float64)
              if p.feature_weights is not None else None)
        has_q = qid_col is not None
        n_part = num_partitions or sc.defaultParallelism
        # Measured and rejected (round-14 optimization pass): round-robin
        # repartition + per-fit persist of a partition-starved input.
        # The single-row-group shuffle map is one core's work wherever it
        # runs — caching only MOVES it from the training job into the
        # sketch job (interleaved A/B at sf0.1: cuts 1.28->2.18 s, loop
        # 3.80->3.01 s, net ~zero) while adding cache-memory pressure at
        # scale, so the two-scan design stays.
        if has_q:
            raw = raw.repartition(n_part, "qid")   # co-locate ranking groups
            if hasattr(obj, "weight_norm"):
                # group-weight normalization n_groups / sum(w_group)
                # (ranking_utils.cc:37-44, applied lambdarank_obj.cc:
                # 245-249 as gpair * w * w_norm): computed ONCE per fit
                # — weights are immutable during training — as a tiny
                # two-level agg (per-group first() then a global
                # count/sum), global across all workers.  Unweighted
                # data stays at exactly 1.0 (sum w_group == n_groups).
                if "weight" in raw.columns:
                    # the same job also validates the ranking-weight
                    # contract: the reference sizes info.weights_ at
                    # n_groups (rank_metric.cc:295-296 CHECK_EQ +
                    # error::GroupWeight) — the per-row equivalent is
                    # weights CONSTANT within each group
                    r_wn = (raw.groupBy("qid")
                            .agg(F.first("weight").alias("w"),
                                 (F.max("weight") - F.min("weight"))
                                 .alias("spread"))
                            .agg(F.count("*").alias("n"),
                                 F.sum("w").alias("s"),
                                 F.max("spread").alias("mx")).first())
                    if r_wn is not None and float(r_wn["mx"] or 0.0) > 0.0:
                        raise ValueError(
                            "ranking weights must be per-GROUP: the "
                            "weight column varies within a qid group "
                            "(the reference sizes group weights at "
                            "n_groups — rank_metric.cc:295)")
                    if r_wn is not None and float(r_wn["s"] or 0.0) > 0.0:
                        obj.weight_norm = float(r_wn["n"]) / float(r_wn["s"])
        # training continuation (reference training.py:183 xgb_model):
        # reuse the previous model's cuts and start margins at its output
        prev_state = None
        if xgb_model is not None:
            if getattr(xgb_model, "base_score_vec", None) is not None:
                raise NotImplementedError(
                    "training continuation from a vector-intercept model "
                    "is unsupported; serve it with transform() instead")
            if cuts is None and xgb_model.cuts is not None:
                cuts = xgb_model.cuts
            prev_state = xgb_model._broadcastable()
        # categorical features: ordinal codes are the bins; cuts become
        # identity ranges sized by the observed max code
        cat_mask = None
        if categorical_features:
            cat_mask = np.zeros(Fn, dtype=bool)
            cat_idx = []
            for cname in categorical_features:
                if isinstance(cname, str) and cname in feat_names_out:
                    idx = feat_names_out.index(cname)
                elif isinstance(cname, int) or str(cname).isdigit():
                    idx = int(cname)
                else:
                    raise ValueError(
                        f"categorical_features: unknown feature {cname!r}; "
                        f"features are {feat_names_out}")
                cat_mask[idx] = True
                cat_idx.append(idx)
        barrier_eligible = False
        if p.exec_mode in ("auto", "barrier") and custom_metric is None:
            from xgboost_spark.plans.barrier import supports_barrier
            barrier_eligible, _ = supports_barrier(
                p, obj, evals, callbacks, xgb_model, has_qid=has_q)
        fused_bs = None
        n_rows = None       # known only when the sketch scan runs below
        split_rows = None   # rows per scan split, same
        if cuts is None:
            sketch_bins = p.max_bin
            if is_approx and barrier_eligible:
                # barrier approx pre-bins at 4x resolution; per-round
                # hessian-weighted re-sketch merges fine bins in-job
                # (plans/barrier.py _approx_rebin)
                sketch_bins = min(4 * p.max_bin, 2048)
            # the mean-family intercept is a plain agg over the same
            # frame — ride the sketch job so cuts + base score cost ONE
            # scan instead of two (fixed per-fit latency at any scale)
            bs_aggs = (self._base_score_fuse_aggs(raw)
                       if (p.base_score is None and xgb_model is None) else None)
            # an exact row count rides the same scan (one more fused
            # sum) — it sizes the barrier rank count below for free;
            # per-split counts ride it too and tell fit_barrier whether
            # the scan's splits are balanced enough to be its ranks
            cnt_spec = [("_n_rows_", None, None)]
            # ... and so do the meta-validation bad-row counts (each an
            # 0/1 flag column summed in the same pass)
            vm_src = raw
            vm_specs = []
            for name, bad, _msg in vm_checks:
                vm_src = vm_src.withColumn(f"_vm_{name}",
                                           bad.cast("double"))
                vm_specs.append((f"_vm_{name}", f"_vm_{name}", None))
            cuts, _bs_row = approx_cuts(
                vm_src, fnames, sketch_bins,
                extra_sums=(bs_aggs or []) + cnt_spec + vm_specs,
                split_rows=barrier_eligible)
            raise_meta_violations(
                vm_checks, {name: _bs_row.get(f"_vm_{name}")
                            for name, _b, _m in vm_checks})
            if bs_aggs:
                fused_bs = self._base_score_from_fused(_bs_row)
            _nr = _bs_row.get("_n_rows_")
            n_rows = int(_nr) if _nr is not None else None
            split_rows = _bs_row.get("_split_rows_")
        else:
            # pre-built cuts (continuation / pinned-cuts fits): no
            # sketch scan to ride, keep the standalone validation pass
            self._validate_meta(raw)
        if cat_mask is not None and cuts is not None:
            maxes = raw.agg(*[F.max(fnames[i]).alias(f"m{i}") for i in cat_idx]).first()
            cuts = list(cuts)
            for j, i in enumerate(cat_idx):
                n_cats = int(maxes[f"m{j}"] or 0) + 1
                cuts[i] = np.arange(max(n_cats, 2), dtype=np.float64)
        FIT_STAGE_TIMES["cuts"] = round(time.monotonic() - _t1, 3)
        _t1 = time.monotonic()
        base_score = (xgb_model.base_score if xgb_model is not None
                      else (fused_bs if fused_bs is not None
                            else self._base_score(raw)))
        FIT_STAGE_TIMES["base_score"] = round(time.monotonic() - _t1, 3)
        _t1 = time.monotonic()
        mono = self._parse_monotone(feat_names_out, Fn)
        isets = self._parse_interactions(feat_names_out, Fn)

        # fast path: whole boosting loop in ONE barrier job with in-job
        # ring-allreduce histogram sync (plans/barrier.py; the reference's
        # own Spark wrapper architecture, spark/core.py:1128)
        why = "exec_mode=dataframe"
        if p.exec_mode in ("auto", "barrier") and custom_metric is None:
            from xgboost_spark.plans.barrier import fit_barrier, supports_barrier
            ok, why = supports_barrier(p, obj, evals, callbacks, xgb_model,
                                       has_qid=has_q)
            if ok:
                evals_raw = []
                for ev_df, ev_name in (evals or []):
                    ev_raw, _ = assemble_features(
                        ev_df, feature_cols=feature_cols, array_col=array_col,
                        label_col=(label_col if (label_col in ev_df.columns
                                                 or not has_b) else None),
                        weight_col=weight_col, base_margin_col=base_margin_col,
                        qid_col=qid_col, label_lower_col=label_lower_col,
                        label_upper_col=label_upper_col, missing=missing)
                    evals_raw.append((ev_raw, ev_name))
                # Rank-count sizing (round-14 optimization pass): every
                # tree level is a full-mesh synchronization across all
                # ranks, so past the point where per-rank histogram
                # compute (~rows_per_rank x ~0.1 us/row/level) stops
                # covering the per-level collective latency (~10 ms at
                # p=16-32), extra ranks only enlarge the straggler pool.
                # Interleaved A/B, sf0.1 fit100: p=32 loop 10.5 s vs
                # p=16 7.7 s vs p=12 8.1 s.  Derive ranks from the row
                # count (known free from the sketch scan) at ~40k rows
                # per rank — the measured compute/latency crossover —
                # capped at the core budget; any real corpus exceeds
                # cores x 40k rows, so at scale this is exactly the old
                # all-cores behavior.  Explicit num_partitions and the
                # qid co-location path keep their contract; fits whose
                # cuts arrive pre-built (continuation) have no count and
                # keep the old sizing.
                bar_n_part = n_part
                if num_partitions is None and not has_q and n_rows:
                    rpr = int(os.environ.get(
                        "SPARK_GRAFT_ROWS_PER_RANK", "40000")) or 1
                    bar_n_part = min(n_part, max(1, -(-n_rows // rpr)))
                trees, history, best_it, bar_weights = fit_barrier(
                    p, obj, raw, fnames, cuts, cat_mask,
                    base_score, mono, isets, bar_n_part, evals_raw=evals_raw,
                    prev_state=prev_state, split_rows=split_rows)
                FIT_STAGE_TIMES["loop"] = round(time.monotonic() - _t1, 3)
                if verbose and history:
                    # the barrier job returns the full eval history in
                    # one shot — replay it in the reference
                    # EvaluationMonitor byte format (callback.py:545-569)
                    # so verbose output matches the DataFrame path
                    n_ep = max(len(v) for ms in history.values()
                               for v in ms.values())
                    for ep in range(n_ep):
                        parts = [f"{d}-{m}:{vals[ep]:.5f}"
                                 for d, ms in history.items()
                                 for m, vals in ms.items() if ep < len(vals)]
                        if parts:
                            print(f"[{ep}]\t" + "\t".join(parts))
                return self._assemble_model(
                    trees, bar_weights, xgb_model, base_score,
                    feat_names_out, cuts, best_it, history,
                    p.booster == "dart")
            if p.exec_mode == "barrier":
                raise ValueError(f"exec_mode=barrier unsupported here: {why}")
        if p.checkpoint_dir:
            # fault tolerance lives on the barrier path only; a user
            # relying on it must learn it is inactive, not find out at
            # the first mid-fit failure
            import warnings
            warnings.warn(
                "checkpoint_dir is set but this fit runs the DataFrame "
                f"execution path ({why}); barrier checkpoint/resume "
                "fault tolerance is inactive for this fit",
                RuntimeWarning, stacklevel=3)
        if getattr(obj, "unbiased", False):
            raise NotImplementedError(
                "lambdarank_unbiased trains on the barrier path (the t+/t- "
                "position-bias state is allreduced across rounds inside one "
                f"job; exec_mode=auto|barrier); blocked because: {why}")
        if (p.subsample < 1.0
                and getattr(p, "sampling_method", "uniform")
                == "gradient_based"):
            raise NotImplementedError(
                "sampling_method='gradient_based' (MVS) trains on the "
                "barrier path — its sampling threshold is a global "
                "statistic allreduced per round (exec_mode=auto|barrier); "
                f"blocked because: {why}")
        if is_approx and (p.n_groups > 1 or p.booster == "dart"
                          or obj.adaptive_alpha is not None):
            raise NotImplementedError(
                "tree_method=approx with multi-output, dart, or adaptive "
                "leaves trains on the barrier path (exec_mode=auto|barrier); "
                f"blocked because: {why}")
        if K > 1 and p.multi_strategy == "multi_output_tree":
            raise NotImplementedError(
                "multi_output_tree trains on the barrier path "
                f"(exec_mode=auto|barrier); blocked because: {why}")
        bc_prev = sc.broadcast(prev_state) if prev_state is not None else None
        bc_cuts = sc.broadcast([np.asarray(c) for c in cuts])
        bc_catmask = sc.broadcast(cat_mask)
        has_w = "weight" in raw.columns
        has_bm = "base_margin" in raw.columns
        subsample = p.subsample
        seed = p.seed

        def init_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cuts_l = bc_cuts.value
            cm = bc_catmask.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                out = {}
                for i, c in enumerate(fnames):
                    x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
                    out[f"x{i}"] = (core.bin_categorical(x, len(cuts_l[i]))
                                    if cm is not None and cm[i]
                                    else core.bin_values(x, cuts_l[i]))
                    if is_approx:
                        out[f"rawx{i}"] = x
                bounds = None
                if has_b:
                    yl = pdf["label_lower"].to_numpy(dtype=np.float64)
                    yu = pdf["label_upper"].to_numpy(dtype=np.float64, na_value=np.inf)
                    out["yl"], out["yu"] = yl, yu
                    bounds = (yl, yu)
                    y = (pdf["label"].to_numpy(dtype=np.float64)
                         if "label" in pdf.columns else yl)
                else:
                    y = pdf["label"].to_numpy(dtype=np.float64)
                w = pdf["weight"].to_numpy(dtype=np.float64) if has_w else np.ones(len(pdf))
                out["y"] = y
                out["w"] = w
                q = None
                if has_q:
                    q = pdf["qid"].to_numpy(dtype=np.int64)
                    out["q"] = q
                if has_bm:
                    # base_margin REPLACES base_score (predictor.cc:66)
                    m0 = np.repeat(pdf["base_margin"]
                                   .to_numpy(dtype=np.float64)[:, None], K, 1)
                else:
                    m0 = np.full((len(pdf), K), base_score, dtype=np.float64)
                if bc_prev is not None:
                    st_prev = bc_prev.value
                    Xr = np.column_stack([
                        pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
                        for c in fnames])
                    core.apply_model_margin(m0, st_prev["trees"],
                                            st_prev["weights"], Xr, False, K)
                for k in range(K):
                    out[f"m{k}"] = m0[:, k]
                if is_cox or obj.needs_global_scale:
                    # filled by the cox / global-scale pass
                    g = h = np.zeros((len(pdf), K))
                else:
                    g, h = _compute_grads(obj, y, m0, w if has_w else None, q,
                                          seed, subsample, K, bounds=bounds)
                for k in range(K):
                    out[f"g{k}"] = g[:, k]
                    out[f"h{k}"] = h[:, k]
                yield pd.DataFrame(out)

        train_schema = self._schema(Fn, K, has_q, with_grads=True, with_bounds=has_b,
                                    with_raw=is_approx)
        binned = raw.mapInPandas(init_fn, schema=train_schema)
        if not has_q:
            binned = binned.repartition(n_part)
        binned = binned.localCheckpoint(eager=True)
        if is_cox:
            binned = self._cox_grad_pass(binned, train_schema, n_part)
        elif obj.needs_global_scale:
            binned = self._scale_grad_pass(binned, train_schema, K, seed)

        # eval sets share the training cuts (QuantileDMatrix ref= semantics,
        # reference core.py:1434/:1473)
        eval_states = []
        for ev_df, ev_name in (evals or []):
            ev_raw, _ = assemble_features(
                ev_df, feature_cols=feature_cols, array_col=array_col,
                label_col=(label_col if (label_col in ev_df.columns or not has_b) else None),
                weight_col=weight_col, base_margin_col=base_margin_col, qid_col=qid_col,
                label_lower_col=label_lower_col, label_upper_col=label_upper_col,
            )

            def ev_init(it: Iterator[pd.DataFrame], _has_w=("weight" in ev_raw.columns),
                        _has_bm=("base_margin" in ev_raw.columns)) -> Iterator[pd.DataFrame]:
                cuts_l = bc_cuts.value
                cm = bc_catmask.value
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    out = {}
                    for i, c in enumerate(fnames):
                        x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
                        out[f"x{i}"] = (core.bin_categorical(x, len(cuts_l[i]))
                                        if cm is not None and cm[i]
                                        else core.bin_values(x, cuts_l[i]))
                        if is_approx:
                            out[f"rawx{i}"] = x
                    if has_b:
                        yl = pdf["label_lower"].to_numpy(dtype=np.float64)
                        yu = pdf["label_upper"].to_numpy(dtype=np.float64, na_value=np.inf)
                        out["yl"], out["yu"] = yl, yu
                        out["y"] = (pdf["label"].to_numpy(dtype=np.float64)
                                    if "label" in pdf.columns else yl)
                    else:
                        out["y"] = pdf["label"].to_numpy(dtype=np.float64)
                    out["w"] = (pdf["weight"].to_numpy(dtype=np.float64)
                                if _has_w else np.ones(len(pdf)))
                    if has_q:
                        out["q"] = pdf["qid"].to_numpy(dtype=np.int64)
                    if _has_bm:
                        m0 = np.repeat(pdf["base_margin"]
                                       .to_numpy(dtype=np.float64)[:, None],
                                       K, 1)
                    else:
                        m0 = np.full((len(pdf), K), base_score,
                                     dtype=np.float64)
                    if bc_prev is not None:
                        st_prev = bc_prev.value
                        Xr = np.column_stack([
                            pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
                            for c in fnames])
                        core.apply_model_margin(m0, st_prev["trees"],
                                                st_prev["weights"], Xr, False, K)
                    for k in range(K):
                        out[f"m{k}"] = m0[:, k]
                    yield pd.DataFrame(out)

            ev_binned = ev_raw.mapInPandas(
                ev_init, schema=self._schema(Fn, K, has_q, with_grads=False, with_bounds=has_b,
                                             with_raw=is_approx)
            ).localCheckpoint(eager=True)
            eval_states.append([ev_binned, ev_name])

        fcols = [f"x{i}" for i in range(Fn)]
        builders = [
            SparkHistBuilder(binned, fcols, cuts, gcol=f"g{k}", hcol=f"h{k}")
            for k in range(K)
        ]
        rng = np.random.default_rng(p.seed)
        trees: list[list[core.Tree]] = []
        tree_weights: list[float] = []
        is_dart = p.booster == "dart"
        history: dict[str, dict[str, list[float]]] = {}
        best_it, best_metric = None, None
        metric_names = _effective_metrics(p, obj)

        from xgboost_spark.functions.callbacks import TrainingState

        def _make_model():
            return self._assemble_model(
                trees, tree_weights, xgb_model, base_score, feat_names_out,
                cuts, best_it, history, is_dart)

        cb_state = TrainingState(p, _make_model)
        cb_state.xgb_model = xgb_model    # continuation offset for
        orig_eta = p.eta                  # EarlyStopping.starting_round
        for cb in (callbacks or []):
            cb.before_training(cb_state)

        cat_idx_skip = (list(np.nonzero(cat_mask)[0]) if cat_mask is not None else [])
        for it_round in range(p.num_boost_round):
            stop = False
            for cb in (callbacks or []):
                stop = cb.before_iteration(cb_state, it_round) or stop
            if stop:
                break
            p.eta = cb_state.eta      # LearningRateScheduler applies here

            if is_approx and (it_round == 0 or not obj.const_hess):
                # per-round hessian-weighted re-sketch + re-quantization
                # (reference approx updater, updater_approx.cc:95-130).
                # Cadence twin (updater_approx.cc:47-52 BatchSpec): the
                # GHistIndexMatrix regen flag is !const_hess, so
                # reg:squarederror sketches ONCE — round 0, weighted by
                # that round's hessians — and reuses the cuts; every
                # other objective re-sketches per round.  (Known
                # divergence on this composed fallback path only: K>1
                # groups share one sketch weighted by group-0 hessians,
                # where the reference regenerates per group — the
                # barrier trainer, which handles every multiclass approx
                # fit without callbacks/custom metrics, re-sketches per
                # group like the reference.)
                from xgboost_spark.operators.sketch import weighted_cuts_all
                new_cuts = weighted_cuts_all(
                    binned, [f"rawx{i}" for i in range(Fn)], "h0",
                    p.max_bin, n_part, skip=cat_idx_skip)
                cuts = [c if nc is None else nc for c, nc in zip(cuts, new_cuts)]
                bc_it_cuts = sc.broadcast([np.asarray(c) for c in cuts])
                binned = self._rebin_pass(binned, bc_it_cuts, Fn, cat_mask,
                                          train_schema)
                builders = [
                    SparkHistBuilder(binned, fcols, cuts, gcol=f"g{k}", hcol=f"h{k}")
                    for k in range(K)
                ]
            # DART: select dropped rounds, refresh gradients at the
            # dropped-out margin (reference gbtree.h:89-123 DropTrees)
            dropped: list[int] = []
            if is_dart and trees:
                if not (p.skip_drop > 0.0 and rng.random() < p.skip_drop):
                    if p.sample_type == "weighted":
                        wts = np.asarray(tree_weights)
                        probs = np.minimum(
                            p.rate_drop * wts * len(wts) / max(wts.sum(), 1e-16), 1.0)
                        mask = rng.random(len(trees)) < probs
                    else:
                        mask = rng.random(len(trees)) < p.rate_drop
                    if p.one_drop and not mask.any():
                        mask[rng.integers(0, len(trees))] = True
                    dropped = [i for i in range(len(trees)) if mask[i]]
                if dropped:
                    binned = self._dart_grad_pass(
                        binned, trees, tree_weights, dropped, K, fcols, has_q,
                        train_schema, seed + it_round)
                    for k in range(K):
                        builders[k].df = binned

            round_trees: list[core.Tree] = []
            fmask = None
            if p.colsample_bytree < 1.0:
                fmask = core._rng_mask(rng, Fn, p.colsample_bytree, weights=fw)
            for k in range(K):
                n_forest = max(p.num_parallel_tree, 1)
                forest = []
                for _ in range(n_forest):
                    tree = core.grow_tree(builders[k], p, rng,
                                          feature_mask_tree=fmask, monotone=mono,
                                          interaction_sets=isets,
                                          cat_features=cat_mask)
                    forest.append(tree)
                if n_forest > 1:
                    # random-forest round: average by scaling leaves
                    for t in forest:
                        t.leaf_value = [v / n_forest for v in t.leaf_value]
                round_trees.extend(forest)
            if obj.adaptive_alpha is not None:
                nf_r = max(len(round_trees) // K, 1)
                aa = obj.adaptive_alpha
                for i, t in enumerate(round_trees):
                    k_r = i // nf_r
                    alpha_k = aa[k_r] if isinstance(aa, tuple) else aa
                    self._adaptive_leaf_refresh(binned, t, alpha_k, p.eta,
                                                group=k_r)

            # DART weight normalization (reference normalize_type docs:
            # tree  -> w_new = 1/(k+lr), dropped *= k/(k+lr)
            # forest-> w_new = 1/(1+lr), dropped *= 1/(1+lr))
            adjust: list[tuple[int, dict, float]] = []
            kdrop = len(dropped)
            if is_dart and kdrop > 0:
                if p.normalize_type == "forest":
                    w_new = 1.0 / (1.0 + p.eta)
                    factor = 1.0 / (1.0 + p.eta)
                else:
                    w_new = 1.0 / (kdrop + p.eta)
                    factor = kdrop / (kdrop + p.eta)
                for ri in dropped:
                    dw = tree_weights[ri] * (factor - 1.0)
                    # round ri trees are ordered [k0_f0, .., k0_fN, k1_f0, ..]
                    nf = len(trees[ri]) // K
                    for k in range(K):
                        for j in range(nf):
                            adjust.append((k, trees[ri][k * nf + j].finalize_arrays(), dw))
                    tree_weights[ri] *= factor
            else:
                w_new = 1.0
            trees.append(round_trees)
            tree_weights.append(w_new)

            next_seed = seed + it_round + 1
            binned = self._update_margins(
                binned, round_trees, K, fcols, has_q, with_grads=True,
                next_seed=next_seed, train_schema=train_schema,
                new_weight=w_new, adjust=adjust, use_raw=is_approx,
            )
            for k in range(K):
                builders[k].df = binned
            for st in eval_states:
                st[0] = self._update_margins(
                    st[0], round_trees, K, fcols, has_q, with_grads=False,
                    next_seed=0,
                    train_schema=self._schema(Fn, K, has_q, with_grads=False,
                                              with_bounds=has_b,
                                              with_raw=is_approx),
                    new_weight=w_new, adjust=adjust, use_raw=is_approx,
                )
            # evaluation + early stopping (reference EvalOneIter
            # `learner.cc:1164-1194`; EarlyStopping callback.py:311)
            if eval_states:
                last = None
                last_name = metric_names[-1] if metric_names else None
                for ev_binned, ev_name in eval_states:
                    for mname in metric_names:
                        val = self._eval_metric(ev_binned, mname, K, has_q)
                        history.setdefault(ev_name, {}).setdefault(mname, []).append(val)
                        last = val
                    if custom_metric is not None:
                        cname, val = custom_metric(ev_binned)
                        history.setdefault(ev_name, {}).setdefault(cname, []).append(val)
                        last, last_name = val, cname
                if verbose and history:
                    # reference EvaluationMonitor byte format
                    # (callback.py:545-569): one line per epoch,
                    # '\t{data}-{metric}:{v:.5f}' over the history in
                    # insertion order (custom metric rides at the end
                    # of its data block, like the parsed feval string)
                    print(f"[{it_round}]" + "".join(
                        f"\t{d}-{m}:{vals[-1]:.5f}"
                        for d, ms in history.items()
                        for m, vals in ms.items() if vals))
                if p.early_stopping_rounds and last is not None:
                    mx = maximize if maximize is not None else _maximize(last_name)
                    better = (best_metric is None or
                              (last > best_metric if mx else last < best_metric))
                    if better:
                        best_metric, best_it = last, it_round
                    elif it_round - best_it >= p.early_stopping_rounds:
                        break
            stop = False
            for cb in (callbacks or []):
                stop = cb.after_iteration(cb_state, it_round, history) or stop
            if stop:
                break

        p.eta = orig_eta
        for cb in (callbacks or []):
            cb.after_training(cb_state)
        FIT_STAGE_TIMES["loop"] = round(time.monotonic() - _t1, 3)
        model = _make_model()
        for cb in (callbacks or []):
            # reference after_training returns the (possibly save_best-
            # sliced) model; callbacks exposing finalize_model get the
            # finished artifact to stamp or slice
            if hasattr(cb, "finalize_model"):
                model = cb.finalize_model(model)
        return model

    def _parse_monotone(self, feat_names_out: list[str], Fn: int):
        p = self.params
        mc = p.monotone_constraints
        if not mc:
            return None
        if isinstance(mc, str):
            # reference string form "(1,-1,0)" — positional directions
            mc = [int(t) for t in mc.strip("()[] ").split(",") if t.strip()]
        if isinstance(mc, (list, tuple)):
            mc = {str(i): int(v) for i, v in enumerate(mc)}
        mono = np.zeros(Fn, dtype=np.int8)
        for cname, v in mc.items():
            key = cname if cname in feat_names_out else None
            idx = feat_names_out.index(cname) if key else int(cname)
            mono[idx] = v
        return mono

    def _parse_interactions(self, feat_names_out: list[str], Fn: int):
        p = self.params
        ic = p.interaction_constraints
        if not ic:
            return None
        if isinstance(ic, str):
            # reference string form '[[0, 1], [2, 3]]'
            import json as _json
            ic = _json.loads(ic)
        isets = []
        for group in ic:
            m = np.zeros(Fn, dtype=bool)
            for cname in group:
                if isinstance(cname, str) and cname in feat_names_out:
                    idx = feat_names_out.index(cname)
                elif isinstance(cname, int) or str(cname).isdigit():
                    idx = int(cname)
                else:
                    raise ValueError(
                        f"interaction_constraints: unknown feature {cname!r}; "
                        f"features are {feat_names_out}")
                m[idx] = True
            isets.append(m)
        return isets

    def _assemble_model(self, trees, tree_weights, xgb_model, base_score,
                        feat_names_out, cuts, best_it, history, is_dart) -> GBDTModel:
        """Merge continuation trees with the previous model's."""
        p = self.params
        bs_vec = None
        if isinstance(base_score, np.ndarray):
            # vector intercept (multi-alpha expectile ProbToMargin):
            # serving reads base_score_vec via GBDTModel._bs_row
            bs_vec = np.asarray(base_score, dtype=np.float64)
            base_score = float(bs_vec[0])
        all_trees = list(trees)
        weights = list(tree_weights) if is_dart else None
        if xgb_model is not None:
            prev_w = (xgb_model.tree_weights
                      or [1.0] * len(xgb_model.trees))
            all_trees = list(xgb_model.trees) + all_trees
            if is_dart or xgb_model.tree_weights:
                weights = list(prev_w) + (list(tree_weights) if tree_weights
                                          else [1.0] * len(trees))
            if best_it is not None:
                # early-stopped continuation: the within-fit round index
                # shifts by the previous model's rounds (reference
                # EarlyStopping.after_iteration `epoch +=
                # self.starting_round`, callback.py) — without this the
                # merged model's best_iteration truncated into the PREV
                # model's trees
                best_it += len(xgb_model.trees)
        model = GBDTModel(p, base_score, all_trees, feat_names_out, cuts,
                          best_iteration=best_it, eval_history=history,
                          tree_weights=weights)
        if bs_vec is not None:
            model.base_score_vec = bs_vec
        model.obj = self.obj      # keeps custom objectives' pred_transform
        return model

    # ------------------------------------------------------------------
    def _adaptive_leaf_refresh(self, binned: DataFrame, tree: core.Tree,
                               alpha: float, eta: float, group: int = 0):
        """UpdateTreeLeaf for adaptive objectives (reference
        `regression_obj.cu:745-753`): leaf <- eta * quantile_alpha(y - margin),
        computed as one groupBy(leaf).percentile_approx job.  ``group``
        selects the margin column (multi-alpha quantile: group k's tree
        refreshes against margin m_k with alpha_k)."""
        sc = binned.sparkSession.sparkContext
        bc = sc.broadcast(tree.finalize_arrays())
        fcols = [c for c in binned.columns if c.startswith("x")]
        mcol = f"m{group}"

        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            arrs = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                Xb = np.column_stack([pdf[c].to_numpy(dtype=np.int16, na_value=-1) for c in fcols])
                leaf = core.leaf_ids_from_arrays(arrs, Xb, binned=True)
                yield pd.DataFrame({
                    "leaf": leaf.astype(np.int32),
                    "resid": pdf["y"].to_numpy() - pdf[mcol].to_numpy(),
                })

        q = (
            binned.mapInPandas(fn, schema="leaf int, resid double")
            .groupBy("leaf").agg(F.percentile_approx("resid", float(alpha), 10000).alias("qv"))
            .collect()
        )
        for r in q:
            nid = int(r["leaf"])
            if tree.left[nid] == -1:
                tree.leaf_value[nid] = eta * float(r["qv"])

    def _update_margins(self, df: DataFrame, round_trees: list[core.Tree], K: int,
                        fcols: list[str], has_q: bool, with_grads: bool,
                        next_seed: int, train_schema: str,
                        new_weight: float = 1.0,
                        adjust: list[tuple[int, dict, float]] | None = None,
                        use_raw: bool = False) -> DataFrame:
        """Margin-cache update.  ``new_weight`` scales the new trees (DART);
        ``adjust`` applies (group, tree_arrays, delta_weight) corrections
        for re-weighted dropped trees — one pass covers both.  ``use_raw``
        routes rows by raw-domain thresholds (approx mode: bin ids change
        per round, raw split values do not)."""
        p = self.params
        obj = self.obj
        sc = df.sparkSession.sparkContext
        n_forest = len(round_trees) // K
        bc = sc.broadcast([t.finalize_arrays() for t in round_trees])
        bc_adj = sc.broadcast(adjust or [])
        subsample = p.subsample
        has_b = obj.needs_bounds
        is_cox = obj.needs_global_sort

        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            tree_arrs = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                if use_raw:
                    Xb = np.column_stack([
                        pdf[f"rawx{i}"].to_numpy(dtype=np.float64, na_value=np.nan)
                        for i in range(len(fcols))])
                else:
                    Xb = np.column_stack([
                        pdf[c].to_numpy(dtype=np.int16, na_value=-1) for c in fcols])
                out = {c: pdf[c] for c in pdf.columns
                       if c in fcols or c.startswith("rawx")}
                y = pdf["y"].to_numpy(dtype=np.float64)
                w = pdf["w"].to_numpy(dtype=np.float64)
                out["y"] = y
                out["w"] = w
                bounds = None
                if has_b:
                    yl = pdf["yl"].to_numpy(dtype=np.float64)
                    yu = pdf["yu"].to_numpy(dtype=np.float64)
                    out["yl"], out["yu"] = yl, yu
                    bounds = (yl, yu)
                q = None
                if has_q:
                    q = pdf["q"].to_numpy(dtype=np.int64)
                    out["q"] = q
                m = np.column_stack([pdf[f"m{k}"].to_numpy(dtype=np.float64) for k in range(K)])
                ti = 0
                for k in range(K):
                    for _ in range(n_forest):
                        arrs = tree_arrs[ti]
                        lid = core.leaf_ids_from_arrays(arrs, Xb, binned=not use_raw)
                        m[:, k] += new_weight * arrs["leaf_value"][lid]
                        ti += 1
                for k_adj, arrs, dw in bc_adj.value:
                    lid = core.leaf_ids_from_arrays(arrs, Xb, binned=not use_raw)
                    m[:, k_adj] += dw * arrs["leaf_value"][lid]
                for k in range(K):
                    out[f"m{k}"] = m[:, k]
                if with_grads:
                    if is_cox or obj.needs_global_scale:
                        # filled by the cox / global-scale pass
                        g = h = np.zeros((len(pdf), K))
                    else:
                        g, h = _compute_grads(obj, y, m, w, q, next_seed, subsample, K,
                                              bounds=bounds)
                    for k in range(K):
                        out[f"g{k}"] = g[:, k]
                        out[f"h{k}"] = h[:, k]
                yield pd.DataFrame(out)

        out_df = df.mapInPandas(fn, schema=train_schema).localCheckpoint(eager=True)
        if with_grads and is_cox:
            out_df = self._cox_grad_pass(out_df, train_schema, None)
        elif with_grads and obj.needs_global_scale:
            out_df = self._scale_grad_pass(out_df, train_schema, K, next_seed)
        return out_df

    def _rebin_pass(self, binned: DataFrame, bc_cuts, Fn: int,
                    cat_mask, train_schema: str) -> DataFrame:
        """Re-quantize numeric features against fresh cuts (approx mode);
        raw columns and everything else pass through untouched."""

        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cuts_l = bc_cuts.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                out = {c: pdf[c] for c in pdf.columns}
                for i in range(Fn):
                    if cat_mask is not None and cat_mask[i]:
                        continue
                    out[f"x{i}"] = core.bin_values(
                        pdf[f"rawx{i}"].to_numpy(dtype=np.float64, na_value=np.nan),
                        cuts_l[i])
                yield pd.DataFrame(out)

        return binned.mapInPandas(fn, schema=train_schema).localCheckpoint(eager=True)

    def _dart_grad_pass(self, binned: DataFrame, trees, tree_weights,
                        dropped: list[int], K: int, fcols: list[str],
                        has_q: bool, train_schema: str, grad_seed: int) -> DataFrame:
        """Recompute gradients at the dropped-out margin
        m_eff = m - sum_{r in D} w_r * T_r(x) without touching the cached
        margin columns (reference DART boosting, gbtree.h:89-123)."""
        obj = self.obj
        p = self.params
        sc = binned.sparkSession.sparkContext
        drop_arrs = []
        for ri in dropped:
            nf = len(trees[ri]) // K
            for k in range(K):
                for j in range(nf):
                    drop_arrs.append((k, trees[ri][k * nf + j].finalize_arrays(),
                                      tree_weights[ri]))
        bc = sc.broadcast(drop_arrs)
        subsample = p.subsample
        has_b = obj.needs_bounds

        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            arrs_l = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                Xb = np.column_stack([pdf[c].to_numpy(dtype=np.int16, na_value=-1)
                                      for c in fcols])
                out = {c: pdf[c] for c in pdf.columns if not c.startswith(("g", "h"))}
                m = np.column_stack([pdf[f"m{k}"].to_numpy(dtype=np.float64)
                                     for k in range(K)])
                m_eff = m.copy()
                for k_adj, arrs, w in arrs_l:
                    lid = core.leaf_ids_from_arrays(arrs, Xb, binned=True)
                    m_eff[:, k_adj] -= w * arrs["leaf_value"][lid]
                y = pdf["y"].to_numpy(dtype=np.float64)
                w_ = pdf["w"].to_numpy(dtype=np.float64)
                q = pdf["q"].to_numpy(dtype=np.int64) if has_q else None
                bounds = ((pdf["yl"].to_numpy(dtype=np.float64),
                           pdf["yu"].to_numpy(dtype=np.float64)) if has_b else None)
                g, h = _compute_grads(obj, y, m_eff, w_, q, grad_seed, subsample, K,
                                      bounds=bounds)
                for k in range(K):
                    out[f"g{k}"] = g[:, k]
                    out[f"h{k}"] = h[:, k]
                yield pd.DataFrame(out)

        return binned.mapInPandas(fn, schema=train_schema).localCheckpoint(eager=True)

    def _scale_grad_pass(self, binned: DataFrame, train_schema: str,
                         K: int, seed: int) -> DataFrame:
        """Gradients for global-scale objectives (reference smooth-MM
        MAE / logistic-smoothed quantile: the per-iteration residual
        scale is a GLOBAL weighted reduction, regression_obj.cu:642-660
        / quantile_obj.cu:123-152).  Two steps over the checkpointed
        frame: (1) aggregate the objective's scale_stats partial sums,
        (2) recompute the g/h columns with the global scale installed —
        a per-partition scale would silently train a different model
        than the single-machine reference."""
        obj = self.obj
        p = self.params
        subsample = p.subsample

        def stats_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc = None
            for pdf in it:
                if len(pdf) == 0:
                    continue
                y = pdf["y"].to_numpy(dtype=np.float64)
                w = pdf["w"].to_numpy(dtype=np.float64)
                m = np.column_stack([pdf[f"m{k}"].to_numpy(dtype=np.float64)
                                     for k in range(K)])
                st = obj.scale_stats(y, m if K > 1 else m[:, 0], w)
                acc = st if acc is None else acc + st
            if acc is not None:
                yield pd.DataFrame({f"s{i}": [acc[i]]
                                    for i in range(len(acc))})

        n_stats = K + 1
        st_schema = ", ".join(f"s{i} double" for i in range(n_stats))
        r = (binned.mapInPandas(stats_fn, schema=st_schema)
             .agg(*[F.sum(f"s{i}").alias(f"s{i}") for i in range(n_stats)])
             .first())
        stats = np.array([float(r[f"s{i}"] or 0.0) for i in range(n_stats)])
        obj.set_scale(stats)          # pickled into the closure below

        def grads_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                if len(pdf) == 0:
                    continue
                out = {c: pdf[c] for c in pdf.columns}
                y = pdf["y"].to_numpy(dtype=np.float64)
                w = pdf["w"].to_numpy(dtype=np.float64)
                m = np.column_stack([pdf[f"m{k}"].to_numpy(dtype=np.float64)
                                     for k in range(K)])
                g, h = _compute_grads(obj, y, m, w, None, seed, subsample, K)
                for k in range(K):
                    out[f"g{k}"] = g[:, k]
                    out[f"h{k}"] = h[:, k]
                yield pd.DataFrame(out)

        out_df = (binned.mapInPandas(grads_fn, schema=train_schema)
                  .localCheckpoint(eager=True))
        obj.set_scale(None)           # never leak a stale scale
        return out_df

    def _cox_grad_pass(self, binned: DataFrame, train_schema: str,
                       n_part: int | None) -> DataFrame:
        """Cox partial-likelihood gradients, distributed (reference
        `regression_obj.cu:598-604` needs label-sorted data; here the sort
        becomes a range partition + two-phase prefix scan, operators/scan.py).

        Plan: groupBy distinct time -> Breslow per-time terms via prefix
        scans -> shuffle join back on time -> rowwise g/h expressions
        (all JVM-side Catalyst expressions except the tiny scan offsets).
        """
        from xgboost_spark.operators.scan import prefix_sums
        spark = binned.sparkSession
        if n_part is None:
            n_part = spark.sparkContext.defaultParallelism
        per_t = (binned
                 .groupBy(F.abs(F.col("y")).alias("t"))
                 .agg(F.sum(F.col("w") * F.exp(F.col("m0"))).alias("e"),
                      F.sum(F.when(F.col("y") > 0, F.col("w")).otherwise(0.0)).alias("dw")))
        tot = per_t.agg(F.sum("e").alias("te")).first()["te"]
        s1 = prefix_sums(per_t, "t", ["e"], n_part)
        s1 = s1.withColumn("S", F.greatest(F.lit(tot) - F.col("cum_e") + F.col("e"),
                                           F.lit(1e-300)))
        s1 = s1.withColumn("rr", F.col("dw") / F.col("S")) \
               .withColumn("rr2", F.col("dw") / (F.col("S") * F.col("S")))
        s2 = prefix_sums(s1, "t", ["rr", "rr2"], n_part) \
            .select("t", F.col("cum_rr").alias("R"), F.col("cum_rr2").alias("R2"))
        j = binned.withColumn("_t", F.abs(F.col("y"))).join(
            s2, F.col("_t") == s2["t"], "left").drop("t", "_t")
        em = F.col("w") * F.exp(F.col("m0"))
        delta = F.when(F.col("y") > 0, F.col("w")).otherwise(F.lit(0.0))
        j = j.withColumn("g0", em * F.col("R") - delta)
        j = j.withColumn("h0", F.greatest(em * F.col("R") - em * em * F.col("R2"),
                                          F.lit(1e-16)))
        cols = [c.strip().split(" ")[0] for c in train_schema.split(",")]
        return j.select(*cols).localCheckpoint(eager=True)

    def _eval_metric(self, ev_binned: DataFrame, metric: str, K: int, has_q: bool) -> float:
        mcols = [f"m{k}" for k in range(K)]
        name = metric.partition("@")[0]
        if metric == "aft-nloglik":
            obj = self.obj

            def loss_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                L = W = 0.0
                for pdf in it:
                    yl = pdf["yl"].to_numpy(dtype=np.float64)
                    yu = pdf["yu"].to_numpy(dtype=np.float64)
                    w = pdf["w"].to_numpy(dtype=np.float64)
                    L += (w * obj.loss_bounds(yl, yu, pdf["m0"].to_numpy())).sum()
                    W += w.sum()
                yield pd.DataFrame({"L": [L], "W": [W]})

            r = (ev_binned.mapInPandas(loss_fn, schema="L double, W double")
                 .agg(F.sum("L").alias("L"), F.sum("W").alias("W")).first())
            return float(r["L"] / max(r["W"], 1e-16))
        if metric == "interval-regression-accuracy":
            pred = F.exp(F.col("m0"))
            return float(ev_binned.agg(F.avg(
                ((pred >= F.col("yl")) & (pred <= F.col("yu"))).cast("double")
            ).alias("v")).first()["v"])
        if metric == "cox-nloglik":
            return metrics_mod.cox_nloglik(ev_binned, y="y", margin="m0", weight="w")
        if has_q and name in ("auc", "aucpr"):
            # data with query groups evaluates the LTR AUC (reference
            # EvalAUC auc.cc:290-322: is_ranking = group_ptr_ set —
            # regardless of objective), not the binary curve
            return metrics_mod.ranking_auc(ev_binned, qid="q", y="y",
                                           score="m0",
                                           pr=(name == "aucpr"))
        if name.rstrip("-") in ("ndcg", "map", "pre"):
            # parse_rank_arg handles 'ndcg@5-'/'map-' minus-suffix names
            # (reference ranking_utils.cc:138) — a bare int() on the
            # '@' suffix would choke on the trailing '-'.  The scalar
            # is the GROUP-WEIGHT-weighted mean (rank_metric.cc
            # :395-401/:449-454/:316-330); `gw` rides out of the same
            # per-query aggregation, no extra shuffle; ev_binned's w
            # defaults to 1.0, making unweighted data the plain mean.
            name, k, minus = metrics_mod.parse_rank_arg(metric)

            def _wavg(d, col):
                r = d.agg(F.sum(F.col(col) * F.col("gw")).alias("n"),
                          F.sum("gw").alias("d")).first()
                return float(r["n"]) / float(r["d"])

            if name == "ndcg":
                d = metrics_mod.ndcg_at_k(ev_binned, k, qid="q", y="y", score="m0",
                                          exp_gain=self.params.ndcg_exp_gain,
                                          minus=minus, weight="w")
                return _wavg(d, "ndcg")
            if name == "map":
                d = metrics_mod.map_at_k(ev_binned, k, qid="q", y="y", score="m0",
                                         minus=minus, weight="w")
                return _wavg(d, "ap")
            d = metrics_mod.precision_at_k(ev_binned, k, qid="q", y="y",
                                           score="m0", weight="w")
            return _wavg(d, "prec")
        return metrics_mod.compute_metric(ev_binned, metric, y="y", margin_cols=mcols, weight="w")


def _maximize(metric: str) -> bool:
    # reference EarlyStopping inference (callback.py:411-426): STARTSWITH
    # over the maximize list with 'mape' explicitly excluded.  The
    # startswith rule keeps 'map-'/'ndcg@5-' maximized (the minus suffix
    # changes the no-relevant-query score, not the direction) and — like
    # the reference — treats 'ams@k' as MINIMIZE (ams is not in the
    # reference's list).
    if metric == "mape":
        return False
    return metric.startswith(("auc", "aucpr", "pre", "pre@", "map",
                              "ndcg", "auc@", "aucpr@", "map@", "ndcg@"))


def _effective_metrics(p, obj) -> list[str]:
    """EvalOneIter's metric set (learner.cc:1173-1180): the configured
    eval_metric list, else the objective's default UNLESS
    disable_default_eval_metric is set (then no built-in metric runs)."""
    if p.eval_metric:
        return list(p.eval_metric)
    return [] if p.disable_default_eval_metric else [obj.default_metric()]


def train(params: dict | TrainParams, df: DataFrame, obj=None,
          num_boost_round: int | None = None,
          early_stopping_rounds: int | None = None,
          evals_result: dict | None = None,
          verbose_eval: bool | int | None = None, **kw):
    """Functional entry point mirroring `xgboost.train`
    (`python-package/xgboost/training.py:53`): ``obj`` = custom
    objective callable/instance, ``custom_metric``/``maximize`` pass
    through to `SparkBooster.fit`.  booster=gblinear routes to the
    linear updater (returns a LinearModel).

    ``verbose_eval`` (training.py:186-188): True prints every round
    (engine ``verbose=True`` — same reference byte format, and the fit
    stays barrier-eligible); an integer N appends
    ``EvaluationMonitor(period=N)`` exactly like the reference (a
    callback, so the fit runs the DataFrame path).  Default None stays
    quiet — the one deliberate divergence from the reference's
    default-True, since a Spark job's driver log is not a terminal."""
    p = params if isinstance(params, TrainParams) else TrainParams.from_dict(params)
    # the reference train() takes these OUTSIDE the params dict
    # (training.py:56-66); explicit arguments win over the dict
    if num_boost_round is not None:
        p.num_boost_round = int(num_boost_round)
    if early_stopping_rounds is not None:
        p.early_stopping_rounds = int(early_stopping_rounds)
    if (verbose_eval is not None and not isinstance(verbose_eval, bool)
            and int(verbose_eval) > 1 and p.booster != "gblinear"):
        from xgboost_spark.functions.callbacks import EvaluationMonitor
        kw.setdefault("callbacks", [])
        kw["callbacks"] = list(kw["callbacks"]) + [
            EvaluationMonitor(period=int(verbose_eval))]
    elif verbose_eval:
        kw.setdefault("verbose", True)
    if p.process_type == "update":
        # reference gbtree process_type=update: re-run updaters on an
        # existing model's trees instead of growing new ones
        model = kw.pop("xgb_model", None)
        if model is None:
            raise ValueError("process_type='update' requires xgb_model")
        for u in (p.updater or "refresh").split(","):
            u = u.strip()
            if u == "refresh":
                model = refresh_leaves(
                    model, df,
                    feature_cols=kw.get("feature_cols"),
                    array_col=kw.get("array_col"),
                    label_col=kw.get("label_col", "label"),
                    weight_col=kw.get("weight_col"))
            elif u == "prune":
                import copy as _copy
                model = _copy.deepcopy(model)
                for rnd in model.trees:
                    for t in rnd:
                        core.prune_tree(t, p.gamma, p.eta, p.reg_lambda,
                                        p.reg_alpha, p.max_delta_step)
            else:
                raise ValueError(
                    f"process_type='update' supports updater refresh|prune, got {u!r}")
        if evals_result is not None:
            # the update path runs no eval sets; the caller's dict must
            # still be reset rather than keeping a previous call's data
            evals_result.clear()
            evals_result.update(getattr(model, "eval_history", None) or {})
        return model
    if p.booster == "gblinear":
        from xgboost_spark.plans.linear import train_linear
        model = train_linear(p, df, **kw)
    else:
        model = SparkBooster(p, obj=obj).fit(df, **kw)
    if evals_result is not None:
        # reference train(evals_result=) fills the caller's dict with
        # the watchlist history (training.py:119-131)
        evals_result.clear()
        evals_result.update(getattr(model, "eval_history", None) or {})
    return model


def refresh_leaves(model: GBDTModel, df: DataFrame,
                   feature_cols: list[str] | None = None,
                   array_col: str | None = None, label_col: str = "label",
                   weight_col: str | None = None) -> GBDTModel:
    """Refresh updater (reference `src/tree/updater_refresh.cc:153`):
    keep every tree's structure but recompute node stats and leaf weights
    on (possibly new) data.  Replays the boosting sequence: for each round,
    gradients at the current margin, then one `groupBy(leaf).agg(sum g, sum h)`
    job per tree to re-derive `leaf = eta * CalcWeight(G, H)`.
    Single-output models only (K=1)."""
    p = model.params
    if p.n_groups != 1:
        raise NotImplementedError("refresh_leaves supports single-output models")
    obj = get_objective(p.objective, p)
    sc = df.sparkSession.sparkContext
    raw, fnames = assemble_features(
        df, feature_cols=feature_cols, array_col=array_col,
        label_col=label_col, weight_col=weight_col)
    has_w = "weight" in raw.columns
    bc_cuts = sc.broadcast([np.asarray(c) for c in model.cuts])
    Fn = len(fnames)

    def init_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cuts_l = bc_cuts.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            out = {}
            for i, c in enumerate(fnames):
                out[f"x{i}"] = core.bin_values(
                    pdf[c].to_numpy(dtype=np.float64, na_value=np.nan), cuts_l[i])
            out["y"] = pdf["label"].to_numpy(dtype=np.float64)
            out["w"] = (pdf["weight"].to_numpy(dtype=np.float64)
                        if has_w else np.ones(len(pdf)))
            out["m0"] = np.full(len(pdf), model.base_score, dtype=np.float64)
            yield pd.DataFrame(out)

    schema = ", ".join([f"x{i} smallint" for i in range(Fn)]
                       + ["y double", "w double", "m0 double"])
    binned = raw.mapInPandas(init_fn, schema=schema).localCheckpoint(eager=True)
    fcols = [f"x{i}" for i in range(Fn)]
    def _install_global_scale(cur_binned):
        # refresh gradients for global-scale objectives (smooth MAE /
        # smoothed quantile) are evaluated at the current m0 margin;
        # install the GLOBAL residual scale so the per-partition
        # grad_hess calls below match the reference's GlobalSum scale
        def _sc_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc = None
            for pdf in it:
                if len(pdf) == 0:
                    continue
                st = obj.scale_stats(
                    pdf["y"].to_numpy(dtype=np.float64),
                    pdf["m0"].to_numpy(dtype=np.float64),
                    pdf["w"].to_numpy(dtype=np.float64))
                acc = st if acc is None else acc + st
            if acc is not None:
                yield pd.DataFrame({f"s{i}": [acc[i]] for i in range(len(acc))})

        _r = (cur_binned.mapInPandas(_sc_fn, schema="s0 double, s1 double")
              .agg(F.sum("s0").alias("s0"), F.sum("s1").alias("s1")).first())
        obj.set_scale(np.array([float(_r["s0"] or 0.0),
                                float(_r["s1"] or 0.0)]))

    new_trees: list[list[core.Tree]] = []
    for round_trees in model.trees:
        if obj.needs_global_scale:
            _install_global_scale(binned)
        refreshed = []
        for tree in round_trees:
            bc_tree = sc.broadcast(tree.finalize_arrays())

            def stats_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                arrs = bc_tree.value
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    Xb = np.column_stack([
                        pdf[c].to_numpy(dtype=np.int16, na_value=-1) for c in fcols])
                    y = pdf["y"].to_numpy(dtype=np.float64)
                    w = pdf["w"].to_numpy(dtype=np.float64)
                    g, h = obj.grad_hess(y, pdf["m0"].to_numpy(dtype=np.float64), w)
                    leaf = core.leaf_ids_from_arrays(arrs, Xb, binned=True)
                    yield pd.DataFrame({"leaf": leaf.astype(np.int32), "g": g, "h": h})

            stats = (binned.mapInPandas(stats_fn, schema="leaf int, g double, h double")
                     .groupBy("leaf").agg(F.sum("g").alias("G"), F.sum("h").alias("H"))
                     .collect())
            t2 = core.Tree(
                feature=list(tree.feature), split_bin=list(tree.split_bin),
                split_value=list(tree.split_value), default_left=list(tree.default_left),
                left=list(tree.left), right=list(tree.right), parent=list(tree.parent),
                leaf_value=list(tree.leaf_value), gain=list(tree.gain),
                sum_grad=list(tree.sum_grad), sum_hess=list(tree.sum_hess),
                categories=list(tree.categories), tie_strict=tree.tie_strict)
            for r in stats:
                nid = int(r["leaf"])
                t2.sum_grad[nid], t2.sum_hess[nid] = float(r["G"]), float(r["H"])
                if t2.left[nid] == -1:
                    t2.leaf_value[nid] = p.eta * float(core.calc_weight(
                        r["G"], r["H"], p.reg_lambda, p.reg_alpha, p.max_delta_step))
            refreshed.append(t2)
        new_trees.append(refreshed)
        bc_round = sc.broadcast([t.finalize_arrays() for t in refreshed])

        def margin_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            tree_arrs = bc_round.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                Xb = np.column_stack([
                    pdf[c].to_numpy(dtype=np.int16, na_value=-1) for c in fcols])
                out = {c: pdf[c] for c in pdf.columns}
                m = pdf["m0"].to_numpy(dtype=np.float64).copy()
                for arrs in tree_arrs:
                    m += arrs["leaf_value"][core.leaf_ids_from_arrays(arrs, Xb, binned=True)]
                out["m0"] = m
                yield pd.DataFrame(out)

        binned = binned.mapInPandas(margin_fn, schema=schema).localCheckpoint(eager=True)
    obj.set_scale(None)
    return GBDTModel(p, model.base_score, new_trees, model.feature_names, model.cuts,
                     best_iteration=model.best_iteration, eval_history=model.eval_history)
