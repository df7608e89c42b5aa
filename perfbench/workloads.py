"""The four benchmark workloads.

Each workload is a closed loop with one client: the next operation is
issued only after the previous one has returned.  A workload provides

- ``setup(ctx)``: its inputs and anything the loop reuses;
- ``warmup(ctx)``: the operation once on a small input, untimed;
- ``op(ctx, box)``: one operation, returning a record of its outputs;
- ``check(ctx, recs)``: output checks, one message per failed check;
- ``report(ctx, recs)``: the workload's named end-to-end figures;
- ``layers(ctx, recs)``: per-layer figures from the trace.

An operation is one fit (`fit_lineitem`), one cv call (`tune_small`), one
prediction pass plus one contribs pass (`score_lineitem`), or one pass of
the three dedup operators (`dedup_documents`).
"""

from __future__ import annotations

import hashlib
import statistics
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import data
import ledger


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def max_over_mean(xs) -> float:
    xs = [float(x) for x in xs]
    m = sum(xs) / len(xs) if xs else 0.0
    return max(xs) / m if m > 0 else 0.0


def rmse(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.sqrt(np.mean((np.asarray(a) - np.asarray(b)) ** 2)))


def model_hash(model) -> str:
    return hashlib.sha256("\n".join(model.get_dump()).encode()).hexdigest()


def numpy_margin(model, X: np.ndarray) -> np.ndarray:
    """Independent traversal of a single-output regression ensemble:
    ``x <= split_value`` goes left, NaN follows ``default_left``."""
    m = np.full(X.shape[0], float(model.base_score))
    weights = model.tree_weights or [1.0] * len(model.trees)
    for w, round_trees in zip(weights, model.trees):
        for t in round_trees:
            left = np.asarray(t.left)
            right = np.asarray(t.right)
            feat = np.asarray(t.feature)
            sval = np.asarray(t.split_value, dtype=np.float64)
            dleft = np.asarray(t.default_left, dtype=bool)
            node = np.zeros(X.shape[0], dtype=np.int64)
            rows = np.arange(X.shape[0])
            while True:
                inner = left[node] != -1
                if not inner.any():
                    break
                r, nd = rows[inner], node[inner]
                x = X[r, feat[nd]]
                go_left = np.where(np.isnan(x), dleft[nd], x <= sval[nd])
                node[r] = np.where(go_left, left[nd], right[nd])
            m += w * np.asarray(t.leaf_value, dtype=np.float64)[node]
    return m


class Ctx:
    def __init__(self, spark, tracer, seed: int, seconds: float, work: str,
                 smoke: bool):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.smoke = smoke
        self.rng = np.random.default_rng([seed, 99])
        self.rss = None         # ledger.RssSampler of the run


# ---------------------------------------------------------------------------
# shared readings from the trace
# ---------------------------------------------------------------------------

def spark_layer(ctx, ops: list[int]) -> dict:
    st = ctx.tracer.stages(set(ops))
    n = max(len(ops), 1)
    jobs = [s for s in ctx.tracer.spans if s["layer"] == "spark.job" and s["op"] in ops]
    return {
        "spark.executor_run_s": sum(s["run_ms"] for s in st) / 1e3 / n,
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9 / n,
        "spark.jvm_gc_s": sum(s["gc_ms"] for s in st) / 1e3 / n,
        "spark.jobs": len(jobs) / n,
        "spark.tasks": sum(s["num_tasks"] for s in st) / n,
        "spark.failed_task_attempts": sum(s["failed_tasks"] for s in st) / n,
    }


def source_layer(ctx, ops: list[int], table_rows: int) -> dict:
    st = ctx.tracer.stages(set(ops))
    n = max(len(ops), 1)
    return {
        "sources.scan_passes": sum(s["input_records"] for s in st) / max(table_rows, 1) / n,
        "sources.scan_bytes": sum(s["input_bytes"] for s in st) / n,
    }


def fit_layers(ctx, ops: list[int], fits_per_op: int) -> dict:
    """Sketch, booster and barrier readings for ops that each run
    ``fits_per_op`` fits."""
    tr = ctx.tracer
    n_fits = max(len(ops) * fits_per_op, 1)
    stages = tr.stages(set(ops))
    sketch = [s for s in stages if s["layer"] == "operators.sketch"]
    sketch_rows = [t["input_records"] + t["shuffle_read_records"]
                   for s in sketch if s["input_records"] for t in s["tasks"]]
    # the barrier stage is the result stage of a job called from
    # plans/barrier.py; earlier stages of that job are its shuffle map side
    by_job: dict[int, list[dict]] = {}
    for s in stages:
        if s["layer"] == "plans.barrier":
            by_job.setdefault(s["parent"], []).append(s)
    bar, bar_map = [], []
    for ss in by_job.values():
        ss.sort(key=lambda s: s["stage_id"])
        bar.append(ss[-1])
        bar_map.extend(ss[:-1])
    driver_s = 0.0
    jobs = 0
    for op in ops:
        span = next(s for s in tr.spans if s["id"] == op)
        ivs = [(s["start"], s["end"]) for s in tr.spans
               if s["op"] == op and s["layer"] == "spark.job"]
        jobs += len(ivs)
        driver_s += (span["end"] - span["start"]
                     - ledger.union_length(ivs, span["start"], span["end"]))
    rank_rows = [[t["input_records"] + t["shuffle_read_records"] for t in s["tasks"]]
                 for s in bar]
    spreads = [1e3 * (max(t["launch"] for t in s["tasks"]) - min(t["launch"] for t in s["tasks"]))
               for s in bar if s["tasks"]]
    return {
        "operators.sketch.stage_s": sum(s["end"] - s["start"] for s in sketch) / n_fits,
        "operators.sketch.rows_per_task_max_over_mean": max_over_mean(sketch_rows),
        "plans.booster.driver_s": driver_s / n_fits,
        "plans.booster.jobs_per_fit": jobs / n_fits,
        "plans.barrier.stage_s": sum(s["end"] - s["start"] for s in bar) / n_fits,
        "plans.barrier.ranks": median([s["num_tasks"] for s in bar]),
        "plans.barrier.rows_per_rank_max_over_mean":
            median([max_over_mean(r) for r in rank_rows if sum(r)]),
        "plans.barrier.launch_spread_ms": median(spreads),
        "plans.barrier.shuffle_write_bytes":
            sum(s["shuffle_write_bytes"] for s in bar_map) / n_fits,
    }


def in_threads(fn, n: int, timeout: float = 120) -> None:
    """Run ``fn(rank)`` for ranks 0..n-1 in threads; re-raise the first error."""
    errors: list[BaseException] = []

    def guarded(rank):
        try:
            fn(rank)
        except BaseException as e:     # handed to the caller below
            errors.append(e)

    ts = [threading.Thread(target=guarded, args=(r,), daemon=True) for r in range(n)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout)
    if errors:
        raise errors[0]
    if any(t.is_alive() for t in ts):
        raise TimeoutError(f"collective threads still running after {timeout} s")


def collective_layer(ranks: int, reps: int = 20) -> dict:
    """`RendezvousServer` registration and `RingComm.allreduce_sum` of one
    tree level's gradient/hessian histogram (depth 6: 32 nodes x 7 features
    x 256 bins x 2), ``ranks`` threads in this process, the way the
    engine's threaded ring test harness drives it."""
    from xgboost_spark import collective

    class _Ctx:
        def __init__(self, rank):
            self._rank = rank

        def partitionId(self):
            return self._rank

        def getTaskInfos(self):
            return [object()] * ranks

        def attemptNumber(self):
            return 0

    hist = np.random.default_rng(0).normal(size=(32, len(data.FEATURES), 256, 2))
    rdv_ms, ar_ms = [], []
    start = threading.Barrier(ranks)
    for _ in range(3):
        srv = collective.RendezvousServer(ranks)
        comms: dict[int, object] = {}

        def connect(rank):
            comms[rank] = collective.RingComm.create(_Ctx(rank), rendezvous=srv.address)

        def reduce(rank):
            for _ in range(reps):
                start.wait(60)
                t = time.perf_counter()
                comms[rank].allreduce_sum(hist)
                if rank == 0:
                    ar_ms.append(1e3 * (time.perf_counter() - t))

        t0 = time.perf_counter()
        try:
            in_threads(connect, ranks)
            rdv_ms.append(1e3 * (time.perf_counter() - t0))
            in_threads(reduce, ranks)
        finally:
            srv.close()
            for c in comms.values():
                c.close()
    return {"collective.allreduce_ms": median(ar_ms),
            "collective.allreduce_bytes": float(hist.nbytes),
            "collective.rendezvous_ms": median(rdv_ms)}


def open_table(ctx, name: str, sf: float):
    """Write (once per run) and open the seeded table ``name`` at ``sf``."""
    d = data.write_inputs(ctx.work, sf, ctx.seed, (name,))
    path = f"{d}/{name}.parquet"
    return path, ctx.spark.read.parquet(path)


def local_xy(path: str):
    tab = pq.read_table(path, columns=data.FEATURES + [data.LABEL]).to_pandas()
    return tab[data.FEATURES].to_numpy(np.float64), tab[data.LABEL].to_numpy(np.float64)


def train_params(rounds: int, max_depth: int = 6, eta: float = 0.3):
    from xgboost_spark.config import TrainParams
    return TrainParams(num_boost_round=rounds, max_depth=max_depth, max_bin=256, eta=eta)


def fit(df, rounds: int):
    from xgboost_spark.plans.booster import SparkBooster
    return SparkBooster(train_params(rounds)).fit(
        df, feature_cols=data.FEATURES, label_col=data.LABEL)


class Workload:
    """``warmup`` runs the operation's code path once on a small input, so
    the JIT, the Python worker pool and Spark's lazily built state are warm
    before the first timed operation.  ``own_layers`` names the per-layer
    metrics this workload supplies when it runs as another workload's
    traced companion (see COMPANIONS)."""

    name = ""
    layer = ""
    own_layers: tuple[str, ...] = ()

    def warmup(self, ctx):
        pass


# ---------------------------------------------------------------------------
# fit_lineitem
# ---------------------------------------------------------------------------

class FitLineitem(Workload):
    """Back-to-back `SparkBooster.fit` on lineitem: per-tree work dominates."""

    name = "fit_lineitem"
    layer = "plans.booster"
    SF, ROUNDS = 0.1, 10
    # distributed (approx sketch cuts, 3 ranks) vs single-process quantile
    # cuts: same rows, same params, different bin edges.  A real defect
    # (wrong gradients, lost rows, a rank's histogram dropped) moves the
    # training RMSE by far more than this.
    RMSE_TOL = 0.05

    def setup(self, ctx):
        self.rounds = 2 if ctx.smoke else self.ROUNDS
        self.path, self.df = open_table(ctx, "lineitem", 0.001 if ctx.smoke else self.SF)
        self.n_rows = pq.ParquetFile(self.path).metadata.num_rows

    def warmup(self, ctx):
        # one round on the measured table: the same splits, ranks and
        # batch sizes as the timed fits
        fit(self.df, 1)

    def op(self, ctx, box):
        return {"model": fit(self.df, self.rounds)}

    def check(self, ctx, recs):
        from xgboost_spark.local.booster import LocalBooster
        errs = []
        hashes = {model_hash(r["model"]) for r in recs}
        if len(hashes) != 1:
            errs.append(f"fit_lineitem: {len(hashes)} distinct model dumps in one run")
        X, y = local_xy(self.path)
        self.train_rmse = rmse(numpy_margin(recs[0]["model"], X), y)
        local = LocalBooster(train_params(self.rounds))
        local.fit(X, y)
        self.local_rmse = rmse(local.predict(X), y)
        if not abs(self.train_rmse - self.local_rmse) <= self.RMSE_TOL * self.local_rmse:
            errs.append(f"fit_lineitem: train_rmse {self.train_rmse:.3f} vs "
                        f"LocalBooster {self.local_rmse:.3f} (tolerance {self.RMSE_TOL:.0%})")
        return errs

    def report(self, ctx, recs):
        return [("fit_s", "s", [r["seconds"] for r in recs]),
                ("train_rmse", "label", [self.train_rmse]),
                ("local_booster_rmse", "label", [self.local_rmse])]

    def layers(self, ctx, recs):
        from xgboost_spark.local.booster import LocalBooster
        ops = [r["op"] for r in recs if r["traced"]]
        out = fit_layers(ctx, ops, 1)
        out.update(source_layer(ctx, ops, self.n_rows))
        out.update(spark_layer(ctx, ops))
        ranks = int(out["plans.barrier.ranks"])
        out.update(collective_layer(max(ranks, 2)))
        # one rank's share of the rows, single process: the per-round cost
        # (quantize excluded: the 1-round fit is subtracted)
        X, y = local_xy(self.path)
        share = X.shape[0] // max(ranks, 1)
        times = {}
        for r in (1, 4):
            t = time.perf_counter()
            LocalBooster(train_params(r)).fit(X[:share], y[:share])
            times[r] = time.perf_counter() - t
        out["local.hist_round_ms"] = 1e3 * (times[4] - times[1]) / 3
        return out


# ---------------------------------------------------------------------------
# tune_small
# ---------------------------------------------------------------------------

class TuneSmall(Workload):
    """Repeated `cv()` calls on small data: per-fit fixed cost dominates.

    Each call draws its fold seed and its eta from the workload seed.
    max_depth stays at 6: drawing it too made the call time swing by a
    fifth from run to run, more than the bound allows."""

    name = "tune_small"
    layer = "plans.cv"
    SF, WARM_SF, ROUNDS, NFOLD = 0.01, 0.001, 10, 3

    def setup(self, ctx):
        self.rounds = 2 if ctx.smoke else self.ROUNDS
        path, df = open_table(ctx, "lineitem", 0.001 if ctx.smoke else self.SF)
        self.df = df.select(*data.FEATURES, data.LABEL)
        y = pq.read_table(path, columns=[data.LABEL]).column(0).to_numpy()
        self.n_rows, self.label_std = len(y), float(np.std(y))

    def _cv(self, df, fold_seed: int, eta: float):
        from xgboost_spark.plans.cv import cv
        return cv(train_params(self.rounds, eta=eta), df, nfold=self.NFOLD,
                  metrics=["rmse"], seed=fold_seed, label_col=data.LABEL,
                  feature_cols=data.FEATURES)

    def warmup(self, ctx):
        # a plain fit on the measured rows warms their barrier path; a cv
        # call on a small table warms the fold and eval-set path.  Neither
        # hits the eval-set defect, so a warm-up never fails.
        fit(self.df, 1)
        df = open_table(ctx, "lineitem", self.WARM_SF)[1]
        self._cv(df.select(*data.FEATURES, data.LABEL), 0, 0.3)

    def op(self, ctx, box):
        fold_seed = int(ctx.rng.integers(0, 2 ** 31))
        eta = float(ctx.rng.uniform(0.25, 0.35))
        box["attrs"].update(fold_seed=fold_seed, eta=eta)
        res = self._cv(self.df, fold_seed, eta)
        return {"test_rmse": float(res["test-rmse-mean"].iloc[-1]), "n_rounds": len(res)}

    def check(self, ctx, recs):
        errs = []
        for r in recs:
            if r["n_rounds"] != self.rounds:
                errs.append(f"tune_small: {r['n_rounds']} cv rounds, expected {self.rounds}")
            if not 0 < r["test_rmse"] < self.label_std:
                errs.append(f"tune_small: test rmse {r['test_rmse']} not below "
                            f"the constant predictor's {self.label_std:.1f}")
        return errs

    def report(self, ctx, recs):
        return [("cv_s", "s", [r["seconds"] for r in recs]),
                ("cv_test_rmse", "label", [r["test_rmse"] for r in recs])]

    def layers(self, ctx, recs):
        ops = [r["op"] for r in recs if r["traced"]]
        out = fit_layers(ctx, ops, self.NFOLD)
        out.update(source_layer(ctx, ops, self.n_rows))
        out.update(spark_layer(ctx, ops))
        ranks = int(out["plans.barrier.ranks"])
        out.update(collective_layer(max(ranks, 2)))
        return out


# ---------------------------------------------------------------------------
# score_lineitem
# ---------------------------------------------------------------------------

class ScoreLineitem(Workload):
    """Batch prediction and TreeSHAP with a trained model: no barrier, no
    collective."""

    name = "score_lineitem"
    layer = "plans.model"
    own_layers = ("plans.model.", "functions.shap.")
    SF, TRAIN_SF, ROUNDS, CONTRIB_ROWS = 0.05, 0.01, 100, 1000
    CHECK_ROWS = 500

    def setup(self, ctx):
        if ctx.smoke:
            sf, train_sf, rounds, self.contrib_rows = 0.001, 0.001, 3, 200
        else:
            sf, train_sf, rounds, self.contrib_rows = (
                self.SF, self.TRAIN_SF, self.ROUNDS, self.CONTRIB_ROWS)
        self.path, df = open_table(ctx, "lineitem", sf)
        self.n_rows = pq.ParquetFile(self.path).metadata.num_rows
        self.inputs = (df, df.limit(self.contrib_rows))
        self.model = fit(open_table(ctx, "lineitem", train_sf)[1], rounds)

    def warmup(self, ctx):
        df = open_table(ctx, "lineitem", 0.001)[1]
        self._score(ctx, {"op": None}, df, df.limit(50))

    def op(self, ctx, box):
        return self._score(ctx, box, *self.inputs)

    def _score(self, ctx, box, df, contrib_slice):
        tr = ctx.tracer
        t0 = time.perf_counter()
        with tr.call(box, "transform", "plans.model"):
            pred = self.model.transform(df, feature_cols=data.FEATURES)
        build = time.perf_counter() - t0
        agg = pred.selectExpr("sum(prediction)")
        total = agg.collect()[0][0]
        t1 = time.perf_counter()
        with tr.call(box, "transform contribs", "functions.shap"):
            contrib_df = self.model.transform(contrib_slice, feature_cols=data.FEATURES,
                                              output_margin=True, pred_contribs=True)
        contrib_df = contrib_df.select("margin", "contribs", *data.FEATURES)
        rows = contrib_df.collect()
        t2 = time.perf_counter()
        rec = {"pred_s": t1 - t0, "contrib_s": t2 - t1, "sum": float(total),
               "build_ms": 1e3 * build, "contrib_rows": rows}
        if tr.enabled:
            rec.update(catalyst_ms=tr.catalyst_ms(agg), py=tr.python_metrics(agg),
                       shap_py=tr.python_metrics(contrib_df))
        return rec

    def check(self, ctx, recs):
        errs = []
        X = pq.read_table(self.path, columns=data.FEATURES).to_pandas().to_numpy(np.float64)
        expect_sum = float(numpy_margin(self.model, X).sum())
        for r in recs:
            if not abs(r["sum"] - expect_sum) <= 1e-9 * abs(expect_sum):
                errs.append(f"score_lineitem: sum(prediction) {r['sum']!r} vs "
                            f"NumPy traversal {expect_sum!r}")
            rows = r["contrib_rows"]
            pick = np.random.default_rng([ctx.seed, 7]).choice(
                len(rows), size=min(self.CHECK_ROWS, len(rows)), replace=False)
            Xs = np.asarray([[rows[i][c] for c in data.FEATURES] for i in pick], dtype=np.float64)
            margin = np.asarray([float(np.ravel(rows[i]["margin"])[0]) for i in pick])
            phi_sum = np.asarray([sum(rows[i]["contribs"]) for i in pick])
            ref = numpy_margin(self.model, Xs)
            if not np.allclose(margin, ref, rtol=1e-9, atol=1e-6):
                errs.append("score_lineitem: sampled margins differ from NumPy traversal "
                            f"(max abs diff {np.max(np.abs(margin - ref)):.3g})")
            if not np.allclose(phi_sum, margin, rtol=1e-6, atol=1e-3):
                errs.append("score_lineitem: contribs do not sum to the margin "
                            f"(max abs diff {np.max(np.abs(phi_sum - margin)):.3g})")
        return errs

    def report(self, ctx, recs):
        return [("score_rows_per_s", "rows/s", [self.n_rows / r["pred_s"] for r in recs]),
                ("contribs_rows_per_s", "rows/s",
                 [self.contrib_rows / r["contrib_s"] for r in recs])]

    def layers(self, ctx, recs):
        tr = [r for r in recs if r["traced"]]
        ops = [r["op"] for r in tr]
        out = {
            "plans.model.build_ms": median([r["build_ms"] for r in tr]),
            "plans.model.catalyst_ms": median([r["catalyst_ms"] for r in tr]),
            "plans.model.python_total_ms": median([r["py"]["pythonTotalTime"] for r in tr]),
            "plans.model.python_init_ms": median([r["py"]["pythonInitTime"] for r in tr]),
            "plans.model.python_bytes_sent": median([r["py"]["pythonDataSent"] for r in tr]),
            "plans.model.python_bytes_received":
                median([r["py"]["pythonDataReceived"] for r in tr]),
            "functions.shap.python_total_ms":
                median([r["shap_py"]["pythonTotalTime"] for r in tr]),
        }
        # exchange bytes of the prediction pass only: its stages start
        # before the contribs transform() call does
        shuffle = 0.0
        for op in ops:
            cut = next(s["start"] for s in ctx.tracer.spans
                       if s["op"] == op and s["name"] == "transform contribs")
            shuffle += sum(s["shuffle_write_bytes"] for s in ctx.tracer.stages({op})
                           if s["start"] < cut)
        out["plans.model.shuffle_bytes"] = shuffle / max(len(ops), 1)
        out.update(source_layer(ctx, ops, self.n_rows))
        out.update(spark_layer(ctx, ops))
        return out


# ---------------------------------------------------------------------------
# dedup_documents
# ---------------------------------------------------------------------------

DEDUP_OPS = ("minhash_dedup", "strip_spans", "similarity_join")


def shingles(text: str, n: int) -> set:
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}


class DedupDocuments(Workload):
    """MinHash dedup, span stripping and an exact similarity join: SQL-only
    shuffles, heavy plan building, checkpoint blocks."""

    name = "dedup_documents"
    layer = "operators.dedup"
    own_layers = ("operators.dedup.",)
    SF = 0.1
    THRESHOLD = 0.5
    SHINGLE_N = 5
    MINHASH_THRESHOLD = 0.7     # minhash_dedup's default, shingle_n=5 too

    def setup(self, ctx):
        self.path, self.df = open_table(ctx, "documents", 0.001 if ctx.smoke else self.SF)
        self.texts = dict(zip(*[c.to_pylist() for c in pq.read_table(
            self.path, columns=["doc_id", "text"]).columns]))

    def warmup(self, ctx):
        self._pass(ctx, {"op": None}, open_table(ctx, "documents", 0.001)[1])

    def op(self, ctx, box):
        return self._pass(ctx, box, self.df)

    def _pass(self, ctx, box, df):
        from xgboost_spark.operators import dedup
        calls = {
            "minhash_dedup": lambda: dedup.minhash_dedup(df).select("doc_id"),
            "strip_spans": lambda: dedup.strip_duplicate_spans(df, k=20)
            .select("id", "text_stripped"),
            "similarity_join": lambda: dedup.similarity_join(
                df, threshold=self.THRESHOLD, shingle_n=self.SHINGLE_N)
            .select("id_a", "id_b", "jaccard"),
        }
        tr = ctx.tracer
        rec = {}
        for name, make in calls.items():
            t0 = time.perf_counter()
            with tr.call(box, name, "operators.dedup"):
                out = make()
            t1 = time.perf_counter()
            with tr.call(box, f"{name} collect", "operators.dedup"):
                rows = out.collect()
            t2 = time.perf_counter()
            rec[name] = {"build_ms": 1e3 * (t1 - t0), "exec_s": t2 - t1,
                         "rows": sorted(tuple(r) for r in rows)}
            if tr.enabled:
                rec[name]["catalyst_ms"] = tr.catalyst_ms(out)
        if tr.enabled:
            rec["blocks"], rec["bytes"] = tr.storage()
        return rec

    def check(self, ctx, recs):
        errs = []
        for name in DEDUP_OPS:
            hashes = {hashlib.sha256(repr(r[name]["rows"]).encode()).hexdigest()
                      for r in recs}
            if len(hashes) != 1:
                errs.append(f"dedup_documents: {name} gave {len(hashes)} distinct outputs")
        pairs = recs[0]["similarity_join"]["rows"]
        sh = {i: shingles(t, self.SHINGLE_N) for i, t in self.texts.items()}
        for a, b, j in pairs:
            true_j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            if abs(true_j - j) > 1e-9 or true_j < self.THRESHOLD:
                errs.append(f"dedup_documents: pair ({a},{b}) jaccard {j} vs {true_j}")
                break
        # every document whose text repeats exactly must be paired
        first: dict[str, int] = {}
        found = {(a, b) for a, b, _ in pairs}
        for i in sorted(self.texts):
            j = first.setdefault(self.texts[i], i)
            if j != i and (j, i) not in found:
                errs.append(f"dedup_documents: exact duplicate pair ({j},{i}) not joined")
                break
        # minhash_dedup drops id_b of each verified pair at jaccard >= 0.7;
        # the similarity join has complete recall at 0.5, so every dropped
        # document must appear there as the higher id of such a pair
        kept = {r[0] for r in recs[0]["minhash_dedup"]["rows"]}
        strong = {b for a, b, j in pairs if j >= self.MINHASH_THRESHOLD}
        bad = sorted(set(self.texts) - kept - strong)
        if bad:
            errs.append(f"dedup_documents: minhash_dedup dropped {len(bad)} documents "
                        f"without a lower-id near-duplicate, e.g. {bad[:3]}")
        paired = {x for a, b in found for x in (a, b)}
        self.dup_share = len(paired) / max(len(self.texts), 1)
        return errs

    def report(self, ctx, recs):
        return [("dedup_s", "s", [r["seconds"] for r in recs]),
                ("near_dup_share", "share", [self.dup_share])]

    def layers(self, ctx, recs):
        tr = [r for r in recs if r["traced"]]
        ops = [r["op"] for r in tr]
        out = {}
        for name in DEDUP_OPS:
            for k in ("build_ms", "catalyst_ms", "exec_s"):
                out[f"operators.dedup.{name}.{k}"] = median([r[name][k] for r in tr])
        st = ctx.tracer.stages(set(ops))
        n = max(len(ops), 1)
        out["operators.dedup.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in st) / n
        out["operators.dedup.spill_bytes"] = sum(s["spill_bytes"] for s in st) / n
        out["operators.dedup.blocks_retained"] = float(tr[-1]["blocks"])
        out["operators.dedup.bytes_retained"] = float(tr[-1]["bytes"])
        out.update(source_layer(ctx, ops, len(self.texts)))
        out.update(spark_layer(ctx, ops))
        return out


WORKLOADS = {w.name: w for w in (FitLineitem, TuneSmall, ScoreLineitem, DedupDocuments)}
# workloads left out of BENCHMARK.json (run-time budget) still have their
# layers measured: each runs once, traced, inside a kept workload's traced run
COMPANIONS = {"fit_lineitem": "score_lineitem", "tune_small": "dedup_documents"}
