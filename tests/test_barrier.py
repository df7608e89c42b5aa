"""Barrier-mode trainer (plans/barrier.py) + ring allreduce (collective.py).

Mirrors the reference's collective tests (`tests/python/test_collective.py`,
`tests/cpp/collective/`) and its Spark-wrapper equivalence tests
(`tests/test_distributed/test_with_spark/test_spark.py`: fit-predict
equivalence vs single-node, empty partitions `:731`).
"""

import threading

import numpy as np
import pytest

from xgboost_spark import collective
from xgboost_spark.config import TrainParams
from xgboost_spark.plans.booster import SparkBooster


class _FakeCtx:
    """Thread-backed stand-in for BarrierTaskContext rendezvous."""

    def __init__(self, rank, nranks, barrier, box):
        self._rank = rank
        self._barrier = barrier
        self._box = box
        self._n = nranks

    def partitionId(self):
        return self._rank

    def getTaskInfos(self):
        # rank count is local task metadata (no RPC) — create() reads
        # the task list length instead of paying an allGather for it
        return [object()] * self._n

    def attemptNumber(self):
        return 0

    def allGather(self, msg):
        self._box[self._rank] = msg
        self._barrier.wait()
        out = [self._box[i] for i in range(self._n)]
        self._barrier.wait()   # don't let a fast rank mutate box early
        return out


def _run_ring(nranks, payloads):
    barrier = threading.Barrier(nranks)
    box = {}
    results = {}
    errors = []

    def worker(rank):
        try:
            comm = collective.RingComm.create(_FakeCtx(rank, nranks, barrier, box))
            try:
                for arr in payloads:
                    results.setdefault(rank, []).append(
                        comm.allreduce_sum(arr + rank))
            finally:
                comm.close()
        except Exception as e:   # pragma: no cover
            errors.append((rank, e))

    ts = [threading.Thread(target=worker, args=(r,)) for r in range(nranks)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=60)
    assert not errors, errors
    return results


@pytest.mark.parametrize("nranks", [2, 3, 5, 8])
def test_driver_rendezvous_mesh(nranks):
    """Round-15: the mesh can bootstrap through the driver-side
    RendezvousServer instead of allGather (every barrier RPC costs a
    fixed ~1 s in this Spark build).  Same allreduce results,
    bit-identical across ranks, and the fake ctx's allGather is never
    called (the driver path must not pay the RPC)."""
    srv = collective.RendezvousServer(nranks)
    results = {}
    errors = []

    class _NoGatherCtx(_FakeCtx):
        def allGather(self, msg):       # pragma: no cover
            raise AssertionError("driver rendezvous must not allGather")

    rng = np.random.default_rng(1)
    payloads = [rng.normal(size=257), np.zeros(3)]

    def worker(rank):
        try:
            comm = collective.RingComm.create(
                _NoGatherCtx(rank, nranks, None, None),
                rendezvous=srv.address)
            try:
                for arr in payloads:
                    results.setdefault(rank, []).append(
                        comm.allreduce_sum(arr + rank))
            finally:
                comm.close()
        except Exception as e:   # pragma: no cover
            errors.append((rank, e))

    ts = [threading.Thread(target=worker, args=(r,)) for r in range(nranks)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=60)
    srv.close()
    assert not errors, errors
    for i, arr in enumerate(payloads):
        expect = arr * nranks + sum(range(nranks))
        for rank in range(nranks):
            np.testing.assert_allclose(results[rank][i], expect, rtol=1e-12)
            assert np.array_equal(results[rank][i], results[0][i])


@pytest.mark.parametrize("nranks", [2, 3, 5])
def test_ring_allreduce_sum(nranks):
    rng = np.random.default_rng(0)
    payloads = [rng.normal(size=(4, 7)), rng.normal(size=1000),
                np.zeros(1), rng.normal(size=3)]
    results = _run_ring(nranks, payloads)
    for i, arr in enumerate(payloads):
        expect = arr * nranks + sum(range(nranks))
        for rank in range(nranks):
            got = results[rank][i]
            np.testing.assert_allclose(got, expect, rtol=1e-12)
            # bit-identical across ranks (determinism contract)
            assert np.array_equal(got, results[0][i])


def test_loopback():
    c = collective.Loopback()
    a = np.arange(5, dtype=np.float64)
    np.testing.assert_array_equal(c.allreduce_sum(a), a)
    assert c.allreduce_scalar(2.0, 3.0) == (2.0, 3.0)


def _structurally_equal(ma, mb):
    for ra, rb in zip(ma.trees, mb.trees):
        for ta, tb in zip(ra, rb):
            if list(ta.feature) != list(tb.feature):
                return False
            if list(ta.split_bin) != list(tb.split_bin):
                return False
            if not np.allclose(ta.leaf_value, tb.leaf_value, atol=1e-9):
                return False
    return True


def test_barrier_matches_dataframe_path(spark, reg_df):
    kw = dict(num_boost_round=4, max_depth=4, max_bin=32, eta=0.4, seed=3)
    mb = SparkBooster(TrainParams(exec_mode="barrier", **kw)).fit(
        reg_df, feature_cols=[f"c{i}" for i in range(5)], label_col="label")
    md = SparkBooster(TrainParams(exec_mode="dataframe", **kw)).fit(
        reg_df, feature_cols=[f"c{i}" for i in range(5)], label_col="label")
    assert _structurally_equal(mb, md)


def test_barrier_multiclass_parity(spark):
    rng = np.random.default_rng(11)
    n = 2000
    X = rng.normal(size=(n, 4))
    y = (X[:, 0] + X[:, 1] > 0).astype(int) + (X[:, 2] > 0.5).astype(int)
    import pandas as pd
    df = spark.createDataFrame(
        pd.DataFrame({**{f"f{i}": X[:, i] for i in range(4)}, "label": y}))
    kw = dict(objective="multi:softprob", num_class=3, num_boost_round=3,
              max_depth=3, max_bin=32, seed=5)
    mb = SparkBooster(TrainParams(exec_mode="barrier", **kw)).fit(
        df, feature_cols=[f"f{i}" for i in range(4)], label_col="label")
    md = SparkBooster(TrainParams(exec_mode="dataframe", **kw)).fit(
        df, feature_cols=[f"f{i}" for i in range(4)], label_col="label")
    assert _structurally_equal(mb, md)


def test_barrier_empty_partitions(spark):
    # 5 rows into 8 barrier tasks -> at least 3 empty partitions
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame({
        "f0": [1.0, 2.0, 3.0, 4.0, 5.0],
        "label": [1.0, 2.0, 3.0, 4.0, 5.0]}))
    m = SparkBooster(TrainParams(exec_mode="barrier", num_boost_round=2,
                                 max_depth=2, max_bin=4)).fit(
        df, feature_cols=["f0"], label_col="label", num_partitions=8)
    assert len(m.trees) == 2


def test_exec_mode_barrier_rejects_unsupported(spark, reg_df):
    with pytest.raises(ValueError, match="barrier unsupported"):
        SparkBooster(TrainParams(exec_mode="barrier", objective="survival:cox",
                                 num_boost_round=2)).fit(
            reg_df, feature_cols=["c0"], label_col="label")


def test_barrier_evals_early_stopping(spark, reg_df):
    p = TrainParams(num_boost_round=30, max_depth=3, max_bin=32,
                    eval_metric=["rmse", "mae"], early_stopping_rounds=4)
    m = SparkBooster(p).fit(reg_df, feature_cols=[f"c{i}" for i in range(5)],
                            label_col="label", evals=[(reg_df, "train")])
    h = m.eval_history["train"]
    assert "rmse" in h and "mae" in h
    assert h["rmse"][-1] < h["rmse"][0]          # training rmse decreases
    assert len(h["rmse"]) == len(h["mae"])


def test_barrier_eval_matches_dataframe_eval(spark, reg_df):
    fc = [f"c{i}" for i in range(5)]
    kw = dict(num_boost_round=4, max_depth=3, max_bin=32,
              eval_metric=["rmse"])
    mb = SparkBooster(TrainParams(exec_mode="barrier", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label", evals=[(reg_df, "v")])
    md = SparkBooster(TrainParams(exec_mode="dataframe", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label", evals=[(reg_df, "v")])
    np.testing.assert_allclose(mb.eval_history["v"]["rmse"],
                               md.eval_history["v"]["rmse"], rtol=1e-9)


def test_barrier_ranking_eval(spark):
    import pandas as pd
    rng = np.random.default_rng(3)
    n = 3000
    q = rng.integers(0, 60, n)
    x = rng.normal(size=n)
    rel = (x + rng.normal(0, 0.5, n) > 0.5).astype(float) * 2
    df = spark.createDataFrame(pd.DataFrame(
        {"f0": x, "f1": rng.normal(size=n), "label": rel, "qid": q}))
    p = TrainParams(objective="rank:ndcg", num_boost_round=6, max_depth=3,
                    max_bin=32, eval_metric=["ndcg@5"])
    m = SparkBooster(p).fit(df, feature_cols=["f0", "f1"], label_col="label",
                            qid_col="qid", evals=[(df, "train")])
    h = m.eval_history["train"]["ndcg@5"]
    assert len(h) == 6
    assert h[-1] > 0.9        # high ndcg on this separable set


def test_barrier_training_continuation(spark, reg_df):
    fc = [f"c{i}" for i in range(5)]
    kw = dict(max_depth=3, max_bin=32, seed=4)
    m1 = SparkBooster(TrainParams(num_boost_round=3, **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    m2 = SparkBooster(TrainParams(num_boost_round=2, **kw)).fit(
        reg_df, feature_cols=fc, label_col="label", xgb_model=m1)
    m5 = SparkBooster(TrainParams(num_boost_round=5, **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    assert sum(len(r) for r in m2.trees) == 5
    # continued model == one-shot 5-round model (same cuts, same margins)
    for ra, rb in zip(m2.trees, m5.trees):
        for ta, tb in zip(ra, rb):
            assert list(ta.feature) == list(tb.feature)
            assert list(ta.split_bin) == list(tb.split_bin)
            np.testing.assert_allclose(ta.leaf_value, tb.leaf_value, atol=1e-8)


def test_feature_weights_bias_column_sampling(spark, reg_df):
    fc = [f"c{i}" for i in range(5)]
    # colsample_bytree=0.2 -> ONE feature per tree, drawn ~ feature_weights;
    # with all mass on c3 every tree can only split c3
    p = TrainParams(num_boost_round=6, max_depth=3, max_bin=32,
                    colsample_bytree=0.2,
                    feature_weights={"c3": 1000.0, "c0": 1e-6, "c1": 1e-6,
                                     "c2": 1e-6, "c4": 1e-6})
    m = SparkBooster(p).fit(reg_df, feature_cols=fc, label_col="label")
    split_feats = {f for rnd in m.trees for t in rnd
                   for f, l in zip(t.feature, t.left) if l != -1}
    assert split_feats <= {3}


def test_barrier_dart_matches_dataframe(spark, reg_df):
    fc = [f"c{i}" for i in range(5)]
    kw = dict(booster="dart", rate_drop=0.4, one_drop=True,
              num_boost_round=5, max_depth=3, max_bin=32, seed=9)
    mb = SparkBooster(TrainParams(exec_mode="barrier", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    md = SparkBooster(TrainParams(exec_mode="dataframe", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    assert _structurally_equal(mb, md)
    np.testing.assert_allclose(mb.tree_weights, md.tree_weights, rtol=1e-12)


def test_barrier_adaptive_leaves_close_to_dataframe(spark, reg_df):
    """reg:absoluteerror adaptive leaves: barrier's histogram quantile vs
    the DataFrame path's percentile_approx — same accuracy class."""
    fc = [f"c{i}" for i in range(5)]
    kw = dict(objective="reg:absoluteerror", num_boost_round=5,
              max_depth=3, max_bin=32, seed=2)
    mb = SparkBooster(TrainParams(exec_mode="barrier", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    md = SparkBooster(TrainParams(exec_mode="dataframe", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    from pyspark.sql import functions as F
    mae_b = mb.transform(reg_df, feature_cols=fc).agg(
        F.avg(F.abs(F.col("prediction") - F.col("label")))).first()[0]
    mae_d = md.transform(reg_df, feature_cols=fc).agg(
        F.avg(F.abs(F.col("prediction") - F.col("label")))).first()[0]
    assert abs(mae_b - mae_d) < 0.05 * max(mae_b, mae_d) + 0.02
    # round-1 structure identical (refresh happens after growth); later
    # rounds may diverge: MAE's sign gradient flips for rows whose
    # residual is near zero, amplifying the two paths' (both
    # approximate) quantile differences
    for ta, tb in zip(mb.trees[0], md.trees[0]):
        assert list(ta.feature) == list(tb.feature)


@pytest.mark.slow
def test_barrier_approx_accuracy(spark, reg_df):
    """barrier approx (fine-bin re-sketch) vs DataFrame approx (raw
    re-sketch): different sketch mechanics, same accuracy class."""
    fc = [f"c{i}" for i in range(5)]
    kw = dict(tree_method="approx", num_boost_round=6, max_depth=3,
              max_bin=16, seed=7)
    mb = SparkBooster(TrainParams(exec_mode="barrier", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    md = SparkBooster(TrainParams(exec_mode="dataframe", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    from pyspark.sql import functions as F

    def rmse(m):
        return m.transform(reg_df, feature_cols=fc).agg(F.sqrt(F.avg(
            F.pow(F.col("prediction") - F.col("label"), 2)))).first()[0]
    rb, rd = rmse(mb), rmse(md)
    assert abs(rb - rd) < 0.05 * max(rb, rd) + 0.02
    # hist on the same data should not beat approx by much (sanity that
    # the re-sketch isn't destroying signal)
    mh = SparkBooster(TrainParams(exec_mode="barrier", **{
        **kw, "tree_method": "hist"})).fit(
        reg_df, feature_cols=fc, label_col="label")
    assert rb < rmse(mh) * 1.10 + 0.02


def test_barrier_approx_dart_and_evals(spark, reg_df):
    """approx + dart + eval-set early stopping only exists on the
    barrier path; check it runs and the metric decreases."""
    fc = [f"c{i}" for i in range(5)]
    m = SparkBooster(TrainParams(
        tree_method="approx", booster="dart", rate_drop=0.2,
        num_boost_round=8, max_depth=3, max_bin=16, seed=1,
        eval_metric=["rmse"], early_stopping_rounds=6)).fit(
        reg_df, feature_cols=fc, label_col="label",
        evals=[(reg_df, "train")])
    h = m.eval_history["train"]["rmse"]
    assert h[-1] < h[0]
    # serving traverses raw-domain split_value: finite predictions
    preds = m.transform(reg_df, feature_cols=fc).select("prediction")
    assert preds.filter("prediction is null or isnan(prediction)").count() == 0


def _failing_squared_error(fail_after: int):
    """SquaredError that raises after ``fail_after`` gradient rounds —
    simulates an executor loss mid-training inside the barrier job (the
    objective is called once per round by every task, so it is a
    deterministic failure-injection point).  Defined inside a function
    so cloudpickle serializes the class BY VALUE — the pytest module
    name is not importable from the barrier python workers."""
    from xgboost_spark.functions.objectives import SquaredError

    class _FailingSquaredError(SquaredError):
        def __init__(self, n):
            self._calls = 0
            self.fail_after = n

        def grad_hess(self, y, margin, w):
            self._calls += 1
            if self._calls > self.fail_after:
                raise RuntimeError("injected mid-training failure")
            return super().grad_hess(y, margin, w)

    return _FailingSquaredError(fail_after)


def test_barrier_checkpoint_resume(spark, reg_df, tmp_path):
    """Kill the barrier job mid-training (after the round-2 checkpoint),
    re-issue the fit with the same checkpoint_dir, and require the
    resumed model to be IDENTICAL to an uninterrupted run — margins are
    replayed from the stored trees in the exact incremental
    accumulation order, so rounds 3..6 proceed bit-for-bit.  Also checks
    the lifecycle contract: a failed fit leaves its checkpoint, a
    completed fit deletes it."""
    import os
    fc = [f"c{i}" for i in range(5)]
    kw = dict(num_boost_round=6, max_depth=4, max_bin=32, eta=0.4, seed=3,
              exec_mode="barrier")
    ckdir = str(tmp_path / "ck")
    ckpt = os.path.join(ckdir, "barrier_ckpt.pkl")

    m_full = SparkBooster(TrainParams(**kw)).fit(
        reg_df, feature_cols=fc, label_col="label")

    p_ck = TrainParams(checkpoint_dir=ckdir, checkpoint_interval=2, **kw)
    with pytest.raises(Exception, match="injected mid-training failure"):
        SparkBooster(p_ck, obj=_failing_squared_error(3)).fit(
            reg_df, feature_cols=fc, label_col="label")
    assert os.path.exists(ckpt), "failed fit must leave its checkpoint"

    m_res = SparkBooster(p_ck).fit(reg_df, feature_cols=fc,
                                   label_col="label")
    assert len(m_res.trees) == 6
    assert _structurally_equal(m_res, m_full)
    assert not os.path.exists(ckpt), "completed fit must delete its checkpoint"


def test_barrier_checkpoint_resume_dart(spark, reg_df, tmp_path):
    """DART kill-and-resume: the checkpoint carries the per-round
    dropout/rescale EVENT LOG (dropped indices, pre-rescale weights,
    factor, new-tree weight), and resume replays the exact float-op
    sequence of the live loop — so the resumed model must match an
    uninterrupted run in structure, leaf values AND final tree weights,
    and the rng continues the same dropout draws for later rounds."""
    import os
    fc = [f"c{i}" for i in range(5)]
    kw = dict(booster="dart", rate_drop=0.5, one_drop=True,
              num_boost_round=6, max_depth=3, max_bin=32, eta=0.4, seed=7,
              exec_mode="barrier")
    ckdir = str(tmp_path / "ckd")
    ckpt = os.path.join(ckdir, "barrier_ckpt.pkl")

    m_full = SparkBooster(TrainParams(**kw)).fit(
        reg_df, feature_cols=fc, label_col="label")

    p_ck = TrainParams(checkpoint_dir=ckdir, checkpoint_interval=2, **kw)
    with pytest.raises(Exception, match="injected mid-training failure"):
        SparkBooster(p_ck, obj=_failing_squared_error(3)).fit(
            reg_df, feature_cols=fc, label_col="label")
    assert os.path.exists(ckpt), "failed fit must leave its checkpoint"

    m_res = SparkBooster(p_ck).fit(reg_df, feature_cols=fc,
                                   label_col="label")
    assert len(m_res.trees) == 6
    assert _structurally_equal(m_res, m_full)
    assert np.allclose(m_res.tree_weights, m_full.tree_weights, atol=0), \
        "dart tree weights must match the uninterrupted run exactly"
    assert not os.path.exists(ckpt), "completed fit must delete its checkpoint"


def test_barrier_checkpoint_rejects_stale_fingerprint(spark, reg_df, tmp_path):
    """A checkpoint left by a DIFFERENTLY-CONFIGURED fit sharing the
    directory must be rejected at load, never silently resumed."""
    import os
    fc = [f"c{i}" for i in range(5)]
    ckdir = str(tmp_path / "ckf")
    base = dict(max_depth=4, max_bin=32, eta=0.4, seed=3,
                exec_mode="barrier", checkpoint_dir=ckdir,
                checkpoint_interval=2)
    with pytest.raises(Exception, match="injected mid-training failure"):
        SparkBooster(TrainParams(num_boost_round=6, **base),
                     obj=_failing_squared_error(3)).fit(
            reg_df, feature_cols=fc, label_col="label")
    assert os.path.exists(os.path.join(ckdir, "barrier_ckpt.pkl"))
    with pytest.raises(Exception, match="different fit configuration"):
        SparkBooster(TrainParams(num_boost_round=6, max_depth=2,
                                 max_bin=32, eta=0.4, seed=3,
                                 exec_mode="barrier", checkpoint_dir=ckdir,
                                 checkpoint_interval=2)).fit(
            reg_df, feature_cols=fc, label_col="label")


def _spy_barrier_frames(monkeypatch, df):
    """Record every frame the fit runs its barrier stage over."""
    seen = []
    real = type(df).mapInPandas

    def spy(self, func, schema, barrier=False, **kw):
        if barrier:
            seen.append(self)
        return real(self, func, schema, barrier=barrier, **kw)

    monkeypatch.setattr(type(df), "mapInPandas", spy)
    return seen


def _rows_per_task(frame) -> list[int]:
    import pyspark.sql.functions as F
    got = dict(frame.groupBy(F.spark_partition_id().alias("p")).count()
               .rdd.map(tuple).collect())
    return [got.get(i, 0) for i in range(frame.rdd.getNumPartitions())]


def _write_one_row_group(pdf, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   row_group_size=len(pdf))


def test_barrier_scan_partitioning_no_shuffle(spark, tmp_path, monkeypatch):
    """Non-ranking fits adopt the parquet scan's own splits as barrier
    tasks, skipping a repartition() of the training set, only when the
    sketch scan counted those splits balanced.  Pins both branches at
    3 ranks (120k rows at 40k rows per rank):
    - three equal files: each is one split, so the splits are adopted
      and no Exchange sits under the barrier stage;
    - the same rows as ONE row group cut into 3 byte ranges: only one
      range holds rows, so the fit repartitions and every rank gets
      its share within 10%;
    - the trees of both paths match node-for-node (gradient sums are
      allreduced identically regardless of row placement for this
      integer-exact label).
    A many-split input still takes the maxPartitionBytes resize, and
    the engine restores the conf afterwards."""
    import os

    import pandas as pd
    key = "spark.sql.files.maxPartitionBytes"
    orig = spark.conf.get(key, "134217728")
    rng = np.random.default_rng(3)
    n = 120_000
    pdf = pd.DataFrame(rng.integers(0, 8, size=(n, 3)).astype(float),
                       columns=["a", "b", "c"])
    # label integer-exact: partial gradient sums are order-independent
    pdf["label"] = pdf["a"] * 2 + pdf["b"]
    even = tmp_path / "three_files_pq"
    even.mkdir()
    for i in range(3):
        _write_one_row_group(pdf.iloc[i::3], str(even / f"part-{i}.parquet"))
    one = str(tmp_path / "one_row_group.parquet")
    _write_one_row_group(pdf, one)
    seen = _spy_barrier_frames(monkeypatch, spark.range(1))
    params = dict(num_boost_round=3, max_depth=3, max_bin=64, eta=0.5)
    fc = ["a", "b", "c"]
    try:
        m_even = SparkBooster(TrainParams(**params)).fit(
            spark.read.parquet(str(even)), feature_cols=fc,
            label_col="label")
        frame = seen[-1]
        assert frame.rdd.getNumPartitions() == 3
        assert "Exchange" not in \
            frame._jdf.queryExecution().executedPlan().toString()
        assert sorted(_rows_per_task(frame)) == [n // 3] * 3

        # split the single row group's file into exactly 3 byte ranges
        spark.conf.set(key, str(os.path.getsize(one) // 3 + 1))
        df_one = spark.read.parquet(one)
        assert df_one.rdd.getNumPartitions() == 3
        m_one = SparkBooster(TrainParams(**params)).fit(
            df_one, feature_cols=fc, label_col="label")
        frame = seen[-1]
        assert "Exchange" in \
            frame._jdf.queryExecution().executedPlan().toString()
        rows = _rows_per_task(frame)
        assert len(rows) == 3 and sum(rows) == n
        assert max(rows) <= 1.1 * n / 3 and min(rows) >= 0.9 * n / 3, rows

        for r1, r2 in zip(m_even.trees, m_one.trees):
            for t1, t2 in zip(r1, r2):
                assert t1.feature == t2.feature
                assert t1.split_bin == t2.split_bin
                assert np.allclose(t1.leaf_value, t2.leaf_value)

        # many tiny splits: the resize branch grows the conf while the
        # barrier plans, then restores what the caller set
        spark.conf.set(key, str(16 * 1024))
        df_many = spark.read.parquet(str(even))
        assert df_many.rdd.getNumPartitions() > 3
        m_many = SparkBooster(TrainParams(**params)).fit(
            df_many, feature_cols=fc, label_col="label")
        assert spark.conf.get(key) == str(16 * 1024)
        assert [t.feature for r in m_many.trees for t in r] == \
            [t.feature for r in m_even.trees for t in r]
    finally:
        spark.conf.set(key, orig)


def test_barrier_eval_set_fit_on_one_row_group_file(spark, tmp_path):
    """An eval-set fit at 2 ranks never adopts scan splits: the eval
    frames ride a unionByName, which Spark rejects under a barrier
    stage [SPARK-24820].  One-row-group training file (one split) plus
    an eval frame gave a 2-split union that matched the 2 planned ranks
    and failed; this is the cv() fold-0 case with > 40k train rows."""
    import pandas as pd
    rng = np.random.default_rng(11)
    n = 50_000
    pdf = pd.DataFrame(rng.integers(0, 8, size=(n, 3)).astype(float),
                       columns=["a", "b", "c"])
    pdf["label"] = pdf["a"] * 2 + pdf["b"]
    path = str(tmp_path / "train.parquet")
    _write_one_row_group(pdf, path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    m = SparkBooster(TrainParams(num_boost_round=3, max_depth=3, max_bin=64,
                                 eta=0.5)).fit(
        df, feature_cols=["a", "b", "c"], label_col="label",
        evals=[(df, "eval")])
    rmse = m.eval_history["eval"]["rmse"]
    assert len(rmse) == 3 and rmse[-1] < rmse[0]


def test_mpb_conf_restored_on_setup_exception(spark, sf_dir):
    """The scan-split adoption path grows
    spark.sql.files.maxPartitionBytes session-globally while the
    barrier action plans; an exception raised AFTER the mutation but
    BEFORE/DURING the action must still restore the caller's value
    (the whole setup+action now runs under one try/finally)."""
    from xgboost_spark.config import TrainParams
    from xgboost_spark.functions.objectives import get_objective
    from xgboost_spark.plans.barrier import fit_barrier
    from xgboost_spark.sources.tables import load_table

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    tiny = "65536"
    spark.conf.set(key, tiny)
    try:
        li = (load_table(spark, sf_dir, "lineitem")
              .selectExpr("l_quantity as f0", "l_discount as f1",
                          "l_extendedprice as label"))
        # the tiny conf gives the parquet scan many splits; n_part=1
        # forces the growth loop to mutate the conf before bad `cuts`
        # raise at broadcast time (first statement after the mutation)
        p = TrainParams(objective="reg:squarederror", num_boost_round=1)
        obj = get_objective(p.objective, p)
        bad_cuts = [["not-a-float"], ["also-bad"]]
        with pytest.raises(ValueError):
            fit_barrier(p, obj, li, ["f0", "f1"], bad_cuts, None, 0.5,
                        None, None, 1)
        assert spark.conf.get(key) == tiny
    finally:
        spark.conf.set(key, old)


def test_fit_derives_barrier_ranks_from_rows(spark, sf_dir, monkeypatch):
    """Round-14 optimization: with num_partitions unset and no qid, the
    barrier rank count comes from the sketch-scan row count at
    SPARK_GRAFT_ROWS_PER_RANK rows per rank, capped at the core budget
    — every tree level is a full-mesh sync, so tiny inputs must not be
    spread across ranks whose per-level compute cannot cover the
    collective latency.  Explicit num_partitions still wins."""
    from xgboost_spark.plans import barrier as B
    from xgboost_spark.sources.tables import load_table

    seen = []
    real = B.fit_barrier

    def spy(p, obj, raw, fnames, cuts, cat_mask, base_score, mono,
            isets, n_part, **kw):
        seen.append(n_part)
        return real(p, obj, raw, fnames, cuts, cat_mask, base_score,
                    mono, isets, n_part, **kw)

    monkeypatch.setattr(B, "fit_barrier", spy)
    monkeypatch.setenv("SPARK_GRAFT_ROWS_PER_RANK", "1000")
    li = load_table(spark, sf_dir, "lineitem").limit(3000)
    fc = ["l_quantity", "l_discount"]
    params = TrainParams(num_boost_round=1, max_depth=2, max_bin=16)
    SparkBooster(params).fit(li, feature_cols=fc,
                             label_col="l_extendedprice")
    assert seen[-1] == 3, seen       # ceil(3000 / 1000)
    SparkBooster(params).fit(li, feature_cols=fc,
                             label_col="l_extendedprice",
                             num_partitions=2)
    assert seen[-1] == 2, seen       # explicit override untouched
