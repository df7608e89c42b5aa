"""xgboost_spark benchmark: four closed-loop workloads on local[<cores>].

    python3 perfbench/run.py --workload fit_lineitem --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  ``--workload all`` runs the four
workloads one after another in one driver process.  Inputs are generated
from ``--seed`` under ``.perfbench/`` in the checkout; Spark's scratch
space and temp files go there too.

Output: one report line per figure (``perfbench <workload> <metric>
<value> <unit> (n=<samples>)``), then, as the last line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones (measured with the
ledger off); with ``--trace 1`` they are the per-layer ones, read by the
outside-in ledger, and the span tree is written to
``.perfbench/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = {"setup_s": "s", "op_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_passes": "count",
    "sources.scan_bytes": "bytes",
    "operators.sketch.stage_s": "s",
    "operators.sketch.rows_per_task_max_over_mean": "ratio",
    "plans.booster.driver_s": "s",
    "plans.booster.jobs_per_fit": "count",
    "plans.barrier.stage_s": "s",
    "plans.barrier.ranks": "count",
    "plans.barrier.rows_per_rank_max_over_mean": "ratio",
    "plans.barrier.launch_spread_ms": "ms",
    "plans.barrier.shuffle_write_bytes": "bytes",
    "collective.allreduce_ms": "ms",
    "collective.allreduce_bytes": "bytes",
    "collective.rendezvous_ms": "ms",
    "local.hist_round_ms": "ms",
    "plans.model.build_ms": "ms",
    "plans.model.catalyst_ms": "ms",
    "plans.model.python_total_ms": "ms",
    "plans.model.python_init_ms": "ms",
    "plans.model.python_bytes_sent": "bytes",
    "plans.model.python_bytes_received": "bytes",
    "plans.model.shuffle_bytes": "bytes",
    "functions.shap.python_total_ms": "ms",
    **{f"operators.dedup.{op}.{k}": u
       for op in ("minhash_dedup", "strip_spans", "similarity_join")
       for k, u in (("build_ms", "ms"), ("catalyst_ms", "ms"), ("exec_s", "s"))},
    "operators.dedup.shuffle_write_bytes": "bytes",
    "operators.dedup.spill_bytes": "bytes",
    "operators.dedup.blocks_retained": "count",
    "operators.dedup.bytes_retained": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_task_attempts": "count",
    "trace.overhead_ms": "ms",
}

MAX_ATTEMPTS = 40
MIN_OK = 2          # timed successes per run: repeatability is checked across them


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs, one operation per workload")
    return ap.parse_args(argv)


def prepare_env():
    """Keep every file Spark and its workers write inside the checkout, and
    let the executors' Python workers import the package."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # UsePerfData off: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def stop_spark(spark):
    """Stop the session, then the JVM and every process it started, and
    wait for each to end."""
    from pyspark import SparkContext
    import ledger
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (subprocess.TimeoutExpired, OSError):
            proc.kill()
            proc.wait()
    left = ledger.descendants(os.getpid())
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait
        while left and time.time() < deadline:
            left = [p for p in left if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        if not left:
            break


def error_line(e: BaseException) -> str:
    java = getattr(e, "java_exception", None)
    msg = java.toString() if java is not None else f"{type(e).__name__}: {e}"
    return msg.strip().splitlines()[0][:400] if msg.strip() else type(e).__name__


def run_op(w, ctx, traced: bool) -> dict:
    """One operation under its own job group.  A failure is recorded with
    its message and counted; it is never retried away."""
    tr = ctx.tracer
    tr.enabled = traced
    t0 = time.perf_counter()
    with tr.op(w.name, w.layer) as box:
        t1 = time.perf_counter()
        try:
            rec = w.op(ctx, box)
            rec["ok"] = True
        except Exception as e:
            rec = {"ok": False, "error": error_line(e)}
            box["attrs"]["error"] = rec["error"]
        rec["seconds"] = time.perf_counter() - t1
    tr.enabled = False
    rec["wall_with_ledger"] = time.perf_counter() - t0
    rec.update(op=box["op"], traced=traced)
    return rec


def run_loop(w, ctx, untraced_min: int, traced_min: int) -> list[dict]:
    """Closed loop, one client: the next operation starts when the previous
    one returns.  Runs until ``ctx.seconds`` have passed and the wanted
    numbers of untraced and traced operations have succeeded; untraced
    operations go first and the two kinds alternate."""
    recs: list[dict] = []
    t_start = time.perf_counter()

    def ok(traced):
        return sum(1 for r in recs if r["ok"] and r["traced"] == traced)

    while len(recs) < MAX_ATTEMPTS:
        n_u, n_t = ok(False), ok(True)
        if (n_u >= untraced_min and n_t >= traced_min
                and time.perf_counter() - t_start >= ctx.seconds):
            break
        traced = n_t < traced_min and (n_u >= untraced_min or n_t < n_u)
        rec = run_op(w, ctx, traced)
        recs.append(rec)
        print(f"perfbench {w.name} op {len(recs) - 1}: {rec['seconds']:.3f} s"
              f"{' traced' if traced else ''}{'' if rec['ok'] else ' failed'}",
              file=sys.stderr, flush=True)
    return recs


def line(workload, metric, value, unit, n):
    print(f"perfbench {workload} {metric} {value:.6g} {unit} (n={n})", flush=True)


def run_workload(name, ctx, trace: bool, companion: bool = False) -> dict:
    """Set up, warm up, loop and check one workload.  Prints its report
    lines; returns its end-to-end and per-layer figures and counts."""
    import ledger
    import workloads
    w = workloads.WORKLOADS[name]()
    t0 = time.perf_counter()
    w.setup(ctx)
    if not ctx.smoke:
        w.warmup(ctx)
    setup_s = time.perf_counter() - t0
    if companion:
        untraced_min, traced_min = 0, 1
    elif trace:
        untraced_min, traced_min = (0 if ctx.smoke else 1), 1
    else:
        untraced_min, traced_min = (1 if ctx.smoke else MIN_OK), 0
    cpu0 = ledger.cpu_times()
    recs = run_loop(w, ctx, untraced_min, traced_min)
    steal = ledger.steal_share(cpu0, ledger.cpu_times())
    peak_mb = ctx.rss.peak_bytes / 2 ** 20        # before the checks run
    ok = [r for r in recs if r["ok"]]
    errors = [f"op {i}: {r['error']}" for i, r in enumerate(recs) if not r["ok"]]
    check_errors = w.check(ctx, ok) if ok else ["no operation succeeded"]
    failed = len(recs) - len(ok) + (len(ok) if check_errors else 0)
    for msg in errors + check_errors:
        print(f"perfbench {name} FAILED {msg}", flush=True)

    base = [r for r in ok if not r["traced"]]
    res = {"setup_s": setup_s, "attempted": len(recs), "failed": failed,
           "correct": not check_errors, "peak_rss_mb": peak_mb, "layers": {}}
    if base:
        res["op_s"] = statistics.median(r["seconds"] for r in base)
    for metric, unit, vals in w.report(ctx, base or ok):
        if vals:
            line(name, metric, statistics.median(vals), unit, len(vals))
    line(name, "error_rate", failed / len(recs), "failed/attempted", len(recs))
    line(name, "host_steal_share", steal, "share", 1)
    if trace:
        layers = w.layers(ctx, ok)
        traced = [r["wall_with_ledger"] for r in ok if r["traced"]]
        if traced and base:
            layers["trace.overhead_ms"] = 1e3 * (statistics.median(traced)
                                                 - statistics.median(r["seconds"] for r in base))
        if companion:
            layers = {k: v for k, v in layers.items() if k.startswith(w.own_layers)}
        res["layers"] = layers
    return res


class Run:
    """One benchmark process: the session, the ledger, the RSS sampler and
    a scratch directory for this run's inputs."""

    def __init__(self, args):
        import ledger
        import workloads
        from xgboost_spark.session import get_session
        self.args = args
        self.sampler = ledger.RssSampler()
        self.sampler.start()
        t0 = time.perf_counter()
        self.spark = get_session("perfbench", cpus=os.cpu_count() or 1)
        self.session_s = time.perf_counter() - t0
        self.inputs = os.path.join(WORK, f"inputs-{os.getpid()}")
        self.tracer = ledger.Tracer(self.spark, enabled=False)
        self.ctx = workloads.Ctx(self.spark, self.tracer, args.seed, args.seconds,
                                 self.inputs, args.smoke)
        self.ctx.rss = self.sampler

    def workload(self, name: str) -> dict:
        import workloads
        trace = bool(self.args.trace)
        self.sampler.peak_bytes = self.sampler.tree_rss()
        res = run_workload(name, self.ctx, trace)
        res["setup_s"] += self.session_s
        line(name, "setup_s", res["setup_s"], "s", 1)
        line(name, "peak_rss_mb", res["peak_rss_mb"], "MB", 1)
        if trace:
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers.update(res["layers"])
            other = workloads.COMPANIONS.get(name)
            if other and self.args.workload != "all":
                sub = run_workload(other, self.ctx, True, companion=True)
                layers.update(sub["layers"])
                res["attempted"] += sub["attempted"]
                res["failed"] += sub["failed"]
                res["correct"] = res["correct"] and sub["correct"]
            layers["session.start_s"] = self.session_s
            unknown = set(layers) - set(PER_LAYER)
            assert not unknown, f"undeclared per-layer metrics {sorted(unknown)}"
            res["layers"] = layers
            for layer, s in sorted(self.tracer.self_times().items()):
                line(name, f"self_time.{layer}", s, "s", 1)
            path = os.path.join(WORK, f"trace-{name}-seed{self.args.seed}.json")
            with open(path, "w") as f:
                json.dump({"workload": name, "seed": self.args.seed, "layers": layers,
                           "spans": self.tracer.spans}, f, default=str)
            self.tracer.spans.clear()
        return res

    def close(self):
        try:
            stop_spark(self.spark)
        finally:
            self.sampler.stop()
            shutil.rmtree(self.inputs, ignore_errors=True)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "xgboost_spark", "__init__.py")):
        print(f"perfbench: no xgboost_spark package under {ROOT}", file=sys.stderr)
        return 2
    prepare_env()
    # a terminated run still stops its JVM and workers (see Run.close)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import workloads
    names = list(workloads.WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in workloads.WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload}; choose from "
              f"{', '.join(workloads.WORKLOADS)} or all", file=sys.stderr)
        return 2
    run = Run(args)
    try:
        results = {name: run.workload(name) for name in names}
    finally:
        run.close()

    key, units = ("layers", PER_LAYER) if args.trace else (None, END_TO_END)
    metrics = {}
    for name, res in results.items():
        prefix = "" if len(names) == 1 else f"{name}."
        for m, unit in units.items():
            value = res[key][m] if key else res.get(m)
            if value is None:
                print(f"perfbench {name}: no successful timed operation", file=sys.stderr)
                return 1
            metrics[prefix + m] = {"value": float(value), "unit": unit}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
