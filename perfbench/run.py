#!/usr/bin/env python3
"""Run one workload of the layered benchmark and print its result.

    python3 perfbench/run.py --workload mc_demo1_csv --seed 1 --seconds 10 --trace 0

With ``--trace 0`` the last stdout line holds the end-to-end metrics, with
``--trace 1`` the per-layer ones (README.md lists both). Every op's output
is checked against a golden digest; a mismatch or an exception is a
failed op. Run from the repository root; the program is imported from
there, and every file the run writes goes under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script: make the perfbench package importable
    sys.path.insert(0, ROOT)

from perfbench import mcload, measure, querymix  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    EventLog, Tracer, event_log_conf, exchanges, sql_executions)

OUT = os.path.join(ROOT, ".perfbench_out")
GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")
DEFAULT_SEED = 2024
WORKLOADS = ("mc_demo1_csv", "mc_demo2_parquet", "query_mix")
#: Untimed ops before the measured window, and the fewest ops it measures
#: untraced and traced.
WARMUP_OPS = 3
MIN_WINDOW_OPS = 3
MIN_TRACED_WINDOW_OPS = 8
#: Reconciliation bound: the median layer sum of the traced ops must match
#: the median wall time of the untraced ops to within this share.
RESIDUAL_BOUND_PCT = 15.0


def _isolate_environment() -> None:
    """Keep every file the run writes inside the checkout, and make the
    benchmark's own modules importable in Spark's Python workers."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["GIT_CEILING_DIRECTORIES"] = os.path.dirname(ROOT)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _identity(batches):
    return batches


def setup(extra_conf: dict | None = None):
    """Fresh process to warm session: ``get_spark``, the registry import and
    the first Python-worker job. Returns the session and its timings."""
    t0 = time.perf_counter()
    from parallel_monte_carlo_simulations_spark.session import get_spark

    n = nproc()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={"spark.driver.memory": "1g", **(extra_conf or {})},
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from parallel_monte_carlo_simulations_spark.registry import load_all_queries

    specs = load_all_queries()
    t2 = time.perf_counter()
    spark.range(64).repartition(n).mapInPandas(_identity, "id long").count()
    t3 = time.perf_counter()
    return spark, specs, {"session.get_spark_s": t1 - t0, "registry.load_s": t2 - t1,
                          "session.warmup_s": t3 - t2, "setup_s": t3 - t0}


def shutdown(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None  # the next session relaunches


# -- workloads ---------------------------------------------------------------


class McWorkload:
    """One op = one battery run to closed CSV files or committed parquet."""

    #: Spans whose sum is the op's time as its layers account for it.
    LAYERS = ("simulate", "sink.parquet")

    def __init__(self, name: str, seed: int, size: str, work: str, tamper=None):
        self.name, self.seed, self.tamper = name, seed, tamper
        self.csv = name == "mc_demo1_csv"
        self.cfgs = mcload.configs(name, mcload.TINY_SCALE if size == "tiny" else mcload.SCALE)
        self.out_dir = os.path.join(work, name)
        self.calls = self.model_s = None

    def golden(self) -> dict:
        return mcload.reference_digests(self.name, self.seed, self.cfgs)

    @contextlib.contextmanager
    def tracing(self, spark, tr):
        """Count model calls through accumulators and span the CSV sink,
        which ``simulate`` calls internally."""
        from parallel_monte_carlo_simulations_spark.mc import sinks

        self.calls = spark.sparkContext.accumulator(0)
        self.model_s = spark.sparkContext.accumulator(0.0)
        export = sinks.export_traces_csv

        def traced_export(*args, **kwargs):
            with tr.span("sink.csv", tr.op, group=True):
                return export(*args, **kwargs)

        sinks.export_traces_csv = traced_export
        try:
            yield
        finally:
            sinks.export_traces_csv = export

    def op(self, spark, specs, tr, golden) -> dict:
        from parallel_monte_carlo_simulations_spark import MCBattery
        from parallel_monte_carlo_simulations_spark.mc.sinks import write_traces_parquet

        model = mcload.coin_sequence
        if tr.enabled:
            model = mcload.CountingModel(model, self.calls, self.model_s)
            calls0, model_s0 = self.calls.value, self.model_s.value
        shutil.rmtree(self.out_dir, ignore_errors=True)
        models = [model] * len(self.cfgs)
        battery = MCBattery({"rng": mcload.RNG, "master_seed": self.seed})
        cpu0, t0 = measure.tree_cpu_s(), time.perf_counter()
        with tr.span("op", tr.op):
            if self.csv:
                paths = [os.path.join(self.out_dir, f"{i}.txt") for i in range(len(models))]
                with tr.span("simulate", tr.op, group=True):
                    battery.simulate(models, self.cfgs, output_paths=paths, spark=spark)
            else:
                with tr.span("simulate", tr.op, group=True):
                    df = battery.simulate(models, self.cfgs, spark=spark)
                with tr.span("sink.parquet", tr.op, group=True):
                    write_traces_parquet(df, os.path.join(self.out_dir, "traces"))
        rec = {"ops": 1, "wall_s": time.perf_counter() - t0, "cpu_s": measure.tree_cpu_s() - cpu0}
        spark.catalog.clearCache()  # simulate() persists the frame it exports
        if self.tamper:
            self.tamper(self.out_dir)
        rec["failed"] = int(mcload.output_digests(self.name, self.out_dir) != golden)
        if tr.enabled:
            out_bytes, rec["out_files"] = mcload.output_bytes(self.name, self.out_dir)
            rec.update(model_calls=self.calls.value - calls0,
                       model_s=self.model_s.value - model_s0,
                       out_mb=out_bytes / 2**20,
                       sims=mcload.output_rows(self.name, self.out_dir))
        return rec

    def live_phases(self, spark, tr) -> dict:
        """Microseconds per ``mc.seeds.rng_for`` call, timed on the driver.
        The battery does not call it; it inlines the same expression."""
        import numpy as np

        from parallel_monte_carlo_simulations_spark.mc.seeds import rng_for

        bit_gen, n = getattr(np.random, mcload.RNG), 20_000
        t0 = time.perf_counter()
        for i in range(n):
            rng_for(bit_gen, self.seed, 0, i)
        return {"mc.seeds.rng_for_us": (time.perf_counter() - t0) / n * 1e6}

    def layer_metrics(self, tr, ev, execs, rec: dict) -> dict:
        op = rec["op"]
        python = ev.summary(tr.groups(op), python_stage=True)
        simulate = next((s for s in tr.spans if s["op"] == op and s["name"] == "simulate"), None)
        first_job = ev.first_job_s(tr.groups(op))
        return {
            "mc.battery.plan_s": first_job - simulate["start"] if simulate and first_job else 0.0,
            "mc.battery.sims": rec["sims"],
            "mc.battery.model_calls": rec["model_calls"],
            "mc.battery.model_s": rec["model_s"],
            "mc.battery.python_stage_s": python["executor_run_s"],
            "mc.battery.overhead_s": python["executor_run_s"] - rec["model_s"],
            "mc.battery.tasks": python["tasks"],
            "mc.sinks.csv_s": tr.seconds("sink.csv", op),
            "mc.sinks.csv_jobs": len(ev.job_ids(tr.groups(op, "sink.csv"))),
            "mc.sinks.csv_mb": rec["out_mb"] if self.csv else 0.0,
            "mc.sinks.parquet_s": tr.seconds("sink.parquet", op),
            "mc.sinks.parquet_mb": 0.0 if self.csv else rec["out_mb"],
            "mc.sinks.parquet_files": 0 if self.csv else rec["out_files"],
            **spark_metrics(ev, execs, tr.groups(op)),
        }


class QueryMix:
    """One op = every query of the mix, built through the registry and run
    to a pandas frame. Each query counts as one attempted op."""

    LAYERS = ("build", "plan", "action")

    def __init__(self, size: str):
        self.tables_dir = querymix.tables_dir(size)

    def golden(self) -> dict:
        return querymix.oracle_digests(self.tables_dir)

    def tracing(self, spark, tr):
        return contextlib.nullcontext()

    def op(self, spark, specs, tr, golden) -> dict:
        rec = {"ops": 0, "wall_s": 0.0, "cpu_s": 0.0, "failed": 0, "per_query": {}}
        for name in querymix.QUERIES:
            rec["ops"] += 1
            cpu0, t0 = measure.tree_cpu_s(), time.perf_counter()
            try:
                with tr.span(name, tr.op):
                    with tr.span("build", tr.op, group=True):
                        df = specs[name].fn(spark, self.tables_dir)
                    if tr.enabled:
                        with tr.span("plan", tr.op):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("action", tr.op, group=True):
                        pdf = df.toPandas()
            except Exception as exc:  # a failed op is counted, the loop goes on
                print(f"{name}: {type(exc).__name__}: {exc}", file=sys.stderr)
                rec["failed"] += 1
                continue
            finally:
                wall = time.perf_counter() - t0
                rec["wall_s"] += wall
                rec["cpu_s"] += measure.tree_cpu_s() - cpu0
                rec["per_query"][name] = wall
                spark.catalog.clearCache()  # iterative queries persist state
            rec["failed"] += int(querymix.frame_digest(pdf) != golden[name])
        return rec

    def live_phases(self, spark, tr) -> dict:
        """``tables.table`` on each of the ten tables, one span per call."""
        from parallel_monte_carlo_simulations_spark.tables import TABLE_NAMES, table

        tr.enabled, tr.op = True, "tables"
        for name in TABLE_NAMES:
            with tr.span("tables.table", "tables", group=True):
                table(spark, self.tables_dir, name)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup
        return {
            "tables.read_s": tr.seconds("tables.table", "tables") / len(TABLE_NAMES),
            "tables.schema_jobs": sum(len(jobs(g)) for g in set(tr.groups("tables"))),
        }

    def layer_metrics(self, tr, ev, execs, rec: dict) -> dict:
        op = rec["op"]
        return {
            "registry.build_s": tr.seconds("build", op),
            "registry.build_jobs": len(ev.job_ids(tr.groups(op, "build"))),
            "spark.plan_s": tr.seconds("plan", op),
            "spark.action_s": tr.seconds("action", op),
            **{f"operators.{q}.s": rec["per_query"][q] for q in querymix.QUERIES},
            **spark_metrics(ev, execs, tr.groups(op)),
        }


def unattributed_jobs(tr, ev, rec: dict) -> int:
    """Jobs the event log shows submitted during a traced op that no layer
    span of the op claims through its job group."""
    during = ev.jobs_between(rec["start"], rec["end"])
    return len(during - set(ev.job_ids(tr.groups(rec["op"]))))


def spark_metrics(ev, execs, groups) -> dict:
    return {"spark.exchanges": exchanges(execs, ev.job_ids(groups)),
            **{f"spark.{k}": v for k, v in ev.summary(groups).items()}}


def per_layer_names() -> list[str]:
    """Every per-layer metric, in output order."""
    return [
        "session.get_spark_s", "session.warmup_s", "registry.load_s",
        "registry.build_s", "registry.build_jobs",
        *(f"operators.{q}.s" for q in querymix.QUERIES),
        "tables.read_s", "tables.schema_jobs",
        "spark.plan_s", "spark.action_s", "spark.jobs", "spark.stages", "spark.tasks",
        "spark.exchanges", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
        "spark.deserialize_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
        "spark.spill_mb",
        "mc.battery.plan_s", "mc.battery.sims", "mc.battery.model_calls",
        "mc.battery.model_s", "mc.battery.python_stage_s", "mc.battery.overhead_s",
        "mc.battery.tasks", "mc.seeds.rng_for_us",
        "mc.sinks.csv_s", "mc.sinks.csv_jobs", "mc.sinks.csv_mb",
        "mc.sinks.parquet_s", "mc.sinks.parquet_mb", "mc.sinks.parquet_files",
        "warmup_op_s", "trace_overhead_pct", "reconcile.residual_pct",
        "reconcile.unattributed_jobs", "error_rate",
    ]


END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MiB",
              "ok_rate": "ratio"}


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name == "error_rate":
        return "ratio"
    suffixes = {"_s": "s", ".s": "s", "_us": "us", "_mb": "MiB", "_pct": "%"}
    return next((u for sfx, u in suffixes.items() if name.endswith(sfx)), "count")


# -- the run -----------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "full",
        tamper=None, golden: dict | None = None, drop=()) -> dict:
    """One benchmark run in this process; returns the full result record.

    ``size``, ``tamper``, ``golden`` and ``drop`` serve the self-test: a
    tiny workload, a hook that corrupts each MC op's output files, digests
    to use in place of the computed ones, and span names not to record.
    """
    context = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
               "size": size, "nproc": nproc(), "load_1m_start": measure.loadavg_1m(),
               "other_spark_jvms": measure.other_spark_jvms(),
               "git_commit": measure.git_commit(ROOT)}
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = os.path.join(work, "eventlog")
    spark, specs, setup_t = setup(event_log_conf(log_dir) if trace else None)
    stopped = False
    stack = contextlib.ExitStack()
    try:
        if workload.startswith("mc_"):
            wl = McWorkload(workload, seed, size, work, tamper)
        else:
            wl = QueryMix(size)
        # The committed digests hold for the default seed, and for every
        # seed on query_mix, whose tables do not depend on it.
        if golden is None and size == "full" and (
                seed == DEFAULT_SEED or workload == "query_mix"):
            with open(GOLDEN) as fh:
                golden = json.load(fh)["digests"][workload]
        golden = golden or wl.golden()
        tr = Tracer(spark.sparkContext, drop)
        if trace:
            stack.enter_context(wl.tracing(spark, tr))

        def do_op(i: int, traced: bool) -> dict:
            tr.enabled, tr.op = traced, f"op{i}"
            start = time.time()
            try:
                rec = wl.op(spark, specs, tr, golden)
            except Exception as exc:  # a failed op is counted, the loop goes on
                print(f"op{i}: {type(exc).__name__}: {exc}", file=sys.stderr)
                rec = {"ops": 1, "wall_s": None, "cpu_s": None, "failed": 1}
            tr.enabled = False
            return dict(rec, op=f"op{i}", traced=traced, start=start, end=time.time())

        # Untimed warm-up ops let the JIT settle (on query_mix the first op
        # of a fresh JVM runs about 2.8x slower than the fifth, the second
        # about 1.3x, the third about 1.1x); they are checked like every
        # op. The window then runs
        # ops back to back; a traced run interleaves them as u t t u, repeated.
        warmup = [do_op(i, False) for i in range(WARMUP_OPS)]
        window: list[dict] = []
        steal0, total0 = measure.cpu_ticks()
        min_ops = MIN_TRACED_WINDOW_OPS if trace else MIN_WINDOW_OPS
        with measure.PeakMemory() as mem:
            deadline = time.perf_counter() + seconds
            while time.perf_counter() < deadline or len(window) < min_ops:
                window.append(do_op(WARMUP_OPS + len(window), trace and len(window) % 4 in (1, 2)))
        ops = warmup + window
        attempted = sum(r["ops"] for r in ops)
        failed = sum(r["failed"] for r in ops)
        timed = [r for r in window if r["wall_s"] is not None]
        context["load_1m_end"] = measure.loadavg_1m()
        steal1, total1 = measure.cpu_ticks()
        context["window_steal_pct"] = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
        # Flagged for the reader, never used to drop a run.
        context["flags"] = [f for f, on in (
            ("busy_box", max(context["load_1m_start"], context["load_1m_end"]) > nproc() / 2),
            ("cpu_steal", context["window_steal_pct"] > 5.0),
            ("other_spark_jvms", context["other_spark_jvms"] > 0)) if on]
        result = {"context": context, "setup": setup_t,
                  "ops": ops, "attempted": attempted, "failed": failed}
        if not timed:
            raise RuntimeError("every op of the window failed")
        if not trace:
            result["metrics"] = {
                "setup_s": setup_t["setup_s"],
                "wall_s": statistics.median(r["wall_s"] for r in timed),
                "cpu_s": statistics.median(r["cpu_s"] for r in timed),
                "peak_rss_mb": mem.peak_mb,
                "ok_rate": 1.0 - failed / attempted,
            }
            return result
        live = wl.live_phases(spark, tr)
        execs = sql_executions(spark)
        shutdown(spark)
        stopped = True
        ev = EventLog(log_dir)
        traced = [r for r in timed if r["traced"]]
        plain = [r for r in timed if not r["traced"]]
        per_op = [wl.layer_metrics(tr, ev, execs, r) for r in traced]
        wall = statistics.median(r["wall_s"] for r in traced)
        plain_wall = statistics.median(r["wall_s"] for r in plain)
        layers = {name: 0.0 for name in per_layer_names()}
        layers.update({k: setup_t[k] for k in
                       ("session.get_spark_s", "session.warmup_s", "registry.load_s")})
        layers.update(live)
        layers.update({k: statistics.median(m[k] for m in per_op) for k in per_op[0]})
        # Reconciliation: what the layers account for in a traced op
        # against the wall time of the untraced ops, and every job of a
        # traced op claimed by one of its layers on Spark's own clock.
        layer_s = statistics.median(
            sum(tr.seconds(name, r["op"]) for name in wl.LAYERS) for r in traced)
        layers["reconcile.residual_pct"] = 100.0 * (plain_wall - layer_s) / plain_wall
        layers["reconcile.unattributed_jobs"] = sum(unattributed_jobs(tr, ev, r) for r in traced)
        context["reconciled"] = (abs(layers["reconcile.residual_pct"]) <= RESIDUAL_BOUND_PCT
                                 and layers["reconcile.unattributed_jobs"] == 0)
        layers["trace_overhead_pct"] = 100.0 * (wall - plain_wall) / plain_wall
        layers["warmup_op_s"] = warmup[0]["wall_s"]
        layers["error_rate"] = failed / attempted
        result["metrics"] = layers
        result["spans"] = tr.spans
        return result
    finally:
        stack.close()
        if not stopped:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _isolate_environment()
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(OUT, "results", name), "w") as fh:
        json.dump(res, fh, indent=1, default=str)
    print(json.dumps({"context": res["context"], "timed_ops": len(res["ops"]) - WARMUP_OPS}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
