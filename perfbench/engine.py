"""One engine process of a benchmark run: set-up, passes, trace, check.

Started by ``run.py`` in a fresh process per run (and again, with
``--setup-only``, for the extra set-up samples). Prints one JSON object
as its last stdout line; ``run.py`` turns it into the benchmark metrics.

A pass runs every query of the workload once, in an order drawn from the
seed, each as ``fn(spark, data_dir)`` (the plan build, which may fire
Spark jobs) followed by a ``noop`` write (the execution). The first pass
of the session is the cold pass. Next every query's result is checked
against its DuckDB oracle, then the workload's fixed number of untimed
warm-up passes run (each pass records the JVM's JIT and GC time, so the
trace shows where compilation settles), then timed passes for
``--seconds``. In a traced run the timed passes alternate between tracer
off and on, so the run measures its own tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: The warm-up counts as over when its last pass's JIT compile time is at
#: least this share of the pass before (compilation stopped falling).
JIT_SETTLED = 0.8
MIN_TIMED_PASSES = 3
#: A timed window whose pass time drifts by more than this share of its
#: median from first to last pass is flagged as not steady.
TREND_FLAG = 0.10
#: Operator modules reported by name; the rest add up to operators.other_s.
NAMED_OPERATORS = ("graph", "similarity", "dedup", "skew", "corpus", "text",
                   "relational", "events")


class Jvm:
    """JIT and GC time from the JVM's management beans and, for traced
    passes, job/stage/task counters from the scheduler and status store.
    The scheduler counters include the micro-batch jobs that streaming
    queries run on their own threads and job groups."""

    def __init__(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()

    def jit_gc_s(self) -> tuple[float, float]:
        gc_ms = sum(b.getCollectionTime() for b in self._gcs)
        return self._jit.getTotalCompilationTime() / 1e3, gc_ms / 1e3

    def jobs(self) -> int:
        return self._dag.nextJobId()

    def stages(self) -> int:
        return self._dag.nextStageId()

    def tasks(self) -> int:
        self._bus.waitUntilEmpty()
        return self._store.executorSummary("driver").totalTasks()


def tree_peak_rss_mb() -> float:
    """Sum of the peak RSS (VmHWM) of this process and its descendants
    (the JVM and its Python workers)."""
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                todo.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total_kb / 1024


def trend(values: list[float]) -> float:
    """Least-squares drift across the window as a share of its median."""
    n = len(values)
    if n < 3:
        return 0.0
    xm, ym = (n - 1) / 2, statistics.fmean(values)
    slope = sum((i - xm) * (v - ym) for i, v in enumerate(values)) / sum(
        (i - xm) ** 2 for i in range(n))
    return slope * (n - 1) / statistics.median(values)


class Runner:
    def __init__(self, spark, queries, names, data_dir, seed, tracer, jvm):
        self.spark, self.queries, self.names = spark, queries, names
        self.data_dir, self.tracer, self.jvm = data_dir, tracer, jvm
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def run_pass(self, kind: str, traced: bool) -> dict:
        tracer, jvm = self.tracer, self.jvm
        tracer.enabled = traced
        tracer.reset()
        order = self.rng.sample(self.names, len(self.names))
        layers = {"plans.build_s": 0.0, "exec.s": 0.0, "plans.build_jobs": 0,
                  "exec.jobs": 0, "exec.stages": 0, "exec.tasks": 0}
        latencies = []
        jit0, gc0 = jvm.jit_gc_s()
        t_pass = time.perf_counter()
        for name in order:
            self.attempted += 1
            try:
                if traced:
                    j0 = jvm.jobs()
                t0 = time.perf_counter()
                df = tracer.timed("plans", self.queries[name], self.spark,
                                  self.data_dir)
                t1 = time.perf_counter()
                if traced:
                    j1, s1, k1 = jvm.jobs(), jvm.stages(), jvm.tasks()
                t2 = time.perf_counter()
                tracer.timed(
                    "exec", df.write.format("noop").mode("overwrite").save)
                t3 = time.perf_counter()
            except Exception as exc:  # a failing query is counted, not fatal
                self.failed += 1
                self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            latencies.append((t1 - t0) + (t3 - t2))
            layers["plans.build_s"] += t1 - t0
            layers["exec.s"] += t3 - t2
            if traced:
                layers["plans.build_jobs"] += j1 - j0
                layers["exec.jobs"] += jvm.jobs() - j1
                layers["exec.stages"] += jvm.stages() - s1
                layers["exec.tasks"] += jvm.tasks() - k1
        wall = time.perf_counter() - t_pass
        jit1, gc1 = jvm.jit_gc_s()
        tracer.enabled = False
        out = {"kind": kind, "traced": traced, "s": wall,
               "jit_s": jit1 - jit0, "gc_s": gc1 - gc0,
               "latencies": latencies}
        if traced:
            out["layers"] = {**layers, **self.tracer_layers()}
        return out

    def tracer_layers(self) -> dict:
        t, c = self.tracer.times, self.tracer.counts
        out = {
            "plans.self_s": t["plans"],
            "streaming.drain_s": t["streaming"],
            "streaming.drain_jobs": c["streaming.drain_jobs"],
            "session.self_s": t["session"],
        }
        for name in ("session.get_spark_s", "session.memo_df.build_s",
                     "session.tune_shuffle_for_input_s",
                     "sources.load_table_s", "ml.fit_s"):
            out[name] = t[name]
        for name in ("session.memo_df.calls", "session.memo_df.misses",
                     "session.rebalance_for_cpu.calls",
                     "sources.load_table.calls"):
            out[name] = c[name]
        calls = c["session.memo_df.calls"]
        out["session.memo_df.hit_ratio"] = (
            (calls - c["session.memo_df.misses"]) / calls if calls else 0.0)
        out["operators.other_s"] = 0.0
        for layer, v in t.items():
            if layer.startswith("operators.") and not layer.endswith("_s"):
                module = layer.split(".")[1]
                key = (f"operators.{module}_s" if module in NAMED_OPERATORS
                       else "operators.other_s")
                out[key] = out.get(key, 0.0) + v
        return out

    def check(self) -> dict:
        """Fingerprint each query's collected result against its DuckDB
        oracle over the same files (outside every timed section). The
        oracles run in a second process while Spark collects."""
        import multiprocessing

        results = {}
        with multiprocessing.get_context("spawn").Pool(1) as pool:
            want = pool.apply_async(oracle_fingerprints,
                                    (self.data_dir, self.names))
            got = {}
            for name in self.names:
                try:
                    df = self.queries[name](self.spark, self.data_dir)
                    got[name] = arrow_fingerprint(df.toArrow())
                except Exception as exc:
                    got[name] = f"{type(exc).__name__}: {exc}"[:300]
            want = want.get()
        for name in self.names:
            self.attempted += 1
            if got[name] == want[name]:
                results[name] = "ok"
            else:
                self.failed += 1
                results[name] = f"spark {got[name]} != oracle {want[name]}"
        return results


def arrow_fingerprint(tbl) -> tuple:
    """``tools/check_correctness``'s canonical fingerprint of an Arrow
    table; both engines' results reach it through this one conversion."""
    from tools.check_correctness import table_fingerprint

    cols = [c.to_pylist() for c in tbl.columns]
    return table_fingerprint(tbl.column_names, list(zip(*cols)) if cols else [])


def oracle_fingerprints(data_dir: str, names: list[str]) -> dict:
    import duckdb
    from tools.check_correctness import register_views

    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    out = {}
    with duckdb.connect() as con:
        register_views(con, data_dir)
        for name in names:
            try:
                out[name] = arrow_fingerprint(con.execute(oracles[name]).arrow())
            except Exception as exc:
                out[name] = f"oracle {type(exc).__name__}: {exc}"[:300]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="time.monotonic() when the parent started us")
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args(argv)

    tracer = Tracer()
    if args.trace:
        tracer.install()
        tracer.enabled = True
    from financial_big_data_exp_4_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()
    setup_s = time.monotonic() - args.t0
    tracer.enabled = False
    if args.setup_only:
        print(json.dumps({"setup_s": setup_s}), flush=True)
        spark.stop()
        return 0
    setup_layers = {"session.get_spark_s": tracer.times["session.get_spark_s"]}

    import __spark_entry__

    tracer.sweep()
    queries = __spark_entry__.queries()
    names = list(WORKLOADS[args.workload]["queries"])
    missing = [n for n in names if n not in queries]
    if missing:
        raise SystemExit(f"queries not declared by __spark_entry__: {missing}")
    jvm = Jvm(spark)
    tracer.job_counter = jvm.jobs
    d = Runner(spark, queries, names, args.data, args.seed, tracer, jvm)

    passes = [d.run_pass("cold", bool(args.trace))]
    t_check = time.perf_counter()
    check = d.check()  # doubles as the first warm-up pass
    t_warm = time.perf_counter()
    for _ in range(WORKLOADS[args.workload]["warmup_passes"]):
        passes.append(d.run_pass("warmup", bool(args.trace)))
    warm = [p for p in passes if p["kind"] == "warmup"]
    warmed = (len(warm) >= 2
              and warm[-1]["jit_s"] >= JIT_SETTLED * warm[-2]["jit_s"])
    if not warmed:
        print("perfbench: JIT compile time was still falling when the "
              "warm-up ended", file=sys.stderr)
    # whole passes filling --seconds at the workload's nominal pace; a
    # traced run adds one traced pass after each untraced one
    n = max(MIN_TIMED_PASSES,
            round(args.seconds / WORKLOADS[args.workload]["pass_s"]))
    t_timed = time.perf_counter()
    for i in range(n * (1 + args.trace)):
        traced = bool(args.trace) and i % 2 == 1
        passes.append(d.run_pass("traced" if traced else "timed", traced))
    phases = {"cold_s": passes[0]["s"], "check_s": t_warm - t_check,
              "warmup_s": t_timed - t_warm,
              "timed_s": time.perf_counter() - t_timed}
    drift = trend([p["s"] for p in passes if p["kind"] == "timed"])
    if abs(drift) > TREND_FLAG:
        print(f"perfbench: timed passes drift {drift:+.1%} across the "
              "window; the run is not steady", file=sys.stderr)

    import pyspark

    out = {
        "setup_s": setup_s,
        "setup_layers": setup_layers,
        "passes": passes,
        "warmed": warmed,
        "phases": phases,
        "trend": drift,
        "check": check,
        "errors": d.errors,
        "attempted": d.attempted,
        "failed": d.failed,
        "peak_rss_mb": tree_peak_rss_mb(),
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "master": spark.sparkContext.master,
            "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
        },
    }
    print(json.dumps(out), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
