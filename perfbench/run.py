"""The engine's benchmark: one workload, one run, one JSON result line.

Usage, from the repository root::

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A run generates the sf0.1-shaped input once per checkout (``fixture.py``,
cached under ``.perfbench/``), starts the engine twice with
``--setup-only`` for extra set-up samples, then runs the workload in a
fresh engine process (``engine.py``): a cold pass, a check of every
query's result against its DuckDB oracle, a fixed number of untimed
warm-up passes and timed passes for about ``--seconds``. The seed orders
the queries of every pass. The load is a closed loop: one client thread
issues one query at a time on ``local[<cores>]``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics. ``failed / attempted`` is the error
rate: queries that raised or whose result differs from the oracle. The
line before it holds the run's details (environment, every pass with its
JIT and GC time, the check). ``compare.py`` ranks per-layer differences
between two sets of traced runs. The run writes only under
``.perfbench/`` in the current directory and removes its own scratch
space at the end.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import fixture  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Settings that switch engine code paths for A/B experiments; a run
#: with any of them set would not measure the engine as shipped.
AB_KNOBS = (
    "SPARK_GRAFT_DRAIN_PARTITIONS",
    "SPARK_GRAFT_STATE_PROVIDER",
    "SPARK_GRAFT_MEMO_BYPASS",
    "SPARK_GRAFT_AQE_OFF_BYTES",
)
SETUP_SAMPLES = 3
PR_SET_CHILD_SUBREAPER = 36
#: Heap for the Spark JVM; the engine's own default (48g) is sized for a
#: large host, and the sf0.1 fixture needs a fraction of this.
DRIVER_MEMORY = "4g"
#: Every child must be gone by then, so a run ends within 180 s.
DEADLINE_S = 170.0
#: Layer metrics of one traced pass. A traced run reports each as the
#: median over its traced timed passes and, prefixed ``cold.``, for the
#: cold pass; ``BENCHMARK.json`` lists them under ``per_layer``.
PER_PASS = (
    "plans.build_s", "plans.build_jobs", "plans.self_s",
    "streaming.drain_s", "streaming.drain_jobs",
    "session.self_s", "session.memo_df.calls", "session.memo_df.misses",
    "session.memo_df.hit_ratio", "session.memo_df.build_s",
    "session.rebalance_for_cpu.calls", "session.tune_shuffle_for_input_s",
    "sources.load_table.calls", "sources.load_table_s",
    "operators.graph_s", "operators.similarity_s", "operators.dedup_s",
    "operators.skew_s", "operators.corpus_s", "operators.text_s",
    "operators.relational_s", "operators.events_s", "operators.other_s",
    "ml.fit_s", "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
    "jvm.jit_s", "jvm.gc_s",
)


class ChildFailed(RuntimeError):
    pass


def run_child(cmd: list[str], env: dict, log_path: str, deadline: float):
    """Run ``cmd`` in its own process group until it prints its JSON
    line, then kill the group (the JVM and everything it started) and
    wait until every process has ended. Returns the JSON object."""
    t0 = time.monotonic()
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [*cmd, "--t0", repr(t0)], env=env, stdout=subprocess.PIPE,
            stderr=log, start_new_session=True)
    watchdog = threading.Timer(max(1.0, deadline - t0), kill_group, (proc,))
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith(b"{"):
                result = json.loads(line)
                break
    finally:
        watchdog.cancel()
        kill_group(proc)
        proc.wait()
        reap_orphans()
    if result is None:
        with open(log_path, "rb") as log:
            tail = log.read()[-3000:].decode(errors="replace")
        raise ChildFailed(f"{cmd[2:]} gave no result:\n{tail}")
    return result


def kill_group(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def reap_orphans(timeout: float = 20.0) -> None:
    """Wait for the processes our children left behind. As a child
    subreaper this process inherits them, the PySpark worker daemon
    included (it runs in a process group of its own and exits when the
    JVM is gone); any still alive after ``timeout`` are killed."""
    end = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > end:
            for child in own_children():
                os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


def own_children() -> list[int]:
    pids = []
    for tid in os.listdir("/proc/self/task"):
        with open(f"/proc/self/task/{tid}/children") as f:
            pids.extend(int(p) for p in f.read().split())
    return pids


def child_env(root: str, work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": root,
        "SPARK_GRAFT_CPUS": env.get("SPARK_GRAFT_CPUS")
        or str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def median_of(passes: list[dict], key) -> float:
    return statistics.median(key(p) for p in passes)


def end_to_end(r: dict, setups: list[float]) -> dict:
    timed = [p for p in r["passes"] if p["kind"] == "timed"]
    samples = [s for p in timed for s in p["latencies"]]
    return {
        "setup_s": statistics.median(setups),
        "cold_pass_s": r["passes"][0]["s"],
        "pass_s": median_of(timed, lambda p: p["s"]),
        "query_p50_s": statistics.median(samples),
        "query_p90_s": statistics.quantiles(
            samples, n=10, method="inclusive")[8],
    }


def per_layer(r: dict) -> dict:
    def layer(p, name):
        if name == "jvm.jit_s":
            return p["jit_s"]
        if name == "jvm.gc_s":
            return p["gc_s"]
        return p["layers"].get(name, 0)

    cold = r["passes"][0]
    traced = [p for p in r["passes"] if p["kind"] == "traced"]
    untraced = median_of(
        [p for p in r["passes"] if p["kind"] == "timed"], lambda p: p["s"])
    out = {"session.get_spark_s": r["setup_layers"]["session.get_spark_s"]}
    for name in PER_PASS:
        out[name] = median_of(traced, lambda p: layer(p, name))
        out["cold." + name] = layer(cold, name)
    out["jvm.warmup_passes"] = sum(
        p["kind"] == "warmup" for p in r["passes"])
    out["trace.pass_s"] = median_of(traced, lambda p: p["s"])
    out["trace.untraced_pass_s"] = untraced
    out["trace.overhead_s"] = out["trace.pass_s"] - untraced
    out["trace.accounted_share"] = median_of(traced, lambda p: (
        p["layers"]["plans.build_s"] + p["layers"]["exec.s"]) / p["s"])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isfile(spec_path)):
        print("perfbench: run from the repository root (no "
              "__spark_entry__.py or BENCHMARK.json here)", file=sys.stderr)
        return 2
    knobs = [k for k in AB_KNOBS if os.environ.get(k)]
    if knobs:
        print(f"perfbench: refusing to run with A/B knobs set: {knobs}",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    # orphans of the engine process (the JVM's Python workers) become
    # our children, so the run can wait for every process it started
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1)
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    try:
        data = fixture.cached(os.path.join(root, ".perfbench"))
        env = child_env(root, work)
        log = os.path.join(work, "engine.log")
        base = [sys.executable, os.path.join(HERE, "engine.py"),
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--data", data]
        setups = [run_child([*base, "--setup-only"], env, log, deadline)
                  ["setup_s"] for _ in range(SETUP_SAMPLES - 1)]
        r = run_child(base, env, log, deadline)
    except ChildFailed as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    setups.append(r["setup_s"])

    values = per_layer(r) if args.trace else end_to_end(r, setups)
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec[kind]}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": r["env"], "setup_samples": setups, "warmed": r["warmed"],
        "peak_rss_mb": r["peak_rss_mb"],
        "phases": r["phases"],
        "trend": r["trend"], "check": r["check"], "errors": r["errors"],
        "samples": sum(len(p["latencies"]) for p in r["passes"]
                       if p["kind"] == "timed"),
        "passes": [{k: v for k, v in p.items() if k != "latencies"}
                   for p in r["passes"]],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
