"""Seeded benchmark for openseize_spark.

Run from the repository root:

    python3 perfbench/run.py --workload eeg_batch --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md): eeg_batch, corpus_dedup.  The run
sets up once, and setup_s times all of it: it launches the JVM and starts
the Spark session, generates the inputs from --seed, and warms the session
up (its first job, which starts the Python workers).  It then runs passes
for --seconds (at least one).  With --trace 1 a traced pass follows the timed
ones and the per-layer metrics are reported instead of the end-to-end
ones.  Human-readable lines come first; the last stdout line is one JSON
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--out FILE also writes the full result (environment, every metric,
spans) as JSON, the input of perfbench/diff.py.  Exit code 0 means every
output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
# the gated end-to-end metrics, in BENCHMARK.json
END_TO_END = ("setup_s", "run_s", "peak_rss_mb", "ok_frac")
DRIVER_MEM = "1g"


def pin_environment(work: str) -> dict:
    """Fix cores, memory and scratch paths before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    return env


def start_session(work: str):
    from openseize_spark.session import get_spark

    # a heap fixed at its maximum keeps peak memory steady between runs
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms{DRIVER_MEM}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """The session's first job, which also starts one Python worker per
    core with the library's numeric stack imported.  Passes otherwise
    start cold (codegen, UDFs), as the single pass of a pipeline script
    does."""

    def touch(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        import openseize_spark.dsp.kernels  # noqa: F401

        yield from it

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 64 * n, 1, n).selectExpr("id", "cast(id as double) x").mapInPandas(
        touch, "id long, x double"
    ).write.mode("overwrite").format("noop").save()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
            ppid = int(st[st.rindex(")") + 2 :].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = process_tree(proc.pid) if proc is not None else []
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class RssSampler:
    """Peak resident memory of the JVM and its descendants (the Python
    workers), sampled from /proc.  Each process counts its proportional
    set size, so the pages forked workers share with their daemon are
    counted once."""

    def __init__(self, root_pid: int | None, period: float = 0.05):
        self.root = root_pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass
        return 0

    def _tree_kb(self) -> int:
        return sum(self._pss_kb(p) for p in process_tree(self.root))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(self.period)

    def __enter__(self):
        if self.root is not None:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
        if self.root is not None:
            self.peak_kb = max(self.peak_kb, self._tree_kb())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def git_head() -> str:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def environment(spark, env: dict, seed: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "cpus": int(env["SPARK_GRAFT_CPUS"]),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "local_dirs": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_head": git_head(),
        "seed": seed,
    }


# ---------------------------------------------------------------- passes
def guarded_pass(spark, wl, tr, inputs, ref, out_dir: str):
    """Run and check one pass: (wall s, failures, result, extra metrics).
    A pass that raises counts as failed."""
    t0 = time.perf_counter()
    try:
        res = wl.run_pass(spark, tr, inputs, ref, out_dir)
        errs, extra = wl.check(res, ref)
    except Exception as e:
        res, errs, extra = {}, [f"pass raised {type(e).__name__}: {e}"], {}
    return time.perf_counter() - t0, errs, res, extra


def timed_passes(spark, wl, inputs, ref, seconds: float, out_dir: str) -> dict:
    """Closed loop, one client: passes back to back for ``seconds``, at
    least one.  The first pass starts cold, as a pipeline script's single
    pass does: the session has run its set-up jobs and the Python workers
    are up, but no codegen class or UDF of the pipeline has been used."""
    from perfbench.trace import Tracer

    off = Tracer(spark, "untraced", enabled=False)
    walls, failures, failed, extras = [], [], 0, {}
    with RssSampler(jvm_pid()) as rss:
        t_end = time.perf_counter() + seconds
        while True:
            wall, errs, _, extra = guarded_pass(spark, wl, off, inputs, ref, out_dir)
            walls.append(wall)
            failed += bool(errs)
            failures += errs
            for k, v in extra.items():
                extras.setdefault(k, []).append(v)
            if time.perf_counter() >= t_end:
                break
    metrics = {"run_s": (statistics.median(walls), "s"), "peak_rss_mb": (rss.peak_mb, "MB")}
    metrics.update({k: (statistics.median(v), "ratio") for k, v in extras.items()})
    return {"walls": walls, "failed": failed, "failures": failures, "metrics": metrics}


def traced_pass(spark, wl, name: str, inputs, ref, out_dir: str) -> dict:
    """A warm untraced pass, then the traced one.  Returns its record,
    the per-layer metrics and the failures of both passes."""
    from perfbench.trace import Tracer, next_job_id

    off = Tracer(spark, "untraced", enabled=False)
    warm, failures, _, _ = guarded_pass(spark, wl, off, inputs, ref, out_dir)
    sc = spark.sparkContext
    tr = Tracer(spark, f"{name}-traced", enabled=True)
    first_job = next_job_id(sc)
    t0 = time.perf_counter()
    wall_offset = time.time() - t0
    with tr.span("pass"):
        _, errs, res, _ = guarded_pass(spark, wl, tr, inputs, ref, out_dir)
    wall = time.perf_counter() - t0
    end_job = next_job_id(sc)
    tr.resolve()
    audit = tr.audit(first_job, end_job)
    if audit["unattributed"] or audit["shared"]:
        errs.append(
            f"trace: jobs {audit['unattributed']} are in no span, jobs {audit['shared']} in several"
        )
    layers = tr.layer_metrics(sc.defaultParallelism)
    busy = tr.busy_seconds(t0, t0 + wall, wall_offset)
    layers["driver.idle_s"] = wall - busy
    layers["trace.overhead_s"] = wall - warm
    by_name = {s.name: s for s in tr.spans}
    cand = by_name.get("llm.dedup.minhash_lsh_pairs")
    ver = by_name.get("llm.dedup.jaccard_verify")
    n_cand = cand.stats["rows_out"] if cand else 0
    layers["llm.dedup.candidates"] = n_cand
    layers["llm.dedup.lsh_yield"] = ver.stats["rows_out"] / n_cand if n_cand else 0.0
    layers.update(stream_metrics(res.get("live_progress", [])))
    return {
        "record": {
            "wall_s": wall,
            "untraced_warm_s": warm,
            "busy_s": busy,
            "jobs": audit["jobs"],
            "task_s_total": audit["task_s"],
            "failures": errs,
            "spans": tr.span_records(t0),
        },
        "layers": layers,
        "warm_failed": bool(failures),
        "traced_failed": bool(errs),
        "failures": failures + errs,
    }


def stream_metrics(progress) -> dict[str, float]:
    """streaming.stateful.* from the live replay's StreamingQueryProgress:
    medians over its micro-batches."""
    batches = [p for p in progress if p.numInputRows > 0]
    if not batches:
        return {}
    med = statistics.median
    ops = [p.stateOperators[0] for p in batches if p.stateOperators]
    out = {
        "streaming.stateful.add_batch_ms": med([p.durationMs.get("addBatch", 0) for p in batches]),
        "streaming.stateful.plan_ms": med([p.durationMs.get("queryPlanning", 0) for p in batches]),
        "streaming.stateful.wal_ms": med([p.durationMs.get("walCommit", 0) for p in batches]),
        # the filter emits one row per input row
        "streaming.stateful.rows_out": sum(p.numInputRows for p in batches),
    }
    if ops:
        out["streaming.stateful.state_commit_ms"] = med([o.commitTimeMs for o in ops])
        out["streaming.stateful.state_rows"] = ops[-1].numRowsTotal
    return out


# ------------------------------------------------------------------ main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="eeg_batch or corpus_dedup")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full result JSON here")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "openseize_spark")):
        print("perfbench: run from the repository root (openseize_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import PER_LAYER
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.join(work, "out")
    spark = None
    try:
        env = pin_environment(work)
        # set-up is timed from the JVM launch; Python modules are imported
        # before it
        import openseize_spark.session  # noqa: F401

        t0 = time.perf_counter()
        spark = start_session(work)
        t1 = time.perf_counter()
        inputs, truth = wl.generate(args.seed, os.path.join(work, "inputs"))
        t2 = time.perf_counter()
        warm_up(spark)
        t3 = time.perf_counter()
        setup = {"session_s": t1 - t0, "inputs_s": t2 - t1, "warm_up_s": t3 - t2}
        ref = wl.prepare(inputs, truth)
        res = timed_passes(spark, wl, inputs, ref, args.seconds, out_dir)
        attempted, failed, failures = len(res["walls"]), res["failed"], res["failures"]
        tr = None
        if args.trace:
            tr = traced_pass(spark, wl, args.workload, inputs, ref, out_dir)
            attempted += 2
            failed += tr["warm_failed"] + tr["traced_failed"]
            failures += tr["failures"]
        envd = environment(spark, env, args.seed)

        metrics = {
            "setup_s": (t3 - t0, "s"),
            **res["metrics"],
            "ok_frac": (1.0 - failed / attempted, "ratio"),
        }
        print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
        print("env " + json.dumps(envd, sort_keys=True))
        print("set-up (s): " + ", ".join(f"{k} {v:.3f}" for k, v in setup.items()))
        print(f"{len(res['walls'])} timed samples: {[round(w, 3) for w in res['walls']]}")
        for k, (v, u) in metrics.items():
            print(f"  {k:<14} {v:12.4f} {u}")
        print(f"  {'failed_frac':<14} {failed / attempted:12.4f} ratio")
        for msg in failures[:20]:
            print("FAILED: " + msg)
        if tr:
            layers = tr["layers"]
            for k, v in sorted(layers.items()):
                if v:
                    print(f"  {k:<40} {v:.6g}")
            shown = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
        else:
            shown = {k: {"value": float(metrics[k][0]), "unit": metrics[k][1]} for k in END_TO_END}
        if args.out:
            os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
            with open(args.out, "w") as f:
                json.dump(
                    {
                        "workload": args.workload,
                        "seconds": args.seconds,
                        "trace": args.trace,
                        "env": envd,
                        "setup": setup,
                        "samples_s": res["walls"],
                        "metrics": {k: v for k, (v, _) in metrics.items()},
                        "layers": tr["layers"] if tr else {},
                        "traced": tr["record"] if tr else None,
                        "failures": failures,
                    },
                    f,
                    indent=1,
                )
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": shown}))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass


if __name__ == "__main__":
    sys.exit(main())
