"""c360 benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload c360_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. The steps, in order:

1. generate the workload's inputs from ``--seed`` under ``.perfbench_work/``
   (never timed; the lake and sink directories start empty);
2. start a worker process that owns a ``local[<cpus>]`` SparkSession, runs
   the untimed warm-up op (end of set-up) and priming ops, then a fixed
   number of timed ops, derived from ``--seconds`` and the workload's
   nominal op time, while this process samples the PSS of the worker's
   whole process tree;
3. start further set-up-only workers, so ``setup_s`` is a median;
4. check every op's output (DuckDB or a numpy reference) after all timers
   stopped; a mismatch or an exception counts as a failed op.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it is the full run
record, with per-op samples and the tail percentile's sample count.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from layers import proc_stat, process_tree  # noqa: E402

SETUP_REPS = 3
TAIL_BEYOND = 10
PSS_PERIOD_S = 0.5
WORKER_TIMEOUT_S = 150

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "spill.mb": "MB",
    "sources.scan_mb": "MB",
    "sources.sink_s": "s",
    "sources.sink_mb": "MB",
    "sources.sink_files": "count",
    "plans.ingest_s": "s",
    "enrich.classify_s": "s",
    "python.worker_cpu_s": "s",
    "driver.cpu_s": "s",
    "jvm.cpu_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def tail(samples: list[float]) -> dict | None:
    """The highest percentile of ``samples`` with at least TAIL_BEYOND
    samples above it, or None when that percentile would fall below the
    median (fewer than 2 * TAIL_BEYOND + 1 samples)."""
    s = sorted(samples)
    n = len(s)
    k = n - TAIL_BEYOND - 1
    if k < n // 2:  # s[n // 2] is the smallest sample not below the median
        return None
    return {"s": s[k], "percentile": 100.0 * (k + 1) / n, "beyond": n - 1 - k, "n": n}


class TreeSampler(threading.Thread):
    """Polls a process tree: peak summed PSS (MB, from smaps_rollup) and
    every pid seen in it, so that processes outliving the root can be
    waited for."""

    def __init__(self, root_pid: int):
        super().__init__(daemon=True)
        self.root = root_pid
        self.peak_mb = 0.0
        self.seen: set[int] = set()
        self.stop = threading.Event()

    def _pss_kb(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self.stop.is_set():
            tree = process_tree(self.root)
            self.seen.update(tree[1:])
            self.peak_mb = max(self.peak_mb, sum(self._pss_kb(p) for p in tree) / 1024)
            self.stop.wait(PSS_PERIOD_S)


def _alive(pid: int) -> bool:
    f = proc_stat(pid)
    return f is not None and f[0] != "Z"  # a zombie has exited


def _kill(pids) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_worker(args: list[str], env: dict) -> tuple[int, float]:
    """Run one worker to completion and wait until every process it started
    (the JVM, the Python workers) has ended; returns (exit code, peak PSS MB)."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
        text=True,
    )
    sampler = TreeSampler(proc.pid)
    sampler.start()
    try:
        _, err = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _kill(process_tree(proc.pid))
        _, err = proc.communicate()
    finally:
        sampler.stop.set()
        sampler.join()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in sampler.seen):
        if time.monotonic() > deadline:
            _kill(p for p in sampler.seen if _alive(p))
        time.sleep(0.1)
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
    return proc.returncode, sampler.peak_mb


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", type=int, default=0, help="override the timed op count")
    ap.add_argument("--inject-failure", type=int, default=-1,
                    help="make timed op N fail (self-test)")
    a = ap.parse_args()

    wl = workloads.WORKLOADS[a.workload]
    n_ops = a.ops or max(3, round(a.seconds / wl.nominal_op_s))
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    inputs = wl.make_inputs(os.path.join(work, "inputs"), a.seed, n_ops)
    manifest = os.path.join(work, "inputs.json")
    with open(manifest, "w") as f:
        json.dump(inputs, f)

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([root, HERE, env.get("PYTHONPATH", "")]).rstrip(
        os.pathsep
    )
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("SPARK_GRAFT_CPUS", None)

    def worker_args(role: str, extra: list[str]) -> list[str]:
        d = os.path.join(work, role)
        os.makedirs(d)
        return [
            "--workload", a.workload, "--inputs", manifest, "--work", d,
            "--result", os.path.join(d, "result.json"), "--t0", str(time.monotonic()),
            *extra,
        ]

    main_args = worker_args(
        "main",
        ["--ops", str(n_ops), "--trace", str(a.trace), "--inject-failure", str(a.inject_failure)],
    )
    code, peak_mb = run_worker(main_args, env)
    if code != 0:
        print(f"worker failed with exit code {code}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(os.path.join(work, "main", "result.json")) as f:
        res = json.load(f)
    setups = [res["setup_s"]]
    # the traced run reports no setup_s, so it sets up once
    for r in range(1, SETUP_REPS if not a.trace else 1):
        code, _ = run_worker(worker_args(f"setup{r}", ["--setup-only"]), env)
        if code != 0:
            print(f"set-up worker failed with exit code {code}", file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)
            return 1
        with open(os.path.join(work, f"setup{r}", "result.json")) as f:
            setups.append(json.load(f)["setup_s"])

    # checks, after every timer stopped
    import duckdb

    ops = res["ops"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    failures = {}
    for rec in ops:
        if not rec["ok"]:
            failures[rec["i"]] = rec["error"]
            continue
        try:
            err = wl.check(inputs, os.path.join(work, "main"), rec["i"], con)
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails the op
            err = f"check raised {type(e).__name__}: {e}"
        if err:
            failures[rec["i"]] = err
    con.close()

    samples = [r["s"] for r in res["ops"] if r["ok"]]
    e2e = {
        "setup_s": statistics.median(setups),
        "wall_s": res["wall_s"],
        "op_p50_s": statistics.median(samples) if samples else 0.0,
    }
    record = {
        "workload": a.workload, "seed": a.seed, "ops": n_ops, "cpus": res["cpus"],
        "setup_samples_s": setups, "op_samples_s": samples,
        "prime_s": res.get("prime_s"), "op_tail": tail(samples), "peak_pss_mb": peak_mb,
        "failures": failures, "end_to_end": e2e,
    }
    if a.trace:
        t = res["trace"]
        layer = {k: float(t.get(k, 0.0)) for k in PER_LAYER}
        layer["session.start_s"] = res["session_start_s"]
        layer["trace.wall_s"] = res["trace_wall_s"]
        layer["trace.overhead_s"] = res["trace_wall_s"] - res["wall_s"]
        record["per_layer"] = layer
        record["trace_totals"] = t
        metrics = {k: {"value": layer[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k]} for k in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps({
        "correct": not failures,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
