"""Worker process: owns the SparkSession and runs one workload's ops.

Started by ``run.py`` with the generated inputs already on disk. It starts
the session, runs the untimed warm-up op (the end of set-up) and the
untimed priming ops, then the timed ops one after another (a closed loop
with one client), and writes a JSON result file. With ``--trace 1`` every
op runs twice, untraced and under the tracer. With ``--setup-only`` it
stops after the warm-up op.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import workloads
from layers import NullTracer, Tracer

# Fixed so that both sides of an A/B plan with the same width.
SHUFFLE_PARTITIONS = 8


def _break_paths(obj):
    """Copy of an inputs manifest whose every file path points nowhere: the
    op that gets it fails inside the library (failure injection)."""
    if isinstance(obj, dict):
        return {k: _break_paths(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_break_paths(v) for v in obj]
    if isinstance(obj, str) and obj.endswith((".json", ".parquet")):
        return obj + ".missing"
    return obj


def _run_op(wl, spark, inputs, work, i, tracer, inject):
    """One op, timed; returns (record, result). An exception fails the op."""
    args = _break_paths(inputs) if i == inject else inputs
    tracer.begin_op(i)
    t0 = time.perf_counter()
    try:
        result = wl.op(spark, args, work, i, tracer)
        rec = {"i": i, "s": time.perf_counter() - t0, "ok": True}
    except Exception as e:  # noqa: BLE001 - a failed op is a result
        rec = {"i": i, "s": time.perf_counter() - t0, "ok": False,
               "error": f"{type(e).__name__}: {str(e)[:300]}"}
        result = None
    tracer.end_op()
    if tracer.enabled:
        tracer.collect()
        mb, files = workloads.sink_stats(wl.sink_dirs(work, i))
        tracer.add("sources.sink_mb", mb)
        tracer.add("sources.sink_files", files)
    return rec, result


def _save(wl, work, ops, results):
    """Persist op outputs for the checks, after the timed phase."""
    for rec, result in zip(ops, results):
        if not rec["ok"]:
            continue
        try:
            wl.save(result, work, rec["i"])
        except Exception as e:  # noqa: BLE001
            rec["ok"] = False
            rec["error"] = f"save: {type(e).__name__}: {e}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--ops", type=int, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--inject-failure", type=int, default=-1)
    a = ap.parse_args()

    wl = workloads.WORKLOADS[a.workload]
    with open(a.inputs) as f:
        inputs = json.load(f)

    from bigdata_etl_customer360_spark.session import get_session

    cpus = len(os.sched_getaffinity(0))
    t_session = time.monotonic()
    spark = get_session(
        app_name=f"perfbench-{a.workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(a.work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {"session_start_s": time.monotonic() - t_session, "cpus": cpus}
    try:
        wl.warm_up(spark, inputs, a.work)
        out["setup_s"] = time.monotonic() - a.t0
        if not a.setup_only:
            # one untimed full op: JIT, codegen and class loading settle
            t = time.perf_counter()
            wl.prime(spark, inputs, a.work)
            out["prime_s"] = time.perf_counter() - t
            if not a.trace:
                ops, results = [], []
                t = time.perf_counter()
                for i in range(a.ops):
                    rec, result = _run_op(
                        wl, spark, inputs, a.work, i, NullTracer(), a.inject_failure
                    )
                    ops.append(rec)
                    results.append(result)
                out["wall_s"] = time.perf_counter() - t
            else:
                # each op runs untraced and traced, alternating which goes
                # first, so warm-up drift cancels out of the overhead
                tracer, null = Tracer(spark), NullTracer()
                ops, results, plain = [], [], []
                for i in range(a.ops):
                    for tr in (null, tracer) if i % 2 == 0 else (tracer, null):
                        rec, result = _run_op(wl, spark, inputs, a.work, i, tr, a.inject_failure)
                        if tr is null:
                            plain.append(rec)
                        else:
                            ops.append(rec)
                            results.append(result)
                out["wall_s"] = sum(r["s"] for r in plain)
                out["trace_wall_s"] = sum(r["s"] for r in ops)
                out["trace"] = tracer.totals
                # an op fails if either of its two runs failed
                ops = [r if p["ok"] else p for r, p in zip(ops, plain)]
            _save(wl, a.work, ops, results)
            out["ops"] = ops
    finally:
        spark.stop()
    with open(a.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
