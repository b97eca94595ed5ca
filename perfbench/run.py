"""Engine benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload build|serve --seed N --seconds S --trace 0|1

It imports the engine from the source tree next to ``perfbench/``,
works only under ``.bench_work/`` in that tree, prints one report line
(context, sample counts, failures) and then, as the last line of
standard output, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones (and spans are written to
``.bench_work/traces/``). Exit code 0 on a completed run, 2 when the
engine source tree is missing, 1 on any other error; no result line is
printed unless the run completed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--files", type=int, default=None,
                    help="filler files (default: params.json n_filler_files); "
                         "small values are for the benchmark's own tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "reiz_io_spark", "__init__.py")):
        print("perfbench: no engine source tree (reiz_io_spark/) next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads as W
    from perfbench.harness import (
        MemSampler, calibrate, log, reap_children, source_identity, start_spark,
        stop_spark,
    )

    params = W.load_params(HERE)
    params["cores"] = max(1, min(params["cores"], os.cpu_count() or 1))
    base = os.path.join(ROOT, ".bench_work")
    for stale in os.listdir(base) if os.path.isdir(base) else []:
        if stale.startswith("run-") and not os.path.exists(f"/proc/{stale[4:]}"):
            shutil.rmtree(os.path.join(base, stale), ignore_errors=True)
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    mem = MemSampler().start()
    calib_start = calibrate()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(ROOT, work, params["cores"], params["driver_memory"])
        session_s = time.perf_counter() - t0
        run = W.Run(spark, work, params, args.seed, args.seconds, bool(args.trace),
                    args.files or params["n_filler_files"], mem)
        log("session started")
        W.do_setup(run, session_s)
        log("set-up done")
        t_run = time.perf_counter()
        e2e = W.WORKLOADS[args.workload](run)
        log("workload and check done")
        answers = e2e.pop("answers")
        layer = None
        if run.tracer.enabled:
            W.index_counts(run)
            W.probe_codec(run)
            W.probe_matcher(run, answers)
            W.probe_verify(run)
            W.probe_maintain(run)
            layer = W.per_layer(run, time.perf_counter() - t_run)
            log("probes done")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        mem.stop()
        if spark is not None:
            stop_spark(spark)
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")

    setup_s = sum(run.setup.values())
    n_timed_mem = sum(run.timed[0] <= t <= run.timed[1] for t, _kb in mem.samples)
    e2e_vals = {
        "setup_s": (setup_s, "s", 1),
        "op_p50_ms": (e2e["op_p50_ms"][0], "ms", e2e["op_p50_ms"][1]),
        "op_tail_ms": (e2e["op_tail_ms"][0], "ms", e2e["op_tail_ms"][1]),
        "throughput_per_s": (e2e["throughput_per_s"][0], "1/s", e2e["throughput_per_s"][1]),
        "index_bytes_per_source_byte": (run.index_bytes / run.source_bytes, "ratio", 1),
        "pss_mb": (mem.median_mb(*run.timed), "MB", n_timed_mem),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "params": params,
        "source": source_identity(ROOT),
        "calibration_s": {"start": calib_start, "end": calibrate()},
        "setup_parts_s": run.setup,
        "op_tail_percentile": e2e["op_tail_ms"][2],
        "end_to_end": {k: {"value": v, "unit": u, "samples": n}
                       for k, (v, u, n) in e2e_vals.items()},
        "ops_failed_frac": run.failed / max(1, run.attempted),
        "failures": run.failures,
        "peak_pss_mb": mem.peak_mb(),
        **run.report,
    }
    if layer is not None:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        spans = os.path.join(base, "traces",
                             f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
        run.tracer.dump(spans)
        report["spans_file"] = os.path.relpath(spans, ROOT)
        values = layer
    else:
        values = {k: v for k, (v, _u, _n) in e2e_vals.items()}
    metrics = declared_metrics("per_layer" if layer is not None else "end_to_end", values)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": run.failed == 0, "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics}))
    return 0


def declared_metrics(kind: str, values: dict[str, float]) -> dict:
    """The metrics BENCHMARK.json declares under ``kind``, in its order
    and with its units; a declared metric the run did not measure is an
    error, so the result never silently drops one."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)[kind]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in declared}


if __name__ == "__main__":
    sys.exit(main())
