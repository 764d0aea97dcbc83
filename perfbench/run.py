"""Layered benchmark for swingstream.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The run generates its inputs from the
seed (cached under .perfbench/, untimed), starts the program's own Spark
session at local[N] with N = the host's cores, repeats the workload's
unit of work for the given seconds and checks every repetition's output.
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, taken from a streaming-query listener, the
session's Spark event log and wrappers around public functions.  The line
before it holds run metadata: host calibration stamps before and after
the workload, per-repetition walls and, for a traced run, where the
spans were written.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time


# end-to-end metric -> unit, in BENCHMARK.json order.  Peak RSS is run
# metadata, not a metric: the JVM's heap growth made it vary by 2x
# between runs of the same code.
END_TO_END = {"wall_s": "s", "docs_per_s": "docs/s", "first_result_s": "s",
              "setup_s": "s"}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(root: str, work: str, scratch: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let the Python workers import the program.  The
    program's own default puts spark.local.dir on /dev/shm; the
    benchmark may write only inside its checkout, so shuffle and
    state-store files go to the checkout's file system instead."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(scratch, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SWINGSTREAM_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if root not in sys.path:
        sys.path.insert(0, root)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "swingstream", "__init__.py")):
        _fail("run from the root of a swingstream checkout (no swingstream/ here)")
    work = os.path.join(root, ".perfbench")
    scratch = os.path.join(work, "run", str(os.getpid()))
    _environment(root, work, scratch)

    from perfbench.harness import (
        Session,
        host_calibration,
        setup_cycles,
        timing_summary,
        vm_hwm_mb,
    )
    from perfbench.trace import Tracer, make_listener_capture, read_event_log
    from perfbench.workloads import ALL_LAYERS, WORKLOADS, Ctx

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    event_log = os.path.join(scratch, "eventlog") if args.trace else None

    calib_pre = host_calibration(cores)
    t = time.perf_counter()
    inp = wl.prepare(os.path.join(work, "inputs"), args.seed)
    prepare_s = time.perf_counter() - t
    tracer = Tracer() if args.trace else None
    session = Session(cores, event_log)
    try:
        setup = setup_cycles(session)
        capture = None
        if tracer is not None:
            capture = make_listener_capture()
            session.spark.streams.addListener(capture)
        ctx = Ctx(session.spark, args.seed, args.seconds, scratch,
                  os.path.join(work, "expected"), tracer, capture)
        try:
            reps = wl.run(ctx, inp)
        finally:
            if capture is not None:
                session.spark.streams.removeListener(capture)
            session.stop()
        if tracer is not None:
            t = time.perf_counter()
            wl.job_layers(ctx, reps, read_event_log(event_log))
            ctx.phase("event_log_s", t)
    finally:
        session.close()
        shutil.rmtree(scratch, ignore_errors=True)
    calib_post = host_calibration(cores)

    failed = sum(not r.ok for r in reps)
    walls = [r.wall_s for r in reps]
    docs = inp["main"]["docs"]
    meta = {
        "workload": wl.name, "seed": args.seed, "cores": cores,
        "input": {k: v for k, v in inp["main"].items() if k not in ("path", "exact_ids")},
        "setup_cycles_s": setup, "rep_walls_s": walls,
        "rep_wall_summary_s": timing_summary(walls),
        "peak_rss_mb": {"driver": vm_hwm_mb("self"), "jvm": session.jvm_peak_mb},
        "phases_s": {"inputs": prepare_s, **ctx.phases},
        "host_calibration_pre": calib_pre, "host_calibration_post": calib_post,
        "failures": [r.note for r in reps if not r.ok],
    }
    records = os.path.join(work, "records", f"{wl.name}.jsonl")
    if tracer is None:
        os.makedirs(os.path.dirname(records), exist_ok=True)
        with open(records, "a") as fh:
            fh.write(json.dumps({"seed": args.seed, "wall_s": statistics.median(walls)}) + "\n")
        values = {
            "wall_s": statistics.median(walls),
            "docs_per_s": docs / statistics.median(walls),
            "first_result_s": statistics.median(r.first_result_s for r in reps),
            "setup_s": statistics.median(setup),
        }
        metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    else:
        metrics = {}
        for name in ALL_LAYERS:
            # a layer measured once per run (the replay) sits on one rep
            vals = [r.layers[name] for r in reps if name in r.layers] or [0]
            metrics[name] = (statistics.median(vals), _unit(name))
        meta["tracing_overhead"] = _overhead(records, statistics.median(walls))
        spans = os.path.join(work, "spans", f"{wl.name}-s{args.seed}-{os.getpid()}.json")
        tracer.dump(spans, meta)
        meta["spans"] = os.path.relpath(spans, root)
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(reps),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _overhead(records: str, traced_wall: float) -> dict:
    """The traced wall next to the median wall of the untraced runs made
    in this checkout so far."""
    out = {"traced_wall_s": traced_wall}
    if os.path.exists(records):
        with open(records) as fh:
            walls = [json.loads(line)["wall_s"] for line in fh if line.strip()]
        if walls:
            untraced = statistics.median(walls)
            out.update(untraced_median_wall_s=untraced, untraced_runs=len(walls),
                       overhead_frac=traced_wall / untraced - 1.0)
    return out


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac"):
        return "fraction"
    if name.endswith("jobs_per_batch"):
        return "jobs/batch"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
