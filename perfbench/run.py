#!/usr/bin/env python3
"""Benchmark runner: one workload, one process, Spark at local[nproc].

    python3 perfbench/run.py --workload sdfits_onoff_faulty --seed 1 \\
        --seconds 30 --trace 0

Run from the repository root. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it summarises the run (load stamp,
pass walls, check failures). Inputs are made from ``--seed`` under
``.perfbench/`` in the repository root; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# the ContextCleaner works asynchronously after a JVM collection
SETTLE_S = 0.5


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def isolate_scratch() -> None:
    """Keep every temporary file of Python, the JVM and Spark inside
    the checkout, and the Spark progress bar off stderr."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = \
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def stop_session(spark) -> None:
    """Stop the session, then wait for the JVM and every process it
    started (the Python worker daemon and its workers) to end."""
    import spans

    started = spans.descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(map(spans.running, started)) and time.time() < deadline:
        time.sleep(0.1)
    for pid in filter(spans.running, started):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def settle(spark) -> None:
    """Collect the last pass's garbage in Python and the JVM, outside
    every timed region, so the ContextCleaner drops its checkpoint
    blocks and shuffles between passes rather than during the next."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)


def passes(wl, spark, cpus: int, seconds: float, trace: bool,
           min_warm: int = 1):
    """Cold pass, then warm passes (alternating untraced and traced
    with ``trace``) until ``seconds`` have passed since the cold pass
    started and at least ``min_warm`` untraced warm passes ran.
    Returns one record per pass."""
    import spans

    origin = time.perf_counter()
    records = []

    def one(kind: str, first: bool) -> None:
        tracer = (spans.Tracer(spark, cpus, len(records), origin)
                  if kind == "traced" else None)
        mark = spans.last_execution_id(spark) if tracer else -1
        rec = {"kind": kind, "errors": []}
        if not first:
            settle(spark)
        t0 = time.perf_counter()
        try:
            wl.run_pass(first, tracer)
            rec["wall_s"] = time.perf_counter() - t0
            if wl.check_every_pass:
                rec["errors"] = wl.check()
            if tracer is not None and not rec["errors"]:
                rec["layers"] = tracer.layer_metrics()
                rec["layers"].update(wl.layer_counters(tracer, mark))
                rec["coverage"] = tracer.coverage(rec["wall_s"])
                rec["spans"] = tracer.export()
        except Exception as exc:  # a failed pass is counted, not fatal
            traceback.print_exc()
            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec["errors"] = [f"raised {type(exc).__name__}: {exc}"]
            rec.pop("layers", None)
        records.append(rec)

    cold_kind = "traced" if trace and wl.trace_cold else "cold"
    one(cold_kind, True)
    records[0]["cold"] = True
    kinds = ("warm", "traced") if trace else ("warm",)

    def warm_count() -> int:
        return sum(1 for r in records if r["kind"] == "warm")

    while (time.perf_counter() - origin < seconds
           or warm_count() < min_warm):
        for kind in kinds:
            one(kind, False)
    if not wl.check_every_pass:
        # every pass ran the same DataFrames: one check covers them all
        try:
            errors = wl.check()
        except Exception as exc:
            traceback.print_exc()
            errors = [f"check raised {type(exc).__name__}: {exc}"]
        for rec in records:
            rec["errors"] += errors
    return records


def end_to_end(records, setup_s: float) -> dict:
    # failed passes still have a wall; the run is marked incorrect.
    # The cold pass is one sample per fresh JVM, too few for a bound:
    # it is reported per layer (pass.cold_s) and in the summary line.
    warm = [r["wall_s"] for r in records if r["kind"] == "warm"]
    return {
        "setup_s": (setup_s, "s"),
        "warm_s": (median(warm), "s"),
    }


def per_layer(records, stamp: dict, peak_mb: float) -> dict:
    import spans

    # per-layer values describe warm passes; metrics only a cold pass
    # has (the headline plan build) come from the traced cold pass
    traced = [r for r in records if "layers" in r and not r.get("cold")]
    layers = spans.median_of([r["layers"] for r in traced])
    if "layers" in records[0]:
        for name, value in records[0]["layers"].items():
            layers.setdefault(name, value)
    warm = [r["wall_s"] for r in records if r["kind"] == "warm"]
    steady = [r["wall_s"] for r in traced]
    failed = sum(1 for r in records if r["errors"])
    layers.update({
        "trace.overhead_s":
            median(steady) - median(warm) if steady and warm else 0.0,
        "trace.coverage": median(r["coverage"] for r in traced)
        if traced else 0.0,
        "pass.cold_s": records[0]["wall_s"],
        "failed_frac": failed / len(records),
        "memory.peak_rss_mb": peak_mb,
        "load.cpus": stamp["cpus"],
        "load.start_1m": stamp["start_1m"],
        "load.end_1m": stamp["end_1m"],
        "load.contaminated": int(stamp["contaminated"]),
    })
    return {name: (layers.get(name, 0.0), unit)
            for name, unit in spans.PER_LAYER}


def write_spans(records, workload: str, seed: int) -> str:
    out = os.path.join(WORK, "spans", f"{workload}-seed{seed}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    doc = [{"pass": i, "kind": r["kind"], "wall_s": r["wall_s"],
            "coverage": r["coverage"], "spans": r["spans"]}
           for i, r in enumerate(records) if "spans" in r]
    with open(out, "w") as fh:
        json.dump(doc, fh, indent=1)
    return out


def main(argv=None) -> int:
    t_start = _process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    load_start = os.getloadavg()
    ticks_start = _cpu_ticks()

    sys.path[:0] = [ROOT, HERE]
    try:
        import headline
        import radio
        import spans
        from radio_data_pipeline_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the code under test: {exc}",
              file=sys.stderr)
        return 2
    WORKLOADS = {"sdfits_onoff_faulty": radio.Workload,
                 "headline_queries": headline.Workload}
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = spans.cpu_count()
    isolate_scratch()

    # input generation is the benchmark's own work: kept out of setup_s
    t0 = time.time()
    wl = WORKLOADS[args.workload](os.path.join(WORK, args.workload),
                                  args.seed)
    gen_s = time.time() - t0

    spark = get_spark("perfbench", cpus=cpus)
    spark.range(1).count()
    setup_s = time.time() - t_start - gen_s
    try:
        wl.bind(spark, cpus)
        with spans.RssSampler() as rss:
            records = passes(wl, spark, cpus, args.seconds,
                         bool(args.trace),
                         1 if args.trace else wl.min_warm)
    finally:
        wl.close()
        stop_session(spark)

    load_end = os.getloadavg()
    ticks = [b - a for a, b in zip(ticks_start, _cpu_ticks())]
    stamp = {"cpus": cpus, "start_1m": load_start[0],
             "end_1m": load_end[0],
             "contaminated": load_start[0] > cpus / 4}
    failed = sum(1 for r in records if r["errors"])
    if args.trace:
        metrics = per_layer(records, stamp, rss.peak_mb)
        spans_path = write_spans(records, args.workload, args.seed)
    else:
        metrics = end_to_end(records, setup_s)
        spans_path = None
    if stamp["contaminated"]:
        print(f"perfbench: CONTAMINATED run: 1-minute load "
              f"{load_start[0]:.2f} > cpus/4 at start", file=sys.stderr)
    print(json.dumps({"perfbench": {
        "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "cpus": cpus,
        "loadavg_start": list(load_start),
        "loadavg_end": list(load_end),
        "contaminated": stamp["contaminated"],
        # CPU time the hypervisor gave to other guests during the run
        "steal_share": ticks[7] / sum(ticks),
        "generate_s": gen_s,
        "inputs": wl.inputs,
        "cold_s": records[0]["wall_s"],
        "warm_s": median(r["wall_s"] for r in records
                         if r["kind"] == "warm"),
        "failed_frac": failed / len(records),
        "peak_rss_mb": rss.peak_mb,
        "passes": [{"kind": r["kind"], "wall_s": r["wall_s"],
                    "errors": r["errors"]} for r in records],
        "spans_file": spans_path,
    }}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
