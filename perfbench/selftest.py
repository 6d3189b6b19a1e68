#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs both workloads on tiny inputs in one Spark session and checks that
every metric named in BENCHMARK.json is emitted with its unit, that the
injected faults are recovered exactly, that a clean track-mode corpus
routes no rows to the Python segmentation fallback, and that a
deliberately wrong output (one dropped tombstone, one dropped spectrum
row, one oracle mismatch) counts as a failed pass. Exits non-zero on
the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import pyarrow.parquet as pq  # noqa: E402

import corpus  # noqa: E402
import headline  # noqa: E402
import radio  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(run.WORK, "selftest")
TINY_ONOFF = corpus.CorpusSpec(
    n_obs=6, n_channels=16, n_science=40, onoff=True,
    false_start_every=3, n_corrupt_end=1, n_zero_length=1,
    n_negative_obs=1, n_nan_obs=1)
TINY_TRACK = corpus.CorpusSpec(n_obs=3, n_channels=16, n_science=40,
                               onoff=False)


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def emitted(metrics: dict) -> dict[str, str]:
    return {name: unit for name, (_, unit) in metrics.items()}


class DropTombstone(radio.Workload):
    """Writes correct products, then loses one quarantine row."""

    def run_pass(self, first, tracer=None):
        super().run_pass(first, tracer)
        path = os.path.join(self.out_dir, "quarantine")
        table = pq.read_table(path)
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(table.slice(1), os.path.join(path, "part.parquet"))


def main() -> int:
    from radio_data_pipeline_spark.session import get_spark

    import spans

    run.isolate_scratch()
    shutil.rmtree(WORK, ignore_errors=True)
    cpus = spans.cpu_count()
    spark = get_spark("perfbench-selftest", cpus=cpus)
    try:
        # faulty ON/OFF corpus: traced run, every metric, ground truth
        wl = radio.Workload(os.path.join(WORK, "onoff"), 7, TINY_ONOFF)
        wl.bind(spark, cpus)
        gt = wl.truth
        records = run.passes(wl, spark, cpus, 0, trace=True)
        expect(all(not r["errors"] for r in records),
               "faulty corpus passes every check")
        stamp = {"cpus": cpus, "start_1m": 0.0, "end_1m": 0.0,
                 "contaminated": False}
        layers = run.per_layer(records, stamp, 1.0)
        expect(emitted(layers) == units("per_layer"),
               "every per_layer metric is emitted with its unit")
        e2e = run.end_to_end(records, 1.0)
        expect(emitted(e2e) == units("end_to_end"),
               "every end_to_end metric is emitted with its unit")
        value = {k: v for k, (v, _) in layers.items()}
        expect(gt.quarantined == 2 and
               value["fits.files_quarantined"] == gt.quarantined,
               "quarantined files equal injected corrupt + empty files")
        expect(value["validation.rows_in"] - value["validation.rows_out"]
               == gt.negative_rows > 0,
               "validation drops exactly the negative-TSYS rows")
        expect(value["segmentation.python_rows"] == 2 * gt.python_rows > 0,
               "false-start streams reach the Python fallback "
               "(continuum and spectrum)")
        expect(0 < value["trace.coverage"] <= 1.0,
               "span self-times cover part of the pass wall")
        wl.close()

        # clean track corpus: the compiled segmentation path only
        wl = radio.Workload(os.path.join(WORK, "track"), 7, TINY_TRACK)
        wl.bind(spark, cpus)
        records = run.passes(wl, spark, cpus, 0, trace=True)
        traced = [r for r in records if "layers" in r]
        expect(all(not r["errors"] for r in records) and traced and
               traced[0]["layers"]["segmentation.python_rows"] == 0,
               "clean track corpus routes no rows to Python")
        wl.close()

        # deliberately wrong outputs count as failed passes
        wl = DropTombstone(os.path.join(WORK, "drop"), 7, TINY_ONOFF)
        wl.bind(spark, cpus)
        records = run.passes(wl, spark, cpus, 0, trace=False)
        expect(all(any("quarantine" in e for e in r["errors"])
                   for r in records),
               "a dropped tombstone fails every pass")
        wl.run_pass(False)
        spec_dir = os.path.join(wl.out_dir, "spectrum")
        table = pq.read_table(spec_dir)
        shutil.rmtree(spec_dir)
        os.makedirs(spec_dir)
        pq.write_table(table.slice(1), os.path.join(spec_dir, "p.parquet"))
        expect(any("spectrum" in e for e in wl.check()),
               "a dropped spectrum row fails the check")
        wl.close()

        # headline control: oracle match, and a wrong frame is caught
        hl = headline.Workload(os.path.join(WORK, "headline"), 7, sf=0.002,
                               names=["q1_pricing_summary", "dedup_exact"])
        hl.bind(spark, cpus)
        hl.run_pass(True)
        expect(hl.check() == [], "headline queries match their oracles")
        hl.frames["dedup_exact"] = hl.frames["dedup_exact"].limit(1)
        expect(len(hl.check()) == 1, "a wrong query result fails the check")
        expect(len(headline.headline_names()) == 15,
               "bench.py HEADLINE lists 15 queries")
        hl.close()
    finally:
        run.stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
