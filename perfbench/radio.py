"""The paper path as one pass: SDFITS files -> decode -> validation ->
atmosphere correction -> continuum + ON/OFF spectrum -> parquet.

``reduce_corpus`` calls only the package's public functions. A pass
rebuilds every DataFrame, because a user pays that cost for every
corpus. Outputs are checked by ``check_pass`` outside the timed region.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import pickle
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import radio_data_pipeline_spark.pipeline as pipeline
from radio_data_pipeline_spark.operators.atmosphere import (
    apply_atmosphere_correction,
)
from radio_data_pipeline_spark.operators.validation import (
    validate_observation,
)
from radio_data_pipeline_spark.sources.fits import read_sdfits
from radio_data_pipeline_spark.sources.synthetic import make_header

import corpus as corpus_mod
import spans

PRODUCTS = ("continuum", "spectrum", "quarantine")
# one stream per sample observation goes through the per-stream path
SAMPLE_STREAMS = [(0, 0), (1, 1)]


def corrected_rows(spark, path_glob: str, header, tracer=None):
    """Decode (permissive) -> validation -> atmosphere correction.
    Returns (corrected data rows, quarantine tombstones)."""
    tr = tracer or spans.NO_TRACE
    with tr.span("fits"):
        raw = tr.force(read_sdfits(spark, path_glob, mode="permissive"),
                       shared=True)
    quarantine = (raw.filter(F.col("row_idx") == -1)
                  .select("path", "corrupt_error"))
    rows = raw.filter(F.col("row_idx") >= 0)
    with tr.span("validation"):
        validated = tr.force(validate_observation(
            rows, channel_window=header.channel_window))
    with tr.span("atmosphere"):
        corrected = tr.force(apply_atmosphere_correction(
            validated, header.frequencies(0)), shared=True)
    if tracer is not None:
        tracer.frames.update(raw=raw, validated=validated,
                             corrected=corrected)
    return corrected, quarantine


def reduce_corpus(spark, path_glob: str, header, out_dir: str,
                  tracer=None) -> None:
    """One full reduction of the corpus into three parquet products."""
    tr = tracer or spans.NO_TRACE
    corrected, quarantine = corrected_rows(spark, path_glob, header, tracer)
    with tr.span("continuum.build"):
        cont = pipeline.continuum_pipeline_distributed(
            corrected, header_obsmode=header.obsmode)
    with tr.span("continuum"):
        cont = tr.force(cont)
    with tr.span("spectrum.build"):
        spec = pipeline.spectrum_pipeline_distributed(
            corrected, header_obsmode=header.obsmode)
    with tr.span("spectrum"):
        spec = tr.force(spec)
    with tr.span("sink"):
        for name, df in zip(PRODUCTS, (cont, spec, quarantine)):
            df.write.mode("overwrite").parquet(os.path.join(out_dir, name))


@contextlib.contextmanager
def traced_layers(tracer):
    """Route the distributed pipelines' calls into segmentation and
    calibration through spans that force each output, for one pass."""
    names = ("find_calibrations_hybrid", "label_segments",
             "rcr_fit_segments")
    orig = {n: getattr(pipeline, n) for n in names}

    def hybrid(*args, **kw):
        with tracer.span("segmentation.build"):
            out = orig["find_calibrations_hybrid"](*args, **kw)
        with tracer.span("segmentation"):
            return tracer.force(out)

    def label(*args, **kw):
        with tracer.span("segmentation"):
            return tracer.force(orig["label_segments"](*args, **kw))

    def fit(*args, **kw):
        with tracer.span("calibration"):
            out = tracer.force(orig["rcr_fit_segments"](*args, **kw))
        tracer.frames.setdefault("fits", []).append(out)
        return out

    for name, fn in zip(names, (hybrid, label, fit)):
        setattr(pipeline, name, fn)
    try:
        yield
    finally:
        for name, fn in orig.items():
            setattr(pipeline, name, fn)


class Workload:
    """ON/OFF corpus with false starts, damaged and empty files,
    negative-TSYS rows and NaN channels, read in permissive mode."""

    spec = corpus_mod.CorpusSpec(
        n_obs=10, n_channels=64, n_science=40, onoff=True,
        false_start_every=5, n_corrupt_end=1, n_zero_length=1,
        n_negative_obs=1, n_nan_obs=1)
    check_every_pass = True
    trace_cold = False
    # warm passes keep speeding up for several passes after the cold
    # one: a fixed count puts every run's median at the same point
    min_warm = 2

    def __init__(self, work_dir: str, seed: int, spec=None):
        if spec is not None:
            self.spec = spec
        self.work_dir = work_dir
        self.corpus_dir = os.path.join(work_dir, "corpus")
        self.out_dir = os.path.join(work_dir, "out")
        shutil.rmtree(self.corpus_dir, ignore_errors=True)
        self.truth = corpus_mod.generate(self.spec, self.corpus_dir, seed)
        self.inputs = self.truth.to_dict()
        self.header = make_header(corpus_mod.obs_spec(self.spec, 0, seed))
        self.glob = os.path.join(self.corpus_dir, "*.fits")
        self.spark = None
        self.reference = None

    def bind(self, spark, cpus: int) -> None:
        self.spark = spark

    def run_pass(self, first: bool, tracer=None) -> None:
        clear(self.out_dir)
        if tracer is None:
            reduce_corpus(self.spark, self.glob, self.header, self.out_dir)
            return
        with traced_layers(tracer):
            reduce_corpus(self.spark, self.glob, self.header,
                          self.out_dir, tracer)

    def check(self) -> list[str]:
        if self.reference is None:
            self.reference = cached_reference(
                self.spark, self.corpus_dir, self.header, self.truth,
                os.path.join(os.path.dirname(self.work_dir), "cache"))
        return check_pass(self.out_dir, self.truth, self.reference)

    def layer_counters(self, tracer, mark: int) -> dict[str, float]:
        """Named per-layer metrics of one traced pass (row and file
        counts are read after the pass, outside every span)."""
        f = tracer.frames
        files = f["raw"].agg(
            F.countDistinct("path").alias("files"),
            F.sum((F.col("row_idx") == -1).cast("long")).alias("quar"),
            F.sum((F.col("row_idx") >= 0).cast("long")).alias("rows"),
        ).first()
        decode_s = tracer.span_seconds("fits")
        return {
            "fits.decode_s": decode_s,
            "fits.decode_mb_per_s":
                self.truth.bytes / spans.MB / decode_s,
            "fits.files": files["files"],
            "fits.files_quarantined": files["quar"],
            "fits.rows_out": files["rows"],
            "validation.s": tracer.span_seconds("validation"),
            "validation.rows_in": files["rows"],
            "validation.rows_out": f["validated"].count(),
            "atmosphere.s": tracer.span_seconds("atmosphere"),
            "atmosphere.rows": f["corrected"].count(),
            "segmentation.build_s":
                tracer.span_seconds("segmentation.build"),
            "segmentation.build_jobs":
                tracer.span_jobs("segmentation.build"),
            "segmentation.s": tracer.span_seconds("segmentation"),
            "segmentation.python_rows":
                spans.python_group_rows(self.spark, mark),
            "calibration.s": tracer.span_seconds("calibration"),
            "calibration.segments_fitted":
                sum(df.count() for df in f.get("fits", [])),
            "continuum.build_s": tracer.span_seconds("continuum.build"),
            "continuum.s": tracer.span_seconds("continuum"),
            "spectrum.build_s": tracer.span_seconds("spectrum.build"),
            "spectrum.s": tracer.span_seconds("spectrum"),
            "sink.s": tracer.span_seconds("sink"),
            "sink.mb": dir_bytes(self.out_dir) / spans.MB,
        }

    def close(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)


# ------------------------------------------------------------------ #
# output checks (outside every timed region)                         #
# ------------------------------------------------------------------ #

def reference_sample(spark, corpus_dir: str, header, gt) -> dict:
    """Products of the single-observation ``continuum_pipeline`` /
    ``spectrum_pipeline`` path for one stream of each sample file,
    keyed by (product, obs_id, IFNUM, PLNUM)."""
    ref = {}
    for name, (ifnum, plnum) in zip(gt.sample_paths, SAMPLE_STREAMS):
        corrected, _ = corrected_rows(
            spark, os.path.join(corpus_dir, name), header)
        obs_id = corrected.select("obs_id").first()["obs_id"]
        key = (obs_id, ifnum, plnum)
        cont = pipeline.continuum_pipeline(corrected, header, ifnum, plnum)
        ref[("continuum", *key)] = \
            cont.toPandas().sort_values("t")["intensity"].to_numpy()
        spec = pipeline.spectrum_pipeline(corrected, header, ifnum, plnum)
        ref[("spectrum", *key)] = \
            spec.toPandas().sort_values("pos")["intensity"].to_numpy()
    return ref


def cached_reference(spark, corpus_dir: str, header, gt,
                     cache_dir: str) -> dict:
    """``reference_sample``, reused while the sample files' path and
    bytes are unchanged (their content does not depend on the seed)."""
    digest = hashlib.sha256()
    for name in gt.sample_paths:
        path = os.path.abspath(os.path.join(corpus_dir, name))
        digest.update(path.encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    path = os.path.join(cache_dir, f"reference-{digest.hexdigest()}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    ref = reference_sample(spark, corpus_dir, header, gt)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(ref, fh)
    os.replace(path + ".tmp", path)  # a killed run leaves no torn file
    return ref


def check_pass(out_dir: str, gt, ref: dict) -> list[str]:
    """Every failed check of one pass's products, as messages."""
    errors = []
    tables = {}
    for name in PRODUCTS:
        try:
            tables[name] = pq.read_table(
                os.path.join(out_dir, name)).to_pandas()
        except Exception as exc:  # a missing product is a failed pass
            errors.append(f"{name}: unreadable ({exc})")
    if errors:
        return errors
    quar = tables["quarantine"]
    if len(quar) != gt.quarantined:
        errors.append(f"quarantine: {len(quar)} files, "
                      f"expected {gt.quarantined}")
    for name, want in (("continuum", gt.continuum_rows),
                       ("spectrum", gt.spectrum_rows)):
        if len(tables[name]) != want:
            errors.append(f"{name}: {len(tables[name])} rows, "
                          f"expected {want}")
    for (product, obs_id, ifnum, plnum), want in ref.items():
        t = tables[product]
        got = t[(t["obs_id"] == obs_id) & (t["IFNUM"] == ifnum)
                & (t["PLNUM"] == plnum)]
        got = got.sort_values("t" if product == "continuum" else "pos")
        got = got["intensity"].to_numpy()
        # the comparison the distributed-vs-per-stream tests make
        if len(got) != len(want) or not np.allclose(
                got, want, rtol=1e-9, atol=0.0):
            errors.append(f"{product} of stream {obs_id}/{ifnum}/{plnum} "
                          "differs from the single-observation pipeline")
    return errors


def clear(out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, n))
               for root, _, names in os.walk(path) for n in names)
