"""Deterministic SDFITS corpus generator with recorded fault ground truth.

One file per observation holding its four (IFNUM, PLNUM) streams, as
the reference's SDFITS files do, so ``read_sdfits``' ``xxhash64(path)``
ids group the streams the way the continuum stream count expects.
Faults are chosen from ``seed`` and written down in the returned
``GroundTruth``; the benchmark checks every pass against it.
"""

from __future__ import annotations

import os
import random
from dataclasses import asdict, dataclass, field

import pandas as pd

from radio_data_pipeline_spark.sources.fits import (
    corrupt_drop_end,
    write_sdfits,
)
from radio_data_pipeline_spark.sources.synthetic import (
    ObsSpec,
    make_header,
    make_observation,
)

STREAMS = [(0, 0), (0, 1), (1, 0), (1, 1)]
# the columns read_sdfits decodes; make_observation's extra telemetry
# columns would only add bytes the scan drops
FILE_COLUMNS = [
    "DATE_OBS", "DATA", "IFNUM", "PLNUM", "CALSTATE", "SWPVALID",
    "OBSMODE", "ELEVATIO", "TAMBIENT", "PRESSURE", "HUMIDITY", "TSYS",
    "TCAL", "DURATION", "EXPOSURE",
]
N_CAL = 8
SAMPLE_SEED = 0


@dataclass(frozen=True)
class CorpusSpec:
    n_obs: int
    n_channels: int
    n_science: int
    onoff: bool
    false_start_every: int = 0    # one observation in N; 0 = none
    n_corrupt_end: int = 0        # files with the END card blanked
    n_zero_length: int = 0        # files truncated to 0 bytes
    n_negative_obs: int = 0       # obs with negative-TSYS science rows
    n_nan_obs: int = 0            # obs with NaN channels in DATA
    negative_rows: int = 2        # rows per affected stream
    nan_rows: int = 3


@dataclass
class GroundTruth:
    files: int = 0
    bytes: int = 0
    corrupt_end: int = 0
    zero_length: int = 0
    false_start_obs: int = 0
    negative_rows: int = 0
    nan_rows: int = 0
    rows_in: int = 0              # decoded data rows of intact files
    rows_out: int = 0             # rows surviving validation
    continuum_rows: int = 0
    spectrum_rows: int = 0
    python_rows: int = 0          # rows of false-start streams
    streams: int = 0
    # paths (relative to the corpus dir) of the reference-check sample
    sample_paths: list = field(default_factory=list)

    @property
    def quarantined(self) -> int:
        return self.corrupt_end + self.zero_length

    def to_dict(self) -> dict:
        d = asdict(self)
        d["quarantined"] = self.quarantined
        return d


def obs_spec(spec: CorpusSpec, obs_id: int, seed: int,
             false_start: bool = False) -> ObsSpec:
    return ObsSpec(obs_id=obs_id, n_channels=spec.n_channels,
                   n_science=spec.n_science, n_cal=N_CAL,
                   onoff=spec.onoff, false_start=false_start,
                   seed=seed)


def header_cards(spec: CorpusSpec) -> tuple[dict, list[str]]:
    """Primary-header cards and HISTORY shared by every file."""
    h = make_header(obs_spec(spec, 0, 0))
    cards = {"DATE": h.date, "OBSMODE": h.obsmode,
             "OBSFREQ": h.obsfreq, "OBSBW": h.obsbw}
    history = [f"DATAMODE {h.datamode}",
               f"START,STOP channels 0 {spec.n_channels - 1}",
               "HIRES bands " + " ".join(str(b) for b in h.hires_bands)]
    return cards, history


def observation_table(spec: CorpusSpec, obs_id: int, seed: int,
                      false_start: bool) -> pd.DataFrame:
    s = obs_spec(spec, obs_id, seed, false_start)
    frames = [make_observation(s, ifnum, plnum)
              for ifnum, plnum in STREAMS]
    pdf = pd.concat(frames, ignore_index=True)[FILE_COLUMNS]
    pdf["DATE_OBS"] = pdf["DATE_OBS"].dt.strftime("%Y-%m-%dT%H:%M:%S")
    return pdf


def _science_rows(pdf: pd.DataFrame, stream: tuple[int, int],
                  false_start: bool) -> list[int]:
    """Row labels of one stream's science segment (CALSTATE=0,
    SWPVALID=1 rows after the pre-cal spike and any false start)."""
    sel = pdf[(pdf["IFNUM"] == stream[0]) & (pdf["PLNUM"] == stream[1])]
    skip = 2 * N_CAL + (3 if false_start else 0)
    sci = sel.iloc[skip:]
    return list(sci.index[(sci["SWPVALID"] == 1)
                          & (sci["CALSTATE"] == 0)])


def generate(spec: CorpusSpec, out_dir: str, seed: int) -> GroundTruth:
    """Write the corpus to ``out_dir`` and return its ground truth.

    Observation 0 (clean) and, when the corpus has false starts,
    observation 1 (false start) form the reference-check sample. Their
    bytes do not depend on ``seed``, so their single-observation
    reference products can be reused across runs."""
    rng = random.Random(seed)
    ids = list(range(spec.n_obs))
    sample = [0, 1] if spec.false_start_every else [0]
    rest = ids[len(sample):]
    n_fs = spec.n_obs // spec.false_start_every \
        if spec.false_start_every else 0
    fs = set(sample[1:]) | set(rng.sample(rest, max(n_fs - 1, 0)))
    damaged = rng.sample(rest, spec.n_corrupt_end + spec.n_zero_length)
    corrupt = set(damaged[:spec.n_corrupt_end])
    empty = set(damaged[spec.n_corrupt_end:])
    clean = [i for i in rest
             if i not in fs and i not in corrupt and i not in empty]
    negative = set(rng.sample(clean, spec.n_negative_obs))
    nan = set(rng.sample(clean, spec.n_nan_obs))

    cards, history = header_cards(spec)
    os.makedirs(out_dir, exist_ok=True)
    gt = GroundTruth(files=spec.n_obs, corrupt_end=len(corrupt),
                     zero_length=len(empty), false_start_obs=len(fs))
    for obs_id in ids:
        false_start = obs_id in fs
        pdf = observation_table(spec, obs_id,
                                SAMPLE_SEED if obs_id in sample else seed,
                                false_start)
        intact = obs_id not in corrupt and obs_id not in empty
        dropped = 0
        for k, stream in enumerate(STREAMS):
            sci = _science_rows(pdf, stream, false_start)
            if obs_id in negative and k == obs_id % 4:
                # late science rows: dropping them moves no segment edge
                rows = sci[-spec.negative_rows:]
                pdf.loc[rows, "TSYS"] = -pdf.loc[rows, "TSYS"]
                dropped = len(rows)
                gt.negative_rows += len(rows)
            if obs_id in nan and k == (obs_id + 1) % 4:
                for r in sci[:spec.nan_rows]:
                    vec = list(pdf.at[r, "DATA"])
                    vec[0] = vec[len(vec) // 2] = float("nan")
                    pdf.at[r, "DATA"] = vec
                gt.nan_rows += spec.nan_rows
        buf = write_sdfits(pdf, cards, history)
        if obs_id in corrupt:
            buf = corrupt_drop_end(buf)
        elif obs_id in empty:
            buf = b""
        path = os.path.join(out_dir, file_name(obs_id))
        with open(path, "wb") as fh:
            fh.write(buf)
        gt.bytes += len(buf)
        if not intact:
            continue
        n_rows = len(pdf)
        gt.rows_in += n_rows
        gt.rows_out += n_rows - dropped
        gt.streams += len(STREAMS)
        gt.continuum_rows += len(STREAMS) * spec.n_science - dropped
        gt.spectrum_rows += len(STREAMS) * spec.n_channels
        if false_start:
            gt.python_rows += n_rows
    gt.sample_paths = [file_name(i) for i in sample]
    return gt


def file_name(obs_id: int) -> str:
    return f"obs{obs_id:05d}.fits"
