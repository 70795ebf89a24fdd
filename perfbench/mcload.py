"""The MC workloads: the reference's two demo batteries, scaled to fit a run.

Each op is one battery run, as a user calls it:

- ``mc_demo1_csv``: ``simulate(models, configs, output_paths=[...])``,
  which also exports one CSV file per model (3-argument model calls);
- ``mc_demo2_parquet``: ``simulate(models, configs)`` with a
  ``starting_point`` (4-argument model calls), then
  ``write_traces_parquet`` on the returned DataFrame.

The golden digests come from :func:`reference_digests`, a serial numpy
re-run of the same model with the same per-simulation seeding and no
Spark.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import io
import os
import time

import numpy as np

#: Simulation counts are the reference demo's divided by this factor, so
#: that several ops fit in one run (README.md, "Sizing").
SCALE = 5

WORKLOADS = {
    "mc_demo1_csv": [
        {"number_simulations": 100_000, "number_points": 16, "parameters": [0.5]},
        {"number_simulations": 60_000, "number_points": 32, "parameters": [0.7]},
    ],
    "mc_demo2_parquet": [
        {"number_simulations": 200_000, "number_points": 12, "parameters": [0.5],
         "starting_point": ["T"] * 5},
        {"number_simulations": 80_000, "number_points": 28, "parameters": [0.7],
         "starting_point": ["T"] * 5},
    ],
}

#: The self-test's size: a few hundred simulations.
TINY_SCALE = 500

RNG = "Philox"


def coin_sequence(number_points, rng, parameters=None, starting_point=None):
    """The reference demo's model: biased coin flips, pure Python."""
    bias = parameters[0] if parameters is not None else 0.5
    seq = list(starting_point) if starting_point is not None else []
    seq += ["H" if rng.random() <= bias else "T" for _ in range(number_points)]
    return seq


class CountingModel:
    """Wraps a model to count its calls and time them through accumulators."""

    def __init__(self, model, calls, seconds):
        self.model, self.calls, self.seconds = model, calls, seconds

    def __call__(self, *args):
        t0 = time.perf_counter()
        out = self.model(*args)
        self.seconds.add(time.perf_counter() - t0)
        self.calls.add(1)
        return out


def configs(workload: str, scale: int = SCALE) -> list[dict]:
    return [
        dict(c, number_simulations=c["number_simulations"] // scale)
        for c in WORKLOADS[workload]
    ]


def _model_args(cfg: dict) -> tuple:
    """The arguments the battery passes after ``(number_points, rng)``."""
    if "starting_point" in cfg:
        return (cfg["parameters"], cfg["starting_point"])
    return (cfg["parameters"],)


def _csv_text(traces) -> str:
    buf = io.StringIO(newline="")
    csv.writer(buf).writerows(traces)
    return buf.getvalue()


def rows_digest(rows) -> str:
    """sha256 over sorted ``model_id,sim_id,trace...`` lines."""
    lines = sorted(f"{m},{s},{','.join(t)}" for m, s, t in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def reference_digests(workload: str, master_seed: int, cfgs: list[dict]) -> dict:
    """Serial numpy reference: the digests a correct op must reproduce."""
    bit_gen = getattr(np.random, RNG)
    per_model, rows = [], []
    for model_id, cfg in enumerate(cfgs):
        traces = []
        for sim_id in range(cfg["number_simulations"]):
            rng = np.random.Generator(
                bit_gen(np.random.SeedSequence([master_seed, model_id, sim_id]))
            )
            traces.append(coin_sequence(cfg["number_points"], rng, *_model_args(cfg)))
        if workload == "mc_demo1_csv":
            per_model.append(hashlib.sha256(_csv_text(traces).encode()).hexdigest())
        else:
            rows.extend((model_id, s, t) for s, t in enumerate(traces))
    if workload == "mc_demo1_csv":
        return {f"csv{m}": d for m, d in enumerate(per_model)}
    return {"rows": rows_digest(rows)}


def output_digests(workload: str, out_dir: str) -> dict:
    """Digests of what an op left in ``out_dir``."""
    if workload == "mc_demo1_csv":
        out = {}
        for path in sorted(glob.glob(os.path.join(out_dir, "*.txt"))):
            with open(path, "rb") as fh:
                out[f"csv{os.path.basename(path)[:-4]}"] = hashlib.sha256(fh.read()).hexdigest()
        return out
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(out_dir, "traces"), format="parquet",
                   partitioning="hive").to_table()
    return {"rows": rows_digest(zip(t["model_id"].to_pylist(),
                                    t["sim_id"].to_pylist(),
                                    t["trace"].to_pylist()))}


def output_bytes(workload: str, out_dir: str) -> tuple[int, int]:
    """(total bytes, number of files) of an op's output."""
    pattern = "*.txt" if workload == "mc_demo1_csv" else "traces/**/*.parquet"
    files = glob.glob(os.path.join(out_dir, pattern), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


def output_rows(workload: str, out_dir: str) -> int:
    """Traces an op wrote: CSV lines or parquet rows."""
    if workload == "mc_demo1_csv":
        total = 0
        for path in glob.glob(os.path.join(out_dir, "*.txt")):
            with open(path, "rb") as fh:
                total += sum(1 for _ in fh)
        return total
    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(out_dir, "traces"), format="parquet").count_rows()
