"""Trace sinks.

CSV parity sink: the reference writes ONE local CSV per model — one
comma-joined row per trace, no header, overwrite mode
(``utils.py:15-23``; default filenames ``./{i}.txt`` per
``parallel_simulations.py:176-179``). The tasks that simulate also format
the CSV text, one block per shard (:meth:`.battery.MCBattery._trace_frame`),
so the export is the one job that simulates: no sort, no shuffle, no
per-row Python on the driver. While writing, the driver holds the whole
battery's CSV text, about the size of the files (per SURVEY.md §7 hard
parts, per-model output is modest); the scalable sink is plain
``df.write.parquet``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def default_output_paths(n_models: int) -> list[str]:
    """Reference default naming (``parallel_simulations.py:176-179``)."""
    return [f"{i}.txt" for i in range(n_models)]


def export_traces_csv(traces: DataFrame, paths_by_model: dict[int, str]) -> None:
    """Write one CSV file per model, reference format (``utils.py:19-23``).

    ``traces`` carries a ``csv`` column: each shard's text on the shard's
    first row, null elsewhere. Only those few blocks reach the driver, in
    one job; shards are contiguous sim ranges, so sorting the blocks by
    ``(model_id, sim_id)`` puts every file's rows in sim order.
    """
    blocks = sorted(
        traces.filter(F.col("csv").isNotNull() & F.col("model_id").isin(list(paths_by_model)))
        .select("model_id", "sim_id", "csv")
        .collect()
    )
    for model_id, path in paths_by_model.items():
        parent = os.path.dirname(path)
        if parent:
            os.makedirs(parent, exist_ok=True)  # reference models.py:71-73
        with open(path, "w", newline="") as fh:  # "w" = overwrite, utils.py:19
            fh.writelines(b.csv for b in blocks if b.model_id == model_id)


def write_traces_parquet(traces: DataFrame, path: str, partition_by_model: bool = True) -> None:
    """Scalable sink: partitioned parquet (the queryable store)."""
    w = traces.write.mode("overwrite")
    if partition_by_model:
        w = w.partitionBy("model_id")
    w.parquet(path)
