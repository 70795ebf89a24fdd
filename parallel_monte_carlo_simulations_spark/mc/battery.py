"""MCBattery — the Monte Carlo battery, Spark-first.

Reference surface (``parallel_simulations.py:18-33``):

    ParallelMCBattery(battery_configs).simulate(models, simulation_configs,
                                                output_paths=None)

Spark re-expression: the unit of parallelism is a *shard of simulations*
(a contiguous ``[sim_lo, sim_hi)`` range of one model, one row of a
``spark.range`` over the shard indices), not one element per model as in
the reference (``parallel_simulations.py:50-57``, which caps parallelism
at ``len(models)``). Each shard runs inside an Arrow ``mapInArrow`` where
the user callable is invoked with the reference's exact call convention
(3-way arity dispatch at ``parallel_simulations.py:80-95``, extended with
the missing ``starting_point``-only combo). The result is a queryable
DataFrame ``(model_id, sim_id, trace)``. When the battery exports, the same
tasks also format each shard's CSV text, and :mod:`.sinks` writes the
reference's per-model files from that one job: no shuffle, no sort, one
Python pass.

Scale: 1e9 simulations × 1000 models is just ``total/batch_size`` rows in
the shard range fanned across the cluster; traces never gather on the
driver unless exported to CSV; seeds derive deterministically inside
tasks (retry-safe).
"""

from __future__ import annotations

import bisect
import csv
import io
import logging
import math
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

from . import sinks
from .models import BatteryConfigs, SimulationConfig, validate_simulation_configs
from .seeds import fresh_master_seed, rng_for

logger = logging.getLogger(__name__)

_TRACE_SCHEMA = {
    "string": "model_id long, sim_id long, trace array<string>",
    "double": "model_id long, sim_id long, trace array<double>",
}


def _call_model(
    model: Callable,
    number_points: int,
    rng,
    parameters,
    starting_point,
) -> Sequence:
    """The reference's call-convention dispatch (``parallel_simulations
    .py:80-95``), plus the 4th combo the reference silently drops (its
    traces came back empty — SURVEY.md §2.A quirks)."""
    if parameters is None and starting_point is None:
        return model(number_points, rng)
    if parameters is not None and starting_point is None:
        return model(number_points, rng, parameters)
    if parameters is not None and starting_point is not None:
        return model(number_points, rng, parameters, starting_point)
    # starting_point without parameters — pass parameters=None explicitly.
    return model(number_points, rng, None, starting_point)


class MCBattery:
    """Engine-native Monte Carlo battery.

    Unlike the reference, state is per-instance (the reference stores
    ``rng_generator``/``pipeline_options``/``output_paths`` as *class*
    attributes, ``parallel_simulations.py:30-31,40`` — two batteries
    clobber each other) and the documented-but-broken ``output_paths``
    cache (``parallel_simulations.py:40`` overwrites before read) is
    implemented as documented: paths given once are reused on later
    ``simulate`` calls.
    """

    def __init__(self, battery_configs: dict | BatteryConfigs | None = None):
        if isinstance(battery_configs, BatteryConfigs):
            self.configs = battery_configs
        else:
            self.configs = BatteryConfigs(**(battery_configs or {}))
        self.output_paths: list[str] | None = None
        self.last_master_seed: int | None = None

    # -- public API ---------------------------------------------------

    def simulate(
        self,
        models: Sequence[Callable],
        simulation_configs: Sequence[dict | SimulationConfig],
        output_paths: Sequence[str] | None = None,
        *,
        spark: SparkSession | None = None,
        trace_dtype: str = "string",
        master_seed: int | None = None,
    ) -> DataFrame:
        """Run the battery; return ``DataFrame[model_id, sim_id, trace]``.

        If ``output_paths`` is given (or cached from a prior call), also
        export one CSV per model with the reference's format: one
        comma-joined row per trace, no header, overwrite
        (``utils.py:15-23``). The exported frame comes back cached; its
        ``unpersist()`` releases the cache.
        """
        if len(models) != len(simulation_configs):
            raise ValueError(
                f"{len(models)} models but {len(simulation_configs)} configs"
            )
        if trace_dtype not in _TRACE_SCHEMA:
            raise ValueError(f"trace_dtype must be one of {sorted(_TRACE_SCHEMA)}")

        cfgs = validate_simulation_configs(
            [
                c
                if isinstance(c, dict)
                # pydantic v2 spells dump `model_dump`; the v1 fallback
                # (see mc/models.py) only has `.dict()`.
                else (c.model_dump() if hasattr(c, "model_dump") else c.dict())
                for c in simulation_configs
            ]
        )
        spark = spark or SparkSession.builder.getOrCreate()
        # Battery-level engine knobs (the reference's pipeline_options
        # analogue, models.py:14): applied as runtime SQL confs.
        for key, value in self.configs.spark_conf.items():
            spark.conf.set(key, value)

        seed = (
            master_seed
            if master_seed is not None
            else (
                self.configs.master_seed
                if self.configs.master_seed is not None
                else fresh_master_seed()
            )
        )
        self.last_master_seed = seed
        logger.info("MCBattery.simulate master_seed=%d", seed)

        # Working output_paths cache (documented reference semantics,
        # notebook cell 35; the reference's implementation clobbers it).
        if output_paths is not None:
            self.output_paths = list(output_paths)
        export = self.output_paths is not None
        df = self._trace_frame(spark, list(models), cfgs, seed, trace_dtype, export)
        if not export:
            return df

        # One job simulates, caches the traces and carries each shard's
        # CSV text to the driver. Looked up at call time so that wrappers
        # of the sink see the call.
        full = df.persist()
        sinks.export_traces_csv(full, dict(enumerate(self.output_paths)))
        # The caller gets the trace columns, cached on their own, so that
        # their unpersist() releases everything; the copy reads the cache
        # the export filled (the simulation is nondeterministic to Spark
        # and must not run twice).
        traces = full.drop("csv").persist()
        traces.write.format("noop").mode("overwrite").save()
        full.unpersist()
        return traces

    # -- internals ----------------------------------------------------

    def _trace_frame(
        self,
        spark: SparkSession,
        models: list[Callable],
        cfgs: list[SimulationConfig],
        master_seed: int,
        trace_dtype: str,
        export: bool,
    ) -> DataFrame:
        # Shard i of the battery is shard i - first_shard[m] of model m:
        # only these offsets ship in the closure, never a row per shard.
        first_shard = [0]
        for cfg in cfgs:
            first_shard.append(first_shard[-1] + math.ceil(cfg.number_simulations / cfg.batch_size))
        n_shards = first_shard[-1]
        shard_df = spark.range(
            n_shards, numPartitions=max(n_shards, spark.sparkContext.defaultParallelism)
        )

        bit_gen_cls = self.configs.bit_generator()
        cfg_by_model = [
            (c.number_points, c.parameters, c.starting_point, c.number_simulations, c.batch_size)
            for c in cfgs
        ]
        cast = str if trace_dtype == "string" else float
        schema = _TRACE_SCHEMA[trace_dtype] + (", csv string" if export else "")
        names = ["model_id", "sim_id", "trace"] + (["csv"] if export else [])

        def run_shards(batches: Iterator) -> Iterator:
            # Runs on executors; models/cfg_by_model arrive via the
            # cloudpickled closure (same mechanism as Beam's DoFn capture
            # of battery state at reference parallel_simulations.py:68).
            import pyarrow as pa

            trace_type = pa.list_(pa.string() if trace_dtype == "string" else pa.float64())
            for batch in batches:
                for shard in batch.column(0).to_pylist():
                    model_id = bisect.bisect_right(first_shard, shard) - 1
                    number_points, parameters, starting_point, n, bs = cfg_by_model[model_id]
                    sim_lo = (shard - first_shard[model_id]) * bs
                    sim_ids = range(sim_lo, min(sim_lo + bs, n))
                    traces = [
                        [
                            cast(p)
                            for p in _call_model(
                                models[model_id],
                                number_points,
                                rng_for(bit_gen_cls, master_seed, model_id, sim_id),
                                parameters,
                                starting_point,
                            )
                        ]
                        for sim_id in sim_ids
                    ]
                    # Built straight from Python lists: a NaN stays NaN
                    # (pandas' Arrow conversion would turn it into null).
                    columns = [
                        pa.array([model_id] * len(sim_ids), pa.int64()),
                        pa.array(sim_ids, pa.int64()),
                        pa.array(traces, trace_type),
                    ]
                    if export:
                        # The shard's CSV text, reference format, rides on
                        # its first row for the driver to concatenate.
                        buf = io.StringIO(newline="")
                        csv.writer(buf).writerows(traces)
                        columns.append(
                            pa.array([buf.getvalue()] + [None] * (len(sim_ids) - 1), pa.string())
                        )
                    yield pa.RecordBatch.from_arrays(columns, names=names)

        return shard_df.mapInArrow(run_shards, schema=schema)


#: Alias matching the reference's public class name
#: (``parallel_simulations/__init__.py:5``) so reference users can switch
#: with only an import change.
ParallelMCBattery = MCBattery
