"""Per-layer measurements that run beside the traced passes.

* ``core``: the permutation and float kernels, single-threaded on a
  fixed 4M array.
* ``generators``: one column of each generator type through
  ``Engine.column_df`` and a noop write.
* ``engine``: a noop evaluation of each model's full range (the floor a
  sink can reach).
* ``spark``: the wall of a trivial job in the warm session.
"""

from __future__ import annotations

import statistics
import time

from perfbench.sparkstats import job_group

KERNEL_N = 4_000_000
GEN_ROWS = 100_000


def core_kernels() -> dict[str, float]:
    import numpy as np

    from sdvg_spark.core.rng import frf_np
    from sdvg_spark.core.sequence import perm_np

    x = np.arange(KERNEL_N, dtype=np.uint64)

    def best(fn) -> float:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t0)
        return min(runs) / KERNEL_N * 1e9

    return {
        "core.feistel_ns_per_value": best(lambda: perm_np(x, KERNEL_N, 42, "feistel")),
        "core.frf_ns_per_value": best(lambda: frf_np(x)),
    }


def _generator_columns() -> dict[str, dict]:
    def s(**tp):
        return {"type": "string", "type_params": tp}

    return {
        "integer": {"type": "integer", "type_params": {"bit_width": 64}},
        "integer_ordered": {"type": "integer", "ordered": True,
                            "type_params": {"bit_width": 32, "from": 0, "to": GEN_ROWS}},
        "float": {"type": "float", "type_params": {"bit_width": 64, "from": 0, "to": 1}},
        "datetime": {"type": "datetime"},
        "enum": {"type": "string", "values": ["a", "b", "c", "d", "e"]},
        "multirange": {"type": "integer", "ranges": [
            {"type_params": {"bit_width": 32, "from": 0, "to": 100}, "range_percentage": 0.5},
            {"type_params": {"bit_width": 32, "from": 1000, "to": 2000}, "range_percentage": 0.3},
            {"type_params": {"bit_width": 32, "from": 10**6, "to": 10**7},
             "range_percentage": 0.2, "ordered": True}]},
        "uuid": {"type": "uuid"},
        "string": s(min_length=8, max_length=8),
        "first_name": s(logical_type="first_name", locale="en"),
        "last_name": s(logical_type="last_name", locale="ru"),
        "phone": s(logical_type="phone", locale="ru"),
        "template": s(template="AA 00 000 000"),
        "text": s(logical_type="text", min_length=16, max_length=128),
        "foreign_key": {"foreign_key": "parent.id"},
    }


def generator_throughput(spark) -> dict[str, float]:
    """values/s per generator type: column_df build plus one noop write."""
    from sdvg_spark.config.model import parse_config
    from sdvg_spark.engine import Engine

    cols = _generator_columns()
    eng = Engine(parse_config({"random_seed": 42, "models": {
        "parent": {"rows_count": GEN_ROWS // 4, "columns": [
            {"name": "id", "type": "integer", "ordered": True,
             "type_params": {"bit_width": 64, "from": 1, "to": GEN_ROWS // 4}}]},
        "g": {"rows_count": GEN_ROWS,
              "columns": [{"name": k, **v} for k, v in cols.items()]},
    }}))
    out = {}
    for name in cols:
        t0 = time.perf_counter()
        eng.column_df(spark, "g", name).write.format("noop").mode("overwrite").save()
        out[f"generators.{name}.values_per_s"] = GEN_ROWS / (time.perf_counter() - t0)
    return out


def engine_eval(spark, cfg: dict, stats) -> dict[str, float]:
    """Noop evaluation of every model's full range; the action only."""
    from sdvg_spark.config.model import parse_config
    from sdvg_spark.engine import Engine

    eng = Engine(parse_config(cfg))
    wall = 0.0
    with job_group(spark.sparkContext, "eval|"):
        for name in cfg["models"]:
            df = eng.model_df(spark, name)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            wall += time.perf_counter() - t0
    return {"engine.eval_s": wall, "engine.eval_tasks": stats.counters("eval|")["tasks"]}


def job_floor_ms(spark) -> float:
    runs = []
    for _ in range(7):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs) * 1e3
