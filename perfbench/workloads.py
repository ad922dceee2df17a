"""The workloads: their inputs, one timed pass each, and checks.

A pass is what a user waits for. For gen_parquet it is one
``jobs.run_generate`` call from a config dict to files in a fresh empty
directory; for ops_sf0.01 it is every query of ``OPS_QUERIES`` built
once and run once to the noop sink.
"""

from __future__ import annotations

import copy
import os
import shutil
import time

from perfbench import checks

DEFAULT_SEED = 42
HERE = os.path.dirname(os.path.abspath(__file__))
OPS_DATA = os.path.join(HERE, "data", "sf0.01")

GEN_PARQUET_ROWS = 600_000

# One query per operator module (the first sdvg_spark.ops module each
# query imports, as tools/rotation_ledger.query_modules() lists them),
# plus one query that uses no ops module.
OPS_QUERIES = [
    "dedup_minhash",
    "ann_ivf",
    "corpus_vocab",
    "data_split",
    "events_asof",
    "events_funnel",
    "skew_salted_agg",
    "tfidf_keywords",
    "url_dedup",
    "events_sessionize",
]
OPS_MODULES = ["dedup", "similarity", "corpus", "sampling", "joins", "analytics",
               "skew", "text", "web", "native"]


def first_ops_module(query: str, modules: dict[str, list[str]]) -> str:
    """The first ``sdvg_spark/ops`` module a query imports, else ``native``."""
    ops = [m for m in modules[query] if m.startswith("sdvg_spark/ops/")]
    return os.path.splitext(os.path.basename(ops[0]))[0] if ops else "native"


def gen_parquet_config(seed: int, out_dir: str) -> dict:
    import bench

    cfg = copy.deepcopy(bench.GEN_BENCH_CFG)
    cfg["random_seed"] = seed
    cfg["models"]["bench"]["rows_count"] = GEN_PARQUET_ROWS
    cfg["output"] = {"type": "parquet", "dir": out_dir}
    return cfg


class GenWorkload:
    """``run_generate`` from a config dict to files, checked by DuckDB."""

    name = "gen_parquet"
    make_config = staticmethod(gen_parquet_config)

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.n = 0
        pinned = checks.load_pinned().get(self.name, {}).get(str(seed))
        self.checker = checks.PassChecker(pinned)
        cfg = self.make_config(seed, "")
        self.values = sum(m["rows_count"] * len(m["columns"]) for m in cfg["models"].values())
        self.digests: dict = {}

    def run_pass(self, spark, tracer) -> tuple[float, dict]:
        from sdvg_spark import jobs

        self.n += 1
        out_dir = os.path.join(self.work, "out", f"{self.name}-{self.n}")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        cfg = self.make_config(self.seed, out_dir)
        t0 = time.perf_counter()
        jobs.run_generate(cfg, spark=spark)
        wall = time.perf_counter() - t0
        return wall, {"out_dir": out_dir, "cfg": cfg}

    def check_pass(self, info: dict) -> list[str]:
        """Digest one pass's output, then delete it (both untimed)."""
        try:
            got = checks.gen_digests(info["out_dir"], info["cfg"], os.path.join(self.work, "tmp"))
            self.digests = got["models"]
            return got["errors"] + self.checker.errors(got["models"])
        except Exception as e:  # unreadable or truncated output counts as a failure
            return [f"{type(e).__name__}: {e}"]
        finally:
            shutil.rmtree(info["out_dir"], ignore_errors=True)

    def check_results(self, spark) -> list[str]:
        return []

    def ops_per_pass(self) -> int:
        return 1


class OpsWorkload:
    """Operator queries over the sf0.01 tables; ignores the seed."""

    def __init__(self, work: str):
        import __spark_entry__ as E
        from tools.rotation_ledger import query_modules

        self.name = "ops_sf0.01"
        self.queries = {q: E.queries()[q] for q in OPS_QUERIES}
        modules = query_modules()
        self.module_of = {q: first_ops_module(q, modules) for q in OPS_QUERIES}
        self.checker = checks.PassChecker(checks.load_pinned().get(self.name))
        self.values = 0
        self.digests: dict = {}
        self.last_built: dict = {}

    def run_pass(self, spark, tracer) -> tuple[float, dict]:
        errors, self.last_built = [], {}
        t0 = time.perf_counter()
        for q, build in self.queries.items():
            try:
                with tracer.span(f"ops.build.{q}", "build"):
                    df = build(spark, OPS_DATA)
                with tracer.span(f"ops.action.{q}", "action"):
                    df.write.format("noop").mode("overwrite").save()
                self.last_built[q] = df
            except Exception as e:
                errors.append(f"{q}: {type(e).__name__}: {e}")
        return time.perf_counter() - t0, {"errors": errors}

    def check_pass(self, info: dict) -> list[str]:
        return info["errors"]

    def check_results(self, spark) -> list[str]:
        """Digest the results of the DataFrames the last pass built (an
        untimed extra evaluation); a query that failed there is already
        counted as failed."""
        got, errs = {}, []
        for q, df in self.last_built.items():
            try:
                got[q] = checks.df_digest(df)
            except Exception as e:
                errs.append(f"{q}: {type(e).__name__}: {e}")
        self.values = sum(d["rows"] * d["cols"] for d in got.values())
        self.digests = got
        return errs + self.checker.errors(got)

    def ops_per_pass(self) -> int:
        return len(self.queries)
