"""Benchmark of sdvg_spark: `generate` from config to files, and operators.

    python3 perfbench/run.py --workload gen_parquet --seed 42 --seconds 8 --trace 0

Run from the repository root. One process, one local[4] Spark session:

1. set-up: process start to a warm session (``setup_s``);
2. one first pass (``first_wall_s``);
3. steady passes until ``--seconds`` of pass time have run (at least
   three); ``wall_s`` and ``peak_rss_mb`` are medians over them;
4. every pass's output is checked outside the timed region.

With ``--trace 1``, after the first pass and one warm-up pass,
untraced passes alternate with traced ones, which record spans around
the program's layers; then come the per-layer measurements of
``layers.py``. The run prints the per-layer metrics and writes its
spans to ``perfbench/_work/spans-*.json``.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The line before it holds diagnostics: every pass wall, the
time of each phase of the run, the host-noise probe
(bench.calib_floor_probe) taken before each pass, and ``contended``,
true when the median probe read above the quiet range, so that a
comparison can drop or rerun that run (stderr warns too).
``--selftest`` shows that a truncated or altered output file fails the
check.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / "perfbench" / "_work"
WORKLOADS = ("gen_parquet", "ops_sf0.01")
CPUS = 4
STEADY_PASSES = 3
# bench.calib_floor_probe on a quiet 4-vCPU host read 16-24 ms; a run whose
# median probe reads above this ran on a contended host.
QUIET_FLOOR_MS = 24.0
# The program's own default is an 8g driver heap that G1 sizes itself; the
# same pass then read 1.3-1.9 GB of RSS in different processes. A fixed 2g
# heap and 768 MB young generation make the RSS track what the program keeps
# alive, and keep a run small. Wall, GC and spill figures are therefore for
# this heap, and short-lived allocation does not show in peak_rss_mb.
DRIVER_JVM = "-Xms2g -Xmn768m"


def process_start() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


class RssSampler(threading.Thread):
    """Peak RSS of this process and its descendants (JVM, Python workers)."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, interval: float = 0.05):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.done = threading.Event()

    @staticmethod
    def _tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for tid in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass
        return out

    def rss(self) -> int:
        """RSS bytes of the process tree."""
        out = 0
        for p in self._tree(os.getpid()):
            try:
                with open(f"/proc/{p}/statm") as f:
                    out += int(f.read().split()[1]) * self.PAGE
            except OSError:
                pass
        return out

    def sample(self) -> None:
        self.peak = max(self.peak, self.rss())

    def run(self) -> None:
        while not self.done.wait(self.interval):
            self.sample()

    def take(self) -> float:
        """Peak since the last take, in MB."""
        self.sample()
        peak, self.peak = self.peak, 0
        return peak / 2**20


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local", WORK / "out"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        # every JVM, the spark-submit launcher included
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '{DRIVER_JVM}' pyspark-shell",
    )
    sys.path.insert(0, str(ROOT))
    os.chdir(ROOT)


def start_session():
    from sdvg_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]")
    spark.range(0, 1, 1, 1).write.format("noop").mode("overwrite").save()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def make_workload(name: str, seed: int):
    from perfbench import workloads as W

    if name == "gen_parquet":
        return W.GenWorkload(seed, str(WORK))
    return W.OpsWorkload(str(WORK))


def setup(name: str, seed: int):
    """Import the program's modules, start a warm session, build the workload."""
    import importlib

    spark = start_session()
    for mod in ("sdvg_spark.jobs", "sdvg_spark.engine", "sdvg_spark.sinks.writers"):
        importlib.import_module(mod)
    return spark, make_workload(name, seed)


class Runner:
    def __init__(self, spark, wl, sampler):
        import bench
        from perfbench.tracing import Tracer

        self.spark = spark
        self.wl = wl
        self.sampler = sampler
        self.tracer = Tracer(spark.sparkContext)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.pending: list[tuple[str, dict]] = []
        self.diag: dict = {"passes": []}
        bench.calib_floor_probe()  # a process's first probe reads high: warm it

    def one_pass(self, label: str) -> tuple[float, float, dict]:
        """One timed pass; its output is checked later, in ``check``."""
        import bench
        from perfbench.sparkstats import job_group

        floor = bench.calib_floor_probe()
        self.sampler.take()
        self.tracer.pass_id = label
        try:
            with job_group(self.spark.sparkContext, f"{label}|pass"):
                wall, info = self.wl.run_pass(self.spark, self.tracer)
            self.pending.append((label, info))
        except Exception as e:  # a failed generate call is a failed operation
            wall, info = float("nan"), {}
            self.fail(label, [f"{type(e).__name__}: {e}"])
        rss = self.sampler.take()
        self.attempted += self.wl.ops_per_pass()
        self.diag["passes"].append({"pass": label, "wall_s": wall, "peak_rss_mb": rss,
                                    "calib_floor_ms": floor * 1e3})
        return wall, rss, info

    def fail(self, label: str, errs: list[str]) -> None:
        self.failed += min(len(errs), self.wl.ops_per_pass())
        self.errors += [f"{label}: {e}" for e in errs]

    def check(self) -> None:
        """Check every pass's output once all timed passes are done, so the
        checks' own memory and CPU never land in a measured pass."""
        for label, info in self.pending:
            self.fail(label, self.wl.check_pass(info))
        self.pending.clear()

    def steady(self, prefix: str, seconds: float):
        walls, rss = [], []
        while sum(walls) < seconds or len(walls) < STEADY_PASSES:
            w, r, _ = self.one_pass(f"{prefix}{len(walls) + 1}")
            walls.append(w)
            rss.append(r)
        return walls, rss


def pass_layers(wl, spans: list[dict], stats, label: str, wall: float, info: dict) -> dict:
    """Per-layer metrics of one traced pass, from its spans and Spark jobs."""
    from perfbench import checks, tracing
    from perfbench.sparkstats import task_skew

    m = {f"spark.{k}": v for k, v in stats.counters(f"{label}|").items()}
    write_s = tracing.total(spans, "sinks.write_model")
    files = checks.data_files(info["out_dir"]) if "out_dir" in info else []
    m.update({
        "trace.wall_s": wall,
        "trace.coverage": sum(tracing.self_times(spans).values()) / wall,
        "config.parse_ms": tracing.total(spans, "config.parse_config") * 1e3,
        "engine.plan_ms": tracing.total(spans, "engine.model_df") * 1e3,
        "sinks.write_s": write_s,
        "sinks.commit_ms": tracing.total(spans, "sinks.restore_layout") * 1e3,
        "sinks.write_tasks": stats.counters(f"{label}|write")["tasks"] if write_s else 0,
        "sinks.task_skew": task_skew(stats.task_durations_ms(f"{label}|write")) if write_s else 0,
        "sinks.files": len(files),
        "sinks.out_mb": sum(os.path.getsize(f) for f in files) / 2**20,
        "jobs.slices": sum(s["name"] == "sinks.write_model" for s in spans),
        "jobs.overhead_ms": tracing.self_total(spans, "jobs.run_generate") * 1e3,
    })
    m.update(ops_metrics(wl, spans, stats, label))
    return m


def traced_metrics(runner: Runner, seconds: float) -> dict:
    """One warm-up pass, untraced and traced passes in turn (s t t s s t
    ...), then the per-layer benches. The pass after the first runs
    10-20% slower than later ones, a drop the alternation cannot
    balance, so no metric uses it; the alternating order keeps the
    slower trend after it from showing up as tracing overhead.
    """
    import bench
    from perfbench import layers
    from perfbench.sparkstats import SparkStats

    spark, wl, tr = runner.spark, runner.wl, runner.tracer
    stats = SparkStats(spark)
    untraced, per_pass = [], []
    runner.one_pass("warm")

    def traced(n: int) -> None:
        tr.install()
        try:
            wall, _, info = runner.one_pass(f"t{n}")
        finally:
            tr.uninstall()
        per_pass.append(pass_layers(wl, tr.of_pass(f"t{n}"), stats, f"t{n}", wall, info))

    while sum(untraced) < seconds or len(untraced) < 2:
        n = len(untraced) + 1
        if n % 2:
            untraced.append(runner.one_pass(f"s{n}")[0])
            traced(n)
        else:
            traced(n)
            untraced.append(runner.one_pass(f"s{n}")[0])
    merged = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    merged["trace.overhead_frac"] = merged.pop("trace.wall_s") / statistics.median(untraced) - 1
    make_config = getattr(wl, "make_config", None)
    if make_config is not None:
        cfg = make_config(wl.seed, str(WORK / "out" / "eval"))
        merged.update(layers.engine_eval(spark, cfg, stats))
        merged["sinks.encode_s"] = merged["sinks.write_s"] - merged["engine.eval_s"]
    else:
        merged.update({"engine.eval_s": 0, "engine.eval_tasks": 0, "sinks.encode_s": 0})
    merged["spark.cached_mb"] = stats.cached_mb()
    merged["spark.job_floor_ms"] = layers.job_floor_ms(spark)
    merged.update(layers.core_kernels())
    merged.update(layers.generator_throughput(spark))
    merged["host.calibration_s"] = bench.calibrate_cpu()
    merged["host.calib_floor_ms"] = statistics.median(
        p["calib_floor_ms"] for p in runner.diag["passes"]
    )
    return merged


def ops_metrics(wl, spans, stats, label: str) -> dict:
    from perfbench import tracing
    from perfbench.workloads import OPS_MODULES

    m = {"ops.build_s": 0.0, "ops.action_s": 0.0, "ops.build_jobs": 0, "ops.action_jobs": 0}
    m.update({f"ops.{mod}.wall_s": 0.0 for mod in OPS_MODULES})
    for s in spans:
        kind, _, q = s["name"].removeprefix("ops.").partition(".")
        if kind in ("build", "action") and s["parent"] is None:
            m[f"ops.{kind}_s"] += tracing.duration(s)
            m[f"ops.{wl.module_of[q]}.wall_s"] += tracing.duration(s)
    m["ops.build_jobs"] = len(stats.jobs(f"{label}|build"))
    m["ops.action_jobs"] = len(stats.jobs(f"{label}|action"))
    return m


def run(args) -> int:
    t_proc = process_start()
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in declared[key]}
    phases: dict[str, float] = {}

    def phase(name: str, t0: float) -> float:
        now = time.perf_counter()
        phases[name] = now - t0
        return now

    spark, wl = setup(args.workload, args.seed)
    setup_s = time.time() - t_proc
    phases["setup"] = setup_s
    t = time.perf_counter()
    sampler = RssSampler()
    sampler.start()
    runner = Runner(spark, wl, sampler)

    first_wall, _, _ = runner.one_pass("first")
    if args.trace:
        metrics = traced_metrics(runner, args.seconds)
        runner.tracer.dump(WORK / f"spans-{args.workload}-seed{args.seed}-{os.getpid()}.json")
    else:
        walls, rss = runner.steady("s", args.seconds)
    t = phase("passes", t)
    runner.check()
    errs = wl.check_results(spark)
    runner.failed += len(errs)
    runner.errors += errs
    t = phase("checks", t)
    if not args.trace:
        wall_s = statistics.median(walls)
        metrics = {
            "first_wall_s": first_wall,
            "wall_s": wall_s,
            "values_per_s": wl.values / wall_s,  # ops sets values in check_results
            "peak_rss_mb": statistics.median(rss),
            "setup_s": setup_s,
        }

    stop_spark(spark)
    sampler.done.set()
    sampler.join()
    phase("stop", t)

    floor_ms = statistics.median(p["calib_floor_ms"] for p in runner.diag["passes"])
    contended = floor_ms > QUIET_FLOOR_MS
    if contended:
        print(f"perfbench: contended host: median host-noise floor {floor_ms:.1f} ms "
              f"(quiet: <= {QUIET_FLOOR_MS:.0f} ms); drop or rerun this run",
              file=sys.stderr)
    runner.diag.update(phases_s=phases, contended=contended,
                       workload=args.workload, seed=args.seed, digests=wl.digests,
                       errors=runner.errors[:20])
    missing = set(units) - set(metrics)
    if missing:
        print(f"perfbench: metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({"diagnostics": runner.diag}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if not (ROOT / "sdvg_spark" / "__init__.py").is_file() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: no sdvg_spark sources under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    prepare_env()
    if args.selftest:
        from perfbench.selftest import selftest

        return selftest(start_session, stop_spark, str(WORK))
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
