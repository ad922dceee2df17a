"""Spans around calls into the program's layers, recorded from outside.

``Tracer.install`` wraps module-level functions of ``sdvg_spark`` (the
wrappers live here; the library is not edited) and ``uninstall`` puts
the originals back, so untraced and traced passes run in one process.
Each span records its name, start, end, parent and pass id; spans stay
in memory until ``dump``. A span may carry a Spark job-group part, so
the Spark jobs launched inside it can be attributed to it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from perfbench.sparkstats import job_group

# (module path, attribute, span name, job-group part or None)
WRAPPED = [
    ("sdvg_spark.jobs", "run_generate", "jobs.run_generate", None),
    ("sdvg_spark.jobs", "parse_config", "config.parse_config", None),
    ("sdvg_spark.engine", "Engine.model_df", "engine.model_df", "plan"),
    ("sdvg_spark.engine", "Engine.column_df", "engine.column_df", "plan"),
    ("sdvg_spark.sinks.writers", "write_model", "sinks.write_model", "write"),
    ("sdvg_spark.sinks.writers", "_restore_layout", "sinks.restore_layout", None),
]


class Tracer:
    """Span recorder; records nothing until ``install``."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self.pass_id = ""

    @contextlib.contextmanager
    def span(self, name: str, part: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        group = (
            job_group(self.sc, f"{self.pass_id}|{part}")
            if part and self.sc is not None else contextlib.nullcontext()
        )
        try:
            with group:
                yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def install(self) -> None:
        import importlib

        for mod_name, attr, name, part in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, leaf)
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(orig, name, part))
        self.enabled = True

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)
        self._saved.clear()
        self.enabled = False

    def _wrap(self, fn, name: str, part: str | None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, part):
                return fn(*args, **kwargs)

        return traced

    def of_pass(self, pass_id: str) -> list[dict]:
        return [s for s in self.spans if s["pass"] == pass_id]

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover.

    Children of one span run one after another (the program is
    single-threaded on the Spark driver), so their durations add up.
    """
    out = {s["id"]: duration(s) for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in out:
            out[s["parent"]] -= duration(s)
    return out


def total(spans: list[dict], name: str) -> float:
    return sum(duration(s) for s in spans if s["name"] == name)


def self_total(spans: list[dict], name: str) -> float:
    st = self_times(spans)
    return sum(st[s["id"]] for s in spans if s["name"] == name)
