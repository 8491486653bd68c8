"""Run context shared by the workloads: the Spark session, timed
operations, pauses for output checks, and the run's measurements."""

from __future__ import annotations

import os
import time
import traceback
from contextlib import contextmanager

from spans import Tracer, tree_cpu

LAYERS = ["api", "sources.writers", "pipelines.weekly", "pipelines.corpus",
          "operators.entity_resolution", "operators.dedup",
          "operators.text_analysis", "operators.curation",
          "operators.search", "operators.similarity_search"]


class Ctx:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work_dir: str, cache_dir: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced = traced
        self.work_dir, self.cache_dir = work_dir, cache_dir
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.warming = False
        self.ops: list[dict] = []          # timed operations, in order
        self.rounds: list[dict] = []       # per round: wall_s, cpu_s
        self.failures: list[str] = []
        self.post_checks: list[bool] = []
        self.extra: dict = {}              # workload-specific results
        self.writes: list[dict] = []       # per upsert: bytes in, files after
        self.cached_mb_peak = 0.0
        self._paused_s = self._paused_cpu = 0.0
        self._deadline = None

    # ---------------------------------------------------------- session
    def start_session(self):
        from database_convertor_spark.session import get_spark
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench")

    def cached_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 2**20

    # --------------------------------------------------------- timing
    def start_timed(self):
        self._deadline = time.time() + self.seconds

    def time_left(self) -> bool:
        return time.time() < self._deadline

    @contextmanager
    def round(self, index: int):
        """One unit of work; its wall and CPU exclude check pauses."""
        p0, c0 = self._paused_s, self._paused_cpu
        cpu0, t0 = tree_cpu()[0], time.perf_counter()
        with self.tracer.span(f"round{index}", round=index):
            yield
        wall = time.perf_counter() - t0 - (self._paused_s - p0)
        cpu = tree_cpu()[0] - cpu0 - (self._paused_cpu - c0)
        self.rounds.append({"wall_s": wall, "cpu_s": cpu})

    @contextmanager
    def pause(self, name: str = "check"):
        """Benchmark-side work inside a round (output checks, batch
        preparation) that must not count as the program's time."""
        cpu0, t0 = tree_cpu()[0], time.perf_counter()
        with self.tracer.span(name, kind="pause"):
            yield
        self._paused_s += time.perf_counter() - t0
        self._paused_cpu += tree_cpu()[0] - cpu0

    def op(self, name: str, layer: str, cls: str, build, execute=None):
        """Run one operation: ``build()`` returns the engine's result
        (usually a lazy DataFrame), ``execute(result)`` materializes it.
        Returns the executed result, or None when the operation raised."""
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        out, err = None, None
        with self.tracer.span(name, layer=layer, cls=cls, kind="op",
                              warm=self.warming) as s:
            if self.traced:
                s.attrs["py_cpu0"] = tree_cpu()[1]
            try:
                with self.tracer.span("build", kind="phase"):
                    res = build()
                with self.tracer.span("exec", kind="phase"):
                    out = execute(res) if execute else res
            except Exception as e:  # the failure is the measurement
                err = f"{name}: {type(e).__name__}: {e}"
                traceback.print_exc()
            if self.traced:
                s.attrs["py_cpu1"] = tree_cpu()[1]
        if not self.warming:
            rec = {"name": name, "layer": layer, "cls": cls, "span": s.id,
                   "latency_s": s.end - s.start, "ok": err is None}
            self.ops.append(rec)
            with self.pause("cache-probe"):
                self.cached_mb_peak = max(self.cached_mb_peak, self.cached_mb())
        if err:
            self.fail(err)
            return None
        return out

    def fail(self, why: str, op: str | None = None):
        """Record a failure of the latest operation, or of the latest
        one named ``op``."""
        if self.warming:
            raise RuntimeError(f"warm-up failed: {why}")
        self.failures.append(why)
        for o in reversed(self.ops):
            if op is None or o["name"] == op:
                o["ok"] = False
                break

    def check(self, what: str, ok: bool, detail: str = ""):
        """Record an output check of the latest operation."""
        if not ok:
            self.fail(f"check {what} failed {detail}".strip())

    def final_check(self, what: str, ok: bool, detail: str = ""):
        """A check after the timed region (e.g. re-applying a batch);
        it counts as one attempted operation of its own."""
        self.post_checks.append(ok)
        if not ok:
            self.failures.append(f"check {what} failed {detail}".strip())

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.post_checks)

    @property
    def failed(self) -> int:
        return (sum(not o["ok"] for o in self.ops)
                + sum(not ok for ok in self.post_checks))
