"""Shared benchmark state: the Spark session, samplers, tracer, results."""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

import metrics
from procstat import TreeSampler
from spans import Tracer

STATE_DIR = ".perfbench_state"


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    notes: list = field(default_factory=list)

    def extra(self, name: str, value: float, unit: str) -> None:
        """An end-to-end figure printed above the result, not gated."""
        self.notes.append(f"metric {name} {value:.6g} {unit}")

    def check(self, ok: bool, what: str) -> bool:
        """Record one correctness check; a failure flips ``correct``."""
        if not ok:
            self.correct = False
            self.notes.append(f"CHECK FAILED: {what}")
        return ok

    def as_json(self) -> dict:
        return {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()
            },
        }


class BenchEnv:
    def __init__(self, work: str, seed: int, traced: bool, t_start: float):
        self.work = work
        self.seed = seed
        self.traced = traced
        self.t_start = t_start
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.sampler = TreeSampler().start()
        self.tracer = Tracer(run_id=f"{seed}-{os.getpid()}", enabled=traced)
        self.spark = None
        self.session_s = 0.0
        self.setup_parts: list[float] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> None:
        """Start Spark through the program's own session factory."""
        from speech_data_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"
            ),
        }
        if self.traced:  # monitoring REST API, traced runs only
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - self.t_start

    def calibrate(self, repeats: int = 5) -> float:
        """Median time of a fixed single-threaded CPU task (pure Python)."""
        times = []
        for _ in range(repeats):
            t = time.perf_counter()
            x = 0
            for i in range(1_000_000):
                x += i * i
            times.append(time.perf_counter() - t)
        return statistics.median(times)

    def warm_workers(self) -> None:
        """Start one Python worker per core with the program imported, so
        the first measured operation does not pay for worker start-up."""

        def warm(batches):
            import speech_data_pipeline_spark.ml.stubs  # noqa: F401

            yield from batches

        t = time.perf_counter()
        n = self.cores
        self.spark.range(0, n * 8, 1, n).mapInPandas(warm, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
        self.setup_parts.append(time.perf_counter() - t)

    def timed_setup(self, fn, repeats: int = 3):
        """Run an input-generating step ``repeats`` times; keep the median
        time as its share of ``setup_s`` and return the last result."""
        times, out = [], None
        for _ in range(repeats):
            t = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t)
        self.setup_parts.append(statistics.median(times))
        return out

    def setup_s(self) -> float:
        return self.session_s + sum(self.setup_parts)

    def close(self) -> None:
        self.sampler.stop()

    # ----------------------------------------------------------- results

    def finish(self, r: Result, m: "Measured | None", layer: dict | None) -> Result:
        """Fill ``r.metrics``: the end-to-end set from ``m`` on untraced
        runs; on traced runs every per-layer name from ``layer``, 0 where
        this workload leaves the layer idle."""
        r.attempted = r.attempted or (1 if self.traced else len(m.walls))
        if not r.correct and not r.failed:
            r.failed = r.attempted  # a failed table check spoils every operation
        if self.traced:
            r.metrics = {
                name: (float(layer.get(name, 0.0)), unit)
                for name, unit in metrics.PER_LAYER.items()
            }
        else:
            r.metrics = {
                "setup_s": (self.setup_s(), "s"),
                "wall_s": (statistics.median(m.walls), "s"),
                "cpu_s": (statistics.median(m.cpus), "s"),
                "peak_rss_mb": (m.peak_rss_mb, "MB"),
            }
            r.extra("error_rate", r.failed / r.attempted, "ratio")
            r.notes.append(
                f"ops {len(m.walls)} walls {[round(w, 3) for w in m.walls]} "
                f"host calibration before/after {m.calibration[0]:.4f}/{m.calibration[1]:.4f} s"
            )
        for name, (v, _) in r.metrics.items():
            if not (isinstance(v, (int, float)) and math.isfinite(v)):
                raise ValueError(f"metric {name} is not a finite number: {v!r}")
        return r

    # ---------------------------------------------- cross-run determinism

    def remember_digests(self, workload: str, digests: dict, r: Result) -> None:
        """Compare stage digests with any earlier run of the same workload
        and seed in this checkout, then store them."""
        os.makedirs(STATE_DIR, exist_ok=True)
        path = os.path.join(STATE_DIR, f"{workload}-{self.seed}.json")
        if os.path.exists(path):
            with open(path) as fh:
                before = json.load(fh)
            for k, v in digests.items():
                if k in before:
                    r.check(before[k] == v, f"{k} digest differs from an earlier run")
        with open(path, "w") as fh:
            json.dump(digests, fh, sort_keys=True)
        for k, v in sorted(digests.items()):
            r.notes.append(f"digest {k} {v}")


class Clock:
    """Wall and process-tree CPU seconds around one operation."""

    def __init__(self, env: BenchEnv):
        self.env = env

    def __enter__(self):
        self.cpu0 = self.env.sampler.cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = self.env.sampler.cpu_s() - self.cpu0


@dataclass
class Measured:
    walls: list
    cpus: list
    after: list
    peak_rss_mb: float
    calibration: tuple


def measure(env: BenchEnv, seconds: float, op, before=None, after=None) -> Measured:
    """Closed loop, one client: ``before(i)`` (untimed), ``op(i)`` (timed),
    ``after(i)`` (timed on its own) until ``seconds`` have been spent in
    ``op`` and ``after``, at least once. Each op runs in job group
    ``op<i>``. A fixed CPU task timed before and after shows how fast the
    host was."""
    walls, cpus, afters = [], [], []
    cal0 = env.calibrate()
    env.sampler.reset_peak()
    spent = 0.0
    while not walls or spent < seconds:
        i = len(walls)
        if before is not None:
            before(i)
        env.spark.sparkContext.setJobGroup(f"op{i}", "measured operation")
        with Clock(env) as c:
            op(i)
        walls.append(c.wall)
        cpus.append(c.cpu)
        spent += c.wall
        if after is not None:
            t = time.perf_counter()
            after(i)
            afters.append(time.perf_counter() - t)
            spent += afters[-1]
    peak = env.sampler.peak_rss_mb()
    return Measured(walls, cpus, afters, peak, (cal0, env.calibrate()))


def canonical_digest(rows: list[tuple]) -> str:
    """Order-insensitive content hash; floats rounded to 6 places."""

    def norm(v):
        if isinstance(v, float):
            return round(v, 6) + 0.0
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    canon = sorted(repr(tuple(norm(v) for v in row)) for row in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]
