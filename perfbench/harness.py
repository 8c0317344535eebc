"""Spark session lifecycle and measurement read from outside the library.

``Meter`` reads Spark's own bookkeeping: job ids per job group from the
status tracker, per-stage task time, shuffle, spill and input bytes from
the application status store, and block-manager storage from the RDD
storage info. ``Tracer`` records spans around calls into the library's
public functions, each span under its own job group, and keeps them in
memory until the run ends. ``Untraced`` stands in for it when tracing
is off.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

MB = 1_000_000.0


def start_spark(work: str, nproc: int):
    """A session built by the library's own ``get_spark`` on
    ``local[nproc]``. Only file locations are redirected into ``work``,
    and the console progress bar is turned off."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    from db_loganalyzer_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


@dataclass
class StageTotals:
    jobs: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    peak_exec_mb: float = 0.0  # the largest stage's peak execution memory

    def add(self, o: "StageTotals") -> None:
        self.jobs += o.jobs
        self.task_s += o.task_s
        self.cpu_s += o.cpu_s
        self.shuffle_mb += o.shuffle_mb
        self.spill_mb += o.spill_mb
        self.input_mb += o.input_mb
        self.peak_exec_mb = max(self.peak_exec_mb, o.peak_exec_mb)


class Meter:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        self.store = self.jsc.statusStore()

    def drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.jsc.listenerBus().waitUntilEmpty(60_000)

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def totals(self, group: str) -> StageTotals:
        """Jobs of ``group`` and the summed metrics of their stages (a
        stage shared by several jobs counts once). Call after ``drain``."""
        out = StageTotals()
        seen = set()
        for job in self.tracker.getJobIdsForGroup(group):
            out.jobs += 1
            info = self.tracker.getJobInfo(job)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage evicted or never run
                    continue
                out.task_s += sd.executorRunTime() / 1000.0
                out.cpu_s += sd.executorCpuTime() / 1e9
                out.shuffle_mb += sd.shuffleWriteBytes() / MB
                out.spill_mb += sd.diskBytesSpilled() / MB
                out.input_mb += sd.inputBytes() / MB
                out.peak_exec_mb = max(out.peak_exec_mb, sd.peakExecutionMemory() / MB)
        return out

    def cached_mb(self) -> float:
        return sum(r.memSize() + r.diskSize() for r in self.jsc.getRDDStorageInfo()) / MB

    def release(self) -> None:
        """Unpersist every RDD still held, so the next pass starts with
        empty storage."""
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)


@dataclass
class Span:
    name: str
    parent: int | None
    group: str
    wall_s: float = 0.0
    rows_out: int = 0
    plan_ms: float = 0.0
    attrs: dict = field(default_factory=dict)
    stats: StageTotals = field(default_factory=StageTotals)


class Untraced:
    """The untraced stand-in for ``Tracer``: spans cost nothing."""

    cached_peak = 0.0
    own_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        yield Span(name, None, "")

    @staticmethod
    def plan_ms(df) -> float:
        return 0.0


class Tracer:
    """Spans at layer boundaries. Each span runs its jobs under its own
    job group, so a span's jobs exclude its children's; the enclosing
    group is restored on exit. Storage held is sampled at every
    boundary. ``own_s`` is the time the tracer itself spends in the
    pass: job-group switches, storage samples and plan readings."""

    def __init__(self, meter: Meter, prefix: str):
        self.meter = meter
        self.prefix = prefix
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.cached_peak = 0.0
        self.own_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        sp = Span(name, self.stack[-1] if self.stack else None, f"{self.prefix}-{sid}")
        self.spans.append(sp)
        self.stack.append(sid)
        t0 = time.perf_counter()
        self.meter.set_group(sp.group)
        t1 = time.perf_counter()
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            self.stack.pop()
            self.meter.set_group(self.spans[self.stack[-1]].group if self.stack else self.prefix)
            self.cached_peak = max(self.cached_peak, self.meter.cached_mb())
            t3 = time.perf_counter()
            sp.wall_s = t3 - t0
            self.own_s += (t1 - t0) + (t3 - t2)

    def wrap(self, module, attr: str, name: str):
        """Swap ``module.attr`` for a spanned wrapper; returns an undo."""
        orig = getattr(module, attr)

        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(module, attr, wrapped)
        return lambda: setattr(module, attr, orig)

    def plan_ms(self, df) -> float:
        """Catalyst analysis, optimization and planning time of an
        executed DataFrame, from its query's planning tracker."""
        t0 = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        ms = float(sum(phases.apply(p).durationMs()
                       for p in ("analysis", "optimization", "planning")
                       if phases.contains(p)))
        self.own_s += time.perf_counter() - t0
        return ms

    def collect(self) -> None:
        """Read every span's own jobs and stage metrics from the store."""
        self.meter.drain()
        for sp in self.spans:
            sp.stats = self.meter.totals(sp.group)

    def self_s(self, sid: int) -> float:
        kids = sum(s.wall_s for s in self.spans if s.parent == sid)
        return self.spans[sid].wall_s - kids

    def subtree(self, sid: int) -> StageTotals:
        out = StageTotals()
        out.add(self.spans[sid].stats)
        for k, s in enumerate(self.spans):
            if s.parent == sid:
                out.add(self.subtree(k))
        return out
