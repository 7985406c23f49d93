"""Shared pieces of the benchmark: the Spark session, timing helpers,
oracle comparison and the outside-in tracer.

The tracer records spans around calls into the program's public layer
functions without editing the program: it swaps a module attribute (or
a class method) for a wrapper while a traced run is active and puts the
original back afterwards.  The layer functions return lazy DataFrames,
so a span around the call measures only plan construction.  For
execution time the tracer either relies on the eager ``PinSet.pin``
spans, or it materializes the call's DataFrame inputs when the call
happens and, once the wave is over, replays the call on those
materialized inputs with a forcing action (``replay_pending``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import uuid
from contextlib import contextmanager

def log(msg: str) -> None:
    """Progress line on stderr; stdout carries only the result."""
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs))


def build_spark(work_dir: str, cpus: int):
    """local[N] session with N <= nproc, a driver heap that leaves room
    for the Python workers, and shuffle partitions sized to N."""
    from pyspark.sql import SparkSession

    from gocrawler_spark.plans.bucketed import apply_confs

    spark = apply_confs(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", "6g")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Dderby.system.home={os.path.join(work_dir, 'derby')}"
                f" -Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM PySpark launched, and wait for it
    (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)


def canon_rows(cols, rows) -> list[tuple]:
    """Order-insensitive, type-sensitive canonical form of a result
    (the same canonicalization as the repository's oracle gate)."""
    from gocrawler_spark.queries.compare import canon

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def force(df) -> None:
    """Compute every column of every row and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Spans and counts recorded from outside the program.

    With ``enabled`` False every method is a cheap no-op, so workload
    code calls it unconditionally."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._pending: list[tuple[str, object, tuple, dict, set]] = []
        self._replaying = False
        self.exec_s: dict[str, float] = {}  # layer -> replayed execution time
        self.counts: dict[str, float] = {}  # layer -> measure of replay output
        self.overhead_s = 0.0  # time spent in tracer-added work

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str, since: int = 0) -> float:
        return sum(
            s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name
        )

    def calls(self, name: str, since: int = 0) -> int:
        return sum(1 for s in self.spans[since:] if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its direct children cover,
        summed per span name."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child.get(i, 0.0)
            )
        return out

    # -- patching ----------------------------------------------------
    def wrap(self, owner, attr: str, name: str, replay: bool = False) -> None:
        """Record a span around every call of ``owner.attr``; with
        ``replay`` also queue the call for a timed replay."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kw):
            if tracer._replaying:  # nested call inside a replay
                return orig(*args, **kw)
            if replay:
                tracer._queue(name, orig, args, kw)
            with tracer.span(name):
                return orig(*args, **kw)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []

    # -- replay ------------------------------------------------------
    def _materialize(self, df, ids: set):
        from gocrawler_spark.pins import _persistent_ids

        before = _persistent_ids(self.spark)
        out = df.localCheckpoint(eager=True)
        ids |= _persistent_ids(self.spark) - before
        return out

    def _queue(self, name, fn, args, kw) -> None:
        from pyspark.sql import DataFrame

        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        # tracer jobs stay out of the job group the workload counts
        sc.setLocalProperty("spark.jobGroup.id", "perfbench-trace")
        ids: set = set()
        m_args = tuple(
            self._materialize(a, ids) if isinstance(a, DataFrame) else a
            for a in args
        )
        m_kw = {
            k: self._materialize(v, ids) if isinstance(v, DataFrame) else v
            for k, v in kw.items()
        }
        if "pin" in m_kw:  # replay pins must not join the engine's PinSet
            m_kw["pin"] = lambda d: self._materialize(d, ids)
        sc.setLocalProperty("spark.jobGroup.id", group)
        self._pending.append((name, fn, m_args, m_kw, ids))
        self.overhead_s += time.perf_counter() - t0

    def replay_pending(self, measure=None) -> None:
        """Replay every queued call on its materialized inputs with a
        forcing action and add the time to ``exec_s``.  ``measure``
        maps a span name to a function of the replayed output whose
        value is added to ``counts`` (untimed).  Frees the
        materialized inputs."""
        from gocrawler_spark.pins import _unpersist_ids

        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", "perfbench-trace")
        measure = measure or {}
        self._replaying = True
        try:
            for name, fn, args, kw, ids in self._pending:
                t0 = time.perf_counter()
                out = fn(*args, **kw)
                force(out)
                dt = time.perf_counter() - t0
                self.exec_s[name] = self.exec_s.get(name, 0.0) + dt
                if name in measure:
                    self.counts[name] = self.counts.get(name, 0) + measure[name](out)
                _unpersist_ids(self.spark, ids)
                self.overhead_s += time.perf_counter() - t0
        finally:
            self._replaying = False
            self._pending = []
            sc.setLocalProperty("spark.jobGroup.id", group)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"run_id": self.run_id, "spans": self.spans,
                 "self_s": self.self_times()},
                f,
            )
