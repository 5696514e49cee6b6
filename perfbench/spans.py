"""Span tracer for the traced benchmark run.

Every layer is measured from outside: ``install`` replaces public
functions of the program's modules with wrappers that record a span
(name, start, end, parent span, attributes) and tag the calling thread's
Spark jobs with a job group named after the span.  After each wave,
``WaveReader`` reads the wave's jobs and stages from Spark's status store
and attributes jobs, stages, tasks, executor run/CPU time and shuffle
bytes to the span whose job group ran them.  Spans stay in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from pathlib import Path

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # spans opened on the main thread; a span opened on a pool thread
        # with nothing open on that thread takes the innermost one as parent
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, attrs: dict, tag_jobs: bool):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent, "attrs": attrs}
        sc = _active_sc() if tag_jobs else None
        prev_group = None
        if sc is not None:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name, attrs=None, tag_jobs: bool = True):
        """Replace ``owner.attr`` with a traced wrapper.  ``name`` is the
        span name or a function of the call's arguments returning it;
        ``attrs`` maps the call's arguments to the span's attributes."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            span_attrs = attrs(*args, **kwargs) if attrs else {}
            with self.span(span_name, span_attrs, tag_jobs):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark names."""
    from pyspark.sql import SparkSession

    from rendler_spark import engine, session
    from rendler_spark.operators import seenfilter
    from rendler_spark.sources.tables import Warehouse

    tracer.wrap(SparkSession.Builder, "getOrCreate", "session.getOrCreate", tag_jobs=False)
    tracer.wrap(session, "get_spark", "session.get_spark", tag_jobs=False)
    tracer.wrap(engine.CrawlEngine, "init", "engine.init")
    tracer.wrap(
        engine.CrawlEngine, "run_wave", "engine.run_wave",
        attrs=lambda self, w: {"wave": w},
    )
    tracer.wrap(engine.CrawlEngine, "resume", "engine.resume")

    def table_attrs(self, table, wave, *args, **kwargs):
        return {"table": table, "wave": wave, "dir": str(self.part_dir(table, wave))}

    tracer.wrap(
        Warehouse, "overwrite_partition",
        lambda self, table, *a, **k: f"tables.write.{table}", attrs=table_attrs,
    )
    tracer.wrap(
        Warehouse, "overwrite_partition_local",
        lambda self, table, *a, **k: f"tables.write.{table}", attrs=table_attrs,
        tag_jobs=False,
    )
    tracer.wrap(Warehouse, "commit", "tables.commit", tag_jobs=False)
    tracer.wrap(seenfilter, "build_blob", "bloom.build_blob", tag_jobs=False)
    tracer.wrap(seenfilter, "merge_blobs", "bloom.merge_blobs", tag_jobs=False)


def _opt(o):
    return o.get() if o.isDefined() else None


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def gaps(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of [lo, hi] that no interval covers."""
    out, cur = [], lo
    for s, e in sorted(clip(intervals, lo, hi)):
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if cur < hi:
        out.append((cur, hi))
    return out


class WaveReader:
    """Reads the jobs a wave ran from Spark's status store, after the wave."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.next_job = 0

    def jobs_since_last(self) -> list[dict]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = []
        while True:
            try:
                jd = store.job(self.next_job)
            except Exception as e:  # py4j error: no such job id yet
                if "NoSuchElementException" not in str(e):
                    raise
                return jobs
            self.next_job += 1
            stages = []
            sids = jd.stageIds()
            for i in range(sids.size()):
                sd = store.lastStageAttempt(sids.apply(i))
                if sd.status().toString() == "SKIPPED":
                    continue
                stages.append({
                    "id": sd.stageId(),
                    "tasks": sd.numTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                })
            done = _opt(jd.completionTime())
            jobs.append({
                "id": jd.jobId(),
                "group": _opt(jd.jobGroup()),
                "start": _opt(jd.submissionTime()).getTime() / 1e3,
                "end": done.getTime() / 1e3 if done is not None else time.time(),
                "stages": stages,
            })


def dir_census(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under a written partition dir."""
    files = [p for p in Path(path).rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def wave_profile(wave_span: dict, spans: list[dict], jobs: list[dict], n_cores: int) -> dict:
    """Per-wave accounting: jobs/stages/tasks/CPU per span, driver idle
    time and the share of wave wall time that spans and idle time cover."""
    lo, hi = wave_span["start"], wave_span["end"]
    wall = hi - lo
    inner = [s for s in spans if s["id"] != wave_span["id"] and s["start"] >= lo and s["end"] <= hi]
    by_group = {f"{GROUP_PREFIX}{s['id']}": s for s in inner}

    def zero():
        return {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0}

    per_span = {s["id"]: zero() for s in inner}
    wave_acc = zero()
    for j in jobs:
        owner = by_group.get(j["group"])
        acc = per_span[owner["id"]] if owner else wave_acc
        for tgt in (acc, wave_acc) if owner else (acc,):
            tgt["jobs"] += 1
            for st in j["stages"]:
                tgt["stages"] += 1
                tgt["tasks"] += st["tasks"]
                tgt["run_s"] += st["run_s"]
                tgt["cpu_s"] += st["cpu_s"]
                tgt["shuffle_write_bytes"] += st["shuffle_write_bytes"]
    job_iv = clip([(j["start"], j["end"]) for j in jobs], lo, hi)
    idle_iv = gaps(job_iv, lo, hi)
    covered = union_length(clip([(s["start"], s["end"]) for s in inner], lo, hi) + idle_iv)
    tables: dict[str, dict] = {}
    for s in inner:
        if not s["name"].startswith("tables.write."):
            continue
        t = tables.setdefault(s["attrs"]["table"], {"s": 0.0, "files": 0, "bytes": 0, **zero()})
        t["s"] += s["end"] - s["start"]
        files, nbytes = dir_census(s["attrs"]["dir"])
        t["files"] += files
        t["bytes"] += nbytes
        for k, v in per_span[s["id"]].items():
            t[k] += v
    return {
        "wave": wave_span["attrs"]["wave"],
        "wall_s": wall,
        **wave_acc,
        "driver_idle_s": union_length(idle_iv),
        "exec_cpu_util": wave_acc["cpu_s"] / (wall * n_cores),
        "span_coverage": covered / wall,
        "bloom_s": sum(s["end"] - s["start"] for s in inner if s["name"].startswith("bloom.")),
        "commit_s": sum(s["end"] - s["start"] for s in inner if s["name"] == "tables.commit"),
        "tables": tables,
    }
