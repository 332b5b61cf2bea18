"""Spark event-log reader: per-job-group work counts and call-site attribution.

The traced run puts one Spark job group around every call into the engine.
This module reads the event log Spark writes for that run and folds it, per
job group, into the counts the benchmark reports: jobs, stages, tasks,
executor run/CPU/GC time, shuffle and spill bytes, and the Python-worker
accumulables of the JVM<->Python Arrow boundary.

Every job is also labelled with the module that submitted it. PySpark names
each stage after its call site (``collect at .../jvector_spark/index/
storage.py:208``), so a job whose stages were submitted from
``jvector_spark/index/storage.py`` belongs to ``index.storage``, and one
submitted from the benchmark's own files belongs to ``bench``.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

# stage accumulables of the Arrow boundary, by the name Spark gives them
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN_MS = "time to run Python workers"
PY_ACCUMS = (PY_SENT, PY_RETURNED, PY_RUN_MS)

_CALL_SITE = re.compile(r" at (\S+?\.py):\d+")


def call_site_module(stage_name: str) -> str:
    """Module that submitted a stage, from the stage's call-site name:
    ``index.storage`` for ``.../jvector_spark/index/storage.py:208``,
    ``bench`` for the benchmark's own files. Spark records no Python call
    site for two kinds of job: a parquet file listing, schema read or write
    (``parquet at <unknown>:0``) is ``parquet``, and a job submitted from a
    background thread (``... at CompletableFuture.java``) is ``async``.
    Anything else is ``other``."""
    name = stage_name or ""
    m = _CALL_SITE.search(name)
    if not m:
        if name.startswith("parquet at "):
            return "parquet"
        if "CompletableFuture" in name:
            return "async"
        return "other"
    path = m.group(1).replace(os.sep, "/")
    if "/jvector_spark/" in path or path.startswith("jvector_spark/"):
        rel = path.split("jvector_spark/", 1)[1]
        return rel[: -len(".py")].replace("/", ".")
    if "/perfbench/" in path or path.startswith("perfbench/"):
        return "bench"
    return "other"


def read_events(path: str) -> list[dict]:
    """Events of one event-log file; ``.zstd``/``.lz4`` files are
    decompressed with pyarrow, plain files read as JSON lines."""
    codec = {".zstd": "zstd", ".lz4": "lz4", ".gz": "gzip"}.get(
        os.path.splitext(path)[1]
    )
    if codec:
        import pyarrow as pa

        with pa.input_stream(path, compression=codec) as f:
            text = f.read().decode("utf-8")
    else:
        with open(path, encoding="utf-8") as f:
            text = f.read()
    return [json.loads(line) for line in text.splitlines() if line.strip()]


def find_event_log(log_dir: str, app_id: str) -> list[str]:
    """Event-log files of ``app_id`` under ``log_dir`` (rolling v2 layout:
    ``eventlog_v2_<app>/events_<n>_<app>[.codec]``, or a single file)."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        full = os.path.join(log_dir, name)
        if app_id not in name:
            continue
        if os.path.isdir(full):
            parts = [p for p in os.listdir(full) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out.extend(os.path.join(full, p) for p in parts)
        else:
            out.append(full)
    return out


@dataclass
class Job:
    job_id: int
    group: str | None
    module: str
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class GroupStats:
    """Work done by the Spark jobs of one job group."""

    jobs: list[Job] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    python: dict = field(default_factory=lambda: {k: 0 for k in PY_ACCUMS})

    def totals(self) -> dict:
        """Plain-dict view for the run's detail file."""
        mods: dict[str, int] = {}
        for j in self.jobs:
            mods[j.module] = mods.get(j.module, 0) + 1
        return {
            "jobs": len(self.jobs), "jobs_by_module": mods,
            "stages": self.stages, "tasks": self.tasks, "run_ms": self.run_ms,
            "cpu_ms": self.cpu_ns / 1e6, "gc_ms": self.gc_ms,
            "shuffle_write_bytes": self.shuffle_write_bytes,
            "shuffle_read_bytes": self.shuffle_read_bytes,
            "fetch_wait_ms": self.fetch_wait_ms, "spill_bytes": self.spill_bytes,
            **self.python,
        }


def summarize(events: list[dict]) -> dict[str, GroupStats]:
    """Fold an event stream into ``{job group: GroupStats}``. Jobs without
    a group are dropped: only calls the benchmark instrumented count."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    jobs: dict[int, Job] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            infos = e.get("Stage Infos") or []
            # the result stage (highest id) carries the action's call site
            last = max(infos, key=lambda s: s["Stage ID"]) if infos else {}
            job = Job(
                job_id=e["Job ID"], group=group,
                module=call_site_module(last.get("Stage Name", "")),
                submit_ms=int(e.get("Submission Time") or 0),
                stage_ids=list(e.get("Stage IDs") or []),
            )
            jobs[job.job_id] = job
            if group is None:
                continue
            groups.setdefault(group, GroupStats()).jobs.append(job)
            for sid in job.stage_ids:
                stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = int(e.get("Completion Time") or 0)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is None:
                continue
            st = groups[g]
            st.stages += 1
            for acc in info.get("Accumulables") or []:
                name = acc.get("Name")
                if name in st.python:
                    try:
                        st.python[name] += int(acc.get("Value") or 0)
                    except ValueError:
                        pass
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e.get("Stage ID"))
            m = e.get("Task Metrics")
            if g is None or not m:
                continue
            st = groups[g]
            st.tasks += 1
            st.run_ms += int(m.get("Executor Run Time", 0))
            st.cpu_ns += int(m.get("Executor CPU Time", 0))
            st.gc_ms += int(m.get("JVM GC Time", 0))
            st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
                m.get("Disk Bytes Spilled", 0)
            )
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(
                sr.get("Local Bytes Read", 0)
            )
            st.fetch_wait_ms += int(sr.get("Fetch Wait Time", 0))
    return groups


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of ``[start, end)`` intervals (ms)."""
    total, cur_s, cur_e = 0, None, None
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


def self_times_ms(span_start_ms: int, span_end_ms: int, jobs: list[Job]) -> dict[str, int]:
    """Self time of a call span and of its child layers.

    The call's children are its Spark jobs, grouped by submitting module;
    a module's time is the union of its jobs' intervals (concurrent jobs
    from background threads count once). ``driver`` is the call's own
    time: its duration minus the part of it any job covers."""
    by_mod: dict[str, list[tuple[int, int]]] = {}
    every: list[tuple[int, int]] = []
    for j in jobs:
        if j.end_ms is None:
            continue
        iv = (max(j.submit_ms, span_start_ms), min(j.end_ms, span_end_ms))
        if iv[1] <= iv[0]:
            continue
        by_mod.setdefault(j.module, []).append(iv)
        every.append(iv)
    out = {m: union_ms(ivs) for m, ivs in by_mod.items()}
    out["driver"] = max(0, (span_end_ms - span_start_ms) - union_ms(every))
    return out
