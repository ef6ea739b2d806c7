"""Spans recorded around the benchmark's calls into each layer, plus the
Spark-side counts (jobs, stages, tasks, bytes) attributed to them.

A span is ``{id, name, start, end, parent, run}``: epoch seconds, the id
of the enclosing span (``None`` at the top) and the id of the run it
belongs to. Spans stay in memory and are written once, when the run ends.
A disabled tracer records nothing, so an untraced step pays only a
context-manager call per boundary.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

import pyarrow.parquet as pq

from airbnb_cdc_spark.operators.merge import ParquetMergeTable


class Tracer:
    def __init__(self, enabled: bool, run: str) -> None:
        self.enabled = enabled
        self.run = run
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span; ``attrs`` (such as the query a span runs) are
        stored with it."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "run": self.run, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def current(self) -> str | None:
        """Name of the innermost open span."""
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the time its direct children
    cover (children of one span never overlap: calls are sequential)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
    return out


def durations(spans: list[dict], name: str, within: set[int] | None = None) -> list[float]:
    return [
        s["end"] - s["start"] for s in spans
        if s["name"] == name and (within is None or s["id"] in within)
    ]


def descendants(spans: list[dict], roots: list[int]) -> set[int]:
    """Ids of ``roots`` and every span nested under them."""
    keep = set(roots)
    for s in spans:  # parents are always recorded before their children
        if s["parent"] in keep:
            keep.add(s["id"])
    return keep


class TracedMergeTable(ParquetMergeTable):
    """``ParquetMergeTable`` that records a span around ``merge`` and
    ``overwrite`` and, per call, the buckets and bytes it wrote and the
    rows in the files it wrote (from the parquet footers). While its
    tracer is disabled it only calls through."""

    def __init__(self, *args, tracer: Tracer, label: str, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.label = label
        self.calls: list[dict] = []

    def _written(self) -> dict[str, tuple[int, int, int]]:
        """bucket dir -> (rows, bytes, mtime) of the table's files on disk;
        a merge swaps in whole bucket dirs, so a changed tuple is a
        rewritten bucket."""
        out = {}
        if not os.path.isdir(self.path):
            return out
        for d in os.listdir(self.path):
            if not d.startswith("_bucket="):
                continue
            rows = size = 0
            for f in os.listdir(os.path.join(self.path, d)):
                if f.endswith(".parquet"):
                    p = os.path.join(self.path, d, f)
                    rows += pq.ParquetFile(p).metadata.num_rows
                    size += os.path.getsize(p)
            out[d] = (rows, size, os.stat(os.path.join(self.path, d)).st_mtime_ns)
        return out

    def _record(self, call) -> None:
        if not self.tracer.enabled:
            call()
            return
        before = self._written()
        with self.tracer.span(f"merge.{self.label}") as rec:
            call()
        after = self._written()
        changed = [d for d, v in after.items() if before.get(d) != v]
        self.calls.append({
            "span": rec["id"],
            "buckets": len(changed),
            "rows_written": sum(after[d][0] for d in changed),
            "bytes_written": sum(after[d][1] for d in changed),
        })

    def merge(self, updates, allow_schema_evolution: bool = False) -> None:
        self._record(lambda: super(TracedMergeTable, self).merge(updates, allow_schema_evolution))

    def overwrite(self, df) -> None:
        # merge() into an empty table delegates to overwrite(): count it once
        if self.tracer.current() == f"merge.{self.label}":
            super().overwrite(df)
        else:
            self._record(lambda: super(TracedMergeTable, self).overwrite(df))


def _epoch(ts: str) -> float:
    # REST times look like 2026-10-17T04:10:11.123GMT
    return datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def fetch_spark_activity(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every job and stage of this application from the UI's REST API
    (the status tracker has no byte counts)."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    jobs = [
        {
            "id": j["jobId"], "group": j.get("jobGroup"),
            "submitted": _epoch(j["submissionTime"]), "stages": j["stageIds"],
            "tasks": j.get("numTasks", 0),
        }
        for j in get("/jobs")
        if "submissionTime" in j
    ]
    stages = {}
    for s in get("/stages"):
        agg = stages.setdefault(s["stageId"], {"input": 0, "shuffle": 0, "tasks": 0})
        agg["input"] += s.get("inputBytes", 0)
        agg["shuffle"] += s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
        agg["tasks"] += s.get("numTasks", 0)
    return jobs, stages


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """Span id -> jobs submitted while it was the innermost open span."""
    out: dict[int, list[dict]] = {}
    for j in jobs:
        best = None
        for s in spans:
            if s["start"] <= j["submitted"] <= s["end"] and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        if best is not None:
            out.setdefault(best["id"], []).append(j)
    return out
