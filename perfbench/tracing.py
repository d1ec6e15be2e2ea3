"""Spans, Spark event-log folding and single-threaded html timing.

Spans are kept in memory (name, start, end, parent) and written out
when the benchmark ends. Every span sets a Spark job group so jobs
submitted from the calling thread are attributed by group; jobs from
threads that do not carry the group (the crawl round's write pool)
are attributed to the innermost span whose time window holds their
submission time. The benchmark is a closed loop with one client, so
no two spans overlap unless one is nested in the other.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def span(tracer: Tracer | None, name: str):
    """A span when tracing, otherwise nothing at all."""
    return nullcontext() if tracer is None else tracer.span(name)


ZERO = {
    "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
    "gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
}


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under log_dir.
    Spark 4 writes a rolling v2 log: a directory of events_<n>_<app>
    files, read here in index order."""
    files = glob.glob(os.path.join(log_dir, "*", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold_events(events: list[dict], spans: list[dict]) -> dict[str, dict]:
    """Per-span self totals (jobs, stages, task run/CPU/GC time,
    shuffle-write and spill bytes) from SparkListener events."""
    by_id = {s["id"]: s for s in spans}
    ordered = sorted(spans, key=lambda s: s["start"])

    def by_window(ms: int) -> str | None:
        hit = None
        for s in ordered:
            if s["start"] * 1000 <= ms <= s["end"] * 1000:
                hit = s["id"]  # later start = more deeply nested
        return hit

    stage_span: dict[int, str] = {}
    totals = {s["id"]: dict(ZERO) for s in spans}
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        ms = e["Submission Time"]
        group = (e.get("Properties") or {}).get("spark.jobGroup.id")
        s = by_id.get(group)
        if s is None or not (s["start"] * 1000 - 1 <= ms <= s["end"] * 1000 + 1):
            sid = by_window(ms)
        else:
            sid = group
        if sid is None:
            continue
        totals[sid]["jobs"] += 1
        for stage in e["Stage IDs"]:
            stage_span.setdefault(stage, sid)
    counted_stages: set[int] = set()
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        sid = stage_span.get(e["Stage ID"])
        tm = e.get("Task Metrics")
        if sid is None or tm is None:
            continue
        t = totals[sid]
        if e["Stage ID"] not in counted_stages:
            counted_stages.add(e["Stage ID"])
            t["stages"] += 1
        t["tasks"] += 1
        t["run_ms"] += tm["Executor Run Time"]
        t["cpu_ns"] += tm["Executor CPU Time"]
        t["gc_ms"] += tm["JVM GC Time"]
        t["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        t["spill_bytes"] += tm["Disk Bytes Spilled"]
    return totals


def subtree(totals: dict, spans: list[dict], root_id: str) -> dict:
    """Totals of a span plus every span nested under it."""
    children: dict[str | None, list[str]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out, todo = dict(ZERO), [root_id]
    while todo:
        sid = todo.pop()
        for k, v in totals[sid].items():
            out[k] += v
        todo.extend(children.get(sid, ()))
    return out


def time_html_layer(seed: int, n_pages: int, reps: int = 3) -> dict[str, float]:
    """Microseconds per page for each stage of the html core, timed
    in this process on one thread over gen_page_html pages: median of
    ``reps`` passes. clean_dom and html_to_markdown are timed on
    their real inputs (a fresh parse, the serialized clean html)."""
    from web_scraper_spark.functions.udfs import extract_page_record
    from web_scraper_spark.html.clean import clean_dom
    from web_scraper_spark.html.dom import parse_html
    from web_scraper_spark.html.markdown import html_to_markdown
    from web_scraper_spark.sources.pages import gen_page_html, url_for

    pages = [(gen_page_html(r, seed, n_pages), url_for(r)) for r in range(n_pages)]
    cleaned = []
    for html, _ in pages:
        doc = parse_html(html)
        clean_dom(doc)
        cleaned.append(doc.to_html())
    samples: dict[str, list[float]] = {k: [] for k in (
        "parse_html", "clean_dom", "html_to_markdown", "extract_page_record")}
    for _ in range(reps):
        t = time.perf_counter()
        for html, _ in pages:
            parse_html(html)
        samples["parse_html"].append(time.perf_counter() - t)
        docs = [parse_html(html) for html, _ in pages]
        t = time.perf_counter()
        for doc in docs:
            clean_dom(doc)
        samples["clean_dom"].append(time.perf_counter() - t)
        t = time.perf_counter()
        for c in cleaned:
            html_to_markdown(c)
        samples["html_to_markdown"].append(time.perf_counter() - t)
        t = time.perf_counter()
        for html, url in pages:
            extract_page_record(html, url)
        samples["extract_page_record"].append(time.perf_counter() - t)
    return {k: statistics.median(v) / n_pages * 1e6 for k, v in samples.items()}


def jvm_peak_rss_mb(sc) -> float:
    """Peak resident set of the Spark JVM (VmHWM), in MiB."""
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
