#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (a few thousand pages, a
small backlog, the focus queries over sf0.01).

    python3 perfbench/selftest.py

Checks that
1. every metric BENCHMARK.json names is printed, with its unit, by a
   run of each workload (``end_to_end`` untraced, ``per_layer`` traced);
2. a tampered result row makes the correctness gate fail, for a crawl
   checkpoint and for a query result;
3. the per-layer counts repeat exactly across two traced runs of one
   seed.

Exits nonzero on the first failed check.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402
from workloads import TINY, Crawl, QuerySuite, reset_dir  # noqa: E402

SEED = 7
REPEATED_COUNTS = (
    "crawl.rounds.jobs_per_round",
    "crawl.rounds.fetch_missed",
    "crawl.frontier.fresh",
    "crawl.politeness.scheduled",
    "functions.udfs.extract_pages.rows",
)


def expect(ok: bool, what: str) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        raise SystemExit(1)


def run_quiet(workload: str, trace: bool) -> tuple[str, dict]:
    """One in-process benchmark run: (stdout, result JSON)."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        run.report(workload, SEED, trace, *run.run(workload, SEED, 1, trace, TINY))
    text = out.getvalue()
    return text, json.loads(text.strip().splitlines()[-1])


def check_printed(spec: dict, workload: str, trace: bool) -> dict:
    text, result = run_quiet(workload, trace)
    expect(result["correct"] and result["failed"] == 0, f"{workload} trace={int(trace)} is correct")
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    wrong_unit = [
        m["name"] for m in wanted if m["name"] in got and got[m["name"]]["unit"] != m["unit"]
    ]
    unprinted = [
        m["name"] for m in wanted
        if not any(line.split()[:1] == [m["name"]] and line.split()[-1] == m["unit"]
                   for line in text.splitlines())
    ]
    what = f"{workload} trace={int(trace)}"
    expect(not missing, f"{what} reports every metric {missing or ''}")
    expect(not wrong_unit, f"{what} units match {wrong_unit or ''}")
    expect(not unprinted, f"{what} prints each metric with its unit {unprinted or ''}")
    expect(set(got) == {m["name"] for m in wanted}, f"{what} reports nothing else")
    return {k: v["value"] for k, v in got.items()}


def check_tampered_crawl(work: str) -> None:
    from pyspark.sql import functions as F

    spark = run.start_spark(work)
    try:
        wl = Crawl("crawl_extract", spark, SEED, TINY)
        wl.materialise()
        ck = reset_dir(os.path.join(work, "ckpt"))
        unit = wl.run_unit(ck)
        checks = wl.check(ck, len(unit.ops))
        expect(not unit.failed and not any(checks.values()), "untampered crawl passes the gate")
        url = wl.sample_results(ck, len(unit.ops))[0]["url"]
        for r in range(len(unit.ops)):
            path = os.path.join(ck, f"round={r}", "results")
            df = spark.read.parquet(path)
            df.withColumn(
                "markdown",
                F.when(F.col("url") == url, F.concat("markdown", F.lit(" ")))
                .otherwise(F.col("markdown")),
            ).write.parquet(path + ".tampered")
            shutil.rmtree(path)
            os.rename(path + ".tampered", path)
        checks = wl.check(ck, len(unit.ops))
        expect(bool(checks["result_rows"]), f"tampered result row {url} fails the crawl gate")
        wl.release()
    finally:
        spark.stop()


def check_tampered_query(work: str) -> None:
    spark = run.start_spark(work)
    try:
        suite = QuerySuite(spark, SEED, TINY, run.DATA_DIR)
        suite.order = ["q01_run_stats"]
        _, results = suite.run_unit()
        checks, _ = suite.check(results, ROOT)
        expect(not any(checks.values()), "untampered query passes the gate")
        rows = results["q01_run_stats"][1]
        tampered = tuple(v + 1 if type(v) is int else v for v in rows[0])
        expect(tampered != rows[0], "q01_run_stats has an integer column to tamper with")
        rows[0] = tampered
        checks, _ = suite.check(results, ROOT)
        expect(bool(checks["q01_run_stats"]), "tampered query row fails the oracle gate")
    finally:
        spark.stop()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    try:
        check_tampered_crawl(reset_dir(work))
        check_tampered_query(reset_dir(work))
        for workload in run.WORKLOADS:
            check_printed(spec, workload, False)
        first = {}
        for workload in run.WORKLOADS:
            first[workload] = check_printed(spec, workload, True)
        for workload in ("crawl_backlog", "crawl_extract"):
            again = check_printed(spec, workload, True)
            diff = {k: (first[workload][k], again[k]) for k in REPEATED_COUNTS
                    if first[workload][k] != again[k]}
            expect(not diff, f"{workload} per-layer counts repeat for one seed {diff or ''}")
            expect(all(again[k] > 0 for k in REPEATED_COUNTS
                       if k != "crawl.rounds.fetch_missed" or workload == "crawl_extract"),
                   f"{workload} per-layer counts are measured (non-zero)")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
        run.stop_jvm()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
