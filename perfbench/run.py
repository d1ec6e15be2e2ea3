#!/usr/bin/env python3
"""Layered benchmark of the crawl and analytics engine.

    python3 perfbench/run.py --workload crawl_backlog --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: crawl_backlog,
crawl_extract, query_suite (see workloads.py for what each
stresses). ``--seed`` makes the inputs: it is the ``pages_df`` seed of
the crawls and fixes the query order of query_suite, whose data is
the fixed testdata under perfbench/data. ``--seconds`` is the timed
window: whole units (one crawl, one suite pass) run until it has
passed, at least one.

``--trace 0`` prints the end-to-end metrics (BENCHMARK.json
``end_to_end``) measured with tracing off. ``--trace 1`` times an
untraced reference (one crawl; the suite's focus queries), then starts
a second SparkContext with the event log on, runs one traced unit
(and, for the crawls, a phase-by-phase replay of one round) and prints
the per-layer metrics. Spans and the
folded event log go to .perfbench_out/<workload>-seed<seed>-trace.json.

Every output is checked (crawl invariants and re-extraction of
sampled result rows; each query against its DuckDB oracle). The last
stdout line is one JSON object; the exit code is 0 only if nothing
failed. All scratch state lives under .perfbench_work/ in the
checkout and is removed at exit.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("crawl_backlog", "crawl_extract", "query_suite")
PROGRAM_FILES = (
    "web_scraper_spark/session.py",
    "web_scraper_spark/crawl/rounds.py",
    "web_scraper_spark/plans/queries.py",
    "tools/check_correctness.py",
)


@dataclass
class Tally:
    """Operations attempted and failed: rounds, queries, checks."""

    attempted: int = 0
    failed: int = 0
    messages: list[str] = field(default_factory=list)

    def add_unit(self, unit) -> None:
        self.attempted += unit.attempted
        self.failed += unit.failed

    def add_checks(self, checks: dict[str, list[str]]) -> None:
        self.attempted += len(checks)
        for msgs in checks.values():
            self.failed += bool(msgs)
            self.messages += msgs


def start_spark(work: str, event_log_dir: str | None = None):
    """local[4] session from the program's own factory, with every
    scratch path inside the work dir."""
    from web_scraper_spark.session import get_spark

    from workloads import CORES

    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            # the default codec is zstd, which this Python cannot read
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it has exited (it exits
    when its stdin closes; Spark's Python workers are its children)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def phase(what: str) -> None:
    print(f"# {time.perf_counter() - T_PROCESS:7.2f}s {what}", file=sys.stderr, flush=True)


def p_high(xs) -> float:
    """The highest percentile with at least ten samples beyond it (the
    maximum when there are fewer than 11 samples)."""
    xs = sorted(xs)
    return xs[len(xs) - 11] if len(xs) >= 11 else xs[-1]


def timed_units(run_one, seconds: float, max_units: int | None = None,
                min_units: int = 1) -> list:
    """Whole units until ``seconds`` have passed and at least
    ``min_units`` ran."""
    units, t0 = [], time.perf_counter()
    while True:
        units.append(run_one(len(units)))
        ops = " ".join(f"{op['wall']:.3f}" for op in units[-1].ops)
        print(f"# unit {len(units) - 1}: {units[-1].wall:.3f}s ops: {ops}",
              file=sys.stderr, flush=True)
        if units[-1].failed:
            return units
        if len(units) >= min_units and time.perf_counter() - t0 >= seconds:
            return units
        if max_units is not None and len(units) >= max_units:
            return units


def warm_workers(spark, seed: int) -> None:
    """Start the context's Python workers (pandas and Arrow imported)
    before anything is timed in it."""
    from web_scraper_spark.functions.udfs import extract_pages
    from web_scraper_spark.sources.pages import pages_df

    from workloads import force

    force(extract_pages(pages_df(spark, 64, seed=seed, partitions=4)))


# -- crawls ---------------------------------------------------------------


def run_crawl_workload(name, seed, seconds, trace, sizes, work):
    from workloads import Crawl, control_s, dir_bytes, reset_dir

    tally = Tally()
    spark = start_spark(work)
    phase("session started")
    wl = Crawl(name, spark, seed, sizes)
    wl.materialise()
    phase("inputs materialised")
    # one discarded warm-up crawl
    tally.add_unit(wl.run_unit(reset_dir(os.path.join(work, "ckpt", "warm"))))
    shutil.rmtree(os.path.join(work, "ckpt", "warm"))
    phase("warm-up done")
    setup_s = time.perf_counter() - T_PROCESS

    def run_one(i):
        ck = reset_dir(os.path.join(work, "ckpt", f"u{i}"))
        shutil.rmtree(os.path.join(work, "ckpt", f"u{i - 1}"), ignore_errors=True)
        return wl.run_unit(ck)

    units = timed_units(run_one, seconds, max_units=1 if trace else None,
                        min_units=sizes.min_crawl_units)
    phase("timed window done")
    for u in units:
        tally.add_unit(u)
    last = units[-1]
    last_ck = os.path.join(work, "ckpt", f"u{len(units) - 1}")
    if not last.failed:
        tally.add_checks(wl.check(last_ck, len(last.ops)))
    phase("outputs checked")
    control = control_s(spark)

    fetched = [sum(m["fetched"] for m in u.ops) for u in units]
    round_walls = [m["wall"] for u in units for m in u.ops]
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (median(u.wall for u in units), "s"),
        "items_per_s": (median(f / u.wall for f, u in zip(fetched, units)), "1/s"),
    }
    human = {
        "urls_per_s": metrics["items_per_s"],
        "round_p50_s": (median(round_walls), "s"),
        "ckpt_bytes_per_url": (dir_bytes(last_ck) / max(fetched[-1], 1), "B/url"),
        "units": (len(units), "count"),
        "rounds": (len(round_walls), "count"),
    }
    if not trace:
        return tally, metrics, human, control, None

    # traced run: a fresh context with the event log on
    from tracing import Tracer, fold_events, jvm_peak_rss_mb, read_event_log, time_html_layer

    wl.release()
    spark.stop()
    ev_dir = reset_dir(os.path.join(work, "eventlog"))
    spark = start_spark(work, ev_dir)
    wl.spark = spark
    wl.materialise()
    warm_workers(spark, seed)
    tracer = Tracer(spark.sparkContext)
    ck = reset_dir(os.path.join(work, "ckpt", "traced"))
    with tracer.span("bench.unit"):
        traced = wl.run_unit(ck, tracer)
    tally.add_unit(traced)
    counts = {}
    if not traced.failed:
        with tracer.span("bench.replay"):
            counts = wl.replay(ck, tracer)
    control = median([control, control_s(spark)])
    rss = jvm_peak_rss_mb(spark.sparkContext)
    ckpt_bytes = dir_bytes(ck)
    spark.stop()
    totals = fold_events(read_event_log(ev_dir), tracer.spans)
    html = time_html_layer(seed, sizes.html_pages)
    layers = crawl_layers(tracer.spans, totals, traced.ops, counts, ckpt_bytes, html)
    layers.update(html_layers(html))
    layers.update(query_layers({}, []))
    layers.update({
        "session.control_s": (control, "s"),
        "session.jvm_peak_rss_mb": (rss, "MiB"),
        "bench.trace_overhead_ratio": (traced.wall / units[0].wall, "ratio"),
    })
    trace_out = {"spans": tracer.spans, "span_totals": totals}
    return tally, layers, human, control, trace_out


def crawl_layers(spans, totals, rounds_done, counts, ckpt_bytes, html) -> dict:
    """Crawl-layer metrics of a traced unit (its rounds) and of the
    phase replay; all zero for a workload that runs no crawl."""
    from workloads import CORES
    from tracing import ZERO, subtree

    rounds = [s for s in spans if s["name"] == "crawl.rounds.round"]
    n = max(len(rounds), 1)
    tot = {k: sum(totals[s["id"]][k] for s in rounds) for k in ZERO}
    walls = sum(s["end"] - s["start"] for s in rounds)
    fetched = sum(m["fetched"] for m in rounds_done)

    def replayed(name):
        """(wall, totals) of one replay phase."""
        s = next((s for s in spans if s["name"] == name), None)
        if s is None:
            return 0.0, dict(ZERO)
        return s["end"] - s["start"], subtree(totals, spans, s["id"])

    probe_wall, probe = replayed("crawl.frontier.filter_probe")
    sched_wall, sched = replayed("crawl.politeness.schedule_round")
    fetch_wall, _ = replayed("crawl.rounds.fetch_join")
    ex_wall, ex = replayed("functions.udfs.extract_pages")
    shards_wall, _ = replayed("crawl.frontier.shards")
    rows = counts.get("rows", 0)
    python_s = rows * html["extract_page_record"] * 1e-6
    ex_run_s = ex["run_ms"] / 1000
    return {
        "functions.udfs.extract_pages.wall_s": (ex_wall, "s"),
        "functions.udfs.extract_pages.task_run_s": (ex_run_s, "s"),
        "functions.udfs.extract_pages.task_cpu_s": (ex["cpu_ns"] / 1e9, "s"),
        "functions.udfs.extract_pages.rows": (rows, "count"),
        "functions.udfs.boundary_share": (1 - python_s / ex_run_s if ex_run_s else 0.0, "ratio"),
        "crawl.frontier.filter_probe.wall_s": (probe_wall, "s"),
        "crawl.frontier.filter_probe.task_run_s": (probe["run_ms"] / 1000, "s"),
        "crawl.frontier.candidates": (counts.get("candidates", 0), "count"),
        "crawl.frontier.fresh": (counts.get("fresh", 0), "count"),
        "crawl.frontier.fresh_ratio": (
            counts["fresh"] / counts["candidates"] if counts.get("candidates") else 0.0, "ratio"),
        "crawl.frontier.shards.wall_s": (shards_wall, "s"),
        "crawl.frontier.sketch_bytes": (counts.get("sketch_bytes", 0), "B"),
        "crawl.politeness.schedule_round.wall_s": (sched_wall, "s"),
        "crawl.politeness.schedule_round.task_run_s": (sched["run_ms"] / 1000, "s"),
        "crawl.politeness.schedule_round.shuffle_write_bytes": (sched["shuffle_write_bytes"], "B"),
        "crawl.politeness.scheduled": (counts.get("scheduled", 0), "count"),
        "crawl.rounds.fetch_join.wall_s": (fetch_wall, "s"),
        "crawl.rounds.jobs_per_round": (tot["jobs"] / n, "count"),
        "crawl.rounds.stages_per_round": (tot["stages"] / n, "count"),
        "crawl.rounds.task_run_s": (tot["run_ms"] / 1000 / n, "s"),
        "crawl.rounds.task_cpu_s": (tot["cpu_ns"] / 1e9 / n, "s"),
        "crawl.rounds.gc_s": (tot["gc_ms"] / 1000 / n, "s"),
        "crawl.rounds.shuffle_write_bytes": (tot["shuffle_write_bytes"] / n, "B"),
        "crawl.rounds.spill_bytes": (tot["spill_bytes"] / n, "B"),
        "crawl.rounds.busy_share": (
            tot["run_ms"] / 1000 / (walls * CORES) if walls else 0.0, "ratio"),
        "crawl.rounds.ckpt_bytes": (ckpt_bytes, "B"),
        "crawl.rounds.ckpt_bytes_per_url": (ckpt_bytes / fetched if fetched else 0.0, "B/url"),
        "crawl.rounds.fetch_missed": (
            sum(m["scheduled"] - m["fetched"] for m in rounds_done), "count"),
    }


def html_layers(html: dict) -> dict:
    return {f"html.{k}.us_per_page": (v, "us") for k, v in html.items()}


# -- query suite ----------------------------------------------------------


def run_suite_workload(seed, seconds, trace, sizes, work):
    from workloads import QuerySuite, control_s

    tally = Tally()
    spark = start_spark(work)
    suite = QuerySuite(spark, seed, sizes, DATA_DIR)
    # the session's first scan and first Python workers, so the first
    # query of the seed's order does not pay for them
    spark.read.parquet(os.path.join(DATA_DIR, "lineitem.parquet")).count()
    warm_workers(spark, seed)
    setup_s = time.perf_counter() - T_PROCESS
    if trace:
        return trace_suite(suite, spark, seed, sizes, work, tally)
    results = {}

    def run_one(i):
        unit, res = suite.run_unit()
        results.update(res)
        return unit

    units = timed_units(run_one, seconds)
    for u in units:
        tally.add_unit(u)
    checks, oracle_s = suite.check(results, ROOT)
    tally.add_checks(checks)
    control = control_s(spark)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (median(u.wall for u in units), "s"),
        "items_per_s": (median(len(u.ops) / u.wall for u in units), "1/s"),
    }
    return tally, metrics, suite_extras(units, oracle_s), control, None


def suite_extras(units, oracle_s) -> dict:
    qwalls = [op["wall"] for u in units for op in u.ops]
    return {
        "query_p50_s": (median(qwalls), "s"),
        "query_p88_s": (p_high(qwalls), "s"),
        "queries": (len(qwalls), "count"),
        "oracle_s": (oracle_s, "s"),
    }


def trace_suite(suite, spark, seed, sizes, work, tally):
    """Traced suite run. The tracing cost is measured on the focus
    queries: run twice untraced here (the second, warm run is the
    reference), then inside the traced pass of a second context, where
    the JVM is as warm. The traced pass is checked against the oracles."""
    from tracing import Tracer, fold_events, jvm_peak_rss_mb, read_event_log, time_html_layer
    from workloads import FOCUS_QUERIES, control_s

    focus = [q for q in suite.order if q in FOCUS_QUERIES]
    for _ in range(2):
        untraced, _ = suite.run_unit(names=focus)
        tally.add_unit(untraced)
    control = control_s(spark)
    spark.stop()
    ev_dir = os.path.join(work, "eventlog")
    os.makedirs(ev_dir, exist_ok=True)
    spark = start_spark(work, ev_dir)
    suite.spark = spark
    warm_workers(spark, seed)
    tracer = Tracer(spark.sparkContext)
    with tracer.span("plans.queries.pass"):
        traced, results = suite.run_unit(tracer)
    tally.add_unit(traced)
    control = median([control, control_s(spark)])
    rss = jvm_peak_rss_mb(spark.sparkContext)
    spark.stop()
    checks, oracle_s = suite.check(results, ROOT)
    tally.add_checks(checks)
    totals = fold_events(read_event_log(ev_dir), tracer.spans)
    html = time_html_layer(seed, sizes.html_pages)
    layers = crawl_layers([], {}, [], {}, 0, html)
    layers.update(html_layers(html))
    layers.update(query_layers(totals, tracer.spans))
    layers.update({
        "session.control_s": (control, "s"),
        "session.jvm_peak_rss_mb": (rss, "MiB"),
        "bench.trace_overhead_ratio": (
            sum(op["wall"] for op in traced.ops if op["query"] in focus) / untraced.wall
            if focus else 1.0, "ratio"),
    })
    trace_out = {"spans": tracer.spans, "span_totals": totals}
    return tally, layers, suite_extras([traced], oracle_s), control, trace_out


def query_layers(totals, spans) -> dict:
    """Per query family (the module its dominant operator lives in):
    summed query walls and task metrics; plus the focus queries' walls."""
    from workloads import FOCUS_QUERIES, QUERY_FAMILIES, QUERY_LAYER

    fam = {
        f: {"wall": 0.0, "run_ms": 0, "cpu_ns": 0, "shuffle_write_bytes": 0}
        for f in QUERY_FAMILIES
    }
    walls = {}
    for s in spans:
        q = s["name"].removeprefix("plans.queries.")
        f = QUERY_LAYER.get(q)
        if f is None:
            continue
        walls[q] = s["end"] - s["start"]
        fam[f]["wall"] += walls[q]
        for k in ("run_ms", "cpu_ns", "shuffle_write_bytes"):
            fam[f][k] += totals[s["id"]][k]
    out = {}
    for f, t in fam.items():
        out[f"{f}.wall_s"] = (t["wall"], "s")
        out[f"{f}.task_run_s"] = (t["run_ms"] / 1000, "s")
        out[f"{f}.task_cpu_s"] = (t["cpu_ns"] / 1e9, "s")
        out[f"{f}.shuffle_write_bytes"] = (t["shuffle_write_bytes"], "B")
    for q in FOCUS_QUERIES:
        out[f"plans.queries.{q}.wall_s"] = (walls.get(q, 0.0), "s")
    return out


# -- entry ----------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool, sizes) -> tuple:
    """One benchmark run in this process. Returns (tally, metrics,
    human-readable extras, control seconds, trace record or None)."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    from pyspark.sql import SparkSession

    try:
        if workload == "query_suite":
            return run_suite_workload(seed, seconds, trace, sizes, work)
        return run_crawl_workload(workload, seed, seconds, trace, sizes, work)
    finally:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def report(workload, seed, trace, tally, metrics, human, control, trace_out) -> dict:
    """Print every metric by name with its unit, then the result line."""
    print(f"perfbench {workload} seed={seed} trace={int(trace)}")
    for name, (value, unit) in {**metrics, **human}.items():
        print(f"  {name:<56} {value:>14.6g} {unit}")
    ratio = tally.failed / tally.attempted if tally.attempted else 1.0
    print(f"  {'error_ratio':<56} {ratio:>14.6g} ({tally.failed}/{tally.attempted})")
    print(f"  {'session.control_s':<56} {control:>14.6g} s")
    for msg in tally.messages:
        print(f"  FAILED: {msg}")
    if trace_out is not None:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        from workloads import QUERY_LAYER

        path = os.path.join(out_dir, f"{workload}-seed{seed}-trace.json")
        with open(path, "w") as fh:
            json.dump({**trace_out, "query_layer": QUERY_LAYER,
                       "metrics": {k: v for k, (v, _) in metrics.items()}}, fh, indent=1)
        print(f"  trace written to {os.path.relpath(path, ROOT)}")
    result = {
        "correct": tally.failed == 0,
        "attempted": max(tally.attempted, 1),
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import FULL

    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), FULL)
        result = report(args.workload, args.seed, args.trace, *out)
    finally:
        stop_jvm()
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
