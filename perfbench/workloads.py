"""The benchmark's three workloads and their correctness gates.

Each workload is driven as a closed loop with one client: the
calling thread runs one round (or one query) at a time and the next
only after the previous one returned. Spark runs on local[4]; the
crawl round's own 4-thread state-write pool is the program's.

- ``crawl_backlog``: a seeded pages corpus behind a large
  low-priority frontier backlog on the same 8 hosts. Each round
  pushes the whole backlog through the filters, the seen probe, the
  salted quota trim, the anti-joins and the frontier write, but
  fetches only hosts x quota pages, so the frontier, politeness and
  round-state layers do the work.
- ``crawl_extract`` (runnable by name; not in BENCHMARK.json, whose
  run-time budget fits two workloads): every page seeded, no
  effective quota: one full round (extraction UDF + html core
  dominate; round 0 has no seen sketch, so the seen probe is
  bypassed) plus a trailing round of the 8 ``/home`` links, which are
  not in the corpus (fetch misses).
- ``query_suite``: every registered analytics query over the fixed
  testdata, timed with ``collect()`` (a full-compute sink: every
  column of every row reaches this process) and checked against its
  DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import random
import re
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from tracing import span

CORES = 4

#: the queries ROADMAP and VERDICT target; each gets its own
#: per-layer wall time in the traced run
FOCUS_QUERIES = (
    "q16_minhash_sig", "q52_minhash_lsh", "q70_fuzzy_dedup_pipeline",
    "q75_curation_run", "q77_duplicate_span_ranges", "q80_remove_spans",
    "q83_bm25_topk", "q87_perplexity_buckets", "q89_keep_first_spans",
    "q91_keep_first_pipeline", "q102_incremental_dedup",
    "q103_incremental_curation",
)

#: query family -> its queries: the module the query's dominant
#: operator lives in (plain DataFrame/SQL queries count as relational)
QUERY_FAMILIES = {
    "operators.dedup": (
        "q09_first_seen_dedup", "q16_minhash_sig", "q17_jaccard_pairs",
        "q28_embed_near_dup", "q51_simhash_near_dup", "q52_minhash_lsh",
        "q58_simhash_md5", "q62_lsh_embed_near_dup", "q63_sentence_dedup",
        "q69_components", "q70_fuzzy_dedup_pipeline", "q71_jaccard_df_capped",
        "q72_duplicate_spans", "q73_decontamination", "q77_duplicate_span_ranges",
        "q80_remove_spans", "q89_keep_first_spans", "q91_keep_first_pipeline",
        "q102_incremental_dedup", "q103_incremental_curation", "q106_line_dedup",
        "q108_winnow_fingerprints",
    ),
    "operators.similarity": (
        "q27_cosine_topk", "q53_ivf_topk", "q64_kmeans_refine", "q83_bm25_topk",
        "q105_semdedup",
    ),
    "operators.text": (
        "q12_token_counts", "q13_lang_detect", "q14_quality", "q15_fingerprint",
        "q59_repetition", "q61_pii_scrub", "q66_unigram_surprisal",
        "q75_curation_run", "q78_token_distribution", "q79_script_detect",
        "q84_bigram_surprisal", "q86_quality_model", "q87_perplexity_buckets",
        "q88_chunk_tokens", "q109_repetition_signals",
    ),
    "operators.relational": (
        "q01_run_stats", "q02_broadcast_dims", "q03_unseen_anti_join",
        "q04_seen_semi_join", "q05_topk_per_group", "q06_global_topk",
        "q07_asof_join", "q08_sessionize", "q10_collision_numbering",
        "q19_first_per_group", "q20_union_append", "q21_carry_forward",
        "q22_position_index", "q23_combined_fold", "q24_run_summary",
        "q25_transcript_fold", "q26_word_explode", "q29_combined_name",
        "q67_hash_sample", "q74_stratified_sample", "q76_pack_sequences",
        "q81_hash_split", "q82_token_budget", "q97_domain_cap",
    ),
    "operators.video": ("q55_video_docs", "q56_container_docs", "q57_chapter_asof"),
    "operators.multimodal": ("q54_media_features", "q68_frame_sample"),
    "operators.graph": ("q85_host_authority",),
    "sources.warc": (
        "q93_warc_roundtrip", "q95_warc_cdx", "q96_cdx_snapshot_merge",
        "q99_wet_conversion", "q100_wat_links", "q107_anchor_text",
    ),
    "crawl": (
        "q65_robots_parse", "q90_sitemap_parse", "q92_robots_sitemaps",
        "q98_recrawl_frontier", "q101_adaptive_delay", "q110_url_blocklist",
    ),
    "functions": (
        "q11_filename_from_url", "q18_image_ext", "q50_extract_pages",
        "q60_canonical_url", "q94_surt_collapse", "q104_trap_urls",
    ),
}
QUERY_LAYER = {q: fam for fam, qs in QUERY_FAMILIES.items() for q in qs}


@dataclass(frozen=True)
class Sizes:
    """Input sizes. ``FULL`` is what the benchmark command runs;
    ``TINY`` is the self-test's."""

    backlog_pages: int = 8192
    backlog_rows: int = 150_000
    backlog_quota: int = 64
    backlog_rounds: int = 2
    extract_pages: int = 40_000
    #: None = every query in plans.queries.QUERIES
    queries: tuple[str, ...] | None = None
    #: result rows re-extracted in this process by the crawl gate
    sample_rows: int = 16
    #: pages for the in-process html layer timing
    html_pages: int = 128
    #: fewest timed crawl units per run: the first unit after the
    #: warm-up still sits on the JIT warm-up slope, and the median of
    #: three or more leaves it out
    min_crawl_units: int = 3


FULL = Sizes()
TINY = Sizes(
    backlog_pages=2048, backlog_rows=20_000, backlog_quota=16,
    extract_pages=2048, queries=FOCUS_QUERIES, sample_rows=8, html_pages=32,
    min_crawl_units=1,
)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def force(df) -> None:
    """Run a plan to completion without shipping rows anywhere."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Unit:
    """One timed unit: all rounds of one crawl, or one suite pass."""

    wall: float
    ops: list[dict] = field(default_factory=list)
    failed: int = 0

    @property
    def attempted(self) -> int:
        return len(self.ops) + self.failed


# -- crawls ---------------------------------------------------------------


def rid_of(url: str) -> int:
    """Inverse of sources.pages.url_for."""
    if url.endswith(".example.com/"):
        return 0
    m = re.search(r"/page-(\d+)$", url)
    if m is None:
        raise ValueError(f"not a corpus url: {url}")
    return int(m.group(1))


def check_result_rows(rows, seed: int, universe: int) -> list[str]:
    """Each result row must equal extract_page_record run in this
    process on the same generated page, byte for byte."""
    from web_scraper_spark.functions.udfs import extract_page_record
    from web_scraper_spark.sources.pages import gen_page_html

    failures = []
    for row in rows:
        rec = extract_page_record(gen_page_html(rid_of(row["url"]), seed, universe), row["url"])
        want = {
            "title": rec["title"],
            "text": rec["text"],
            "markdown": rec["markdown"],
            "token_count": len(rec["clean_html"]) // 4,
            "n_images": len(rec["images"]),
        }
        bad = [k for k, v in want.items() if row[k] != v]
        if bad:
            failures.append(f"result row {row['url']} differs from extract_page_record in {bad}")
    return failures


class Crawl:
    """A crawl workload: inputs made from the seed, one crawl per unit."""

    def __init__(self, name: str, spark, seed: int, sizes: Sizes):
        self.name = name
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        if name == "crawl_backlog":
            self.n_pages = sizes.backlog_pages
            self.quota = sizes.backlog_quota
            self.max_depth = 2
            self.n_rounds = sizes.backlog_rounds
            # the last round probes a non-empty seen sketch
            self.replay_round = sizes.backlog_rounds - 1
        else:
            self.n_pages = sizes.extract_pages
            self.quota = sizes.extract_pages
            self.max_depth = 1
            self.n_rounds = 2
            # round 0: the full extraction round, no seen sketch yet
            self.replay_round = 0

    def materialise(self) -> None:
        from web_scraper_spark.crawl.frontier import FRONTIER_SCHEMA
        from web_scraper_spark.sources.pages import pages_df, url_for

        spark = self.spark
        self.pages = pages_df(spark, self.n_pages, seed=self.seed).persist()
        self.pages.count()
        self.seeds = [url_for(r) for r in range(self.n_pages)]
        self.backlog = None
        if self.name == "crawl_backlog":
            host = F.concat(F.lit("site"), (F.col("id") % 8).cast("string"), F.lit(".example.com"))
            url = F.concat(
                F.lit("https://"), host, F.lit(f"/backlog/s{self.seed}/b-"),
                F.col("id").cast("string"),
            )
            self.backlog = (
                spark.range(0, self.sizes.backlog_rows, numPartitions=CORES)
                .select(
                    url.alias("url"),
                    host.alias("host"),
                    F.lit(1).alias("depth"),
                    # behind every seed and every discovered link
                    F.lit(1e30).alias("priority"),
                    F.xxhash64(url).alias("seq"),
                    F.lit(0).alias("round_id"),
                    F.lit("pending").alias("status"),
                )
                .select([f.name for f in FRONTIER_SCHEMA.fields])
                .persist()
            )
            self.backlog.count()

    def release(self) -> None:
        self.pages.unpersist()
        if self.backlog is not None:
            self.backlog.unpersist()

    def config(self, ckpt_dir: str):
        from web_scraper_spark.crawl.rounds import CrawlConfig

        return CrawlConfig(
            ckpt_dir=ckpt_dir, n_shards=16, quota_per_host=self.quota, max_depth=self.max_depth
        )

    def run_unit(self, ckpt_dir: str, tracer=None) -> Unit:
        """One crawl: init, then the workload's rounds."""
        from web_scraper_spark.crawl.rounds import init_crawl, run_round

        cfg = self.config(ckpt_dir)
        t0 = time.perf_counter()
        unit = Unit(0.0)
        try:
            with span(tracer, "crawl.init"):
                init_crawl(self.spark, cfg, self.seeds, seed_frontier=self.backlog)
        except Exception:
            log(f"{self.name}: init_crawl raised\n{traceback.format_exc()}")
            unit.failed += 1
        for rid in range(0 if unit.failed else self.n_rounds):
            t = time.perf_counter()
            try:
                with span(tracer, "crawl.rounds.round"):
                    m = run_round(self.spark, cfg, self.pages, None, rid)
            except Exception:
                log(f"{self.name}: round {rid} raised\n{traceback.format_exc()}")
                unit.failed += 1
                break
            m["wall"] = time.perf_counter() - t
            if not os.path.exists(os.path.join(ckpt_dir, f"round={rid}", "_COMMIT")):
                log(f"{self.name}: round {rid} left no _COMMIT")
                unit.failed += 1
                break
            unit.ops.append(m)
            if m["scheduled"] == 0:
                break
        unit.wall = time.perf_counter() - t0
        return unit

    def sample_results(self, ckpt_dir: str, n_rounds: int):
        """A seed-ordered sample of result rows across all rounds."""
        dirs = [os.path.join(ckpt_dir, f"round={r}", "results") for r in range(n_rounds)]
        res = self.spark.read.parquet(*dirs)
        return (
            res.orderBy(F.xxhash64("url", F.lit(self.seed)))
            .limit(self.sizes.sample_rows)
            .collect()
        )

    def check(self, ckpt_dir: str, n_rounds: int) -> dict[str, list[str]]:
        """The crawl invariants of tools/soak_crawl.py plus a byte-level
        spot check of extraction: {check: failures}."""
        from web_scraper_spark.crawl.rounds import read_seen

        spark = self.spark
        checks: dict[str, list[str]] = {}
        logs = spark.read.parquet(
            *[os.path.join(ckpt_dir, f"round={r}", "fetch_log") for r in range(n_rounds)]
        )
        n_rows, n_urls = logs.agg(F.count("*"), F.countDistinct("url")).first()
        checks["fetched_exactly_once"] = (
            [] if n_rows == n_urls
            else [f"fetch_log: {n_rows} fetches of {n_urls} urls"]
        )

        frontiers = None
        for r in range(-1, n_rounds):
            f = spark.read.parquet(os.path.join(ckpt_dir, f"round={r}", "frontier"))
            f = f.select("url", F.lit(r).alias("r"))
            frontiers = f if frontiers is None else frontiers.unionByName(f)
        dup = frontiers.groupBy("r", "url").count().filter("count > 1").select("r").distinct()
        dup_rounds = sorted(row["r"] for row in dup.collect())
        checks["frontier_unique"] = (
            [f"frontier of rounds {dup_rounds} queues a url twice"] if dup_rounds else []
        )

        seen = read_seen(spark, self.config(ckpt_dir), n_rounds - 1).select("url").distinct()
        sched = logs.select("url").distinct()
        differs = seen.join(sched, "url", "left_anti").limit(1).count() or sched.join(
            seen, "url", "left_anti"
        ).limit(1).count()
        checks["seen_is_scheduled"] = ["seen set != union of scheduled urls"] if differs else []

        checks["result_rows"] = check_result_rows(
            self.sample_results(ckpt_dir, n_rounds), self.seed, max(self.n_pages, 2)
        )
        return checks

    def replay(self, ckpt_dir: str, tracer) -> dict:
        """Re-run the phases of round ``replay_round`` from the previous
        round's committed checkpoint, one span per phase. Each phase's
        output is persisted and forced with a noop sink, so a phase's
        span holds its own work and not its inputs'. The expressions
        mirror crawl/rounds.py:run_round."""
        from web_scraper_spark.crawl.frontier import (
            apply_url_filters, build_seen_shards, merge_shard_tables, probe_seen,
        )
        from web_scraper_spark.crawl.politeness import schedule_round
        from web_scraper_spark.crawl.rounds import read_seen
        from web_scraper_spark.functions.udfs import extract_pages

        spark, rid = self.spark, self.replay_round
        cfg = self.config(ckpt_dir)
        prev = os.path.join(ckpt_dir, f"round={rid - 1}")

        def state(name):
            path = os.path.join(prev, name)
            return spark.read.parquet(path) if os.path.isdir(path) else None

        frontier = state("frontier")
        shards, host_state = state("shards"), state("host_state")
        seen = read_seen(spark, cfg, rid - 1)
        caches: list = []

        def keep(df):
            df = df.persist()
            caches.append(df)
            force(df)
            return df

        with tracer.span("crawl.frontier.filter_probe"):
            candidates = apply_url_filters(
                frontier.filter(F.col("status") == "pending")
                .filter(F.col("depth") <= cfg.max_depth),
                robots=None, ignore_patterns=cfg.ignore_patterns, trap_filter=cfg.trap_filter,
            )
            fresh = keep(probe_seen(
                candidates, shards, seen, cfg.n_shards, unpersist_into=caches, eager=True,
            ))
        counts = {"candidates": candidates.count(), "fresh": fresh.count()}

        with tracer.span("crawl.politeness.schedule_round"):
            sched_in = fresh.select(
                "url", "host", "depth", "priority", "seq",
                F.lit(None).cast("long").alias("crawl_delay_ms"),
            )
            schedule, _ = schedule_round(
                sched_in, host_state, quota_per_host=cfg.quota_per_host,
                default_delay_ms=cfg.default_delay_ms, round_budget_ms=cfg.round_budget_ms,
            )
            schedule = keep(schedule)
        counts["scheduled"] = schedule.count()

        with tracer.span("crawl.rounds.fetch_join"):
            fetched = keep(
                schedule.join(self.pages.select("url", "html", F.col("warc_ts")), "url", "left")
                .withColumn(
                    "fetch_status",
                    F.when(F.col("html").isNotNull(), "fetched").otherwise("failed"),
                )
            )

        ok = (
            fetched.filter(F.col("fetch_status") == "fetched")
            .select("url", "host", "depth", "seq", "scheduled_offset_ms", "html")
            .repartition(spark.sparkContext.defaultParallelism, "url")
        )
        products = tuple(dict.fromkeys((*cfg.results_products, "token_count")))
        with tracer.span("functions.udfs.extract_pages"):
            keep(extract_pages(ok, html_col="html", url_col="url", products=(*products, "links")))
        counts["rows"] = ok.count()

        with tracer.span("crawl.frontier.shards"):
            new = build_seen_shards(
                schedule.select("url"), cfg.n_shards, rid, cfg.expected_per_shard,
                cfg.fp_rate, sketch_kind=cfg.sketch_kind,
            )
            merged = keep(new if shards is None else merge_shard_tables(shards.unionByName(new)))
        counts["sketch_bytes"] = sum(len(r["sketch"]) for r in merged.select("sketch").collect())

        for df in caches:
            df.unpersist()
        return counts


# -- query suite ----------------------------------------------------------


def load_check_correctness(root: str):
    """tools/check_correctness.py, imported by path (tools/ is not a
    package)."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QuerySuite:
    """Every registered query over the fixed testdata, in seed order."""

    name = "query_suite"

    def __init__(self, spark, seed: int, sizes: Sizes, data_dir: str):
        from web_scraper_spark.plans.queries import QUERIES

        self.spark = spark
        self.data_dir = data_dir
        self.order = sorted(sizes.queries if sizes.queries is not None else QUERIES)
        random.Random(seed).shuffle(self.order)

    def run_unit(self, tracer=None, names=None) -> tuple[Unit, dict]:
        """One pass over ``names`` (default: every query, in seed
        order); returns the unit and {query: (columns, rows)}."""
        from web_scraper_spark.plans.queries import QUERIES

        results = {}
        t0 = time.perf_counter()
        unit = Unit(0.0)
        for name in self.order if names is None else names:
            t = time.perf_counter()
            try:
                with span(tracer, f"plans.queries.{name}"):
                    df = QUERIES[name](self.spark, self.data_dir)
                    results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:
                log(f"{name} raised\n{traceback.format_exc()}")
                unit.failed += 1
                continue
            unit.ops.append({"query": name, "wall": time.perf_counter() - t})
        unit.wall = time.perf_counter() - t0
        return unit, results

    def check(self, results: dict, root: str) -> tuple[dict[str, list[str]], float]:
        """Value hash of every query's rows vs its DuckDB oracle's, with
        check_correctness.py's normalisation. Returns ({query:
        failures}, seconds spent on the oracles)."""
        from web_scraper_spark.plans.queries import ORACLES

        cc = load_check_correctness(root)
        oracles = OracleCache(self.data_dir, cc, os.path.join(root, ".perfbench_out", "oracles"))
        checks, t0 = {}, time.perf_counter()
        try:
            for name in self.order:
                if name not in results:
                    continue  # the query raised; counted with the unit
                if name not in ORACLES:
                    checks[name] = [f"{name}: no oracle"]
                    continue
                cols, rows = results[name]
                got = cc.table_of(rows, cols)
                want, errors = oracles.table(name, ORACLES[name])
                if errors:
                    checks[name] = errors
                elif value_hash(got) != value_hash(want):
                    checks[name] = [
                        f"{name}: value hash differs from its oracle's ({len(got[1])} vs "
                        f"{len(want[1])} rows, columns {got[0]} vs {want[0]})"
                    ]
                else:
                    checks[name] = []
        finally:
            oracles.close()
        return checks, time.perf_counter() - t0


class OracleCache:
    """DuckDB oracle results, normalised by check_correctness.table_of.

    An oracle's result is a pure function of its SQL, the testdata and
    the DuckDB version, so it is kept under that key in the checkout's
    .perfbench_out/ and computed again only when one of them changes:
    every run still checks every query, but only the first run of a
    checkout pays for the oracles."""

    def __init__(self, data_dir: str, cc, cache_dir: str):
        import duckdb

        self.data_dir, self.cc, self.cache_dir = data_dir, cc, cache_dir
        digest = hashlib.md5(duckdb.__version__.encode())
        for t in cc.TABLES:
            with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
                digest.update(fh.read())
        self.data_key = digest.hexdigest()
        self.con = None

    def table(self, name: str, sql: str) -> tuple[tuple, list[str]]:
        """((columns, normalised rows), failures) of one oracle."""
        key = hashlib.md5(f"{self.data_key}\0{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                rec = json.load(fh)
        else:
            rec = self._compute(name, sql)
            os.makedirs(self.cache_dir, exist_ok=True)
            with open(path + ".tmp", "w") as fh:
                json.dump(rec, fh)
            os.replace(path + ".tmp", path)
        return (rec["cols"], [tuple(r) for r in rec["rows"]]), rec["errors"]

    def _compute(self, name: str, sql: str) -> dict:
        if self.con is None:
            import duckdb

            self.con = duckdb.connect()
            self.con.execute(f"SET threads = {CORES}")
            for t in self.cc.TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'"
                )
        tbl = self.con.execute(sql).fetch_arrow_table()
        decimals = [f.name for f in tbl.schema if "decimal" in str(f.type)]
        rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_rows else []
        cols, norm = self.cc.table_of(rows, list(tbl.schema.names))
        errors = [f"{name}: oracle returns DECIMAL columns {decimals}"] if decimals else []
        return {"cols": cols, "rows": norm, "errors": errors}

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


def value_hash(table) -> str:
    cols, rows = table
    return hashlib.md5(repr((cols, rows)).encode()).hexdigest()


def control_s(spark) -> float:
    """Drift-null control: a fixed pure-JVM aggregate (about 1 s on 4 cores)
    whose cost no program change can move, so a shift in it is the
    machine's, not the code's."""
    t = time.perf_counter()
    spark.range(0, 2_000_000_000, numPartitions=CORES).select(
        F.bit_xor(F.xxhash64("id"))
    ).collect()
    return time.perf_counter() - t


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
