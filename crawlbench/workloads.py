"""The benchmark's workloads: set-up, one timed operation, the correctness
gate for that operation, and the traced operation's per-layer metrics.

Each workload is closed-loop and single-process on local[4]: the next
operation starts only when the previous one (and its correctness gate,
which runs outside the timed window) has finished. README.md in this
directory says why each workload was chosen and which layer metric should
move which end-to-end metric.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import sys
import threading
import time
from contextlib import nullcontext

from pyspark.sql import DataFrame, functions as F

from docgen import write_documents
from tracing import EventLog, Tracer

CORES = 4
FETCH_OUTCOMES = ("miss", "not_allowed", "too_large", "ok", "not_modified")
TABLES = ("frontier", "visited", "bloom", "fetchlog", "results", "wavestage")
RESULTS_COLS = ("wave", "linked_from", "url_norm", "status", "cached", "row_kind", "spans")

# curate_sf01's chain: the three document-curation queries the ROADMAP
# names as query targets, downstream of the crawl, each with a DuckDB
# oracle. They cover queries.pipeline and queries.training, all through
# _read_adaptive.
QUERY_CHAIN = (
    "tfidf_cosine_pairs",
    "inverted_index",
    "lang_balanced_sample",
)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def timed_median(fn, repeats: int) -> tuple[float, object]:
    """Median wall of ``repeats`` calls of ``fn``; returns (median, last result)."""
    walls, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


def noop_s(df: DataFrame) -> float:
    """Wall of forcing ``df`` into Spark's no-op sink (a lazy operator's
    busy time on its captured input)."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files


class WaveBench:
    """Steady-state crawl waves resumed from a prefilled template.

    Site: ``generate_site("small", seed)`` (20 hosts plus a hot host with
    ~30% of pages). The template's visited set holds a seeded ~60% of the
    site's status-200 pages plus HISTORY_ROWS url_norms of hosts outside
    the site (what the crawler fetched before this site), so
    ``total_visited`` clears the default ``bloom_min_visited`` and the Bloom
    probe runs at default config. The wave-1 frontier is every outlink of
    the prefilled pages, so ~40% of edges are fresh.
    """

    name = "wave_bench"
    # the template build is the warm-up: it runs the session's first jobs
    # and starts the Python workers (Bloom cogroup); a separate warm-up wave
    # adds 15-20 s to every run
    WARMUP_OPS = 0
    SCALE = "small"
    VISITED_SHARE = 0.6
    HISTORY_ROWS = 100_000
    WAVES = 1  # waves per timed run

    def __init__(self, spark, seed: int, work: str, refs: dict):
        self.spark, self.seed, self.work = spark, seed, work
        self.template_dir = os.path.join(work, "template")
        self.store_dir = os.path.join(work, "store")
        # the committed outputs for this seed (refs.json), which every
        # operation must reproduce; a seed without one is held to the first
        # operation of this process
        self.reference = refs.get(str(seed))

    # -- set-up --------------------------------------------------------------
    def setup(self) -> dict[str, float]:
        from brink_spark.sources.sitegen import generate_site

        fixture_s, self.fx = timed_median(
            lambda: generate_site(self.SCALE, self.seed), 3
        )
        t0 = time.perf_counter()
        self._build_template()
        return {"setup.fixture_s": fixture_s, "setup.template_s": time.perf_counter() - t0}

    def _build_template(self) -> None:
        from brink_spark.functions.spans import link_hrefs
        from brink_spark.functions.urls import path_forbidden, resolve_href, scheme_and_host
        from brink_spark.operators.seen import BloomSeenSet
        from brink_spark.storage import CrawlStore, Manifest

        spark, fx, cfg = self.spark, self.fx, self.fx.config
        rng = random.Random(self.seed)
        prefilled = [
            p for p in fx.pages if p.status == 200 and rng.random() < self.VISITED_SHARE
        ]
        self.prefilled = {p.url_norm for p in prefilled}
        # outlinks of the already-crawled pages, by the traversal rules the
        # engine and oracle apply (C4 ∧ ¬C3 gate, C5/C6 href filters)
        edges = []
        for p in prefilled:
            base = scheme_and_host(p.url)
            if base is None or path_forbidden(p.url_norm, cfg.forbidden_paths):
                continue
            for raw in link_hrefs(p.spans):
                if raw == "javascript:;" or raw.startswith("#"):
                    continue
                resolved = resolve_href(raw.strip(" "), *base)
                if resolved:
                    edges.append((p.url, resolved, 0, 1))
        store = CrawlStore(self.template_dir)
        store.reset()
        site = spark.createDataFrame(
            [(k, 200, 0) for k in sorted(self.prefilled)],
            "url_norm string, status int, wave int",
        )
        history = spark.range(self.HISTORY_ROWS).select(
            F.format_string(
                "https://archive%d.example/doc/%d", F.col("id") % 97, F.col("id")
            ).alias("url_norm"),
            F.lit(200).alias("status"),
            F.lit(0).alias("wave"),
        )
        store.write(site.unionByName(history), "visited", 0)
        bloom = BloomSeenSet(cfg.bloom_shards, cfg.bloom_bits_per_shard, cfg.bloom_num_hashes)
        store.write(
            bloom.updated(store.read(spark, "visited", 0), bloom.empty(spark)), "bloom", 0
        )
        store.write(
            spark.createDataFrame(
                edges, "linked_from string, url string, priority int, depth int"
            ),
            "frontier",
            1,
        )
        store.commit(
            Manifest(last_wave=0, total_visited=len(self.prefilled) + self.HISTORY_ROWS)
        )
        self.template_bytes = dir_bytes(self.template_dir)[0]

    # -- the timed operation -------------------------------------------------
    def operation(self, tracer: Tracer | None = None) -> dict:
        from brink_spark.plans.crawl import CrawlEngine

        shutil.rmtree(self.store_dir, ignore_errors=True)
        shutil.copytree(self.template_dir, self.store_dir)
        engine = CrawlEngine(self.spark, self.fx.config, self.store_dir)
        t0 = time.time()
        summary = engine.run(fixture=self.fx, resume=True, max_waves=1 + self.WAVES)
        t1 = time.time()
        return dict(t0=t0, t1=t1, wall=t1 - t0, summary=summary)

    # -- correctness gate (outside the timed window) -------------------------
    def check(self, rec: dict) -> list[str]:
        from brink_spark.storage import CrawlStore

        spark = self.spark
        store = CrawlStore(self.store_dir)
        waves = [m["wave"] for m in rec["summary"].wave_metrics]
        problems = []
        if waves != list(range(1, 1 + self.WAVES)):
            return [f"ran waves {waves}, expected 1..{self.WAVES}"]

        def read(table):
            return spark.read.parquet(*[store.wave_dir(table, w) for w in waves])

        flog = read("fetchlog")
        outcomes = {r["outcome"]: r["count"] for r in flog.groupBy("outcome").count().collect()}
        fetches = [
            tuple(r)
            for r in flog.filter(F.col("outcome").isin(*FETCH_OUTCOMES))
            .select("wave", "host", "url_norm", "outcome")
            .collect()
        ]
        cached = read("results").filter(F.col("row_kind") == "seen").count()
        dup_keys = (
            store.read_visited(spark, store.read_manifest())
            .groupBy("url_norm")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        rec["outcomes"] = outcomes
        rec["fetches"] = fetches
        rec["processed"] = cached + sum(
            v for k, v in outcomes.items() if k not in ("robots_denied", "deferred")
        )
        rec["bytes_written"] = dir_bytes(self.store_dir)[0] - self.template_bytes
        rec["signature"] = signature = {
            "outcomes": dict(sorted(outcomes.items())),
            "fetchlog": rows_digest(flog, ("wave", "host", "url_norm", "outcome")),
            "visited": rows_digest(read("visited"), ("url_norm", "status")),
            "results": rows_digest(read("results"), RESULTS_COLS),
            "frontier": rows_digest(
                spark.read.parquet(*[store.wave_dir("frontier", w + 1) for w in waves]),
                ("linked_from", "url", "priority", "depth"),
            ),
        }
        if dup_keys:
            problems.append(f"{dup_keys} url_norms have more than one visited row")
        refetched = sum(1 for f in fetches if f[2] in self.prefilled)
        if refetched:
            problems.append(f"{refetched} prefilled url_norms were fetched again")
        budgets = self.fx.host_budgets()
        per_host: dict[tuple, int] = {}
        for w, host, _, _ in fetches:
            per_host[(w, host)] = per_host.get((w, host), 0) + 1
        over = [
            k
            for k, n in per_host.items()
            if n > budgets.get(k[1], self.fx.config.politeness_budget)
        ]
        if over:
            problems.append(f"hosts over their per-wave budget: {over[:5]}")
        if rec["processed"] == 0:
            problems.append("no URL processed")
        if self.reference is None:
            log(f"{self.name}: seed {self.seed} has no committed reference outputs")
            if problems:
                return problems
            self.reference = signature
        differ = [k for k in signature if signature[k] != self.reference.get(k)]
        if differ:
            problems.append(
                f"outputs differ from the reference in {differ}: "
                f"outcomes {signature['outcomes']} vs {self.reference.get('outcomes')}"
            )
        return problems

    def end_to_end(self, recs: list[dict]) -> dict[str, float]:
        # the first timed wave only, so every run reports the same kind of
        # wave (the first after the template build) however many fit
        return {"wall_s": recs[0]["wall"]}

    # -- traced operation ----------------------------------------------------
    def install(self, tracer: Tracer) -> None:
        install_crawl_wrappers(tracer)

    def layer_metrics(self, rec: dict, tracer: Tracer) -> dict[str, float]:
        """Per-layer metrics from the spans plus forced lazy operators. Runs
        after the traced operation, before the session stops."""
        import brink_spark.plans.crawl as crawl_mod

        summary = rec["summary"]
        wm = summary.wave_metrics
        n_waves = max(len(wm), 1)
        lo, hi = rec["t0"], rec["t1"]
        out: dict[str, float] = {}
        # -- plans.crawl
        waves = [s for s in tracer.spans if s.name == "crawl.wave" and lo <= s.start <= hi]
        first_wave = min((s.start for s in waves), default=hi)
        rec["first_wave_start"] = first_wave
        out["crawl.run_prologue_s"] = first_wave - lo
        out["crawl.stage_fused_s"] = sum(tracer.durations("storage.write.wavestage", lo, hi)) / n_waves
        out["crawl.checkpoint_s"] = sum(tracer.durations("crawl.checkpoint", first_wave, hi)) / n_waves
        out["crawl.wave_self_s"] = tracer.self_time("crawl.wave") / n_waves
        # -- storage
        for t in TABLES:
            out[f"storage.write_s.{t}"] = sum(tracer.durations(f"storage.write.{t}", lo, hi))
            out[f"storage.bytes_written.{t}"] = float(tracer.counts[f"bytes.{t}"])
        out["storage.writes_per_wave"] = len(tracer.durations("storage.write.", first_wave, hi)) / n_waves
        out["storage.commit_s"] = sum(tracer.durations("storage.commit", lo, hi))
        out["storage.read_s"] = sum(tracer.durations("storage.read", lo, hi))
        out["storage.files_written"] = float(tracer.counts["files"])
        out["storage.bytes_per_url"] = rec["bytes_written"] / rec["processed"]
        # -- operators.seen / operators.politeness / functions.udfs: force the
        # lazy operators on the inputs the wave captured
        edges = sum(m["n_frontier"] - m["n_malformed"] for m in wm)
        out["seen.edges_probed"] = float(edges)
        out["seen.hit_ratio"] = sum(m["n_cached"] for m in wm) / edges if edges else 0.0
        mark_s = norm_s = 0.0
        positives = false_pos = 0
        for call in tracer.captured["mark_seen"]:
            edges_df, visited, bloom, shards = call["args"][:4]
            n = noop_s(edges_df)
            norm_s += n
            mark_s += max(noop_s(call["result"]) - n, 0.0)
            if bloom is not None and shards is not None and visited is not None:
                maybe = bloom.probe(edges_df, shards).filter("maybe_seen").select("url_norm")
                positives += maybe.count()
                false_pos += maybe.join(visited.select("url_norm"), "url_norm", "left_anti").count()
        out["seen.mark_s"] = mark_s
        out["seen.bloom_probes"] = float(tracer.counts["bloom_probe"])
        out["seen.bloom_fp_rate"] = false_pos / positives if positives else 0.0
        out["seen.bloom_update_s"] = sum(
            noop_s(c["result"]) for c in tracer.captured["bloom_updated"]
        )
        out["politeness.s"] = sum(noop_s(c["result"]) for c in tracer.captured["apply_politeness"])
        units = sum(m["n_units"] for m in wm)
        out["politeness.deferred_ratio"] = sum(m["n_deferred"] for m in wm) / units if units else 0.0
        hosts: dict[str, int] = {}
        for f in rec["fetches"]:
            hosts[f[1]] = hosts.get(f[1], 0) + 1
        out["politeness.max_host_share"] = max(hosts.values()) / len(rec["fetches"]) if hosts else 0.0
        self.hot_host_fetched = "hot.example" in hosts
        out["udf.normalize_rows"] = float(sum(m["n_frontier"] for m in wm))
        out["udf.normalize_s"] = norm_s
        ok_keys = [f[2] for f in rec["fetches"] if f[3] == "ok"]
        pages = self.fx.pages_by_key()
        bodies = self.spark.createDataFrame(
            [(pages[k].body,) for k in ok_keys if k in pages], "body string"
        )
        out["udf.parse_rows"] = float(len(ok_keys))
        out["udf.parse_s"] = noop_s(bodies.select(crawl_mod.parse_spans_udf("body")))
        store_waves = [m["wave"] for m in wm]
        url_bytes = (
            self.spark.read.parquet(
                *[os.path.join(self.store_dir, "frontier", f"wave={w}") for w in store_waves]
            )
            .agg(F.sum(F.length("url")))
            .collect()[0][0]
            or 0
        )
        out["udf.arrow_bytes"] = float(
            url_bytes + sum(len(pages[k].body or "") for k in ok_keys if k in pages)
        )
        return out

    def eventlog_metrics(self, ev: EventLog, rec: dict) -> dict[str, float]:
        """Jobs and stages per wave count from the first wave's start (the
        run prologue's jobs are excluded); the driver gap covers the whole
        run."""
        n_waves = max(len(rec["summary"].wave_metrics), 1)
        lo, hi = rec["t0"], rec["t1"]
        waves = ev.window(rec["first_wave_start"], hi)
        return {
            "crawl.jobs_per_wave": len(waves.jobs) / n_waves,
            "crawl.stages_per_wave": len(waves.stages) / n_waves,
            "crawl.driver_gap_s": (hi - lo) - ev.stage_covered_s(lo, hi),
        }

    def engagement(self, tracer: Tracer, metrics: dict) -> list[str]:
        problems = []
        if tracer.counts["bloom_probe"] == 0:
            problems.append("the Bloom probe did not run")
        if not self.hot_host_fetched:
            problems.append("the hot host is not in the fetch set")
        return problems + nonzero(metrics, WAVE_BENCH_NONZERO)


class CurateChain:
    """The crawl's downstream curation queries over a seeded documents table."""

    name = "curate_sf01"
    # the first pass in a JVM takes ~2.5x a warm one (code generation)
    WARMUP_OPS = 1
    N_DOCS = 5000

    def __init__(self, spark, seed: int, work: str, refs: dict):
        self.spark, self.seed, self.work = spark, seed, work
        self.docs_dir = os.path.join(work, "docs")
        self.oracle: dict[str, object] = {}
        self._oracle_error: BaseException | None = None

    def setup(self) -> dict[str, float]:
        fixture_s, _ = timed_median(
            lambda: write_documents(self.seed, self.docs_dir, self.N_DOCS), 3
        )
        # the DuckDB reference results are computed once, on one thread,
        # while the warm-up pass runs; check() waits for them
        self._oracle_thread = threading.Thread(target=self._compute_oracle)
        self._oracle_thread.start()
        return {"setup.fixture_s": fixture_s, "setup.template_s": 0.0}

    def _compute_oracle(self) -> None:
        import duckdb

        from brink_spark.queries import ALL_QUERIES

        try:
            con = duckdb.connect(config={"threads": 1})
            try:
                con.sql(
                    "CREATE VIEW documents AS SELECT * FROM "
                    f"'{os.path.join(self.docs_dir, 'documents.parquet')}'"
                )
                for q in QUERY_CHAIN:
                    self.oracle[q] = con.sql(ALL_QUERIES[q][1]).arrow()
            finally:
                con.close()
        except Exception as e:  # re-raised by check() on the main thread
            self._oracle_error = e

    def operation(self, tracer: Tracer | None = None) -> dict:
        from brink_spark.queries import ALL_QUERIES

        per_query: dict[str, float] = {}
        tables = {}
        t0 = time.time()
        for q in QUERY_CHAIN:
            fn = ALL_QUERIES[q][0]
            span = tracer.span(f"query.{q}", job_description=True) if tracer else nullcontext()
            s = time.perf_counter()
            with span:
                tables[q] = fn(self.spark, self.docs_dir).toArrow()
            per_query[q] = time.perf_counter() - s
        t1 = time.time()
        return dict(t0=t0, t1=t1, wall=t1 - t0, per_query=per_query, tables=tables)

    def check(self, rec: dict) -> list[str]:
        """Each result must equal its DuckDB ``oracle_sql()`` under
        tools/check_queries.py's rules: same column names, same type
        families, same row count, same order-insensitive values."""
        import check_queries as cq

        self._oracle_thread.join()
        if self._oracle_error is not None:
            raise self._oracle_error
        problems = []
        for q in QUERY_CHAIN:
            got, want = rec["tables"][q], self.oracle[q]
            gcols = [c.lower() for c in got.column_names]
            wcols = [c.lower() for c in want.column_names]
            if sorted(gcols) != sorted(wcols):
                problems.append(f"{q}: columns {gcols} vs {wcols}")
            elif cq.arrow_families(got) != cq.arrow_families(want):
                problems.append(f"{q}: type families differ")
            elif got.num_rows != want.num_rows:
                problems.append(f"{q}: {got.num_rows} rows vs {want.num_rows}")
            elif cq.rows_key(gcols, rows(got)) != cq.rows_key(wcols, rows(want)):
                problems.append(f"{q}: values differ")
            elif got.num_rows == 0:
                problems.append(f"{q}: empty result")
        rec.pop("tables")  # results are large; only the verdict is kept
        return problems

    def end_to_end(self, recs: list[dict]) -> dict[str, float]:
        return {"wall_s": statistics.median(r["wall"] for r in recs)}

    def install(self, tracer: Tracer) -> None:
        # the crawl layers are wrapped too, so the trace proves they stay idle
        install_crawl_wrappers(tracer)

    def layer_metrics(self, rec: dict, tracer: Tracer) -> dict[str, float]:
        return {f"query.{q}_s": s for q, s in rec["per_query"].items()}

    def eventlog_metrics(self, ev: EventLog, rec: dict) -> dict[str, float]:
        out = {}
        for q in QUERY_CHAIN:
            sub = ev.by_description(f"query.{q}")
            out[f"query.jobs.{q}"] = float(len(sub.jobs))
            out[f"query.shuffle_bytes.{q}"] = float(sum(t["shuffle_w"] for t in sub.tasks))
        return out

    def engagement(self, tracer: Tracer, metrics: dict) -> list[str]:
        problems = []
        if tracer.counts["bloom_probe"] or any(s.name == "crawl.wave" for s in tracer.spans):
            problems.append("the crawl engine ran in the curation workload")
        return problems + nonzero(metrics, CURATE_NONZERO)


def rows_digest(df: DataFrame, cols) -> str:
    """Order-insensitive digest of the multiset of ``df``'s rows over
    ``cols`` (each row as JSON, so an int that becomes a long hashes the same)."""
    hashes = sorted(
        r[0] for r in df.select(F.sha2(F.to_json(F.struct(*cols)), 256)).collect()
    )
    return hashlib.sha256("\n".join(hashes).encode()).hexdigest()


def rows(table) -> list[tuple]:
    cols = table.column_names
    return [tuple(r[c] for c in cols) for r in table.to_pylist()]


def install_crawl_wrappers(tracer: Tracer) -> None:
    """Spans around the crawl layers' public calls, patched where the engine
    looks them up. Lazy operators (mark_seen, apply_politeness,
    BloomSeenSet.updated) only build plans, so their calls are captured and
    forced after the run."""
    import brink_spark.plans.crawl as crawl_mod

    # the classic (non-Connect) DataFrame class implements localCheckpoint
    from pyspark.sql.classic.dataframe import DataFrame as SparkDataFrame

    from brink_spark.operators.seen import BloomSeenSet
    from brink_spark.storage import CrawlStore

    tracer.wrap_span(crawl_mod.CrawlEngine, "run", "crawl.run")
    tracer.wrap_span(crawl_mod.CrawlEngine, "_run_wave", "crawl.wave")
    tracer.wrap_span(CrawlStore, "commit", "storage.commit")
    for reader in ("read", "read_visited", "read_asof"):
        tracer.wrap_span(CrawlStore, reader, "storage.read")

    def write(orig):
        def wrapper(store, df, table, wave):
            with tracer.span(f"storage.write.{table}", job_description=True):
                path = orig(store, df, table, wave)
            nbytes, nfiles = dir_bytes(path)
            tracer.count(f"bytes.{table}", nbytes)
            tracer.count("files", nfiles)
            return path

        return wrapper

    tracer.patch(CrawlStore, "write", write)

    def checkpoint(orig):
        def wrapper(df, eager=True, *args, **kwargs):
            if not eager:
                return orig(df, eager, *args, **kwargs)
            with tracer.span("crawl.checkpoint", job_description=True):
                return orig(df, eager, *args, **kwargs)

        return wrapper

    tracer.patch(SparkDataFrame, "localCheckpoint", checkpoint)

    def capture(key):
        def make(orig):
            def wrapper(*args, **kwargs):
                result = orig(*args, **kwargs)
                tracer.captured[key].append(dict(args=args, result=result))
                return result

            return wrapper

        return make

    tracer.patch(crawl_mod, "mark_seen", capture("mark_seen"))
    tracer.patch(crawl_mod, "apply_politeness", capture("apply_politeness"))

    def updated(orig):
        def wrapper(bloom, new_urls, shards):
            result = orig(bloom, new_urls, shards)
            tracer.captured["bloom_updated"].append(dict(args=(new_urls, shards), result=result))
            return result

        return wrapper

    tracer.patch(BloomSeenSet, "updated", updated)

    def probe(orig):
        def wrapper(*args, **kwargs):
            tracer.count("bloom_probe")
            return orig(*args, **kwargs)

        return wrapper

    tracer.patch(BloomSeenSet, "probe", probe)


def nonzero(metrics: dict, names) -> list[str]:
    return [f"per-layer metric {n} is zero" for n in names if not metrics.get(n)]


_EXEC_NONZERO = (
    "exec.task_s",
    "exec.cpu_busy_frac",
    "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes",
    "exec.task_skew",
    "exec.jobs",
    "exec.stages",
)
WAVE_BENCH_NONZERO = (
    "crawl.jobs_per_wave",
    "crawl.stages_per_wave",
    "crawl.driver_gap_s",
    "crawl.run_prologue_s",
    "crawl.stage_fused_s",
    "crawl.checkpoint_s",
    "crawl.wave_self_s",
    *(f"storage.write_s.{t}" for t in TABLES),
    *(f"storage.bytes_written.{t}" for t in TABLES),
    "storage.writes_per_wave",
    "storage.commit_s",
    "storage.read_s",
    "storage.files_written",
    "storage.bytes_per_url",
    "seen.edges_probed",
    "seen.hit_ratio",
    "seen.mark_s",
    "seen.bloom_probes",
    "seen.bloom_update_s",
    "politeness.s",
    "politeness.deferred_ratio",
    "politeness.max_host_share",
    "udf.normalize_rows",
    "udf.normalize_s",
    "udf.parse_rows",
    "udf.parse_s",
    "udf.arrow_bytes",
    *_EXEC_NONZERO,
)
CURATE_NONZERO = (
    *(f"query.{q}_s" for q in QUERY_CHAIN),
    *(f"query.jobs.{q}" for q in QUERY_CHAIN),
    *_EXEC_NONZERO,
)

WORKLOADS = {w.name: w for w in (WaveBench, CurateChain)}

