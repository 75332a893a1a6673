"""The two workloads: inputs, one timed repetition, output checks and the
standalone layer probes of a traced run.

A workload object is built once per run. ``setup`` makes its inputs from the
seed, ``warm_up`` runs the timed plans once, untimed, in the same JVM,
``run_rep`` runs and times one repetition, ``check`` verifies a repetition's
outputs, and ``probe_layers`` (traced runs only) re-runs the lazy layers of
the largest superstep standalone.
"""

from __future__ import annotations

import os
import shutil
import time

from harness import dir_bytes, quiesce

_STORE_TABLES = ("frontier", "seen_delta", "crawl_log", "lineage")


def traced_store(root: str, tracer, counters, tag: str):
    """A ``SnapshotStore`` whose eager calls are spans and whose commit jobs
    carry the job group of their superstep."""
    from apollo_service_spark.sources.storage import SnapshotStore

    class TracedStore(SnapshotStore):
        def commit(self, iteration, tables, metrics=None):
            counters.group(f"{tag}-ss{iteration}")
            with tracer.span("storage.commit", iteration=iteration):
                out = super().commit(iteration, tables, metrics=metrics)
            counters.group(f"{tag}-between")
            return out

        def read(self, spark, name, iteration):
            with tracer.span("storage.read", table=name):
                return super().read(spark, name, iteration)

        def read_latest(self, spark, name):
            with tracer.span("storage.resume_read", table=name):
                return super().read_latest(spark, name)

        def read_accumulated(self, spark, name):
            with tracer.span("storage.read", table=name):
                return super().read_accumulated(spark, name)

    return TracedStore(root)


def _timed_noop(df) -> float:
    """Wall time of forcing ``df`` with a ``noop`` write."""
    quiesce()
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class CrawlWorkload:
    """Shared crawl machinery: a fresh store per repetition, the traced
    hooks, the per-repetition crawl facts and the layer probes."""

    name = ""
    n_partitions = 4
    robots = None

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.dir = os.path.join(ctx.work, self.name)
        os.makedirs(self.dir, exist_ok=True)
        self.sizes: dict = {}

    # -- store / engine ------------------------------------------------------

    def _fresh_store(self, tag: str, tracer):
        from apollo_service_spark.sources.storage import SnapshotStore

        root = os.path.join(self.dir, "store")
        shutil.rmtree(root, ignore_errors=True)
        if tracer.enabled:
            return traced_store(root, tracer, self.ctx.counters, tag)
        return SnapshotStore(root)

    def _engine(self, store, config, tracer, tag):
        from apollo_service_spark.operators.frontier import FrontierEngine

        engine = FrontierEngine(self.spark, self.pages, store, config, robots=self.robots)
        if tracer.enabled:
            orig = engine.seen_store.update
            counters = self.ctx.counters

            def update(delta):
                counters.group(f"{tag}-ss{store.latest_iteration() + 1}")
                with tracer.span("seen.update"):
                    return orig(delta)

            engine.seen_store.update = update
        return engine

    def crawl_facts(self, store, crawl_s: float) -> dict:
        metrics = store.iteration_metrics()
        return {
            "crawl_s": crawl_s,
            "scheduled": sum(m["scheduled"] for m in metrics),
            "superstep_walls": [m["wall_s"] for m in metrics],
            "iteration_metrics": metrics,
            "store_root": store.root,
        }

    # -- traced-run layer probes ---------------------------------------------

    def probe_layers(self, rep: dict, tracer) -> dict:
        """Re-run the lazy crawl layers standalone on the inputs of the
        largest superstep after the first (read back from its committed
        snapshot), each forced by a ``noop`` write, and read the seen
        store's size."""
        from pyspark.sql import functions as F

        from apollo_service_spark.functions import urlkit
        from apollo_service_spark.functions.udfs import extract_links_udf
        from apollo_service_spark.operators import politeness as politeness_ops
        from apollo_service_spark.operators import robots as robots_ops
        from apollo_service_spark.operators.seen import PartitionedBloomSeenStore
        from apollo_service_spark.sources.storage import SnapshotStore

        spark = self.spark
        metrics = rep["iteration_metrics"]
        store = SnapshotStore(rep["store_root"])
        # the superstep whose fetched pages yielded the most links
        k = max(range(1, len(metrics)), key=lambda i: metrics[i]["links_found"], default=0)
        probe_dir = os.path.join(self.dir, "probe")
        shutil.rmtree(probe_dir, ignore_errors=True)

        def materialize(df, name):
            path = os.path.join(probe_dir, name)
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

        out = {}
        cfg = self.crawl_config()
        if k > 0:
            frontier_in = store.read(spark, "frontier", k - 1)
            selected, _carry = politeness_ops.select_batch(
                frontier_in, None, cfg.default_budget,
                prune_partitions=cfg.politeness_prune,
            )
            out["politeness.select_s"] = _timed_noop(selected)
            out["politeness.selected_ratio"] = selected.count() / max(frontier_in.count(), 1)
        else:
            out["politeness.select_s"] = 0.0
            out["politeness.selected_ratio"] = 1.0

        log = store.read(spark, "crawl_log", k).filter(F.col("status") == "fetched")
        fetched = materialize(
            log.select("url", "depth").join(self.pages_raw(), "url"), "fetched"
        )
        raw = fetched.select(
            F.explode(extract_links_udf(F.col("html"), F.col("url"))).alias("raw_link")
        )
        out["udfs.extract_links_s"] = _timed_noop(raw)
        raw = materialize(raw, "raw_links")
        n_pages = fetched.count()
        n_raw = raw.count()
        out["udfs.links_per_page"] = n_raw / max(n_pages, 1)

        canon = raw.select(urlkit.canonicalize(F.col("raw_link")).alias("url"))
        out["urlkit.canonicalize_s"] = _timed_noop(canon)
        cands = materialize(
            canon.withColumn("host", urlkit.url_host(F.col("url")))
            .filter(~urlkit.is_ignored_fused(F.col("url"), cfg.extra_ignore_patterns))
            .withColumn("path", urlkit.url_path(F.col("url"))),
            "candidates",
        )
        robots_agg = None if self.robots is None else robots_ops.aggregate_rules(self.robots)
        allowed = robots_ops.robots_allow(cands, robots_agg)
        out["robots.gate_s"] = _timed_noop(allowed)
        out["robots.allowed_ratio"] = allowed.count() / max(cands.count(), 1)
        allowed = materialize(allowed.select("url", "host").distinct(), "allowed")
        n_allowed = allowed.count()

        # the seen store as it stood when superstep k's dedup ran: every
        # batch up to and including k (the engine updates before it commits)
        seen = PartitionedBloomSeenStore(
            os.path.join(probe_dir, "seen"), n_partitions=cfg.n_partitions,
            expected_urls=cfg.expected_urls, fpp=cfg.bloom_fpp, salt=cfg.salt,
        )
        seen.reset()
        delta = spark.read.parquet(
            *[store._table_dir("seen_delta", i) for i in range(k + 1)]
        ).withColumn("host", urlkit.url_host(F.col("url")))
        seen.update(delta)
        new = seen.filter_new(allowed)
        out["seen.filter_s"] = _timed_noop(new)
        out["seen.candidates"] = float(n_allowed)
        out["seen.new_ratio"] = new.count() / max(n_allowed, 1)
        _new, maybe = seen.split_candidates(allowed)
        out["seen.bloom_maybe_ratio"] = maybe.count() / max(n_allowed, 1)
        out["seen.store_bytes"] = float(
            dir_bytes(os.path.join(rep["store_root"], "seen_bloom"))
            + dir_bytes(os.path.join(rep["store_root"], "seen_urls"))
        )
        table_bytes = sum(dir_bytes(os.path.join(rep["store_root"], t)) for t in _STORE_TABLES)
        out["storage.bytes_per_url"] = table_bytes / max(rep["scheduled"], 1)
        return out



# ----------------------------------------------------------------------------
# crawl_wide
# ----------------------------------------------------------------------------


class CrawlWide(CrawlWorkload):
    """A Zipf-skewed many-host crawl run to frontier exhaustion in three
    supersteps (see ``gen.WideGraph``): the second schedules over
    ``small_batch_threshold`` urls and fetches two thirds of the pages, so the
    cached fetch join, link extraction, the bloom seen store and the
    politeness window do real work. The crawl stops after ``FIRST``
    superstep and a new engine resumes it from the same store, so the
    snapshot read path runs too, and four snapshot tables are written per
    superstep."""

    name = "crawl_wide"
    N_SEEDS, N_HOSTS, FANOUT = 600, 200, 2
    FIRST = 1   # supersteps before the stop; a new engine resumes the rest

    def setup(self) -> dict:
        import gen

        spark = self.spark
        self.graph = gen.WideGraph(self.ctx.seed, self.N_SEEDS, self.N_HOSTS, self.FANOUT)
        path = os.path.join(self.dir, "pages")
        self.sizes = gen.write_wide_pages(self.graph, path, n_files=4)
        self.pages = spark.read.parquet(path)
        self.robots = spark.createDataFrame(
            [(h, p) for h, ps in sorted(self.graph.robots.items()) for p in ps],
            "host string, disallow_prefix string",
        )
        self.seeds = spark.createDataFrame(
            [(self.graph.page_url(p),) for p in self.graph.seed_ids], "url string"
        )
        self.expected = self.graph.expected_iterations()
        self.sizes["expected_urls"] = len(self.expected)
        return self.sizes

    def pages_raw(self):
        return self.pages

    def crawl_config(self, max_iterations: int = 1000):
        from apollo_service_spark.operators.frontier import CrawlConfig

        return CrawlConfig(
            default_budget=100_000,
            n_partitions=self.n_partitions,
            expected_urls=4 * len(self.expected),
            max_iterations=max_iterations,
        )

    def warm_up(self) -> None:
        """The first two supersteps of a repetition, stop and resume
        included, untimed: the third runs the same plans as the second."""
        null = self.ctx.null_tracer
        store = self._fresh_store("warm", null)
        self._engine(store, self.crawl_config(self.FIRST), null, "warm").run(seeds=self.seeds)
        self._engine(store, self.crawl_config(1), null, "warm").run(resume=True)

    def run_rep(self, tag: str, tracer) -> dict:
        store = self._fresh_store(tag, tracer)
        quiesce()
        t0 = time.perf_counter()
        with tracer.span("crawl"):
            self._engine(store, self.crawl_config(self.FIRST), tracer, tag).run(seeds=self.seeds)
        with tracer.span("crawl"):
            result = self._engine(store, self.crawl_config(), tracer, tag).run(resume=True)
        wall = time.perf_counter() - t0
        facts = self.crawl_facts(store, wall)
        facts.update(wall_s=wall, docs=result.pages_fetched)
        return facts

    def check(self, rep: dict) -> list:
        """Across the stop and the resume, every url is scheduled once and
        in the superstep the link-graph arithmetic gives it."""
        from apollo_service_spark.sources.storage import SnapshotStore

        log = [
            (r.url, r.iteration)
            for r in SnapshotStore(rep["store_root"])
            .read_accumulated(self.spark, "crawl_log")
            .select("url", "iteration")
            .collect()
        ]
        got = dict(log)
        errors = []
        if len(log) != len(got):
            errors.append(f"crawl_wide: {len(log) - len(got)} urls scheduled twice")
        if got != self.expected:
            wrong = sum(1 for u, i in got.items() if self.expected.get(u, i) != i)
            errors.append(
                f"crawl_wide: crawl log differs from the link-graph closure (missing "
                f"{len(self.expected.keys() - got.keys())}, extra "
                f"{len(got.keys() - self.expected.keys())}, wrong superstep {wrong})"
            )
        return errors


# ----------------------------------------------------------------------------
# corpus_pipeline
# ----------------------------------------------------------------------------

QUERY_KEYS = ("corpus_prepare", "corpus_clean", "winnow_neardup", "dedup_exact", "line_dedup")


class CorpusPipeline(CrawlWorkload):
    """WARC segments → pages → a one-superstep crawl of every article →
    text extraction → a documents table → the corpus registry keys.

    The seeds are the article urls and the per-host budget covers them all,
    so the crawl fetches the corpus in one superstep on the broadcast-probe
    small-batch path; every link it finds is already seen, so the seen store
    and link extraction do little. The corpus half (WARC parse, Arrow text
    kernels, gram explodes, windows) does its work here and nowhere else."""

    name = "corpus_pipeline"
    N_DOCS, N_HOSTS, N_SEGMENTS, BUDGET = 160, 8, 4, 20

    def setup(self) -> dict:
        import gen

        from apollo_service_spark.functions.html import extract_text_only
        from apollo_service_spark.oracle.simulator import SimConfig, simulate

        self.corpus = gen.TextCorpus(self.ctx.seed, self.N_DOCS, self.N_HOSTS)
        self.warc_dir = os.path.join(self.dir, "warc")
        shutil.rmtree(self.warc_dir, ignore_errors=True)
        self.sizes = gen.write_warc_segments(self.corpus, self.warc_dir, self.N_SEGMENTS)
        seed_urls = [self.corpus.url(d) for d in range(self.N_DOCS)]
        self.seeds = self.spark.createDataFrame([(u,) for u in seed_urls], "url string")
        self.expected_text = {d: extract_text_only(self.corpus.html(d)) for d in range(self.N_DOCS)}
        pages = {url: html for url, _ts, html in self.corpus.pages()}
        sim = simulate(pages, seed_urls, SimConfig(default_budget=self.BUDGET))
        self.expected_log = sorted((r["url"], r["iteration"], r["rank"]) for r in sim.crawl_log)
        self.oracle = None
        return self.sizes

    def pages_raw(self):
        from apollo_service_spark.sources.warc import pages_from_warc, read_warc

        return pages_from_warc(read_warc(self.spark, self.warc_dir))

    def crawl_config(self, max_iterations: int = 1000):
        from apollo_service_spark.operators.frontier import CrawlConfig

        return CrawlConfig(
            default_budget=self.BUDGET,
            n_partitions=self.n_partitions,
            expected_urls=10_000,
            max_iterations=max_iterations,
        )

    def _documents(self, store, out_dir: str) -> int:
        from pyspark.sql import functions as F

        from apollo_service_spark.functions.udfs import extract_text_udf

        fetched = (
            store.read_accumulated(self.spark, "crawl_log")
            .filter(F.col("status") == "fetched")
            .select("url", "host")
            .join(self.pages, "url")
            .withColumn("doc_id", F.regexp_extract("url", r"/articles/(\d+)$", 1))
            .filter(F.col("doc_id") != "")
        )
        docs = fetched.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            extract_text_udf(F.col("html")).alias("text"),
            F.lit("en").alias("lang"),
            F.col("host").alias("source"),
        ).withColumn("n_chars", F.length("text").cast("long"))
        path = os.path.join(out_dir, "documents.parquet")
        docs.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path).count()

    def warm_up(self) -> None:
        """One untimed repetition: the same plans on the same inputs."""
        self.run_rep("warm", self.ctx.null_tracer)

    def run_rep(self, tag: str, tracer) -> dict:
        import __spark_entry__ as entry

        registry = entry.queries()
        store = self._fresh_store(tag, tracer)
        docs_dir = os.path.join(self.dir, "docs")
        shutil.rmtree(docs_dir, ignore_errors=True)
        quiesce()
        t0 = time.perf_counter()
        with tracer.span("warc.load"):
            self.pages = self.pages_raw()
        with tracer.span("crawl"):
            self._engine(store, self.crawl_config(), tracer, tag).run(seeds=self.seeds)
        crawl_s = time.perf_counter() - t0
        with tracer.span("udfs.extract_text"):
            n_docs = self._documents(store, docs_dir)
        rows = {}
        for key in QUERY_KEYS:
            with tracer.span(f"queries.{key}"):
                df = registry[key](self.spark, docs_dir)
                rows[key] = (list(df.columns), [tuple(r) for r in df.collect()])
        wall = time.perf_counter() - t0
        facts = self.crawl_facts(store, crawl_s)
        facts.update(wall_s=wall, docs=n_docs, docs_dir=docs_dir, query_rows=rows)
        return facts

    def _oracle(self, docs_dir: str) -> dict:
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            path = os.path.join(docs_dir, "documents.parquet", "*.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            out = {}
            for key in QUERY_KEYS:
                cur = con.execute(oracles[key])
                out[key] = ([d[0] for d in cur.description], cur.fetchall())
            return out
        finally:
            con.close()

    def check(self, rep: dict) -> list:
        from scripts.verify_gate import _canon

        from apollo_service_spark.operators.frontier import crawl_log_df
        from apollo_service_spark.sources.storage import SnapshotStore

        errors = []
        cleanup: list = []
        log = crawl_log_df(self.spark, SnapshotStore(rep["store_root"]), cleanup=cleanup)
        got_log = sorted(
            (r.url, r.iteration, r.rank)
            for r in log.select("url", "iteration", "rank").collect()
        )
        for df in cleanup:
            df.unpersist()
        if got_log != self.expected_log:
            errors.append(
                f"corpus_pipeline: crawl log differs from the simulator "
                f"({len(got_log)} rows vs {len(self.expected_log)})"
            )
        expected_text = self.expected_text
        docs = self.spark.read.parquet(os.path.join(rep["docs_dir"], "documents.parquet"))
        got = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
        if got != expected_text:
            bad = sum(1 for d, t in expected_text.items() if got.get(d) != t)
            errors.append(f"corpus_pipeline: {bad} extracted texts differ (of {len(expected_text)})")
        # documents are deterministic (checked above), so the oracle runs
        # once per run, on the first repetition's documents
        if self.oracle is None:
            self.oracle = self._oracle(rep["docs_dir"])
        for key in QUERY_KEYS:
            if _canon(*rep["query_rows"][key]) != _canon(*self.oracle[key]):
                errors.append(f"corpus_pipeline: {key} differs from its DuckDB oracle")
        return errors

    def probe_layers(self, rep: dict, tracer) -> dict:
        from pyspark.sql import functions as F

        from apollo_service_spark.functions.udfs import extract_text_udf
        from apollo_service_spark.sources.warc import read_warc

        out = super().probe_layers(rep, tracer)
        spark = self.spark

        warc_dir = self.warc_dir
        records = read_warc(spark, warc_dir)
        out["warc.parse_s"] = _timed_noop(records)
        out["warc.records"] = float(records.count())
        out["warc.bytes"] = float(dir_bytes(warc_dir))
        html_path = os.path.join(self.dir, "probe", "html")
        self.pages.select("html").filter(F.col("html").isNotNull()).write.mode(
            "overwrite"
        ).parquet(html_path)
        out["udfs.extract_text_s"] = _timed_noop(
            spark.read.parquet(html_path).select(extract_text_udf(F.col("html")))
        )
        docs = spark.read.parquet(os.path.join(rep["docs_dir"], "documents.parquet"))
        out["udfs.text_chars"] = float(docs.agg(F.sum("n_chars")).first()[0])
        for key in QUERY_KEYS:
            out[f"queries.{key}_s"] = tracer.total(f"queries.{key}")
            out[f"queries.{key}.rows"] = float(len(rep["query_rows"][key][1]))
        return out


WORKLOADS = {w.name: w for w in (CrawlWide, CorpusPipeline)}
