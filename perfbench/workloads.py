"""The benchmark workloads.

Each workload prepares its inputs and expected outputs from the
workload seed (Spark-free, cached), warms a session up so the timed
units run compiled plans, and runs timed units of work. A unit times its
segments with a ``Meter`` and checks its own outputs outside them.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from contextlib import contextmanager, nullcontext

import numpy as np

from . import inputs as I
from .proc import dir_mb, tree_cpu_s
from .trace import PROJ_QUERIES, SERP_PAGES

# The crawl workloads run the corpus.BENCH shape (450k pages, 64 hosts,
# 300-word bodies) on a 12k-page store. Every size-dependent knob is scaled
# with the store, so each scan splits and each join picks its strategy as at
# full scale: the program's broadcast threshold and maximum partition bytes
# (read from the session, so a change to them in session.py shows here) and
# the row groups of the page and image files. Seeds are not scaled alike:
# crawl_wide crawls 600 seeds (BENCH: 90k, so 1/150 against the store's
# 1/45), and its seen set covers ~1/3 of the store against ~3/4 at full
# scale; 2,700 seeds would make a unit several times longer.
SCALE = 12000 / 450000
SCALED_CONF = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.files.maxPartitionBytes")

ORDER_COLS = ("seed_id", "step", "url", "depth")
ENTITY_COLS = ("seed_id", "kind", "ord", "value")


class Meter:
    """Wall time, process-tree CPU and time windows of a unit's timed segments."""

    def __init__(self):
        self.wall_s = 0.0
        self.cpu_s = 0.0
        self.windows: list[tuple[float, float]] = []

    @contextmanager
    def timed(self):
        pid = os.getpid()
        c0 = tree_cpu_s(pid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.cpu_s += tree_cpu_s(pid) - c0
            self.wall_s += t1 - t0
            self.windows.append((t0, t1))


def scale_conf(spark) -> dict[str, dict]:
    """Scale SCALED_CONF, as the program's session set them, by SCALE."""
    out = {}
    for key in SCALED_CONF:
        program = spark.conf.get(key)
        bench = max(1, int(I.parse_bytes(program) * SCALE))
        spark.conf.set(key, str(bench))
        out[key] = {"program": program, "benchmark": bench}
    return out


def restore_conf(spark, scaled: dict[str, dict]) -> None:
    """Undo scale_conf."""
    for key, v in scaled.items():
        spark.conf.set(key, v["program"])


def df_digest(df, cols) -> dict:
    """Spark twin of inputs.rows_digest over the given columns."""
    from pyspark.sql import functions as F

    # str(None) on the Python side
    key = F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("None")) for c in cols])
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(20,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).collect()[0]
    return {"rows": int(row["n"]), "sum": str(int(row["s"] or 0))}


def no_span(name, layer, **attrs):
    return nullcontext()


class Workload:
    name = ""
    # workloads a traced run of this one also traces, after its own unit
    traced_passes: tuple[type, ...] = ()
    # the layers this workload reports when it runs as a traced pass
    layers: tuple[str, ...] = ()

    def __init__(self, tmp_root: str):
        self.tmp_root = tmp_root
        # the traced run swaps in Tracer.span to cover the benchmark's own calls
        self.span = no_span
        self.record: dict = {}
        self.max_units: int | None = None

    def _fresh_dir(self) -> str:
        d = os.path.join(self.tmp_root, f"wh-{uuid.uuid4().hex[:8]}")
        os.makedirs(d)
        return d

    def prepare(self, seed: int) -> None:
        raise NotImplementedError

    def configure(self, spark) -> dict:
        """Session settings of the workload, applied before the warm-up."""
        return {}

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def unit(self, spark, meter: Meter) -> dict:
        """Run one unit. Returns unit_wall_s, items, ok and problems; a
        crawl unit also seen_rows and warehouse_mb."""
        raise NotImplementedError


# ---------------------------------------------------------------- crawl


def _store(params) -> dict[str, str]:
    from scrapeulous_spark.sources.corpus import ensure_corpus

    return I.scaled_store(ensure_corpus(params), params.tag, SCALE)


class Crawl(Workload):
    def configure(self, spark) -> dict:
        return scale_conf(spark)


def _draw(rng: np.random.Generator, urls: list[str], n: int) -> list[str]:
    return [urls[i] for i in sorted(rng.choice(len(urls), n, replace=False))]


class CrawlWide(Crawl):
    """Reference-exact social crawl (link_depth=1, image validation on)."""

    name = "crawl_wide"
    SEEDS = 600
    # the warm-up crawls fewer seeds over the same store: its joins see the
    # same store-side sizes, so it compiles the plans the timed unit runs
    WARM_SEEDS = 50

    @staticmethod
    def params():
        from scrapeulous_spark.sources.corpus import CorpusParams

        return CorpusParams(
            n_images=1500, n_hosts=64, n_pages=12000, n_seeds=2,
            img_w=48, img_h=32, max_links=20, body_filler_words=300,
        )

    def prepare(self, seed: int) -> None:
        from scrapeulous_spark.plans.oracle import run_oracle

        store = _store(self.params())
        d = I.seed_dir(self.name, seed)
        seeds_path = os.path.join(d, "seeds.parquet")
        warm_path = os.path.join(d, "warm_seeds.parquet")

        def build():
            rng, all_urls = np.random.default_rng(seed), I.page_urls(store)
            urls = _draw(rng, all_urls, self.SEEDS)
            I.write_seeds(warm_path, _draw(rng, all_urls, self.WARM_SEEDS))
            urls.append("not a valid url")  # the invalid-seed path
            I.write_seeds(seeds_path, urls)
            pages, budgets, robots = I.oracle_inputs(store)
            res = run_oracle(pages, list(enumerate(urls)), budgets, robots)
            return {
                "crawl_order": I.rows_digest(res.crawl_order),
                "seen": I.rows_digest((u,) for u in res.seen_set),
                "entities": I.rows_digest(res.entities),
            }

        self.expected = I.cached_json(os.path.join(d, "expected.json"), build)
        self.paths = {**store, "seeds": seeds_path}
        self.warm_paths = {**store, "seeds": warm_path}
        self.record = {
            "corpus": self.params().tag,
            "seeds": self.SEEDS,
            "seeds_md5": I.file_digest(seeds_path),
            "expected": self.expected,
        }

    def _crawl(self, spark, wh, paths):
        from scrapeulous_spark.plans.loop import CrawlEngine

        eng = CrawlEngine(spark, wh, paths, link_depth=1, validate_images=True)
        eng.run()
        with self.span("result.count", "result"):
            n_order = eng.result_crawl_order().count()
            n_seen = eng.result_seen().count()
        return eng, n_order, n_seen

    def warmup(self, spark) -> None:
        wh = self._fresh_dir()
        self._crawl(spark, wh, self.warm_paths)
        shutil.rmtree(wh, ignore_errors=True)

    def unit(self, spark, meter: Meter) -> dict:
        wh = self._fresh_dir()
        with meter.timed():
            eng, n_order, n_seen = self._crawl(spark, wh, self.paths)
        got = {
            "crawl_order": df_digest(eng.result_crawl_order(), ORDER_COLS),
            "seen": df_digest(eng.result_seen(), ("url",)),
            "entities": df_digest(eng.result_entities(), ENTITY_COLS),
        }
        problems = [k for k in got if got[k] != self.expected[k]]
        if n_order != self.expected["crawl_order"]["rows"]:
            problems.append("fetched url count")
        mb = dir_mb(wh)
        shutil.rmtree(wh, ignore_errors=True)
        return {
            "unit_wall_s": meter.wall_s,
            "items": n_order,
            "ok": not problems,
            "problems": problems,
            "seen_rows": n_seen,
            "warehouse_mb": mb,
        }


class RecrawlDeep(Crawl):
    """A long-lived warehouse: seen preloaded with history above the
    broadcast threshold, then one round per unit, each
    forget -> new_round -> run(resume=True) over a fresh seed slice."""

    name = "recrawl_deep"
    HISTORY = 300_000  # 25 urls of history per page-store url
    HISTORY_INSIDE = 6_000  # of them from the page store, so some are found again
    # seeds per round. The set-up runs a small round 0 against the full
    # history, which compiles the plans of the timed round 1 (the tiny WARM
    # corpus would broadcast the seen join instead)
    ROUND_SEEDS = (30, 250)
    WARM_ROUNDS = 1
    TIMED_ROUNDS = 1  # a run times (or traces) exactly this many rounds
    ROUNDS = WARM_ROUNDS + TIMED_ROUNDS
    HISTORY_COMMITS = 2  # the history arrives as this many seen snapshots
    FORGET = 3_000
    LINK_DEPTH = 2

    @staticmethod
    def params():
        from scrapeulous_spark.sources.corpus import CorpusParams

        return CorpusParams(
            n_images=16, n_hosts=64, n_pages=12000, n_seeds=2, max_links=20,
            body_filler_words=0,
        )

    def prepare(self, seed: int) -> None:
        from scrapeulous_spark.plans.oracle import run_oracle_bfs

        store = _store(self.params())
        d = I.seed_dir(self.name, seed)
        hist_path = os.path.join(d, "history.parquet")
        seed_paths = [os.path.join(d, f"seeds{r}.parquet") for r in range(self.ROUNDS)]
        forget_paths = [os.path.join(d, f"forget{r}.parquet") for r in range(self.ROUNDS)]

        def build():
            rng = np.random.default_rng(seed)
            urls = I.page_urls(store)
            perm = rng.permutation(len(urls))
            ends = np.cumsum(self.ROUND_SEEDS)
            round_urls = [
                [urls[i] for i in sorted(perm[end - n : end])] for n, end in zip(self.ROUND_SEEDS, ends)
            ]
            inside = [urls[i] for i in perm[ends[-1] :][: self.HISTORY_INSIDE]]
            history = inside + [
                f"http://arch{j % 89}.example.net/archive/s{seed}/page-{j}.html"
                for j in range(self.HISTORY - len(inside))
            ]
            I.write_urls(hist_path, history)
            pages, budgets, robots = I.oracle_inputs(store)
            effective, pool, rounds = set(history), list(history), []
            for r in range(self.ROUNDS):
                forget = [pool[i] for i in sorted(rng.choice(len(pool), self.FORGET, replace=False))]
                I.write_urls(forget_paths[r], forget)
                first_id = r * 1_000_000
                I.write_seeds(seed_paths[r], round_urls[r], first_id)
                res = run_oracle_bfs(
                    pages,
                    list(enumerate(round_urls[r], start=first_id)),
                    budgets,
                    robots,
                    link_depth=self.LINK_DEPTH,
                )
                effective.difference_update(forget)
                effective.update(res.seen_set)
                pool.extend(res.seen_set)
                rounds.append(
                    {
                        "crawl_order": I.rows_digest(res.crawl_order),
                        "seen": I.rows_digest((u,) for u in effective),
                    }
                )
            return {"rounds": rounds}

        self.expected = I.cached_json(os.path.join(d, "expected.json"), build)
        self.max_units = self.TIMED_ROUNDS
        self.hist_path = hist_path
        self.round_paths = [{**store, "seeds": p} for p in seed_paths]
        self.forget_paths = forget_paths
        self.record = {
            "corpus": self.params().tag,
            "history": self.HISTORY,
            "round_seeds": list(self.ROUND_SEEDS),
            "history_md5": I.file_digest(hist_path),
            "expected": self.expected,
        }

    @staticmethod
    def _preload(wh, urls_df) -> None:
        from scrapeulous_spark.plans.loop import SEEN
        from scrapeulous_spark.sources.tables import SnapshotTable

        SnapshotTable(wh, "seen", SEEN).append(urls_df, lineage={"stage": "history"})

    def _next_round(self, spark):
        from scrapeulous_spark.plans.loop import CrawlEngine

        r = self.round
        self.round += 1
        eng = CrawlEngine(
            spark, self.wh, self.round_paths[r], link_depth=self.LINK_DEPTH, validate_images=False
        )
        eng.forget(spark.read.parquet(self.forget_paths[r]))
        eng.new_round()
        eng.run(resume=True)
        with self.span("result.count", "result"):
            n_order = eng.result_crawl_order().count()
            n_seen = eng.result_seen().count()
        return r, eng, n_order, n_seen

    def warmup(self, spark) -> None:
        """The long-lived warehouse: the history preloaded, then the
        warm-up rounds."""
        from pyspark.sql import functions as F

        self.wh = self._fresh_dir()
        t = time.time()
        hist = spark.read.parquet(self.hist_path)
        for k in range(self.HISTORY_COMMITS):
            self._preload(self.wh, hist.filter(F.abs(F.hash("url")) % self.HISTORY_COMMITS == k))
        self.record["preload_s"] = time.time() - t
        self.round = 0
        for _ in range(self.WARM_ROUNDS):
            self._next_round(spark)

    def unit(self, spark, meter: Meter) -> dict:
        with meter.timed():
            r, eng, n_order, n_seen = self._next_round(spark)
        want = self.expected["rounds"][r]
        problems = []
        if df_digest(eng.result_crawl_order(), ORDER_COLS) != want["crawl_order"]:
            problems.append(f"round {r} crawl_order")
        if df_digest(eng.result_seen(), ("url",)) != want["seen"]:
            problems.append(f"round {r} seen")
        return {
            "unit_wall_s": meter.wall_s,
            "items": n_order,
            "round": r,
            "ok": not problems,
            "problems": problems,
            "seen_rows": n_seen,
            "warehouse_mb": dir_mb(self.wh),
        }


# ------------------------------------------------------------- analytics

SERP_COLS = ("keyword", "page_num", "url", "status", "blocked_ip", "n_organic")


class Analytics(Workload):
    """Read-only SERP analytics, no warehouse: the 18 proj_* extractors of
    the catalog to a noop sink, then SerpPaginationEngine over a store of
    distinct keywords."""

    name = "analytics"
    layers = ("serp.", "catalog.")
    # 250 relabeled copies of the 48 google pages of the 16-keyword SERP
    # store: 12,000 pages. The store has only 16 distinct keywords, so
    # growing it with SerpParams.n_kw would repeat urls instead.
    COPIES = 250
    KEYWORDS = 16

    def prepare(self, seed: int) -> None:
        from scrapeulous_spark.operators import load_all_catalogs
        from scrapeulous_spark.plans.serp_loop import run_serp_oracle
        from scrapeulous_spark.sources.serp_corpus import SerpParams, ensure_serp_corpus

        reg = load_all_catalogs()
        names = tuple(sorted(n for n in reg if n.startswith("proj_")))
        if names != PROJ_QUERIES:
            raise RuntimeError(f"the catalog's proj_* queries changed: {names}")
        self.queries = {n: reg[n] for n in names}

        def proj_expected():
            import duckdb

            con = duckdb.connect()
            return {n: I.frame_digest(con.sql(reg[n].oracle).df()) for n in names}

        base = ensure_serp_corpus(SerpParams(n_kw=self.KEYWORDS))
        d = I.seed_dir(self.name, seed)
        self.store = os.path.join(d, "serps.parquet")

        def build():
            rows = I.relabeled_serps(base, self.store, self.COPIES, seed)
            return I.rows_digest(run_serp_oracle(rows, SERP_PAGES))

        self.expected = {
            # the extractors read the package's own SERP store: one
            # expectation for every seed
            "proj": I.cached_json(os.path.join(I.seed_dir(self.name, "all"), "proj.json"), proj_expected),
            "pagination": I.cached_json(os.path.join(d, "expected.json"), build),
        }
        self.record = {
            "serp_pages": self.COPIES * self.KEYWORDS * SERP_PAGES,
            "store_md5": I.file_digest(self.store),
            "expected": self.expected,
        }

    def _run(self, spark, keywords: int | None = None):
        from scrapeulous_spark.plans.serp_loop import SerpPaginationEngine

        for name, q in self.queries.items():
            with self.span(f"catalog.{name}", "catalog"):
                q.spark(spark, "").write.format("noop").mode("overwrite").save()
        with self.span("serp.count", "serp"):
            eng = SerpPaginationEngine(spark, self.store, num_pages=SERP_PAGES)
            res = eng.run(eng.seeds().limit(keywords) if keywords else None)
            pages = res.count()
        return res, pages

    def warmup(self, spark) -> None:
        # the extractors in full, the pagination from a few keywords: the
        # same plans over a smaller state
        self._run(spark, keywords=self.KEYWORDS)

    def unit(self, spark, meter: Meter) -> dict:
        with meter.timed():
            res, pages = self._run(spark)
        problems = []
        if df_digest(res, SERP_COLS) != self.expected["pagination"]:
            problems.append("pagination")
        for name, q in self.queries.items():
            if I.frame_digest(q.spark(spark, "").toPandas()) != self.expected["proj"][name]:
                problems.append(name)
        return {
            "unit_wall_s": meter.wall_s,
            "items": pages,
            "serp_pages": pages,
            "ok": not problems,
            "problems": problems,
        }


# The analytics workload is not one of the benchmark's workloads: a third
# workload's runs do not fit the benchmark's time budget (LAYERS.md).
# Traced crawl_wide runs measure its layers instead.
CrawlWide.traced_passes = (Analytics,)

WORKLOADS = {w.name: w for w in (CrawlWide, RecrawlDeep)}
