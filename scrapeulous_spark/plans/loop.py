"""Superstep crawl driver — the engine's main loop.

Each superstep is one batch round over snapshot tables (SURVEY.md §3.3):

    frontier ──anti-join seen──► eligible ──robots/budget──► scheduled
       ▲                                                        │ fetch (join page store)
       └── MERGE new links ◄── expand/clean/dedup ◄── pages ────┤
                                                                └► entities, payload report

Checkpoints: every table commit is a snapshot (tables.py); engine state
(superstep counter) is saved after each superstep, so a killed run
resumes from the last committed snapshot pair and produces
byte-identical results (tested in test_resume.py).

Determinism: all ordering lives in explicit keys (seed_id, step,
first_pos) — never in partition layout — so crawl_order and seen_set
are invariant under any local[N] (the two-cluster-size
criterion evidence).
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import urls as U
from ..operators.extract import dedup_entities, extract_entities_raw, seed_page_titles
from ..operators.fetch import fetch_join, payload_join, validate_payloads
from ..operators.frontier import expand_candidates, schedule_pops
from ..sources.tables import Warehouse

CRAWL_ORDER = T.StructType(
    [
        T.StructField("seed_id", T.LongType()),
        T.StructField("step", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("fetch_ok", T.BooleanType()),
    ]
)
SEEN = T.StructType([T.StructField("url", T.StringType())])
ENTITIES = T.StructType(
    [
        T.StructField("seed_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("ord", T.IntegerType()),
        T.StructField("value", T.StringType()),
    ]
)
ENTITIES_RAW = T.StructType(
    [
        T.StructField("seed_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("page_order", T.IntegerType()),
        T.StructField("match_pos", T.IntegerType()),
        T.StructField("value", T.StringType()),
    ]
)
FRONTIER = T.StructType(
    [
        T.StructField("seed_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("first_pos", T.LongType()),
        T.StructField("depth", T.IntegerType()),
        # salted storage-partition key (salting.py): hash(host) for cold
        # hosts, hash(host, url) for hot ones — never an ordering key
        T.StructField("host_bucket", T.IntegerType()),
    ]
)
# per-seed enqueued/visited set — the multi-depth anti-join target
SEEN_PAIRS = T.StructType(
    [
        T.StructField("seed_id", T.LongType()),
        T.StructField("url", T.StringType()),
    ]
)
PAYLOAD_REPORT = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("psnr_db", T.DoubleType()),
        T.StructField("phash_recomputed", T.LongType()),
        T.StructField("phash_match", T.BooleanType()),
        T.StructField("pixels_allclose", T.BooleanType()),
        T.StructField("caption_match", T.BooleanType()),
    ]
)
BLOOM = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("bits", T.BinaryType()),
    ]
)
# tombstone sidecar: forgotten urls (recrawl/expiry), always a subset of seen
DELETED = T.StructType([T.StructField("url", T.StringType())])
METRICS = T.StructType(
    [
        T.StructField("superstep", T.IntegerType()),
        T.StructField("stage", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("rows", T.LongType()),
        T.StructField("ok_rows", T.LongType()),
        T.StructField("body_bytes", T.LongType()),
        T.StructField("wall_ms", T.DoubleType()),
    ]
)


class CrawlEngine:
    """Batch-iterative crawl engine over a snapshot-table warehouse."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        corpus_paths: dict[str, str],
        link_depth: int = 1,
        validate_images: bool = True,
        use_bloom: bool = False,
        bloom_buckets: int = 64,
        bloom_bits: int = 1 << 20,
        bloom_k: int = 4,
        frontier_buckets: int = 32,
        salt_hot_hosts: bool = True,
        broadcast_sched_keys: bool = True,
    ):
        self.spark = spark
        self.wh = Warehouse(warehouse_root)
        self.paths = corpus_paths
        self.link_depth = link_depth
        self.validate_images = validate_images
        self.use_bloom = use_bloom
        self.frontier_buckets = frontier_buckets
        self.salt_hot_hosts = salt_hot_hosts
        self.bloom_params = {"n_buckets": bloom_buckets, "n_bits": bloom_bits, "k": bloom_k}
        # broadcast the scheduled-keys side of the payload joins so the
        # body column streams from the scan with no exchange. Right
        # whenever one superstep's scheduled batch fits a broadcast
        # (~10M keys); beyond that turn it off and AQE plans the
        # shuffle join — the flag exists because at a true 10^10
        # frontier a single round CAN exceed broadcast limits.
        self.broadcast_sched_keys = broadcast_sched_keys
        self.bloom = self.wh.table("bloom", BLOOM)
        self.deleted = self.wh.table("deleted", DELETED)
        self.crawl_order = self.wh.table("crawl_order", CRAWL_ORDER)
        self.seen = self.wh.table("seen", SEEN)
        self.entities = self.wh.table("entities", ENTITIES)
        self.entities_raw = self.wh.table("entities_raw", ENTITIES_RAW)
        self.frontier = self.wh.table("frontier", FRONTIER)
        self.seen_pairs = self.wh.table("seen_pairs", SEEN_PAIRS)
        self.payload_report = self.wh.table("payload_report", PAYLOAD_REPORT)
        self.metrics = self.wh.table("metrics", METRICS)
        # one background driver thread: each superstep's CPU-dense
        # extraction job runs concurrently with the latency-bound
        # metadata commits (frontier write, seen MERGE). Results are
        # unaffected — both branches read only already-persisted
        # DataFrames and commit to DISJOINT tables; FAIR pools
        # (session.py) let the small jobs' tasks fill slots the big
        # job's stragglers leave idle. Checkpoints happen after join().
        # three workers: at the terminal superstep the extraction job,
        # the early-forked payload validation, and the frontier drain
        # commit can all be in flight at once
        self._pool = ThreadPoolExecutor(max_workers=3)
        self._validate_fut = None
        self._inputs: dict[str, DataFrame] = {}
        self._inputs_lock = threading.Lock()  # _read runs on the overlap threads too

    def _overlap(self, fn, *args, pool: str = "extract", **kwargs):
        """Run fn on a background thread in its own FAIR pool."""

        def task():
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", pool
            )
            return fn(*args, **kwargs)

        return self._pool.submit(task)

    # ------------------------------------------------------------ inputs

    def _read(self, name: str) -> DataFrame:
        """The corpus input ``name``, read once per engine: every
        ``spark.read.parquet`` runs a schema-inference job."""
        with self._inputs_lock:
            if name not in self._inputs:
                self._inputs[name] = self.spark.read.parquet(self.paths[name])
            return self._inputs[name]

    # ----------------------------------------------------------- metrics

    def _record_metrics(self, superstep: int, stage: str, df: DataFrame, wall_ms: float):
        body_bytes = (
            F.coalesce(F.sum(F.length("body").cast("long")), F.lit(0))
            if "body" in df.columns
            else F.lit(0).cast("long")
        )
        m = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(F.sum(F.col("fetch_ok").cast("long")), F.lit(0)).alias("ok_rows"),
                body_bytes.alias("body_bytes"),
            )
            .select(
                F.lit(superstep).alias("superstep"),
                F.lit(stage).alias("stage"),
                "partition_id",
                "rows",
                "ok_rows",
                "body_bytes",
                F.lit(wall_ms).alias("wall_ms"),
            )
        )
        self.metrics.append(m, lineage={"superstep": superstep, "stage": stage})

    def _hot_hosts(self, hosts: DataFrame, total: int) -> list[str]:
        """Hot-host detection over a persisted, already-counted source —
        never a second pass over the unmaterialized expansion (measured:
        re-deriving the candidate set just to count hosts cost ~60% of
        crawl wall). ``total`` is that source's row count, which the
        loop has just taken to materialize it, so the detection is one
        action (salting.detect_hot_hosts). At depth 0 the source is the
        cached candidate set itself, the exact histogram of the frontier
        being written. At deeper depths it is the cached depth-d
        scheduling window, one row per frontier row."""
        if not self.salt_hot_hosts:
            return []
        from ..operators.salting import detect_hot_hosts

        return detect_hot_hosts(hosts, self.frontier_buckets, total)

    def _write_frontier(self, cands: DataFrame, lineage: dict, hot: list[str]) -> None:
        """Commit the frontier with salted host-bucket partitioning
        (salting.py; north-rule skew handling): hot hosts spread
        uniformly over all buckets, cold hosts colocated. The
        repartition on host_bucket makes the write one balanced file
        per bucket; the hive-partitioned layout makes per-bucket reads
        directory-pruned. Single-pass: bucket stamping is a pure
        projection and `hot` comes from _hot_hosts' cheap source."""
        from ..operators.salting import with_host_bucket

        out = with_host_bucket(cands, self.frontier_buckets, hot)
        self.frontier.overwrite(
            out.repartition(self.frontier_buckets, F.col("host_bucket")).select(
                *[f.name for f in FRONTIER.fields]
            ),
            lineage={**lineage, "hot_hosts": hot},
            partition_by="host_bucket",
        )

    def _has_tombstones(self) -> bool:
        """Driver-side manifest peek — NO Spark job. The default crawl
        (no forget() calls) must not pay any per-superstep cost for the
        deletion sidecar's existence."""
        cur = self.deleted.current()
        return bool(cur and cur["dirs"])

    def _update_seen(self, urls: DataFrame, superstep: int):
        """Exact seen-set MERGE: the effective seen set (seen minus the
        ``deleted`` tombstones) becomes itself plus ``urls``.

        Invariant: ``deleted ⊆ seen``. forget() only tombstones urls
        already in seen, seen is append-only, and both tables roll back
        together. So with ``cand`` the distinct candidate urls:

          * the rows to append are exactly ``cand \\ seen``, planned on
            the small side (seen.new_urls_exact): ``hits = seen ⋉
            broadcast(cand)``, then ``cand ▷ broadcast(hits)``. ``seen``
            streams through one scan; it is never shuffled or broadcast;
          * the tombstones to drop (resurrection: a forgotten url is
            found again) are exactly ``deleted ⋉ broadcast(cand)``. The
            big seen table is never rewritten; ``deleted`` is rewritten
            once, as ``deleted ▷ broadcast(cand)``, and only when that
            set is non-empty.

        With use_bloom, the Bloom filter prunes the probe: only its
        maybe-seen candidates meet ``seen`` (_append_seen_bloom).
        forget() cannot make it stale for this question, because seen
        only grows (tombstoned urls stay in it). Tombstones need no
        filter: ``deleted`` is small, and the join above is exact.
        Exactness never depends on the filter: its false positives are
        rescued by the confirming join (tests/test_seen_bloom.py,
        tests/test_recrawl.py)."""
        from ..operators.seen import new_urls_exact

        cand = urls.select("url")
        seen = self.seen.read(self.spark)
        if self.use_bloom:
            self._append_seen_bloom(cand, seen, superstep)
        else:
            self.seen.append(new_urls_exact(cand, seen), lineage={"superstep": superstep})
        if self._has_tombstones():
            deleted = self.deleted.read(self.spark)
            if not deleted.join(F.broadcast(cand), "url", "left_semi").isEmpty():
                self.deleted.overwrite(
                    deleted.join(F.broadcast(cand), "url", "left_anti"),
                    lineage={"superstep": superstep, "stage": "resurrect"},
                )

    def _append_seen_bloom(self, cand: DataFrame, seen: DataFrame, superstep: int):
        """The filter path of _update_seen: append ``cand \\ seen``
        with the Bloom prefilter, then OR-merge a delta of the appended
        urls into the filter. The filter's lineage records the seen
        snapshot it covers. A filter built from another snapshot (or
        never: the warehouse ran without it) would miss the urls
        appended since, so it is rebuilt from the whole seen table
        before it is probed."""
        from ..operators.seen import bloom_build, bloom_merge, new_urls_exact

        p = self.bloom_params
        covered = ((self.bloom.current() or {}).get("lineage") or {}).get("seen_snapshot", 0)
        if covered == (self.seen.current() or {"snapshot_id": 0})["snapshot_id"]:
            bloom = self.bloom.read(self.spark)
        else:
            bloom = bloom_build(seen, **p).persist()  # probed, then merged
        new = new_urls_exact(cand, seen, bloom=bloom, **p).persist()
        snap = self.seen.append(new, lineage={"superstep": superstep})
        self.bloom.overwrite(
            bloom_merge(bloom, bloom_build(new, **p), n_bits=p["n_bits"]),
            lineage={
                "superstep": superstep,
                "stage": "bloom_merge",
                "seen_snapshot": snap["snapshot_id"],
            },
        )
        new.unpersist()
        bloom.unpersist()

    # ------------------------------------------------------ recrawl/expiry

    def forget(self, urls: DataFrame) -> None:
        """Tombstone previously-seen URLs so a later crawl re-admits and
        re-fetches them (recrawl/expiry — the deletion the append-only
        seen table and its Bloom filter cannot express).

        The new tombstone set is ``seen ⋉ broadcast(urls ∪ deleted)``:
        a never-seen url is dropped, and since ``deleted ⊆ seen`` the
        result is exactly the old tombstones plus the newly forgotten
        urls, each once, with no distinct. One scan of ``seen``, no
        shuffle of it, and one overwrite of the small ``deleted`` table;
        the big append-only ``seen`` table is never rewritten."""
        keys = urls.select("url")
        if self._has_tombstones():
            keys = keys.unionByName(self.deleted.read(self.spark))
        self.deleted.overwrite(
            self.seen.read(self.spark).join(F.broadcast(keys), "url", "left_semi"),
            lineage={"stage": "forget"},
        )

    # --------------------------------------------------------- supersteps

    def _superstep_seeds(self):
        """Seed fetch superstep. Returns a finish() closure that drains
        the extraction future, records metrics, and releases caches —
        run() calls it only after overlapping the next depth's
        scheduling compute under the extraction drain."""
        t0 = time.time()
        seeds = self._read("seeds")
        pages = self._read("pages")
        robots = self._read("robots")

        is_valid = F.col("url").startswith("http://") | F.col("url").startswith("https://")
        invalid = seeds.filter(~is_valid)

        # metadata-only fetch: scheduling/bookkeeping never touches the
        # payload columns (body/out_links are ~95% of page-store bytes);
        # parquet column pruning keeps this join to a few MB
        meta_cols = ("url", "status", "fetch_ms", "title")
        fetched = fetch_join(
            seeds.filter(is_valid).select("seed_id", "url"), pages, columns=meta_cols
        ).persist()
        self.crawl_order.append(
            fetched.select(
                "seed_id",
                F.lit(0).cast("long").alias("step"),
                "url",
                F.lit(0).alias("depth"),
                "fetch_ok",
            ),
            lineage={"superstep": 0},
        )
        ok = fetched.filter("fetch_ok")
        ok_keys = ok.select("seed_id", "url")
        # the two payload consumers read DISJOINT heavy columns, so each
        # gets its own column-pruned equi-join off the cached key set
        # (fetched is materialized by the crawl_order append above):
        # extraction scans `body`, expansion scans `out_links`. Both
        # joins broadcast the small key side (see fetch.payload_join)
        # and run concurrently on FAIR pools — no shared cached join,
        # so no serial persist+count pass over the body bytes on the
        # critical path, and no executor-memory pressure from caching
        # ~95% of the page-store bytes.

        # entity matches from seed pages (page_order 0) — the CPU-dense
        # regex job runs on the background thread, overlapping all the
        # metadata-scale commits below (titles, frontier, seen)
        raw = extract_entities_raw(
            payload_join(
                ok_keys, pages, broadcast=self.broadcast_sched_keys,
                columns=("url", "body"),
            ).select("seed_id", F.lit(0).alias("page_order"), "body")
        )
        extract_fut = self._overlap(
            self.entities_raw.append, raw, lineage={"superstep": 0}
        )
        # small entity commits come AFTER the fork — nothing before the
        # extraction job's submission but its own inputs. One commit:
        # invalid-url markers and page titles go to the same table.
        self.entities.append(
            invalid.select(
                "seed_id",
                F.lit("invalid_url").alias("kind"),
                F.lit(0).alias("ord"),
                F.col("url").alias("value"),
            ).unionByName(seed_page_titles(ok.select("seed_id", "title"))),
            lineage={"superstep": 0, "stage": "seed_entities"},
        )

        # frontier expansion (depth-1 gate: only when link_depth > 0,
        # social.js:67-76 — from the seed page, NO seen anti-join: the
        # reference dedups only within the candidate list, the seed url
        # itself may re-enter the frontier)
        frontier_fut = None
        cands = None
        if self.link_depth > 0:
            ok_links = payload_join(
                ok_keys, pages, broadcast=self.broadcast_sched_keys,
                columns=("url", "out_links"),
            ).select("seed_id", "url", "out_links")
            cands = (
                expand_candidates(ok_links, robots)
                .withColumn("depth", F.lit(1))
                .persist()
            )
            # materialize ONCE: the commit thread, hot-host detection and
            # the seen/seen_pairs unions below all read this cache
            n_cands = cands.count()
            hot = self._hot_hosts(cands.select("host"), n_cands)
            # the frontier commit runs on its own pool: nothing below
            # reads the TABLE (the seen/seen_pairs unions take the same
            # rows from the in-memory cands plan, which is what the
            # write materializes) — only the next depth's scheduling
            # precompute does, and run() joins this future first
            frontier_fut = self._overlap(
                self._write_frontier,
                cands,
                lineage={"superstep": 0},
                hot=hot,
                pool="commit",
            )
        cand_urls = (
            cands.select("url")
            if self.link_depth > 0
            else self.spark.createDataFrame([], "url string")
        )
        # per-seed visited set = normalized seed url ∪ enqueued candidates.
        # Only the multi-depth extension ever anti-joins against it
        # (expansion at depth d reads it only when d < link_depth), so at
        # reference semantics (link_depth == 1) skip the write entirely.
        if self.link_depth > 1:
            self.seen_pairs.append(
                fetched.select("seed_id", U.normalize_col(F.col("url")).alias("url"))
                .unionByName(cands.select("seed_id", "url"))
                .distinct(),
                lineage={"superstep": 0},
            )
        self._update_seen(
            fetched.select(U.normalize_col(F.col("url")).alias("url")).unionByName(
                cand_urls
            ),
            superstep=0,
        )

        def finish():
            extract_fut.result()
            if frontier_fut is not None:
                frontier_fut.result()
            self._record_metrics(0, "seed_fetch", fetched, (time.time() - t0) * 1e3)
            if cands is not None:
                cands.unpersist()
            fetched.unpersist()

        return finish, frontier_fut

    def _sched_for_depth(self, d: int) -> tuple[DataFrame, int]:
        """Build and MATERIALIZE the depth-d scheduling window (persisted),
        returned with its row count (one row per depth-d frontier row).
        Pure reads of already-committed tables (frontier, crawl_order,
        page/budget stores) — no writes — so run() can compute it on the
        main thread while the previous superstep's extraction future
        drains, taking the scheduling shuffle off the critical path.
        Results are identical to computing it inside the superstep: no
        table the scheduler reads commits between the previous
        superstep's last append and this one's first."""
        pages = self._read("pages")
        budgets = self._read("budgets")
        frontier = self.frontier.read(self.spark).filter(F.col("depth") == d)
        order_so_far = self.crawl_order.read(self.spark)

        # global per-seed budget: successful non-seed fetches consumed so far
        used = (
            order_so_far.filter((F.col("depth") >= 1) & F.col("fetch_ok"))
            .groupBy("seed_id")
            .agg(F.count(F.lit(1)).alias("used_ok"))
        )
        # step numbering continues per seed
        offsets = order_so_far.groupBy("seed_id").agg(F.max("step").alias("step_offset"))

        # scheduling shuffles/sorts metadata only — the LIFO window must
        # never drag the payload columns through its exchange
        status = fetch_join(frontier, pages, columns=("url", "status"))
        sched = (
            schedule_pops(status, budgets, used=used)
            .join(offsets, "seed_id", "left")
            .withColumn(
                "step", F.col("pop_rank") + F.coalesce(F.col("step_offset"), F.lit(0))
            )
            .persist()
        )
        return sched, sched.count()

    def _superstep_depth(self, d: int, sched: DataFrame, n_sched: int):
        """Pop-and-fetch the depth-d frontier of the materialized
        scheduling window ``sched`` (``n_sched`` rows, from
        _sched_for_depth); expand into depth d+1 when d < link_depth
        (multi-depth engine extension; at d == 1 with link_depth == 1
        this is exactly the reference semantics). Returns a finish()
        closure like _superstep_seeds."""
        t0 = time.time()
        pages = self._read("pages")
        robots = self._read("robots")
        popped = sched.filter("scheduled")
        self.crawl_order.append(
            popped.select(
                "seed_id",
                F.col("step").cast("long").alias("step"),
                "url",
                F.lit(d).alias("depth"),
                "fetch_ok",
            ),
            lineage={"superstep": d},
        )
        if d == self.link_depth and self.validate_images:
            # crawl_order is COMPLETE as of the append above (no deeper
            # superstep fetches), which is payload validation's only
            # dependency on crawl state — fork it now so the Arrow
            # decode stage hides under this superstep's extraction job
            # instead of serializing after it in _finalize. Commit
            # safety: payload_report is this future's only sink; the
            # superstep checkpoint either records its commit (finalize
            # rerun overwrites idempotently) or predates it (resume
            # rolls the partial commit back and finalize reruns it).
            self._validate_fut = self._overlap(self._validate_payloads, pool="validate")
        # payload joins for the scheduled+ok rows only — broadcast the
        # scheduled keys for the same reason as the seeds superstep:
        # never shuffle the body column. Extraction and expansion read
        # DISJOINT heavy columns (body vs out_links), so each gets its
        # own column-pruned pipelined join — no shared cache, no serial
        # persist+count materialization pass (see fetch.payload_join).
        # each consumer broadcasts only the key columns it reads —
        # extraction needs step, expansion needs pop_rank; with both
        # broadcasts live concurrently (FAIR pools) near the ~10M-key
        # ceiling, two unneeded columns per broadcast is real memory
        ok_keys = popped.filter("fetch_ok").select("seed_id", "url", "step", "pop_rank")
        raw = extract_entities_raw(
            payload_join(
                ok_keys.select("seed_id", "url", "step"),
                pages,
                broadcast=self.broadcast_sched_keys,
                columns=("url", "body"),
            ).select("seed_id", F.col("step").cast("int").alias("page_order"), "body")
        )
        # overlap the regex job with expansion/drain + seen commits below
        extract_fut = self._overlap(
            self.entities_raw.append, raw, lineage={"superstep": d}
        )

        if d < self.link_depth:
            # expand: enqueue order = (parent pop order, DOM order);
            # exclude anything this seed already visited or enqueued
            parents = payload_join(
                ok_keys.select("seed_id", "url", "pop_rank"),
                pages,
                broadcast=self.broadcast_sched_keys,
                columns=("url", "out_links"),
            ).select(
                "seed_id", "url", "out_links", F.col("pop_rank").cast("long").alias("parent_rank")
            )
            cands = expand_candidates(parents, robots).join(
                self.seen_pairs.read(self.spark), ["seed_id", "url"], "left_anti"
            )
            nxt = cands.withColumn("depth", F.lit(d + 1)).persist()
            nxt.count()  # materialize ONCE: the commit thread and the
            # seen/seen_pairs unions below all read this cache
            # skew signal = the depth-d frontier's host histogram; sched
            # carries exactly one row per frontier row and is already
            # persisted, so read it from cache instead of re-scanning
            # the frontier table
            hot = self._hot_hosts(sched.select("host"), n_sched)
            frontier_fut = self._overlap(
                self._write_frontier,
                nxt,
                lineage={"superstep": d, "stage": "expand"},
                hot=hot,
                pool="commit",
            )
            self.seen_pairs.append(nxt.select("seed_id", "url"), lineage={"superstep": d})
            self._update_seen(nxt.select("url"), superstep=d)
        else:
            # terminal depth: budget-exhausted leftovers are drained.
            # Rows came off the partitioned frontier and keep their
            # host_bucket stamp; no restamp/reshuffle — single-pass write
            # with the bucket as a data column (the read path accepts
            # both layouts). Forked like the expansion write: it reads
            # only the persisted sched, and nothing in this run reads
            # the frontier table after the terminal drain.
            nxt = None
            frontier_fut = self._overlap(
                self.frontier.overwrite,
                sched.filter(~F.col("scheduled")).select(
                    *[f.name for f in FRONTIER.fields]
                ),
                lineage={"superstep": d, "stage": "drain"},
                pool="commit",
            )

        def finish():
            extract_fut.result()
            frontier_fut.result()
            self._record_metrics(d, f"depth{d}_fetch", sched, (time.time() - t0) * 1e3)
            if nxt is not None:
                nxt.unpersist()
            sched.unpersist()

        return finish, frontier_fut

    def _finalize(self):
        # per-kind first-occurrence dedup across all fetched pages,
        # overlapped with the independent payload-validation stage
        # (disjoint inputs: entities_raw table vs image corpus; disjoint
        # sinks: entities vs payload_report)
        final = dedup_entities(self.entities_raw.read(self.spark))
        entities_fut = self._overlap(
            self.entities.append, final, lineage={"stage": "finalize"}
        )
        if self.validate_images:
            if self._validate_fut is not None:
                # forked at the terminal superstep — just drain it
                self._validate_fut.result()
                self._validate_fut = None
            else:
                # resume past the terminal superstep, or early frontier
                # exhaustion skipped it: run inline
                self._validate_payloads()
        entities_fut.result()

    def _validate_payloads(self):
        """Payload invariants for every image embedded in a successfully
        fetched page (BASELINE.json input_hint invariants)."""
        pages = self._read("pages")
        images = self._read("images")
        fetched_urls = self.crawl_order.read(self.spark).filter("fetch_ok").select("url").distinct()
        embedded = (
            fetched_urls.join(pages.select("url", "image_id", "caption"), "url")
            .filter(F.col("image_id").isNotNull())
            .select("image_id", F.col("caption").alias("page_caption"))
            .distinct()
        )
        # broadcast the small (image_id, caption) side: the alternative
        # sort-merge join would shuffle the image BYTES column
        joined = images.join(F.broadcast(embedded), "image_id")
        caption = joined.select(
            "image_id", (F.col("page_caption") == F.col("caption")).alias("caption_match")
        )
        report = validate_payloads(
            joined.select("image_id", "bytes", "w", "h", "fmt", "phash")
        ).join(caption, "image_id")
        self.payload_report.overwrite(report, lineage={"stage": "payload_validate"})

    # --------------------------------------------------------------- run

    def _all_tables(self):
        return {
            "crawl_order": self.crawl_order,
            "seen": self.seen,
            "entities": self.entities,
            "entities_raw": self.entities_raw,
            "frontier": self.frontier,
            "seen_pairs": self.seen_pairs,
            "payload_report": self.payload_report,
            "bloom": self.bloom,
            "deleted": self.deleted,
            "metrics": self.metrics,
        }

    # tables whose state is GLOBAL across crawl rounds (the url-seen
    # world-state); everything else is per-round output
    KEEP_ACROSS_ROUNDS = ("seen", "bloom", "deleted")

    def new_round(self) -> None:
        """Begin a fresh crawl round over the same warehouse: truncate
        the per-round tables (crawl_order, frontier, entities, reports,
        metrics) but keep the global URL-seen state — seen/bloom plus
        the tombstone sidecar — so the next ``run(resume=True)``
        re-fetches everything yet appends to ``seen`` ONLY urls that
        are brand-new or were forget()-tombstoned (recrawl/expiry
        semantics). Round transitions are snapshot commits like any
        other: a crash between new_round() and run() resumes cleanly."""
        snaps = {}
        for name, t in self._all_tables().items():
            if name in self.KEEP_ACROSS_ROUNDS:
                snaps[name] = (t.current() or {"snapshot_id": 0})["snapshot_id"]
            else:
                t.rollback(0)
                snaps[name] = 0
        self.wh.save_state({"superstep": 0, "snapshots": snaps})

    def vacuum(self) -> None:
        """Expire non-current snapshots' data files on every table
        (Iceberg ``expire_snapshots`` analog). Time travel to older
        snapshots is gone after this; resume state still points at the
        current ones. Run between rounds at 10^10 scale or the
        superseded frontier/seen rewrites accumulate unboundedly."""
        for t in self._all_tables().values():
            t.vacuum()

    def _checkpoint(self, superstep: int) -> None:
        """Commit protocol: record the per-table snapshot ids reached at a
        superstep barrier. Resume rolls every table back to these ids, so a
        crash mid-superstep never duplicates appends."""
        snaps = {
            name: (t.current() or {"snapshot_id": 0})["snapshot_id"]
            for name, t in self._all_tables().items()
        }
        self.wh.save_state({"superstep": superstep, "snapshots": snaps})

    def run(self, resume: bool = False) -> None:
        """Superstep sequence: 0 = seeds, d = depth-d pops (1..link_depth,
        with early exit on an empty frontier), link_depth+1 = finalize.
        link_depth == 1 is reference-exact; deeper is the documented
        BFS-by-depth engine extension (verified against the extended
        oracle, run_oracle_bfs)."""
        state = (self.wh.load_state() if resume else None) or {"superstep": 0, "snapshots": {}}
        for name, t in self._all_tables().items():
            t.rollback(state["snapshots"].get(name, 0))
        # (finish_closure, checkpoint_id, frontier_future) of the
        # superstep whose extraction future is still draining — the next
        # superstep's scheduling window materializes on the main thread
        # UNDER that drain (pure reads — but it reads the frontier
        # TABLE, so the forked frontier commit is joined first), then
        # the closure is drained and the checkpoint barrier taken
        # before any new commit.
        pending: tuple | None = None

        def drain():
            nonlocal pending
            if pending is not None:
                fin, ck, _ = pending
                fin()
                self._checkpoint(ck)
                pending = None

        if state["superstep"] <= 0:
            fin, ffut = self._superstep_seeds()
            pending = (fin, 1, ffut)
        for d in range(1, self.link_depth + 1):
            if state["superstep"] <= d:
                if pending is not None and pending[2] is not None:
                    pending[2].result()  # frontier committed before the read
                sched, n_sched = self._sched_for_depth(d)
                drain()
                if d > 1 and n_sched == 0:  # frontier exhausted early
                    sched.unpersist()
                    self._checkpoint(d + 1)
                    continue
                fin, ffut = self._superstep_depth(d, sched, n_sched)
                pending = (fin, d + 1, ffut)
        if state["superstep"] <= self.link_depth + 1:
            drain()
            self._finalize()
            self._checkpoint(self.link_depth + 2)
        drain()

    # ------------------------------------------------------------ outputs

    def result_crawl_order(self) -> DataFrame:
        return self.crawl_order.read(self.spark)

    def result_seen(self) -> DataFrame:
        """Effective seen set: the append-only seen table minus any
        tombstones (the anti-join exists only once forget() was used).
        The small tombstone set is the broadcast side; seen streams."""
        seen = self.seen.read(self.spark)
        if self._has_tombstones():
            seen = seen.join(F.broadcast(self.deleted.read(self.spark)), "url", "left_anti")
        return seen

    def result_entities(self) -> DataFrame:
        # entities table may contain appends from multiple commits; the
        # (seed_id, kind, ord) key is unique by construction
        return self.entities.read(self.spark)

    def result_payload_report(self) -> DataFrame:
        return self.payload_report.read(self.spark)
