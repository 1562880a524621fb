"""Physical-plan shape guards — the scale properties BENCH.md's fixes
bought, locked in as assertions on `.explain` output so a regression
is caught by tests instead of a benchmark run:

  * dimension joins (robots, budgets) stay broadcast — no shuffle of
    the big side on a small-key join
  * the scheduling window never drags payload columns (body/out_links)
    through its exchange — metadata-only scheduling
  * the page-store scan under a metadata-only fetch_join is
    column-pruned to the requested columns (no body bytes read)
  * the salted frontier layout supports partition-pruned per-bucket
    reads (PartitionFilters on host_bucket)
  * the seen-set joins (superstep MERGE, forget, result_seen) never
    shuffle `seen`, even above the broadcast threshold, and a snapshot
    table's plain commits read as one file scan
  * a recrawl round submits a bounded number of Spark jobs
"""

import re
import uuid

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from scrapeulous_spark.operators.fetch import fetch_join, payload_join
from scrapeulous_spark.operators.frontier import expand_candidates, schedule_pops
from scrapeulous_spark.sources.corpus import SMOKE, ensure_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    paths = ensure_corpus(SMOKE)
    return {name: spark.read.parquet(p) for name, p in paths.items()}


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_robots_join_is_broadcast(corpus):
    pages = corpus["pages"]
    fetched = pages.select("seed_id", "url", "out_links") if "seed_id" in pages.columns else (
        corpus["seeds"].select("seed_id", "url").join(pages.select("url", "out_links"), "url")
    )
    cands = expand_candidates(fetched, corpus["robots"])
    plan = _plan(cands)
    assert "BroadcastHashJoin" in plan
    # the robots side must be the broadcast side: no sort-merge join for it
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0]


def test_budget_join_is_broadcast(corpus):
    status = fetch_join(
        corpus["seeds"].select("seed_id", "url"), corpus["pages"], columns=("url", "status")
    )
    sched = schedule_pops(
        status.withColumn("host", F.lit("h")).withColumn("first_pos", F.lit(0).cast("long")),
        corpus["budgets"],
    )
    assert "BroadcastHashJoin" in _plan(sched)


def test_scheduling_plan_carries_no_payload_columns(corpus):
    """The LIFO/budget window must shuffle metadata only: body and
    out_links (~95% of page-store bytes) may not appear anywhere in the
    scheduling plan when fetch_join is given the metadata column set."""
    status = fetch_join(
        corpus["seeds"].select("seed_id", "url"), corpus["pages"], columns=("url", "status")
    )
    sched = schedule_pops(
        status.withColumn("host", F.lit("h")).withColumn("first_pos", F.lit(0).cast("long")),
        corpus["budgets"],
    )
    plan = _plan(sched)
    assert "body" not in plan
    assert "out_links" not in plan


def test_page_scan_column_pruned(corpus):
    """Parquet column pruning must reach the page-store scan: a
    metadata-only fetch_join reads a ReadSchema without body."""
    status = fetch_join(
        corpus["seeds"].select("seed_id", "url"), corpus["pages"], columns=("url", "status")
    )
    plan = _plan(status)
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    page_reads = [ln for ln in read_schemas if "status" in ln]
    assert page_reads, plan
    assert all("body" not in ln for ln in page_reads), page_reads


def test_frontier_bucket_read_partition_pruned(spark, tmp_path, corpus):
    """Hive-partitioned frontier layout (salting.py + _write_frontier):
    a per-bucket read must be a directory-pruned scan — host_bucket
    shows up in PartitionFilters, not as a post-scan filter."""
    from scrapeulous_spark.operators.salting import with_host_bucket

    df = corpus["seeds"].select(
        "seed_id",
        "url",
        F.lit("h0.example.com").alias("host"),
    )
    out = with_host_bucket(df, 8, [])
    path = str(tmp_path / "frontier")
    out.write.mode("overwrite").partitionBy("host_bucket").parquet(path)
    read = spark.read.parquet(path).filter(F.col("host_bucket") == 3)
    plan = _plan(read)
    assert "PartitionFilters" in plan
    pf_line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "host_bucket" in pf_line


def test_plain_table_read_is_one_scan(spark, tmp_path):
    """A snapshot table's plain commits are one multi-path scan, not a
    union of one scan per commit: the plan does not grow with the
    commit count, and a join cannot be pushed into every commit."""
    from scrapeulous_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path), "t", T.StructType([T.StructField("url", T.StringType())]))
    for i in range(3):
        t.append(spark.createDataFrame([(f"u{i}",)], ["url"]))
    df = t.read(spark)
    scans = [ln for ln in df._jdf.queryExecution().executedPlan().toString().splitlines()
             if "FileScan" in ln]
    assert len(scans) == 1, scans
    assert sorted(r.url for r in df.collect()) == ["u0", "u1", "u2"]


def _executed_plans(spark, fn) -> list[str]:
    """The executed physical plans (AQE final plans) of every SQL
    execution ``fn`` runs, from the session's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        xs = store.executionsList()
        return [xs.apply(i) for i in range(xs.size())]

    bus.waitUntilEmpty(60_000)
    before = max((e.executionId() for e in executions()), default=-1)
    fn()
    bus.waitUntilEmpty(60_000)
    return [e.physicalPlanDescription() for e in executions() if e.executionId() > before]


def _final_tree(plan: str) -> list[str]:
    """Tree lines of a formatted plan's final (executed) plan."""
    tree = plan.split("\n\n", 1)[0].splitlines()
    marks = [i for i, ln in enumerate(tree) if re.search("== (Final|Current) Plan ==", ln)]
    if marks:
        end = next((i for i, ln in enumerate(tree) if "== Initial Plan ==" in ln), len(tree))
        tree = tree[marks[0] + 1 : end]
    return tree


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-*"))


def _shuffles_above(plan: str, location: str) -> list[str]:
    """Shuffle exchanges that the rows of a scan of ``location`` cross in
    the executed plan: on the path from the scan up to the root, or up
    to the first broadcast, past which its rows are a hash table that
    other rows probe, never a stream."""
    scans = {
        b.split()[0]
        for b in plan.split("\n\n")[1:]
        if b.split()[1:2] == ["Scan"] and location in b
    }
    tree = _final_tree(plan)
    found = []
    for i, ln in enumerate(tree):
        node = re.search(r"\(\d+\)", ln)
        if node is None or node.group(0) not in scans:
            continue
        depth = _depth(ln)
        for up in reversed(tree[:i]):
            if _depth(up) >= depth:
                continue
            depth = _depth(up)
            name = up.lstrip(" :+-*")
            if name.startswith(("BroadcastExchange", "BroadcastQueryStage")):
                break
            if name.startswith(("Exchange", "ShuffleQueryStage", "AQEShuffleRead")):
                found.append(name)
    return found


@pytest.fixture()
def tombstoned_engine(spark, tmp_path):
    """An engine whose seen table (three commits) is far above a lowered
    broadcast threshold, with tombstones present."""
    from scrapeulous_spark.plans.loop import CrawlEngine

    eng = CrawlEngine(spark, str(tmp_path / "wh"), ensure_corpus(SMOKE), validate_images=False)
    urls = [f"http://h{i % 7}.example.com/p{i}" for i in range(6000)]
    for k in range(3):
        eng.seen.append(spark.createDataFrame([(u,) for u in urls[k::3]], ["url"]))
    eng.forget(spark.createDataFrame([(u,) for u in urls[:600]], ["url"]))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")  # |seen| is ~100 KB of parquet
    yield eng, urls
    spark.conf.set(key, old)


def _assert_seen_never_shuffled(plans: list[str]):
    assert plans
    for plan in plans:
        assert "SortMergeJoin" not in "\n".join(_final_tree(plan)), plan
        assert _shuffles_above(plan, "/seen/data/") == [], plan


def test_update_seen_never_shuffles_seen(spark, tombstoned_engine):
    eng, urls = tombstoned_engine
    cand = spark.createDataFrame(
        [(u,) for u in urls[300:900]] + [(f"http://new.example.com/{i}",) for i in range(50)],
        ["url"],
    )
    plans = _executed_plans(spark, lambda: eng._update_seen(cand, superstep=1))
    _assert_seen_never_shuffled(plans)
    # and the result is exact: 50 appended, 300 tombstones dropped
    assert eng.seen.read(spark).count() == len(urls) + 50
    assert eng.deleted.read(spark).count() == 300


def test_forget_never_shuffles_seen(spark, tombstoned_engine):
    eng, urls = tombstoned_engine
    victims = spark.createDataFrame([(u,) for u in urls[500:1000]] + [("http://x.example.com/",)], ["url"])
    _assert_seen_never_shuffled(_executed_plans(spark, lambda: eng.forget(victims)))
    assert eng.deleted.read(spark).count() == 1000


def test_result_seen_never_shuffles_seen(spark, tombstoned_engine):
    eng, urls = tombstoned_engine
    out = []
    _assert_seen_never_shuffled(_executed_plans(spark, lambda: out.extend(eng.result_seen().collect())))
    assert sorted(r.url for r in out) == sorted(urls[600:])


def _jobs_submitted(spark, fn) -> int:
    """Spark jobs ``fn`` submits, on any thread: job ids are sequential
    per SparkContext, so count the ids between two one-job probes."""
    sc = spark.sparkContext
    key = "spark.jobGroup.id"
    prev = sc.getLocalProperty(key)

    def probe() -> int:
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setLocalProperty(key, group)
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty(key, prev)
        (job,) = sc.statusTracker().getJobIdsForGroup(group)
        return job

    first = probe()
    fn()
    return probe() - first - 1


# jobs of one SMOKE recrawl round, measured when this guard was set; the
# slack absorbs AQE re-planning, not a new job per superstep
RECRAWL_ROUND_JOBS = 88
RECRAWL_ROUND_SLACK = 5


def test_recrawl_round_job_count(spark, tmp_path):
    """forget -> new_round -> run(resume=True) at link_depth=2 runs at
    most the measured number of Spark jobs: every job is fixed latency
    that the round pays whatever its data size."""
    from scrapeulous_spark.plans.loop import CrawlEngine

    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), ensure_corpus(SMOKE), link_depth=2, validate_images=False
    )
    eng.run()
    victims = [r.url for r in eng.result_seen().collect()][::4]

    def round_():
        eng.forget(spark.createDataFrame([(u,) for u in victims], ["url"]))
        eng.new_round()
        eng.run(resume=True)

    jobs = _jobs_submitted(spark, round_)
    assert jobs <= RECRAWL_ROUND_JOBS + RECRAWL_ROUND_SLACK, jobs


def test_payload_join_broadcasts_key_side(corpus):
    """The payload join must broadcast the scheduled-key side: the body
    column (~95% of page-store bytes) may never cross an exchange on
    its way into extraction. BroadcastHashJoin with the keys as the
    build side == the body scan streams straight into the join."""
    keys = corpus["seeds"].select("seed_id", "url")
    joined = payload_join(keys, corpus["pages"])
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # no shuffle exchange anywhere: keys go over a broadcast exchange,
    # the payload scan feeds the join directly
    assert "Exchange hashpartitioning" not in plan


def test_extraction_plan_jvm_side_with_guards(spark):
    """The entity-extraction plan must stay whole-stage-codegen JVM work:
    no Python eval nodes (ArrowEvalPython/BatchEvalPython), and the
    literal-contains guards must appear as CASE WHEN ... Contains
    branches in front of the regexes (the measured ~1.8x scan pruning —
    BENCH.md 'Extraction-stage fixes')."""
    from scrapeulous_spark.operators.extract import extract_entities_raw

    df = spark.createDataFrame(
        [(1, 0, "x")], "seed_id long, page_order int, body string"
    )
    plan = _plan(extract_entities_raw(df))
    assert "EvalPython" not in plan  # no Python in the hot path
    # guards compile to conditional regexp evaluation (the AQE-unfinalized
    # formatted plan omits WholeStageCodegen spans, so assert on the
    # expression tree instead)
    assert "CASE WHEN" in plan and "Contains" in plan
    assert "regexp_extract_all" in plan


@pytest.fixture(scope="module")
def registry():
    from scrapeulous_spark.operators import load_all_catalogs

    return load_all_catalogs()


_SF = "/root/testdata/sf0.001"


def test_map_only_curation_ops_have_no_exchange(spark, registry):
    """sample_stratified_hash and emb_quantize_int8 claim map-only
    plans (the property that makes them viable at 10^10 rows): no
    shuffle exchange may appear anywhere in either plan."""
    for name in ("sample_stratified_hash", "emb_quantize_int8"):
        plan = _plan(registry[name].spark(spark, _SF))
        assert "Exchange" not in plan, name


def test_topk_per_key_uses_window_group_limit(spark, registry):
    """The k-per-stratum pick must plan with WindowGroupLimit so only
    ~k rows per (partition, key) survive to the exchange — a full
    per-key sort materialization would be the scale bug."""
    plan = _plan(registry["sample_topk_per_key"].spark(spark, _SF))
    assert "WindowGroupLimit" in plan


def test_curation_pipeline_single_exchange(spark, registry):
    """pipeline_curation_e2e: the dedup groupBy is the ONLY shuffle —
    the gate is scan-fused before it and the sample filter is map-side
    after it (the source column rides through the aggregate via
    min_by, not a rejoin)."""
    import re

    plan = _plan(registry["pipeline_curation_e2e"].spark(spark, _SF))
    # formatted explain prints each node in the tree AND a detail
    # section — count the numbered detail headers
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "Join" not in plan


def test_minhash_signatures_single_exchange(spark, registry):
    """dedup_minhash_signatures (PLANS.md): the 16 signature lanes fold
    as combinable min aggregates in one groupBy, so the per-document
    aggregate is the ONLY shuffle, and the unpivot to (doc_id, seed,
    minhash) runs after it."""
    plan = _plan(registry["dedup_minhash_signatures"].spark(spark, _SF))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "Join" not in plan


def test_phash_neardup_plan_joinless_and_payload_free(spark, registry):
    """The multi-index pair stage is a groupBy + in-bucket expansion:
    NO join anywhere in the plan (a self-join would recompute the
    chunk subtree), and the image bytes/caption columns never enter it
    — only (image_id, phash) flow."""
    plan = _plan(registry["img_phash_neardup"].spark(spark, _SF))
    assert "Join" not in plan
    assert "bytes" not in plan and "caption" not in plan
    assert "bit_count" in plan  # verify stage is a codegen'd builtin


def test_img_curation_gate_pushed_to_scan(spark, registry):
    """The caption admission gate must reach the parquet scan: the
    final-stage images scan reads only (image_id, caption) with the
    caption null-check pushed down; payload bytes appear nowhere."""
    plan = _plan(registry["img_curation_e2e"].spark(spark, _SF))
    assert "PushedFilters: [IsNotNull(caption)]" in plan
    assert "bytes" not in plan
    assert "ReadSchema: struct<image_id:string,caption:string>" in plan


def test_ivf_topk_plans_partial_topk(spark, registry):
    """The probed search's global top-10 must plan as
    TakeOrderedAndProject (per-partition partial top-k) — a global
    single-partition sort would be the scale bug — and the probed-cell
    set must join as a broadcast."""
    plan = _plan(registry["sim_ivf_topk"].spark(spark, _SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_img_admission_gate_map_only_and_bytes_pruned(spark, registry):
    """img_admission_gate claims a map-only plan over metadata columns:
    no exchange anywhere, and the parquet scan's ReadSchema must not
    include the bytes payload (column pruning keeps it on disk)."""
    plan = _plan(registry["img_admission_gate"].spark(spark, _SF))
    assert "Exchange" not in plan
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas and all("bytes" not in ln for ln in read_schemas)


def test_decon_eval_set_is_broadcast(spark, registry):
    """decon_ngram_overlap's scale claim: the eval n-gram set joins as
    the broadcast side (training shingles never shuffle for the probe),
    and the boilerplate dictionary in decon_span_ratio likewise."""
    for name in ("decon_ngram_overlap", "decon_span_ratio"):
        plan = _plan(registry[name].spark(spark, _SF))
        assert "BroadcastHashJoin" in plan, name


def test_boilerplate_spans_single_agg_exchange(spark, registry):
    """decon_boilerplate_spans: exactly two exchanges — the documented
    repartition-to-cores of the raw text (CPU-dense shingle stage) and
    ONE partial-aggregated groupBy; the shingle lists themselves never
    shuffle. The explode must be the outer form (no Generate pre-filter
    re-evaluating the interpreted shingle expression)."""
    plan = _plan(registry["decon_boilerplate_spans"].spark(spark, _SF))
    # formatted explain names each node twice (tree + detail section):
    # count the tree headers only
    assert plan.count("Exchange (") == 2
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan
    assert "partial_count" in plan
    # Generate's outer flag prints as `explode(gs#N), true, [gram#M]`
    gen = next(ln for ln in plan.splitlines() if ln.startswith("Arguments: explode("))
    assert ", true, [" in gen, gen


def test_caption_align_map_only(spark, registry):
    """img_caption_align claims ONE map-only pass: caption rides
    through the Arrow decode batch, so the plan has a MapInPandas node
    and zero shuffle exchanges (no self-join to reunite metadata)."""
    plan = _plan(registry["img_caption_align"].spark(spark, _SF))
    assert "Exchange" not in plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan


def test_shard_pack_big_window_is_partitioned(spark, registry):
    """img_shard_pack's data-side running sum must be windowed PER
    RANGE PARTITION (pid) — a single-task global window over the data
    is the scale bug this op exists to avoid. The only unpartitioned
    window allowed is the offsets side, which runs over one row per
    partition. The ranged pass must also be MATERIALIZED
    (localCheckpoint -> Scan ExistingRDD) so both join sides see the
    same spark_partition_id assignment instead of re-sampling range
    boundaries independently."""
    df = registry["img_shard_pack"].spark(spark, _SF)
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastHashJoin" in plan


def test_mix_apply_broadcasts_weights(spark, registry):
    """sample_mix_apply: weights broadcast onto the corpus scan — the
    doc table itself passes no exchange (its only shuffle is inside the
    weights aggregate over (source) pairs)."""
    plan = _plan(registry["sample_mix_apply"].spark(spark, _SF))
    assert "BroadcastHashJoin" in plan
    # exchanges exist only under the BroadcastExchange (weights side)
    tree = plan.split("(1) Scan parquet")[0]
    big_side = tree.split("BroadcastExchange")[0]
    assert "Exchange" not in big_side.split("BroadcastHashJoin")[1]


def test_rep_topgram_single_repartition_exchange(spark, registry):
    """text_rep_topgram claims in-row computation: the only exchange is
    the documented repartition-to-cores of the raw text — no aggregate
    or join shuffle anywhere."""
    plan = _plan(registry["text_rep_topgram"].spark(spark, _SF))
    assert plan.count("Exchange (") == 1
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan
    assert "HashAggregate" not in plan and "Join" not in plan


def test_img_dedup_bytes_never_shuffles_payload(spark, registry):
    """img_dedup_bytes: the digest groupBy's exchange must carry
    (digest, image_id) only — the binary payload is consumed map-side
    by the md5 projection and never crosses the shuffle."""
    plan = _plan(registry["img_dedup_bytes"].spark(spark, _SF))
    assert "partial_min" in plan or "partial_count" in plan
    ex_inputs = [
        ln
        for i, ln in enumerate(plan.splitlines())
        if ln.startswith("Input") and "Exchange" in plan.splitlines()[i - 1]
    ]
    assert ex_inputs and all("bytes" not in ln for ln in ex_inputs), ex_inputs


def test_df_topk_partial_topk(spark, registry):
    """text_df_topk must plan the top-k as TakeOrderedAndProject
    (partial per-partition top-k), not a global Sort."""
    plan = _plan(registry["text_df_topk"].spark(spark, _SF))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_rollup_single_scan_single_exchange(spark, registry):
    """agg_source_rollup: ROLLUP must plan as ONE scan feeding an
    Expand + partial/final aggregate pair around a single exchange —
    never three separate aggregations unioned (three scans of a
    10^10-row corpus)."""
    plan = _plan(registry["agg_source_rollup"].spark(spark, _SF))
    assert "Expand (" in plan
    # tree headers only (formatted explain repeats nodes in details)
    assert plan.count("Exchange (") == 1
    assert plan.count("Scan parquet") // 2 == 1  # tree + detail header
    assert "partial_count" in plan


def test_lang_pivot_single_exchange(spark, registry):
    """agg_lang_pivot: the explicit-value-list pivot is implemented as
    k conditional counts in one aggregate, so the plan must carry ONE
    exchange of (source, k partials) — not DataFrame.pivot's
    agg-then-PivotFirst double shuffle."""
    plan = _plan(registry["agg_lang_pivot"].spark(spark, _SF))
    assert plan.count("Exchange (") == 1
    assert "partial_count" in plan


def test_session_range_join_stays_equi_keyed(spark, registry):
    """join_event_session_range: the interval assignment must plan as
    a hash/merge join on the user_id equi-key with the ts range as a
    join residual — the moment it degenerates to a nested-loop or
    cartesian plan it is quadratic in events and dead at scale."""
    plan = _plan(registry["join_event_session_range"].spark(spark, _SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_rolling_rate_single_exchange_streaming_window(spark, registry):
    """agg_event_rolling_rate: one shuffle on the partition key and a
    sort-based time-RANGE window — no join, no second exchange. The
    time-bounded frame is what caps per-row state at scale."""
    plan = _plan(registry["agg_event_rolling_rate"].spark(spark, _SF))
    assert plan.count("Exchange (") == 1
    assert "Window (" in plan
    assert "Join" not in plan


def test_percentiles_rank_targets_broadcast(spark, registry):
    """agg_value_percentiles: the exact-percentile plan must NOT buffer
    groups (no `percentile(` aggregate anywhere); the cumulative-count
    window must consume the partial-aggregated per-cent HISTOGRAM (its
    per-group task sees domain-sized data, never the raw rows), and the
    tiny rank-target side joins as the broadcast build."""
    plan = _plan(registry["agg_value_percentiles"].spark(spark, _SF))
    assert "percentile" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window (" in plan
    # the histogram groupBy's map-side partial must sit below the window
    assert "partial_count" in plan


def test_intersect_semi_join_no_pair_explosion(spark, registry):
    """setop_converted_users: INTERSECT must plan as a left-SEMI join
    (each left row emitted at most once) plus one distinct exchange —
    never an inner self-join that multiplies duplicate keys."""
    plan = _plan(registry["setop_converted_users"].spark(spark, _SF))
    assert "LeftSemi" in plan
    assert plan.count("Exchange (") <= 2  # distinct agg + (at-scale) join shuffle


def test_bucketed_join_no_shuffle(spark, registry):
    """join_user_stats_bucketed: with broadcast disabled (the 10^10-row
    regime — neither side fits in memory), the join over the two
    bucketed tables must plan as a SortMergeJoin with ZERO shuffle
    exchanges: bucket co-location replaces both sides' exchanges.
    Broadcast is left enabled in the operator itself so small inputs
    still get the cheaper plan."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(registry["join_user_stats_bucketed"].spark(spark, _SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_new_ingest_ops_map_only(spark, registry):
    """The session's ingest/text ops claim strictly map-only plans
    (parse/slice/score inside one projection, nothing shuffles): no
    exchange may appear in any of them."""
    for name in (
        "src_warc_records",
        "src_sitemap_urls",
        "fn_html_to_text",
        "text_char_entropy",
        "img_size_gate",
    ):
        plan = _plan(registry[name].spark(spark, _SF))
        assert "Exchange" not in plan, name


def test_img_size_gate_bytes_pruned(spark, registry):
    """The admission gate's whole point at 10^10 images: the parquet
    scan must read metadata columns only — the multi-GB bytes column
    may not appear in the ReadSchema."""
    plan = _plan(registry["img_size_gate"].spark(spark, _SF))
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas and all("bytes" not in ln for ln in read_schemas), plan


def test_recrawl_priority_uses_window_group_limit(spark, registry):
    """rank_recrawl_priority keeps O(10) state per host: the rnk<=10
    filter must push into the window sort as WindowGroupLimit."""
    plan = _plan(registry["rank_recrawl_priority"].spark(spark, _SF))
    assert "WindowGroupLimit" in plan


def test_redirect_resolve_all_joins_equi_keyed(spark, registry):
    """join_redirect_resolve's k-hop chain: every hop must plan as a
    hash/merge join on the url equi-key — a nested-loop or cartesian
    product anywhere means a 10^10 x 10^8 blowup."""
    plan = _plan(registry["join_redirect_resolve"].spark(spark, _SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_url_templates_single_exchange(spark, registry):
    """audit_url_templates: variant synthesis + template projection are
    map-side; the one exchange is the (host, template) count."""
    plan = _plan(registry["audit_url_templates"].spark(spark, _SF))
    assert plan.count("Exchange (") == 1
    assert "partial_count" in plan


def test_host_reputation_single_aggregation_pass(spark, registry):
    """agg_host_reputation: bodies reduce to md5/length at the scan and
    the count(DISTINCT sig) plans as the two-level Expand aggregate —
    one scan, never one pass per metric."""
    plan = _plan(registry["agg_host_reputation"].spark(spark, _SF))
    assert plan.count("Scan parquet") // 2 == 1  # tree + detail header
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas and all("out_links" not in ln for ln in read_schemas)


def test_lm_logprob_scoring_pass_map_only(spark, registry):
    """text_lm_logprob pass 2: with the vocab shipped as a literal map,
    the per-doc scoring plan must be map-only (the only exchanges in
    the op's lifetime belong to the pass-1 count jobs, which run
    before this plan exists)."""
    plan = _plan(registry["text_lm_logprob"].spark(spark, _SF))
    assert "Exchange" not in plan


def test_topk_join_broadcast_probes_window_group_limit(spark, registry):
    """sim_topk_join: the probe batch must broadcast (map-side scoring
    nested loop — the INTENDED shape, base table never shuffles for
    the join) and the per-probe rank must plan as WindowGroupLimit."""
    plan = _plan(registry["sim_topk_join"].spark(spark, _SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_ppjoin_all_joins_equi_keyed(spark, registry):
    """dedup_ppjoin_prefix: candidate generation and verification must
    stay equi-keyed (token / doc_id / pair) — a nested-loop anywhere
    means the all-pairs blowup the prefix filter exists to avoid."""
    plan = _plan(registry["dedup_ppjoin_prefix"].spark(spark, _SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_set_containment_broadcasts_query_dim(spark, registry):
    """join_set_containment: the query-token dim must broadcast and the
    match count must partial-aggregate map-side."""
    plan = _plan(registry["join_set_containment"].spark(spark, _SF))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan


def test_lifecycle_crawl_joins_shape(spark, registry):
    """pipeline_serp_crawl_lifecycle: the SERP-derived seed/link dims
    must broadcast against the page store (seeds << pages at scale)
    and nothing may degrade to a nested-loop — the composed run keeps
    the engine's hot join shapes."""
    plan = _plan(registry["pipeline_serp_crawl_lifecycle"].spark(spark, _SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_lifecycle_pages_scan_prunes_bodies(spark, registry):
    """The crawl-corpus scan inside the lifecycle reads only
    (url, status, out_links) — page bodies never enter the plan."""
    plan = _plan(registry["pipeline_serp_crawl_lifecycle"].spark(spark, _SF))
    for line in plan.splitlines():
        if "ReadSchema" in line and "out_links" in line:
            assert "body" not in line, line
