"""Hot-host salting (operators/salting.py): the north rule's explicit
skew handling. Properties:

  * detection finds exactly the oversized hosts, bounded by bucket count
  * salting spreads a hot host over (nearly) all buckets while cold
    hosts stay colocated in one bucket each
  * max bucket load drops from ~hot-share to ~fair-share
  * bucket ids are deterministic in row values (partition-invariant)
  * engine results are IDENTICAL with salting on and off (layout-only)
"""

import tempfile

from pyspark.sql import functions as F

from scrapeulous_spark.operators.salting import (
    detect_hot_hosts,
    with_host_bucket,
)

N_BUCKETS = 16


def _skewed_frontier(spark, hot_rows=800, cold_hosts=40, rows_per_cold=20):
    hot = spark.range(hot_rows).select(
        F.lit("hot.example.com").alias("host"),
        F.concat(F.lit("http://hot.example.com/p"), F.col("id")).alias("url"),
    )
    cold = spark.range(cold_hosts * rows_per_cold).select(
        F.concat(F.lit("cold"), (F.col("id") % cold_hosts), F.lit(".example.com")).alias(
            "host"
        ),
        F.concat(
            F.lit("http://cold"),
            (F.col("id") % cold_hosts),
            F.lit(".example.com/p"),
            F.col("id"),
        ).alias("url"),
    )
    return hot.unionByName(cold)


def test_detect_hot_hosts(spark):
    df = _skewed_frontier(spark)
    hot = detect_hot_hosts(df, N_BUCKETS, df.count())
    assert hot == ["hot.example.com"]
    # a uniform frontier has no hot hosts at the same threshold
    uniform = _skewed_frontier(spark, hot_rows=0)
    assert detect_hot_hosts(uniform, N_BUCKETS, uniform.count()) == []


def test_salting_balances_and_colocates(spark):
    df = _skewed_frontier(spark)
    total = df.count()
    fair = total / N_BUCKETS

    unsalted = with_host_bucket(df, N_BUCKETS, [])
    hot_buckets_unsalted = (
        unsalted.filter(F.col("host") == "hot.example.com")
        .select("host_bucket")
        .distinct()
        .count()
    )
    assert hot_buckets_unsalted == 1  # the skew problem: 50% in one bucket

    salted = with_host_bucket(df, N_BUCKETS, ["hot.example.com"])
    hot_buckets = (
        salted.filter(F.col("host") == "hot.example.com")
        .select("host_bucket")
        .distinct()
        .count()
    )
    assert hot_buckets >= N_BUCKETS - 2  # spread over (nearly) all buckets

    # cold hosts stay colocated: one bucket per host
    per_cold = (
        salted.filter(F.col("host") != "hot.example.com")
        .groupBy("host")
        .agg(F.countDistinct("host_bucket").alias("nb"))
        .agg(F.max("nb").alias("m"))
        .collect()[0]["m"]
    )
    assert per_cold == 1

    # load balance: max bucket load within 3x fair share (vs ~8x unsalted)
    max_salted = (
        salted.groupBy("host_bucket").count().agg(F.max("count").alias("m")).collect()[0]["m"]
    )
    max_unsalted = (
        unsalted.groupBy("host_bucket")
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]["m"]
    )
    assert max_unsalted >= 800  # hot host entirely in one bucket
    assert max_salted < 3 * fair


def test_bucket_ids_partition_invariant(spark):
    df = _skewed_frontier(spark)
    a = with_host_bucket(df.repartition(1), N_BUCKETS, ["hot.example.com"])
    b = with_host_bucket(df.repartition(13), N_BUCKETS, ["hot.example.com"])
    rows_a = sorted((r.url, r.host_bucket) for r in a.collect())
    rows_b = sorted((r.url, r.host_bucket) for r in b.collect())
    assert rows_a == rows_b


def test_engine_invariant_to_salting(spark):
    """Salting is storage layout only: crawl_order / seen / entities are
    byte-identical with salting on and off (smoke corpus)."""
    from scrapeulous_spark.plans.loop import CrawlEngine
    from scrapeulous_spark.sources.corpus import SMOKE, ensure_corpus

    paths = ensure_corpus(SMOKE)
    results = {}
    for salt in (True, False):
        with tempfile.TemporaryDirectory() as wh:
            eng = CrawlEngine(
                spark, wh, paths, validate_images=False, salt_hot_hosts=salt
            )
            eng.run()
            results[salt] = (
                sorted(
                    (r.seed_id, r.step, r.url, r.depth, r.fetch_ok)
                    for r in eng.result_crawl_order().collect()
                ),
                sorted(r.url for r in eng.result_seen().collect()),
                sorted(
                    (r.seed_id, r.kind, r.ord, r.value)
                    for r in eng.result_entities().collect()
                ),
            )
    assert results[True] == results[False]
