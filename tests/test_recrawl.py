"""Recrawl/expiry (tombstone) tests.

North-rule component: "URL-seen dedup uses a partitioned Bloom filter
with a cuckoo-filter sidecar for deletions". Properties:

  * the engine's algebra under ``deleted ⊆ seen`` — append
    cand \\ seen, drop the tombstones deleted ⋉ cand — re-admits
    exactly cand \\ (seen \\ deleted), with and without the Bloom
    prefilter
  * cuckoo prefilter never false-negatives (a miss proves
    not-tombstoned)
  * engine: forget() shrinks the effective seen set; a later
    _update_seen re-admits the forgotten url by DROPPING its tombstone
    (no duplicate rows in the big append-only seen table)
  * a warehouse may switch between the plain and the filter path
    between rounds without changing any result
"""

import pytest

from pyspark.sql import functions as F

from scrapeulous_spark.operators.seen import (
    bloom_build,
    cuckoo_build,
    cuckoo_prefilter,
    new_urls_exact,
)


@pytest.fixture(scope="module")
def frames(spark):
    seen = spark.createDataFrame(
        [(f"http://h{i % 5}.example.com/p{i}",) for i in range(1200)], ["url"]
    )
    deleted = spark.createDataFrame(  # subset of seen
        [(f"http://h{i % 5}.example.com/p{i}",) for i in range(0, 1200, 6)], ["url"]
    )
    cand = spark.createDataFrame(
        [(f"http://h{i % 5}.example.com/p{i}",) for i in range(900, 2000)]
        + [(f"http://hx.example.com/q{i}",) for i in range(150)],
        ["url"],
    )
    return seen, deleted, cand


def _expected(seen, deleted, cand):
    effective = seen.join(deleted, "url", "left_anti")
    return sorted(
        r.url for r in cand.select("url").distinct().join(effective, "url", "left_anti").collect()
    )


def _readmitted(seen, deleted, cand, **bloom) -> list[str]:
    """CrawlEngine._update_seen's algebra: the appended urls
    (cand \\ seen) plus the dropped tombstones (deleted ⋉ cand)."""
    appended = new_urls_exact(cand, seen, **bloom)
    dropped = deleted.join(cand.select("url"), "url", "left_semi")
    return sorted(r.url for r in appended.unionByName(dropped).collect())


def test_tombstone_membership_exact_no_filters(spark, frames):
    seen, deleted, cand = frames
    assert _readmitted(seen, deleted, cand) == _expected(seen, deleted, cand)


def test_tombstone_membership_exact_with_filters(spark, frames):
    seen, deleted, cand = frames
    params = dict(n_buckets=16, n_bits=1 << 16, k=4)
    bloom = bloom_build(seen, **params).persist()
    got = _readmitted(seen, deleted, cand, bloom=bloom, **params)
    assert got == _expected(seen, deleted, cand)
    bloom.unpersist()


def test_cuckoo_prefilter_no_false_negatives(spark, frames):
    _, deleted, _ = frames
    cuckoo = cuckoo_build(deleted, n_buckets=16)
    stamped = cuckoo_prefilter(deleted.select("url"), cuckoo, n_buckets=16)
    assert stamped.filter("not maybe_deleted").count() == 0


def test_cuckoo_build_deterministic(spark, frames):
    _, deleted, _ = frames
    a = {r.bucket: bytes(r.filter) for r in cuckoo_build(deleted, n_buckets=8).collect()}
    b = {
        r.bucket: bytes(r.filter)
        for r in cuckoo_build(deleted.repartition(7), n_buckets=8).collect()
    }
    assert a == b  # partitioning-invariant (sorted per-shard inserts)


def test_engine_forget_and_resurrect(spark, tmp_path):
    from scrapeulous_spark.plans.loop import CrawlEngine
    from scrapeulous_spark.sources.corpus import SMOKE, ensure_corpus

    paths = ensure_corpus(SMOKE)
    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), paths, validate_images=False
    )
    eng.run()
    seen0 = sorted(r.url for r in eng.result_seen().collect())
    physical0 = eng.seen.read(spark).count()

    victims = seen0[:5]
    eng.forget(spark.createDataFrame([(u,) for u in victims], ["url"]))
    seen1 = sorted(r.url for r in eng.result_seen().collect())
    assert seen1 == sorted(set(seen0) - set(victims))

    # forgetting a never-seen url is a no-op
    eng.forget(spark.createDataFrame([("http://nowhere.example.com/x",)], ["url"]))
    assert eng.deleted.read(spark).count() == len(victims)

    # re-discovery: two forgotten urls + one brand-new url come in
    readmit = victims[:2]
    brand_new = "http://brandnew.example.com/fresh"
    eng._update_seen(
        spark.createDataFrame([(u,) for u in readmit + [brand_new]], ["url"]),
        superstep=99,
    )
    seen2 = set(r.url for r in eng.result_seen().collect())
    assert set(readmit) <= seen2  # resurrected
    assert brand_new in seen2
    assert seen2 == (set(seen0) - set(victims)) | set(readmit) | {brand_new}
    # resurrection dropped tombstones instead of re-appending: the
    # physical seen table grew by exactly the one brand-new url
    assert eng.seen.read(spark).count() == physical0 + 1
    assert eng.deleted.read(spark).count() == len(victims) - len(readmit)


def test_engine_forget_with_bloom_identical(spark, tmp_path):
    """forget() cannot delete from the bloom; it must not change any
    result: bloom path == plain path."""
    from scrapeulous_spark.plans.loop import CrawlEngine
    from scrapeulous_spark.sources.corpus import SMOKE, ensure_corpus

    paths = ensure_corpus(SMOKE)
    outs = {}
    for label, use_bloom in (("plain", False), ("bloom", True)):
        eng = CrawlEngine(
            spark,
            str(tmp_path / label),
            paths,
            validate_images=False,
            use_bloom=use_bloom,
            bloom_buckets=8,
            bloom_bits=1 << 16,
        )
        eng.run()
        seen0 = sorted(r.url for r in eng.result_seen().collect())
        eng.forget(spark.createDataFrame([(u,) for u in seen0[:7]], ["url"]))
        eng._update_seen(
            spark.createDataFrame([(u,) for u in seen0[:3]], ["url"]), superstep=99
        )
        outs[label] = sorted(r.url for r in eng.result_seen().collect())
    assert outs["plain"] == outs["bloom"]


def test_engine_recrawl_rounds(spark, tmp_path):
    """Full recrawl round: forget() victims, new_round(), run again.
    Every victim is re-discovered (tombstones drained), the effective
    seen set returns to round 1's, and the physical seen table gets
    ZERO new appends (resurrection never re-appends)."""
    from scrapeulous_spark.plans.loop import CrawlEngine
    from scrapeulous_spark.sources.corpus import SMOKE, ensure_corpus

    paths = ensure_corpus(SMOKE)
    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), paths, validate_images=False
    )
    eng.run()
    seen1 = sorted(r.url for r in eng.result_seen().collect())
    order1 = sorted(map(tuple, eng.result_crawl_order().collect()))
    physical1 = eng.seen.read(spark).count()

    victims = seen1[::7]
    eng.forget(spark.createDataFrame([(u,) for u in victims], ["url"]))
    assert len(sorted(r.url for r in eng.result_seen().collect())) == len(seen1) - len(victims)

    eng.new_round()
    eng.run(resume=True)
    assert sorted(r.url for r in eng.result_seen().collect()) == seen1
    assert sorted(map(tuple, eng.result_crawl_order().collect())) == order1
    assert eng.seen.read(spark).count() == physical1  # no duplicate appends
    assert eng.deleted.read(spark).count() == 0  # all tombstones drained


def test_filter_round_after_plain_round_identical(spark, tmp_path):
    """One warehouse, round 1 on the plain path (forget, then the crawl
    resurrects the victims), round 2 on the Bloom path (forget again,
    crawl again): the filter was never built in round 1, so round 2
    must rebuild it before probing, and every result equals a warehouse
    that stayed on the plain path — no url appended twice, no
    tombstone left or lost."""
    from scrapeulous_spark.plans.loop import CrawlEngine
    from scrapeulous_spark.sources.corpus import SMOKE, ensure_corpus

    paths = ensure_corpus(SMOKE)
    outs = {}
    for label, bloom2 in (("plain", False), ("mixed", True)):
        root = str(tmp_path / label)
        eng = CrawlEngine(spark, root, paths, validate_images=False)
        eng.run()
        seen0 = sorted(r.url for r in eng.result_seen().collect())
        for r, use_bloom in ((1, False), (2, bloom2)):
            eng = CrawlEngine(
                spark, root, paths, validate_images=False,
                use_bloom=use_bloom, bloom_buckets=8, bloom_bits=1 << 16,
            )
            eng.forget(spark.createDataFrame([(u,) for u in seen0[r::5]], ["url"]))
            eng.new_round()
            eng.run(resume=True)
        outs[label] = (
            sorted(r.url for r in eng.result_seen().collect()),
            eng.seen.read(spark).count(),
            sorted(r.url for r in eng.deleted.read(spark).collect()),
        )
    assert outs["mixed"] == outs["plain"]
    assert outs["plain"][0] == seen0 and outs["plain"][1] == len(seen0)


def test_cuckoo_prefilter_matches_python_probe(spark, frames):
    """The vectorized JVM-hash + numpy-gather probe must agree with
    CuckooFilter.contains on every candidate (hits AND misses)."""
    from scrapeulous_spark.operators.cuckoo import CuckooFilter
    from scrapeulous_spark.operators.seen import CUCKOO_FILTER_BUCKETS

    seen, deleted, cand = frames
    cuckoo = cuckoo_build(deleted, n_buckets=16)
    stamped = {
        r.url: r.maybe_deleted
        for r in cuckoo_prefilter(cand.select("url").distinct(), cuckoo, n_buckets=16).collect()
    }
    # rebuild the per-shard filters driver-side and probe in pure python
    shard_bytes = {r.bucket: bytes(r.filter) for r in cuckoo.collect()}
    from pyspark.sql import functions as F

    shard_of = {
        r.url: r.b
        for r in cand.select("url")
        .distinct()
        .withColumn("b", F.pmod(F.xxhash64("url"), F.lit(16)).cast("int"))
        .collect()
    }
    for url, got in stamped.items():
        b = shard_of[url]
        if b not in shard_bytes:
            expected = False
        else:
            f = CuckooFilter.from_bytes(shard_bytes[b], CUCKOO_FILTER_BUCKETS)
            expected = f.contains(url)
        assert got == expected, url


def test_engine_vacuum_preserves_current_state(spark, tmp_path):
    """vacuum() expires superseded data dirs; current reads, resume
    state, and a follow-on round all keep working."""
    from scrapeulous_spark.plans.loop import CrawlEngine
    from scrapeulous_spark.sources.corpus import SMOKE, ensure_corpus

    paths = ensure_corpus(SMOKE)
    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), paths, validate_images=False
    )
    eng.run()
    seen = sorted(r.url for r in eng.result_seen().collect())
    order = sorted(map(tuple, eng.result_crawl_order().collect()))

    eng.vacuum()
    assert sorted(r.url for r in eng.result_seen().collect()) == seen
    assert sorted(map(tuple, eng.result_crawl_order().collect())) == order

    # a fresh round over the vacuumed warehouse still works end-to-end
    eng.new_round()
    eng.run(resume=True)
    assert sorted(r.url for r in eng.result_seen().collect()) == seen


def test_resized_cuckoo_filter_probes_exactly(spark, frames):
    """A filter built with a NON-default bucket count (the overflow
    remedy) must probe correctly with no parameter plumbed through —
    the probe derives the size from the blob. A build/probe size
    mismatch previously produced false not-tombstoned proofs that
    silently suppressed recrawls."""
    _, deleted, cand = frames
    big = cuckoo_build(deleted, n_buckets=16, filter_buckets=1 << 12).persist()
    stamped = {
        r.url: r.maybe_deleted
        for r in cuckoo_prefilter(cand.select("url").distinct(), big, n_buckets=16).collect()
    }
    # the probe agrees with the resized filter probed in pure python
    from scrapeulous_spark.operators.cuckoo import CuckooFilter

    shards = {r.bucket: bytes(r.filter) for r in big.collect()}
    shard_of = {
        r.url: r.b
        for r in cand.select("url")
        .withColumn("b", F.pmod(F.xxhash64("url"), F.lit(16)).cast("int"))
        .collect()
    }
    for url, got in stamped.items():
        b = shard_of[url]
        want = b in shards and CuckooFilter.from_bytes(shards[b], 1 << 12).contains(url)
        assert got == want, url
    # every tombstoned url must still register as maybe_deleted
    stamped = cuckoo_prefilter(
        deleted.select("url").distinct(), big, n_buckets=16
    ).collect()
    assert all(r.maybe_deleted for r in stamped)
    big.unpersist()


def test_cuckoo_rejects_non_power_of_two():
    """The partial-key alt index is an involution only for power-of-two
    bucket counts; any other size must fail loudly at construction —
    not produce false negatives after evictions."""
    from scrapeulous_spark.operators.cuckoo import CuckooFilter

    with pytest.raises(ValueError, match="power of two"):
        CuckooFilter(n_buckets=1000)


def test_null_host_does_not_break_hot_detection(spark):
    """A skewed NULL-host group (unparseable URLs) must neither crash
    the hot-host sort nor appear in the hot list — it belongs to the
    cold path by definition."""
    from scrapeulous_spark.operators.salting import detect_hot_hosts

    df = spark.createDataFrame(
        [(None, f"u{i}") for i in range(400)]
        + [("hot.example.com", f"h{i}") for i in range(400)]
        + [(f"c{i % 40}.example.com", f"c{i}") for i in range(80)],
        ["host", "url"],
    )
    hot = detect_hot_hosts(df, n_buckets=8, total=df.count(), skew_factor=2.0)
    assert hot == ["hot.example.com"]
