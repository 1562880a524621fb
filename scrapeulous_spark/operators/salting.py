"""Hot-host salting for frontier storage partitioning — the explicit
skew handling the north rule requires (BASELINE.json: "explicit skew
handling (salting hot hosts, AQE shuffle tuning)").

Why hosts skew: a crawl frontier is power-law distributed over hosts
(the BENCH corpus pins one host at ~30% of all URLs as the fixture for
this). Keyed purely by ``hash(host)``, that host's entire frontier
lands in ONE storage bucket / shuffle partition — at 10^10 URLs a
multi-TB straggler no AQE split can fix after the fact, because AQE
can only split *map output*, not a single storage partition being
read back superstep after superstep.

The scheme (standard salting, applied at the storage layer):

  * cold host  -> bucket = hash(host) % B        (colocated: per-host
    politeness accounting and per-host probes stay partition-pruned)
  * hot host   -> bucket = hash(host, url) % B   (spread uniformly over
    all B buckets; the per-URL salt is deterministic, so placement is
    stable across supersteps and resumes)

Hot detection is size-based, not a hardcoded list: a host is hot when
its frontier share exceeds ``skew_factor`` x the fair per-bucket share
(total/B). At most B/skew_factor hosts can exceed that bound, so the
driver-side collect is bounded by the BUCKET count, never by the host
count — safe at any frontier scale.

Correctness is unaffected by construction: ``host_bucket`` is storage
layout only; all engine ordering lives in explicit keys
(seed_id, step, first_pos) — asserted by
tests/test_salting.py::test_engine_invariant_to_salting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def detect_hot_hosts(
    frontier: DataFrame, n_buckets: int, total: int, skew_factor: float = 2.0
) -> list[str]:
    """Hosts whose row count exceeds skew_factor * (total / n_buckets),
    where ``total`` is ``frontier``'s row count — the caller has it
    already, from the count that materialized its cached source. ONE
    action: the threshold is a driver-side scalar, so the filter rides
    the map-side-combined groupBy (O(hosts) rows shuffle) and the
    collect returns < n_buckets / skew_factor rows by the threshold's
    own arithmetic."""
    thr = skew_factor * total / n_buckets
    # NULL hosts (unparseable URLs) are excluded: sorted() would raise
    # on a None among strings, and Column.isin(None) is NULL in SQL, so
    # a "hot" null group could never be salted downstream anyway — the
    # caller's url-salting for hot hosts keys on (host, url) and a null
    # host row set belongs in the cold path by definition
    rows = (
        frontier.filter(F.col("host").isNotNull())
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > F.lit(thr))
        .collect()
    )
    return sorted(r["host"] for r in rows)


def host_bucket_col(
    host: Column, url: Column, n_buckets: int, hot_hosts: list[str]
) -> Column:
    """Salted storage-bucket id: hash(host) for cold hosts (colocation),
    hash(host, url) for hot ones (uniform spread). Deterministic in the
    row values only — never in partition layout or timing."""
    cold = F.pmod(F.xxhash64(host), F.lit(n_buckets)).cast("int")
    if not hot_hosts:
        return cold
    salted = F.pmod(F.xxhash64(host, url), F.lit(n_buckets)).cast("int")
    return F.when(host.isin(hot_hosts), salted).otherwise(cold)


def with_host_bucket(
    frontier: DataFrame, n_buckets: int, hot_hosts: list[str]
) -> DataFrame:
    """Stamp (or restamp) the host_bucket storage-partition column."""
    return frontier.withColumn(
        "host_bucket",
        host_bucket_col(F.col("host"), F.col("url"), n_buckets, hot_hosts),
    )
