"""URL-seen set at scale: exact broadcast-probe anti-join, an optional
partitioned Bloom prefilter, and cuckoo-filter operators for deletions.

North-rule component (BASELINE.json north_star): at a 10^10-URL
frontier the per-superstep "which discovered URLs are new?" anti-join
is THE hot join. It is planned on its small side (``not_in``): the
seen table streams through one scan against the broadcast candidates
and is never shuffled. The Bloom filter (``use_bloom``) prunes that
probe further:

    candidates ──xxhash64 (JVM)──► bucket + k bit positions
        │ cogroup with per-bucket numpy bitmaps (Arrow, vectorized)
        ├── definitely-new  (bloom miss — skips the seen probe)
        └── maybe-seen      (bloom hit)  ──exact not_in(seen)──► new

Exactness is never delegated to the filter: false positives are rescued
by the confirming anti-join; false negatives are impossible (bitmaps
are built from the full seen table, which only grows). Property-tested
in test_seen_bloom.py: prefiltered result == plain anti-join result.

Deletions (recrawl/expiry) need no filter in the engine: tombstones are
always a subset of seen, so CrawlEngine answers them with exact joins
against the small ``deleted`` table. ``cuckoo_build`` and
``cuckoo_prefilter`` are the deletable membership filter over such a
set, kept as tested operators for a tombstone set too large to
broadcast.

Sizing: bits_per_bucket=2^23 (1 MiB bitmap) at k=4 holds ~1.2M URLs per
bucket at ~2% FPR; 10^10 URLs => ~8192 buckets => 8 GiB of bitmaps
spread across executors, each superstep touching only buckets its
candidate partition hashes to. Buckets are the unit of both storage
partitioning and skew salting.

Hashing runs JVM-side (``xxhash64``) so no Python touches the hot
rows; bitmap set/test are numpy bitwise ops over Arrow batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_SCHEMA = "bucket int, bits binary"


def _with_hashes(urls: DataFrame, n_buckets: int, n_bits: int, k: int) -> DataFrame:
    """bucket + k bit positions, all JVM-side. xxhash64(url, lit(i)) gives
    k independent 64-bit hashes. The bucket comes from _shard — ONE
    definition, so bloom buckets and cuckoo shards can never drift."""
    out = _shard(urls, n_buckets)
    for i in range(k):
        out = out.withColumn(
            f"h{i}", F.pmod(F.xxhash64("url", F.lit(i + 1)), F.lit(n_bits)).cast("long")
        )
    return out


def bloom_build(
    seen_urls: DataFrame, n_buckets: int = 64, n_bits: int = 1 << 20, k: int = 4
) -> DataFrame:
    """Build per-bucket bitmaps from the seen table. One grouped-map pandas
    pass; each bitmap is n_bits/8 bytes."""
    hashed = _with_hashes(seen_urls.select("url"), n_buckets, n_bits, k)
    hcols = [f"h{i}" for i in range(k)]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        for h in hcols:
            idx = pdf[h].to_numpy(dtype=np.int64)
            np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "bits": [bits.tobytes()]})

    return hashed.groupBy("bucket").applyInPandas(build, schema=BLOOM_SCHEMA)


def bloom_prefilter(
    candidates: DataFrame,
    bloom: DataFrame,
    n_buckets: int = 64,
    n_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Stamp candidates with maybe_seen (bloom hit). Cogrouped per bucket so
    each bitmap crosses to Python exactly once per partition-group, not
    once per row."""
    reserved = {"bucket", *(f"h{i}" for i in range(k))}
    clash = reserved & set(candidates.columns)
    if clash:
        raise ValueError(f"bloom_prefilter: candidate columns clash with {sorted(clash)}")
    hashed = _with_hashes(candidates, n_buckets, n_bits, k)
    hcols = [f"h{i}" for i in range(k)]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    ) + ", maybe_seen boolean"

    def check(key, cand: pd.DataFrame, bl: pd.DataFrame) -> pd.DataFrame:
        if len(bl) > 1:
            # an unmerged filter (append instead of bloom_merge) would
            # otherwise silently probe ONE bitmap — false negatives
            raise ValueError(f"bloom bucket {key} has {len(bl)} rows; bloom_merge first")
        if len(bl) == 0:
            maybe = np.zeros(len(cand), dtype=bool)
        else:
            bits = np.frombuffer(bl["bits"].iloc[0], dtype=np.uint8)
            maybe = np.ones(len(cand), dtype=bool)
            for h in hcols:
                idx = cand[h].to_numpy(dtype=np.int64)
                maybe &= (bits[idx >> 3] & (1 << (idx & 7)).astype(np.uint8)) != 0
        res = cand.drop(columns=["bucket"] + hcols)
        res["maybe_seen"] = maybe
        return res

    return (
        hashed.groupBy("bucket")
        .cogroup(bloom.groupBy("bucket"))
        .applyInPandas(check, schema=out_schema)
    )


def bloom_merge(existing: DataFrame, delta: DataFrame, n_bits: int = 1 << 20) -> DataFrame:
    """OR per-bucket bitmaps of `existing` and `delta` (both BLOOM_SCHEMA).
    This is how the filter is maintained incrementally: each superstep
    builds a small delta from ONLY the newly-seen urls and merges it,
    instead of rescanning the full 10^10-row seen table."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(n_bits // 8, dtype=np.uint8)
        for raw in pdf["bits"]:
            acc |= np.frombuffer(raw, dtype=np.uint8)
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "bits": [acc.tobytes()]})

    return (
        existing.unionByName(delta).groupBy("bucket").applyInPandas(merge, schema=BLOOM_SCHEMA)
    )


CUCKOO_SCHEMA = "bucket int, filter binary"
# per-shard cuckoo sizing: 2^10 buckets x 4 slots x 2 bytes = 8 KiB;
# holds ~3.8k tombstones per shard at <95% load. Tombstone sets are
# small relative to seen (that is the point of the sidecar), so shards
# stay tiny; resize by raising n_buckets at build time if they don't.
CUCKOO_FILTER_BUCKETS = 1 << 10


def _shard(urls: DataFrame, n_buckets: int) -> DataFrame:
    """Same shard key as the bloom buckets: pmod(xxhash64(url))."""
    return urls.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def cuckoo_build(
    deleted_urls: DataFrame,
    n_buckets: int = 64,
    filter_buckets: int = CUCKOO_FILTER_BUCKETS,
) -> DataFrame:
    """Serialize one cuckoo filter per shard of the tombstone set.
    Insertion order is sorted-per-shard, so filters built anywhere
    (any partitioning, any worker) are byte-identical — the same
    determinism rule the Bloom bitmaps follow."""
    from .cuckoo import CuckooFilter

    sharded = _shard(deleted_urls.select("url").distinct(), n_buckets)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        f = CuckooFilter(n_buckets=filter_buckets)
        for u in sorted(pdf["url"]):
            if not f.insert(u):  # shard overfull — resize at call site
                raise ValueError("cuckoo shard overflow; raise filter_buckets")
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "filter": [f.to_bytes()]}
        )

    return sharded.groupBy("bucket").applyInPandas(build, schema=CUCKOO_SCHEMA)


import functools


@functools.lru_cache(maxsize=1)
def _fp_alt_lut():
    """LUT for the partial-key alt-index hash: LUT[fp] =
    crc32(fp as 2 LE bytes) & 0x7FFFFFFF — exactly
    cuckoo._alt_index's inner hash, vectorized over all 2^16
    fingerprints (built once per python worker, ~50ms)."""
    import zlib

    return np.fromiter(
        (zlib.crc32(fp.to_bytes(2, "little")) & 0x7FFFFFFF for fp in range(1 << 16)),
        dtype=np.int64,
        count=1 << 16,
    )


def cuckoo_prefilter(
    candidates: DataFrame,
    cuckoo: DataFrame,
    n_buckets: int = 64,
) -> DataFrame:
    """Stamp candidates with maybe_deleted (cuckoo hit). Cogrouped per
    shard: each serialized filter crosses to Python once per group. A
    miss PROVES the url is not tombstoned (cuckoo filters never
    false-negative); hits go to the exact tombstone join.

    The probe derives the filter's bucket count FROM THE BLOB
    (len / (2 bytes x SLOTS)) rather than taking a parameter — a
    build/probe size mismatch (build resized after an overflow, probe
    still on the default) would otherwise silently reshape the table
    and mod the indices wrong, turning tombstoned URLs into false
    not-tombstoned PROOFS that suppress recrawls forever.

    No per-row Python: the fingerprint and raw primary index are
    computed JVM-side (``crc32`` — bit-identical to zlib.crc32, the
    hash CuckooFilter uses; the bucket mod happens at probe time with
    the blob-derived size), the alt index comes from a 2^16-entry
    numpy LUT, and the probe is two vectorized gathers."""
    reserved = {"bucket", "cfp", "ci_raw"}
    clash = reserved & set(candidates.columns)
    if clash:
        raise ValueError(f"cuckoo_prefilter: candidate columns clash with {sorted(clash)}")
    sharded = _shard(candidates, n_buckets)
    fp_raw = F.pmod(
        F.crc32(F.encode(F.concat(F.lit("fp:"), F.col("url")), "UTF-8")), F.lit(1 << 16)
    )
    hashed = sharded.withColumn(
        "cfp", F.when(fp_raw == 0, F.lit(1)).otherwise(fp_raw).cast("long")
    ).withColumn(
        "ci_raw",
        F.crc32(F.encode(F.concat(F.lit("ix:"), F.col("url")), "UTF-8")).cast("long"),
    )
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    ) + ", maybe_deleted boolean"

    def check(key, cand: pd.DataFrame, flt: pd.DataFrame) -> pd.DataFrame:
        from .cuckoo import CuckooFilter

        res = cand.drop(columns=["bucket", "cfp", "ci_raw"])
        if len(flt) > 1:
            raise ValueError(f"cuckoo shard {key} has {len(flt)} rows; rebuild one filter")
        if len(flt) == 0:
            res["maybe_deleted"] = False
        else:
            raw = bytes(flt["filter"].iloc[0])
            fb = len(raw) // (2 * CuckooFilter.SLOTS)
            if fb <= 0 or fb & (fb - 1):
                raise ValueError(f"cuckoo shard {key}: blob implies non-power-of-two buckets {fb}")
            table = np.frombuffer(raw, dtype=np.uint16).reshape(fb, CuckooFilter.SLOTS)
            fp = cand["cfp"].to_numpy(dtype=np.int64)
            i1 = cand["ci_raw"].to_numpy(dtype=np.int64) % fb
            i2 = (i1 ^ _fp_alt_lut()[fp]) % fb
            res["maybe_deleted"] = (table[i1] == fp[:, None]).any(axis=1) | (
                table[i2] == fp[:, None]
            ).any(axis=1)
        return res

    return (
        hashed.groupBy("bucket")
        .cogroup(cuckoo.groupBy("bucket"))
        .applyInPandas(check, schema=out_schema)
    )


def new_urls_exact(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: DataFrame | None = None,
    **bloom_params,
) -> DataFrame:
    """Exactly the distinct candidate urls not in ``seen``. With a bloom,
    only its maybe-seen rows meet ``seen``; the filter is a pruner
    only — exactness never depends on it."""
    if bloom is None:
        # the distinct runs after the probe: the broadcast side needs
        # no shuffle, and only the surviving rows are deduplicated
        return not_in(candidates.select("url"), seen).distinct()
    cand = candidates.select("url").distinct()
    # localCheckpoint: the stamped frame feeds TWO union branches,
    # and Spark has no cross-branch reuse for DataFrames — without
    # materialization the cogrouped bloom probe would run once PER BRANCH
    stamped = bloom_prefilter(cand, bloom, **bloom_params).localCheckpoint()
    definitely_new = stamped.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = stamped.filter(F.col("maybe_seen")).drop("maybe_seen")
    return definitely_new.unionByName(not_in(maybe, seen))


def not_in(small: DataFrame, big: DataFrame) -> DataFrame:
    """``small ▷ big`` on ``url``, planned so ``big`` is never shuffled:
    ``hits = big ⋉ broadcast(small)`` streams ``big`` through one scan,
    then ``small ▷ broadcast(hits)``. A plain ``small LEFT ANTI big``
    can only build its hash table from ``big`` (Spark builds a
    left-anti join from its right side), so past the broadcast
    threshold it shuffles all of ``big``. The hint puts a ceiling on
    ``small`` instead: one superstep's candidates must fit a broadcast,
    the same ceiling ``CrawlEngine.broadcast_sched_keys`` documents."""
    hits = big.select("url").join(F.broadcast(small.select("url")), "url", "left_semi")
    return small.join(F.broadcast(hits), "url", "left_anti")
