"""Spark-free unit tests for the bench helpers and serp-corpus codecs."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_idlest_cores_counts_and_membership():
    import bench

    allowed = os.sched_getaffinity(0)
    for n in (1, 4):
        cores = bench._idlest_cores(n)
        assert len(cores) == min(n, len(allowed))
        assert cores <= allowed


def test_url_encode_fixed_roundtrip():
    """The decode chain the proj_rev_image queries apply (%20/%2F/%3A/
    %25 replaces, in that order) must invert url_encode_fixed exactly —
    including the %-escape-of-% ordering trap."""
    from scrapeulous_spark.sources.serp_corpus import url_encode_fixed

    def decode(s: str) -> str:
        for esc, ch in (("%20", " "), ("%2F", "/"), ("%3A", ":"), ("%25", "%")):
            s = s.replace(esc, ch)
        return s

    for raw in [
        "https://pics.example.org/full 0_0.jpg",
        "plain",
        "a%b",             # literal % must survive the round trip
        "100% of /x: y",
        "%20",             # pre-escaped text is DATA, not an escape
    ]:
        assert decode(url_encode_fixed(raw)) == raw


def test_pagination_oracle_sql_unrolls_n_steps():
    from scrapeulous_spark.operators.catalog_serp import _pagination_oracle_sql

    for n in (1, 2, 3, 5):
        sql = _pagination_oracle_sql(n)
        assert f"r{n} " in sql or f"r{n}\n" in sql or f"FROM r{n}" in sql
        assert f"st{n + 1}" not in sql  # no state CTE past the last step
        assert sql.count("UNION ALL") == n - 1


def test_cleanest_pair_efficiency_selects_by_contention_not_ratio():
    """The reported pair is the one with the smallest normalized wall
    (least contended window), even when a noisier pair carries a
    HIGHER ratio — the estimator must not be pass-seeking. Orphan legs
    from a half-finished round are ignored."""
    from bench import cleanest_pair_efficiency

    def leg(w):
        return {"wall_sec_all_runs": [w]}

    per_level = {
        # pair 0: clean window  (w4=80, w1=320)  -> eff 1.000, cost 640
        # pair 1: noisy window  (w4=100, w1=450) -> eff 1.125, cost 850
        4: [leg(80.0), leg(100.0), leg(70.0)],  # 3rd leg is an orphan
        1: [leg(320.0), leg(450.0)],
    }
    eff, effs, qual = cleanest_pair_efficiency(per_level)
    assert effs == [1.0, 1.125]
    assert eff == 1.0  # clean pair wins despite the lower ratio
    assert qual  # 1.125 > 1.02 is physically insane and excluded; 1.0 qualifies


def test_cleanest_pair_matches_sandbox_recordings():
    """2026-08-20 regression: global minima across windows read 0.726
    while the same-window pairs read ~0.89 — the pair estimator must
    reproduce the pair number, not the mixed one."""
    from bench import cleanest_pair_efficiency

    per_level = {
        4: [{"wall_sec_all_runs": [126.21, 140.9]}],
        1: [{"wall_sec_all_runs": [366.54]}],
    }
    eff, effs, qual = cleanest_pair_efficiency(per_level)
    # one pair: min of that pair's own runs
    assert abs(eff - 366.54 / (4 * 126.21)) < 1e-9
    assert qual


def test_cleanest_pair_prefers_probe_quiet_pairs():
    """Round-4: when any pair's legs BOTH carry quiet probe brackets,
    the selection pool is restricted to those pairs — a contended pair
    with a smaller normalized wall must not steer the number (the r3
    driver record's 0.627 pair ran in a probe-flagged window). Legs
    without brackets (older recordings) stay eligible."""
    from bench import cleanest_pair_efficiency

    quiet = {"procs1_wall_sec": 1.05, "procs4_wall_sec": 1.15}
    noisy = {"procs1_wall_sec": 1.60, "procs4_wall_sec": 1.70}

    def leg(w, probe):
        return {"wall_sec_all_runs": [w], "probe_before": probe}

    per_level = {
        # pair 0: noisy brackets, smaller normalized wall (cost 640)
        # pair 1: quiet brackets, larger wall (cost 715) -> must win
        4: [leg(80.0, noisy), leg(90.0, quiet)],
        1: [leg(320.0, noisy), leg(355.0, quiet)],
    }
    eff, effs, qual = cleanest_pair_efficiency(per_level)
    assert abs(eff - 355.0 / (4 * 90.0)) < 1e-9
    assert qual
    assert effs == [1.0, round(355.0 / 360.0, 3)]

    # no quiet pair at all -> fall back to every pair (cleanest wall),
    # flagged unqualified
    per_level_all_noisy = {
        4: [leg(80.0, noisy), leg(90.0, noisy)],
        1: [leg(320.0, noisy), leg(370.0, noisy)],
    }
    eff2, _, qual2 = cleanest_pair_efficiency(per_level_all_noisy)
    assert abs(eff2 - 320.0 / (4 * 80.0)) < 1e-9
    assert not qual2

    # quiet brackets but a super-linear (>1.02) ratio: the 1-core leg
    # was contention-inflated — the pair must not qualify
    per_level_insane = {
        4: [leg(80.0, quiet)],
        1: [leg(360.0, quiet)],
    }
    eff3, _, qual3 = cleanest_pair_efficiency(per_level_insane)
    assert abs(eff3 - 360.0 / (4 * 80.0)) < 1e-9
    assert not qual3
