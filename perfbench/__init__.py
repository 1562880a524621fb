"""The repository benchmark: two crawl workloads on either side of the
seen-set broadcast threshold, end-to-end metrics from untraced runs and
per-layer metrics from a traced run.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

See perfbench/LAYERS.md for the workloads, the metric definitions and
the layer-to-end-to-end table.
"""
