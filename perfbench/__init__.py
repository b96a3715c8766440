"""Crawl benchmark: closed-loop crawl workloads checked against the
sequential oracle, with a separate traced run for per-layer costs.

Run ``python3 perfbench/run.py --help`` from the root of a checkout; see
``perfbench/README.md`` for the workloads and the metric map.
"""
