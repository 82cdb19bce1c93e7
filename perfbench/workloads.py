"""The benchmark's workloads: which ``__spark_entry__`` keys a pass calls, and
the tables (with row counts) the seeded generator makes for them.

Why each workload exists, and which layer it stresses, is in README.md.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Workload:
    name: str
    keys: tuple[str, ...]
    rows: dict[str, int]  # table -> generated row count


WORKLOADS = {
    w.name: w
    for w in (
        # flox-parity grouped reductions and scans on TPC-H-ish tables:
        # distributive (count) vs holistic (quantile) functions, 6 groups
        # vs ~480 (resample_5d) vs one output row per input row (qcut, the
        # scans)
        Workload(
            "grid_small",
            (
                "count",
                "quantile",
                "resample_5d",
                "argmax",
                "qcut",
                "scan_cumsum",
                "scan_two_pass",
                "ewma_scan",
            ),
            {"lineitem": 60_000, "orders": 15_000, "events": 10_000},
        ),
        # LLM-data-pipeline operators: many jobs per call, results
        # collected into the Python process, persisted intermediates, Python workers
        Workload(
            "pipeline_small",
            (
                "minhash",
                "dup_clusters",
                "semdedup",
                "ann_ivf",
                "tfidf",
                "langid",
                "ewma_scan",
            ),
            {"documents": 1_000, "embeddings": 1_000, "events": 10_000},
        ),
    )
}

# The package module holding each key's public entry point; a call's build
# time (minus its table loads) is attributed to it.  scan_two_pass enters
# through core.groupby_scan(method="two_pass"), which hands the whole plan
# to two_pass, so it is attributed there.
ENTRY_MODULE = {
    "count": "core",
    "argmax": "core",
    "quantile": "core",
    "resample_5d": "core",
    "scan_cumsum": "core",
    "qcut": "binning",
    "scan_two_pass": "two_pass",
    "ewma_scan": "udaf",
    "minhash": "operators.dedup",
    "dup_clusters": "operators.dedup",
    "semdedup": "operators.similarity",
    "ann_ivf": "operators.similarity",
    "tfidf": "operators.text",
    "langid": "operators.text",
}
