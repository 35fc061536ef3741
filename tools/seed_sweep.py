"""Oracle seed sweep — the regression gate VERDICT r4 prescribed.

Both per-round correctness regressions so far (r3 ``template_mining``,
r4 ``stratified_sample_counts``) were oracle legs that were green on
the committed sf0.01 fixture but flipped on the driver's freshly
seeded data: cross-engine float fragility (libm ulp drift, NULL-vs-0
on empty aggregates) only shows up when the data places a value at a
decision boundary. One fixture is one sample; this sweep runs the FULL
Spark-vs-DuckDB comparison over N freshly generated datasets
(``tools/gen_testdata.py``, seeds 1..N) so each leg gets N independent
chances to land on a boundary.

Usage: python tools/seed_sweep.py [N_SEEDS] [ROWSCALE] [query ...]
  N_SEEDS   default 10
  ROWSCALE  default 1.0 (sf0.01-equivalent row counts)
  query     optional subset of query names (default: all)
  env SEED_SWEEP_START  first seed (default 1) — sweep covers
                        [START, START+N_SEEDS), so successive runs can
                        sample disjoint seed ranges

Exit 1 if any (seed, query) pair fails; per-seed results printed and a
summary at the end. Run before committing any entry-file change (the
pre-commit note in BENCH/DELTAS.md records the sweep for each round).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile


def main():
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    rowscale = float(sys.argv[2]) if len(sys.argv) > 2 else 1.0
    only = set(sys.argv[3:]) or None
    start = int(os.environ.get("SEED_SWEEP_START", "1"))

    tools = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(tools))
    sys.path.insert(0, tools)
    import __spark_entry__ as entrymod
    from check_oracle import check_dir
    from gen_testdata import gen

    from log2seq_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    bad = {}
    root = tempfile.mkdtemp(prefix="seed_sweep_")
    try:
        for seed in range(start, start + n_seeds):
            sf_dir = f"{root}/seed{seed}"
            gen(sf_dir, seed, rowscale)
            fails = check_dir(spark, sf_dir, only, tag=f"s{seed:02d} ")
            if fails:
                bad[seed] = fails
            # drop the per-dir persisted feeds before the next seed
            for k, df in list(entrymod._FEED_CACHE.items()):
                df.unpersist()
                del entrymod._FEED_CACHE[k]
            spark.catalog.clearCache()
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()

    if bad:
        print("SWEEP FAILURES:")
        for seed, fails in sorted(bad.items()):
            print(f"  seed {seed}: {fails}")
        sys.exit(1)
    print(f"seed sweep clean: {n_seeds} seeds x "
          f"{'all' if not only else len(only)} queries")


if __name__ == "__main__":
    main()
