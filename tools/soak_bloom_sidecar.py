"""Measure the incremental-dedup Bloom sidecar's benefit honestly:
screen a mostly-novel shard against a large exact content-hash index
WITH and WITHOUT the sidecar, interleaved, and report both walls plus
the probe's selectivity (what fraction of the shard actually entered
the index join).

The claimed win (operators/dedup.py::dedup_against_index): for a
mostly-novel shard the join's batch side shrinks from shard-sized to
the ~FPP + true-dup fraction. The index side of the join is priced
either way — so the benefit shows up in the batch-side shuffle/probe
volume, and grows with shard size and novelty rate.

Usage: python tools/soak_bloom_sidecar.py [index_rows] [shard_rows] [dup_frac]
Prints one JSON line.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_index = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_shard = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    dup_frac = float(sys.argv[3]) if len(sys.argv) > 3 else 0.05

    from pyspark.sql import functions as F
    from log2seq_spark.session import get_spark
    from log2seq_spark.operators import bloom, dedup

    spark = get_spark(app_name="soak-bloom-sidecar", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    # history: n_index distinct contents; shard: dup_frac drawn from
    # history, the rest novel
    hist = spark.range(n_index).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.sha2(F.col("id").cast("string"), 256))
         .alias("text"))
    n_dup = int(n_shard * dup_frac)
    dups = spark.range(n_dup).select(
        (F.col("id") + n_index).alias("doc_id"),
        F.concat(F.lit("doc "),
                 F.sha2((F.col("id") % n_index).cast("string"), 256))
         .alias("text"))
    novel = spark.range(n_shard - n_dup).select(
        (F.col("id") + n_index + n_dup).alias("doc_id"),
        F.concat(F.lit("new "), F.sha2((F.col("id") + 7_000_000)
                                       .cast("string"), 256))
         .alias("text"))
    shard = dups.unionByName(novel)

    # index on DISK, like the CLI's LSM segments — the screen must pay
    # the real read, not a cached in-memory scan
    import tempfile
    idx_path = tempfile.mkdtemp(prefix="soak_sidecar_") + "/index"
    dedup.exact_dedup_index(hist).write.mode("overwrite").parquet(idx_path)
    index = spark.read.parquet(idx_path)
    t0 = time.time()
    side = bloom.build_bloom(index, "text_hash",
                             n_items=n_index, fpp=0.01)
    wall_build = time.time() - t0

    def run(filt):
        t0 = time.time()
        dec = dedup.dedup_against_index(shard, index, index_bloom=filt)
        counts = {r["decision"]: r["n"] for r in
                  dec.groupBy("decision").agg(
                      F.count("*").alias("n")).collect()}
        return time.time() - t0, counts

    # interleaved samples, report mins
    walls = {"plain": [], "sidecar": []}
    counts = {}
    for _ in range(3):
        w, counts["plain"] = run(None)
        walls["plain"].append(round(w, 2))
        w, counts["sidecar"] = run(side)
        walls["sidecar"].append(round(w, 2))
    assert counts["plain"] == counts["sidecar"], (
        "sidecar changed decisions!", counts)

    probe = bloom.might_contain_expr(
        dedup._nullsafe_text_hash("text"), side)
    n_probe_pass = shard.where(probe).count()

    print(json.dumps({
        "index_rows": n_index, "shard_rows": n_shard,
        "dup_frac": dup_frac,
        "bloom_build_s": round(wall_build, 2),
        "bloom_kib": len(side["words"]) * 8 // 1024,
        "probe_pass_rows": n_probe_pass,
        "probe_selectivity": round(n_probe_pass / n_shard, 4),
        "screen_walls_s": walls,
        "screen_best_plain_s": min(walls["plain"]),
        "screen_best_sidecar_s": min(walls["sidecar"]),
        "decisions": counts["plain"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
