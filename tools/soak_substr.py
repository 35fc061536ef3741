"""Incremental substring-scrub soak: per-shard screen cost must stay
FLAT while the gram index grows — the screen touches history only
through the (gh, n_occ) index, so absorbing shard k is O(|shard grams|
+ |index read|), never O(|corpus text|).

Drives the REAL surface (``python -m log2seq_spark substr
--index-dir``, in-process so JVM startup doesn't pollute the walls)
over K synthetic shards of N docs. Each doc is ~26 unique tokens; 20%
of docs embed one of 40 shared 12-token boilerplate blocks
(cross-shard duplicated runs ≥ k, so every screen exercises both the
indexed-gram and novel-gram branches while the index grows by the
unique-gram mass of each shard).

Usage: python tools/soak_substr.py [n_shards] [docs_per_shard] [k]
Emits one JSON line: per-shard walls + scrub tallies + index growth +
token throughput.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from log2seq_spark.__main__ import main  # noqa: E402
from log2seq_spark.plans.epochs import index_segments  # noqa: E402
from log2seq_spark.session import get_spark  # noqa: E402

N_BLOCKS = 40
BLOCK_TOKENS = 12
UNIQUE_TOKENS = 26


def shard_docs(spark, shard: int, n: int):
    """Deterministic shard: doc_id in [shard*n, (shard+1)*n). Every
    doc gets UNIQUE_TOKENS tokens keyed by doc_id; docs with
    doc_id % 5 == 0 splice one of N_BLOCKS shared boilerplate blocks
    (the same 40 blocks in every shard -> cross-shard duplicated
    runs) into the middle."""
    base = spark.range(shard * n, (shard + 1) * n).withColumnRenamed(
        "id", "doc_id")
    uniq = F.transform(
        F.sequence(F.lit(1), F.lit(UNIQUE_TOKENS)),
        lambda i: F.concat(F.lit("u"),
                           F.pmod(F.col("doc_id") * 131 + i * 17,
                                  F.lit(1_000_000_007)).cast("string")))
    # block chooser decorrelated from the has_block stride (doc_id%5):
    # floor(doc_id/5) % N_BLOCKS cycles through ALL N_BLOCKS blocks
    block = F.transform(
        F.sequence(F.lit(1), F.lit(BLOCK_TOKENS)),
        lambda i: F.concat(F.lit("b"),
                           (F.pmod(F.floor(F.col("doc_id") / 5),
                                   F.lit(N_BLOCKS)) * 100
                            + i).cast("string")))
    has_block = F.pmod("doc_id", F.lit(5)) == 0
    toks = F.when(
        has_block,
        F.concat(F.slice(uniq, 1, 13), block,
                 F.slice(uniq, 14, UNIQUE_TOKENS - 13))).otherwise(uniq)
    return base.select("doc_id", F.array_join(toks, " ").alias("text"))


def run(n_shards: int = 6, per_shard: int = 250_000, k: int = 8,
        compact_every: int = 4, root: str = "/tmp/substr_soak"):
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(root, ignore_errors=True)
    idx = f"{root}/index"
    walls, tallies, index_sizes = [], [], []
    for s in range(n_shards):
        src = f"{root}/shard{s}"
        shard_docs(spark, s, per_shard).write.mode("overwrite") \
                                       .parquet(src)
        out = f"{root}/scrubbed{s}"
        t0 = time.time()
        rc = main(["substr", "--input", src, "--out", out,
                   "--k", str(k), "--index-dir", idx,
                   "--compact-every", str(compact_every)])
        walls.append(round(time.time() - t0, 2))
        assert rc == 0
        tally = {r["scrub_status"]: r["count"] for r in
                 spark.read.parquet(out).groupBy("scrub_status")
                      .count().collect()}
        tallies.append(tally)
        segments, _, _ = index_segments(idx, spark)
        index_sizes.append(spark.read.parquet(*segments).count())
        print(f"# shard {s}: {walls[-1]}s {tally} "
              f"index={index_sizes[-1]} ({len(segments)} segments)",
              file=sys.stderr)
    # shard 0 screens an empty index; flatness is judged warm-vs-warm
    flat = (walls[-1] / max(walls[1], 1e-9)) if len(walls) > 1 else 1.0
    toks_per_doc = UNIQUE_TOKENS + BLOCK_TOKENS / 5
    thr = int(n_shards * per_shard * toks_per_doc / sum(walls))
    print(json.dumps({
        "n_shards": n_shards, "docs_per_shard": per_shard, "k": k,
        "walls_s": walls, "tallies": tallies,
        "index_gram_rows": index_sizes,
        "last_over_first_warm_wall": round(flat, 3),
        "tokens_per_sec_incl_publish": thr}))
    spark.stop()


if __name__ == "__main__":
    a = sys.argv[1:]
    run(int(a[0]) if a else 6,
        int(a[1]) if len(a) > 1 else 250_000,
        int(a[2]) if len(a) > 2 else 8)
