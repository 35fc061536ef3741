"""Measure copy-on-write maintenance at a larger-than-test scale:
build a many-file sink, redact a small key list, and compare the
touched-file count + wall against a naive full rewrite of the sink.

The claim under test (layout.py row-maintenance section): deleting K
keys from an N-file sink reads the key column of every file ONCE (to
find affected files) and rewrites ONLY the files holding a key — so
the wall should track the affected-file mass, not the sink size,
while a naive rewrite pays the full sink every time.

Usage: python tools/soak_redaction.py [n_rows] [n_files] [n_keys]
Prints one JSON line.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    n_keys = int(sys.argv[3]) if len(sys.argv) > 3 else 100

    import tempfile
    from pyspark.sql import functions as F
    from log2seq_spark.session import get_spark
    from log2seq_spark.operators import layout

    spark = get_spark(app_name="soak-redaction", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="soak_redact_")
    sink = f"{base}/sink"

    # doc_id clustered so each file holds a contiguous id range — the
    # realistic shape (a sink written partitioned by time/bucket), and
    # the one where redaction's file pruning can actually win
    (spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"))
     .repartitionByRange(n_files, "doc_id")
     .write.mode("overwrite").parquet(sink))
    total_files = len(layout._data_files(spark, sink))

    # keys drawn from a narrow id band -> few affected files; the
    # adversarial spread-out case is n_keys distinct files affected
    keys = spark.range(n_keys).select(
        (F.col("id") * (n_rows // (n_keys * 50))).alias("doc_id"))
    keys_rows = keys.count()

    t0 = time.time()
    rep = layout.delete_rows(spark, sink, keys, "doc_id")
    wall_redact = time.time() - t0

    n_after = spark.read.parquet(sink).count()

    # naive comparison: full read + anti-join + full rewrite
    naive_out = f"{base}/naive"
    t0 = time.time()
    (spark.read.parquet(sink).join(keys, "doc_id", "anti")
          .repartition(n_files).write.mode("overwrite").parquet(naive_out))
    wall_naive = time.time() - t0

    print(json.dumps({
        "n_rows": n_rows, "n_files": total_files, "n_keys": keys_rows,
        "affected_files": rep["affected_files"],
        "n_deleted": rep["n_deleted"],
        "rows_after": n_after,
        "wall_redact_s": round(wall_redact, 2),
        "wall_naive_full_rewrite_s": round(wall_naive, 2),
        "speedup": round(wall_naive / wall_redact, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
