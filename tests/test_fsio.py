"""Driver-side state I/O (``fsio``, and through it the checkpoint
manifest, the epoch state and file compaction) goes through the Hadoop
FileSystem API for plain paths too, so it sees the files Spark writes
wherever ``fs.defaultFS`` puts them."""

import json
import os
import re
import subprocess
import sys

from log2seq_spark import fsio

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_write_text_replaces_without_leftovers(spark, tmpdir_path):
    for path in (os.path.join(tmpdir_path, "params.json"),
                 "file://" + os.path.join(tmpdir_path, "stamp.json")):
        fsio.write_text(spark, path, "one")
        fsio.write_text(spark, path, "two")
        assert fsio.read_text(spark, path) == "two"
    # no temporary sibling and no checksum sidecar stays behind
    assert sorted(os.listdir(tmpdir_path)) == ["params.json", "stamp.json"]
    # a stamp edited by hand stays readable
    with open(os.path.join(tmpdir_path, "params.json"), "w") as f:
        f.write("three")
    assert fsio.read_text(
        spark, os.path.join(tmpdir_path, "params.json")) == "three"


# A session whose fs.defaultFS is a viewfs:// mount table: the plain
# path <root>/view resolves to <root>/real for Spark and for the state
# protocols alike, while the driver's own disk has nothing under
# <root>/view.
_VIEWFS_SNIPPET = """
import contextlib, io, json, math, os, sys
sys.path.insert(0, {repo!r})
from log2seq_spark.__main__ import main
from log2seq_spark.session import get_spark
from log2seq_spark.plans import epochs, manifest as mf
from log2seq_spark.plans.pipeline import PipelineConfig, run_pipeline
from log2seq_spark.sources.transcripts import transcripts
def ls(path):
    if not os.path.isdir(path):
        return None
    return sorted(n for n in os.listdir(path) if not n.startswith("."))
root = {root!r}
view, real = root + "/view", root + "/real"
spark = get_spark(app_name="viewfs-test", master="local[2]",
                  shuffle_partitions=2, extra_conf={{
    "spark.hadoop.fs.defaultFS": "viewfs://c/",
    "spark.hadoop.fs.viewfs.mounttable.c.link." + view: "file://" + real,
    "spark.hadoop.fs.viewfs.mounttable.c.linkFallback": "file:///",
    "spark.sql.warehouse.dir": "file://" + root + "/warehouse"}})
spark.sparkContext.setLogLevel("ERROR")
spark.range(3).write.parquet(view + "/state/epoch=0")
out = view + "/out"
cfg = PipelineConfig(out_dir=out, n_buckets=2, partitions=2)
res = run_pipeline(spark, transcripts(spark, 8, seed=3, partitions=2), cfg)
seen = {{
    "committed_ids": epochs.committed_ids(view + "/state", spark=spark),
    "processed": sorted(res.buckets_processed),
    "completed": sorted(mf.completed_buckets(out, res.lineage_id,
                                             spark=spark)),
    "manifest_files": ls(real + "/out/manifest"),
    "lineage": res.lineage_id,
}}
mf.wipe_outputs(out, ["routed"], spark=spark)
seen["after_wipe"] = ls(real + "/out")
def cli(*argv):
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        code = main(list(argv))
    return code, out.getvalue(), err.getvalue()
def embs(name, ids):
    rows = [(i, [math.cos(i / 20.0), math.sin(i / 20.0)]) for i in ids]
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
          .write.mode("overwrite").parquet(view + "/" + name))
    return view + "/" + name
idx = view + "/ivf"
query = ("ann", "query", "--index-dir", idx, "--query-vec", "1.0,0.0",
         "--k", "4", "--n-probe", "2")
ann = {{"build": cli("ann", "build", "--input", embs("e0", range(20)),
                    "--index-dir", idx, "--k-cells", "2")[0]}}
for lo in (20, 40):
    ann[f"append{{lo}}"] = cli("ann", "append", "--input",
                               embs(f"e{{lo}}", range(lo, lo + 20)),
                               "--index-dir", idx)[0]
ann["query_before"] = cli(*query)[1]
ann["rows_before"] = spark.read.parquet(idx).count()
code, _, err = cli("ann", "compact", "--index-dir", idx)
ann["compact"] = [code] + [x for x in err.splitlines()
                           if x.startswith("# compacted")]
ann["query_after"] = cli(*query)[1]
ann["rows_after"] = spark.read.parquet(idx).count()
ann["real_index"] = ls(real + "/ivf")
seen["ann"] = ann
seen["local_view"] = os.path.exists(view)
print("SEEN " + json.dumps(seen), flush=True)
spark.stop()
"""


def test_plain_paths_follow_default_fs(tmpdir_path):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "-c",
         _VIEWFS_SNIPPET.format(repo=REPO, root=tmpdir_path)],
        capture_output=True, text=True, timeout=600, env=env)
    lines = [x for x in proc.stdout.splitlines() if x.startswith("SEEN ")]
    assert lines, proc.stderr[-3000:]
    seen = json.loads(lines[-1][len("SEEN "):])
    # the epoch Spark committed under the mount is visible on the plain path
    assert seen["committed_ids"] == [0]
    # the manifest lands beside the routed data, as one commit file
    assert seen["processed"] == [0, 1]
    assert seen["completed"] == [0, 1]
    assert seen["manifest_files"] == [f"{seen['lineage']}-000000.jsonl"]
    # the wipe removes the data and the manifest Spark's side sees
    assert "routed" not in seen["after_wipe"]
    assert "manifest" not in seen["after_wipe"]
    assert not seen["local_view"]
    # an IVF index on a plain path under the mount builds, appends and
    # compacts where Spark wrote it, with the same answer and rows
    ann = seen["ann"]
    assert (ann["build"], ann["append20"], ann["append40"]) == (0, 0, 0)
    assert ann["compact"][0] == 0 and len(ann["compact"]) == 2
    before, after = map(int, re.findall(r"\d+", ann["compact"][1]))
    assert before > after
    assert ann["query_before"] and ann["query_after"] == ann["query_before"]
    assert ann["rows_after"] == ann["rows_before"] == 60
    assert {"_ivf_centroids.json", "centroid=0",
            "centroid=1"} <= set(ann["real_index"])
