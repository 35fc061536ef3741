"""Two-parallelism scaling evidence (BASELINE.json north rule).

No multi-node cluster exists in this sandbox, so the N vs 4N
executor-cluster criterion is evidenced by running the IDENTICAL
parse→enrich→route→aggregate job at ``local[N]`` and ``local[4N]``
(default N=4: this box throttles per-core clocks beyond ~16 busy cores —
a pure-CPU multiprocessing regex benchmark scales only 3.18×/0.79 from
8→32 procs — so 8 vs 32 would measure the hardware's own sublinearity,
not the job's; the driver instruction allows any N vs 4N pair).

Methodology for a noisy shared VM: measurements INTERLEAVE the two core
counts (drift hits both), each sample is a fresh ``spark-submit
--master local[cores] --py-files dist/log2seq_spark.zip`` launch (own
JVM, the north rule's launch protocol, package imported from the shipped
zip) that does one warmup + one measured run, and efficiency is computed
on best-of samples (minimum wall = least interference). Two metrics:

* ``pipeline``: full parse→enrich→route→aggregate with all sinks +
  aggregates committed (the north-rule metric);
* ``parse``: the parse+enrich stage alone (noop sink) — the
  compute-dominated core that must scale ~linearly.

Generation is excluded from timing (BASELINE.md protocol). Results go to
``BENCH/scaling.json``; render the markdown with tools/write_bench_md.py.

Usage:
    python tools/bench_scaling.py              # orchestrate
    python tools/bench_scaling.py --run 4      # one sample (internal)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DATA_DIR = os.path.join(REPO, ".data")
BENCH_DIR = os.path.join(REPO, "BENCH")
N_TURNS = int(os.environ.get("SPARK_GRAFT_SCALING_TURNS", 8_000_000))
CORES_N = int(os.environ.get("SPARK_GRAFT_SCALING_N", 4))
ROUNDS = int(os.environ.get("SPARK_GRAFT_SCALING_ROUNDS", 3))


def _turns_path() -> str:
    n_convs = max(200, N_TURNS // 82)
    return os.path.join(DATA_DIR, f"bench_turns_{n_convs}")


def sample_run(cores: int) -> None:
    """One warmup + one measured run of both metrics; prints one JSON."""
    from log2seq_spark.session import get_spark
    from log2seq_spark.plans.pipeline import (PipelineConfig, run_pipeline,
                                              enriched_turns)

    # under spark-submit the master comes from the submit command line
    # (get_spark leaves it untouched); plain-python fallback sets it
    master = (None if "PYSPARK_GATEWAY_PORT" in os.environ
              else f"local[{cores}]")
    spark = get_spark(app_name=f"l2s-scaling-{cores}", master=master,
                      shuffle_partitions=cores * 2)
    spark.sparkContext.setLogLevel("OFF")
    turns = spark.read.parquet(_turns_path())
    n = turns.count()
    out_dir = os.path.join(DATA_DIR, f"scaling_out_{cores}")

    def one_pipeline() -> float:
        shutil.rmtree(out_dir, ignore_errors=True)
        cfg = PipelineConfig(out_dir=out_dir, n_buckets=64,
                             partitions=cores * 2, input_id="scaling")
        t0 = time.monotonic()
        run_pipeline(spark, turns, cfg, resume=False)
        return time.monotonic() - t0

    def one_parse() -> float:
        cfg = PipelineConfig(out_dir=out_dir, n_buckets=64,
                             partitions=cores * 2)
        t0 = time.monotonic()
        (enriched_turns(spark, turns, cfg)
         .select("conv_id", "turn_idx", "parsed", "sink", "bucket")
         .write.format("noop").mode("overwrite").save())
        return time.monotonic() - t0

    # SPARK_GRAFT_SCALING_METRIC splits a sample into per-metric launches
    # (parse | pipeline | both) so each stays within a runner timeout
    metric = os.environ.get("SPARK_GRAFT_SCALING_METRIC", "both")
    rec = {"cores": cores, "rows": n}
    if metric in ("parse", "both"):
        one_parse()                # warmup: codegen + python workers
        rec["parse_sec"] = one_parse()
    if metric in ("pipeline", "both"):
        one_pipeline()             # warmup for write paths
        rec["pipeline_sec"] = one_pipeline()
    spark.stop()
    print(json.dumps(rec))


def orchestrate() -> None:
    from log2seq_spark.session import driver_memory, get_spark
    from log2seq_spark.sources.transcripts import write_transcripts
    path = _turns_path()
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spark = get_spark(app_name="l2s-scaling-gen", master="local[32]")
        spark.sparkContext.setLogLevel("ERROR")
        write_transcripts(spark, path, max(200, N_TURNS // 82), seed=42,
                          partitions=64)
        spark.stop()

    # launch protocol: spark-submit --py-files with the package zip when
    # spark-submit is available (the north rule's protocol), else plain
    # python subprocesses
    spark_submit = shutil.which("spark-submit")
    zip_path = None
    if spark_submit:
        from tools.build_pyfiles import build
        zip_path = build()

    def _launch(cores: int) -> list:
        if spark_submit:
            # driver memory MUST be on the submit command line — builder
            # conf is a no-op once the JVM is up (local mode: the driver
            # heap IS the executor heap)
            return [spark_submit, "--master", f"local[{cores}]",
                    "--driver-memory", driver_memory(),
                    "--py-files", zip_path,
                    os.path.abspath(__file__), "--run", str(cores)]
        return [sys.executable, os.path.abspath(__file__),
                "--run", str(cores)]

    samples = {CORES_N: [], CORES_N * 4: []}
    rows = None
    for _ in range(ROUNDS):
        for cores in (CORES_N, CORES_N * 4):   # interleaved
            out = subprocess.run(
                _launch(cores),
                capture_output=True, text=True, cwd=REPO)
            line = [x for x in out.stdout.splitlines() if x.startswith("{")][-1]
            rec = json.loads(line)
            rows = rec["rows"]
            samples[cores].append(rec)
            print(line)

    def best(cores, key):
        return min(r[key] for r in samples[cores])

    summary = {"rows": rows, "n_cores": CORES_N, "n4_cores": CORES_N * 4,
               "launched_via": ("spark-submit --py-files dist/log2seq_spark.zip"
                                if spark_submit else "python subprocess"),
               "samples": samples}
    result = {}
    for key in ("parse", "pipeline"):
        tn = best(CORES_N, f"{key}_sec")
        t4n = best(CORES_N * 4, f"{key}_sec")
        result[key] = {
            f"local[{CORES_N}]_sec": round(tn, 2),
            f"local[{CORES_N*4}]_sec": round(t4n, 2),
            f"local[{CORES_N}]_turns_per_sec": round(rows / tn, 1),
            f"local[{CORES_N*4}]_turns_per_sec": round(rows / t4n, 1),
            "scaling_efficiency": round((tn / t4n) / 4, 3),
        }
    summary["metrics"] = result
    summary["criterion"] = (f"(thr[local{CORES_N*4}]/thr[local{CORES_N}])/4 "
                            f">= 0.8, best-of-{ROUNDS} interleaved samples")
    os.makedirs(BENCH_DIR, exist_ok=True)
    # SPARK_GRAFT_SCALING_OUT lets a secondary pair (e.g. 8v32, which is
    # hardware-ceiling-bound on this box — see tools/cpu_control.py) land
    # beside the protocol 2v8 file instead of clobbering it
    out_name = os.environ.get("SPARK_GRAFT_SCALING_OUT", "scaling.json")
    with open(os.path.join(BENCH_DIR, out_name), "w") as fh:
        json.dump(summary, fh, indent=2)
    print(json.dumps({"metrics": result, "criterion": summary["criterion"]}))


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--run":
        sample_run(int(sys.argv[2]))
    else:
        orchestrate()
