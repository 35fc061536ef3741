"""log2seq-spark benchmark.

    python3 perfbench/run.py --workload pipeline|parse_long|queries \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds its inputs from ``--seed`` under
``.perfbench/`` (cached per seed), starts a ``local[nproc]`` session,
warms up, then runs the workload as a closed loop with one client for
``--seconds`` (at least one iteration), checking every iteration's
output against a reference outside the timed part. The last stdout line
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its
per-layer metrics from a traced run (``--trace 1``). Diagnostics go to
stderr; a traced run also writes its spans to
``.perfbench/out/trace-<workload>-s<seed>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

SETUPS = 3           # set-up repetitions per run; setup_s is their median
# Driver heap. Local mode runs every task in the driver JVM. A quarter of
# a 15 GB box (3.9 GB) let G1 grow the heap by run timing, and peak RSS
# then spread 21-30% between seeds; at 1 GiB it spread 5-17% over ten
# seeds, and no workload needs more.
DRIVER_HEAP = "1g"


def prepare_env(cpus: int, trace: bool) -> dict:
    """Process environment and Spark conf shared by every session, set
    before the JVM starts so Python workers inherit it. Only a traced
    run starts the web UI, whose REST API the trace reads."""
    work = os.path.join(STATE, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: no perf-data files in
    # the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]))
    return {
        "spark.ui.enabled": str(trace).lower(),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def start_session(cpus: int, conf: dict):
    from log2seq_spark.session import get_spark
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM PySpark launched, and wait for both."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    from measure import _proc_table
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        table = _proc_table()
        left = [p for p, (pp, *_r) in table.items() if pp == os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        os.kill(p, signal.SIGKILL)
        os.waitpid(p, 0)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "log2seq_spark")):
        print("perfbench: no log2seq_spark package next to perfbench/; "
              "run from the root of a log2seq-spark checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(1, ROOT)
    cpus = len(os.sched_getaffinity(0))
    conf = prepare_env(cpus, bool(args.trace))

    from bench import cpu_calibration
    from measure import RssSampler, SparkRest, median
    from traced import traced
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; expected "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    calib = [cpu_calibration()]
    wl = WORKLOADS[args.workload](args.seed, cpus,
                                  os.path.join(STATE, "data"),
                                  os.path.join(STATE, "work"))
    stamps = {"start": time.monotonic()}

    # inputs and references, once per seed (cached; not timed)
    spark = start_session(cpus, conf)
    try:
        wl.prepare(spark)
        stamps["prepared"] = time.monotonic()
        # set-up: fresh session + input cache check, several times
        setup = []
        for _ in range(SETUPS):
            spark.stop()
            t0 = time.monotonic()
            spark = start_session(cpus, conf)
            wl.check_input(spark)
            setup.append(time.monotonic() - t0)

        t0 = time.monotonic()
        wl.warm(spark)
        warmup_s = time.monotonic() - t0
        stamps["warm"] = time.monotonic()
        loop = Loop(spark, wl, args.seconds)
        if args.trace:
            metrics = traced(loop, spark, wl, SparkRest(spark.sparkContext))
        else:
            with RssSampler() as rss:
                loop.run()
            metrics = {
                "wall_s": median(loop.walls),
                "rows_per_s": median(wl.input_rows / w for w in loop.walls),
                "cpu_s": median(loop.cpu),
                "peak_rss_mb": rss.peak / 2**20,
                "output_bytes": median(loop.output_bytes),
            }
        stamps["measured"] = time.monotonic()
        calib.append(cpu_calibration())
        metrics.update({"setup_s": median(setup),
                        "pass_rate": 1 - loop.failed / loop.attempted,
                        "session.warmup_s": warmup_s,
                        "host.calib_lines_per_s": median(calib)})
    finally:
        stop_session(spark)

    kind = "per_layer" if args.trace else "end_to_end"
    out, missing = {}, []
    for m in spec[kind]:
        name = m["name"]
        if name in metrics:
            value = metrics[name]
        elif kind == "per_layer" and name.startswith(wl.idle):
            value = 0.0     # a layer this workload does not run
        else:
            missing.append(name)
            continue
        out[name] = {"value": float(value), "unit": m["unit"]}
    if missing:
        raise RuntimeError(f"{kind} metrics not measured: {missing}")
    summary = {"workload": args.workload, "seed": args.seed,
               "iterations": len(loop.walls),
               "walls_s": [round(w, 4) for w in loop.walls],
               "setup_samples_s": [round(s, 4) for s in setup],
               "phases_s": {k: round(stamps[k] - stamps[p], 2) for p, k in
                            zip(stamps, list(stamps)[1:])},
               "calib_lines_per_s": calib, "input_rows": wl.input_rows}
    print("# " + json.dumps(summary), file=sys.stderr)
    if args.trace:
        trace_path = os.path.join(STATE, "out", f"trace-{args.workload}"
                                  f"-s{args.seed}.json")
        top = getattr(loop.tracers[-1], "top_level", None)
        loop.dump(trace_path, {**summary, "metrics": out,
                               "top_level_share": top})
        print(f"# trace written to {trace_path}", file=sys.stderr)
    print(json.dumps({"correct": loop.failed == 0,
                      "attempted": loop.attempted, "failed": loop.failed,
                      "metrics": out}))
    return 0


class Loop:
    """Closed loop, one client: the next iteration starts when the
    previous one finishes, for at least ``seconds`` and one iteration.
    Each iteration's output is checked after its wall is taken."""

    def __init__(self, spark, wl, seconds: float):
        self.spark, self.wl, self.seconds = spark, wl, seconds
        self.walls, self.cpu, self.output_bytes = [], [], []
        self.attempted = self.failed = 0
        self.tracers = []

    def once(self, tracer=None) -> float:
        from measure import cpu_by_role
        c0 = cpu_by_role()
        t0 = time.monotonic()
        try:
            if tracer is None:
                self.wl.run(self.spark)
            else:
                with tracer.span("iteration"):
                    self.wl.run(self.spark, tracer)
            ok = True
        except Exception:
            traceback.print_exc()
            ok = False
        wall = time.monotonic() - t0
        c1 = cpu_by_role()
        self.attempted += self.wl.units
        self.failed += self.wl.check(self.spark) if ok else self.wl.units
        self.walls.append(wall)
        self.cpu.append(sum(c1.values()) - sum(c0.values()))
        self.output_bytes.append(self.wl.output_bytes)
        self.last_cpu = {k: c1[k] - c0[k] for k in c1}
        return wall

    def run(self) -> None:
        t0 = time.monotonic()
        while not self.walls or time.monotonic() - t0 < self.seconds:
            self.once()

    def dump(self, path, extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        merged = {"runs": []}
        for tr in self.tracers:
            selfs = tr.self_times()
            merged["runs"].append(
                {"run": tr.run_id,
                 "spans": [dict(sp, self_s=selfs.get(sp["id"]))
                           for sp in tr.spans]})
        merged.update(extra)
        with open(path + ".tmp", "w") as fh:
            json.dump(merged, fh, indent=1)
        os.replace(path + ".tmp", path)


if __name__ == "__main__":
    sys.exit(main())
