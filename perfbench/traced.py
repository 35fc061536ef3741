"""The traced run: per-layer metrics from spans, Spark's REST API and
/proc, plus the single-thread parse baselines.

Traced and untraced iterations alternate in one process after the same
warm-up, so the tracing overhead is the difference of their median
walls. Layer metrics come from the last traced iteration (for
``queries``, from one traced pass over every query).
"""

from __future__ import annotations

import os
import sys
import time

from measure import Tracer, arrow_udf_nodes, covered, median, rest_time
from measure import stage_wall
from layers import parse_layers

# spans of the pipeline's read-back and aggregate steps
_AGG_SPANS = ("readback_stats", "agg_tokens", "agg_templates")


def traced(loop, spark, wl, rest) -> dict:
    sc = spark.sparkContext
    plain, walls = [], []
    t0 = time.monotonic()
    while not walls or time.monotonic() - t0 < loop.seconds:
        plain.append(loop.once())
        walls.append(_traced_once(loop, Tracer(sc, rest, f"t{len(walls)}")))
    if wl.name == "queries":
        wl.names = tuple(wl.all)
        wl.units = len(wl.names)
        _traced_once(loop, Tracer(sc, rest, "all_queries"))
    tracer = loop.tracers[-1]
    m = {"trace.overhead_s": median(walls) - median(plain),
         **{f"session.{k}_cpu_s": v for k, v in tracer.cpu.items()}}
    m.update(_spark_layers(tracer, rest, wl))
    if wl.name == "pipeline":
        m.update(_pipeline_layers(tracer, rest, wl))
    m.update({f"queries.{name}.wall_s": wall
              for name, wall in getattr(wl, "walls", {}).items()})
    batch = wl.parse_batch(spark)
    m["sources.non_ascii_share"] = (
        wl.non_ascii_share if wl.non_ascii_share is not None
        else sum(not t.isascii() for t in batch["text"]) / len(batch))
    m.update(parse_layers(batch))
    _print_self_times(tracer)
    return m


def _traced_once(loop, tracer) -> float:
    wall = loop.once(tracer)
    tracer.cpu = {"driver": loop.last_cpu["driver"],
                  "jvm": loop.last_cpu["jvm"],
                  "python_worker": loop.last_cpu["python_workers"]}
    tracer.jobs, tracer.stages = tracer.add_spark_children()
    loop.tracers.append(tracer)
    return wall


def _iteration(tracer) -> dict:
    return next(sp for sp in tracer.spans if sp["name"] == "iteration")


def _stages_of(tracer, jobs) -> list:
    return [tracer.stages[sid] for j in jobs for sid in j["stageIds"]
            if sid in tracer.stages]


def _span_jobs(tracer, names) -> list:
    """REST jobs run inside the benchmark spans named ``names``."""
    groups = {tracer.group(sp) for sp in tracer.spans if sp["name"] in names}
    return [j for j in tracer.jobs if j.get("jobGroup") in groups]


def _interval(stage: dict) -> dict:
    return {"start": rest_time(stage["submissionTime"]),
            "end": rest_time(stage["completionTime"])}


def _spark_layers(tracer, rest, wl) -> dict:
    stages = list(tracer.stages.values())
    m = {"spark.tasks": sum(s["numCompleteTasks"] for s in stages),
         "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"]
                                          for s in stages),
         "spark.spill_bytes": sum(s["memoryBytesSpilled"]
                                  + s["diskBytesSpilled"] for s in stages),
         "spark.executor_cpu_s": sum(s["executorCpuTime"]
                                     for s in stages) / 1e9,
         "spark.executor_run_s": sum(s["executorRunTime"]
                                     for s in stages) / 1e3,
         "session.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3}
    execs = rest.executions(j["jobId"] for j in tracer.jobs)
    tracer.parse_ids, sent, recv = arrow_udf_nodes(execs)
    parse = [tracer.stages[i] for i in tracer.parse_ids
             if i in tracer.stages]
    if parse:
        m["plans.pipeline.parse_stage_s"] = sum(map(stage_wall, parse))
        m["plans.pipeline.parse_stage_task_skew"] = rest.task_skew(
            max(parse, key=lambda s: s["executorRunTime"]))
        m["plans.pipeline.arrow_to_python_bytes"] = sent
        m["plans.pipeline.arrow_from_python_bytes"] = recv
    # the sources layer is the input scan; in the pipeline that is the
    # routed-write job, not the read-back of its own output
    jobs = (_span_jobs(tracer, {"route_write"}) if wl.name == "pipeline"
            else tracer.jobs)
    scan = [s for s in _stages_of(tracer, jobs) if s["inputBytes"] > 0]
    if scan:
        m["sources.scan_rows"] = sum(s["inputRecords"] for s in scan)
        m["sources.scan_bytes"] = sum(s["inputBytes"] for s in scan)
        m["sources.scan_s"] = sum(map(stage_wall, scan))
    if wl.name != "queries":
        # the salted repartition's exchange is written by the scan stage
        m["plans.pipeline.salt_shuffle_bytes"] = sum(
            s["shuffleWriteBytes"] for s in scan)
    # share of the iteration's wall that Spark stages cover; for the
    # pipeline, only its top-level steps count
    it = _iteration(tracer)
    wall = it["end"] - it["start"]
    if wl.name == "pipeline":
        top = _pipeline_top_level(tracer)
        tracer.top_level = {k: covered(it, v) / wall for k, v in top.items()}
        spans = [sp for v in top.values() for sp in v]
    else:
        spans = [_interval(s) for s in stages]
    m["trace.phase_coverage"] = covered(it, spans) / wall
    return m


def _pipeline_top_level(tracer) -> dict:
    """The pipeline's top-level steps as intervals: the routed-write
    job's scan, shuffle+parse and write stages (from REST), the stages
    of the read-back and aggregate jobs, and the manifest commit."""
    route = _stages_of(tracer, _span_jobs(tracer, {"route_write"}))
    return {
        "scan": [_interval(s) for s in route if s["inputBytes"] > 0],
        "shuffle_parse": [_interval(s) for s in route
                          if s["stageId"] in tracer.parse_ids],
        "route_write": [_interval(s) for s in route if s["outputBytes"] > 0],
        "readback_agg": [_interval(s) for s in _stages_of(
            tracer, _span_jobs(tracer, _AGG_SPANS))],
        "manifest": [sp for sp in tracer.spans if sp["name"] == "manifest"],
    }


def _dir_stats(path) -> tuple[int, int, int]:
    """(data files, bytes, leaf dirs) under path; skips _/. markers."""
    files = size = dirs = 0
    for d, subdirs, names in os.walk(path):
        data = [n for n in names if not n.startswith(("_", "."))]
        files += len(data)
        size += sum(os.path.getsize(os.path.join(d, n)) for n in data)
        dirs += not subdirs
    return files, size, dirs


def _pipeline_layers(tracer, rest, wl) -> dict:
    from log2seq_spark.plans import manifest as mf
    from log2seq_spark.plans import pipeline as pl
    dur = {sp["name"]: sp["end"] - sp["start"] for sp in tracer.spans
           if sp["name"] in _AGG_SPANS + ("route_write", "manifest")}
    write = [s for s in _stages_of(tracer, _span_jobs(tracer,
                                                      {"route_write"}))
             if s["outputBytes"] > 0]
    files, size, dirs = _dir_stats(os.path.join(wl.out_dir, pl.ROUTED))
    m = {
        "plans.pipeline.agg_s": sum(dur[p] for p in _AGG_SPANS),
        "plans.pipeline.agg_shuffle_bytes": sum(
            s["shuffleWriteBytes"]
            for s in _stages_of(tracer, _span_jobs(tracer, _AGG_SPANS))),
        "plans.pipeline.cache_bytes": wl.extra["cache_bytes"],
        "plans.pipeline.output_bytes": wl.output_bytes,
        "plans.sink.routed_files": files,
        "plans.sink.routed_bytes": size,
        "plans.sink.routed_dirs": dirs,
        "plans.sink.write_task_skew": max(rest.task_skew(s) for s in write),
        "plans.manifest.commit_s": dur["manifest"],
        "plans.manifest.records": len(mf.read_manifest(wl.out_dir)),
    }
    for p in _AGG_SPANS + ("route_write",):
        m[f"plans.pipeline.{p}_s"] = dur[p]
    return m


def _print_self_times(tracer) -> None:
    """Children of the iteration span: wall and self time, to stderr."""
    selfs = tracer.self_times()
    it = _iteration(tracer)
    rows = [(sp["name"], sp["end"] - sp["start"], selfs[sp["id"]])
            for sp in tracer.spans
            if sp["parent"] == it["id"] and sp["end"] is not None]
    print(f"# {tracer.run_id}: iteration {it['end'] - it['start']:.3f}s "
          f"self {selfs[it['id']]:.3f}s", file=sys.stderr)
    for name, wall, self_s in rows[:60]:
        print(f"#   {name:40s} {wall:8.3f}s self {self_s:8.3f}s",
              file=sys.stderr)
    for name, share in getattr(tracer, "top_level", {}).items():
        print(f"#   top-level {name:30s} {share:6.1%} of the iteration",
              file=sys.stderr)
