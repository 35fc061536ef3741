"""``session``: the local-mode driver heap follows the host's physical
memory unless the environment pins it, and a session from ``get_spark``
compiles each generated class once. The heap tests start no session;
the codegen test runs its own in a subprocess."""

import json
import os
import pathlib
import subprocess
import sys

import pytest

from log2seq_spark import session

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _host(monkeypatch, gib):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


@pytest.mark.parametrize("gib, heap", [(15, "7680m"), (80, "40960m"),
                                       (256, "40960m")])
def test_half_the_host_capped_at_40g(monkeypatch, gib, heap):
    _host(monkeypatch, gib)
    assert session.driver_memory() == heap


def test_environment_overrides(monkeypatch):
    _host(monkeypatch, 15)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"


def test_unknown_host_memory_falls_back_to_cap(monkeypatch):
    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", unsupported)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.driver_memory() == "40960m"


# 60 projections whose integer literal is inlined into the generated
# source, so each is a distinct pair of compiled classes: 120 entries,
# more than Spark's default 100-entry cache. Count the Janino compiles
# of a second pass over the same projections.
_CODEGEN_PROBE = r"""
import json
from pyspark.sql import functions as F
from log2seq_spark.session import get_spark

spark = get_spark(master="local[1]",
                  extra_conf={"spark.ui.enabled": "false",
                              "spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount


def run_pass():
    before = compiles()
    for i in range(60):
        spark.range(4).select((F.col("id") * 7 + i).alias("x")).collect()
    return compiles() - before


print(json.dumps({"first": run_pass(), "second": run_pass()}))
spark.stop()
"""


def test_generated_classes_compile_once_per_session():
    env = dict(os.environ, PYTHONPATH=str(ROOT),
               SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", _CODEGEN_PROBE], env=env,
                         cwd=str(ROOT), capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["first"] > 100, got
    assert got["second"] == 0, got
