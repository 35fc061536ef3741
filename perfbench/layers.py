"""Single-thread baselines of the parse layer, in this process, on the
workload's own lines: the ``rules.engine`` reference semantics and the
``BatchParser`` sublayers (header cascade, tokenizer, and the whole
Arrow UDF body including the struct and list build)."""

from __future__ import annotations

import statistics
import time

import pandas as pd
import pyarrow as pa
from pyspark.sql.types import (StringType, StructField, StructType,
                               TimestampType)

from log2seq_spark.functions.parse import BatchParser
from log2seq_spark.functions.udf import with_parsed
from log2seq_spark.rules import LineEngine, ParseFailure
from log2seq_spark.rules.presets import default_program

REPEATS = 3
ENGINE_LINES = 1000


class _CaptureMapper:
    """Stands in for a DataFrame so ``with_parsed`` hands back the Arrow
    batch function it would give ``mapInArrow``."""
    schema = StructType([StructField("text", StringType()),
                         StructField("ts", TimestampType())])
    columns = ["text", "ts"]

    def mapInArrow(self, fn, schema):
        return fn


def _us_per_line(fn, n: int) -> float:
    samples = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples) / n * 1e6


def parse_layers(batch: pd.DataFrame) -> dict:
    program = default_program()
    texts = batch["text"].reset_index(drop=True)
    years = pd.Series(batch["ts"].dt.year.astype("float64").to_numpy())
    n = len(texts)
    bp = BatchParser(program)
    hdr = bp.header.run(texts, default_year=years)
    msgs = hdr.loc[hdr["message"].notna(), "message"]
    words_flat = bp.tokenizer.run_flat(msgs)[0]

    mapper = with_parsed(_CaptureMapper(), program, text_col="text",
                         ts_col="ts")
    rb = pa.RecordBatch.from_pandas(batch[["text", "ts"]],
                                    preserve_index=False)

    engines = {}
    lines = list(zip(texts[:ENGINE_LINES], batch["ts"][:ENGINE_LINES]))

    def engine():
        for text, ts in lines:
            eng = engines.get(ts.year)
            if eng is None:
                eng = engines[ts.year] = LineEngine(program,
                                                    default_year=ts.year)
            try:
                eng.parse_line(text or "")
            except ParseFailure:
                pass

    return {
        "functions.header.us_per_line": _us_per_line(
            lambda: bp.header.run(texts, default_year=years), n),
        # per line of the batch, so the three sublayers share one base
        "functions.tokenizer.us_per_line": _us_per_line(
            lambda: bp.tokenizer.run_flat(msgs), n),
        "functions.arrow_udf.us_per_line": _us_per_line(
            lambda: list(mapper(iter([rb]))), n),
        "functions.tokens_per_line": len(words_flat) / max(len(msgs), 1),
        "rules.engine.us_per_line": _us_per_line(engine, len(lines)),
    }
