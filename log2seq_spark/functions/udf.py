"""Spark bindings of rule programs.

Both bindings, the whole parse (:func:`with_parsed`: header cascade +
tokenize + separate) and statement mode (:func:`with_tokens`: tokenize +
separate), run inside one ``DataFrame.mapInArrow`` call that appends one
struct column, so raw text crosses the JVM↔Python boundary exactly once,
the passthrough columns cross untouched (zero-copy slices of the input
RecordBatch) and downstream field accesses are plain columnar
``select``s. The BatchParser / VectorTokenizer is compiled lazily once
per executor process and cached by program identity (the specs are
frozen / hashable dataclasses).

Every product Python UDF body (here and in ``operators/``) starts with
:func:`_drop_zip_finders`. PySpark's worker calls
``importlib.invalidate_caches()`` at the start of each task, and on
CPython 3.11 that re-reads the central directory of every cached
``zipimporter``: ``pyspark.zip`` once per package path imported from it
and the ``spark-core`` jar, 0.16-0.21 s of CPU per task (measured on a
4-core x86 host, Spark 4.1.2) before any product code runs. Dropping
those cache entries leaves the next task's invalidation nothing to
re-read.
"""

from __future__ import annotations

import sys
import zipimport
from functools import lru_cache
from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType, TimestampNTZType)

from ..rules.spec import RuleProgram
from .header import attr_fields_of
from .parse import BatchParser, token_lists
from .tokenizer import VectorTokenizer


def _drop_zip_finders() -> None:
    """Executor side: delete the ``zipimporter`` entries of
    ``sys.path_importer_cache``. importlib rebuilds a path's finder on
    demand (the archive directory itself stays cached in ``zipimport``),
    so imports still work; the next task's ``invalidate_caches()`` just
    finds no zip finders to re-read. Called on every task, not once per
    process: any later import that walks ``sys.path`` (a failed optional
    import, say) recreates them."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


# executor-side compile caches (one compile per process and program)
@lru_cache(maxsize=None)
def _parser_for(program: RuleProgram) -> BatchParser:
    return BatchParser(program)


@lru_cache(maxsize=None)
def _tokenizer_for(actions: tuple) -> VectorTokenizer:
    return VectorTokenizer(actions)


TOKENS_SCHEMA = StructType([
    StructField("words", ArrayType(StringType())),
    StructField("symbols", ArrayType(StringType())),
])


def parsed_schema(program: RuleProgram) -> StructType:
    """Static struct schema for a program: universal fields + one typed
    field per attr the program's rules can produce."""
    fields = [
        StructField("rule_id", IntegerType()),
        StructField("ts", TimestampNTZType()),
        StructField("tz_sec", IntegerType()),
        StructField("message", StringType()),
        *TOKENS_SCHEMA.fields,
        StructField("error", StringType()),
    ]
    for name, dtype in attr_fields_of(program.header_rules):
        fields.append(StructField(
            name, LongType() if dtype == "int" else StringType()))
    return StructType(fields)


def _append_struct(df: DataFrame, out_col: str, out_type: StructType,
                   build) -> DataFrame:
    """One ``mapInArrow`` appending ``out_col``: ``build(rb)`` turns each
    input RecordBatch into a StructArray of ``out_type``; the input
    columns pass through as zero-copy slices."""
    out_schema = StructType(df.schema.fields
                            + [StructField(out_col, out_type)])
    names = list(df.columns) + [out_col]

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _drop_zip_finders()
        for rb in batches:
            yield pa.RecordBatch.from_arrays(rb.columns + [build(rb)],
                                             names=names)

    return df.mapInArrow(mapper, schema=out_schema)


def with_parsed(df: DataFrame, program: RuleProgram, text_col: str = "text",
                ts_col: Optional[str] = "ts",
                default_year: Optional[int] = None,
                out_col: str = "parsed") -> DataFrame:
    """Attach the parsed struct column (``parsed_schema(program)``) to a
    DataFrame of raw lines, via one ``mapInArrow`` running
    ``BatchParser.parse`` per Arrow batch.

    Rules with the year_from_ts policy take the year from ``ts_col``;
    for raw-line inputs with no timestamp column pass ``default_year``
    (the CLI defaults it to the wall-clock year, matching the reference
    CLI's now().year behavior)."""
    needs_year = any(r.year_from_ts for r in program.header_rules)
    cols = list(df.columns)
    text_idx = cols.index(text_col)
    ts_idx = cols.index(ts_col) if (needs_year and ts_col in cols) else None

    def parse(rb: pa.RecordBatch) -> pa.StructArray:
        texts = rb.column(text_idx).to_pandas()
        years = None
        if ts_idx is not None:
            years = pd.Series(
                pd.to_datetime(rb.column(ts_idx).to_pandas())
                  .dt.year.astype("float64").to_numpy())
        elif needs_year and default_year is not None:
            years = pd.Series(np.full(len(texts), float(default_year)))
        return _parser_for(program).parse(texts, years)

    return _append_struct(df, out_col, parsed_schema(program), parse)


def with_tokens(df: DataFrame, actions, text_col: str,
                out_col: str) -> DataFrame:
    """Attach ``struct<words, symbols>`` (``TOKENS_SCHEMA``) to a
    DataFrame of statements: statement-only tokenizing with no header
    cascade, the counterpart of the reference's ``process_statement`` /
    CLI ``--statement`` mode. NULL text gets null lists; ``""`` gets
    ``[]`` / ``[""]``."""
    actions = tuple(actions)
    text_idx = list(df.columns).index(text_col)

    def tokenize(rb: pa.RecordBatch) -> pa.StructArray:
        texts = rb.column(text_idx).to_pandas()
        return pa.StructArray.from_arrays(
            token_lists(_tokenizer_for(actions), texts,
                        texts.notna().to_numpy(dtype=bool)),
            names=TOKENS_SCHEMA.names)

    return _append_struct(df, out_col, TOKENS_SCHEMA, tokenize)
