"""Batch parse = vectorized header cascade + vectorized tokenizer.

What the Spark UDF layer wraps: one Arrow batch of raw ``text`` in, one
Arrow struct column (header fields + words/symbols) out. Text crosses
the JVM↔Python Arrow boundary exactly once (SURVEY.md §4.2 "UDF
fusion"), and the word/symbol ListArrays are built straight from the
tokenizer's flat output (value array + end offsets) by
:func:`token_lists`, which statement mode (``udf.with_tokens``) shares.
"""

from __future__ import annotations

from typing import Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa

from ..rules.spec import RuleProgram
from .header import VectorHeaderParser
from .tokenizer import VectorTokenizer


def _list_array(flat: np.ndarray, ends: np.ndarray,
                valid: np.ndarray) -> pa.ListArray:
    """ListArray from flat values + inclusive end offsets; rows where
    ``valid`` is False become null lists."""
    n = len(ends)
    offsets = np.zeros(n + 1, dtype=np.int32)
    offsets[1:] = ends
    # a null at offsets[i] marks list i null; the final offset must stay
    # non-null (Arrow ListArray.from_arrays convention)
    off = pa.array(offsets, type=pa.int32(),
                   mask=np.concatenate((~valid, [False])))
    values = pa.array(flat, type=pa.string())
    return pa.ListArray.from_arrays(off, values)


def token_lists(tokenizer: VectorTokenizer, texts: pd.Series,
                valid: np.ndarray) -> Tuple[pa.ListArray, pa.ListArray]:
    """(words, symbols) ListArrays over the whole batch: only the
    ``valid`` rows are tokenized, the rest get null lists."""
    n = len(texts)
    w_ends = np.zeros(n, dtype=np.int64)
    s_ends = np.zeros(n, dtype=np.int64)
    if valid.any():
        wf, we, sf, se = tokenizer.run_flat(texts[valid])
        w_ends[valid] = we
        s_ends[valid] = se
        # carry forward the running offset across invalid gaps
        w_ends = np.maximum.accumulate(w_ends)
        s_ends = np.maximum.accumulate(s_ends)
    else:
        wf = sf = np.empty(0, dtype=object)
    return _list_array(wf, w_ends, valid), _list_array(sf, s_ends, valid)


class BatchParser:
    """Compiled program, reusable across Arrow batches (built once per
    executor process, see ``udf._parser_for``)."""

    def __init__(self, program: RuleProgram):
        self.program = program
        self.header = VectorHeaderParser(program.header_rules)
        self.tokenizer = VectorTokenizer(program.actions)

    @property
    def attr_schema(self):
        return self.header.attr_schema

    def parse(self, texts: pd.Series,
              default_year: Optional[pd.Series] = None) -> pa.StructArray:
        """→ struct of rule_id, ts, tz_sec, message, words, symbols,
        error + one field per attr (``udf.parsed_schema``'s layout).
        Failed / empty rows keep null message/words/symbols."""
        hdr = self.header.run(texts, default_year=default_year)
        ok = hdr["message"].notna().to_numpy(dtype=bool)

        arrays = [
            pa.array(hdr["rule_id"].to_numpy(np.int32)),
            pa.array(hdr["ts"], from_pandas=True).cast(pa.timestamp("us")),
            pa.array(hdr["tz_sec"], type=pa.int32(), from_pandas=True),
            pa.array(hdr["message"], type=pa.string(), from_pandas=True),
            *token_lists(self.tokenizer, hdr["message"], ok),
            pa.array(hdr["error"], type=pa.string(), from_pandas=True),
        ]
        names = ["rule_id", "ts", "tz_sec", "message", "words", "symbols",
                 "error"]
        for name, dtype in self.attr_schema:
            col = hdr[name]
            if dtype == "int":
                arrays.append(pa.array(pd.to_numeric(col), type=pa.int64(),
                                       from_pandas=True))
            else:
                arrays.append(pa.array(col, type=pa.string(),
                                       from_pandas=True))
            names.append(name)
        return pa.StructArray.from_arrays(arrays, names=names)
