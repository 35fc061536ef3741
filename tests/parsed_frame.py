"""Test helper: run the production Arrow parse (``BatchParser.parse``)
and read its struct back as a pandas frame."""

import pandas as pd
import pyarrow as pa

from log2seq_spark.functions.parse import BatchParser


def parse_frame(program, lines, default_year=None) -> pd.DataFrame:
    """One row per line: rule_id, ts, tz_sec, message, words, symbols,
    error + one column per attr. Nulls read as None (strings, lists),
    NaT (ts) or NaN (numbers); words/symbols are python lists."""
    struct = BatchParser(program).parse(pd.Series(lines, dtype=object),
                                        default_year=default_year)
    out = pa.Table.from_struct_array(struct).to_pandas()
    for name in ("words", "symbols"):
        out[name] = pd.Series(struct.field(name).to_pylist(), dtype=object)
    return out
