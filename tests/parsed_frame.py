"""Test helpers: run the production Arrow parse (``BatchParser.parse``)
or statement tokenizing (``parse.token_lists``, what ``with_tokens``
runs per batch) and read the Arrow output back as Python values."""

import pandas as pd
import pyarrow as pa

from log2seq_spark.functions.parse import BatchParser, token_lists
from log2seq_spark.functions.tokenizer import VectorTokenizer


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


def tokenize_lists(actions, statements):
    """(words, symbols): one python list per statement, None for a NULL
    statement."""
    texts = pd.Series(statements, dtype=object)
    words, symbols = token_lists(VectorTokenizer(actions), texts,
                                 texts.notna().to_numpy(dtype=bool))
    return words.to_pylist(), symbols.to_pylist()
