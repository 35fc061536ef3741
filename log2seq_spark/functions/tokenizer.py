"""Arrow/pandas-vectorized statement tokenizer.

Executes a compiled action list over a *token frame* — three parallel
arrays ``(row, tok, flag)`` covering a whole Arrow batch of statements —
instead of per-line Python. Per-token Python is reached only for the
span-dependent partial actions and stdlib ip validation, and there only on
the **deduplicated** candidate token set (the distinct-token dictionary
path; SURVEY.md §4.3), so cost is bounded by distinct-token count, not
row count.

Semantics match :func:`log2seq_spark.rules.engine.tokenize_statement`
(the pure oracle), which itself mirrors the reference
``/root/reference/log2seq/statement.py``.
"""

from __future__ import annotations

import itertools
import re
from typing import List, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from ..rules.spec import UNKNOWN, FIXED, SEP
from ..rules.engine import (_CompiledAction, compile_actions, is_ip_token,
                            apply_partial_to_token)


def _re2_compatible(pattern: str) -> bool:
    """Can RE2 (pyarrow.compute) evaluate this pattern?"""
    try:
        pc.match_substring_regex(pa.array([], type=pa.string()), pattern)
        return True
    except pa.lib.ArrowInvalid:
        return False


def _ascii_gated(tokens: np.ndarray, re2_ok: bool, re2_fn, py_fn
                 ) -> np.ndarray:
    """Boolean per token: ``re2_fn`` (pyarrow RE2 over a StringArray) on
    the ASCII tokens, ``py_fn`` (Python ``re`` over an object array) on
    the rest, scattered back into token order. RE2 character classes
    like \\d are ASCII-only while Python's are unicode-aware, so the two
    engines agree only on ASCII input; gating per token keeps one
    non-ASCII token from sending its whole batch to Python."""
    if len(tokens) == 0:
        return np.zeros(0, dtype=bool)
    if not re2_ok:
        return py_fn(tokens)
    arr = pa.array(tokens, type=pa.string())
    ascii_mask = pc.string_is_ascii(arr)
    ascii = ascii_mask.to_numpy(zero_copy_only=False)
    if ascii.all():
        return re2_fn(arr)
    out = np.empty(len(tokens), dtype=bool)
    out[ascii] = re2_fn(arr.filter(ascii_mask))
    out[~ascii] = py_fn(tokens[~ascii])
    return out


class _MaskOps:
    """RE2-backed mask evaluation with exact-semantics fallbacks.

    re.match == RE2 search of ``^(?:p)``, over ASCII tokens only (see
    :func:`_ascii_gated`); non-ASCII tokens and RE2-incompatible
    patterns take the pandas path. Measured ~5-9× faster than pandas
    ``.str`` on the preset workload.
    """

    def __init__(self, patterns: List[str]):
        self.wrapped = ["^(?:" + p + ")" for p in patterns]
        self.re2_ok = all(_re2_compatible(w) for w in self.wrapped)

    def _re2(self, arr: pa.StringArray) -> np.ndarray:
        out = np.zeros(len(arr), dtype=bool)
        for w in self.wrapped:
            out |= pc.match_substring_regex(arr, w).to_numpy(
                zero_copy_only=False)
        return out

    def match_any(self, tokens: np.ndarray,
                  rxs: List[re.Pattern]) -> np.ndarray:
        return _ascii_gated(tokens, self.re2_ok, self._re2,
                            lambda t: _match_any_pandas(t, rxs))


class _ContainsOp:
    """RE2 'contains' prefilter with pandas fallback (search semantics —
    identical in both engines for a plain character class)."""

    def __init__(self, pattern: str):
        self.pattern = pattern
        self.re2_ok = _re2_compatible(pattern)

    def _re2(self, arr: pa.StringArray) -> np.ndarray:
        return pc.match_substring_regex(arr, self.pattern).to_numpy(
            zero_copy_only=False)

    def _pandas(self, tokens: np.ndarray) -> np.ndarray:
        return pd.Series(tokens, dtype=object).str.contains(
            self.pattern, regex=True).to_numpy(dtype=bool)

    def run(self, tokens: np.ndarray) -> np.ndarray:
        return _ascii_gated(tokens, self.re2_ok, self._re2, self._pandas)


class TokenFrame:
    """Flagged token stream for a batch; array order is (row, position)."""

    __slots__ = ("row", "tok", "flag", "n_rows")

    def __init__(self, row: np.ndarray, tok: np.ndarray, flag: np.ndarray,
                 n_rows: int):
        self.row = row
        self.tok = tok
        self.flag = flag
        self.n_rows = n_rows

    @classmethod
    def from_statements(cls, statements: pd.Series) -> "TokenFrame":
        tok = statements.fillna("").to_numpy(dtype=object)
        n = len(tok)
        return cls(np.arange(n, dtype=np.int64), tok,
                   np.zeros(n, dtype=np.int8), n)


def _within_group_arange(counts: np.ndarray) -> np.ndarray:
    """[3,1,2] → [0,1,2, 0, 0,1]"""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.cumsum(counts)
    starts = ends - counts
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def _active_mask(tf: TokenFrame) -> np.ndarray:
    return (tf.flag == UNKNOWN) & (tf.tok != "")


def _scatter(tf: TokenFrame, mask: np.ndarray, flat_tok: np.ndarray,
             flat_flag: np.ndarray, piece_counts: np.ndarray) -> TokenFrame:
    """Replace each masked token with its run of pieces, preserving order."""
    counts = np.ones(len(tf.tok), dtype=np.int64)
    counts[mask] = piece_counts
    ends = np.cumsum(counts)
    starts = ends - counts
    total = int(ends[-1]) if len(ends) else 0
    out_tok = np.empty(total, dtype=object)
    out_flag = np.empty(total, dtype=np.int8)
    out_row = np.repeat(tf.row, counts)
    inactive = ~mask
    idx = starts[inactive]
    out_tok[idx] = tf.tok[inactive]
    out_flag[idx] = tf.flag[inactive]
    pos = np.repeat(starts[mask], piece_counts) + _within_group_arange(piece_counts)
    out_tok[pos] = flat_tok
    out_flag[pos] = flat_flag
    return TokenFrame(out_row, out_tok, out_flag, tf.n_rows)


def _flatten(lists) -> Tuple[np.ndarray, np.ndarray]:
    lens = np.fromiter((len(x) for x in lists), dtype=np.int64, count=len(lists))
    flat = np.fromiter(itertools.chain.from_iterable(lists), dtype=object,
                       count=int(lens.sum()))
    return flat, lens


def _run_split(tf: TokenFrame, split_rx: re.Pattern, mask: np.ndarray,
               contains_op: "_ContainsOp" = None) -> TokenFrame:
    """Capture-group split: pieces alternate part / separator-run / part…
    Empty part pieces are elided (the oracle's _split_pieces)."""
    if contains_op is not None and mask.any():
        # cheap vectorized prefilter: only tokens that contain a separator
        # char can change (late Split passes, e.g. ':', touch few tokens)
        mask = mask.copy()
        mask[mask] = contains_op.run(tf.tok[mask])
    if not mask.any():
        return tf
    ser = pd.Series(tf.tok[mask], dtype=object)
    flat, lens = _flatten(ser.str.split(split_rx, regex=True).tolist())
    parity = _within_group_arange(lens) % 2
    keep = (parity == 1) | (flat != "")
    group_id = np.repeat(np.arange(len(lens)), lens)
    kept_counts = np.bincount(group_id[keep], minlength=len(lens))
    flags = np.where(parity == 1, SEP, UNKNOWN).astype(np.int8)
    return _scatter(tf, mask, flat[keep], flags[keep], kept_counts)


def _match_any_pandas(tokens: np.ndarray, rxs: List[re.Pattern]) -> np.ndarray:
    """Vectorized re.match-any over an object array (prefix semantics,
    like pandas ``str.match``)."""
    if len(tokens) == 0:
        return np.zeros(0, dtype=bool)
    ser = pd.Series(tokens, dtype=object)
    out = np.zeros(len(tokens), dtype=bool)
    for rx in rxs:
        out |= ser.str.match(rx).to_numpy(dtype=bool)
    return out


def _run_action(tf: TokenFrame, act: _CompiledAction,
                masks: "_MaskOps" = None,
                contains: "_ContainsOp" = None) -> TokenFrame:
    kind = act.spec.kind
    active = _active_mask(tf)
    if not active.any():
        return tf

    if kind == "split":
        return _run_split(tf, act.split_rx, active, contains)

    if kind in ("fix", "remove"):
        hit = np.zeros(len(tf.tok), dtype=bool)
        hit[active] = masks.match_any(tf.tok[active], act.match_rxs)
        new_flag = FIXED if kind == "fix" else SEP
        flag = tf.flag.copy()
        flag[hit] = new_flag
        return TokenFrame(tf.row, tf.tok, flag, tf.n_rows)

    if kind == "fix_ip":
        # cheap vectorized prefilter, then stdlib validation once per
        # DISTINCT candidate token (exact ipaddress semantics)
        cand_mask = active.copy()
        cand_mask[active] = contains.run(tf.tok[active])
        if not cand_mask.any():
            return tf
        cands = tf.tok[cand_mask]
        uniq = pd.unique(cands)
        sp = act.spec
        verdict = {t: is_ip_token(t, sp.match_address, sp.match_network)
                   for t in uniq}
        ok = pd.Series(cands).map(verdict).to_numpy(dtype=bool)
        flag = tf.flag.copy()
        hit_idx = np.flatnonzero(cand_mask)[ok]
        flag[hit_idx] = FIXED
        return TokenFrame(tf.row, tf.tok, flag, tf.n_rows)

    if kind == "cond_split":
        hit = np.zeros(len(tf.tok), dtype=bool)
        hit[active] = masks.match_any(tf.tok[active], act.match_rxs)
        return _run_split(tf, act.split_rx, hit)

    if kind == "partial":
        # distinct-token dictionary path: the full multi-pattern sequential
        # span logic runs once per unique active token via the pure oracle
        uniq = pd.unique(tf.tok[active])
        table = {}
        for t in uniq:
            pieces = apply_partial_to_token(act, t)
            if pieces is not None:
                table[t] = pieces
        if not table:
            return tf
        changed = active.copy()
        in_table = pd.Series(tf.tok[active]).map(lambda t: t in table).to_numpy(dtype=bool)
        changed[active] = in_table
        piece_lists = [table[t] for t in tf.tok[changed]]
        flat_tok, lens = _flatten([[p for p, _ in pl] for pl in piece_lists])
        flat_flag = np.fromiter(
            itertools.chain.from_iterable((f for _, f in pl) for pl in piece_lists),
            dtype=np.int8, count=int(lens.sum()))
        return _scatter(tf, changed, flat_tok, flat_flag, lens)

    raise AssertionError(f"unhandled action kind {kind}")


def _separate_batch_flat(tf: TokenFrame):
    """Vectorized terminal pass → flat words/symbols arrays + per-row end
    offsets (the Arrow-native shape).

    Mirrors the oracle's ``separate``: empty words dropped, adjacent
    separators merged, empty symbols inserted between adjacent words and
    at both ends; ``len(symbols) == len(words) + 1`` per row.
    """
    is_sep = tf.flag == SEP
    keep = is_sep | (tf.tok != "")
    row = tf.row[keep]
    tok = tf.tok[keep]
    sep = is_sep[keep]
    is_word = ~sep

    R = tf.n_rows
    w_counts = np.bincount(row[is_word], minlength=R)
    w_ends = np.cumsum(w_counts)
    w_starts = w_ends - w_counts

    sym_counts = w_counts + 1
    sym_ends = np.cumsum(sym_counts)
    sym_starts = sym_ends - sym_counts
    total_syms = int(sym_ends[-1]) if R else 0

    # symbol slot of each separator = number of words seen so far in its row
    words_before = np.cumsum(is_word) - is_word
    sep_rows = row[sep]
    slot = words_before[sep] - w_starts[sep_rows]
    target = sym_starts[sep_rows] + slot

    sym_flat = np.full(total_syms, "", dtype=object)
    if len(target):
        merged = pd.Series(tok[sep], dtype=object).groupby(target).sum()
        sym_flat[merged.index.to_numpy()] = merged.to_numpy(dtype=object)

    return tok[is_word], w_ends, sym_flat, sym_ends


class VectorTokenizer:
    """Compiled, batch-vectorized statement tokenizer."""

    def __init__(self, actions):
        self.actions = compile_actions(actions)
        # per-action RE2/pandas mask evaluators (compat decided once)
        self._aux = []
        for act in self.actions:
            masks = (_MaskOps(list(act.spec.patterns))
                     if act.spec.kind in ("fix", "remove", "cond_split")
                     else None)
            if act.spec.kind in ("split", "cond_split"):
                contains = _ContainsOp(act.split_contains_rx.pattern)
            elif act.spec.kind == "fix_ip":
                contains = _ContainsOp(r"[.:]")
            else:
                contains = None
            self._aux.append((masks, contains))

    def run_flat(self, statements: pd.Series):
        """Arrow-native output: (words_flat, words_end_offsets,
        symbols_flat, symbols_end_offsets) — feed straight into
        ``pa.ListArray.from_arrays`` without building python lists."""
        tf = TokenFrame.from_statements(statements)
        for act, (masks, contains) in zip(self.actions, self._aux):
            tf = _run_action(tf, act, masks, contains)
        return _separate_batch_flat(tf)
