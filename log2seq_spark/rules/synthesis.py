"""Regex synthesis + validation: HeaderRule spec → one compiled pattern.

Semantics mirror the reference's pattern builders exactly
(``/root/reference/log2seq/header.py:250-304``): separator placement flips
at the first mandatory field, optional fields are wrapped ``(...)?`` with
their separator, head/tail separators are optional, and full_format
replaces ``<i>`` placeholders in reversed index order.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import List, Optional, Tuple

from .spec import HeaderField, HeaderRule, RuleDefinitionError, MONTH_ABBREVIATIONS

# regex fragment per field kind (reference header.py per-Item ``pattern``)
# non-capturing inner groups keep the synthesized pattern RE2-eligible
# (pyarrow extract_regex rejects unnamed capturing groups); Python re
# semantics are unchanged — only named groups are ever read
_TZ_FRAGMENT = r"Z|(?:[+-](?:\d{2})\:(?:\d{2}))"
_TIME_FRAGMENT = (r"(?P<hour>\d{2}):(?P<minute>\d{2}):(?P<second>\d{2})"
                  r"(?:\.(?P<dsecond>\d+))?"
                  r"(?P<tz>" + _TZ_FRAGMENT + r")?")
_DATE_FRAGMENT = r"(?P<year>\d{4})-(?P<month>\d{2})-(?P<day>\d{2})"


def field_fragment(f: HeaderField) -> str:
    """Bare (unnamed) regex fragment for one field."""
    k = f.kind
    if k == "statement":
        return r".*"
    if k == "digit":
        return r"\d+"
    if k == "string":
        if f.symbols is not None:
            syms = f.symbols
            if "-" in syms:
                syms = syms.replace("-", "") + "-"
            return r"[a-zA-Z0-9" + syms + r"]+"
        return r"[a-zA-Z0-9]+"
    if k == "hostname":
        return (r"(?:[a-zA-Z0-9:][a-zA-Z0-9:._-]*[a-zA-Z0-9]+)"
                r"|(?:[a-zA-Z0-9])")
    if k == "user":
        return f.user_pattern
    if k == "year2":
        return r"[0-9]{2}"
    if k == "month_abbr":
        return r"|".join(MONTH_ABBREVIATIONS)
    if k == "iso_datetime":
        return _DATE_FRAGMENT + "T" + _TIME_FRAGMENT
    if k == "date":
        return _DATE_FRAGMENT
    if k == "time":
        return _TIME_FRAGMENT
    if k == "dsecond":
        return r"[0-9]+"
    if k == "tzone":
        # colon optional, no inner groups, so it can coexist with a time
        # field (reference header.py:672-676)
        return r"Z|[+-]\d{2}:?\d{2}"
    if k == "unixtime":
        return r"[0-9]+"
    if k == "date_concat":
        return r"[0-9]{6}" if f.no_century else r"[0-9]{8}"
    if k == "time_concat":
        return r"[0-9]{6}"
    if k == "group":
        return build_separator_regex(f.members, f.separator)
    raise RuleDefinitionError(f"unknown header field kind {f.kind!r}")


def field_regex(f: HeaderField) -> str:
    """Fragment wrapped in its named capture group (dummy fields stay bare;
    reference header.py:404-410)."""
    frag = field_fragment(f)
    if f.dummy:
        return frag
    return r"(?P<" + f.match_name + r">" + frag + ")"


def build_separator_regex(fields, separator: Optional[str]) -> str:
    """Join field regexes with separator runs (reference header.py:254-290)."""
    sep = r"\s+" if separator is None else r"[" + re.escape(separator) + r"]+"
    sep_opt = r"(?:" + sep + r")?"

    mandatory = [i for i, f in enumerate(fields) if not f.optional]
    if not mandatory:
        raise RuleDefinitionError("at least one header field must be non-optional")
    pivot = mandatory[0]

    parts: List[str] = [sep_opt]
    for i, f in enumerate(fields):
        p = field_regex(f)
        if i < pivot:
            p = p + sep          # before the pivot: separator on the right
        elif i > pivot:
            p = sep + p          # after the pivot: separator on the left
        if f.optional:
            p = r"(?:" + p + r")?"
        parts.append(p)
    parts.append(sep_opt)
    return "".join(parts)


def build_full_format_regex(fields, full_format: str) -> str:
    """Fill ``<i>`` placeholders of a template (reference header.py:292-304)."""
    out = re.sub(" +", r"\\s+", full_format)
    for i, f in reversed(list(enumerate(fields))):
        marker = f"<{i}>"
        if marker not in out:
            raise RuleDefinitionError(f"full_format is missing placeholder {marker}")
        out = out.replace(marker, field_regex(f), 1)
    return "^" + out + "$"


def flatten_picked(fields) -> List[HeaderField]:
    """Depth-first list of value-producing fields (groups flattened,
    dummies skipped; reference header.py:217-227)."""
    out: List[HeaderField] = []
    for f in fields:
        if f.kind == "group":
            out.extend(flatten_picked(f.members))
        elif not f.dummy:
            out.append(f)
    return out


@dataclass(frozen=True)
class CompiledHeaderRule:
    """A validated header rule with its synthesized, compiled pattern."""
    rule: HeaderRule
    pattern: re.Pattern
    picked: Tuple[HeaderField, ...]


def compile_header_rule(rule: HeaderRule) -> CompiledHeaderRule:
    fields = rule.fields
    # validation (reference header.py:229-248)
    if not any(not f.optional for f in fields):
        raise RuleDefinitionError("every field is optional; need a mandatory one")
    if "message" not in [f.value_name for f in fields]:
        raise RuleDefinitionError("a statement field is required in each header rule")
    picked = flatten_picked(fields)
    names = [f.match_name for f in picked]
    if len(names) != len(set(names)):
        raise RuleDefinitionError(f"duplicate match names in rule: {sorted(names)}")

    if rule.full_format:
        restr = build_full_format_regex(fields, rule.full_format)
    else:
        restr = "^" + build_separator_regex(fields, rule.separator) + "$"
    return CompiledHeaderRule(rule=rule, pattern=re.compile(restr), picked=tuple(picked))
