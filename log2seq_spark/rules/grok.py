"""Grok front-end: compile ``%{SYNTAX:semantic}`` expressions into the
engine's :class:`~log2seq_spark.rules.spec.HeaderRule` programs.

Grok is the public pattern-aliasing convention popularized by Logstash:
a log format is written as literal text interleaved with ``%{NAME}``
references into a dictionary of named regex fragments, with an optional
semantic capture name (``%{IPV4:client}``) and an optional type hint
(``%{POSINT:pid:int}``). The north rule names "grok/regex parse" as the
parse surface; this module is the grok half, implemented as a thin
compiler onto the existing rule machinery — a grok-built rule is an
ordinary :class:`HeaderRule` (``full_format`` placement + ``user``
fields), so it runs through the same synthesized single regex, the same
vectorized Arrow extract, the same pure-Python oracle engine, and the
same CLI as item-built rules. No new execution path.

The pattern dictionary below is a reimplementation of the well-known
grok base vocabulary from its public description (the names and their
meanings are the public convention; each regex is written here from
scratch and kept RE2-safe — no backreferences, no lookaround, named
groups only at the field layer — because the vectorized header cascade
may execute patterns under RE2 via pyarrow, and the DuckDB oracles
replay them).

Semantic-name conventions (documented divergences from Logstash,
pinned by tests):

* ``:message`` designates the statement remainder — it compiles to the
  engine's ``statement`` field (pattern ``.*``) regardless of the
  referenced dictionary pattern, because the words/symbols tokenization
  contract needs the one statement field per rule.
* ``%{TIMESTAMP_ISO8601:timestamp}`` / ``%{DATESTAMP:timestamp}`` /
  ``%{SYSLOGTIMESTAMP:timestamp}`` compile to the engine's timestamp
  ITEMS (``iso_datetime`` / date+time group / month-day-time group), so
  the parsed ``ts`` is assembled exactly like an item-built rule (year
  defaults / ``year_from_ts`` apply). Any other pattern with semantic
  name ``timestamp`` is an error.
* Runs of literal spaces match ``\\s+`` (the engine's ``full_format``
  convention), not exactly-one-space.
* ``IP`` is IPv4 (no IPv6 alternation in the base dictionary; supply a
  custom pattern via ``pattern_definitions`` if needed).
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Tuple

from .spec import (HeaderField, HeaderRule, RuleDefinitionError, RuleProgram,
                   digit, group, iso_datetime, month_abbr, statement,
                   time_of_day)

# engine fragments reused verbatim so grok HOSTNAME == item hostname
_HOSTNAME_FRAGMENT = (r"(?:[a-zA-Z0-9:][a-zA-Z0-9:._-]*[a-zA-Z0-9]+)"
                      r"|(?:[a-zA-Z0-9])")
_IPV4_FRAGMENT = r"(?:25[0-5]|2[0-4]\d|[01]?\d{1,2})(?:\.(?:25[0-5]|2[0-4]\d|[01]?\d{1,2})){3}"

_LOGLEVELS = ("trace", "debug", "info", "notice", "warn", "warning",
              "err", "error", "crit", "critical", "alert", "fatal",
              "severe", "emerg", "emergency")

GROK_PATTERNS: Dict[str, str] = {
    # generic
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r"\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*'",
    "QS": r"%{QUOTEDSTRING}",
    # numbers
    "INT": r"[+-]?\d+",
    "POSINT": r"\d+",
    "NONNEGINT": r"\d+",
    "NUMBER": r"%{BASE10NUM}",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    # identifiers / network
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "EMAILADDRESS": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "UUID": r"[0-9a-fA-F]{8}(?:-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}",
    "IPV4": _IPV4_FRAGMENT,
    "IP": r"%{IPV4}",
    "HOSTNAME": _HOSTNAME_FRAGMENT,
    "IPORHOST": r"(?:%{IPV4})|(?:%{HOSTNAME})",
    "HOSTPORT": r"(?:%{IPORHOST}):%{POSINT}",
    "PROG": r"[\w._/%-]+",
    "PATH": r"(?:/[\w.-]+)+/?",
    "LOGLEVEL": "|".join(
        sorted({lv for w in _LOGLEVELS
                for lv in (w, w.upper(), w.capitalize())},
               key=lambda s: (-len(s), s))),
    # timestamps (as PLAIN string patterns; the ``:timestamp`` semantic
    # upgrades the two canonical ones to engine timestamp items)
    "MONTH": "|".join(m for m in
                      ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
                       "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")),
    "MONTHDAY": r"(?:0[1-9]|[12]\d|3[01]|[1-9])",
    "YEAR": r"\d{4}",
    "TIME": r"\d{2}:\d{2}:\d{2}(?:\.\d+)?",
    "TIMESTAMP_ISO8601":
        r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?"
        r"(?:Z|[+-]\d{2}:?\d{2})?",
    "DATESTAMP": r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(?:\.\d+)?"
                 r"(?:Z|[+-]\d{2}:?\d{2})?",
    "SYSLOGTIMESTAMP": r"(?:%{MONTH}) +(?:%{MONTHDAY}) (?:%{TIME})",
    # syslog wire-format helpers (RFC 3164 / 5424; see functions/syslog.py
    # for PRI decoding into facility/severity)
    "SYSLOG5424PRI": r"<\d{1,3}>",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGPROG": r"[\w._/%-]+(?:\[\d+\])?",
}

_REF_RE = re.compile(r"%\{(\w+)(?::([^:}]+))?(?::(\w+))?\}")
_MAX_DEPTH = 16


def _expand(fragment: str, defs: Dict[str, str], depth: int) -> str:
    if depth > _MAX_DEPTH:
        raise RuleDefinitionError(
            f"grok pattern nesting exceeds {_MAX_DEPTH} levels "
            "(circular %{...} reference?)")

    def sub(m: re.Match) -> str:
        name, semantic, _type = m.group(1), m.group(2), m.group(3)
        if semantic is not None:
            raise RuleDefinitionError(
                f"nested grok reference %{{{name}:{semantic}}} may not "
                "carry a semantic name (captures are only valid at the "
                "top level of the expression)")
        if name not in defs:
            raise RuleDefinitionError(f"unknown grok pattern %{{{name}}}")
        return "(?:" + _expand(defs[name], defs, depth + 1) + ")"

    return _REF_RE.sub(sub, fragment)


def _escape_literal(lit: str) -> str:
    """Literal template text → regex, keeping bare spaces bare so the
    engine's ``full_format`` space-run → ``\\s+`` convention applies."""
    if re.search(r"<\d+>", lit):
        raise RuleDefinitionError(
            f"literal text {lit!r} contains a <N> sequence, which "
            "collides with full_format placeholders; match it via a "
            "custom %{...} pattern instead")
    return re.escape(lit).replace("\\ ", " ")


def _digits_only(fragment: str) -> bool:
    """True when every string the fragment matches is all-digits (the
    precondition for typing a grok capture as int via the digit item,
    whose own regex is ``\\d+``): the fragment must consist solely of
    ``\\d`` atoms, ``(?:`` ``)`` grouping, and ``+ * ? {m,n}``
    quantifiers — anything else (signs, dots, classes) could match
    non-digit text and would silently change what the rule accepts."""
    stripped = fragment.replace("(?:", "").replace(")", "")
    return re.fullmatch(r"(?:\\d|[+*?]|\{\d+(?:,\d*)?\})+",
                        stripped) is not None


def _field_for(name: str, semantic: str, type_hint: Optional[str],
               defs: Dict[str, str]) -> HeaderField:
    """One top-level grok reference → one engine HeaderField."""
    if semantic == "message":
        return statement()
    if semantic == "timestamp":
        if name == "TIMESTAMP_ISO8601":
            return iso_datetime()
        if name == "SYSLOGTIMESTAMP":
            return group([month_abbr(), digit("day"), time_of_day()],
                         separator=" ")
        if name == "DATESTAMP":
            from .spec import date
            return group([date(), time_of_day()], separator=" ")
        raise RuleDefinitionError(
            f"%{{{name}:timestamp}}: only TIMESTAMP_ISO8601, DATESTAMP "
            "and SYSLOGTIMESTAMP compile to assembled timestamps; "
            "capture any other pattern under a different semantic name "
            "(it surfaces as a string attr)")
    expanded = _expand(defs[name], defs, depth=1) if name in defs else None
    if expanded is None:
        raise RuleDefinitionError(f"unknown grok pattern %{{{name}}}")
    if type_hint == "int":
        if not _digits_only(expanded):
            raise RuleDefinitionError(
                f"%{{{name}:{semantic}:int}}: int typing needs a "
                "digits-only pattern (e.g. POSINT); "
                f"%{{{name}}} expands to {expanded!r}")
        return digit(semantic)
    if type_hint is not None:
        raise RuleDefinitionError(
            f"unsupported grok type hint {type_hint!r} (only :int)")
    return HeaderField("user", name=semantic, user_pattern=expanded)


def grok_rule(expression: str,
              pattern_definitions: Optional[Dict[str, str]] = None,
              **rule_kwargs) -> HeaderRule:
    """Compile one grok expression into a HeaderRule.

    ``expression`` is literal text interleaved with ``%{NAME}`` (matched
    but not extracted), ``%{NAME:semantic}`` (extracted under
    ``semantic``) and ``%{NAME:semantic:int}`` references.
    ``pattern_definitions`` adds/overrides dictionary entries (fragments
    must be RE2-safe and capture-free, like the built-ins).
    ``rule_kwargs`` pass through to :class:`HeaderRule` — ``defaults``
    (e.g. ``(("year", 2024),)``), ``year_from_ts``, ``astimezone_sec``,
    ``reformat_timestamp``.

    The rule must capture ``:message`` somewhere (the engine's statement
    contract); a missing one raises at compile time.
    """
    defs = {**GROK_PATTERNS, **(pattern_definitions or {})}
    fields: List[HeaderField] = []
    template: List[str] = []
    pos = 0
    for m in _REF_RE.finditer(expression):
        template.append(_escape_literal(expression[pos:m.start()]))
        name, semantic, type_hint = m.group(1), m.group(2), m.group(3)
        if semantic is None:
            if name not in defs:
                raise RuleDefinitionError(f"unknown grok pattern %{{{name}}}")
            # dummy fields synthesize BARE (no enclosing named group), so
            # a top-level alternation (LOGLEVEL, HOSTNAME) must be wrapped
            # or its | would claim the whole surrounding template
            f = HeaderField(
                "user", dummy=True,
                user_pattern="(?:" + _expand(defs[name], defs, 1) + ")")
        else:
            f = _field_for(name, semantic, type_hint, defs)
        template.append(f"<{len(fields)}>")
        fields.append(f)
        pos = m.end()
    template.append(_escape_literal(expression[pos:]))
    if not fields:
        raise RuleDefinitionError(
            f"grok expression {expression!r} contains no %{{...}} "
            "references")
    # a grok rule with no :timestamp capture has nothing to assemble —
    # default reformat_timestamp off (the engine otherwise demands
    # year/month/day parts at parse time, reference header.py:73-114);
    # an explicit caller kwarg still wins
    has_ts = any(f.kind in ("iso_datetime", "group") for f in fields)
    if not has_ts:
        rule_kwargs.setdefault("reformat_timestamp", False)
    rule = HeaderRule(fields=tuple(fields),
                      full_format="".join(template), **rule_kwargs)
    # surface spec errors (missing :message, duplicate semantics) now,
    # with the grok expression still on the stack
    from .synthesis import compile_header_rule
    compile_header_rule(rule)
    return rule


def grok_program(expressions,
                 actions: Optional[tuple] = None,
                 pattern_definitions: Optional[Dict[str, str]] = None,
                 ignore_failure: bool = False,
                 **rule_kwargs) -> RuleProgram:
    """Full parse program from one grok expression or an ordered list
    (first match wins, like any header cascade). ``actions`` default to
    the standard statement pipeline (split symbols → protect IPs →
    protect times/MACs → split ':'), so ``words``/``symbols`` come out
    tokenized exactly like the default preset."""
    if isinstance(expressions, str):
        expressions = [expressions]
    if actions is None:
        from .presets import default_actions
        actions = default_actions()
    rules = tuple(grok_rule(e, pattern_definitions, **rule_kwargs)
                  for e in expressions)
    return RuleProgram(header_rules=rules, actions=tuple(actions),
                       ignore_failure=ignore_failure)
