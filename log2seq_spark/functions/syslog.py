"""Syslog PRI decoding (RFC 3164 §4.1.1 / RFC 5424 §6.2.1 — public
wire format): a syslog line may start with ``<PRI>`` where
``PRI = facility * 8 + severity``, facility 0..23, severity 0..7.

Pure built-in expressions: one ``regexp_extract``, integer div/mod,
two literal-array lookups. Map-only at any scale; a DuckDB oracle
replays it exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

# RFC 5424 §6.2.1 facility/severity code tables (public constants)
FACILITIES = ("kern", "user", "mail", "daemon", "auth", "syslog", "lpr",
              "news", "uucp", "cron", "authpriv", "ftp", "ntp", "audit",
              "alert", "clock", "local0", "local1", "local2", "local3",
              "local4", "local5", "local6", "local7")
SEVERITIES = ("emerg", "alert", "crit", "err", "warning", "notice",
              "info", "debug")


def pri_expr(text_col):
    """``struct<pri, facility, severity, facility_name, severity_name,
    rest>`` decoded from a leading ``<PRI>``; all-null struct fields
    (and ``rest`` = the unchanged line) when the line has no valid PRI.
    PRI above 191 (facility > 23) is invalid per RFC and treated as
    absent rather than decoded into a nonexistent facility."""
    tok = F.regexp_extract(text_col, r"^<(\d{1,3})>", 1)
    pri = F.when(tok != "", tok.cast("int"))
    pri = F.when(pri <= 191, pri)                 # facility 0..23 only
    fac = (pri / 8).cast("int")
    sev = F.pmod(pri, F.lit(8)).cast("int")
    fac_name = F.try_element_at(F.array(*[F.lit(f) for f in FACILITIES]),
                                fac + 1)
    sev_name = F.try_element_at(F.array(*[F.lit(s) for s in SEVERITIES]),
                                sev + 1)
    # strip "<" + digits + ">" (= len(tok) + 2 chars); substring clamps
    # past-end lengths, so the full remaining length is safe
    rest = F.when(pri.isNotNull(),
                  F.substring(text_col, F.length(tok) + 3,
                              F.length(text_col))) \
            .otherwise(text_col)
    return F.struct(pri.alias("pri"), fac.alias("facility"),
                    sev.alias("severity"), fac_name.alias("facility_name"),
                    sev_name.alias("severity_name"), rest.alias("rest"))

