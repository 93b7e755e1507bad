"""PII redaction — scrub personal identifiers from text columns before
they land in the lake.

A training-data / webtext ingest pipeline's compliance step: emails,
phone numbers, IPv4 addresses, SSN-shaped ids, and payment-card-shaped
digit runs are replaced with stable type tokens (``<EMAIL>``,
``<PHONE>``, …) so the stored corpus carries no raw identifiers while
downstream counting/dedup still sees WHERE a redaction happened. The
reference engine has no analog (it moves rows verbatim); this comes
from the LLM-pipeline brief's text-analysis family and sits beside
``functions/urls.py`` as the second canonical-form transform.

Same engineering contract as the URL canonicalizer:

- **Pure codegen.** ``redact_pii_expr`` is a chain of
  ``regexp_replace`` Catalyst expressions — no UDF, it stays inside
  whole-stage codegen and adds nothing to the merge shuffle.
- **Idempotent.** Replacement tokens contain no digits or ``@``, so no
  rule can re-match its own output — re-running the stage on a stored
  winner yields the identical bytes. That makes it safe winner-side
  (``streaming.pipeline.finalize_winners``), where it runs once per
  surviving key instead of once per change event.
- **Oracle-adjacent.** The rules use only constructs with identical
  Java-regex / RE2 semantics (no lookarounds, no backrefs), and
  ``redact_pii_sql`` / ``pii_count_sql`` are the DuckDB replay kept in
  this file so the two rule sets cannot drift apart silently; the
  ``pii_redact`` entry query value-checks them.

Rule order matters and is part of the contract: IPv4 before the dotted
phone form (so an address can never be half-eaten as a phone number),
card-with-separators and the phone alternates before the bare long
digit run (which would otherwise swallow their digits).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: ordered (kind, pattern, token) — order is load-bearing, see module doc
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email",
     r"[A-Za-z0-9._%+-]+@[A-Za-z0-9][A-Za-z0-9.-]*\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("card", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b", "<CARD>"),
    ("phone",
     r"\(\d{3}\) ?\d{3}[-.]\d{4}|\b\d{3}[-.]\d{3}[-.]\d{4}\b"
     r"|\+\d{7,15}\b",
     "<PHONE>"),
    # bare 13-19 digit run (card/account shaped) — LAST: the separator
    # and phone forms above must claim their digits first
    ("longnum", r"\b\d{13,19}\b", "<CARD>"),
)

_BY_KIND = {k: (p, t) for k, p, t in PII_RULES}


def _rules(kinds) -> list[tuple[str, str, str]]:
    if kinds is None:
        return list(PII_RULES)
    unknown = set(kinds) - set(_BY_KIND)
    if unknown:
        raise ValueError(f"unknown PII kinds: {sorted(unknown)} "
                         f"(known: {[k for k, _, _ in PII_RULES]})")
    # keep the canonical order regardless of the caller's ordering
    return [(k, p, t) for k, p, t in PII_RULES if k in set(kinds)]


def redact_pii_expr(col, kinds: tuple[str, ...] | None = None) -> Column:
    """``col`` (column or name) with every PII match replaced by its
    kind token. NULL-safe (null in → null out); one codegen projection.
    """
    c = F.col(col) if isinstance(col, str) else col
    for _, pattern, token in _rules(kinds):
        c = F.regexp_replace(c, pattern, token)
    return c


def pii_count_expr(col, kind: str) -> Column:
    """Number of ``kind`` matches in ``col`` — the audit half (count on
    the RAW text, before redaction consumes the matches)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(_BY_KIND[kind][0]))


def _sql_redact(expr: str, kinds) -> str:
    for _, pattern, token in _rules(kinds):
        expr = f"regexp_replace({expr}, '{pattern}', '{token}', 'g')"
    return expr


def redact_pii_sql(
    source_sql: str, text_expr: str, carry_cols: tuple[str, ...] = (),
    out_col: str = "redacted", kinds: tuple[str, ...] | None = None,
    count_kinds: tuple[str, ...] = (),
) -> str:
    """DuckDB replay of :func:`redact_pii_expr` (+ per-kind match
    counts for ``count_kinds``) — the oracle half, kept adjacent so the
    two rule sets cannot drift apart silently.

    Returns a full SELECT over ``source_sql`` producing ``carry_cols``
    + ``<out_col>`` (+ ``n_<kind>`` per count kind), where ``text_expr``
    is the raw-text expression evaluated against the source relation.
    """
    carry = "".join(f"{c}, " for c in carry_cols)
    counts = "".join(
        f", len(regexp_extract_all(t, '{_BY_KIND[k][0]}')) AS n_{k}"
        for k in count_kinds)
    return f"""
WITH _src AS ({source_sql}),
_t AS (SELECT {carry}({text_expr}) AS t FROM _src)
SELECT {carry}{_sql_redact('t', kinds)} AS {out_col}{counts}
FROM _t"""
