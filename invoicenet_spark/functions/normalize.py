"""Typed normalization — column-expression ports of the reference's parsers.

The reference trains seq2seq nets whose training targets are generated by
deterministic rules (invoicenet/parsing/amount_generator.py:52-75,
date_generator.py:109-143); those rules ARE the semantics, so the engine
ships them as deterministic column expressions (SURVEY.md §2.11): the
pluggable Parser modules (parsers.py:39-157, dispatched by field type at
invoicenet/acp/acp.py:41-49) become strategy functions returning Columns.

All JVM-side built-ins — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# F1: amount regex (invoicenet/common/util.py:44)
AMOUNT_PATTERN = r"\d+[,\d]*\.\d+"


# European amount shape: dot-grouped thousands + comma decimals ('1.234,56',
# '1234,5'). The comma-decimal suffix is the discriminator — '12,345.9' stays
# US-style. Reference analog: the amount generator emits comma-grouped
# variants (invoicenet/parsing/amount_generator.py:26-75).
EU_AMOUNT_RE = r"^\d{1,3}(\.\d{3})*,\d{1,2}$|^\d+,\d{1,2}$"


def normalize_amount(col: str | Column) -> Column:
    """F5+F6 (invoicenet/common/util.py:216-222, acp/data.py:192-194):
    strip grouping separators (commas US-style, dots EU-style), canonicalize
    to exactly two decimals (pad '.00', truncate extra digits) — expressed
    as a decimal cast."""
    c = F.col(col) if isinstance(col, str) else col
    canon = F.when(
        c.rlike(EU_AMOUNT_RE),
        F.regexp_replace(F.regexp_replace(c, r"\.", ""), ",", "."),
    ).otherwise(F.regexp_replace(c, ",", ""))
    # Decimal(18,2) cast: pads and truncates-toward-rounding; the reference
    # truncates ('%.2f' on Decimal after [:idx+3] slice) — use floor to match
    # truncation semantics exactly.
    d = canon.cast("decimal(28,10)")
    truncated = (F.floor(d * 100) / 100).cast("decimal(18,2)")
    return truncated.cast("string")


def normalize_date(col: str | Column) -> Column:
    """F7 (invoicenet/common/util.py:223-227, date target %m-%d-%Y at
    invoicenet/parsing/date_generator.py:124): canonical 'MM-dd-yyyy'."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "MM-dd-yyyy")


def pattern_hash_class(col: str | Column) -> Column:
    """H2 char-class abstraction (invoicenet/acp/data.py:140-145):
    [A-Z]→X, [a-z]→x, [0-9]→0, everything else → '-'."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(c, "[A-Z]", "X")
    s = F.regexp_replace(s, "[a-z]", "x")
    s = F.regexp_replace(s, "[0-9]", "0")
    return F.regexp_replace(s, "[^Xx0]", "-")


def squeeze_whitespace(col: str | Column) -> Column:
    """F4 (invoicenet/common/util.py:83-90): collapse whitespace runs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, " +", " "))


def parse_field(col: str | Column, field_type: str) -> Column:
    """J3 — type-dispatch lookup: the FIELD_TYPES registry selects the
    parser per configured field (invoicenet/acp/acp.py:41-49 dispatching
    FIELD_TYPES[...] → parser module; invoicenet/__init__.py:21-37)."""
    try:
        return FIELD_PARSERS[field_type](col)
    except KeyError:
        raise ValueError(
            f"unknown field type {field_type!r}; known: {sorted(FIELD_PARSERS)}"
        ) from None


def route_candidate(col: str | Column) -> Column:
    """P5 — candidate type routing (invoicenet/common/util.py:206-209): a
    token is classified as at most ONE type, date winning over amount. Future
    dates fail the P4 plausibility gate (util.py:51,68) and fall through.
    Returns struct(cand_type string, value_norm string)."""
    from invoicenet_spark.functions.chars import parse_date_candidate

    c = F.col(col) if isinstance(col, str) else col
    d = parse_date_candidate(c)
    d_ok = d.isNotNull() & (d <= F.current_timestamp())
    a_ok = c.rlike(f"^({AMOUNT_PATTERN})$") | c.rlike(EU_AMOUNT_RE)
    cand_type = (
        F.when(d_ok, F.lit("date"))
        .when(a_ok, F.lit("amount"))
        .otherwise(F.lit(None).cast("string"))
    )
    value = (
        F.when(d_ok, F.date_format(d, "MM-dd-yyyy"))
        .when(a_ok, normalize_amount(c))
        .otherwise(F.lit(None).cast("string"))
    )
    return F.struct(cand_type.alias("cand_type"), value.alias("value_norm"))


def find_amounts(col: str | Column) -> Column:
    """F1+F3 (invoicenet/common/util.py:60-63,75-81): all amount-shaped
    substrings, deduped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_distinct(F.regexp_extract_all(c, F.lit(AMOUNT_PATTERN), 0))


# Field-type registry (the reference's FIELD_TYPES dict,
# invoicenet/__init__.py:21-37): field type → Column-expression parser.
FIELD_PARSERS = {
    "amount": normalize_amount,
    "date": normalize_date,
    "pattern": pattern_hash_class,
    "general": squeeze_whitespace,
}
