"""Character-level encode/decode + reference hash parity (fixture-grade ops).

T4/T5 (invoicenet/acp/data.py:288-292, 214-227): string → padded char-id
sequence with EOS, and the inverse (stop at EOS). The reference's vocabulary
is ['<PAD>','<EOS>','<UNK>'] + string.printable (n_output=103,
invoicenet/acp/data.py:45-50); OOV → <UNK>.

H1 (invoicenet/acp/data.py:148): word hash md5(text) % (2^16 - 1) + 1 —
reproduced exactly (md5 exists in both Spark and DuckDB, so this one is
oracle-checkable, unlike xxhash64).
"""

from __future__ import annotations

import string

from pyspark.sql import Column, functions as F

PAD, EOS, UNK = 0, 1, 2
_PRINTABLE = list(string.printable)  # 100 chars, ids 3..102
CHAR_TO_ID = {c: i + 3 for i, c in enumerate(_PRINTABLE)}
ID_TO_CHAR = {i + 3: c for i, c in enumerate(_PRINTABLE)}


def char_encode(col: str | Column, seq_len: int = 32) -> Column:
    """string → array<int> of char ids, truncated to seq_len-1 + EOS, padded
    with PAD (reference truncation P8: chars[:seq_in-1], acp/data.py:129)."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.slice(F.split(c, ""), 1, seq_len - 1)
    pairs = []
    for ch, i in CHAR_TO_ID.items():
        pairs.extend([F.lit(ch), F.lit(i)])
    m = F.create_map(*pairs)
    ids = F.transform(chars, lambda ch: F.coalesce(m[ch], F.lit(UNK)))
    with_eos = F.concat(ids, F.array(F.lit(EOS)))
    pad_n = F.lit(seq_len) - F.size(with_eos)
    return F.concat(
        with_eos, F.array_repeat(F.lit(PAD), F.greatest(pad_n, F.lit(0)))
    ).cast("array<int>")


def char_decode(col: str | Column) -> Column:
    """array<int> → string, stopping at the first EOS (T5 semantics)."""
    c = F.col(col) if isinstance(col, str) else col
    pairs = []
    for i, ch in ID_TO_CHAR.items():
        pairs.extend([F.lit(i), F.lit(ch)])
    m = F.create_map(*pairs)
    upto = F.array_position(c, F.lit(EOS))
    head = F.when(upto > 0, F.slice(c, 1, upto - 1)).otherwise(c)
    return F.concat_ws("", F.transform(head, lambda i: F.coalesce(m[i], F.lit(""))))


def word_hash_16(col: str | Column) -> Column:
    """H1 exact parity: md5-as-int % (2^16 - 1) + 1.

    The reference hashes with Python md5 → int; we take the md5 hex digest's
    low 8 hex chars (same in Spark and DuckDB) → int → mod. Not identical to
    Python's full-digest int mod, but a deterministic engine-portable variant
    of the same construction (bounded 16-bit dictionary, acp/data.py:51)."""
    c = F.col(col) if isinstance(col, str) else col
    low32 = F.conv(F.substring(F.md5(c), 25, 8), 16, 10).cast("long")
    return (low32 % F.lit((1 << 16) - 1) + 1).alias("word_hash")


# F2 — date extraction breadth (reference surface: datefinder across the
# generator's formats, invoicenet/parsing/date_generator.py:31-78 — month
# names, 2-digit years, slash/dot/dash numerics, ordinal days, dotted month
# abbreviations). Candidates are regex shapes; each is normalized (initcap
# month names, strip commas, drop the "." after abbreviated month names,
# drop st/nd/rd/th ordinal suffixes, expand 2-digit years with the POSIX
# pivot 00-68→20xx / 69-99→19xx) then parsed with a deterministic
# multi-format try-parse. Separator implies order: slashes/dashes are
# month-first (US), dots are day-first (EU) — matching the reference's
# regex pair (invoicenet/common/util.py:45-46); a 4-digit leading year
# (yyyy/M/d, yyyy-M-d) is always year-first.
_MON3 = "Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec"
_ORD = r"(?:st|nd|rd|th)"
DATE_CANDIDATE_RE = (
    r"\d{4}[-./]\d{1,2}[-./]\d{1,2}"
    r"|\d{1,2}[/.\-]\d{1,2}[/.\-]\d{2,4}"
    rf"|(?i:{_MON3})[a-z]*\.? \d{{1,2}}(?i:{_ORD})?,? \d{{4}}"
    rf"|\d{{1,2}}(?i:{_ORD})? (?i:{_MON3})[a-z]*\.?,? \d{{4}}"
    rf"|\d{{1,2}}-(?i:{_MON3})[a-z]*\.?-\d{{2,4}}"
)
DATE_FORMATS = [
    "yyyy-MM-dd", "yyyy-M-d", "yyyy/M/d", "yyyy.M.d", "M/d/yyyy", "d.M.yyyy",
    "M-d-yyyy", "MMM d yyyy", "MMMM d yyyy", "d MMM yyyy", "d MMMM yyyy",
    "d-MMM-yyyy", "d-MMMM-yyyy",
]
_TWO_DIGIT_RE = r"^(\d{1,2})([/.\-])(\d{1,2})[/.\-](\d{2})$"
# 2-digit-year month-name form ("5-Jan-23"): expand the year with the same
# POSIX pivot before the multi-format parse
_TWO_DIGIT_MON_RE = r"^(\d{1,2}-[A-Za-z]+-)(\d{2})$"


def parse_date_candidate(col: str | Column) -> Column:
    """One candidate string → timestamp (null if unparseable). Shared by
    find_first_date (per array element) and the P5 type router."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.when(c.rlike("[A-Za-z]"), F.initcap(c)).otherwise(c)
    s = F.regexp_replace(s, ",", "")
    # "Jan. 5 2023" → "Jan 5 2023" (dot only when it follows a letter, so
    # EU numeric dots "5.6.2023" survive); "5th Jan 2023" → "5 Jan 2023"
    s = F.regexp_replace(s, r"(?<=[A-Za-z])\.", "")
    s = F.regexp_replace(s, r"(?i)(?<=\d)(st|nd|rd|th)\b", "")
    # 2-digit year → 4-digit via the POSIX strptime pivot (00-68 → 20xx,
    # 69-99 → 19xx), so the DuckDB %y oracle agrees exactly
    yy = F.regexp_extract(s, _TWO_DIGIT_RE, 4)
    century = F.when(yy.cast("int") <= 68, F.lit("20")).otherwise(F.lit("19"))
    rebuilt = F.concat(
        F.regexp_extract(s, _TWO_DIGIT_RE, 1),
        F.regexp_extract(s, _TWO_DIGIT_RE, 2),
        F.regexp_extract(s, _TWO_DIGIT_RE, 3),
        F.regexp_extract(s, _TWO_DIGIT_RE, 2),
        century,
        yy,
    )
    s = F.when(yy != "", rebuilt).otherwise(s)
    yy2 = F.regexp_extract(s, _TWO_DIGIT_MON_RE, 2)
    century2 = F.when(yy2.cast("int") <= 68, F.lit("20")).otherwise(F.lit("19"))
    rebuilt2 = F.concat(F.regexp_extract(s, _TWO_DIGIT_MON_RE, 1), century2, yy2)
    s = F.when(yy2 != "", rebuilt2).otherwise(s)
    return F.coalesce(*[F.try_to_timestamp(s, F.lit(fmt)) for fmt in DATE_FORMATS])


def find_first_date(col: str | Column) -> Column:
    """F2 — first parseable, plausible date in a string, canonical MM-dd-yyyy
    (reference: datefinder.find_dates + %m-%d-%Y,
    invoicenet/common/util.py:49-57,223-227). The P4 plausibility gate
    (util.py:51,68) rejects future dates BEFORE picking the first hit."""
    c = F.col(col) if isinstance(col, str) else col
    cand = F.regexp_extract_all(c, F.lit(DATE_CANDIDATE_RE), 0)
    parsed = F.transform(cand, lambda s: parse_date_candidate(s))
    plausible = F.filter(
        parsed, lambda d: d.isNotNull() & (d <= F.current_timestamp())
    )
    return F.date_format(F.get(plausible, 0), "MM-dd-yyyy")
