"""PII detection / redaction over text columns — regex-only, JVM-side.

Pattern scope is the classic structured-PII trio (email, IPv4, US-style
phone); all three run as built-in ``regexp_*`` expressions inside
whole-stage codegen, so a scan+redact pass is scan-bound at 100 TB.
Email/IPv4 use only portable constructs (char classes, bounded
repetition, word boundaries). The phone pattern needs one negative
lookbehind — a leading ``\b`` cannot anchor the optional ``+``/``(``
prefix (both non-word, so no boundary exists after a space and the
prefix survives redaction); Java regex (Spark) supports it, RE2-class
engines must fall back to the boundary-anchored digit form.

The synthetic ``documents`` corpus contains no PII (lowercase word soup),
so the catalog queries seed deterministic synthetic PII first via
:func:`seed_synthetic_pii` — the scan/redact rows are then non-vacuous
and a DuckDB oracle recomputes the same counts/redactions from the same
seeded column (see ``queries.py`` ``text_pii_scan``/``text_pii_redact``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Order matters for redaction: emails first (an email contains no IP but
#: a phone regex could bite into digits of one), then IPs, then phones.
PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"(?<!\w)(?:\+?1[-. ]?)?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}\b",
}

#: Lookbehind-free phone pattern for RE2-class engines (the DuckDB
#: oracle): matches the plain ddd-ddd-dddd digit form only. On text whose
#: phones are seeded in that form (see seed_synthetic_pii) it finds
#: exactly the same matches as PATTERNS["phone"].
PHONE_PATTERN_PORTABLE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"


def seed_synthetic_pii(
    df: DataFrame, id_col: str, text_col: str, out_col: str = "text_pii"
) -> DataFrame:
    """Deterministically append synthetic PII to a PII-free corpus — the
    fixture generator behind the pii catalog rows (the driver's testdata
    is read-only, so the seeding happens in-query and the oracle mirrors
    it verbatim in SQL).

    Per row (id arithmetic, no randomness): ``id % 3 == 0`` gains an
    email, ``id % 4 == 0`` an IPv4, ``id % 5 == 0`` a phone. Phones are
    seeded in the plain ``ddd-ddd-dddd`` form so the Java pattern (with
    lookbehind) and the portable RE2 form find identical matches — the
    cross-engine parity the oracle check depends on.
    """
    i = F.col(id_col)
    email = F.when(
        i % 3 == 0,
        F.concat(
            F.lit(" reach user"), i.cast("string"), F.lit("@example.org")
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        i % 4 == 0,
        F.concat(
            F.lit(" from 10."),
            (i % 250).cast("string"),
            F.lit("."),
            (i % 100).cast("string"),
            F.lit(".25"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        i % 5 == 0,
        F.concat(
            F.lit(" call 415-555-01"),
            F.lpad((i % 100).cast("string"), 2, "0"),
        ),
    ).otherwise(F.lit(""))
    return df.withColumn(out_col, F.concat(F.col(text_col), email, ip, phone))


#: 16-digit payment-card candidates: contiguous or 4-4-4-4 grouped with
#: one separator style. Alternation only — no lookaround — so the same
#: pattern runs verbatim on RE2-class engines (the DuckDB oracle).
CARD_CANDIDATE_PATTERN = r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b|\b\d{16}\b"


def luhn_valid_col(candidate: Column) -> Column:
    """True iff the candidate's digit string passes the Luhn mod-10
    checksum (ISO/IEC 7812) — the validation step that separates real
    card numbers from arbitrary 16-digit strings (order ids,
    timestamps, hashes), cutting the naive digit-regex false-positive
    flood ~10×. Pure integer HOF arithmetic over the digit positions
    (doubling every second from the right, −9 above 9), identical in
    any ANSI engine — no UDF, stays inside whole-stage codegen.
    """
    digits = F.regexp_replace(candidate, r"[^0-9]", "")

    def d(x):  # digit at 1-based position x (from the left)
        return digits.substr(x, F.lit(1)).cast("int")

    # position x (1-based from the LEFT of 16 digits) doubles when the
    # position from the right (17 - x) is even, i.e. x is odd
    total = F.aggregate(
        F.sequence(F.lit(1), F.lit(16)),
        F.lit(0),
        lambda acc, x: acc
        + F.when(
            x % 2 == 1,
            F.when(d(x) * 2 > 9, d(x) * 2 - 9).otherwise(d(x) * 2),
        ).otherwise(d(x)),
    )
    return F.when(
        F.length(digits) == 16, total % 10 == 0
    ).otherwise(F.lit(False))


def scan_card_numbers(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-row card-number profile: ``(id, n_candidates, n_valid)`` —
    candidates from :data:`CARD_CANDIDATE_PATTERN`, validity by
    :func:`luhn_valid_col`. One narrow zero-shuffle pass."""
    cands = F.regexp_extract_all(
        F.col(text_col), F.lit(CARD_CANDIDATE_PATTERN), 0
    )
    valid = F.filter(cands, luhn_valid_col)
    return df.select(
        F.col(id_col),
        F.size(cands).cast("long").alias("n_candidates"),
        F.size(valid).cast("long").alias("n_valid"),
    )


def redact_card_numbers(
    df: DataFrame, text_col: str, *, out_col: str | None = None
) -> DataFrame:
    """Replace only LUHN-VALID card candidates with ``[CARD]`` — an
    invalid 16-digit string (order id, checksum-broken typo) survives,
    which is exactly the false-positive discipline a naive regex
    redactor lacks. The replace folds the validated candidate list
    over the text with literal (non-regex) substitution — still one
    narrow JVM pass.

    Kept without a catalog caller: the rewriting half of the card-number
    pair whose counting half (:func:`scan_card_numbers`) the catalog
    runs."""
    cands = F.regexp_extract_all(
        F.col(text_col), F.lit(CARD_CANDIDATE_PATTERN), 0
    )
    valid = F.filter(cands, luhn_valid_col)
    redacted = F.aggregate(
        valid,
        F.col(text_col),
        lambda acc, c: F.replace(acc, c, F.lit("[CARD]")),
    )
    return df.withColumn(out_col or text_col, redacted)


def seed_synthetic_cards(
    df: DataFrame, id_col: str, text_col: str, out_col: str = "text_cards"
) -> DataFrame:
    """Deterministically append synthetic 16-digit card numbers (the
    :func:`seed_synthetic_pii` pattern): ``id % 6 == 0`` gains a
    LUHN-VALID grouped card (15-digit payload from id arithmetic, the
    16th digit COMPUTED as the Luhn check digit — in-query, so any
    engine derives the same number), ``id % 7 == 0`` gains an INVALID
    one (the same payload with the check digit shifted +1 mod 10 —
    guaranteed to fail the checksum). Scan/redact rows stay
    non-vacuous and false-positive discipline is directly testable."""
    i = F.col(id_col)
    payload = F.concat(
        F.lit("4"), F.lpad(((i * 7919) % 100_000_000_000_000).cast("string"), 14, "0")
    )
    # Luhn sum of the 15-digit payload within a 16-digit number: payload
    # position i (1-based from left) doubles when i is odd
    psum = F.aggregate(
        F.sequence(F.lit(1), F.lit(15)),
        F.lit(0),
        lambda acc, x: acc
        + F.when(
            x % 2 == 1,
            F.when(
                payload.substr(x, F.lit(1)).cast("int") * 2 > 9,
                payload.substr(x, F.lit(1)).cast("int") * 2 - 9,
            ).otherwise(payload.substr(x, F.lit(1)).cast("int")* 2),
        ).otherwise(payload.substr(x, F.lit(1)).cast("int")),
    )
    check = (10 - psum % 10) % 10
    full_valid = F.concat(payload, check.cast("string"))
    full_invalid = F.concat(payload, ((check + 1) % 10).cast("string"))

    def grouped(full: Column) -> Column:
        return F.concat_ws(
            "-",
            full.substr(1, 4),
            full.substr(5, 4),
            full.substr(9, 4),
            full.substr(13, 4),
        )

    card_v = F.when(
        i % 6 == 0, F.concat(F.lit(" pay "), grouped(full_valid))
    ).otherwise(F.lit(""))
    card_i = F.when(
        i % 7 == 0, F.concat(F.lit(" ref "), grouped(full_invalid))
    ).otherwise(F.lit(""))
    return df.withColumn(
        out_col, F.concat(F.col(text_col), card_v, card_i)
    )


def pii_count_col(text: Column, kind: str) -> Column:
    """Occurrence count of one PII kind (long)."""
    return F.size(F.regexp_extract_all(text, F.lit(PATTERNS[kind]), 0)).cast(
        "long"
    )


def scan_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-row PII profile: one count column per kind + total + has_pii."""
    text = F.col(text_col)
    counts = {k: pii_count_col(text, k) for k in PATTERNS}
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return df.select(
        F.col(id_col),
        *[c.alias(f"n_{k}") for k, c in counts.items()],
        total.alias("n_pii"),
        (total > 0).alias("has_pii"),
    )


def redact_pii(
    df: DataFrame, text_col: str, *, out_col: str | None = None
) -> DataFrame:
    """Replace every PII match with ``[KIND]`` placeholders, applied in
    PATTERNS order so overlapping matches resolve deterministically."""
    redacted = F.col(text_col)
    for kind, pat in PATTERNS.items():
        redacted = F.regexp_replace(redacted, pat, f"[{kind.upper()}]")
    return df.withColumn(out_col or text_col, redacted)
