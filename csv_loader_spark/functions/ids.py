"""Vehicle-id conversion — reference-parity (CsvLoader.java:145-146).

The reference does ``new BigInteger(idStr).longValue()``: arbitrary-precision
decimal parse, then truncation to the LOW 64 BITS (two's complement). Ids
wider than 64 bits silently wrap — the reference exposes this by tracking both
string-distinct and long-distinct counts (CsvLoader.java:165).

The conversion is emitted as SQL text built from a column name: one
``F.expr``/``selectExpr`` round trip instead of ~15 py4j round trips per
composed Column call (the functions/text.py fast path). The SQL parses to
the same expression tree the composed Column form built
(tests/test_pings_ingest.py pins it with ``sameResult``).

Divergence (recorded, SURVEY.md §7.4): a NON-numeric id string aborts the
whole load in the reference (uncaught NumberFormatException); here it becomes
NULL → the malformed-row filter drops just that row.
"""

from __future__ import annotations

# 2^64 and 2^63 as 38-digit decimals (fit DecimalType(38,0)).
_TWO64 = "CAST('18446744073709551616' AS DECIMAL(38,0))"
_TWO63 = "CAST('9223372036854775808' AS DECIMAL(38,0))"


def decimal_str_to_int64(name: str) -> str:
    """SQL text: decimal string column ``name`` → low-64-bit
    two's-complement long, BigInteger-style; NULL if not numeric.

    Implemented with Decimal(38,0) arithmetic (handles ids up to 38 digits —
    wider than any real-world vehicle id; the reference handles unbounded
    width, divergence documented). pmod brings the value into [0, 2^64); the
    conditional subtraction reinterprets the top bit as the sign.
    """
    c = "trim(`%s`)" % name.replace("`", "``")
    # try_to_number('9'*38) accepts unsigned digit strings only; BigInteger
    # accepts a leading sign — parse magnitude and sign separately.
    magnitude = (
        f"try_to_number(CASE WHEN {c} RLIKE '^[+-]' "
        f"THEN substring({c}, 2, 2147483647) ELSE {c} END, '{'9' * 38}')"
    )  # NULL if not numeric
    # NB: unary minus on a wide decimal is avoided as in the Column form;
    # 0 - x stays exact decimal(38,0) arithmetic
    as_dec = (
        f"CASE WHEN startswith({c}, '-') "
        f"THEN CAST(0 AS DECIMAL(38,0)) - {magnitude} ELSE {magnitude} END"
    )
    low64 = f"pmod({as_dec}, {_TWO64})"
    return (
        f"CAST(CASE WHEN {low64} >= {_TWO63} THEN {low64} - {_TWO64} "
        f"ELSE {low64} END AS BIGINT)"
    )
