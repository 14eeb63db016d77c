"""Portable md5-prefix hashes, as SQL text for both engines.

Each hash is the integer value of the first hex chars of ``md5(expr)``, so
a sketch, bucket or sample built on it is bit-reproducible in DuckDB. The
``*_sql`` form is the engine-portable spelling (``instr`` arithmetic over
the hex digits, identical in Spark SQL and DuckDB) that the oracle SQL
uses; the ``*_spark_sql`` twin computes the same value with one ``conv()``
call, which DuckDB lacks. The exact oracle gate proves the twins agree.
"""

from __future__ import annotations

_HEX = "0123456789abcdef"


def hash16_sql(expr: str) -> str:
    """First 16 bits of md5(expr) via instr arithmetic, in [0, 65536)."""
    terms = [
        f"(instr('{_HEX}', substr(md5({expr}), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    ]
    return "(" + " + ".join(terms) + ")"


def hash16_spark_sql(expr: str) -> str:
    """Spark-side twin of :func:`hash16_sql`: the same value via one
    ``conv()`` call."""
    return f"CAST(conv(substr(md5({expr}), 1, 4), 16, 10) AS INT)"


def hash32_sql(expr: str) -> str:
    """First 32 bits of md5(expr) via instr arithmetic: the
    :func:`hash16_sql` construction at twice the width, so winnowing
    fingerprints rarely collide."""
    # CAST to BIGINT before the multiply: instr is INT and 15 * 16^7
    # overflows 32 bits, which ANSI mode (Spark 4 default) makes an error
    terms = [
        f"CAST(instr('{_HEX}', substr(md5({expr}), {i + 1}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def hash32_spark_sql(expr: str) -> str:
    """Spark-side twin of :func:`hash32_sql`: one ``conv()`` call instead
    of eight instr terms, measured 2x on q94's fingerprint stage at sf0.1
    (6.1 s -> 3.3 s)."""
    return f"CAST(conv(substr(md5({expr}), 1, 8), 16, 10) AS BIGINT)"
