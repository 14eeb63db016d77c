"""Multi-format timestamp parsing — reference-parity (CsvLoader.java:237-273).

The reference's ``parseTimeStrToMilli``:
1. snips an optional fractional-seconds part (between the first ``.`` and the
   first ``+``/``Z``/end), keeping it as a decimal fraction;
2. tries three formats in order: ``yyyy-MM-dd HH:mm:ssX`` (explicit offset),
   ``yyyy-MM-dd HH:mm:ss`` (reference: JVM default TZ — we pin UTC, see
   SURVEY.md §7.4), then general ISO-8601;
3. returns epoch millis + round-down(frac * 1000).

Implemented as a single Catalyst expression (coalesce over try_to_timestamp
attempts + regexp fraction extraction) — no UDF, fully codegen'd. It is
emitted as SQL text built from a column name, so a caller gets the whole
tree in one py4j round trip (``F.expr``/``selectExpr``) instead of ~15 per
composed Column call (the functions/text.py fast path).

Guards. The reference tries each format and catches its parse exception;
a failed ``try_to_timestamp`` with a pattern does the same inside
generated code, and a thrown-and-caught ``DateTimeParseException`` per
failed attempt was the largest per-row cost of the ping parse. Each
pattern attempt therefore sits behind a cheap character test that is a
NECESSARY condition for that pattern to parse, so a skipped attempt is
one that would have failed and the first success in the chain — hence
every result — is unchanged. Formats run in the reference's order:
- every ``yyyy-MM-dd HH:mm:ss…`` pattern needs its literal space;
- an ``X`` offset is ``Z``/``z`` (patterns parse case-insensitively), or
  a sign: ``+``, or a ``-`` beyond the date's two;
- ``XXX``/``XXXXX`` need ``Z``/``z`` or the offset's ``:``, a third one
  after the time's two.
A valid row makes one pattern attempt: no offset → format 2, ``±HH`` and
``±HHmm`` → ``X``, ``Z`` and ``±HH:mm`` → ``XXXXX``; an ISO ``T`` row
skips straight to the pattern-free ISO cast, which does not throw.
"""

from __future__ import annotations

# fractional part: the first "." and the digit run after it, as a SQL
# string literal (the SQL parser unescapes "\\" to "\": regex \.(\d+))
_FRAC_RE = r"'\\.(\\d+)'"


def parse_time_to_millis(name: str) -> str:
    """SQL text: string timestamp column ``name`` (3 accepted formats,
    optional fraction) → epoch ms.

    NULL for unparseable input (the malformed-row filter drops those —
    reference behavior at CsvLoader.java:140-143, drop-and-log).
    """
    c = "`%s`" % name.replace("`", "``")
    # snip the fraction so the fixed formats match
    base = f"regexp_replace({c}, {_FRAC_RE}, '')"
    # CsvLoader.java:237-273 tries its formats in order, catching each
    # failure; the guards (module docstring) skip only attempts that
    # cannot succeed, so the first success in the chain is unchanged.
    # They are byte searches on the UTF-8 value, not RLIKE, which first
    # decodes each value into a Java String.
    def has(ch: str) -> str:
        return f"instr({base}, '{ch}') > 0"

    def more_than_two(ch: str) -> str:
        return f"length({base}) - length(replace({base}, '{ch}', '')) > 2"

    space = has(" ")
    zulu = f"{has('Z')} OR {has('z')}"
    x_offset = f"({zulu} OR {has('+')} OR {more_than_two('-')})"
    colon_offset = f"({zulu} OR {more_than_two(':')})"

    def attempt(guard: str, fmt: str) -> str:
        return f"CASE WHEN {guard} THEN try_to_timestamp({base}, '{fmt}') END"

    parsed = ", ".join([
        # format 1: explicit numeric offset or Z, e.g. "2016-06-02 14:03:22+03"
        attempt(f"{space} AND {x_offset} AND {colon_offset}", "yyyy-MM-dd HH:mm:ssXXXXX"),
        attempt(f"{space} AND {x_offset} AND {colon_offset}", "yyyy-MM-dd HH:mm:ssXXX"),
        attempt(f"{space} AND {x_offset}", "yyyy-MM-dd HH:mm:ssX"),
        # format 2: no offset → session TZ (pinned UTC)
        attempt(space, "yyyy-MM-dd HH:mm:ss"),
        # format 3: general ISO-8601 ("2016-06-02T14:03:22Z", date-only, ...).
        # Spark's bare try_to_timestamp also accepts time-only strings like
        # "08:30:15" (today's date) — the reference's ISO-8601 parser does
        # not, so require a leading date.
        f"CASE WHEN {base} RLIKE '^\\\\d{{4}}-\\\\d{{2}}-\\\\d{{2}}' "
        f"THEN try_to_timestamp({base}) END",
    ])
    frac_str = f"regexp_extract({c}, {_FRAC_RE}, 1)"
    # reference: Double.parseDouble("0." + frac) * 1000, truncated toward zero
    frac_ms = (
        f"CASE WHEN {frac_str} = '' THEN 0 "
        f"ELSE CAST(floor(CAST(concat('0.', {frac_str}) AS DOUBLE) * 1000) AS BIGINT) END"
    )
    return f"(unix_millis(coalesce({parsed})) + {frac_ms})"
