"""IPv4 / CIDR support for the query surface (VERDICT r10 #5).

ES stores ``ip``-typed fields as numbers and lets consumers write CIDR
blocks in ``term``/``terms`` and dotted-quads in ``range``; the engine's
tables carry IPs as plain strings, so these helpers parse dotted-quad →
uint32 IN CODEGEN (split + integer arithmetic, no UDF) and turn a CIDR
block into a [lo, hi] range compare computed at plan-build time in
Python.  The DSL compiler auto-detects the shapes ES's mapping would
resolve (``_is_cidr`` in term values, all-dotted-quad bounds in range)
— without this, a lexicographic string compare would order "9.0.0.0"
AFTER "10.0.0.0" and silently return wrong rows.

IPv6 rejects loudly (no uint128 arithmetic worth faking in doubles);
a value in DATA that is not a dotted quad of octets <= 255 parses to
NULL = no match, the same NULL discipline as every other clause.
"""

from __future__ import annotations

import re

__all__ = [
    "is_ip_literal", "is_cidr_literal", "cidr_bounds", "ip_to_long_sql",
    "ip_literal_value", "ip_from_long_sql", "ip_to_long_spark",
    "ip_from_long_spark",
]

_IP_RE = re.compile(r"[0-9]{1,3}(?:\.[0-9]{1,3}){3}")
_CIDR_RE = re.compile(r"[0-9]{1,3}(?:\.[0-9]{1,3}){3}/[0-9]{1,2}")
#: the same test as a Java / RE2 pattern: four dot-separated octets of
#: 1-3 ASCII digits, each <= 255 (``\z``: Java's ``$`` also matches
#: before a trailing newline)
_OCTET = "(?:25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])"
_IP_PATTERN = f"^{_OCTET}(?:\\.{_OCTET}){{3}}\\z"
#: ... as a Spark-SQL literal (backslash escapes are processed there)
_IP_SPARK = "'" + _IP_PATTERN.replace("\\", "\\\\") + "'"


def _check_v6(s: str) -> None:
    if ":" in s:
        raise ValueError(
            f"IPv6 value {s!r} is not supported (IPv4 only)")


def is_ip_literal(s) -> bool:
    """STRICT: shape AND octet range.  The DSL's auto-detection keys off
    this, so a value like "300.1.1.1" must fall back to plain string
    semantics rather than detect-then-crash (code-review r11)."""
    return (isinstance(s, str) and bool(_IP_RE.fullmatch(s))
            and all(int(p) <= 255 for p in s.split(".")))


def is_cidr_literal(s) -> bool:
    if not (isinstance(s, str) and bool(_CIDR_RE.fullmatch(s))):
        return False
    base, _, bits = s.partition("/")
    return is_ip_literal(base) and int(bits) <= 32


def ip_literal_value(s: str) -> int:
    """Dotted-quad string → uint32, validated (driver-side literals)."""
    _check_v6(s)
    parts = s.split(".")
    if len(parts) != 4 or any(not p.isdigit() or int(p) > 255
                              for p in parts):
        raise ValueError(f"not a valid IPv4 address: {s!r}")
    a, b, c, d = (int(p) for p in parts)
    return (a << 24) | (b << 16) | (c << 8) | d


def cidr_bounds(block: str) -> tuple[int, int]:
    """``a.b.c.d/n`` → inclusive (lo, hi) uint32 bounds of the block."""
    _check_v6(block)
    base, _, bits = block.partition("/")
    n = int(bits)
    if not 0 <= n <= 32:
        raise ValueError(f"CIDR prefix length out of range: {block!r}")
    host = (1 << (32 - n)) - 1
    lo = ip_literal_value(base) & ~host & 0xFFFFFFFF
    return lo, lo | host


def ip_to_long_spark(expr: str) -> str:
    """Dotted-quad SQL expression → uint32 as BIGINT, rendered as
    Spark-SQL text so plan builders parse it in one ``F.expr`` call —
    pure codegen (one RLIKE + split + integer arithmetic).  Anything
    :func:`is_ip_literal` rejects yields NULL: a short or 5+-part value,
    an octet above 255, a sign, an exponent or a hex suffix.  The casts
    stay TRY_CAST, so no value can make the parse throw under ANSI mode
    (Spark 4's default) — the CIDR-vs-keyword hedge feeds arbitrary
    strings through it by design.  :func:`ip_to_long_sql` is its DuckDB
    counterpart, pinned row for row by
    tests/test_ip.py::test_ip_to_long_sql_twin."""
    p = f"split({expr}, '\\\\.')"
    return (
        f"CASE WHEN {expr} RLIKE {_IP_SPARK} THEN"
        f" TRY_CAST(element_at({p}, 1) AS BIGINT) * 16777216"
        f" + TRY_CAST(element_at({p}, 2) AS BIGINT) * 65536"
        f" + TRY_CAST(element_at({p}, 3) AS BIGINT) * 256"
        f" + TRY_CAST(element_at({p}, 4) AS BIGINT) END"
    )


def ip_from_long_spark(expr: str) -> str:
    """uint32 BIGINT SQL expression → dotted-quad string, the inverse
    of :func:`ip_to_long_spark` (pure codegen shifts; NULL propagates:
    ``concat``, not ``concat_ws``, which would skip the NULL parts).
    Callers guarantee the value is within [0, 2^32) — the ES|QL
    IP_PREFIX masks before rendering."""
    return (
        "concat("
        f"CAST((shiftrightunsigned({expr}, 24) & 255) AS STRING), '.', "
        f"CAST((shiftrightunsigned({expr}, 16) & 255) AS STRING), '.', "
        f"CAST((shiftrightunsigned({expr}, 8) & 255) AS STRING), '.', "
        f"CAST(({expr} & 255) AS STRING))"
    )


def ip_from_long_sql(expr: str) -> str:
    """DuckDB counterpart of :func:`ip_from_long_spark` for oracle SQL."""
    return (
        f"(CAST(({expr} >> 24) & 255 AS VARCHAR) || '.' || "
        f"CAST(({expr} >> 16) & 255 AS VARCHAR) || '.' || "
        f"CAST(({expr} >> 8) & 255 AS VARCHAR) || '.' || "
        f"CAST({expr} & 255 AS VARCHAR))"
    )


def ip_to_long_sql(expr: str) -> str:
    """DuckDB counterpart of :func:`ip_to_long_spark` for oracle SQL
    (the same pattern under RE2; 1-indexed list access)."""
    p = f"string_split({expr}, '.')"
    return (
        f"CASE WHEN regexp_matches({expr}, '{_IP_PATTERN}') THEN"
        f" TRY_CAST({p}[1] AS BIGINT) * 16777216"
        f" + TRY_CAST({p}[2] AS BIGINT) * 65536"
        f" + TRY_CAST({p}[3] AS BIGINT) * 256"
        f" + TRY_CAST({p}[4] AS BIGINT) END"
    )
