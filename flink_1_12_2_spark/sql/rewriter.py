"""Flink-SQL → Spark-SQL rewrite pass (the engine's "SQL front door").

Flink parity: the Blink planner's parse/validate pipeline accepts Flink SQL
dialect (reference: flink-table/flink-table-planner-blink/.../delegation/ParserImpl.java:70
and functions in flink-table/flink-table-planner-blink/.../functions/sql/FlinkSqlOperatorTable.java).
Spark's ANTLR parser covers ~95% of that surface; this module is a light,
regex-based source rewrite for the Flink-only idioms, so Flink-dialect queries
run verbatim through ``spark.sql``:

- group windows:  ``GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)`` →
  ``GROUP BY window(ts, '1 hour')`` (same for HOP → sliding window,
  SESSION → session_window).  Window auxiliary functions ``TUMBLE_START/END``
  → ``window.start`` / ``window.end``.
- function renames that Spark lacks under the Flink name (SPLIT_INDEX,
  RAND_INTEGER, TO_BASE64/FROM_BASE64 …) are handled by registering SQL
  functions in :mod:`flink_1_12_2_spark.functions.registry` rather than text
  rewriting, so only syntax-level constructs are rewritten here.
- ``PROCTIME()`` → ``current_timestamp()``; ``x.rowtime`` is the event-time
  column itself (no-op).

The rewriter is deliberately conservative: strings it does not recognize pass
through unchanged (Spark SQL is the base dialect).
"""

from __future__ import annotations

import re

# The SQL front door's one INTERVAL unit table (window sizes here, DDL
# WATERMARK delays, MATCH_RECOGNIZE WITHIN): Flink unit → (Spark duration
# word, microseconds)
_INTERVAL_UNITS = {
    "SECOND": ("seconds", 1_000_000),
    "MINUTE": ("minutes", 60_000_000),
    "HOUR": ("hours", 3_600_000_000),
    "DAY": ("days", 86_400_000_000),
}


def interval_unit(unit: str) -> tuple[str, int]:
    """A Flink INTERVAL unit, singular or plural in any case (``HOUR``,
    ``hours``) → (Spark duration word, microseconds per unit). Any other
    unit raises ValueError naming it and the accepted ones."""
    key = unit.upper()
    if key not in _INTERVAL_UNITS:
        key = key.removesuffix("S")
    if key not in _INTERVAL_UNITS:
        raise ValueError(
            f"unsupported INTERVAL unit {unit!r}; accepted: "
            f"{', '.join(_INTERVAL_UNITS)} (singular or plural)"
        )
    return _INTERVAL_UNITS[key]


def _interval_to_duration(txt: str) -> str:
    """``INTERVAL '10' MINUTE`` → ``'10 minutes'`` (Spark window duration);
    text in any other form passes through stripped."""
    m = re.match(
        rf"(?is)\s*INTERVAL\s+'([\d.]+)'\s+({'|'.join(_INTERVAL_UNITS)})S?\s*",
        txt,
    )
    if not m:
        return txt.strip()
    return f"'{m.group(1)} {interval_unit(m.group(2))[0]}'"


_TUMBLE = re.compile(r"(?is)\bTUMBLE\s*\(\s*([^,]+?)\s*,\s*(INTERVAL\s+'[^']+'\s+\w+)\s*\)")
_HOP = re.compile(
    r"(?is)\bHOP\s*\(\s*([^,]+?)\s*,\s*(INTERVAL\s+'[^']+'\s+\w+)\s*,\s*(INTERVAL\s+'[^']+'\s+\w+)\s*\)"
)
_SESSION = re.compile(r"(?is)\bSESSION\s*\(\s*([^,]+?)\s*,\s*(INTERVAL\s+'[^']+'\s+\w+)\s*\)")


# Window TVFs (FlinkSqlOperatorTable DESCRIPTOR/TUMBLE/HOP polymorphic table
# functions): TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), size)) appends
# window_start/window_end columns to every row. Spark's window() expression
# in a projection does exactly this (the TimeWindowing rule expands sliding
# windows via Expand), so the rewrite is a derived table.
_TVF_TUMBLE = re.compile(
    r"(?is)\bTABLE\s*\(\s*TUMBLE\s*\(\s*TABLE\s+(\w+)\s*,\s*"
    r"DESCRIPTOR\s*\(\s*(\w+)\s*\)\s*,\s*(INTERVAL\s+'[^']+'\s+\w+)\s*\)\s*\)"
)
_TVF_HOP = re.compile(
    r"(?is)\bTABLE\s*\(\s*HOP\s*\(\s*TABLE\s+(\w+)\s*,\s*"
    r"DESCRIPTOR\s*\(\s*(\w+)\s*\)\s*,\s*(INTERVAL\s+'[^']+'\s+\w+)\s*,\s*"
    r"(INTERVAL\s+'[^']+'\s+\w+)\s*\)\s*\)"
)


def _tvf_subquery(table: str, col: str, size: str, slide: str | None = None) -> str:
    win = (
        f"window({col}, {size}, {slide})" if slide is not None else f"window({col}, {size})"
    )
    return (
        f"(SELECT *, w.start AS window_start, w.end AS window_end "
        f"FROM (SELECT *, {win} AS w FROM {table}))"
    )


# UDTF arguments may nest one level of calls (f(lower(x), substr(y,1,2)));
# the alias is optional in Flink — a default is generated — and must not
# swallow a following clause keyword.
_ARGS = r"((?:[^()]|\([^()]*\))*)"
_KW = r"(?!(?:WHERE|GROUP|ORDER|HAVING|LIMIT|ON|LEFT|RIGHT|INNER|CROSS|JOIN|UNION)\b)"
_LATERAL_CROSS = re.compile(
    r"(?is),\s*LATERAL\s+TABLE\s*\(\s*(\w+)\s*\(" + _ARGS + r"\)\s*\)"
    r"(?:\s+(?:AS\s+)?" + _KW + r"(\w+)\s*(?:\(([^)]*)\))?)?"
)
_LATERAL_LEFT = re.compile(
    r"(?is)\bLEFT\s+JOIN\s+LATERAL\s+TABLE\s*\(\s*(\w+)\s*\(" + _ARGS + r"\)\s*\)"
    r"(?:\s+(?:AS\s+)?" + _KW + r"(\w+)\s*(?:\(([^)]*)\))?)?\s+ON\s+TRUE"
)


def rewrite(query: str) -> str:
    """Rewrite Flink SQL idioms into Spark SQL. Pass-through otherwise."""
    q = query

    # Window TVFs before group windows (their text also matches _TUMBLE/_HOP).
    q = _TVF_HOP.sub(
        lambda m: _tvf_subquery(
            m.group(1), m.group(2),
            _interval_to_duration(m.group(4)),  # HOP(…, slide, size)
            _interval_to_duration(m.group(3)),
        ),
        q,
    )
    q = _TVF_TUMBLE.sub(
        lambda m: _tvf_subquery(
            m.group(1), m.group(2), _interval_to_duration(m.group(3))
        ),
        q,
    )

    # Window auxiliary functions first (they mention TUMBLE_/HOP_/SESSION_).
    # _PROCTIME is the window's processing-time marker
    # (FlinkSqlOperatorTable TUMBLE_PROCTIME et al.) — same mapping as
    # the PROCTIME() rewrite below.
    q = re.sub(
        r"(?is)\b(TUMBLE|HOP|SESSION)_PROCTIME\s*\([^)]*\)",
        "current_timestamp()",
        q,
    )
    q = re.sub(r"(?is)\b(TUMBLE|HOP|SESSION)_START\s*\([^)]*\)", "window.start", q)
    q = re.sub(r"(?is)\b(TUMBLE|HOP|SESSION)_END\s*\([^)]*\)", "window.end", q)
    # *_ROWTIME is the window's TIME ATTRIBUTE, not its end: Flink emits
    # end − 1 ms (blink planner's window property rowtime) so a cascaded
    # window on the aggregate keeps the result INSIDE an aligned parent
    # window — with a bare `end`, a [0,10s) result would fall into the
    # NEXT 20s window whenever the boundaries align. r10 fix; the old
    # `window.end` mapping was the END semantics, off by one window in
    # every aligned cascade.
    q = re.sub(
        r"(?is)\b(TUMBLE|HOP|SESSION)_ROWTIME\s*\([^)]*\)",
        "(window.end - INTERVAL 1 MILLISECOND)",
        q,
    )

    # Group windows. HOP(ts, slide, size) → window(ts, size, slide).
    q = _HOP.sub(
        lambda m: f"window({m.group(1)}, {_interval_to_duration(m.group(3))}, "
        f"{_interval_to_duration(m.group(2))})",
        q,
    )
    q = _TUMBLE.sub(
        lambda m: f"window({m.group(1)}, {_interval_to_duration(m.group(2))})", q
    )
    q = _SESSION.sub(
        lambda m: f"session_window({m.group(1)}, {_interval_to_duration(m.group(2))})", q
    )

    # Time attributes.
    q = re.sub(r"(?is)\bPROCTIME\s*\(\s*\)", "current_timestamp()", q)

    # Correlate: Flink's LATERAL TABLE(udtf(args)) — the 1.12 UDTF join
    # idiom (docs/dev/table/sql/queries "Expanding arrays into a relation";
    # planner StreamExecCorrelate). The engine's udtf surface returns
    # array<struct> (functions/udf.py), so the Spark form is LATERAL VIEW
    # inline(...). `LEFT JOIN LATERAL TABLE(f()) ON TRUE` keeps empty
    # expansions as NULL rows → LATERAL VIEW OUTER.
    def _lateral(outer: bool):
        kw = "OUTER " if outer else ""

        def sub(m: "re.Match") -> str:
            alias = m.group(3) or "__lt"
            cols = f" AS {m.group(4)}" if m.group(4) else ""
            return (
                f" LATERAL VIEW {kw}inline({m.group(1)}({m.group(2)})) "
                + alias + cols
            )

        return sub

    q = _LATERAL_LEFT.sub(_lateral(outer=True), q)
    q = _LATERAL_CROSS.sub(_lateral(outer=False), q)

    return q


def rewrite_expr(expr: str) -> str:
    """Rewrite a bare Flink expression (e.g. a DDL computed column) — the
    same textual pass as :func:`rewrite`, which is expression-safe."""
    return rewrite(expr)
