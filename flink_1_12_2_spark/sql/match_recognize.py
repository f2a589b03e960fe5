"""MATCH_RECOGNIZE front door — Flink's SQL CEP surface on the engine's NFA.

Flink parity: StreamExecMatch.scala:68 (SQL MATCH_RECOGNIZE → CEP operator).
Supported subset (mirrors streaming/cep.py's NFA scope):

    SELECT * FROM <table> MATCH_RECOGNIZE (
      PARTITION BY <col>
      ORDER BY <col>
      MEASURES FIRST(col) AS a, LAST(col) AS b   -- match-level accessors
      PATTERN (A B [C ...])          -- linear, relaxed contiguity
      PATTERN (A (B | C) D)          -- alternation groups (Calcite
                                     -- SqlMatchRecognize PATTERN |)
      WITHIN INTERVAL '<n>' <unit>   -- optional
      DEFINE A AS <col> = '<lit>', B AS <col> = '<lit>' [, ...]
    )

Pattern quantifiers (SQL MATCH_RECOGNIZE regex syntax → the NFA's
quantifier steps): ``A+`` (one-or-more, reluctant ``A+?``), ``A*``
(zero-or-more), ``A?`` (optional), ``A{n}`` / ``A{n,m}`` (times). The last
pattern variable may be unquantified, exactly quantified (``{n}``), or a
RELUCTANT loop (``B+?`` — emits eagerly per take, Flink's oneOrMore
PROCEED edge); a greedy trailing quantifier is rejected exactly like
Flink's MalformedPatternException.

MEASURES: FIRST/LAST(col) match-boundary accessors, SUM/COUNT/AVG/MIN/MAX
(Var.col) per-variable aggregates, FIRST/LAST(Var.col[, n]) with the
SQL:2016 logical-offset argument (MatchRecognizeITCase.scala:142 —
``LAST(A.name, 2)``), CLASSIFIER(), MATCH_NUMBER(), and optional
RUNNING|FINAL prefixes (ONE ROW PER MATCH: both equal FINAL; ALL ROWS
PER MATCH: RUNNING is the default, FINAL pins the whole-match value on
every row). DEFINE: comparisons and ``<operand> IS [NOT] NULL`` atoms
(MatchRecognizeITCase.scala:165) joined with AND/OR; operands are
literals, current-row columns, other variables' last rows (``A.price``),
FIRST/LAST(Var.col[, n]), running aggregates ``SUM/COUNT/AVG/MIN/MAX
(Var.col)`` (the candidate row counts toward its own variable — Flink's
RUNNING semantics), and ``PREV/NEXT(col[, n])`` PHYSICAL navigation over
the partition order (the canonical V-pattern ticker's ``price <
PREV(price)``). PREV/NEXT are evaluated JVM-side: the front door
precomputes them as lag/lead window columns over the same (partition,
order) key the NFA groups on — one shared exchange, zero per-row Python
for navigation.

Candidate pre-gate: the row-local atoms of each DEFINE give an upper bound
of its predicate as Spark SQL text; the parser places it on the Pattern's
steps (``Step.bound_sql``) exactly as the Pattern API's ``bound()`` does,
so batch (ONE ROW and ALL ROWS) and streaming statements all go through
the one CEP pre-gate, ``streaming.cep.cep_pregate``. Parsing needs no
SparkSession.

Parity boundary vs the reference (flink 1.12 MATCH_RECOGNIZE "known
limitations", docs/dev/table/streaming/match_recognize):
greedy trailing quantifiers are unsupported THERE too (we reject the
same inputs); pattern ALTERNATION ``(A | B)``, ``PERMUTE``, ``ALL ROWS
PER MATCH`` (SQL:2016 R010 — row-grain emission with RUNNING measures,
per-row CLASSIFIER, MATCH_NUMBER), and ``SUBSET`` union variables in
MEASURES (order-insensitive aggregates; FIRST/LAST on a subset is
rejected) are all rejected by the reference but SUPPORTED here — a
strict superset of the reference surface.

Semantics: AFTER MATCH SKIP PAST LAST ROW (Flink's default), relaxed
contiguity between steps (followedBy). Parsing is a regex grammar over the
restricted form — enough for Flink-dialect CEP SQL to run verbatim; richer
predicates belong in the Python Pattern API.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from flink_1_12_2_spark.sql.rewriter import interval_unit
from flink_1_12_2_spark.streaming.cep import Pattern, cep_match_batch

_MR = re.compile(
    r"(?is)MATCH_RECOGNIZE\s*\(\s*"
    r"PARTITION\s+BY\s+(?P<part>\w+)\s+"
    r"ORDER\s+BY\s+(?P<order>\w+)\s+"
    r"(?:MEASURES\s+(?P<measures>.*?)\s+)?"
    r"(?:(?P<rows>ONE\s+ROW|ALL\s+ROWS)\s+PER\s+MATCH\s+)?"
    r"(?:AFTER\s+MATCH\s+SKIP\s+(?P<skip>PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW|"
    r"TO\s+(?:FIRST|LAST)\s+\w+)\s+)?"
    r"PATTERN\s*\(\s*(?P<pattern>(?:[\w\s+*?{},]|PERMUTE\s*\([\w\s,]*\)"
    r"|\([\w\s|]*\))+?)\s*\)\s+"
    # SUBSET U = (A, B)[, V = (...)] — union variables for MEASURES
    r"(?:SUBSET\s+(?P<subset>\w+\s*=\s*\([\w\s,]*\)"
    r"(?:\s*,\s*\w+\s*=\s*\([\w\s,]*\))*)\s+)?"
    # DEFINE runs to the MATCH_RECOGNIZE closing paren: lazy match over
    # non-paren chars, quoted strings, and SINGLE-LEVEL (...) groups (the
    # AGG(Var.col) calls) — unlike a greedy `.*)`, SQL FOLLOWING the block
    # (outer subquery parens, WHERE clauses) is never swallowed into the
    # last DEFINE expression
    r"(?:WITHIN\s+INTERVAL\s+'(?P<n>\d+)'\s+(?P<unit>\w+)\s+)?"
    r"DEFINE\s+(?P<define>(?:[^()']|'[^']*'|\([^()]*\))*?)\s*\)"
)

_OPS = {
    # SQL three-valued logic: ANY comparison with NULL is not-true — an
    # unmatched variable reference or NULL column must never satisfy a
    # DEFINE predicate (including = and <>)
    "=": lambda a, b: a is not None and b is not None and a == b,
    "<>": lambda a, b: a is not None and b is not None and a != b,
    ">": lambda a, b: a is not None and b is not None and a > b,
    "<": lambda a, b: a is not None and b is not None and a < b,
    ">=": lambda a, b: a is not None and b is not None and a >= b,
    "<=": lambda a, b: a is not None and b is not None and a <= b,
}

# one DEFINE item: `name AS <expr>` where <expr> runs to the next item
_DEF_ITEM = re.compile(r"(?is)\b(\w+)\s+AS\s+(.*?)(?=,\s*\w+\s+AS\b|\Z)")
_CMP = re.compile(r"(?s)\s*(>=|<=|<>|=|>|<)\s*")
_AGG_OPERAND = re.compile(
    r"(?is)^(SUM|COUNT|AVG|MIN|MAX|FIRST|LAST)\s*\(\s*(\w+)\.(\w+)\s*"
    r"(?:,\s*(\d+)\s*)?\)$"
)
# PREV/NEXT physical navigation: PREV(col[, n]) / PREV(Var.col[, n]) —
# offset over the PARTITION ORDER (SQL:2016 physical navigation), not the
# variable's matched rows; Var, if given, must be the defined variable
# (Flink's restriction too — MatchRecognizeITCase.scala:122)
_NAV_OPERAND = re.compile(
    r"(?is)^(PREV|NEXT)\s*\(\s*(?:(\w+)\.)?(\w+)\s*(?:,\s*(\d+)\s*)?\)$"
)
_VARCOL = re.compile(r"^(\w+)\.(\w+)$")


def _nav_col(fn: str, col: str, n: int) -> str:
    """Internal column name for a precomputed PREV/NEXT value."""
    return f"__nav_{fn.lower()}{n}_{col}"


def _sql_literal(value) -> str:
    """Spark SQL text that reads back exactly ``value`` (a parsed DEFINE
    literal): strings escape backslash and quote the way Spark's parser
    unescapes them, floats go through their repr so ``1e3`` and ``0.1``
    round-trip bit for bit."""
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, float):
        return f"CAST('{value!r}' AS DOUBLE)"
    return str(value)


def _literal(tok: str):
    """A DEFINE literal token → the Python value the predicate compares:
    ``'it''s'`` (SQL-standard doubled quote) → ``it's``; integers stay
    ``int``, anything else numeric (``1.5``, ``1e3``) is a ``float``."""
    if tok.startswith("'"):
        return tok[1:-1].replace("''", "'")
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        raise ValueError(f"unsupported DEFINE operand: {tok!r}") from None


def _operand(tok: str, defined: str) -> tuple:
    """One comparison operand →
    (getter(row, ctx) -> value, needs_events, navs, sql).

    Forms: ``'literal'`` · number · ``col`` / ``Var.col`` (the defined
    variable or a bare column reads the CURRENT row; another variable reads
    its LAST matched row) · ``FIRST/LAST(Var.col[, n])`` (boundary rows
    with optional LOGICAL offset into the variable's matched rows, running
    semantics: for the defined variable the current candidate row is the
    fallback/last) · ``SUM/COUNT/AVG/MIN/MAX(Var.col)`` (aggregates over
    the variable's matched rows — running semantics include the candidate
    row for its own variable; needs ``Pattern.with_events()`` state) ·
    ``PREV/NEXT(col[, n])`` (PHYSICAL offset over the partition order —
    SQL:2016 navigation; evaluated JVM-side as a lag/lead window column
    BEFORE rows enter the NFA, so the Python predicate is a plain column
    read; ``navs`` reports the (fn, col, n) columns to precompute).

    ``sql`` is the Spark SQL text of a ROW-LOCAL operand (literal, current
    row column, PREV/NEXT column) reading the same value the getter does,
    or None when the operand needs match state and so cannot be evaluated
    before the NFA."""
    tok = tok.strip()
    if tok.startswith("'") or re.match(r"^-?\d", tok):
        lit = _literal(tok)
        return (lambda row, ctx, _l=lit: _l), False, set(), _sql_literal(lit)
    nv = _NAV_OPERAND.match(tok)
    if nv:
        fn, var, col, off = nv.groups()
        if var is not None and var.upper() != defined.upper():
            raise ValueError(
                f"PREV/NEXT on another pattern variable is unsupported "
                f"(physical navigation reads the defined variable's current "
                f"row): {tok!r}"
            )
        n = int(off) if off else 1
        name = _nav_col(fn.upper(), col, n)
        return (
            (lambda row, ctx, _c=name: row.get(_c)),
            False,
            {(fn.upper(), col, n)},
            f"`{name}`",
        )
    am = _AGG_OPERAND.match(tok)
    if am:
        fn, var, col = am.group(1).upper(), am.group(2), am.group(3)
        off = int(am.group(4)) if am.group(4) else 0
        own = var.upper() == defined.upper()
        if off and fn not in ("FIRST", "LAST"):
            raise ValueError(f"offset argument only valid on FIRST/LAST: {tok!r}")
        if fn == "FIRST" and off == 0:

            def get(row, ctx, _v=var, _c=col, _own=own):
                prev = ctx.first(_v)
                if prev is None:
                    return row.get(_c) if _own else None
                return prev.get(_c)

            return get, False, set(), None
        if fn == "LAST" and off == 0:

            def get(row, ctx, _v=var, _c=col, _own=own):
                if _own:  # the candidate row IS the running last of its var
                    return row.get(_c)
                prev = ctx.last(_v)
                return None if prev is None else prev.get(_c)

            return get, False, set(), None
        if fn in ("FIRST", "LAST"):
            # logical offset into the variable's matched-row list
            # (MatchRecognizeITCase.scala:142 — LAST(A.name, 2)); running
            # semantics append the candidate row for its own variable;
            # out-of-range offsets are NULL (SQL navigation default)

            def get(row, ctx, _v=var, _c=col, _own=own, _fn=fn, _k=off):
                seq = list(ctx.events(_v))
                if _own:
                    seq.append(row)
                idx = _k if _fn == "FIRST" else len(seq) - 1 - _k
                if idx < 0 or idx >= len(seq):
                    return None
                return seq[idx].get(_c)

            return get, True, set(), None

        def get(row, ctx, _v=var, _c=col, _own=own, _fn=fn):
            vals = [
                e.get(_c) for e in ctx.events(_v) if e.get(_c) is not None
            ]
            if _own and row.get(_c) is not None:
                vals = vals + [row.get(_c)]  # running semantics
            if _fn == "COUNT":
                return len(vals)
            if not vals:
                return None
            if _fn == "SUM":
                return sum(vals)
            if _fn == "AVG":
                return sum(vals) / len(vals)
            return min(vals) if _fn == "MIN" else max(vals)

        return get, True, set(), None
    vm = _VARCOL.match(tok)
    if vm and vm.group(1).upper() != defined.upper():
        var, col = vm.group(1), vm.group(2)

        def get(row, ctx, _v=var, _c=col):
            prev = ctx.last(_v)
            return None if prev is None else prev.get(_c)

        return get, False, set(), None
    if not re.match(r"^\w+(?:\.\w+)?$", tok):
        # anything function-call-shaped that the AGG regex didn't accept
        # (MEDIAN(...), FIRST(price) without Var prefix, typos) must fail
        # loudly — falling through to a bare-column read would silently
        # evaluate every comparison to False
        raise ValueError(f"unsupported DEFINE operand: {tok!r}")
    col = tok.split(".")[-1]  # defined var's or bare column → current row
    return (lambda row, ctx, _c=col: row.get(_c)), False, set(), f"`{col}`"


_IS_NULL = re.compile(r"(?is)^(.*?)\s+IS\s+(NOT\s+)?NULL$")


def _sql_join(op: str, parts: list[str]) -> str:
    """``parts`` joined by the SQL connective ``op``, each parenthesized."""
    return parts[0] if len(parts) == 1 else f" {op} ".join(f"({p})" for p in parts)


def _parse_expr(expr: str, defined: str) -> tuple:
    """Boolean DEFINE expression →
    (pred(row, ctx), needs_events, navs, bound).

    Grammar: comparisons and ``<operand> IS [NOT] NULL`` atoms
    (MatchRecognizeITCase.scala:165 — ``LAST(A.nullField) IS NULL``)
    joined by AND / OR (OR binds looser, no parens) — the Flink
    MATCH_RECOGNIZE DEFINE surface minus nested parentheses.

    ``bound`` is the Spark SQL text of an UPPER BOUND of the predicate —
    true for every row the Python predicate could accept in ANY match
    state — built from the row-local atoms only (non-row-local atoms relax
    to TRUE: dropped from conjunctions; a fully non-local disjunct makes
    the whole bound None = unpruneable). :func:`_parse_mr` places it on the
    Pattern's steps (``Step.bound_sql``), where the CEP pre-gate
    (``streaming.cep.cep_pregate``) filters on it JVM-side."""
    needs = False
    navs: set = set()
    disjuncts = []
    bound_disjuncts: list[str | None] = []
    for part in re.split(r"(?i)\s+OR\s+", expr.strip()):
        conj = []
        conj_bounds: list[str] = []
        for atom in re.split(r"(?i)\s+AND\s+", part.strip()):
            atom = atom.strip()
            nm = _IS_NULL.match(atom)
            if nm:
                gl, nl, vl, sl = _operand(nm.group(1), defined)
                needs = needs or nl
                navs |= vl
                if nm.group(2):  # IS NOT NULL
                    conj.append((gl, lambda a, b: a is not None, gl))
                else:
                    conj.append((gl, lambda a, b: a is None, gl))
                if sl is not None:
                    conj_bounds.append(
                        f"{sl} IS {'NOT ' if nm.group(2) else ''}NULL"
                    )
                continue
            pieces = _CMP.split(atom)
            if len(pieces) != 3:
                raise ValueError(f"unsupported DEFINE atom: {atom!r}")
            gl, nl, vl, sl = _operand(pieces[0], defined)
            gr, nr, vr, sr = _operand(pieces[2], defined)
            needs = needs or nl or nr
            navs |= vl | vr
            conj.append((gl, _OPS[pieces[1]], gr))
            # the SQL comparison is null-rejecting like _OPS: a NULL
            # operand yields NULL, which a filter treats as not-true
            if sl is not None and sr is not None:
                conj_bounds.append(f"{sl} {pieces[1]} {sr}")
        disjuncts.append(conj)
        # a disjunct with no row-local atom may accept any row, so the
        # whole expression has no usable upper bound
        bound_disjuncts.append(_sql_join("AND", conj_bounds) if conj_bounds else None)

    def pred(row, ctx, _d=disjuncts):
        return any(
            all(cmp(gl(row, ctx), gr(row, ctx)) for gl, cmp, gr in conj)
            for conj in _d
        )

    bound = None if None in bound_disjuncts else _sql_join("OR", bound_disjuncts)
    return pred, needs, navs, bound


def _parse_defines(text: str) -> tuple[dict[str, object], bool, set, dict]:
    """DEFINE clauses → ({VAR: pred}, needs_events, navs, {VAR: bound}).
    Each definition is a boolean expression over comparisons (see
    :func:`_parse_expr`); ``needs_events`` reports whether any predicate
    aggregates over a variable's full row set (→ the pattern must retain
    events); ``navs`` collects the (PREV|NEXT, col, n) physical-navigation
    columns the front door must precompute as lag/lead windows; ``bounds``
    maps each variable to its SQL upper bound (absent when unpruneable)."""
    defs: dict[str, object] = {}
    needs_events = False
    navs: set = set()
    bounds: dict = {}
    for name, expr in _DEF_ITEM.findall(text):
        pred, needs, nv, bound = _parse_expr(expr, name)
        needs_events = needs_events or needs
        navs |= nv
        defs[name.upper()] = pred
        if bound is not None:
            bounds[name.upper()] = bound
    return defs, needs_events, navs, bounds

_STEP = re.compile(
    r"(?s)^(?P<name>\w+)(?P<quant>\+\??|\*\??|\?|\{\d+(?:,\s*\d+)?\})?$"
)

# one pattern element: an alternation group `(A | B)` or a variable, either
# optionally quantified — used to tokenize the PATTERN body
_ELEMENT = re.compile(
    r"\(\s*\w+(?:\s*\|\s*\w+)+\s*\)(?:\+\??|\*\??|\?|\{\d+(?:,\s*\d+)?\})?"
    r"|\w+(?:\+\??|\*\??|\?|\{\d+(?:,\s*\d+)?\})?"
)

_ALT = re.compile(
    r"(?s)^\(\s*(?P<alts>\w+(?:\s*\|\s*\w+)+)\s*\)"
    r"(?P<quant>\+\??|\*\??|\?|\{\d+(?:,\s*\d+)?\})?$"
)


def _apply_quantifier(pat: Pattern, quant: str | None) -> Pattern:
    if not quant:
        return pat
    if quant.startswith("+"):
        pat = pat.one_or_more()
    elif quant.startswith("*"):
        pat = pat.one_or_more().optional()
    elif quant == "?":
        pat = pat.optional()
    else:  # {n} / {n,m}
        nums = [int(x) for x in re.findall(r"\d+", quant)]
        pat = pat.times(nums[0], nums[1] if len(nums) > 1 else None)
    # SQL regex quantifiers are greedy by default; +? / *? are reluctant —
    # the NFA default is reluctant, so greedy is the explicit flag
    if quant in ("+", "*") or quant.startswith("{"):
        pat = pat.greedy()
    return pat


_PERMUTE = re.compile(
    r"(?is)^PERMUTE\s*\(\s*(?P<vars>\w+(?:\s*,\s*\w+)+)\s*\)\s*(?P<rest>\w+)?\s*$"
)


def parse_match_recognize(sql: str) -> tuple[str, str, Pattern]:
    """Parse the restricted MATCH_RECOGNIZE block →
    (partition_col, order_col, Pattern). Rejects PREV/NEXT physical
    navigation — those need the batch front door (:func:`match_recognize`)
    which precomputes the lag/lead columns the predicates read."""
    part, order, pat, navs = _parse_mr(sql)
    if navs:
        raise ValueError(
            "PREV/NEXT physical navigation requires the batch "
            "match_recognize() front door (lag/lead precompute); "
            f"needed: {sorted(navs)}"
        )
    return part, order, pat


def _parse_mr(sql: str) -> tuple[str, str, Pattern, set]:
    """Full parse → (partition_col, order_col, Pattern, navs).
    ``navs`` is the set of (PREV|NEXT, col, n) physical-navigation columns
    DEFINE predicates read (computed as lag/lead over the partition order
    before rows enter the NFA). Every step of the Pattern carries its SQL
    upper bound in ``Step.bound_sql`` (an alternation step: the OR of its
    alternatives' bounds; None when any of them has none), the input of
    the CEP candidate pre-gate ``streaming.cep.cep_pregate``."""
    m = _MR.search(sql)
    if not m:
        raise ValueError("unsupported MATCH_RECOGNIZE syntax (see module doc)")
    defines, needs_events, navs, bounds = _parse_defines(m.group("define"))

    def mk_pred(name: str):
        return defines[name.upper()]

    pm = _PERMUTE.match(m.group("pattern").strip())
    pat: Pattern | None = None
    if pm:  # PATTERN (PERMUTE (A, B [, ...]) [C]) — any-order matching
        names = [v.strip() for v in pm.group("vars").split(",")]
        last = pm.group("rest")
        pat = Pattern.permute(
            [(n, mk_pred(n)) for n in names],
            (last, mk_pred(last)) if last else None,
        )
        elements = []
    else:
        elements = _ELEMENT.findall(m.group("pattern"))
        if "".join(elements).replace(" ", "") != re.sub(
            r"\s", "", m.group("pattern")
        ):
            raise ValueError(
                f"unsupported PATTERN body: {m.group('pattern')!r}"
            )
    for step in elements:
        am = _ALT.match(step)
        if am:  # alternation group (A | B [| C ...]) — Calcite
            # SqlMatchRecognize PATTERN alternation; each matching
            # alternative forks its own NFA branch (streaming/cep.py)
            names = [a.strip() for a in am.group("alts").split("|")]
            alts = [(n, mk_pred(n)) for n in names]
            gname = "_or_".join(names)
            pat = (
                Pattern.begin_one_of(gname, alts)
                if pat is None
                else pat.followed_by_one_of(gname, alts)
            )
            pat = _apply_quantifier(pat, am.group("quant"))
            continue
        sm = _STEP.match(step)
        if not sm:
            raise ValueError(f"unsupported pattern element: {step!r}")
        name = sm.group("name")
        pred = mk_pred(name)
        pat = (
            Pattern.begin(name, pred)
            if pat is None
            else pat.followed_by(name, pred)
        )
        pat = _apply_quantifier(pat, sm.group("quant"))
    if m.group("n"):
        pat = pat.within(int(m.group("n")) * interval_unit(m.group("unit"))[1])
    skip_raw = (m.group("skip") or "").split()
    skip = [w.upper() for w in skip_raw]
    if skip[:2] == ["TO", "NEXT"]:
        pat = pat.skip_to_next_row()
    elif skip[:2] == ["TO", "FIRST"]:
        pat = pat.skip_to_first(skip_raw[2])  # var name keeps its case
    elif skip[:2] == ["TO", "LAST"]:
        pat = pat.skip_to_last(skip_raw[2])
    if needs_events:  # DEFINE aggregates read the variable's full row set
        pat = pat.with_events()
    for steps in pat.seqs or [pat.steps]:
        for s in steps:
            names = [n for n, _ in s.alts] if s.alts else [s.name]
            bs = [bounds.get(n.upper()) for n in names]
            # sorted: deterministic OR order → stable plans across runs
            s.bound_sql = None if None in bs else _sql_join("OR", sorted(set(bs)))
    return m.group("part"), m.group("order"), pat.validate(), navs


def _with_nav_columns(df: DataFrame, part: str, order: str, navs: set):
    """Precompute PREV/NEXT physical-navigation values as lag/lead window
    columns over (PARTITION BY part ORDER BY order, event_id) — the same
    key the NFA groups on, so Catalyst reuses one exchange for both the
    window and the applyInPandas stage. The Python predicate then reads a
    plain column of its own row: navigation costs zero per-row Python."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from flink_1_12_2_spark.session import pinned_repartition

    if not navs:
        return df
    # pinned key partitioning: the lag/lead exchange feeds the Python NFA
    # downstream, so byte-based AQE coalescing here would starve it (see
    # session.pinned_repartition)
    df = pinned_repartition(df, part)
    w = Window.partitionBy(part).orderBy(order, "event_id")
    for fn, col, n in sorted(navs):
        shift = F.lag(col, n) if fn == "PREV" else F.lead(col, n)
        df = df.withColumn(_nav_col(fn, col, n), shift.over(w))
    return df


# MEASURES item: optional RUNNING|FINAL prefix (SQL:2016 semantics
# keyword: ONE ROW PER MATCH output is always FINAL — RUNNING evaluated
# at the last row equals FINAL, so both keywords are accepted there; in
# ALL ROWS PER MATCH the default is RUNNING and FINAL pins the whole-match
# value onto every row), then AGG(Var.col[, offset]) — the offset is the
# FIRST/LAST logical navigation argument (MatchRecognizeITCase.scala:142)
_M_AGG = re.compile(
    r"(?is)^(?:(RUNNING|FINAL)\s+)?"
    r"(SUM|COUNT|AVG|MIN|MAX|FIRST|LAST)\s*\(\s*(\w+)\.(\w+)\s*"
    r"(?:,\s*(\d+)\s*)?\)\s+AS\s+(\w+)$"
)
_M_PLAIN = re.compile(
    r"(?is)^(?:(?:RUNNING|FINAL)\s+)?(FIRST|LAST)\s*\(\s*(\w+)\s*\)"
    r"\s+AS\s+(\w+)$"
)
# argument-less MEASURES functions: CLASSIFIER(), MATCH_NUMBER(), and
# Flink's time attributes of the MATCH output (FlinkSqlOperatorTable
# MATCH_ROWTIME/MATCH_PROCTIME; MatchRecognizeITCase.scala): the match's
# event-time (its LAST row's rowtime — what lets a window aggregate chain
# after MATCH_RECOGNIZE) and a processing-time marker.
_M_FN0 = re.compile(
    r"(?is)^(CLASSIFIER|MATCH_NUMBER|MATCH_ROWTIME|MATCH_PROCTIME)"
    r"\s*\(\s*\)\s+AS\s+(\w+)$"
)
_SUBSET_ITEM = re.compile(r"(\w+)\s*=\s*\(([\w\s,]*)\)")


def _split_measures(text: str | None) -> list[str]:
    """Split the MEASURES list on TOP-LEVEL commas only — offset arguments
    (``LAST(A.col, 2)``) carry commas inside the call parens."""
    items: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in text or "":
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    items.append("".join(cur))
    return [i.strip() for i in items if i.strip()]


def _parse_measures(text: str | None, all_rows: bool, subsets: dict) -> tuple:
    """MEASURES list → (aggs, plain, fn0).

    ``aggs``: (fn, var, col, alias, offset, final) per ``AGG(Var.col[, n])``
    item (``final`` — the SQL:2016 FINAL prefix); ``plain``: (FIRST|LAST,
    col, alias) match-boundary accessors; ``fn0``: {CLASSIFIER |
    MATCH_NUMBER | MATCH_ROWTIME | MATCH_PROCTIME: alias}. ALL ROWS PER
    MATCH (``all_rows``) rejects FIRST/LAST in both forms (RUNNING
    boundary accessors are not implemented for row-grain output), and
    FIRST/LAST on a SUBSET variable of ``subsets`` is rejected in both
    modes (its members' rows have no single match-order position)."""
    where = "ALL ROWS PER MATCH: " if all_rows else ""
    aggs: list[tuple[str, str, str, str, int, bool]] = []
    plain: list[tuple[str, str, str]] = []
    fn0: dict[str, str] = {}
    for it in _split_measures(text):
        am = _M_AGG.match(it)
        if am:
            prefix, fn, var, col, off, alias = am.groups()
            fn = fn.upper()
            if all_rows and fn in ("FIRST", "LAST"):
                raise ValueError(f"{where}FIRST/LAST measures unsupported: {it!r}")
            if var in subsets and fn in ("FIRST", "LAST"):
                raise ValueError(
                    f"FIRST/LAST unsupported on SUBSET variable {var!r}: {it!r}"
                )
            off = int(off) if off else 0
            if off and fn not in ("FIRST", "LAST"):
                raise ValueError(
                    f"offset argument only valid on FIRST/LAST: {it!r}"
                )
            final = (prefix or "").upper() == "FINAL"
            aggs.append((fn, var, col, alias, off, final))
            continue
        pm = None if all_rows else _M_PLAIN.match(it)
        if pm:
            plain.append(pm.groups())
            continue
        fm = _M_FN0.match(it)
        if fm:
            fn0[fm.group(1).upper()] = fm.group(2)
            continue
        raise ValueError(f"{where}unsupported MEASURES item: {it!r}")
    return aggs, plain, fn0


def _parse_subsets(text: str | None) -> dict[str, list[str]]:
    """SUBSET clause → {union_var: [member_vars]} (SQL:2016; the reference
    rejects SUBSET — docs known limitations — supported here for MEASURES)."""
    if not text:
        return {}
    return {
        name: [v.strip() for v in members.split(",") if v.strip()]
        for name, members in _SUBSET_ITEM.findall(text)
    }


def match_recognize_stream(
    sdf: DataFrame, sql: str, buffer_to_watermark: bool = False
) -> DataFrame:
    """STREAMING MATCH_RECOGNIZE: the same restricted SQL surface executed
    through the keyed streaming NFA (StreamExecMatch.scala:68 — Flink's
    MATCH_RECOGNIZE is a streaming operator first). ``sdf`` is a streaming
    DataFrame with a watermark; returns the streaming matches frame
    (append mode), keyed by the PARTITION BY column like the batch output.
    MEASURES projections are not available on the stream (they join back
    to the input — do that on the materialized output);
    ``buffer_to_watermark`` forwards Flink's out-of-order buffering."""
    from flink_1_12_2_spark.streaming.cep import cep_pattern_matches

    part, order, pat = parse_match_recognize(sql)
    _check_partition_column(sdf, part)
    return cep_pattern_matches(
        sdf, pat, key_col=part, time_col=order,
        buffer_to_watermark=buffer_to_watermark,
    ).withColumnRenamed("user_id", part)


def _check_partition_column(df: DataFrame, part: str) -> None:
    """Raise unless ``part`` is an integral column of ``df``. The CEP
    operators emit the key as ``CEP_OUTPUT``'s bigint ``user_id``, which
    both front doors rename to the PARTITION BY column."""
    from pyspark.sql.types import IntegralType

    field = next(
        (f for f in df.schema.fields if f.name.lower() == part.lower()), None
    )
    if field is None:
        raise ValueError(f"PARTITION BY column {part!r} is not in the input")
    if not isinstance(field.dataType, IntegralType):
        raise ValueError(
            f"PARTITION BY column {part!r} is {field.dataType.simpleString()};"
            " MATCH_RECOGNIZE partitions by an integral column only"
        )


def _match_order(part: str):
    """The window MATCH_NUMBER() counts in: a partition's matches by start.
    The last_event_id tiebreak matters: overlapping matches can share a
    start (eager trailing loops, SKIP TO FIRST/LAST), and the numbering
    must stay deterministic for the oracle hash."""
    from pyspark.sql import Window

    return Window.partitionBy(part).orderBy(
        "first_ts_us", "first_event_id", "last_ts_us", "last_event_id"
    )


def _matched_rows(df: DataFrame, out: DataFrame, part: str, cols: list):
    """The matched rows both MEASURES modes read: one row per (match,
    matched input row), and the only reader of the NFA output ``out``. Its
    variable → event-ids map (``vars_json``) explodes once into
    ``__var``/``__eid`` and joins back to ``df`` once on (partition,
    event_id), both sides key-partitioned. Each row carries the columns
    of ``out`` (partition renamed ``__k``) as its match's identity,
    ``cols`` of ``df``, and ``__vpos``: the row's index among its
    variable's rows, which the NFA lists in the order it consumed them,
    i.e. match order."""
    import pyspark.sql.functions as F

    pairs = (
        out.withColumnRenamed(part, "__k")
        .select(
            "*",
            F.explode(
                F.from_json("vars_json", "map<string,array<bigint>>")
            ).alias("__var", "__ids"),
        )
        .select("*", F.posexplode("__ids").alias("__vpos", "__eid"))
        .drop("__ids")
    )
    side = df.select(
        F.col(part).alias("__k"), F.col("event_id").alias("__eid"), *cols
    )
    return pairs.join(side, ["__k", "__eid"])


def _in_var(var: str, subsets: dict):
    """Condition on a matched row: the match assigned it to ``var``, or to
    one of its members when ``var`` is a SUBSET union variable."""
    import pyspark.sql.functions as F

    return F.col("__var").isin(*subsets.get(var, [var]))


def _agg(fn: str, val):
    """SUM/COUNT/AVG/MIN/MAX of ``val`` (NULLs ignored, COUNT of none is 0)."""
    import pyspark.sql.functions as F

    fns = {"SUM": F.sum, "COUNT": F.count, "AVG": F.avg, "MIN": F.min, "MAX": F.max}
    return fns[fn](val)


def _match_recognize_all_rows(
    df: DataFrame, out: DataFrame, part: str, order: str, aggs: list,
    fn0: dict, subsets: dict,
) -> DataFrame:
    """ALL ROWS PER MATCH emission (SQL:2016 R010; BEYOND the reference —
    Flink 1.12 rejects it, docs/dev/table/streaming/match_recognize "known
    limitations"). One output row per matched input row, carrying every
    input column plus MEASURES under RUNNING semantics:

    - ``SUM/COUNT/AVG/MIN/MAX(Var.col)`` — over the rows assigned to
      ``Var`` up to and including the current row;
    - ``CLASSIFIER()`` — the CURRENT row's pattern variable;
    - ``MATCH_NUMBER()`` — same numbering as ONE ROW mode.
    ``FIRST/LAST`` measures are rejected by :func:`_parse_measures`.

    Scale: the matched rows (:func:`_matched_rows`) are numbered per
    match before the explode; the running window partitions by
    (partition, match_number) — bounded by match length, never by
    partition size."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    numbered = out.withColumn("__mn", F.row_number().over(_match_order(part)))
    rows = _matched_rows(df, numbered, part, df.columns)
    runw = (
        Window.partitionBy("__k", "__mn")
        .orderBy(order, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # FINAL measures: whole-match frame — the aggregate over ALL of the
    # match's rows repeated on every output row
    finw = (
        Window.partitionBy("__k", "__mn")
        .orderBy(order, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    proj = [F.col(c) for c in df.columns]
    # final=True pins the whole-match value on every row (SQL:2016 FINAL
    # keyword; the default here is RUNNING)
    for fn, var, col, alias, _off, final in aggs:
        val = F.when(_in_var(var, subsets), F.col(col))
        proj.append(_agg(fn, val).over(finw if final else runw).alias(alias))
    if "CLASSIFIER" in fn0:
        proj.append(F.col("__var").alias(fn0["CLASSIFIER"]))
    if "MATCH_NUMBER" in fn0:
        proj.append(F.col("__mn").alias(fn0["MATCH_NUMBER"]))
    if "MATCH_ROWTIME" in fn0:
        # RUNNING rowtime: the CURRENT row's order value (row-grain
        # output advances the match rowtime row by row)
        proj.append(F.col(order).alias(fn0["MATCH_ROWTIME"]))
    if "MATCH_PROCTIME" in fn0:
        proj.append(F.current_timestamp().alias(fn0["MATCH_PROCTIME"]))
    return rows.select(*proj)


def _one_row_measures(
    aggs: list, plain: list, cls_alias: str | None, subsets: dict
) -> list:
    """ONE ROW PER MATCH measures as aggregates over one match's matched
    rows (:func:`_matched_rows`), in the output's column order: the
    boundary accessors, CLASSIFIER, then the variable measures grouped by
    variable in order of first mention. A RUNNING or FINAL prefix changes
    nothing: ONE ROW PER MATCH evaluates at the final row, where RUNNING
    == FINAL."""
    import pyspark.sql.functions as F

    # max_by over "is this the row with event id `anchor`": the one row of
    # the match that has it wins
    def at(anchor: str, val):
        return F.max_by(val, F.col("__eid") == F.col(anchor))

    exprs = [
        at(f"{which.lower()}_event_id", F.col(f"__c_{col}")).alias(alias)
        for which, col, alias in plain
    ]
    if cls_alias is not None:
        exprs.append(at("last_event_id", F.col("__var")).alias(cls_alias))
    mentioned = list(dict.fromkeys(var for _, var, *_ in aggs))
    for fn, var, col, alias, off, _final in sorted(
        aggs, key=lambda a: mentioned.index(a[1])
    ):
        cond, val = _in_var(var, subsets), F.col(f"__c_{col}")
        if fn not in ("FIRST", "LAST"):
            expr = _agg(fn, F.when(cond, val))
        elif off:
            # logical offset navigation (FIRST(A.c, n) = n rows after the
            # variable's first; LAST(A.c, n) = n before its last; out of
            # range → NULL): the variable's (position, value) pairs sorted
            # into match order — state bounded by match length
            lst = F.sort_array(
                F.collect_list(
                    F.when(cond, F.struct(F.col("__vpos").alias("p"), val.alias("v")))
                )
            )
            idx = F.lit(off + 1) if fn == "FIRST" else F.size(lst) - F.lit(off)
            expr = F.when(F.size(lst) > off, F.element_at(lst, idx)["v"])
        else:
            # the variable's boundary row in match order; rows of other
            # variables have a NULL ordering, which min_by/max_by skip
            by = F.min_by if fn == "FIRST" else F.max_by
            expr = by(val, F.when(cond, F.col("__vpos")))
        exprs.append(expr.alias(alias))
    return exprs


def match_recognize(df: DataFrame, sql: str) -> DataFrame:
    """Execute a restricted MATCH_RECOGNIZE statement against ``df`` (batch).
    Returns (<PARTITION BY column> as bigint, first_event_id,
    last_event_id, first_ts_us, last_ts_us) per match plus MEASURES
    columns — one row per completed match (ONE ROW PER MATCH → FINAL
    semantics). With ``ALL ROWS PER MATCH`` in the SQL,
    emits one row per MATCHED INPUT ROW instead (RUNNING measures,
    per-row CLASSIFIER — see :func:`_match_recognize_all_rows`).

    MEASURES surface (StreamExecMatch / Flink's MATCH_RECOGNIZE measures):

    - ``FIRST(col) / LAST(col) AS alias`` — a column of the match's
      first/last row (match-level accessors);
    - ``SUM/COUNT/AVG/MIN/MAX(Var.col) AS alias`` — aggregates over the
      rows the match assigned to pattern variable ``Var``;
    - ``FIRST/LAST(Var.col) AS alias`` — the variable's boundary rows;
    - ``CLASSIFIER() AS alias`` — the variable of the match's LAST row;
    - ``MATCH_NUMBER() AS alias`` — 1-based sequential match number per
      partition (ordered by match start).

    Implementation: the NFA records each match's variable→event-ids
    assignment (``vars_json``). Measures that read rows read them once,
    from :func:`_matched_rows` (one explode of the assignment, one join
    back to the input on (partition, event_id)); ONE ROW PER MATCH folds
    them with one ``groupBy`` per match, so the NFA output has exactly one
    consumer and nothing is cached. The NFA itself stays
    measure-agnostic."""
    import pyspark.sql.functions as F

    m = _MR.search(sql)
    part, order, pat, navs = _parse_mr(sql)
    _check_partition_column(df, part)
    # the CEP pre-gate inside cep_match_batch runs AFTER the lag/lead
    # columns exist, so PREV/NEXT still see every row of the partition
    nfa_in = _with_nav_columns(df, part, order, navs)
    all_rows = (m.group("rows") or "").upper().startswith("ALL")
    subsets = _parse_subsets(m.group("subset"))
    aggs, plain, fn0 = _parse_measures(m.group("measures"), all_rows, subsets)
    cls_alias = fn0.get("CLASSIFIER")
    reads_rows = all_rows or bool(aggs or plain) or cls_alias is not None
    out = cep_match_batch(
        nfa_in, pat, key_col=part, time_col=order, include_vars=reads_rows
    ).withColumnRenamed("user_id", part)
    if all_rows:
        return _match_recognize_all_rows(df, out, part, order, aggs, fn0, subsets)
    if reads_rows:
        cols = sorted({c for _, c, _ in plain} | {c for _, _, c, *_ in aggs})
        rows = _matched_rows(
            df, out, part, [F.col(c).alias(f"__c_{c}") for c in cols]
        )
        out = (
            rows.groupBy("__k", *[c for c in out.columns if c != part])
            .agg(*_one_row_measures(aggs, plain, cls_alias, subsets))
            .withColumnRenamed("__k", part)
        )
    if "MATCH_NUMBER" in fn0:
        out = out.withColumn(
            fn0["MATCH_NUMBER"], F.row_number().over(_match_order(part))
        )
    if "MATCH_ROWTIME" in fn0:
        # MATCH_ROWTIME(): the match's event-time attribute — its LAST
        # row's rowtime, in this surface's epoch-micros convention (same
        # unit as first_ts_us/last_ts_us), so a downstream window
        # aggregate can tumble over MATCH_RECOGNIZE output exactly as
        # Flink chains windows after MATCH_ROWTIME()
        out = out.withColumn(fn0["MATCH_ROWTIME"], F.col("last_ts_us"))
    if "MATCH_PROCTIME" in fn0:
        # MATCH_PROCTIME(): processing-time marker — inherently
        # nondeterministic (wall clock), same contract as the engine's
        # PROCTIME() rewrite; excluded from value-hash oracles
        out = out.withColumn(fn0["MATCH_PROCTIME"], F.current_timestamp())
    # vars_json also appears when DEFINE aggregates forced event retention
    # without any var-anchored measure — always scrub the internals
    return out.drop("vars_json")
