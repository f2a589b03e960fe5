"""CEP / MATCH_RECOGNIZE — keyed branch-exploring NFA over event-time-ordered
streams.

Flink parity: flink-libraries/flink-cep Pattern API
(Pattern.java — ``begin/followedBy/within``, entry CEP.java:38), the NFA
runtime (NFA.java:86 — simultaneous ComputationState branches over a
SharedBuffer), and the SQL MATCH_RECOGNIZE operator (StreamExecMatch.scala:68).
Spark has no CEP primitive (SURVEY §2.10) → implemented as a keyed NFA
folded over per-key state (:mod:`flink_1_12_2_spark.streaming.keyed_state`).

**Branch exploration (multi-run NFA).** Like Flink's NFA, every row may start
a new partial match, and every live partial match ("branch") evolves
independently on each row — there is no commitment to a single start row.
Where a row matches more than one reachable step (predicate overlap — e.g.
a loop extension AND its successor), the branch FORKS, exactly like Flink's
TAKE/PROCEED computation-state split for ``oneOrMore``; ``greedy()``
suppresses the proceed-fork while the loop extension matches
(Pattern.java:365). The pattern is compiled once per query into step
records (``_Nfa``, Flink's NFACompiler), and a branch is an immutable tuple
of start row, sequence, step index, loop count and per-variable
(event_id, ts) slots. Equal tuples are one NFA configuration, so branches
are deduplicated by hashing — the compact per-key analogue of Flink's
SharedBuffer node sharing — and the branch set stays bounded by distinct
configurations, while ``within`` expiry retires stale starts. Rows reach
branches only through the match context, which reads them from one
per-key ``event_id → row`` buffer. A hard cap (``MAX_BRANCHES``) guards
pathological patterns with no ``within``; overflow drops newest-start
branches (documented degradation — Flink has no cap and can equally grow
state unboundedly there).

Pattern surface (Pattern.java — ``notNext``:273, ``oneOrMore``:350,
``greedy``:365, ``times``:379, plus ``optional``, ``consecutive``,
``notFollowedBy``):

- ``times(n)`` / ``one_or_more()`` / ``optional()`` — looping / skippable
  steps with (min, max) occurrence bounds;
- ``greedy()`` — prefer extending the loop on predicate overlap; the default
  forks both continuations (Flink's non-greedy oneOrMore);
- ``consecutive()`` — strict contiguity inside a loop (a non-matching row
  closes the loop, or kills the branch when under ``min``);
- ``not_next`` / ``not_followed_by`` — negative steps: strict (the
  immediately-next row) / relaxed (any row before the next positive step
  matches) branch kill;
- ``next`` — strict positive contiguity (Pattern.java:214): the immediately
  following row must match or the branch dies;
- ``followed_by_any`` — non-deterministic relaxed contiguity
  (Pattern.java:308): matching rows fork take AND ignore, so a prefix pairs
  with every later match;
- ``followed_by_one_of`` — alternation (``PATTERN (A | B)``, Calcite
  SqlMatchRecognize): a step with several named alternatives; each matching
  alternative forks its own branch with the variable name recorded for
  MEASURES / AFTER MATCH SKIP TO var;
- ``Pattern.permute`` — ``PERMUTE (A, B)`` sequence sets (one branch family
  per order).

Match emission per AfterMatchSkipStrategy (nfa/aftermatch/):

- ``past_last`` (default, SQL's AFTER MATCH SKIP PAST LAST ROW): when ≥1
  branch completes on a row, the earliest-started one wins; every live
  branch started before the match end (i.e. all of them) is discarded.
- ``to_next``: one match per distinct start row (its earliest completion);
  completing starts are retired, other branches continue.
- ``to_first var`` / ``to_last var``: the winner match is emitted, then
  branches started before the first/last row mapped to ``var`` are
  discarded; a skip target equal to the match's own start raises (Flink's
  AfterMatchSkipStrategy throws the same way).
- ``no_skip``: every completion is emitted (projected to first/last rows —
  middle-row assignment multiplicities collapse under this output schema).

The last step is either fixed-arity (single step or exact ``times(n)``,
completion fires on the closing row) or a trailing loop with min ≥ 1
(``A B+``): trailing loops emit EAGERLY — one completion per take once the
min occurrence count is met, exactly Flink's oneOrMore PROCEED-to-final
edge (on [a b1 b2], ``a b+`` emits {a,b1} then {a,b1,b2}); a greedy
unbounded tail is rejected like Flink's MalformedPatternException.
Optional/negative tails stay rejected.

Ordering: rows are sorted by (ts, event_id) inside each micro-batch; the NFA
state (the branch set) carries across batches. With
``buffer_to_watermark=True`` (:func:`cep_pattern_matches`) rows are
additionally held in state until the watermark passes them and consumed in
global event-time order — Flink's exact out-of-order contract
(AbstractKeyedCEPPatternOperator's priority queue); the default processes
each batch immediately, correct when batches arrive time-ordered.
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegralType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_1_12_2_spark.streaming.keyed_state import (
    frame_rows,
    keyed_state_apply,
    output_frame,
    split_by_key,
)

Predicate = Callable[..., bool]

# A branch (Flink's ComputationState) is one immutable tuple
#   (first_eid, first_ts, pat, step_idx, loop_count, vf, vl, vids)
# ``pat`` picks the step sequence of a sequence-set pattern; ``vf``/``vl``
# hold, per variable slot (``_Nfa.slot``), the (event_id, ts_us) of the
# FIRST/LAST row matched to it or None; ``vids`` holds per slot the tuple
# of every matched event id when the pattern collects ids, else is None.
# Equal tuples are the same NFA configuration, so dedup is plain hashing;
# the state codec stores them as JSON arrays.
_VF, _VL, _VIDS = 5, 6, 7


class MatchContext:
    """Flink IterativeCondition context (IterativeCondition.java:57
    ``ctx.getEventsForPattern``). Default compact form: the FIRST and LAST
    row already matched per pattern variable. Predicates declared with two
    arguments receive ``(row, ctx)``; ``ctx.first(var)`` / ``ctx.last(var)``
    return the row dicts (None while the variable is unmatched). Covers the
    dominant iterative-condition family — comparisons against the match's
    earlier rows (``B.price > A.price``).

    A branch holds only ``(event_id, ts_us)`` positions. The rows behind
    them live once per key in an ``event_id → row`` buffer, kept only when
    some predicate of the pattern takes the context or ``with_events()``
    asks for rows, and pruned to the rows live branches reference — Flink's
    SharedBuffer keeps each event once and branches point into it.

    With ``Pattern.with_events()``, branches additionally record EVERY
    matched event id per variable and ``ctx.events(var)`` returns the full
    list of rows — exact ``getEventsForPattern`` parity (enables ``B.v >
    AVG(A.v)`` conditions). Opt-in because per-branch state then grows with
    the match length (bounded by ``within``, like Flink's SharedBuffer
    residency)."""

    __slots__ = ("_branch", "_rows", "_slot", "_events")

    def __init__(self, branch: tuple, rows: dict, slot: dict, events: bool):
        self._branch, self._rows, self._slot, self._events = branch, rows, slot, events

    def _at(self, field: int, var: str):
        s = self._slot.get(var)
        pos = None if s is None else self._branch[field][s]
        return None if pos is None else self._rows[pos[0]]

    def first(self, var: str):
        return self._at(_VF, var)

    def last(self, var: str):
        return self._at(_VL, var)

    def events(self, var: str) -> list:
        """All rows matched to ``var`` so far, in match order
        (IterativeCondition.getEventsForPattern). Requires the pattern to
        opt in via ``Pattern.with_events()``."""
        if not self._events:
            raise RuntimeError(
                "ctx.events(var) needs Pattern.with_events() — full "
                "per-variable event retention is opt-in (state cost)"
            )
        s = self._slot.get(var)
        return [] if s is None else [self._rows[e] for e in self._branch[_VIDS][s]]


def _arity(pred) -> int:
    """REQUIRED positional parameters (default-valued closure captures like
    ``lambda row, col=col: ...`` stay one-argument predicates)."""
    try:
        return pred.__code__.co_argcount - len(pred.__defaults__ or ())
    except AttributeError:
        return 1


def _ctx_form(pred: Predicate) -> Callable[[dict, MatchContext], bool]:
    """``pred`` as ``test(row, ctx)``, its arity read once."""
    return pred if _arity(pred) >= 2 else (lambda row, ctx: pred(row))


# Branch-set guard for patterns with no `within`: beyond this many live
# branches per key the newest starts are dropped (with `within`, expiry
# bounds the set to starts inside one window and the cap is inert).
MAX_BRANCHES = 1000


@dataclass
class Step:
    """One pattern step: predicate + occurrence quantifier.

    ``min_times``/``max_times`` bound occurrences (``max_times=None`` →
    unbounded, ``min_times=0`` → optional); ``negative`` steps consume no
    rows and kill the branch when their predicate fires
    (``strict_negative`` → only the immediately-next row is tested).
    ``alts`` — alternation: a list of (variable name, predicate); the step
    matches when any alternative does, and the matching alternative's name
    is recorded in the branch's variable map."""

    name: str
    pred: Predicate
    min_times: int = 1
    max_times: int | None = 1
    greedy: bool = False
    consecutive: bool = False
    negative: bool = False
    strict_negative: bool = False
    alts: list[tuple[str, Predicate]] | None = None
    # strict positive contiguity (Pattern.next, Pattern.java:214): the row
    # immediately following the previous consume must match this step's
    # FIRST occurrence, else the branch dies (no relaxed skipping)
    strict: bool = False
    # non-deterministic relaxed contiguity (Pattern.followedByAny,
    # Pattern.java:308): a matching row forks BOTH a consuming branch and an
    # ignoring branch, so later matching rows also pair with the prefix
    any_fork: bool = False
    # loop stopping condition (Pattern.until, Pattern.java:237): once it
    # fires on a row, the loop stops accepting elements — the row itself is
    # NOT consumed into the loop (it may match the successor step)
    until_pred: Predicate | None = None
    # optional Catalyst UPPER BOUND of this step's predicate (a SQL
    # expression string over the event columns, e.g. "value > 50"): a
    # necessary condition the user PROMISES is implied by ``pred`` (rows
    # failing it can never match the step, for any match context). Enables
    # the vectorized candidate pre-gate (:func:`cep_pregate`). Set by
    # :meth:`Pattern.bound`, and by the SQL MATCH_RECOGNIZE front end from
    # each DEFINE clause's row-local atoms (sql/match_recognize._parse_mr).
    # A string, not a Column, so the Step stays picklable into the pandas
    # workers and a Pattern can be built without a SparkSession.
    bound_sql: str | None = None

    @property
    def is_loop(self) -> bool:
        return self.max_times is None or self.max_times > 1


@dataclass
class Pattern:
    """Linear CEP pattern: ordered steps, each a named predicate with an
    optional quantifier. Quantifier methods apply to the last step added,
    mirroring the fluent reference API (Pattern.java:350-379)."""

    steps: list[Step] = field(default_factory=list)
    within_us: int | None = None
    skip: Any = "past_last"  # AfterMatchSkipStrategy
    # sequence-set alternation (PERMUTE / top-level |): when set, every row
    # may start one branch PER sequence; each branch evolves against its own
    # step list. `steps` is ignored.
    seqs: list[list[Step]] | None = None
    # retain per-variable matched event-ids on each branch (MEASURES
    # aggregates / CLASSIFIER need the full variable→rows assignment)
    collect_ids: bool = False
    # retain per-variable FULL rows (ctx.events — IterativeCondition
    # getEventsForPattern parity); implies collect_ids state keying
    collect_events: bool = False

    @staticmethod
    def begin(name: str, pred: Predicate) -> "Pattern":
        return Pattern(steps=[Step(name, pred)])

    @staticmethod
    def group_seq(
        groups: list[tuple["Pattern", int, int]],
    ) -> "Pattern":
        """Nested GROUP patterns (GroupPattern.java — ``Pattern.begin(
        Pattern.begin("a").followedBy("b")).times(n)``): each element is
        ``(sub_pattern, min_rep, max_rep)`` — the sub-pattern's step
        sequence repeated between min and max times (``min_rep=0`` → the
        whole group may be absent).

        Compiled by FLATTENING into the sequence-set machinery: every
        repetition count in ``[min_rep, max_rep]`` yields one alternative
        step list per group, and the pattern's sequences are the cartesian
        product across groups (each sequence is its own branch family —
        the same expansion Flink applies conceptually in
        GroupPattern/NFACompiler quantifier unrolling). Unbounded group
        repetition (``oneOrMore`` of a GROUP) is rejected — only the
        innermost step may be unbounded. Variable names repeat across
        repetitions, accumulating rows per variable exactly like a loop.
        The product is capped at 64 sequences."""
        alt_lists: list[list[list[Step]]] = []
        for sub, min_rep, max_rep in groups:
            if sub.seqs is not None:
                raise ValueError("nested sequence-set patterns cannot group")
            if max_rep is None or max_rep < min_rep or min_rep < 0:
                raise ValueError(
                    "group repetition must be a finite 0 <= min <= max "
                    "range (unbounded group loops are unsupported)"
                )
            alts = []
            for k in range(min_rep, max_rep + 1):
                alts.append(
                    [dataclasses.replace(s) for _ in range(k) for s in sub.steps]
                )
            alt_lists.append(alts)
        import itertools as _it

        seqs = []
        for combo in _it.product(*alt_lists):
            seq = [s for part in combo for s in part]
            if seq:
                seqs.append(seq)
        if not seqs:
            raise ValueError("group composition produced an empty pattern")
        if len(seqs) > 64:
            raise ValueError(
                f"group expansion yields {len(seqs)} sequences (cap 64) — "
                "reduce repetition ranges"
            )
        return Pattern(seqs=seqs)

    @staticmethod
    def permute(
        vars_: list[tuple[str, Predicate]], last: tuple[str, Predicate] | None = None
    ) -> "Pattern":
        """``PATTERN (PERMUTE (A, B [, ...]) [C])`` — Calcite
        SqlMatchRecognize PERMUTE: the variables may match in ANY order
        (n! sequences, each a branch family); ``last`` appends a common
        definite closing step. Flink rewrites PERMUTE to an alternation of
        all orders (CEPPatternUtils) — same expansion here, executed by the
        branch NFA's sequence-set machinery."""
        import itertools as _it

        seqs = []
        for order in _it.permutations(vars_):
            seq = [Step(n, p) for n, p in order]
            if last is not None:
                seq.append(Step(last[0], last[1]))
            seqs.append(seq)
        return Pattern(seqs=seqs)

    def no_skip(self) -> "Pattern":
        """AFTER MATCH SKIP TO NEXT MATCH / noSkip (the Pattern-API default
        in Flink): emit every completed match, discard nothing."""
        self.skip = "no_skip"
        return self

    def skip_to_next_row(self) -> "Pattern":
        """AFTER MATCH SKIP TO NEXT ROW (AfterMatchSkipStrategy.skipToNext):
        one match per distinct start row (its earliest completion)."""
        self.skip = "to_next"
        return self

    def skip_to_first(self, var: str) -> "Pattern":
        """AFTER MATCH SKIP TO FIRST <var>: discard branches started before
        the first row the match mapped to ``var``. Like Flink, a skip target
        at the match's own first row would loop forever and raises."""
        self.skip = ("to_first", var)
        return self

    def skip_to_last(self, var: str) -> "Pattern":
        """AFTER MATCH SKIP TO LAST <var> (AfterMatchSkipStrategy.skipToLast)."""
        self.skip = ("to_last", var)
        return self

    def followed_by(self, name: str, pred: Predicate) -> "Pattern":
        self.steps.append(Step(name, pred))
        return self

    def followed_by_one_of(
        self, name: str, alts: list[tuple[str, Predicate]]
    ) -> "Pattern":
        """Alternation step — ``PATTERN (A | B)``: matches when any named
        alternative matches; forks one branch per matching alternative."""
        self.steps.append(
            Step(name, lambda r: False, alts=list(alts))
        )
        return self

    @staticmethod
    def begin_one_of(name: str, alts: list[tuple[str, Predicate]]) -> "Pattern":
        return Pattern(
            steps=[Step(name, lambda r: False, alts=list(alts))]
        )

    def followed_by_any(self, name: str, pred: Predicate) -> "Pattern":
        """Non-deterministic relaxed contiguity (Pattern.java:308
        ``followedByAny``): every matching row is both taken and ignored —
        the prefix can pair with EACH later match of this step."""
        self.steps.append(Step(name, pred, any_fork=True))
        return self

    def next(self, name: str, pred: Predicate) -> "Pattern":
        """Strict contiguity (Pattern.java:214 ``next``): the immediately
        following row must match, else the partial match dies."""
        self.steps.append(Step(name, pred, strict=True))
        return self

    def not_next(self, name: str, pred: Predicate) -> "Pattern":
        """The immediately-next row must not match (Pattern.java:273)."""
        self.steps.append(
            Step(name, pred, negative=True, strict_negative=True)
        )
        return self

    def not_followed_by(self, name: str, pred: Predicate) -> "Pattern":
        """No matching row may occur before the next step matches."""
        self.steps.append(Step(name, pred, negative=True))
        return self

    def times(self, n: int, n_max: int | None = None) -> "Pattern":
        """Exactly n (or n..n_max) occurrences (Pattern.java:379)."""
        self.steps[-1].min_times = n
        self.steps[-1].max_times = n if n_max is None else n_max
        return self

    def times_or_more(self, n: int) -> "Pattern":
        """At least n occurrences, unbounded above (Pattern.java
        ``timesOrMore``)."""
        self.steps[-1].min_times = n
        self.steps[-1].max_times = None
        return self

    def one_or_more(self) -> "Pattern":
        """≥1 occurrences; forks take/proceed on overlap unless .greedy()
        (Pattern.java:350)."""
        self.steps[-1].min_times = 1
        self.steps[-1].max_times = None
        return self

    def optional(self) -> "Pattern":
        self.steps[-1].min_times = 0
        return self

    def until(self, pred: Predicate) -> "Pattern":
        """Loop stopping condition (Pattern.java:237): a row firing ``pred``
        is never absorbed into the loop; the loop closes there."""
        self.steps[-1].until_pred = pred
        return self

    def greedy(self) -> "Pattern":
        """Prefer extending the loop on predicate overlap (Pattern.java:365):
        the proceed-fork is suppressed while the extension matches."""
        self.steps[-1].greedy = True
        return self

    def consecutive(self) -> "Pattern":
        """Strict contiguity inside the loop: a non-matching row closes it."""
        self.steps[-1].consecutive = True
        return self

    def bound(self, sql: str) -> "Pattern":
        """Declare a Catalyst UPPER BOUND for the last-added step: a SQL
        expression over the event columns that is IMPLIED by the step's
        Python predicate (rows failing it can never match the step). The
        runtime uses it only to pre-filter candidates JVM-side before the
        Python NFA (:func:`cep_pregate`) — declared bounds never change the
        match set, provided the implication holds. The SQL front end sets
        the same field from DEFINE clauses (sql/match_recognize._parse_mr);
        Flink's Pattern API has no such hook, so every row crosses into the
        CEP operator there (CepOperator.java processElement)."""
        self.steps[-1].bound_sql = sql
        return self

    def within(self, duration_us: int) -> "Pattern":
        self.within_us = duration_us
        return self

    def with_var_ids(self) -> "Pattern":
        """Record every matched row's event_id per variable on each branch
        (the variable→rows assignment MEASURES aggregates and CLASSIFIER
        read). Branch state grows with match length — bounded by ``within``."""
        self.collect_ids = True
        return self

    def with_events(self) -> "Pattern":
        """Retain full matched rows per variable → ``ctx.events(var)``
        (IterativeCondition.getEventsForPattern parity)."""
        self.collect_events = True
        return self

    def validate(self) -> "Pattern":
        for seq in self.seqs if self.seqs is not None else [self.steps]:
            last = seq[-1]
            # the final step must either consume a fixed row count OR be a
            # trailing loop with min>=1: a trailing loop emits EAGERLY — a
            # completion fires on every take once min occurrences are met
            # (Flink's oneOrMore tail: the PROCEED edge to the final state
            # is evaluated per take, so `a b+` on [a b1 b2] emits {a,b1}
            # then {a,b1,b2}); optional/negative tails stay rejected
            if last.negative or last.min_times < 1:
                raise ValueError(
                    "pattern must end with a consuming step of min>=1 "
                    "(no trailing optional/negative) so completion is "
                    "decidable per row"
                )
            if (
                last.is_loop
                and last.max_times != last.min_times
                and last.greedy
            ):
                # Flink MalformedPatternException: greedy is not allowed as
                # the last element (an unbounded greedy tail never emits)
                raise ValueError(
                    "greedy quantifier is not allowed on the last pattern "
                    "step (Flink MalformedPatternException parity)"
                )
        return self


CEP_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("first_event_id", LongType()),
        StructField("last_event_id", LongType()),
        StructField("first_ts_us", LongType()),
        StructField("last_ts_us", LongType()),
    ]
)


@dataclass(frozen=True, slots=True)
class _Rec:
    """One step of a compiled sequence: the :class:`Step` flags the
    runtime reads, every predicate in ``test(row, ctx)`` form, and every
    alternative's variable as its slot."""

    alts: tuple[tuple[int, Callable], ...]  # (slot, test); a plain step is its own one alternative
    kill: Callable | None  # a negative step's test: a hit kills the branch
    strict_kill: bool  # negative, tested on the immediately-next row only
    strict: bool  # positive strict contiguity (Pattern.next)
    loop: bool
    min: int
    max: int | None
    greedy: bool
    consecutive: bool
    any_fork: bool
    until: Callable | None  # a loop's stopping condition

    @staticmethod
    def of(s: Step, slot: dict[str, int]) -> "_Rec":
        alts = s.alts if s.alts is not None else [(s.name, s.pred)]
        return _Rec(
            alts=tuple((slot.get(n), _ctx_form(p)) for n, p in alts),
            kill=_ctx_form(s.pred) if s.negative else None,
            strict_kill=s.negative and s.strict_negative,
            strict=s.strict and not s.negative,
            loop=s.is_loop,
            min=s.min_times,
            max=s.max_times,
            greedy=s.greedy,
            consecutive=s.consecutive,
            any_fork=s.any_fork,
            until=(
                _ctx_form(s.until_pred)
                if s.is_loop and s.until_pred is not None
                else None
            ),
        )

    def hits(self, row: dict, ctx: MatchContext | None) -> list[int]:
        """Slots of the alternatives ``row`` matches."""
        return [s for s, t in self.alts if t(row, ctx)]


class _Nfa:
    """A :class:`Pattern` compiled for the runtime, as Flink's NFACompiler
    turns a Pattern into NFA states: one list of :class:`_Rec` per step
    sequence and one slot per variable a row can be matched to. Slots are
    numbered in variable-name order, so ordering branches by slot orders
    them by name. Compiled from the pattern's fields by each query, never
    cached on the Pattern (:func:`cep_match_batch` runs a shallow copy)."""

    def __init__(self, pattern: Pattern):
        seqs = pattern.seqs if pattern.seqs is not None else [pattern.steps]
        steps = [s for seq in seqs for s in seq]
        self.names = sorted(
            {n for s in steps if not s.negative for n, _ in s.alts or [(s.name, None)]}
        )
        self.slot = {n: i for i, n in enumerate(self.names)}
        self.seqs = [[_Rec.of(s, self.slot) for s in seq] for seq in seqs]
        self.within = pattern.within_us
        self.skip = pattern.skip
        self.keep_ids = pattern.collect_ids or pattern.collect_events
        self.events = pattern.collect_events
        # the per-key event buffer backs the match context: kept only when
        # a predicate reads the context or with_events() asks for rows
        self.buffered = pattern.collect_events or any(
            p is not None and _arity(p) >= 2
            for s in steps
            for p in (s.pred, s.until_pred, *(p for _, p in s.alts or ()))
        )


def _advance(
    seq: list[_Rec], br: tuple, row: dict, ctx: MatchContext | None
) -> tuple[list[tuple], list[tuple], bool]:
    """Evolve branch ``br`` on ``row`` against its step sequence.

    Returns (successors, completions, skipped): ``successors`` — the live
    branches after the row; ``completions`` — branches that completed the
    pattern on this row; ``skipped`` — ``br`` ignored the row (relaxed
    contiguity) and is its only successor."""
    fe, ft, pat, si, lc, vf, vl, vids = br
    n = len(seq)
    # strict negatives AT the cursor: tested exactly once, on the row
    # immediately following the previous consume
    while si < n and seq[si].strict_kill:
        if seq[si].kill(row, ctx):
            return [], [], False  # killed
        si += 1  # satisfied permanently
    ext = None  # the entered loop at the cursor, while it may extend
    if si < n and seq[si].strict and lc == 0:
        # strict POSITIVE step at the cursor, not yet entered (Pattern.next):
        # the arriving row must match it — no relaxed skipping, no passover
        if not seq[si].hits(row, ctx):
            return [], [], False  # strict contiguity broken → branch dies
        cands = [si]
    else:
        # frontier walk from the cursor: collect armed negative tests (kill
        # checks) and consumable candidate steps; stop at the first step
        # that cannot be passed over. In-walk strict negatives are treated
        # as relaxed — exact one-row semantics apply only at the cursor.
        kills, cands = [], []
        j = si
        while j < n:
            r = seq[j]
            if r.kill is not None:
                kills.append(r.kill)
                j += 1
                continue
            if j == si and r.loop and lc > 0:
                until = r.until is not None and r.until(row, ctx)
                if (r.max is None or lc < r.max) and not until:
                    ext = j
                if lc >= r.min:
                    j += 1  # enough occurrences → later steps reachable
                    continue
                if until:
                    return [], [], False  # loop stopped under min → dies
                break
            if r.until is None or not r.until(row, ctx):
                cands.append(j)
            if r.min == 0 and not (r.loop and lc > 0):
                j += 1  # optional, not yet entered → later steps reachable
                continue
            break
        if kills and any(k(row, ctx) for k in kills):
            return [], [], False  # killed by a relaxed negative
    ext_hits = [] if ext is None else seq[ext].hits(row, ctx)
    # greedy loop extension suppresses the proceed-fork (Pattern.java:365)
    greedy_ext = bool(ext_hits) and seq[ext].greedy
    if greedy_ext:
        cands = []
    takes: list[tuple[int, int]] = []  # (step, slot) per consuming fork
    ignore = False
    for j in cands:
        hit = seq[j].hits(row, ctx)
        if hit:
            takes += [(j, s) for s in hit]
            # followedByAny: also keep the un-consumed branch
            ignore = ignore or seq[j].any_fork
            # an unentered greedy loop that matches suppresses forking into
            # the steps beyond it (the same Pattern.java:365 preference)
            if seq[j].loop and seq[j].greedy:
                break
    # non-greedy entered loop with min met: Flink ALSO forks an epsilon
    # PROCEED (the loop closes without consuming this row); when a successor
    # candidate matched, that fork already covers the row — otherwise the
    # closed branch persists and skips it (relaxed at the successor). This
    # is what lets (start, [a1], breaking) match alongside
    # (start, [a1, a2], breaking) — UntilConditionITCase's expected set.
    proceed = (
        ext_hits and not greedy_ext and not takes
        and ext + 1 < n and lc >= seq[ext].min
    )
    takes += [(ext, s) for s in ext_hits]
    succ: list[tuple] = []
    done: list[tuple] = []
    pos = (row["event_id"], row["ts_us"])
    for j, s in takes:
        r = seq[j]
        nsi, nlc = j + 1, 0
        if r.loop:
            c = (lc if j == si else 0) + 1
            if r.max is None or c < r.max:
                nsi, nlc = j, c
        nb = (
            fe, ft, pat, nsi, nlc,
            vf if vf[s] is not None else vf[:s] + (pos,) + vf[s + 1:],
            vl[:s] + (pos,) + vl[s + 1:],
            vids if vids is None else vids[:s] + (vids[s] + (pos[0],),) + vids[s + 1:],
        )
        if nsi == n:
            done.append(nb)
            continue
        succ.append(nb)
        # a trailing loop with min occurrences met emits EAGERLY — one
        # completion per take, Flink's oneOrMore PROCEED-to-final edge —
        # while the take stays live for further extension
        if nsi == n - 1 and seq[nsi].loop and nlc >= seq[nsi].min:
            done.append(nb)
    if proceed:
        succ.append((fe, ft, pat, ext + 1, 0, vf, vl, vids))
    if succ or done:
        if ignore:
            succ.append((fe, ft, pat, si, lc, vf, vl, vids))
        return succ, done, False
    # nothing matched: consecutive loop at the cursor closes (or kills)
    r = seq[si] if si < n else None
    if r is not None and r.loop and r.consecutive and lc > 0:
        if lc >= r.min:
            return [(fe, ft, pat, si + 1, 0, vf, vl, vids)], [], False
        return [], [], False  # under min → killed
    # relaxed contiguity: the row is skipped; persist (with any strict
    # negatives at the cursor now permanently satisfied)
    if si == br[3]:
        return [br], [], True
    return [(fe, ft, pat, si, lc, vf, vl, vids)], [], True


def _timeout_rec(b: tuple) -> tuple:
    """A timed-out partial match record: (first row, LAST CONSUMED row)."""
    last = max(
        ((v[1], v[0]) for v in b[_VL] if v is not None), default=(b[1], b[0])
    )
    return (b[0], last[1], b[1], last[0])


def _thaw(b: list | tuple) -> tuple:
    """A branch as the hashable tuple, also when read back from JSON."""
    fe, ft, pat, si, lc, vf, vl, vids = b
    vf, vl = (tuple(p if p is None else tuple(p) for p in v) for v in (vf, vl))
    return (fe, ft, pat, si, lc, vf, vl, vids if vids is None else tuple(map(tuple, vids)))


def _match_events(
    rows: list[dict],
    pattern: Pattern | _Nfa,
    state: dict | None,
    timeouts: list | None = None,
) -> tuple[list[tuple], dict]:
    """Run the branch-exploring NFA over ordered rows; ``pattern`` is
    compiled here unless the caller passes it compiled (the query paths
    compile it once).

    Returns (matches, new_state). State: ``branches`` — the live branch set
    (Flink ComputationStates, tuples as laid out at ``_VF``) and, for
    patterns with a match context, ``rows`` — every row a live branch
    references, once (Flink's SharedBuffer). Every row starts a candidate
    new branch AND evolves every live branch; completions are resolved per
    the pattern's AfterMatchSkipStrategy (module doc).

    ``timeouts`` (optional out-list): collects TIMED-OUT partial matches —
    branches pruned by ``within`` expiry, Flink's
    TimedOutPartialMatchHandler / PatternTimeoutFunction side output — as
    (first_eid, last_consumed_eid, first_ts, last_consumed_ts), deduped.
    On a BOUNDED run the caller treats end-of-input as the final watermark
    (Flink MAX_WATERMARK): every branch still pending at the end times out.
    Branches discarded by an AfterMatchSkip strategy are NOT timeouts."""
    nfa = pattern if isinstance(pattern, _Nfa) else _Nfa(pattern)
    seqs, slot, within = nfa.seqs, nfa.slot, nfa.within
    state = state or {}
    branches = [_thaw(b) for b in state.get("branches", ())]
    buf = None  # event_id → row, for the match context
    if nfa.buffered:
        buf = {r["event_id"]: r for r in state.get("rows", ())}
        buf.update((r["event_id"], r) for r in rows)
    empty = (None,) * len(slot)
    no_ids = ((),) * len(slot) if nfa.keep_ids else None
    matches: list[tuple] = []

    def mk(c: tuple, last: tuple) -> tuple:
        t = (c[0], last[0], c[1], last[1])
        if nfa.keep_ids:  # append the variable→event-ids assignment (JSON)
            ids = {n: list(e) for n, e in zip(nfa.names, c[_VIDS]) if e}
            t += (json.dumps(ids, sort_keys=True),)
        return t

    for row in rows:
        last = (row["event_id"], row["ts_us"])
        # `within` expiry: starts too old to complete are retired. STRICT
        # boundary — Flink NFA.java:301 times out a computation state when
        # `timestamp - startTimestamp >= windowTime`, so a match whose span
        # exactly equals the window is NOT emitted.
        if within is not None:
            if timeouts is not None:
                timeouts.extend(
                    _timeout_rec(b) for b in branches if last[1] - b[1] >= within
                )
            branches = [b for b in branches if last[1] - b[1] < within]
        nxt: list[tuple] = []
        done: list[tuple] = []
        for br in branches:
            ctx = None if buf is None else MatchContext(br, buf, slot, nfa.events)
            succ, comp, _ = _advance(seqs[br[2]], br, row, ctx)
            nxt += succ
            done += comp
        # every row is a candidate start, once per sequence (Flink: the
        # NFA's start state is always live; PERMUTE = one start family per
        # order); the empty branch evolves on this row only if it actually
        # consumes it
        for p, seq in enumerate(seqs):
            start = (*last, p, 0, 0, empty, empty, no_ids)
            ctx = None if buf is None else MatchContext(start, buf, slot, nfa.events)
            succ, comp, skipped = _advance(seq, start, row, ctx)
            if not skipped:  # a start must consume its first row
                nxt += succ
                done += comp
        # dedup identical NFA configurations (SharedBuffer node sharing)
        branches = list(dict.fromkeys(nxt))
        if len(branches) > MAX_BRANCHES:
            import warnings

            warnings.warn(
                f"CEP branch set exceeded MAX_BRANCHES={MAX_BRANCHES}; "
                "dropping newest starts — matches may be lost. Add a "
                "`within` window to bound live starts.",
                RuntimeWarning,
                stacklevel=2,
            )
            branches.sort(key=lambda b: (b[1], b[0]))
            branches = branches[:MAX_BRANCHES]
        if not done:
            continue
        done.sort(
            key=lambda b: (
                b[1],
                b[0],
                b[2],
                # same-start tie (epsilon-proceed vs take families): prefer
                # the branch with the LATER last loop-var rows — Flink's
                # SharedBuffer emits the longer/greedier assignment first —
                # then an arbitrary-but-stable var-map key
                tuple((i, -v[1], -v[0]) for i, v in enumerate(b[_VL]) if v is not None),
            )
        )
        # plain runs collapse same-span completions (the output schema
        # can't distinguish them); with assignments collected the variable
        # map IS part of the match tuple (vars_json/CLASSIFIER), so distinct
        # assignments of one span each emit — Flink's noSkip emits every match
        skip = nfa.skip
        if skip == "no_skip":
            matches += dict.fromkeys(mk(c, last) for c in done)
        elif skip == "to_next":
            done_starts = set()
            for c in done:
                if (c[1], c[0]) not in done_starts:
                    done_starts.add((c[1], c[0]))
                    matches.append(mk(c, last))
            branches = [b for b in branches if (b[1], b[0]) not in done_starts]
        elif skip == "past_last":
            matches.append(mk(done[0], last))
            # every live branch started before the match end → discard all
            branches = []
        else:  # ("to_first" | "to_last", var)
            # iterative emission: each emitted match prunes (partial AND
            # still-pending completed) matches started before its skip
            # target; later same-row completions at/after the target emit
            # too (Flink's per-match prune order)
            mode, var = skip
            field, s = (_VF if mode == "to_first" else _VL), slot.get(var)
            threshold: tuple | None = None
            emitted = set()
            for c in done:
                if threshold is not None and (c[1], c[0]) < threshold:
                    continue
                m = mk(c, last)
                if m not in emitted:
                    emitted.add(m)
                    matches.append(m)
                tgt = None if s is None else c[field][s]
                if tgt is None:
                    threshold = (float("inf"), float("inf"))  # prune all
                    continue
                if mode == "to_first" and tgt[0] == c[0]:
                    # SKIP TO FIRST at the match's own start would rescan the
                    # same match forever — Flink throws exactly here
                    # (skipToLast at the own start is legal: it only prunes
                    # earlier starts)
                    raise ValueError(
                        f"AFTER MATCH SKIP TO {var} would resume at the "
                        "match's own start row (infinite loop) — Flink's "
                        "AfterMatchSkipStrategy raises the same way"
                    )
                threshold = (tgt[1], tgt[0])
            branches = (
                []
                if threshold is None
                else [b for b in branches if (b[1], b[0]) >= threshold]
            )
    if timeouts is not None and within is not None:
        # bounded run: end-of-input = final watermark → pending branches
        # time out (Flink flushes the same way at MAX_WATERMARK); dedupe
        # identical (first, last-consumed) partials across forked branches
        timeouts.extend(_timeout_rec(b) for b in branches)
        timeouts[:] = dict.fromkeys(timeouts)
    new_state: dict = {"branches": branches}
    if buf is not None:
        # keep each row a live branch references, once
        live = {p[0] for b in branches for v in b[_VF:_VIDS] for p in v if p}
        if nfa.events:
            live.update(e for b in branches for ids in b[_VIDS] for e in ids)
        new_state["rows"] = [r for e, r in buf.items() if e in live]
    return matches, new_state


def _nfa_rows(rows: list[dict], time_col: str) -> list[dict]:
    """A key's rows made ready for the NFA, in place: ``ts_us`` as integer
    µs (derived from ``time_col`` when the source did not attach it), and
    sorted by (ts_us, event_id) — the row prep every CEP path shares."""
    for d in rows:
        ts = d.get("ts_us")
        d["ts_us"] = (
            int(pd.Timestamp(d[time_col]).value // 1000) if ts is None else int(ts)
        )
    rows.sort(key=lambda d: (d["ts_us"], d["event_id"]))
    return rows


def cep_pregate(
    events: DataFrame,
    pattern: Pattern,
    key_col: str,
    key_gate: bool = False,
    sentinel_exempt: bool = False,
) -> DataFrame:
    """The engine's one vectorized CEP candidate pre-gate: Catalyst filters
    evaluated BEFORE rows cross into the Python NFA, built from the
    per-step upper bounds in ``Step.bound_sql`` — declared via
    :meth:`Pattern.bound`, or derived from DEFINE clauses by the SQL
    MATCH_RECOGNIZE front end, whose batch and streaming paths both run
    through here.
    Byte-identical match output by construction (bounds are necessary
    conditions of the predicates); a pure optimization, a no-op when no/not
    enough bounds are declared.

    1. ROW gate — keep only rows satisfying at least one step's bound.
       Requires EVERY step of every sequence to carry a bound (a row
       matching an unbounded step must survive) and is defensively skipped
       when any step's semantics OBSERVE non-matching rows (strict
       contiguity, negatives, ``until``, ``consecutive``). Under relaxed
       contiguity a row matching no step is ignored by every branch and
       can never complete, advance, or kill a match, and ``within`` expiry
       only retires branches that the gated run retires at their next
       consuming row with the same match set. The filter is a plain
       scan-stage predicate — at 100 TB it reaches the parquet reader as a
       PushedFilter and the non-candidate bulk never leaves the scan.
       In streaming this also subsumes the key gate: a key none of whose
       rows pass the filter never reaches ``applyInPandasWithState`` and
       allocates no state.
    2. KEY gate (batch only, ``key_gate=True``) — drop whole partitions
       with no row satisfying the match-START bound (leading optional
       positive steps plus the first mandatory positive step, across all
       sequences). Sound even with strict/negative/until steps: a match's
       first consumed row always matches a start step, so a key with no
       such row yields zero matches regardless of what the other steps
       observe. One window max over the NFA's own partitioning key — no
       extra exchange.

    NOT applied to :func:`cep_timed_out_partials`: the row gate can
    reclassify an expired partial as pending-at-end-of-input (both are
    emitted, but keeping the operator gate-free is simpler to reason
    about), and timeout rows are the query's actual payload there."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    step_lists = pattern.seqs if pattern.seqs else [pattern.steps]

    def union_bound(bounds: list[str]):
        # sorted+deduped: deterministic OR order → stable plans across runs
        return F.expr(" OR ".join(f"({b})" for b in sorted(set(bounds))))

    row_gate_safe = not any(
        s.negative or s.strict or s.consecutive or s.until_pred
        for steps in step_lists
        for s in steps
    )
    if row_gate_safe:
        bounds = [s.bound_sql for steps in step_lists for s in steps]
        if all(b is not None for b in bounds):
            gate = union_bound(bounds)
            if sentinel_exempt:
                # watermark flush sentinels (event_id < 0, streaming/core
                # flush_sentinels) must reach the NFA to trigger buffered
                # flushes — they carry no data and match no step
                gate = gate | F.expr("event_id < 0")
            events = events.filter(gate)

    if key_gate:
        starts: list[str | None] = []
        for steps in step_lists:
            for s in steps:
                if s.negative:
                    continue  # negatives never consume a match's first row
                starts.append(s.bound_sql)
                if s.min_times > 0:
                    break
        if starts and all(b is not None for b in starts):
            from flink_1_12_2_spark.session import pinned_repartition

            # pin the key partitioning BEFORE the window: the window's own
            # ENSURE_REQUIREMENTS exchange is AQE-coalescible, and a later
            # pin would collapse as a no-op — leaving the window AND the
            # downstream Python NFA on the byte-coalesced partitions
            return (
                pinned_repartition(events, key_col)
                .withColumn(
                    "__cep_has_start",
                    F.max(union_bound(starts).cast("int")).over(
                        Window.partitionBy(key_col)
                    ),
                )
                .filter(F.col("__cep_has_start") == 1)
                .drop("__cep_has_start")
            )
    return events


def cep_match_batch(
    events: DataFrame,
    pattern: Pattern,
    key_col: str = "user_id",
    time_col: str = "ts",
    include_vars: bool = False,
) -> DataFrame:
    """Batch CEP (MATCH_RECOGNIZE over a bounded table): same NFA, executed
    per key via ``applyInPandas`` on event-time-sorted rows. Output schema
    matches the streaming operator; with ``include_vars=True`` (or a
    pattern that already collects ids) a ``vars_json`` column carries the
    variable→event-ids assignment of each match (MEASURES aggregates /
    CLASSIFIER read it)."""
    import copy

    if include_vars and not pattern.collect_ids:
        # shallow copy: never mutate the CALLER's pattern (reuse of the
        # same Pattern object in a later call must keep its behavior)
        pattern = copy.copy(pattern)
        pattern.collect_ids = True
    pattern.validate()
    with_vars = pattern.collect_ids or pattern.collect_events
    schema = (
        StructType(CEP_OUTPUT.fields + [StructField("vars_json", StringType())])
        if with_vars
        else CEP_OUTPUT
    )

    nfa = _Nfa(pattern)

    def fn(key, rows: list[dict]) -> list[tuple]:
        matches, _ = _match_events(_nfa_rows(rows, time_col), nfa, None)
        return [(key, *m) for m in matches]

    events = cep_pregate(events, pattern, key_col, key_gate=True)
    return _keyed_apply(events, key_col, fn, schema)


def _keyed_apply(events: DataFrame, key_col: str, fn, schema) -> DataFrame:
    """Run ``fn(key, rows) -> list[tuple]`` once per key — the per-group
    contract of ``groupBy(key).applyInPandas`` — over a key-clustered,
    key-contiguous ``mapInPandas`` stream instead of Spark's grouped-map
    operator.

    Why (guide §4, r14): FlatMapGroupsInPandas pays per-GROUP machinery on
    both sides of the Arrow boundary (per-group batch slice, per-group
    pandas assembly, per-group result frame). With thousands of small keys
    that machinery dominates the NFA stage. Here the rows cross as
    ordinary Arrow batches; each batch becomes row dicts once
    (``keyed_state.frame_rows``) and is split by key
    (``keyed_state.split_by_key``), the same row model and split as the
    streaming operators, and one OUTPUT frame is emitted per input batch
    instead of per key. Null-body twin over the MR bench input (1,500
    keys / 66K rows, interleaved ×4): applyInPandas 0.873-1.229 s vs this
    path 0.712-1.017 s.

    Contract kept: the pinned repartition clusters each key into exactly
    one partition (full shuffle parallelism — AQE byte-coalescing must
    not fold the Python stage, see session.pinned_repartition) and the
    within-partition sort on ``key_col`` makes each key's rows contiguous,
    so ``fn`` still receives every row of a key in one call, even when the
    key spans Arrow batches. Row order within the key is arbitrary — every
    NFA closure re-sorts by (ts_us, event_id) (``_nfa_rows``). A NULL key
    raises, as Flink's ``keyBy`` rejects a null key.
    """
    from flink_1_12_2_spark.session import pinned_repartition

    integral = {
        f.name for f in events.schema.fields if isinstance(f.dataType, IntegralType)
    }

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the last key of a batch may continue in the next one
        carry_key, carry_rows = None, []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pdf[key_col].isna().any():
                raise ValueError(
                    f"keyed CEP: NULL {key_col!r} key; filter NULL keys out "
                    "before matching"
                )
            out: list[tuple] = []
            runs = split_by_key(frame_rows(pdf, integral), [key_col])
            for (k,), rows in runs.items():
                if k == carry_key:
                    carry_rows += rows
                    continue
                if carry_key is not None:
                    out += fn(carry_key, carry_rows)
                carry_key, carry_rows = k, rows
            # emit completed keys per input batch (bounds worker memory)
            if out:
                yield output_frame(out, schema)
        if carry_key is not None:
            out = fn(carry_key, carry_rows)
            if out:
                yield output_frame(out, schema)

    return (
        pinned_repartition(events, key_col)
        .sortWithinPartitions(key_col)
        .mapInPandas(runner, schema)
    )


def cep_timed_out_partials(
    events: DataFrame,
    pattern: Pattern,
    key_col: str = "user_id",
    time_col: str = "ts",
) -> DataFrame:
    """The TIMEOUT SIDE OUTPUT of a bounded CEP run — Flink's
    TimedOutPartialMatchHandler / ``CEP.pattern(...).select(timeoutTag,
    PatternTimeoutFunction, ...)`` (flink-cep PatternTimeoutFunction.java):
    partial matches pruned by ``within`` expiry, plus everything still
    pending at end-of-input (= Flink's MAX_WATERMARK flush). One row per
    timed-out partial: (key, first row, last CONSUMED row, their event
    times). Requires a ``within`` window."""
    pattern.validate()
    if pattern.within_us is None:
        raise ValueError("timeout side output requires Pattern.within(...)")

    nfa = _Nfa(pattern)

    def fn(key, rows: list[dict]) -> list[tuple]:
        touts: list[tuple] = []
        _match_events(_nfa_rows(rows, time_col), nfa, None, timeouts=touts)
        return [(key, *t) for t in touts]

    return _keyed_apply(events, key_col, fn, CEP_OUTPUT)


def cep_pattern_matches(
    events: DataFrame,
    pattern: Pattern,
    key_col: str = "user_id",
    time_col: str = "ts",
    buffer_to_watermark: bool = False,
) -> DataFrame:
    """Keyed CEP matching; emits one row per completed match.

    ``buffer_to_watermark=True`` gives Flink's exact out-of-order handling
    (AbstractKeyedCEPPatternOperator buffers elements in a priority queue
    and processes them on watermark advance): rows are held in state until
    the watermark passes their event time, then fed to the NFA in global
    (ts, event_id) order — cross-batch disorder cannot corrupt match order.
    Requires a watermark; on a bounded run the source must flush a final
    watermark past every row (sentinel batches — Flink's MAX_WATERMARK),
    else the tail stays buffered. The default (False) processes each
    micro-batch's rows immediately (sorted within the batch) — correct
    whenever batches arrive in event-time order, e.g. the time-split
    harness source."""
    pattern.validate()
    # streaming-safe row gate only (the window-max key gate needs a bounded
    # partition; in streaming the row gate subsumes it — ungated keys never
    # reach applyInPandasWithState and allocate no state)
    events = cep_pregate(
        events, pattern, key_col, key_gate=False, sentinel_exempt=True
    )
    return keyed_state_apply(
        events, [key_col], _cep_fold(pattern, time_col, buffer_to_watermark),
        CEP_OUTPUT, "append",
    )


def _cep_fold(pattern: Pattern, time_col: str, buffer_to_watermark: bool):
    """The keyed-state fold of :func:`cep_pattern_matches`: the key's
    state is the ``_match_events`` state — its live branches as JSON
    arrays, plus the rows they reference when the pattern has a match
    context — and, with ``buffer_to_watermark``, the rows still above the
    watermark (``pending``)."""
    nfa = _Nfa(pattern)

    def fold(key, rows, raw, watermark_us):
        if raw is not None and not (
            isinstance(raw, dict)
            and isinstance(raw.get("branches"), list)
            and all(isinstance(b, list) and len(b) == 8 for b in raw["branches"])
        ):
            # a silent fresh start would drop every live partial match
            raise ValueError(
                "CEP keyed state must be {'branches': [[first_eid, "
                "first_ts, pat, step_idx, loop_count, vf, vl, vids], ...], "
                "'rows': [...], 'pending': [...]}; got "
                f"{str(raw)[:200]} (a checkpoint written with dict branches "
                "cannot restart: start the query from a new checkpoint)"
            )
        rows = (raw.get("pending", []) if raw else []) + [
            # sentinel flush rows carry no data
            r for r in rows if r["event_id"] is None or r["event_id"] >= 0
        ]
        _nfa_rows(rows, time_col)
        hold: list[dict] = []
        if buffer_to_watermark:
            wm_us = watermark_us()
            hold = [r for r in rows if r["ts_us"] > wm_us]
            rows = [r for r in rows if r["ts_us"] <= wm_us]
        matches, new_state = _match_events(rows, nfa, raw)
        new_state["pending"] = hold
        # m[4], the variable map of patterns that collect ids, is not part
        # of the streaming output
        return [(key[0], *m[:4]) for m in matches], new_state, None

    return fold
