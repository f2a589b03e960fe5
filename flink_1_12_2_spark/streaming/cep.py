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
(Pattern.java:365). Branches are deduplicated on
(start row, step index, loop count, variable map) — the compact per-key
analogue of Flink's SharedBuffer node sharing — so the branch set stays
bounded by distinct NFA configurations, and ``within`` expiry retires stale
starts. A hard cap (``MAX_BRANCHES``) guards pathological patterns with no
``within``; overflow drops newest-start branches (documented degradation —
Flink has no cap and can equally grow state unboundedly there).

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

import json
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from flink_1_12_2_spark.streaming.keyed_state import key_runs, keyed_state_apply

Predicate = Callable[..., bool]


class MatchContext:
    """Flink IterativeCondition context (IterativeCondition.java:57
    ``ctx.getEventsForPattern``). Default compact form: the FIRST and LAST
    row already matched per pattern variable. Predicates declared with two
    arguments receive ``(row, ctx)``; ``ctx.first(var)`` / ``ctx.last(var)``
    return the row dicts (None while the variable is unmatched). Covers the
    dominant iterative-condition family — comparisons against the match's
    earlier rows (``B.price > A.price``) — with state of two rows per
    variable per branch.

    With ``Pattern.with_events()``, branches additionally retain EVERY
    matched row per variable and ``ctx.events(var)`` returns the full list —
    exact ``getEventsForPattern`` parity (enables ``B.v > AVG(A.v)``
    conditions). Opt-in because per-branch state then grows with the match
    length (bounded by ``within``, like Flink's SharedBuffer residency)."""

    __slots__ = ("_vfr", "_vlr", "_ve")

    def __init__(self, vfr: dict, vlr: dict, ve: dict | None = None):
        self._vfr, self._vlr, self._ve = vfr, vlr, ve

    def first(self, var: str):
        return self._vfr.get(var)

    def last(self, var: str):
        return self._vlr.get(var)

    def events(self, var: str) -> list:
        """All rows matched to ``var`` so far, in match order
        (IterativeCondition.getEventsForPattern). Requires the pattern to
        opt in via ``Pattern.with_events()``."""
        if self._ve is None:
            raise RuntimeError(
                "ctx.events(var) needs Pattern.with_events() — full "
                "per-variable event retention is opt-in (state cost)"
            )
        return self._ve.get(var, [])


def _arity(pred) -> int:
    """REQUIRED positional parameters (default-valued closure captures like
    ``lambda row, col=col: ...`` stay one-argument predicates)."""
    try:
        return pred.__code__.co_argcount - len(pred.__defaults__ or ())
    except AttributeError:
        return 1


def _test(pred: Predicate, row: dict, ctx: "MatchContext") -> bool:
    return pred(row, ctx) if _arity(pred) >= 2 else pred(row)

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
    # the vectorized candidate pre-gate (:func:`cep_pregate`) — the same
    # optimization the SQL MATCH_RECOGNIZE front door derives automatically
    # from DEFINE clauses (sql/match_recognize._pregate). A string, not a
    # Column, so the Step stays picklable into the pandas workers.
    bound_sql: str | None = None

    @property
    def is_loop(self) -> bool:
        return self.max_times is None or self.max_times > 1

    def matching_alts(self, row: dict, ctx: "MatchContext") -> list[str]:
        """Names of matching alternatives (a plain step matches as itself).
        Two-argument predicates receive the match context (iterative
        conditions)."""
        if self.alts is None:
            return [self.name] if _test(self.pred, row, ctx) else []
        return [n for n, p in self.alts if _test(p, row, ctx)]


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
                    [
                        Step(**{f.name: getattr(s, f.name) for f in s.__dataclass_fields__.values()})
                        for _ in range(k)
                        for s in sub.steps
                    ]
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
        match set, provided the implication holds. The programmatic analogue
        of what the SQL front door derives from DEFINE clauses
        (sql/match_recognize._pregate); Flink's Pattern API has no such
        hook, so every row crosses into the CEP operator there
        (CepOperator.java processElement)."""
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


def _new_branch(row: dict, pat: int = 0) -> dict:
    """A branch about to consume ``row`` as its first row. ``pat`` selects
    the step sequence for sequence-set patterns (PERMUTE / alternation)."""
    return {
        "first_eid": row["event_id"],
        "first_ts": row["ts_us"],
        "step_idx": 0,
        "loop_count": 0,
        "pat": pat,
        "vf": {},  # var → [eid, ts] of FIRST row mapped to it
        "vl": {},  # var → [eid, ts] of LAST row mapped to it
        "vfr": {},  # var → FIRST matched row payload (iterative conditions)
        "vlr": {},  # var → LAST matched row payload
    }


def _copy_branch(br: dict) -> dict:
    nb = dict(br)
    nb["vf"], nb["vl"] = dict(br["vf"]), dict(br["vl"])
    nb["vfr"] = dict(br.get("vfr", {}))
    nb["vlr"] = dict(br.get("vlr", {}))
    if "vids" in br:
        nb["vids"] = dict(br["vids"])
    if "ve" in br:
        nb["ve"] = dict(br["ve"])
    return nb


def _branch_key(br: dict) -> tuple:
    base = (
        br["first_eid"],
        br.get("pat", 0),
        br["step_idx"],
        br["loop_count"],
        tuple(sorted((k, tuple(v)) for k, v in br["vf"].items())),
        tuple(sorted((k, tuple(v)) for k, v in br["vl"].items())),
    )
    if "vids" in br:
        # with full assignments retained, branches differing in MIDDLE rows
        # are distinct configurations — keying only (first, last) per var
        # would silently merge them and lose one assignment's rows
        base += (
            tuple(sorted((k, tuple(v)) for k, v in br["vids"].items())),
        )
    return base


def _evolve(
    branch: dict,
    row: dict,
    steps: list[Step],
    collect: tuple[bool, bool] = (False, False),
) -> tuple[list[dict], list[dict], bool]:
    """Evolve one branch on one row.

    Returns (successors, completions, survived_unchanged):
    ``successors`` — forked branches that consumed the row (non-final);
    ``completions`` — branches that consumed the final step (match done);
    ``survived_unchanged`` — the branch persists as-is (relaxed contiguity).
    ``collect`` = (retain per-var event ids, retain per-var full rows)."""
    ctx = MatchContext(
        branch.get("vfr", {}),
        branch.get("vlr", {}),
        branch.get("ve", {}) if collect[1] else None,
    )
    # strict negatives AT the cursor: tested exactly once, on the row
    # immediately following the previous consume
    step_idx, loop_count = branch["step_idx"], branch["loop_count"]
    while step_idx < len(steps):
        s = steps[step_idx]
        if s.negative and s.strict_negative:
            if _test(s.pred, row, ctx):
                return [], [], False  # killed
            step_idx += 1  # satisfied permanently
        else:
            break
    # strict POSITIVE step at the cursor, not yet entered (Pattern.next):
    # the arriving row must match it — no relaxed skipping, no passover
    if (
        step_idx < len(steps)
        and steps[step_idx].strict
        and not steps[step_idx].negative
        and loop_count == 0
    ):
        if not steps[step_idx].matching_alts(row, ctx):
            return [], [], False  # strict contiguity broken → branch dies
        kill_preds, candidates, loop_extend = [], [step_idx], None
        return _consume_phase(
            branch, row, steps, step_idx, loop_count,
            kill_preds, candidates, loop_extend, ctx, collect,
        )
    # frontier walk from the cursor: collect armed negative predicates
    # (kill checks) and consumable candidate steps; stop at the first step
    # that cannot be passed over. In-walk strict negatives are treated as
    # relaxed — exact one-row semantics apply only at the cursor.
    kill_preds: list[Predicate] = []
    candidates: list[int] = []
    loop_extend: int | None = None
    j = step_idx
    while j < len(steps):
        s = steps[j]
        if s.negative:
            kill_preds.append(s.pred)
            j += 1
            continue
        if j == step_idx and s.is_loop and loop_count > 0:
            until_fired = s.until_pred is not None and _test(
                s.until_pred, row, ctx
            )
            if (s.max_times is None or loop_count < s.max_times) and not until_fired:
                loop_extend = j
            if loop_count >= s.min_times:
                j += 1  # enough occurrences → later steps reachable
                continue
            if until_fired:
                return [], [], False  # loop stopped under min → branch dies
            break
        if not (
            s.is_loop
            and s.until_pred is not None
            and _test(s.until_pred, row, ctx)
        ):
            candidates.append(j)
        if s.min_times == 0 and not (s.is_loop and loop_count > 0):
            j += 1  # optional, not yet entered → later steps reachable
            continue
        break
    return _consume_phase(
        branch, row, steps, step_idx, loop_count,
        kill_preds, candidates, loop_extend, ctx, collect,
    )


def _consume_phase(
    branch: dict,
    row: dict,
    steps: list[Step],
    step_idx: int,
    loop_count: int,
    kill_preds: list[Predicate],
    candidates: list[int],
    loop_extend: int | None,
    ctx: MatchContext,
    collect: tuple[bool, bool] = (False, False),
) -> tuple[list[dict], list[dict], bool]:
    """Second half of :func:`_evolve`: apply kills, fork consumptions."""
    if any(_test(p, row, ctx) for p in kill_preds):
        return [], [], False  # killed by a relaxed negative
    extend_names = (
        steps[loop_extend].matching_alts(row, ctx)
        if loop_extend is not None
        else []
    )
    # greedy loop extension suppresses the proceed-fork (Pattern.java:365)
    if loop_extend is not None and extend_names and steps[loop_extend].greedy:
        candidates = []

    def consumed(j: int, var: str) -> dict:
        nb = {
            "first_eid": branch["first_eid"],
            "first_ts": branch["first_ts"],
            "step_idx": step_idx,
            "loop_count": loop_count,
            "pat": branch.get("pat", 0),
            "vf": dict(branch["vf"]),
            "vl": dict(branch["vl"]),
            "vfr": dict(branch.get("vfr", {})),
            "vlr": dict(branch.get("vlr", {})),
        }
        pos = [row["event_id"], row["ts_us"]]
        nb["vf"].setdefault(var, pos)
        nb["vl"][var] = pos
        safe = _json_safe(row)
        nb["vfr"].setdefault(var, safe)
        nb["vlr"][var] = safe
        if collect[0] or collect[1]:
            vids = {k: list(v) for k, v in branch.get("vids", {}).items()}
            vids.setdefault(var, []).append(row["event_id"])
            nb["vids"] = vids
        if collect[1]:
            ve = {k: list(v) for k, v in branch.get("ve", {}).items()}
            ve.setdefault(var, []).append(safe)
            nb["ve"] = ve
        s = steps[j]
        if s.is_loop:
            nb["loop_count"] = nb["loop_count"] + 1 if j == step_idx else 1
            nb["step_idx"] = j
            if s.max_times is not None and nb["loop_count"] >= s.max_times:
                nb["step_idx"], nb["loop_count"] = j + 1, 0
        else:
            nb["step_idx"], nb["loop_count"] = j + 1, 0
        return nb

    def finish(nb: dict) -> dict:
        nb["last_eid"], nb["last_ts"] = row["event_id"], row["ts_us"]
        return nb

    successors: list[dict] = []
    completions: list[dict] = []
    ignore_fork = False

    def route(nb: dict) -> None:
        """File a consumed branch: completion when past the last step; a
        trailing loop with min occurrences met emits EAGERLY (a completion
        snapshot per take — Flink's oneOrMore PROCEED-to-final edge) while
        the take branch stays live for further extension."""
        if nb["step_idx"] >= len(steps):
            completions.append(finish(nb))
            return
        successors.append(nb)
        s = steps[nb["step_idx"]]
        if (
            nb["step_idx"] == len(steps) - 1
            and s.is_loop
            and nb["loop_count"] >= s.min_times
        ):
            completions.append(finish(_copy_branch(nb)))

    for j in candidates:
        names = steps[j].matching_alts(row, ctx)
        if names and steps[j].any_fork:
            ignore_fork = True  # followedByAny: also keep the un-consumed branch
        for var in names:
            route(consumed(j, var))
        # an unentered greedy loop that matches suppresses forking into the
        # steps beyond it (same Pattern.java:365 preference as the entered
        # case handled above)
        if names and steps[j].is_loop and steps[j].greedy:
            break
    for var in extend_names:
        route(consumed(loop_extend, var))
    # non-greedy entered loop with min met: Flink ALSO forks an epsilon
    # PROCEED (the loop closes without consuming this row); when a successor
    # candidate matched, that fork already covers the row — otherwise the
    # closed branch persists and skips it (relaxed at the successor). This
    # is what lets (start, [a1], breaking) match alongside
    # (start, [a1, a2], breaking) — UntilConditionITCase's expected set.
    if (
        loop_extend is not None
        and loop_extend + 1 < len(steps)  # a trailing loop has no successor
        and extend_names
        and not steps[loop_extend].greedy
        and loop_count >= steps[loop_extend].min_times
        and not any(steps[j].matching_alts(row, ctx) for j in candidates)
    ):
        nb = _copy_branch(branch)
        nb["step_idx"], nb["loop_count"] = loop_extend + 1, 0
        successors.append(nb)
    if successors or completions:
        if ignore_fork:
            nb = _copy_branch(branch)
            nb["step_idx"], nb["loop_count"] = step_idx, loop_count
            successors.append(nb)
        return successors, completions, False
    # nothing matched: consecutive loop at the cursor closes (or kills)
    s0 = steps[step_idx] if step_idx < len(steps) else None
    if s0 is not None and s0.is_loop and s0.consecutive and loop_count > 0:
        if loop_count >= s0.min_times:
            nb = _copy_branch(branch)
            nb["step_idx"], nb["loop_count"] = step_idx + 1, 0
            return [nb], [], False
        return [], [], False  # under min → killed
    # relaxed contiguity: the row is skipped; persist (with any strict
    # negatives at the cursor now permanently satisfied)
    nb = _copy_branch(branch)
    nb["step_idx"], nb["loop_count"] = step_idx, loop_count
    return [nb], [], True


def _timeout_rec(b: dict) -> tuple:
    """A timed-out partial match record: (first row, LAST CONSUMED row)."""
    last = max(
        ((v[1], v[0]) for v in b["vl"].values()),
        default=(b["first_ts"], b["first_eid"]),
    )
    return (b["first_eid"], last[1], b["first_ts"], last[0])


def _match_events(
    rows: list[dict],
    pattern: Pattern,
    state: dict | None,
    timeouts: list | None = None,
) -> tuple[list[tuple], dict]:
    """Run the branch-exploring NFA over ordered rows.

    Returns (matches, new_state). State: ``branches`` — the live branch set
    (Flink ComputationStates). Every row starts a candidate new branch AND
    evolves every live branch; completions are resolved per the pattern's
    AfterMatchSkipStrategy (module doc).

    ``timeouts`` (optional out-list): collects TIMED-OUT partial matches —
    branches pruned by ``within`` expiry, Flink's
    TimedOutPartialMatchHandler / PatternTimeoutFunction side output — as
    (first_eid, last_consumed_eid, first_ts, last_consumed_ts), deduped.
    On a BOUNDED run the caller treats end-of-input as the final watermark
    (Flink MAX_WATERMARK): every branch still pending at the end times out.
    Branches discarded by an AfterMatchSkip strategy are NOT timeouts."""
    seqs = pattern.seqs if pattern.seqs is not None else [pattern.steps]
    collect = (
        pattern.collect_ids or pattern.collect_events,
        pattern.collect_events,
    )
    matches: list[tuple] = []
    branches: list[dict] = list(state["branches"]) if state and "branches" in state else []

    def _mk(c: dict) -> tuple:
        t = (c["first_eid"], c["last_eid"], c["first_ts"], c["last_ts"])
        if collect[0]:  # append the variable→event-ids assignment (JSON)
            t += (json.dumps(c.get("vids", {}), sort_keys=True),)
        return t

    for row in rows:
        # `within` expiry: starts too old to complete are retired. STRICT
        # boundary — Flink NFA.java:301 times out a computation state when
        # `timestamp - startTimestamp >= windowTime`, so a match whose span
        # exactly equals the window is NOT emitted.
        if pattern.within_us is not None:
            if timeouts is not None:
                timeouts.extend(
                    _timeout_rec(b)
                    for b in branches
                    if row["ts_us"] - b["first_ts"] >= pattern.within_us
                )
            branches = [
                b
                for b in branches
                if row["ts_us"] - b["first_ts"] < pattern.within_us
            ]
        next_branches: list[dict] = []
        completions: list[dict] = []
        for br in branches:
            succ, comp, _ = _evolve(br, row, seqs[br.get("pat", 0)], collect)
            next_branches.extend(succ)
            completions.extend(comp)
        # every row is a candidate start, once per sequence (Flink: the
        # NFA's start state is always live; PERMUTE = one start family per
        # order); the empty branch evolves on this row only if it actually
        # consumes it
        for pat_i, pat_steps in enumerate(seqs):
            start = _new_branch(row, pat_i)
            succ, comp, unchanged = _evolve(start, row, pat_steps, collect)
            if not unchanged:  # a start must consume its first row
                next_branches.extend(succ)
                completions.extend(comp)
        # dedup identical NFA configurations (SharedBuffer node sharing)
        seen_keys: set = set()
        deduped: list[dict] = []
        for b in next_branches:
            k = _branch_key(b)
            if k not in seen_keys:
                seen_keys.add(k)
                deduped.append(b)
        branches = deduped
        if len(branches) > MAX_BRANCHES:
            import warnings

            warnings.warn(
                f"CEP branch set exceeded MAX_BRANCHES={MAX_BRANCHES}; "
                "dropping newest starts — matches may be lost. Add a "
                "`within` window to bound live starts.",
                RuntimeWarning,
                stacklevel=2,
            )
            branches.sort(key=lambda b: (b["first_ts"], b["first_eid"]))
            branches = branches[:MAX_BRANCHES]
        if not completions:
            continue
        completions.sort(
            key=lambda b: (
                b["first_ts"],
                b["first_eid"],
                b.get("pat", 0),
                # same-start tie (epsilon-proceed vs take families): prefer
                # the branch with the LATER last loop-var rows — Flink's
                # SharedBuffer emits the longer/greedier assignment first —
                # then an arbitrary-but-stable var-map key
                tuple(sorted(((k, -v[1], -v[0]) for k, v in b["vl"].items()))),
            )
        )
        skip = pattern.skip
        # dedup key: plain runs collapse same-span completions (the output
        # schema can't distinguish them); with assignments collected the
        # variable map IS part of the output (vars_json/CLASSIFIER), so
        # distinct assignments of one span must each emit — Flink's noSkip
        # emits every match
        _dk = _mk if collect[0] else (
            lambda c: (c["first_eid"], c["last_eid"], c["first_ts"], c["last_ts"])
        )
        if skip == "no_skip":
            emitted = set()
            for c in completions:
                k = _dk(c)
                if k not in emitted:
                    emitted.add(k)
                    matches.append(_mk(c))
        elif skip == "to_next":
            done_starts = set()
            for c in completions:
                sk = (c["first_ts"], c["first_eid"])
                if sk not in done_starts:
                    done_starts.add(sk)
                    matches.append(_mk(c))
            branches = [
                b
                for b in branches
                if (b["first_ts"], b["first_eid"]) not in done_starts
            ]
        elif skip == "past_last":
            w = completions[0]
            matches.append(_mk(w))
            # every live branch started before the match end → discard all
            branches = []
        else:  # ("to_first" | "to_last", var)
            # iterative emission: each emitted match prunes (partial AND
            # still-pending completed) matches started before its skip
            # target; later same-row completions at/after the target emit
            # too (Flink's per-match prune order)
            mode, var = skip
            threshold: tuple | None = None
            emitted = set()
            for c in completions:
                if threshold is not None and (
                    (c["first_ts"], c["first_eid"]) < threshold
                ):
                    continue
                k = _dk(c)
                if k not in emitted:
                    emitted.add(k)
                    matches.append(_mk(c))
                tgt = (c["vf"] if mode == "to_first" else c["vl"]).get(var)
                if tgt is None:
                    threshold = (float("inf"), float("inf"))  # prune all
                    continue
                if mode == "to_first" and tgt[0] == c["first_eid"]:
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
            if threshold is None:
                branches = []
            else:
                branches = [
                    b
                    for b in branches
                    if (b["first_ts"], b["first_eid"]) >= threshold
                ]
    if timeouts is not None and pattern.within_us is not None:
        # bounded run: end-of-input = final watermark → pending branches
        # time out (Flink flushes the same way at MAX_WATERMARK); dedupe
        # identical (first, last-consumed) partials across forked branches
        timeouts.extend(_timeout_rec(b) for b in branches)
        seen_t: set = set()
        deduped_t = [t for t in timeouts if not (t in seen_t or seen_t.add(t))]
        timeouts.clear()
        timeouts.extend(deduped_t)
    return matches, {"branches": branches}


def _rows_from_pdf(pdf, time_col: str) -> list[dict]:
    """Arrow batch → NFA row dicts: derive microsecond event time when the
    source didn't attach ``ts_us``, and sort by (ts_us, event_id) — the
    shared row-prep for every batch CEP closure."""
    import pandas as pd  # noqa: F811 (worker-side import)

    rows = []
    cols = list(pdf.columns)
    # name=None → plain tuples zipped with the real column names:
    # namedtuple itertuples silently RENAMES any column starting with an
    # underscore (e.g. the __nav_* PREV/NEXT lag columns) to positional
    # _N fields, losing it for the predicates — and plain tuples are
    # faster to build anyway
    for vals in pdf.itertuples(index=False, name=None):
        # Arrow/pandas surfaces SQL NULL in double columns as NaN; the
        # NFA's row model (and SQL three-valued logic: IS NULL atoms,
        # null-rejecting comparisons incl. <>) needs real None — NaN
        # would satisfy `a != b` and fail `IS NULL`
        d = {
            c: (None if isinstance(v, float) and v != v else v)
            for c, v in zip(cols, vals)
        }
        if "ts_us" not in d or d["ts_us"] is None:
            d["ts_us"] = int(pd.Timestamp(d[time_col]).value // 1000)
        d["ts_us"] = int(d["ts_us"])
        rows.append(d)
    rows.sort(key=lambda d: (d["ts_us"], d["event_id"]))
    return rows


def cep_pregate(
    events: DataFrame,
    pattern: Pattern,
    key_col: str,
    key_gate: bool = False,
    sentinel_exempt: bool = False,
) -> DataFrame:
    """Vectorized candidate pre-gate for the programmatic ``Pattern`` path:
    Catalyst filters evaluated BEFORE rows cross into the Python NFA, built
    from the per-step upper bounds declared via :meth:`Pattern.bound`.
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
       extra exchange (mirrors sql/match_recognize._pregate).

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

            # pin the key partitioning BEFORE the window (see
            # sql/match_recognize._pregate — AQE byte-coalescing must not
            # size the downstream Python stage)
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

    import pandas as pd  # noqa: F811 (worker-side import)

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

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = _rows_from_pdf(pdf, time_col)
        matches, _ = _match_events(rows, pattern, None)
        key_val = rows[0][key_col] if rows else None
        out = {
            "user_id": [key_val] * len(matches),
            "first_event_id": [m[0] for m in matches],
            "last_event_id": [m[1] for m in matches],
            "first_ts_us": [m[2] for m in matches],
            "last_ts_us": [m[3] for m in matches],
        }
        if with_vars:
            out["vars_json"] = [m[4] for m in matches]
        return pd.DataFrame(out)

    events = cep_pregate(events, pattern, key_col, key_gate=True)
    return _keyed_apply(events, key_col, fn, schema)


def _keyed_apply(events: DataFrame, key_col: str, fn, schema) -> DataFrame:
    """Run ``fn`` once per key — the per-group contract of
    ``groupBy(key).applyInPandas(fn, schema)`` — over a key-clustered,
    key-contiguous ``mapInPandas`` stream instead of Spark's grouped-map
    operator.

    Why (guide §4, r14): FlatMapGroupsInPandas pays per-GROUP machinery on
    both sides of the Arrow boundary (per-group batch slice, per-group
    pandas assembly, per-group result frame). With thousands of small keys
    that machinery dominates the NFA stage. Here the rows cross as
    ordinary Arrow batches (one pandas frame per batch), the sorted batch
    is split into key runs by ``keyed_state.key_runs``, and one OUTPUT frame is
    emitted per input batch instead of per key. Null-body twin over the
    MR bench input (1,500 keys / 66K rows, interleaved ×4):
    applyInPandas 0.873-1.229 s vs this path 0.712-1.017 s.

    Contract kept: the pinned repartition clusters each key into exactly
    one partition (full shuffle parallelism — AQE byte-coalescing must
    not fold the Python stage, see session.pinned_repartition) and the
    within-partition sort on ``key_col`` makes each key's rows contiguous,
    so ``fn`` still receives every row of a key in one frame. Row order
    within the key is arbitrary — every NFA closure re-sorts by
    (ts_us, event_id) internally (``_rows_from_pdf``) exactly as it did
    under grouped-map. A NULL key raises, as Flink's ``keyBy`` rejects a
    null key.
    """
    from flink_1_12_2_spark.session import pinned_repartition

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry_key = None
        carry_parts: list[pd.DataFrame] = []
        outs: list[pd.DataFrame] = []

        def flush_group():
            nonlocal carry_key, carry_parts
            if carry_key is None:
                return
            pdf = (
                carry_parts[0]
                if len(carry_parts) == 1
                else pd.concat(carry_parts, ignore_index=True)
            )
            out = fn(pdf)
            if out is not None and len(out):
                outs.append(out)
            carry_key = None
            carry_parts = []

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pdf[key_col].isna().any():
                raise ValueError(
                    f"keyed CEP: NULL {key_col!r} key; filter NULL keys out "
                    "before matching"
                )
            for k, part in key_runs(pdf, [key_col]):
                if carry_key is not None and k == carry_key:
                    carry_parts.append(part)  # key spans Arrow batches
                else:
                    flush_group()
                    carry_key, carry_parts = k, [part]
            # emit completed groups per input batch (bounds worker memory;
            # the carry group may continue into the next batch)
            if outs:
                yield (
                    outs[0]
                    if len(outs) == 1
                    else pd.concat(outs, ignore_index=True)
                )
                outs = []
        flush_group()
        if outs:
            yield (
                outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)
            )

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
    import pandas as pd  # noqa: F811 (worker-side import)

    pattern.validate()
    if pattern.within_us is None:
        raise ValueError("timeout side output requires Pattern.within(...)")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = _rows_from_pdf(pdf, time_col)
        touts: list[tuple] = []
        _match_events(rows, pattern, None, timeouts=touts)
        key_val = rows[0][key_col] if rows else None
        return pd.DataFrame(
            {
                "user_id": [key_val] * len(touts),
                "first_event_id": [t[0] for t in touts],
                "last_event_id": [t[1] for t in touts],
                "first_ts_us": [t[2] for t in touts],
                "last_ts_us": [t[3] for t in touts],
            }
        )

    return _keyed_apply(events, key_col, fn, CEP_OUTPUT)


def _json_safe(d: dict) -> dict:
    """Row payload → JSON-storable dict (numpy scalars → python, drop
    non-primitive columns like the Timestamp ts — ts_us carries the time)."""
    out = {}
    for k, v in d.items():
        if hasattr(v, "item"):  # numpy scalar
            v = v.item()
        if isinstance(v, float) and v != v:
            v = None  # pandas NULL→NaN: restore SQL NULL semantics (and
            # strict JSON — NaN is not valid JSON state payload)
        if isinstance(v, (int, float, str, bool)) or v is None:
            out[k] = v
    return out


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

    def fold(key, pdf, raw, watermark_us):
        if not isinstance(raw, dict) or "branches" not in raw:
            raw = None  # unknown/legacy state → fresh
        partial = {"branches": raw["branches"]} if raw else None
        rows: list[dict] = list(raw.get("pending", [])) if raw else []
        for r in pdf.itertuples(index=False):
            d = r._asdict()
            if d.get("event_id", 0) is not None and int(d["event_id"]) < 0:
                continue  # sentinel flush rows carry no data
            if "ts_us" not in d:  # attached by stream_events normally
                d["ts_us"] = int(pd.Timestamp(d[time_col]).value // 1000)
            d["ts_us"] = int(d["ts_us"])
            rows.append(_json_safe(d))
        hold: list[dict] = []
        if buffer_to_watermark:
            wm_us = watermark_us()
            hold = [r for r in rows if r["ts_us"] > wm_us]
            rows = [r for r in rows if r["ts_us"] <= wm_us]
        rows.sort(key=lambda d: (d["ts_us"], d["event_id"]))
        matches, new_state = _match_events(rows, pattern, partial)
        new_state["pending"] = hold
        out = pd.DataFrame(
            {
                "user_id": [key[0]] * len(matches),
                "first_event_id": [m[0] for m in matches],
                "last_event_id": [m[1] for m in matches],
                "first_ts_us": [m[2] for m in matches],
                "last_ts_us": [m[3] for m in matches],
            }
        )
        return out, new_state, None

    return keyed_state_apply(events, [key_col], fold, CEP_OUTPUT, "append")
