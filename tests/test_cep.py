"""Hand-verified NFA semantics tests for the CEP operator (batch harness on
the match function itself + end-to-end through applyInPandasWithState)."""

from __future__ import annotations

import pytest

from flink_1_12_2_spark.streaming.cep import Pattern, _match_events


def _rows(seq):
    """seq: list of (event_id, ts_us, event_type)"""
    return [
        {"event_id": e, "ts_us": t, "event_type": y} for (e, t, y) in seq
    ]


def _pat(within=None):
    p = Pattern.begin("a", lambda r: r["event_type"] == "A").followed_by(
        "b", lambda r: r["event_type"] == "B"
    )
    if within:
        p = p.within(within)
    return p


def test_simple_match():
    m, partial = _match_events(_rows([(1, 10, "A"), (2, 20, "B")]), _pat(), None)
    assert m == [(1, 2, 10, 20)]
    assert partial["branches"] == []


def test_relaxed_contiguity():
    # noise between steps is skipped (followedBy, not next)
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 15, "X"), (3, 20, "B")]), _pat(), None
    )
    assert m == [(1, 3, 10, 20)]


def test_skip_past_last_row():
    # greedy non-overlap: A1 B1 A2 B2 → two matches, not A1-B2
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 20, "B"), (3, 30, "A"), (4, 40, "B")]), _pat(), None
    )
    assert m == [(1, 2, 10, 20), (3, 4, 30, 40)]


def test_within_expiry():
    # B arrives too late → prefix dropped; later full pair matches
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 1000, "B"), (3, 1100, "A"), (4, 1150, "B")]),
        _pat(within=100),
        None,
    )
    assert m == [(3, 4, 1100, 1150)]


def test_within_expiry_retry_as_start():
    # expired prefix: the expiring row itself can restart the pattern
    m, partial = _match_events(
        _rows([(1, 10, "A"), (2, 1000, "A"), (3, 1050, "B")]),
        _pat(within=100),
        None,
    )
    assert m == [(2, 3, 1000, 1050)]
    assert partial["branches"] == []


def test_partial_state_carries_across_batches():
    m1, partial = _match_events(_rows([(1, 10, "A")]), _pat(), None)
    assert m1 == [] and len(partial["branches"]) == 1
    m2, partial2 = _match_events(_rows([(2, 20, "B")]), _pat(), partial)
    assert m2 == [(1, 2, 10, 20)] and partial2["branches"] == []


def test_first_a_wins_no_restart_midpattern():
    # later A's DO start their own branches (multi-run NFA), but the
    # earliest-started completion wins under skip-past-last
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 20, "A"), (3, 30, "B")]), _pat(), None
    )
    assert m == [(1, 3, 10, 30)]


def test_end_to_end_streaming(spark, sf_dir):
    from flink_1_12_2_spark.streaming.cep import cep_pattern_matches
    from flink_1_12_2_spark.streaming.core import run_to_memory, stream_events

    ev = stream_events(spark, sf_dir)
    pat = (
        Pattern.begin("c", lambda r: r["event_type"] == "click")
        .followed_by("p", lambda r: r["event_type"] == "purchase")
        .within(6 * 3600 * 1_000_000)
    )
    out = run_to_memory(cep_pattern_matches(ev, pat), output_mode="append")
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.last_ts_us - r.first_ts_us <= 6 * 3600 * 1_000_000
        assert r.first_ts_us <= r.last_ts_us


def test_match_recognize_sql_equals_streaming_cep(spark, sf_dir):
    """The SQL front door (batch NFA) and the streaming CEP operator must
    produce identical matches on the same data."""
    from flink_1_12_2_spark.registry import QUERIES, load_all_query_modules

    load_all_query_modules()
    batch = QUERIES["match_recognize_sql"].fn(spark, sf_dir).collect()
    stream = QUERIES["stream_cep_click_purchase"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, batch)) == sorted(map(tuple, stream))
    assert len(batch) > 0


def test_match_recognize_parser_rejects_unknown():
    import pytest as _pytest

    from flink_1_12_2_spark.sql.match_recognize import parse_match_recognize

    with _pytest.raises(ValueError):
        parse_match_recognize("SELECT * FROM t")


def test_engine_session_sql_match_recognize(spark, sf_dir):
    from flink_1_12_2_spark.registry import load
    from flink_1_12_2_spark.session import EngineSession

    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    eng = EngineSession(spark)
    out = eng.sql(
        """SELECT * FROM events MATCH_RECOGNIZE (
             PARTITION BY user_id ORDER BY ts PATTERN (A B)
             WITHIN INTERVAL '6' HOUR
             DEFINE A AS event_type = 'click', B AS event_type = 'purchase')"""
    ).collect()
    assert len(out) > 0


def test_cep_multibatch_equals_batch_nfa(spark, sf_dir):
    """Partial-match state must survive micro-batch boundaries: the 4-batch
    streaming run equals the single-pass batch NFA."""
    from flink_1_12_2_spark.registry import QUERIES, load_all_query_modules

    load_all_query_modules()
    multi = QUERIES["stream_cep_multibatch"].fn(spark, sf_dir).collect()
    batch = QUERIES["match_recognize_sql"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, multi)) == sorted(map(tuple, batch))


# ---- quantifier surface (Pattern.java notNext:273 oneOrMore:350 ----------
# ---- greedy:365 times:379, plus optional/consecutive/notFollowedBy) ------


def _is(t):
    return lambda r: r["event_type"] == t


def test_times_exact():
    # A{2} B: two A's (gaps allowed) then B
    p = Pattern.begin("a", _is("A")).times(2).followed_by("b", _is("B"))
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 15, "X"), (3, 20, "A"), (4, 30, "B")]), p, None
    )
    assert m == [(1, 4, 10, 30)]
    # only one A → no match
    m2, _ = _match_events(_rows([(1, 10, "A"), (2, 30, "B")]), p, None)
    assert m2 == []


def test_times_range():
    # A{2,3} B reluctant: advances to B at the first opportunity once min met
    p = Pattern.begin("a", _is("A")).times(2, 3).followed_by("b", _is("B"))
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 20, "A"), (3, 30, "A"), (4, 40, "B")]), p, None
    )
    # three A's consumed is allowed up to max; B closes the match
    assert m == [(1, 4, 10, 40)]


def test_one_or_more_reluctant_vs_greedy():
    rows = _rows([(1, 10, "A"), (2, 20, "A"), (3, 30, "C"), (4, 40, "B")])
    # overlap: C matches both the loop ("A or C") and the next step ("C or B")
    loop = lambda r: r["event_type"] in ("A", "C")
    nxt = lambda r: r["event_type"] in ("C", "B")
    reluctant = Pattern.begin("a", loop).one_or_more().followed_by("b", nxt)
    m, _ = _match_events(rows, reluctant, None)
    assert m == [(1, 3, 10, 30)]  # C taken as the closing step asap
    greedy = (
        Pattern.begin("a", loop).one_or_more().greedy().followed_by("b", nxt)
    )
    mg, _ = _match_events(rows, greedy, None)
    assert mg == [(1, 4, 10, 40)]  # C absorbed into the loop; B closes


def test_optional_step():
    # A B? C: matches with and without the middle step
    p = (
        Pattern.begin("a", _is("A"))
        .followed_by("b", _is("B"))
        .optional()
        .followed_by("c", _is("C"))
    )
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 20, "B"), (3, 30, "C"),
               (4, 40, "A"), (5, 50, "C")]), p, None
    )
    assert m == [(1, 3, 10, 30), (4, 5, 40, 50)]


def test_not_next_strict():
    # A notNext(X) B: X immediately after A kills; other rows don't
    p = Pattern.begin("a", _is("A")).not_next("nx", _is("X")).followed_by(
        "b", _is("B")
    )
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 20, "X"), (3, 30, "B"),
               (4, 40, "A"), (5, 50, "Y"), (6, 60, "B")]), p, None
    )
    assert m == [(4, 6, 40, 60)]


def test_not_followed_by_relaxed():
    # A notFollowedBy(X) B: any X before B kills the partial
    p = Pattern.begin("a", _is("A")).not_followed_by("nf", _is("X")).followed_by(
        "b", _is("B")
    )
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 20, "Y"), (3, 25, "X"), (4, 30, "B"),
               (5, 40, "A"), (6, 50, "B")]), p, None
    )
    assert m == [(5, 6, 40, 50)]


def test_consecutive_loop_broken_by_gap():
    # A{2}.consecutive() B: a non-A between the A's kills the partial
    p = (
        Pattern.begin("a", _is("A"))
        .times(2)
        .consecutive()
        .followed_by("b", _is("B"))
    )
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 15, "X"), (3, 20, "A"), (4, 25, "A"),
               (5, 30, "B")]), p, None
    )
    # first A killed by X; A3+A4 consecutive, B closes
    assert m == [(3, 5, 20, 30)]


def test_killed_row_restarts_pattern():
    # the X that kills (notFollowedBy) could itself start a new match
    p = Pattern.begin("a", _is("A")).not_followed_by("nf", _is("A")).followed_by(
        "b", _is("B")
    )
    # A1 then A2: A2 kills A1's partial, then restarts as its own step 0
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 20, "A"), (3, 30, "B")]), p, None
    )
    assert m == [(2, 3, 20, 30)]


def test_trailing_loop_eager_emission():
    """Trailing unbounded loops are supported with EAGER emission (Flink's
    oneOrMore PROCEED-to-final edge): `a b+` on [a b1 b2] under no_skip
    emits {a,b1} then {a,b1,b2}. Greedy unbounded tails stay rejected
    (Flink MalformedPatternException parity), as do optional/negative
    tails."""
    import pytest as _pytest

    p = (
        Pattern.begin("a", _is("A"))
        .followed_by("b", _is("B"))
        .one_or_more()
        .no_skip()
        .validate()
    )
    m, _ = _match_events(_rows([(1, 0, "A"), (2, 10, "B"), (3, 20, "B")]), p, None)
    assert m == [(1, 2, 0, 10), (1, 3, 0, 20)]
    # past_last emits the earliest completion, then resets
    p2 = Pattern.begin("a", _is("A")).followed_by("b", _is("B")).one_or_more()
    m2, _ = _match_events(
        _rows([(1, 0, "A"), (2, 10, "B"), (3, 20, "B"), (4, 30, "A"), (5, 40, "B")]),
        p2.validate(), None,
    )
    assert m2 == [(1, 2, 0, 10), (4, 5, 30, 40)]
    # trailing-loop state carries across batches: the take branch stays
    # live after an eager emission
    p3 = (
        Pattern.begin("a", _is("A"))
        .followed_by("b", _is("B"))
        .times_or_more(2)
        .no_skip()
        .validate()
    )
    ma, st = _match_events(_rows([(1, 0, "A"), (2, 10, "B")]), p3, None)
    assert ma == []  # under min occurrences
    mb, _ = _match_events(_rows([(3, 20, "B"), (4, 30, "B")]), p3, st)
    assert mb == [(1, 3, 0, 20), (1, 4, 0, 30)]
    with _pytest.raises(ValueError):  # greedy unbounded tail
        Pattern.begin("a", _is("A")).followed_by(
            "b", _is("B")
        ).one_or_more().greedy().validate()
    with _pytest.raises(ValueError):  # optional tail
        Pattern.begin("a", _is("A")).followed_by("b", _is("B")).optional().validate()


def test_quantified_state_across_batches():
    # A{2} B with the two A's in different batches
    p = Pattern.begin("a", _is("A")).times(2).followed_by("b", _is("B"))
    m1, st = _match_events(_rows([(1, 10, "A")]), p, None)
    # a branch is (first_eid, first_ts, pat, step_idx, loop_count, ...)
    assert m1 == [] and st["branches"][0][4] == 1
    m2, st2 = _match_events(_rows([(2, 20, "A"), (3, 30, "B")]), p, st)
    assert m2 == [(1, 3, 10, 30)] and st2["branches"] == []


def test_max_branches_overflow_keeps_oldest_starts():
    """Past ``MAX_BRANCHES`` live starts (no ``within``) the NFA warns and
    keeps the oldest starts: with SKIP TO NEXT ROW each kept start pairs
    with the closing B, and the newest three starts are gone. The match
    list is the one the dict-branch interpreter produced on this input."""
    from flink_1_12_2_spark.streaming.cep import MAX_BRANCHES

    n = MAX_BRANCHES + 3
    rows = _rows([(i, 10 * i, "A") for i in range(1, n + 1)] + [(n + 1, 10 * (n + 1), "B")])
    p = _pat().skip_to_next_row()
    with pytest.warns(RuntimeWarning, match="MAX_BRANCHES"):
        m1, st = _match_events(rows[:-1], p, None)
    assert m1 == [] and [b[0] for b in st["branches"]] == list(range(1, MAX_BRANCHES + 1))
    m2, _ = _match_events(rows[-1:], p, st)
    assert m2 == [(i, n + 1, 10 * i, 10 * (n + 1)) for i in range(1, MAX_BRANCHES + 1)]


def test_cep_fold_rejects_state_it_cannot_read():
    """The streaming fold raises on a state it cannot read instead of
    starting the key afresh, which would drop its live partial matches:
    dict branches as older checkpoints hold them, and a non-dict state.
    Its own state, through JSON, resumes the match."""
    import json

    from flink_1_12_2_spark.streaming.cep import _cep_fold

    fold = _cep_fold(_pat(), "ts", False)
    dict_branches = {
        "branches": [
            {"first_eid": 1, "first_ts": 10, "step_idx": 1, "loop_count": 0,
             "pat": 0, "vf": {"a": [1, 10]}, "vl": {"a": [1, 10]}}
        ],
        "pending": [],
    }
    for bad in (dict_branches, [1, 10, 0, 1, 0]):
        with pytest.raises(ValueError, match="CEP keyed state must be"):
            fold((7,), _rows([(2, 20, "B")]), bad, lambda: 0)
    out, st, _ = fold((7,), _rows([(1, 10, "A")]), None, lambda: 0)
    assert out == []
    out, _, _ = fold((7,), _rows([(2, 20, "B")]), json.loads(json.dumps(st)), lambda: 0)
    assert out == [(7, 1, 2, 10, 20)]


def test_quantified_batch_equals_streaming(spark, sf_dir):
    """The quantified pattern must produce identical matches through the
    batch NFA (applyInPandas) and the streaming operator."""
    from flink_1_12_2_spark.registry import QUERIES, load_all_query_modules
    from flink_1_12_2_spark.streaming.cep import cep_match_batch
    from flink_1_12_2_spark.registry import load

    load_all_query_modules()
    stream = QUERIES["stream_cep_quantified"].fn(spark, sf_dir).collect()
    pat = (
        Pattern.begin("clicks", _is("click"))
        .one_or_more()
        .greedy()
        .not_followed_by("err", _is("error"))
        .followed_by("buy", _is("purchase"))
        .within(6 * 3600 * 1_000_000)
    )
    ev = load(spark, sf_dir, "events")
    batch = cep_match_batch(ev, pat).collect()
    assert sorted(map(tuple, batch)) == sorted(map(tuple, stream))
    assert len(batch) > 0


def test_match_recognize_quantified_pattern(spark, sf_dir):
    """PATTERN (A+ B) through the SQL front door equals the Python Pattern
    API with one_or_more().greedy()."""
    from flink_1_12_2_spark.registry import load
    from flink_1_12_2_spark.session import EngineSession
    from flink_1_12_2_spark.streaming.cep import cep_match_batch

    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    eng = EngineSession(spark)
    sql_out = eng.sql(
        """SELECT * FROM events MATCH_RECOGNIZE (
             PARTITION BY user_id ORDER BY ts PATTERN (A+ B)
             WITHIN INTERVAL '6' HOUR
             DEFINE A AS event_type = 'click', B AS event_type = 'purchase')"""
    ).collect()
    pat = (
        Pattern.begin("A", _is("click"))
        .one_or_more()
        .greedy()
        .followed_by("B", _is("purchase"))
        .within(6 * 3600 * 1_000_000)
    )
    api_out = cep_match_batch(
        load(spark, sf_dir, "events"), pat
    ).collect()
    assert sorted(map(tuple, sql_out)) == sorted(map(tuple, api_out))
    assert len(sql_out) > 0


def test_match_recognize_times_and_optional_parse():
    import pytest as _pytest

    from flink_1_12_2_spark.sql.match_recognize import parse_match_recognize

    def parse(within: str = ""):
        return parse_match_recognize(
            f"""SELECT * FROM t MATCH_RECOGNIZE (
                 PARTITION BY u ORDER BY ts PATTERN (A{{2,3}} B? C)
                 {within}
                 DEFINE A AS t = 'a', B AS t = 'b', C AS t = 'c')"""
        )[2]

    a, b, c = parse().steps
    assert (a.min_times, a.max_times, a.greedy) == (2, 3, True)
    assert (b.min_times, b.max_times) == (0, 1)
    assert (c.min_times, c.max_times) == (1, 1)
    # WITHIN takes the INTERVAL units the SQL rewriter takes, singular or
    # plural in any case; any other unit is a ValueError naming it
    for within, us in [
        ("WITHIN INTERVAL '6' HOUR", 6 * 3_600_000_000),
        ("WITHIN INTERVAL '6' HOURS", 6 * 3_600_000_000),
        ("WITHIN INTERVAL '90' seconds", 90_000_000),
        ("WITHIN INTERVAL '2' Day", 2 * 86_400_000_000),
    ]:
        assert parse(within).within_us == us, within
    with _pytest.raises(ValueError, match="'MILLISECOND'.*SECOND, MINUTE"):
        parse("WITHIN INTERVAL '5' MILLISECOND")


def test_match_recognize_trailing_quantifier_greedy_vs_reluctant():
    """Flink parity: a GREEDY trailing quantifier (B+) is rejected (the
    reference's MalformedPatternException); the RELUCTANT form (B+?) is
    accepted since r5 and compiles to the eager trailing loop."""
    import pytest as _pytest

    from flink_1_12_2_spark.sql.match_recognize import parse_match_recognize

    with _pytest.raises(ValueError):
        parse_match_recognize(
            """SELECT * FROM t MATCH_RECOGNIZE (
                 PARTITION BY u ORDER BY ts PATTERN (A B+)
                 DEFINE A AS t = 'a', B AS t = 'b')"""
        )
    _, _, pat = parse_match_recognize(
        """SELECT * FROM t MATCH_RECOGNIZE (
             PARTITION BY u ORDER BY ts PATTERN (A B+?)
             DEFINE A AS t = 'a', B AS t = 'b')"""
    )
    last = pat.steps[-1]
    assert last.is_loop and last.max_times is None and not last.greedy


def test_skip_to_next_row_overlapping():
    # A1 A2 B: past-last yields (A1,B); to-next also yields (A2,B)
    rows = _rows([(1, 10, "A"), (2, 20, "A"), (3, 30, "B")])
    m_default, _ = _match_events(rows, _pat(), None)
    assert m_default == [(1, 3, 10, 30)]
    m_next, _ = _match_events(rows, _pat().skip_to_next_row(), None)
    assert m_next == [(1, 3, 10, 30), (2, 3, 20, 30)]


def test_skip_to_next_replays_skipped_rows():
    # the second A is NOT consumed by the first match (relaxed contiguity
    # skips it at step b) — replay must still see it
    rows = _rows([(1, 10, "A"), (2, 15, "X"), (3, 20, "A"), (4, 30, "B"),
                  (5, 40, "A"), (6, 50, "B")])
    m, _ = _match_events(rows, _pat().skip_to_next_row(), None)
    assert m == [(1, 4, 10, 30), (3, 4, 20, 30), (5, 6, 40, 50)]


def test_skip_to_next_with_quantifier():
    # A+ B greedy: matches restart at every later A
    p = (
        Pattern.begin("a", lambda r: r["event_type"] == "A")
        .one_or_more()
        .greedy()
        .followed_by("b", lambda r: r["event_type"] == "B")
        .skip_to_next_row()
    )
    rows = _rows([(1, 10, "A"), (2, 20, "A"), (3, 30, "B")])
    m, _ = _match_events(rows, p, None)
    assert m == [(1, 3, 10, 30), (2, 3, 20, 30)]


def test_skip_to_next_state_roundtrip():
    # split across "micro-batches": partial with a skipped row carries seen
    p = _pat().skip_to_next_row()
    m1, st = _match_events(_rows([(1, 10, "A"), (2, 15, "A")]), p, None)
    assert m1 == []
    m2, _ = _match_events(_rows([(3, 20, "B")]), p, st)
    assert m2 == [(1, 3, 10, 20), (2, 3, 15, 20)]


def test_skip_to_last_var():
    # A B+ C (greedy), skip to LAST B: resume at the final B of the match
    p = (
        Pattern.begin("a", lambda r: r["event_type"] == "A")
        .followed_by("b", lambda r: r["event_type"] == "B")
        .one_or_more()
        .greedy()
        .followed_by("c", lambda r: r["event_type"] == "C")
        .skip_to_last("b")
    )
    rows = _rows([(1, 10, "A"), (2, 20, "B"), (3, 30, "B"), (4, 40, "C"),
                  (5, 50, "A"), (6, 60, "B"), (7, 70, "C")])
    m, _ = _match_events(rows, p, None)
    # match1 = A1 B2 B3 C4; resume at B3 (rows B3 C4 A5 B6 C7) → match2 =
    # A5 B6 C7. A skip-past-last run would find the same two matches, but
    # the replay genuinely starts at B3 (verified by the guard test below).
    assert m == [(1, 4, 10, 40), (5, 7, 50, 70)]


def test_skip_to_first_var_guard():
    # SKIP TO FIRST A where A starts the match must raise (Flink parity)
    import pytest

    p = (
        Pattern.begin("a", lambda r: r["event_type"] == "A")
        .followed_by("b", lambda r: r["event_type"] == "B")
        .skip_to_first("a")
    )
    with pytest.raises(ValueError, match="match's own start"):
        _match_events(_rows([(1, 10, "A"), (2, 20, "B")]), p, None)


def test_skip_to_first_var_mid_pattern():
    # A B C skipping to FIRST B: second match starts scanning at B
    p = (
        Pattern.begin("a", lambda r: r["event_type"] == "A")
        .followed_by("b", lambda r: r["event_type"] == "B")
        .followed_by("c", lambda r: r["event_type"] == "C")
        .skip_to_first("b")
    )
    rows = _rows([(1, 10, "A"), (2, 20, "B"), (3, 25, "A"), (4, 30, "C"),
                  (5, 40, "B"), (6, 50, "C")])
    m, _ = _match_events(rows, p, None)
    # match1 = A1 B2 C4; resume at B2 → rows B2 A3 C4 B5 C6: next match
    # A3 B5 C6
    assert m == [(1, 4, 10, 30), (3, 6, 25, 50)]


# ---- multi-run NFA: branch exploration on overlapping predicates ---------
# (Flink NFA.java:86 simultaneous ComputationStates; the r1-r3 engine ran a
# single determinized partial per key and provably missed matches)


def _single_run_reference(evs, lo, hi, W):
    """The r1-r3 single-run determinization for (value>lo)→(value>hi) within
    W: ONE pending start per key; on `within` expiry the pending resets and
    the expiring row retries as a fresh start. Kept as the divergence foil."""
    out, pending = [], None
    for (e, t, v) in evs:
        for _ in range(2):
            if pending is not None and t - pending[1] > W:
                pending = None
            if pending is None:
                if v > lo:
                    pending = (e, t)
                break
            if v > hi:
                out.append((pending[0], e))
                pending = None
                break
            break
    return out


def _overlap_pat(W=100):
    return (
        Pattern.begin("mid", lambda r: r["value"] > 50)
        .followed_by("high", lambda r: r["value"] > 150)
        .within(W)
    )


def test_overlap_branch_survives_expired_start():
    """The canonical miss: start m1 expires before the closing row, but a
    later start m2 is still in-window. The branch NFA keeps m2 alive; the
    single-run NFA, committed to m1, abandons both."""
    evs = [(1, 0, 60.0), (2, 50, 70.0), (3, 120, 200.0)]
    rows = [{"event_id": e, "ts_us": t, "value": v} for e, t, v in evs]
    m, _ = _match_events(rows, _overlap_pat(W=100), None)
    assert m == [(2, 3, 50, 120)]  # m2 (ts 50) pairs with the high at 120
    # the single-run reference provably fails here
    assert _single_run_reference(evs, 50, 150, 100) == []


def test_overlap_engine_matches_branch_semantics_exhaustive():
    """Brute-force cross-check on all value sequences of length 5 drawn from
    {low, mid, high}: engine matches == independent branch-semantics
    reference (earliest-completing, earliest-started, skip past last row),
    and the count of sequences where the single-run foil disagrees is > 0
    (the divergence is real, not an artifact of one fixture)."""
    import itertools

    def branch_reference(evs, lo, hi, W):
        out, mids = [], []
        for (e, t, v) in evs:
            if v > hi and mids:
                valid = [(tt, ee) for (ee, tt) in mids if t < tt + W]
                if valid:
                    c = min(valid)
                    out.append((c[1], e))
                    mids = []
                    continue
            if v > lo:
                mids.append((e, t))
        return out

    diverged = 0
    for vals in itertools.product((10.0, 60.0, 200.0), repeat=5):
        evs = [(i + 1, i * 40, v) for i, v in enumerate(vals)]
        rows = [{"event_id": e, "ts_us": t, "value": v} for e, t, v in evs]
        got, _ = _match_events(rows, _overlap_pat(W=100), None)
        want = [
            (f, l, (f - 1) * 40, (l - 1) * 40)
            for f, l in branch_reference(evs, 50, 150, 100)
        ]
        assert got == want, f"vals={vals}: engine={got} reference={want}"
        if branch_reference(evs, 50, 150, 100) != _single_run_reference(
            evs, 50, 150, 100
        ):
            diverged += 1
    assert diverged > 0


def test_alternation_forks_per_matching_alt():
    """PATTERN (start (A | B) end): a row matching alternative A or B forks
    with the variable recorded — SKIP TO LAST A resumes at A's row."""
    p = (
        Pattern.begin("s", _is("S"))
        .followed_by_one_of("ab", [("A", _is("A")), ("B", _is("B"))])
        .followed_by("e", _is("E"))
    )
    m, _ = _match_events(
        _rows([(1, 10, "S"), (2, 20, "B"), (3, 30, "E"),
               (4, 40, "S"), (5, 50, "A"), (6, 60, "E")]), p, None
    )
    assert m == [(1, 3, 10, 30), (4, 6, 40, 60)]


def test_alternation_skip_to_var():
    # SKIP TO LAST B: resume scanning at the B row of the emitted match
    p = (
        Pattern.begin("s", _is("S"))
        .followed_by_one_of("ab", [("A", _is("A")), ("B", _is("B"))])
        .followed_by("e", _is("E"))
        .skip_to_last("B")
    )
    rows = _rows([(1, 10, "S"), (2, 20, "S"), (3, 30, "B"), (4, 40, "E"),
                  (5, 50, "A"), (6, 60, "E")])
    m, _ = _match_events(rows, p, None)
    # match1 = S1..E4 via B3; resume at B3 → S2's branch (started ts 20 <
    # B3's ts 30) is discarded; no later S → no second match
    assert m == [(1, 4, 10, 40)]


def test_alternation_both_match_same_row():
    # overlapping alternatives: the row matches both A and B → forks both;
    # under past-last the outputs coincide (same first/last) → one match
    p = (
        Pattern.begin("s", _is("S"))
        .followed_by_one_of(
            "ab", [("A", lambda r: True), ("B", lambda r: True)]
        )
        .followed_by("e", _is("E"))
    )
    m, _ = _match_events(
        _rows([(1, 10, "S"), (2, 20, "X"), (3, 30, "E")]), p, None
    )
    assert m == [(1, 3, 10, 30)]


def test_permute_matches_any_order():
    """PERMUTE(A, B) C: both orders match; the branch family id rides the
    state across batch splits."""
    p = Pattern.permute(
        [("A", _is("A")), ("B", _is("B"))], ("C", _is("C"))
    )
    m, _ = _match_events(
        _rows([(1, 10, "B"), (2, 20, "A"), (3, 30, "C"),
               (4, 40, "A"), (5, 50, "B"), (6, 60, "C")]), p, None
    )
    assert m == [(1, 3, 10, 30), (4, 6, 40, 60)]
    # missing one variable → no match
    m2, _ = _match_events(_rows([(1, 10, "A"), (2, 20, "C")]), p, None)
    assert m2 == []


def test_permute_state_roundtrip_across_batches():
    import json

    p = Pattern.permute(
        [("A", _is("A")), ("B", _is("B"))], ("C", _is("C"))
    )
    m1, st = _match_events(_rows([(1, 10, "B"), (2, 20, "A")]), p, None)
    assert m1 == []
    st = json.loads(json.dumps(st))  # the streaming operator's serialization
    m2, _ = _match_events(_rows([(3, 30, "C")]), p, st)
    assert m2 == [(1, 3, 10, 30)]


def test_buffered_reorder_is_load_bearing(spark, sf_dir):
    """On the even/odd-interleaved (maximally disordered) source, the
    watermark-buffered operator equals the batch NFA on globally sorted
    rows, while the UNBUFFERED operator — which consumes each batch
    immediately — provably diverges (arrival order corrupts match order).
    This pins Flink's AbstractKeyedCEPPatternOperator watermark-buffer
    semantics as the thing the buffer actually provides."""
    import pyspark.sql.functions as F

    from flink_1_12_2_spark.registry import load
    from flink_1_12_2_spark.streaming.cep import (
        Pattern,
        cep_match_batch,
        cep_pattern_matches,
    )
    from flink_1_12_2_spark.streaming.core import (
        run_to_memory,
        stream_events_interleaved,
    )

    def pat():
        return (
            Pattern.begin("c", _is("click"))
            .followed_by("p", _is("purchase"))
            .within(6 * 3600 * 1_000_000)
        )

    def run(buffered):
        ev = stream_events_interleaved(
            spark, sf_dir, n_files=2, watermark="35 days"
        ).withColumn("ts_us", F.unix_micros(F.col("ts")))
        out = run_to_memory(
            cep_pattern_matches(ev, pat(), buffer_to_watermark=buffered),
            output_mode="append",
        )
        return sorted(map(tuple, out.collect()))

    batch_ref = sorted(
        map(tuple, cep_match_batch(load(spark, sf_dir, "events"), pat()).collect())
    )
    assert run(True) == batch_ref
    assert run(False) != batch_ref


_6H_US = 6 * 3600 * 1_000_000


def _stream_vs_batch(spark, sf_dir, pat, buffered=False):
    """(streaming matches over the 4-batch source, batch cep_match_batch
    matches), each as sorted (user_id, first, last, first_ts, last_ts)."""
    from flink_1_12_2_spark.registry import load
    from flink_1_12_2_spark.streaming.cep import (
        cep_match_batch,
        cep_pattern_matches,
    )
    from flink_1_12_2_spark.streaming.core import (
        run_to_memory,
        stream_events_multibatch,
    )

    ev = stream_events_multibatch(
        spark, sf_dir, n_files=4, flush_sentinels=buffered
    )
    out = run_to_memory(
        cep_pattern_matches(ev, pat, buffer_to_watermark=buffered),
        output_mode="append",
    )
    cols = ["user_id", "first_event_id", "last_event_id", "first_ts_us",
            "last_ts_us"]
    stream = sorted(map(tuple, out.select(*cols).collect()))
    batch = cep_match_batch(load(spark, sf_dir, "events"), pat)
    return stream, sorted(map(tuple, batch.select(*cols).collect()))


def test_predicate_sees_one_row_model_on_every_path(spark, sf_dir):
    """A predicate reading the ``ts`` Timestamp column sees the same row
    in batch, in streaming, and in streaming with ``buffer_to_watermark``,
    where rows wait in keyed state until the watermark passes them."""
    pat = (
        Pattern.begin(
            "c", lambda r: r["event_type"] == "click" and r["ts"].hour < 12
        )
        .followed_by("p", _is("purchase"))
        .within(_6H_US)
    )
    stream, batch = _stream_vs_batch(spark, sf_dir, pat)
    buffered, _ = _stream_vs_batch(spark, sf_dir, pat, buffered=True)
    assert len(batch) > 0
    assert stream == batch
    assert buffered == batch


def test_iterative_condition_streaming_equals_batch(spark, sf_dir):
    """A two-argument predicate keeps row payloads on its branches, and
    they carry its matches across micro-batches."""
    pat = (
        Pattern.begin("a", _is("click"))
        .followed_by("b", lambda r, ctx: ctx.last("a")["value"] < r["value"])
        .within(_6H_US)
    )
    stream, batch = _stream_vs_batch(spark, sf_dir, pat)
    assert len(batch) > 0
    assert stream == batch


def test_with_events_streaming_equals_batch(spark, sf_dir):
    """``with_events()`` keeps every matched row on the branch; the
    streaming run over four micro-batches equals the batch run."""
    pat = (
        Pattern.begin("a", _is("view"))
        .times(2)
        .followed_by(
            "c",
            lambda r, ctx: r["value"] > min(e["value"] for e in ctx.events("a")),
        )
        .within(12 * _6H_US)
        .with_events()
    )
    stream, batch = _stream_vs_batch(spark, sf_dir, pat)
    assert len(batch) > 0
    assert stream == batch


def test_match_recognize_stream_front_door(spark, sf_dir):
    """The streaming SQL front door equals the batch front door on the same
    MATCH_RECOGNIZE statement (stream⇄table duality for CEP)."""
    from flink_1_12_2_spark.registry import load
    from flink_1_12_2_spark.sql.match_recognize import (
        match_recognize,
        match_recognize_stream,
    )
    from flink_1_12_2_spark.streaming.core import run_to_memory, stream_events

    sql = """SELECT * FROM events MATCH_RECOGNIZE (
         PARTITION BY user_id ORDER BY ts PATTERN (A B)
         WITHIN INTERVAL '6' HOUR
         DEFINE A AS event_type = 'click', B AS event_type = 'purchase')"""
    ev = stream_events(spark, sf_dir)
    stream_out = run_to_memory(
        match_recognize_stream(ev, sql), output_mode="append"
    ).collect()
    batch_out = match_recognize(load(spark, sf_dir, "events"), sql).collect()
    assert sorted(map(tuple, stream_out)) == sorted(map(tuple, batch_out))
    assert len(stream_out) > 0


_GATED_STREAM_SQL = """SELECT * FROM events MATCH_RECOGNIZE (
     PARTITION BY user_id ORDER BY ts PATTERN (A B* (C | D))
     WITHIN INTERVAL '6' HOUR
     DEFINE A AS event_type = 'click',
            B AS event_type = 'view' AND value > 10,
            C AS event_type = 'purchase',
            D AS event_type = 'signup' AND value IS NOT NULL)"""


def test_match_recognize_stream_multibatch_is_gated(spark, sf_dir):
    """Streaming MATCH_RECOGNIZE carries its DEFINE bounds on the Pattern,
    so the shared CEP row gate filters the stream before the keyed NFA;
    across micro-batches the matches equal the batch front door and the
    pinned pre-gate output (count and digest of the sorted match rows)."""
    import hashlib

    from flink_1_12_2_spark.registry import load
    from flink_1_12_2_spark.sql.match_recognize import (
        match_recognize,
        match_recognize_stream,
    )
    from flink_1_12_2_spark.streaming.core import (
        run_to_memory,
        stream_events_multibatch,
    )

    ev = stream_events_multibatch(spark, sf_dir, n_files=4)
    matches = match_recognize_stream(ev, _GATED_STREAM_SQL)
    plan = matches._jdf.queryExecution().analyzed().toString()
    gate = [ln for ln in plan.splitlines() if "Filter" in ln]
    assert any(
        "click" in ln and "purchase" in ln and "view" in ln and "signup" in ln
        for ln in gate
    ), plan
    stream_out = sorted(
        map(tuple, run_to_memory(matches, output_mode="append").collect())
    )
    batch_out = sorted(
        map(
            tuple,
            match_recognize(
                load(spark, sf_dir, "events"), _GATED_STREAM_SQL
            ).collect(),
        )
    )
    assert stream_out == batch_out
    # pinned from the streaming output before the front end's bounds
    # reached the Pattern (the ungated run)
    digest = hashlib.md5(repr(stream_out).encode()).hexdigest()
    assert (len(stream_out), digest) == (46, "34e7784c711992782e516822bc4e0065")


# ---- Flink AfterMatchSkipITCase scenario parity ---------------------------
# (flink-libraries/flink-cep/src/test/java/.../nfa/AfterMatchSkipITCase.java
# — the scenarios re-expressed on this NFA's surface; expected matches are
# Flink's, projected to (first, last) rows)


def _aaaa(n=6):
    return _rows([(i, i * 10, "a") for i in range(1, n + 1)])


def test_flink_itcase_noskip_times3():
    # testNoSkip: a{3} noSkip over a1..a6 → every 3-window
    p = Pattern.begin("start", _is("a")).times(3).no_skip()
    m, _ = _match_events(_aaaa(), p, None)
    assert [(f, l) for f, l, *_ in m] == [(1, 3), (2, 4), (3, 5), (4, 6)]


def test_flink_itcase_skip_past_last_times3():
    # testSkipPastLast: a{3} skipPastLastEvent → disjoint triples
    p = Pattern.begin("start", _is("a")).times(3)
    m, _ = _match_events(_aaaa(), p, None)
    assert [(f, l) for f, l, *_ in m] == [(1, 3), (4, 6)]


def _ab_rows(n):
    # events named "ab": match both the 'contains a' and 'contains b' preds
    return _rows([(i, i * 10, "ab") for i in range(1, n + 1)])


def _contains(ch):
    return lambda r: ch in r["event_type"]


def test_flink_itcase_skip_to_first_times_next_times():
    # testSkipToFirst: start{2} NEXT end{2}, skipToFirst("end") over ab1..6
    # → (ab1..ab4), (ab3..ab6)
    p = (
        Pattern.begin("start", _contains("a"))
        .times(2)
        .next("end", _contains("b"))
        .times(2)
        .skip_to_first("end")
    )
    m, _ = _match_events(_ab_rows(6), p, None)
    assert [(f, l) for f, l, *_ in m] == [(1, 4), (3, 6)]


def test_flink_itcase_skip_to_last_times_next_times():
    # testSkipToLast: same pattern, skipToLast("end") over ab1..7
    # → (ab1..ab4), (ab4..ab7)
    p = (
        Pattern.begin("start", _contains("a"))
        .times(2)
        .next("end", _contains("b"))
        .times(2)
        .skip_to_last("end")
    )
    m, _ = _match_events(_ab_rows(7), p, None)
    assert [(f, l) for f, l, *_ in m] == [(1, 4), (4, 7)]


def test_next_strict_contiguity_kills_on_gap():
    # Pattern.next: a gap row between A and B kills the partial
    p = Pattern.begin("a", _is("A")).next("b", _is("B"))
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 20, "X"), (3, 30, "B"),
               (4, 40, "A"), (5, 50, "B")]), p, None
    )
    assert m == [(4, 5, 40, 50)]


def test_trailing_times_range_eager():
    # exact times(2) tail: completion decidable → allowed
    Pattern.begin("a", _is("A")).followed_by("b", _is("B")).times(2).validate()
    # range tail b{2,3}: eager emission at 2 and 3 takes
    p = (
        Pattern.begin("a", _is("A"))
        .followed_by("b", _is("B"))
        .times(2, 3)
        .no_skip()
        .validate()
    )
    m, _ = _match_events(
        _rows([(1, 0, "A"), (2, 10, "B"), (3, 20, "B"), (4, 30, "B"), (5, 40, "B")]),
        p, None,
    )
    # takes at b3 (2 occ), b4 (3 occ = max, then the loop closes); b5 opens
    # nothing new for start a1 (loop at max), later starts lack an A
    assert m == [(1, 3, 0, 20), (1, 4, 0, 30)]


def test_followed_by_any_pairs_with_every_match():
    """followedByAny (Pattern.java:308): A pairs with EVERY later B under
    noSkip (the take/ignore fork); plain followedBy takes only the first."""
    rows = _rows([(1, 10, "A"), (2, 20, "B"), (3, 30, "B"), (4, 40, "B")])
    p_any = (
        Pattern.begin("a", _is("A"))
        .followed_by_any("b", _is("B"))
        .no_skip()
    )
    m, _ = _match_events(rows, p_any, None)
    assert m == [(1, 2, 10, 20), (1, 3, 10, 30), (1, 4, 10, 40)]
    p_plain = Pattern.begin("a", _is("A")).followed_by("b", _is("B")).no_skip()
    m2, _ = _match_events(rows, p_plain, None)
    assert m2 == [(1, 2, 10, 20)]


# ---- until() stopping condition (Pattern.java:237, UntilConditionITCase) --


def _vrows(seq):
    """seq: (event_id, ts_us, event_type, value)"""
    return [
        {"event_id": e, "ts_us": t, "event_type": y, "value": v}
        for (e, t, y, v) in seq
    ]


def test_until_stops_greedy_loop_for_successor():
    """UntilConditionITCase shape: c → a+ greedy until(v=5) → end(v=5).
    Without until, the greedy loop absorbs the breaking row ('a', v=5) and
    the pattern never completes; with until, the loop refuses it and the
    successor consumes it."""
    rows = _vrows([(40, 1, "c", 1.0), (41, 3, "a", 2.0), (42, 4, "a", 3.0),
                   (44, 6, "a", 5.0), (45, 7, "a", 6.0)])

    def pat(with_until):
        p = Pattern.begin("start", _is("c")).followed_by(
            "mid", _is("a")
        ).one_or_more().greedy()
        if with_until:
            p = p.until(lambda r: r["value"] == 5.0)
        return p.followed_by("end", lambda r: r["value"] == 5.0)

    m, _ = _match_events(list(rows), pat(True), None)
    assert [(f, l) for f, l, *_ in m] == [(40, 44)]
    m2, _ = _match_events(list(rows), pat(False), None)
    assert m2 == []  # breaking row swallowed by the greedy loop


def test_until_under_min_kills_branch():
    # a{2,} until fires after one occurrence → branch dies (under min)
    p = (
        Pattern.begin("a", _is("A"))
        .times(2, 99)
        .until(lambda r: r["value"] == 5.0)
        .followed_by("b", _is("B"))
    )
    rows = _vrows([(1, 10, "A", 1.0), (2, 20, "A", 5.0), (3, 30, "B", 0.0)])
    m, _ = _match_events(rows, p, None)
    assert m == []


def test_reluctant_loop_epsilon_proceed():
    """Flink's PROCEED fork: a non-greedy loop with min met evolving on an
    extending row forks BOTH the take (count+1) and the loop-closed
    (epsilon-proceed) branch — UntilConditionITCase's
    (start, [a1], breaking) + (start, [a1, a2], breaking) expected set."""
    p = (
        Pattern.begin("a", _is("A"))
        .one_or_more()
        .followed_by("b", _is("B"))
    )
    rows = _rows([(1, 10, "A"), (2, 20, "A")])
    # branches as (step_idx, loop_count): b[3], b[4] of the branch tuple
    m1, st = _match_events(rows[:1], p, None)
    assert m1 == [] and [(b[3], b[4]) for b in st["branches"]] == [(0, 1)]
    m2, st2 = _match_events(rows[1:], p, st)
    assert m2 == []
    states = sorted((b[3], b[4]) for b in st2["branches"] if b[0] == 1)
    # take (still in loop, count 2) AND epsilon-proceed (loop closed)
    assert states == [(0, 2), (1, 0)]
    # iterative to_last emission on the same-start tie: the longer (later
    # vl) assignment emits first and its target (A2) prunes the shorter
    # A1-family; the A2-start completion is at the target so it emits too
    # (same (first,last) projections dedup), then A4+B5 match
    p2 = (
        Pattern.begin("a", _is("A"))
        .one_or_more()
        .followed_by("b", _is("B"))
        .skip_to_last("a")
    )
    rows2 = _rows([(1, 10, "A"), (2, 20, "A"), (3, 30, "B"),
                   (4, 40, "A"), (5, 50, "B")])
    m, _ = _match_events(rows2, p2, None)
    assert [(f, l) for f, l, *_ in m] == [(1, 3), (2, 3), (4, 5)]


# ---- iterative conditions (IterativeCondition.java:57) --------------------


def test_iterative_condition_references_matched_row():
    """A two-argument predicate reads the match context: B fires only when
    its value exceeds the A row's own value."""
    p = Pattern.begin("A", _is("A")).followed_by(
        "B", lambda r, ctx: r["value"] > ctx.last("A")["value"]
    )
    rows = _vrows([(1, 10, "A", 50.0), (2, 20, "X", 40.0),
                   (3, 30, "X", 60.0),
                   (4, 40, "A", 10.0), (5, 50, "X", 20.0)])
    m, _ = _match_events(rows, p, None)
    # first A(50) skips 40, completes at 60; second A(10) completes at 20
    assert [(f, l) for f, l, *_ in m] == [(1, 3), (4, 5)]


def test_iterative_condition_state_roundtrip():
    import json

    p = Pattern.begin("A", _is("A")).followed_by(
        "B", lambda r, ctx: r["value"] > ctx.last("A")["value"]
    )
    rows = _vrows([(1, 10, "A", 50.0), (2, 20, "X", 60.0)])
    m1, st = _match_events(rows[:1], p, None)
    st = json.loads(json.dumps(st))  # payloads survive serialization
    m2, _ = _match_events(rows[1:], p, st)
    assert m1 == [] and m2 == [(1, 2, 10, 20)]


def test_parse_match_recognize_needs_no_spark():
    """The parser builds predicates and SQL bounds without a JVM: run in a
    fresh interpreter that never starts a SparkContext, so the parse-only
    tests above do not depend on an earlier test having started Spark."""
    import os
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    code = textwrap.dedent(
        '''
        from pyspark import SparkContext

        from flink_1_12_2_spark.sql.match_recognize import parse_match_recognize

        _, _, pat = parse_match_recognize(
            """SELECT * FROM t MATCH_RECOGNIZE (
                 PARTITION BY u ORDER BY ts PATTERN (A (B | C))
                 DEFINE A AS t = 'a', B AS v > 1e3, C AS t = 'it''s')"""
        )
        assert SparkContext._active_spark_context is None
        print(pat.steps[0].bound_sql)
        print(pat.steps[1].bound_sql)
        '''
    )
    repo = str(Path(__file__).resolve().parent.parent)
    env = dict(os.environ, PYTHONPATH=repo)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.splitlines() == [
        "`t` = 'a'",
        "(`t` = 'it\\'s') OR (`v` > CAST('1000.0' AS DOUBLE))",
    ]


@pytest.mark.parametrize(
    "define, accepted, rejected",
    [
        # SQL-standard doubled quote inside a string literal
        ("tag = 'it''s'", {"tag": "it's"}, {"tag": "it''s"}),
        # a backslash is an ordinary character of a DEFINE literal (Spark's
        # own string syntax would read 'a\b' as "a" + backspace)
        ("tag = 'a\\b'", {"tag": "a\\b"}, {"tag": "a\x08"}),
        # exponent notation: a float literal
        ("value > 1e3", {"value": 1000.5}, {"value": 1000.0}),
    ],
)
def test_match_recognize_define_literals(spark, define, accepted, rejected):
    """A DEFINE literal is parsed once into the value the predicate
    compares, and the SQL bound renders that same value: the gated front
    door returns exactly the ungated NFA's matches on rows holding it."""
    import copy

    from flink_1_12_2_spark.sql.match_recognize import (
        match_recognize,
        parse_match_recognize,
    )
    from flink_1_12_2_spark.streaming.cep import cep_match_batch

    sql = f"""SELECT * FROM t MATCH_RECOGNIZE (
         PARTITION BY user_id ORDER BY ts_us PATTERN (A B)
         DEFINE A AS {define}, B AS tag = 'end')"""
    _, _, pat = parse_match_recognize(sql)
    base = {"tag": "x", "value": 0.0}
    assert pat.steps[0].pred({**base, **accepted}, None)
    assert not pat.steps[0].pred({**base, **rejected}, None)
    assert pat.steps[0].bound_sql is not None

    rows = []
    for user, payload in ((1, accepted), (2, rejected), (3, accepted)):
        a = {**base, **payload}
        rows.append((user, user * 10 + 1, user * 100 + 1, a["tag"], a["value"]))
        rows.append((user, user * 10 + 2, user * 100 + 2, "end", 0.0))
    df = spark.createDataFrame(
        rows,
        "user_id long, event_id long, ts_us long, tag string, value double",
    )
    ungated_pat = copy.deepcopy(pat)
    for s in ungated_pat.steps:
        s.bound_sql = None
    gated = sorted(map(tuple, match_recognize(df, sql).collect()))
    ungated = sorted(map(tuple, cep_match_batch(df, ungated_pat, time_col="ts_us").collect()))
    assert gated == ungated
    assert [m[0] for m in gated] == [1, 3]


def test_match_recognize_define_iterative_and_numeric():
    from flink_1_12_2_spark.sql.match_recognize import parse_match_recognize

    _, _, pat = parse_match_recognize(
        """SELECT * FROM t MATCH_RECOGNIZE (
             PARTITION BY u ORDER BY ts PATTERN (A B C)
             DEFINE A AS event_type = 'click', B AS value > 100,
                    C AS C.value > A.value)"""
    )
    row_a = {"event_type": "click", "value": 5.0}
    # predicates are uniformly (row, ctx); literal comparisons ignore ctx
    assert pat.steps[0].pred(row_a, None)
    assert pat.steps[1].pred({"value": 101.0}, None)
    assert not pat.steps[1].pred({"value": 99.0}, None)

    class Ctx:
        def last(self, v):
            return {"value": 5.0} if v == "A" else None

    assert pat.steps[2].pred({"value": 6.0}, Ctx())
    assert not pat.steps[2].pred({"value": 4.0}, Ctx())


def test_times_or_more():
    # A{2,} greedy B (TimesOrMoreITCase): at least two A's, then B
    p = (
        Pattern.begin("a", _is("A"))
        .times_or_more(2)
        .greedy()
        .followed_by("b", _is("B"))
    )
    m, _ = _match_events(
        _rows([(1, 10, "A"), (2, 20, "B"), (3, 30, "A"), (4, 40, "A"),
               (5, 50, "A"), (6, 60, "B")]), p, None
    )
    # relaxed (non-consecutive) loop: branch A1 skips the interleaved B2,
    # absorbs A3..A5 (greedy), and closes at B6 — earliest start wins
    assert m == [(1, 6, 10, 60)]
    # consecutive variant: B2 breaks the A1 run (under min -> killed);
    # the A3..A5 run closes at B6
    pc = (
        Pattern.begin("a", _is("A"))
        .times_or_more(2)
        .consecutive()
        .greedy()
        .followed_by("b", _is("B"))
    )
    mc, _ = _match_events(
        _rows([(1, 10, "A"), (2, 20, "B"), (3, 30, "A"), (4, 40, "A"),
               (5, 50, "A"), (6, 60, "B")]), pc, None
    )
    assert mc == [(3, 6, 30, 60)]


def test_group_pattern_flattening():
    """GroupPattern (Pattern.begin(Pattern).times — GroupPattern.java):
    (A B){1,2} and optional groups compile to sequence families; variable
    rows accumulate across repetitions."""
    import pytest as _pytest

    ab = Pattern.begin("a", _is("A")).followed_by("b", _is("B"))
    rows = _rows([(1, 10, "A"), (2, 20, "B"), (3, 30, "A"), (4, 40, "B")])
    p = Pattern.group_seq([(ab, 2, 2)]).no_skip().validate()
    m, _ = _match_events(rows, p, None)
    assert m == [(1, 4, 10, 40)]
    p2 = Pattern.group_seq([(ab, 1, 2)]).no_skip().validate()
    m2, _ = _match_events(rows, p2, None)
    assert {(1, 2, 10, 20), (1, 4, 10, 40), (3, 4, 30, 40)} <= set(m2)
    c = Pattern.begin("c", _is("C"))
    p3 = Pattern.group_seq([(ab, 0, 1), (c, 1, 1)]).no_skip().validate()
    m3, _ = _match_events(_rows([(1, 10, "A"), (2, 20, "B"), (3, 30, "C")]), p3, None)
    assert {(1, 3, 10, 30), (3, 3, 30, 30)} <= set(m3)
    with _pytest.raises(ValueError):
        Pattern.group_seq([(ab, 1, None)])
    pv = Pattern.group_seq([(ab, 2, 2)]).with_var_ids().no_skip().validate()
    mv, _ = _match_events(rows, pv, None)
    assert mv[0][4] == '{"a": [1, 3], "b": [2, 4]}'


def test_timeout_side_output_partials():
    """TimedOutPartialMatchHandler parity: within-expired partials and
    end-of-input pending partials both surface; completed matches don't."""
    p = (
        Pattern.begin("a", _is("A"))
        .followed_by("b", _is("B"))
        .within(100)
        .no_skip()
        .validate()
    )
    rows = _rows([
        (1, 0, "A"),     # expires at ts 120 (no B inside [0,100))
        (2, 50, "A"),    # completes with B at 120
        (3, 120, "B"),   # outside A1's strict window, inside A2's
        (4, 160, "A"),   # pending at end-of-input -> flush timeout
    ])
    touts = []
    m, _ = _match_events(rows, p, None, timeouts=touts)
    assert m == [(2, 3, 50, 120)]
    assert touts == [(1, 1, 0, 0), (4, 4, 160, 160)]


def test_with_events_state_survives_serialization():
    """ve/vids branch state (r5) must round-trip the JSON state channel —
    a DEFINE aggregate over A's rows keeps working when the pattern spans
    micro-batches."""
    import json as _json

    def b_gt_avg_a(row, ctx):
        if row["event_type"] != "B":
            return False
        ev = ctx.events("A")
        return bool(ev) and row["v"] > sum(e["v"] for e in ev) / len(ev)

    p = (
        Pattern.begin("A", lambda r: r["event_type"] == "A")
        .one_or_more()
        .followed_by("B", b_gt_avg_a)
        .with_events()
        .with_var_ids()
        .no_skip()
        .validate()
    )
    rows = [
        {"event_id": i, "ts_us": i * 10, "event_type": et, "v": v}
        for i, (et, v) in enumerate([("A", 10.0), ("A", 30.0), ("B", 25.0)])
    ]
    m1, st = _match_events(rows[:2], p, None)
    st = _json.loads(_json.dumps(st))  # the streaming state channel
    m2, _ = _match_events(rows[2:], p, st)
    assert m1 == []
    # avg(A=[10,30])=20 < 25 -> match over both A rows, vids intact
    assert any(
        t[:4] == (0, 2, 0, 20) and '"A": [0, 1]' in t[4] for t in m2
    ), m2


def test_group_pattern_with_inner_loop():
    """(A B+){2} flattens to A B+ A B+ — two independent loops in one
    sequence; the second A closes the first loop (relaxed) and the match
    completes on the 2nd group's first B."""
    ab = Pattern.begin("a", _is("A")).followed_by("b", _is("B")).one_or_more()
    p = Pattern.group_seq([(ab, 2, 2)]).validate()
    rows = _rows([(1, 0, "A"), (2, 10, "B"), (3, 20, "B"), (4, 30, "A"), (5, 40, "B")])
    m, _ = _match_events(rows, p, None)
    assert m == [(1, 5, 0, 40)]


def test_quantified_alternation_records_per_occurrence_variable():
    """(A | B){2} C — each occurrence of a quantified alternation step may
    match a DIFFERENT alternative, and the assignment records each row
    under its own variable (x gets the A row, y gets the B row)."""
    p = (
        Pattern.begin_one_of("ab", [("x", _is("A")), ("y", _is("B"))])
        .times(2)
        .followed_by("c", _is("C"))
        .with_var_ids()
        .no_skip()
        .validate()
    )
    rows = _rows([(1, 0, "A"), (2, 10, "B"), (3, 20, "C")])
    m, _ = _match_events(rows, p, None)
    assert len(m) == 1 and m[0][:4] == (1, 3, 0, 20)
    assert m[0][4] == '{"c": [3], "x": [1], "y": [2]}'


def test_all_rows_per_match_running_measures(spark):
    """ALL ROWS PER MATCH with a multi-row variable: each matched row
    carries RUNNING aggregates (rows of the variable up to and including
    the current row), per-row CLASSIFIER, and the match number."""
    import datetime as dt

    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    base = dt.datetime(2024, 1, 1)
    rows = [
        # match 1: A(id 0) B(1, v=10) B(2, v=20)
        (0, 1, base, "a", 1.0),
        (1, 1, base + dt.timedelta(minutes=1), "b", 10.0),
        (2, 1, base + dt.timedelta(minutes=2), "b", 20.0),
        # noise, then match 2: A(4) B(5, v=5) B(6, v=7)
        (3, 1, base + dt.timedelta(minutes=3), "x", 0.0),
        (4, 1, base + dt.timedelta(minutes=4), "a", 2.0),
        (5, 1, base + dt.timedelta(minutes=5), "b", 5.0),
        (6, 1, base + dt.timedelta(minutes=6), "b", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id int, ts timestamp, event_type string, value double"
    )
    sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES CLASSIFIER() AS role, MATCH_NUMBER() AS mn,
               SUM(B.value) AS run_sum, COUNT(B.value) AS n_b
      ALL ROWS PER MATCH
      PATTERN (A B{2})
      DEFINE A AS event_type = 'a', B AS event_type = 'b'
    )"""
    got = {
        r.event_id: (r.role, r.mn, r.run_sum, r.n_b)
        for r in match_recognize(df, sql).collect()
    }
    assert got == {
        0: ("A", 1, None, 0),
        1: ("B", 1, 10.0, 1),
        2: ("B", 1, 30.0, 2),
        4: ("A", 2, None, 0),
        5: ("B", 2, 5.0, 1),
        6: ("B", 2, 12.0, 2),
    }


def test_subset_union_measure_all_rows(spark):
    """SUBSET union variable in ALL ROWS mode: running aggregates count
    rows of EITHER member variable."""
    import datetime as dt

    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, 1, base, "a", 1.0),
        (1, 1, base + dt.timedelta(minutes=1), "b", 10.0),
        (2, 1, base + dt.timedelta(minutes=2), "b", 20.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id int, ts timestamp, event_type string, value double"
    )
    sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES SUM(U.value) AS u_run, COUNT(U.value) AS u_n
      ALL ROWS PER MATCH
      PATTERN (A B{2})
      SUBSET U = (A, B)
      DEFINE A AS event_type = 'a', B AS event_type = 'b'
    )"""
    got = {
        r.event_id: (r.u_run, r.u_n) for r in match_recognize(df, sql).collect()
    }
    assert got == {0: (1.0, 1), 1: (11.0, 2), 2: (31.0, 3)}


def test_all_rows_and_subset_reject_boundary_measures(spark):
    """Error paths: FIRST/LAST measures are rejected in ALL ROWS mode, and
    on SUBSET variables in ONE ROW mode (positions don't order the union)."""
    import pytest as _pytest

    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    df = spark.createDataFrame(
        [(0, 1, __import__("datetime").datetime(2024, 1, 1), "a", 1.0)],
        "event_id long, user_id int, ts timestamp, event_type string, value double",
    )
    all_rows_sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES FIRST(A.value) AS fv
      ALL ROWS PER MATCH
      PATTERN (A) DEFINE A AS event_type = 'a')"""
    with _pytest.raises(ValueError, match="FIRST/LAST"):
        match_recognize(df, all_rows_sql)
    subset_sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES LAST(U.value) AS lv
      PATTERN (A B) SUBSET U = (A, B)
      DEFINE A AS event_type = 'a', B AS event_type = 'b')"""
    with _pytest.raises(ValueError, match="SUBSET"):
        match_recognize(df, subset_sql).collect()


def test_match_recognize_partition_by_names_the_key_column(spark):
    """The output's key column is the PARTITION BY column: over a copy of
    the ALL ROWS input with ``user_id`` renamed ``u``, row-reading
    MEASURES and MATCH_NUMBER return the rows of PARTITION BY user_id,
    and the stream is keyed by ``u`` too. A partition column the bigint
    CEP key cannot hold raises a ValueError naming it."""
    import datetime as dt

    import pytest as _pytest
    import pyspark.sql.functions as F

    from flink_1_12_2_spark.sql.match_recognize import (
        match_recognize,
        match_recognize_stream,
    )

    base = dt.datetime(2024, 1, 1)
    seq = [(0, "a", 1.0), (1, "b", 10.0), (2, "b", 20.0), (3, "x", 0.0),
           (4, "a", 2.0), (5, "b", 5.0), (6, "b", 7.0)]
    rows = [
        (10 * user + i, user, base + dt.timedelta(minutes=i), t, v)
        for user, n in ((1, 7), (2, 3))
        for i, t, v in seq[:n]
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id int, ts timestamp, event_type string, value double"
    )
    renamed = df.withColumnRenamed("user_id", "u")
    sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY {part} ORDER BY ts
      MEASURES FIRST(A.value) AS fa, SUM(B.value) AS sb, CLASSIFIER() AS cls,
               MATCH_NUMBER() AS mn
      PATTERN (A B{{2}})
      DEFINE A AS event_type = 'a', B AS event_type = 'b'
    )"""
    want = match_recognize(df, sql.format(part="user_id"))
    got = match_recognize(renamed, sql.format(part="u"))
    assert got.columns == ["u" if c == "user_id" else c for c in want.columns]
    got = got.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want.collect()))
    assert sorted((r.u, r.fa, r.sb, r.cls, r.mn) for r in got) == [
        (1, 1.0, 30.0, "B", 1), (1, 2.0, 12.0, "B", 2), (2, 1.0, 30.0, "B", 1)
    ]

    stream = (
        spark.readStream.format("rate").load()
        .select(
            F.col("value").alias("event_id"), (F.col("value") % 2).alias("u"),
            F.col("timestamp").alias("ts"), F.lit("a").alias("event_type"),
        )
        .withWatermark("ts", "1 second")
    )
    assert match_recognize_stream(
        stream, sql.format(part="u")
    ).columns[0] == "u"

    keyed_by_string = renamed.withColumn("u", F.col("u").cast("string"))
    with _pytest.raises(ValueError, match="PARTITION BY column 'u' is string"):
        match_recognize(keyed_by_string, sql.format(part="u"))


def _nav_df(spark):
    """Ticker-style fixture: one partition, strictly ordered prices."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    prices = [10.0, 8.0, 6.0, 9.0, 5.0, 3.0, 2.0, 7.0]
    rows = [
        (i, 1, base + dt.timedelta(minutes=i), "tick", v)
        for i, v in enumerate(prices)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, user_id int, ts timestamp, event_type string, "
        "value double",
    )


def test_prev_navigation_v_pattern(spark):
    """PREV(col) physical navigation (the canonical V-pattern ticker —
    MatchRecognizeITCase.scala): two strictly-down steps then an up step.
    PREV reads the row before the CURRENT row in partition order,
    regardless of what matched it; the first partition row has no PREV
    (NULL → predicate not-true, SQL three-valued logic)."""
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES FIRST(value) AS v_start, LAST(value) AS v_end
      PATTERN (D1 D2 UP)
      DEFINE D1 AS value < PREV(value),
             D2 AS value < PREV(value),
             UP AS value > PREV(value)
    )"""
    got = [
        (r.first_event_id, r.last_event_id, r.v_start, r.v_end)
        for r in match_recognize(_nav_df(spark), sql)
        .orderBy("first_event_id")
        .collect()
    ]
    # prices 10 8 6 9 5 3 2 7: V matches (e1..e3) and (e4..e7)
    assert got == [(1, 3, 8.0, 9.0), (4, 7, 5.0, 7.0)]


def test_prev_offset_and_next(spark):
    """PREV(col, n) with an explicit offset and NEXT(col): lag/lead by n
    over the partition order. NEXT of the final partition row is NULL."""
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    # rows whose value is below BOTH of the prior two rows, and that are
    # not the last row of the partition
    sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES LAST(value) AS v
      PATTERN (A)
      DEFINE A AS value < PREV(value, 2) AND value < PREV(value)
                  AND NEXT(value) IS NOT NULL
    )"""
    got = [
        (r.first_event_id, r.v)
        for r in match_recognize(_nav_df(spark), sql)
        .orderBy("first_event_id")
        .collect()
    ]
    # 10 8 [6<10,8] 9 [5<6,9] [3<9,5] [2<5,3] 7(last row: NEXT NULL)
    assert got == [(2, 6.0), (4, 5.0), (5, 3.0), (6, 2.0)]


def test_prev_on_other_variable_rejected():
    """Flink parity: PREV may only reference the DEFINE's own variable."""
    import pytest as _pytest

    from flink_1_12_2_spark.sql.match_recognize import parse_match_recognize

    with _pytest.raises(ValueError, match="PREV/NEXT"):
        parse_match_recognize(
            """SELECT * FROM t MATCH_RECOGNIZE (
                 PARTITION BY u ORDER BY ts PATTERN (A B)
                 DEFINE A AS v > 0, B AS v > PREV(A.v))"""
        )


def test_prev_rejected_on_stream_front_door():
    """parse_match_recognize (the streaming path) rejects physical
    navigation — the lag/lead precompute only exists on the batch door."""
    import pytest as _pytest

    from flink_1_12_2_spark.sql.match_recognize import parse_match_recognize

    with _pytest.raises(ValueError, match="front door"):
        parse_match_recognize(
            """SELECT * FROM t MATCH_RECOGNIZE (
                 PARTITION BY u ORDER BY ts PATTERN (A)
                 DEFINE A AS v < PREV(v))"""
        )


def test_last_offset_in_define_and_measures(spark):
    """FIRST/LAST(Var.col, n) logical offsets (MatchRecognizeITCase.scala:142
    — LAST(A.name, 2)): index into the variable's matched rows; offsets
    past the start are NULL (→ predicate not-true in DEFINE). Then the
    offset among the other ONE ROW measures, all folded from the same
    matched rows."""
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES LAST(A.value, 1) AS a_prev, FIRST(A.value, 1) AS a_second,
               COUNT(A.value) AS n_a
      PATTERN (A+? B)
      DEFINE A AS value < 9,
             B AS value > LAST(A.value, 1)
    )"""
    got = [
        (r.first_event_id, r.last_event_id, r.a_prev, r.a_second, r.n_a)
        for r in match_recognize(_nav_df(spark), sql)
        .orderBy("first_event_id")
        .collect()
    ]
    # match 1: A=[8,6] (LAST(A,1)=8 < 9=B row); match 2: A=[5,3,2], B=7>3
    assert got == [(1, 3, 8.0, 6.0, 2), (4, 7, 3.0, 3.0, 3)]

    # every ONE ROW measure kind in one statement: boundary accessors, an
    # offset, a SUBSET aggregate, COUNT and SUM over an unmatched optional
    # variable, CLASSIFIER and MATCH_NUMBER, on overlapping matches
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (eid, u, base + dt.timedelta(minutes=eid), tag, v)
        for eid, u, tag, v in [
            (1, 1, "a", 1.0), (2, 1, "a", 2.0), (3, 1, "a", 4.0),
            (4, 1, "c", 8.0),
            (11, 2, "a", 10.0), (12, 2, "a", 20.0), (13, 2, "b", 40.0),
            (14, 2, "c", 80.0),
        ]
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, tag string, value double"
    )
    sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES FIRST(value) AS v_first, LAST(value) AS v_last,
               LAST(A.value, 1) AS a_prev, SUM(U.value) AS u_sum,
               COUNT(B.value) AS n_b, SUM(B.value) AS s_b,
               CLASSIFIER() AS cls, MATCH_NUMBER() AS mn
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A{2} B? C)
      SUBSET U = (B, C)
      DEFINE A AS tag = 'a', B AS tag = 'b', C AS tag = 'c'
    )"""
    got = [
        (r.user_id, r.first_event_id, r.last_event_id, r.v_first, r.v_last,
         r.a_prev, r.u_sum, r.n_b, r.s_b, r.cls, r.mn)
        for r in match_recognize(df, sql)
        .orderBy("user_id", "first_event_id")
        .collect()
    ]
    assert got == [
        # A=[1,2], B unmatched, C=[4]
        (1, 1, 4, 1.0, 8.0, 1.0, 8.0, 0, None, "C", 1),
        # overlaps the first match: A=[2,3], B unmatched, C=[4]
        (1, 2, 4, 2.0, 8.0, 2.0, 8.0, 0, None, "C", 2),
        # A=[11,12], B=[13], C=[14]
        (2, 11, 14, 10.0, 80.0, 10.0, 120.0, 1, 40.0, "C", 1),
    ]

    # one row matching both alternatives: two matches over the same span,
    # each measured over its own assignment only
    sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES COUNT(A.value) AS n_a, SUM(B.value) AS s_b,
               SUM(C.value) AS s_c
      AFTER MATCH SKIP TO LAST A
      PATTERN (A (B | C) D)
      DEFINE A AS tag = 'a', B AS value > 0, C AS value < 10, D AS tag = 'd'
    )"""
    df = spark.createDataFrame(
        [(eid, 1, base + dt.timedelta(minutes=eid), tag, v)
         for eid, tag, v in [(1, "a", -1.0), (2, "x", 5.0), (3, "d", -1.0)]],
        "event_id long, user_id long, ts timestamp, tag string, value double",
    )
    got = {
        (r.first_event_id, r.last_event_id, r.n_a, r.s_b, r.s_c)
        for r in match_recognize(df, sql).collect()
    }
    assert got == {(1, 3, 1, 5.0, None), (1, 3, 1, None, 5.0)}


def test_last_is_null_define_atom(spark):
    """IS [NOT] NULL DEFINE atoms (MatchRecognizeITCase.scala:165 —
    LAST(A.nullField) IS NULL): an unmatched optional variable's LAST is
    NULL, so `LAST(A.value) IS NULL` selects exactly the no-A branches."""
    import datetime as dt

    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, 1, base, "a", 1.0),
        (1, 1, base + dt.timedelta(minutes=1), "b", 2.0),
        (2, 1, base + dt.timedelta(minutes=2), "b", 3.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id int, ts timestamp, event_type string, "
        "value double",
    )
    sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES COUNT(A.value) AS n_a
      PATTERN (A? B)
      DEFINE A AS event_type = 'a',
             B AS event_type = 'b' AND LAST(A.value) IS NULL
    )"""
    got = [
        (r.first_event_id, r.last_event_id, r.n_a)
        for r in match_recognize(df, sql).orderBy("first_event_id").collect()
    ]
    # e0 starts an A-branch but B requires LAST(A) NULL → only the pure-B
    # branches complete: e1 and e2 each match alone
    assert got == [(1, 1, 0), (2, 2, 0)]


def test_running_final_prefixes(spark):
    """RUNNING | FINAL measure prefixes: ONE ROW PER MATCH accepts both
    (equal at the final row); ALL ROWS PER MATCH defaults to RUNNING and
    FINAL pins the whole-match aggregate onto every row."""
    import datetime as dt

    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, 1, base, "a", 1.0),
        (1, 1, base + dt.timedelta(minutes=1), "b", 10.0),
        (2, 1, base + dt.timedelta(minutes=2), "b", 20.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id int, ts timestamp, event_type string, "
        "value double",
    )
    one_row = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES FINAL SUM(B.value) AS s_fin, RUNNING COUNT(B.value) AS n_run
      PATTERN (A B{2})
      DEFINE A AS event_type = 'a', B AS event_type = 'b'
    )"""
    r = match_recognize(df, one_row).collect()
    assert [(x.s_fin, x.n_run) for x in r] == [(30.0, 2)]
    all_rows = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES RUNNING SUM(B.value) AS s_run, FINAL SUM(B.value) AS s_fin
      ALL ROWS PER MATCH
      PATTERN (A B{2})
      DEFINE A AS event_type = 'a', B AS event_type = 'b'
    )"""
    got = {
        x.event_id: (x.s_run, x.s_fin)
        for x in match_recognize(df, all_rows).collect()
    }
    assert got == {0: (None, 30.0), 1: (10.0, 30.0), 2: (30.0, 30.0)}


def test_last_is_null_on_matched_null_field(spark):
    """MatchRecognizeITCase.scala:165 exact scenario: the variable MATCHED
    but the referenced field is NULL — LAST(A.value) IS NULL must hold
    (distinct from the unmatched-optional case)."""
    import datetime as dt

    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, 1, base, "a", None),
        (1, 1, base + dt.timedelta(minutes=1), "b", 2.0),
        (2, 1, base + dt.timedelta(minutes=2), "a", 5.0),
        (3, 1, base + dt.timedelta(minutes=3), "b", 7.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id int, ts timestamp, event_type string, "
        "value double",
    )
    sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES COUNT(A.value) AS n_vals
      PATTERN (A B)
      DEFINE A AS event_type = 'a',
             B AS event_type = 'b' AND LAST(A.value) IS NULL
    )"""
    got = [
        (r.first_event_id, r.last_event_id, r.n_vals)
        for r in match_recognize(df, sql).orderBy("first_event_id").collect()
    ]
    # only the null-valued A (e0) completes; e2's A has a value so B's
    # IS NULL guard rejects, and COUNT skips the null
    assert got == [(0, 1, 0)]


def test_match_rowtime_and_proctime_measures(spark):
    """MATCH_ROWTIME() = the match's last-row rowtime (epoch micros, same
    unit as last_ts_us) so a window aggregate can chain after
    MATCH_RECOGNIZE; MATCH_PROCTIME() = a wall-clock timestamp marker.
    ALL ROWS PER MATCH: MATCH_ROWTIME advances with the current row."""
    import datetime as dt

    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, 1, base, "a", 1.0),
        (1, 1, base + dt.timedelta(minutes=1), "b", 10.0),
        (2, 1, base + dt.timedelta(hours=2), "a", 2.0),
        (3, 1, base + dt.timedelta(hours=2, minutes=1), "b", 20.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id int, ts timestamp, event_type string, "
        "value double",
    )
    one_row = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES MATCH_ROWTIME() AS mrt, MATCH_PROCTIME() AS mpt
      PATTERN (A B)
      DEFINE A AS event_type = 'a', B AS event_type = 'b'
    )"""
    got = match_recognize(df, one_row).collect()
    assert len(got) == 2
    for r in got:
        assert r.mrt == r.last_ts_us  # rowtime of the match's last row
        assert isinstance(r.mpt, dt.datetime)  # proctime marker
    # the chained-window shape: matches bucket by their rowtime hour
    hours = sorted({r.mrt // 3_600_000_000 for r in got})
    assert len(hours) == 2 and hours[1] - hours[0] == 2

    all_rows = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES MATCH_ROWTIME() AS mrt
      ALL ROWS PER MATCH
      PATTERN (A B)
      DEFINE A AS event_type = 'a', B AS event_type = 'b'
    )"""
    per_row = {
        r.event_id: r.mrt for r in match_recognize(df, all_rows).collect()
    }
    # RUNNING: each emitted row carries ITS OWN rowtime
    assert per_row == {
        eid: ts for eid, _, ts, _, _ in rows
    }


# ---------------------------------------------------------------------------
# Vectorized candidate pre-gate for the programmatic Pattern path
# (Pattern.bound → cep_pregate, the same gate MATCH_RECOGNIZE's DEFINE
# bounds feed) for CEP.java-style fluent patterns, which Flink itself does
# not optimize (CepOperator.java processElement sees every row).


def _events_df(spark, sf_dir):
    from flink_1_12_2_spark.registry import load

    return load(spark, sf_dir, "events")


def test_pregate_batch_outputs_identical(spark, sf_dir):
    """Bounds are a pure optimization: gated and ungated batch NFA runs
    produce byte-identical match sets, and the gated plan pushes the bound
    disjunction into the parquet scan BELOW the pandas NFA stage."""
    from flink_1_12_2_spark.streaming.cep import cep_match_batch

    ev = _events_df(spark, sf_dir)

    def pat(with_bounds):
        p = Pattern.begin("c", lambda r: r["event_type"] == "click")
        if with_bounds:
            p = p.bound("event_type = 'click'")
        p = p.followed_by("p", lambda r: r["event_type"] == "purchase")
        if with_bounds:
            p = p.bound("event_type = 'purchase'")
        return p.within(6 * 3600 * 1_000_000)

    ungated = cep_match_batch(ev, pat(False)).collect()
    gated_df = cep_match_batch(ev, pat(True))
    gated = gated_df.collect()
    assert sorted(map(tuple, gated)) == sorted(map(tuple, ungated))
    assert len(gated) > 0
    plan = gated_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # r14: the batch NFA is a key-clustered MapInPandas (cep._keyed_apply)
    assert "MapInPandas" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(
        "Or(" in ln
        and "EqualTo(event_type,click)" in ln
        and "EqualTo(event_type,purchase)" in ln
        for ln in pushed
    ), pushed


def test_pregate_streaming_equals_batch(spark, sf_dir):
    """The streaming operator with bounds (row gate, sentinel-exempt)
    matches the ungated batch NFA — gate queries stream_cep_click_purchase
    et al. rely on this equivalence."""
    from flink_1_12_2_spark.streaming.cep import (
        cep_match_batch,
        cep_pattern_matches,
    )
    from flink_1_12_2_spark.streaming.core import run_to_memory, stream_events

    pat = (
        Pattern.begin("c", lambda r: r["event_type"] == "click")
        .bound("event_type = 'click'")
        .followed_by("p", lambda r: r["event_type"] == "purchase")
        .bound("event_type = 'purchase'")
        .within(6 * 3600 * 1_000_000)
    )
    ev = stream_events(spark, sf_dir)
    streamed = run_to_memory(
        cep_pattern_matches(ev, pat), output_mode="append"
    ).collect()
    batch = cep_match_batch(_events_df(spark, sf_dir), pat).collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
    assert len(batch) > 0


def test_pregate_row_gate_off_when_semantics_observe_rows(spark, sf_dir):
    """Strict/negative/until/consecutive steps OBSERVE non-matching rows —
    the row gate must stay off even with full bounds (only the batch key
    gate may apply). Output equality with the ungated run is the proof."""
    from flink_1_12_2_spark.streaming.cep import cep_match_batch, cep_pregate

    ev = _events_df(spark, sf_dir)
    pat = (
        Pattern.begin("c", lambda r: r["event_type"] == "click")
        .bound("event_type = 'click'")
        .not_followed_by("e", lambda r: r["event_type"] == "error")
        .followed_by("p", lambda r: r["event_type"] == "purchase")
        .bound("event_type = 'purchase'")
        .within(6 * 3600 * 1_000_000)
    )
    # row gate refused: no Filter added on the un-keyed path
    gated = cep_pregate(ev, pat, "user_id", key_gate=False)
    assert gated is ev
    # negative step lacks a bound on purpose — with key_gate the start
    # bound alone gates keys; outputs must still match the ungated run
    pat_nobound = (
        Pattern.begin("c", lambda r: r["event_type"] == "click")
        .not_followed_by("e", lambda r: r["event_type"] == "error")
        .followed_by("p", lambda r: r["event_type"] == "purchase")
        .within(6 * 3600 * 1_000_000)
    )
    a = cep_match_batch(ev, pat).collect()
    b = cep_match_batch(ev, pat_nobound).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pregate_partial_bounds_are_noop_for_row_gate(spark, sf_dir):
    """A pattern where only SOME steps carry bounds must not row-filter (a
    row matching the unbounded step has to survive)."""
    from flink_1_12_2_spark.streaming.cep import cep_pregate

    ev = _events_df(spark, sf_dir)
    pat = (
        Pattern.begin("c", lambda r: r["event_type"] == "click")
        .bound("event_type = 'click'")
        .followed_by("any", lambda r: True)
        .within(6 * 3600 * 1_000_000)
    )
    assert cep_pregate(ev, pat, "user_id", key_gate=False) is ev


def test_pregate_key_gate_drops_startless_keys(spark):
    """Batch key gate: keys whose rows never satisfy the start bound are
    dropped before the Python stage, keys with a start survive intact."""
    from flink_1_12_2_spark.streaming.cep import cep_pregate

    df = spark.createDataFrame(
        [
            (1, 1, 10, "click"),
            (1, 2, 20, "purchase"),
            (2, 3, 10, "view"),  # key 2: no possible start
            (2, 4, 20, "purchase"),
        ],
        "user_id long, event_id long, ts_us long, event_type string",
    )
    pat = (
        Pattern.begin("c", lambda r: r["event_type"] == "click")
        .bound("event_type = 'click'")
        .followed_by("p", lambda r: r["event_type"] == "purchase")
        .within(1_000_000)
    )
    got = cep_pregate(df, pat, "user_id", key_gate=True)
    assert sorted(r.user_id for r in got.collect()) == [1, 1]


def test_keyed_apply_rejects_null_keys(spark):
    """A NULL key raises instead of splitting its rows into one group per
    row (NaN != NaN); without that key the batch run equals the pure NFA."""
    import pytest as _pytest

    from flink_1_12_2_spark.streaming.cep import cep_match_batch

    schema = "user_id long, event_id long, ts_us long, event_type string"
    rows = [
        (1, 1, 10, "A"), (1, 2, 20, "B"),
        (None, 3, 30, "A"), (None, 4, 40, "B"),
        (2, 5, 50, "A"), (2, 6, 60, "B"),
    ]
    with _pytest.raises(Exception, match="NULL 'user_id' key"):
        cep_match_batch(spark.createDataFrame(rows, schema), _pat()).collect()

    kept = [r for r in rows if r[0] is not None]
    got = cep_match_batch(spark.createDataFrame(kept, schema), _pat()).collect()
    want = [
        (k, *m)
        for k in (1, 2)
        for m in _match_events(
            _rows([r[1:] for r in kept if r[0] == k]), _pat(), None
        )[0]
    ]
    assert sorted(map(tuple, got)) == sorted(want) and len(want) == 2
