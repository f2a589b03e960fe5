"""Property-based tests (hypothesis) for the custom operators — randomized
inputs against brute-force Python references (the engine's analogue of the
reference's harness tests)."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

# one shared tiny settings profile: spark jobs per example are expensive
SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_key = st.integers(min_value=0, max_value=3)
_time = st.integers(min_value=0, max_value=50)


@SET
@given(
    left=st.lists(st.tuples(_key, _time), min_size=1, max_size=12),
    right=st.lists(st.tuples(_key, _time, st.integers(0, 99)), min_size=0, max_size=12),
)
def test_asof_join_matches_bruteforce(spark, left, right):
    from flink_1_12_2_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(i, k, base + dt.timedelta(minutes=t)) for i, (k, t) in enumerate(left)],
        "lid int, k int, t timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, base + dt.timedelta(minutes=t), v) for (k, t, v) in right],
        "rk int, rt timestamp, price int",
    )
    got = {
        r.lid: r.rt for r in asof_join(ldf, rdf, "k", "rk", "t", "rt").collect()
    }
    for i, (k, t) in enumerate(left):
        lt = base + dt.timedelta(minutes=t)
        cands = [
            base + dt.timedelta(minutes=rt_)
            for (rk_, rt_, _) in right
            if rk_ == k and rt_ <= t
        ]
        expected = max(cands) if cands else None
        assert got[i] == expected, (i, k, t)


@SET
@given(
    changes=st.lists(
        st.tuples(
            st.sampled_from(["+I", "+U", "-U", "-D"]),
            _key,
            st.integers(0, 99),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_changelog_normalize_is_last_write_wins(spark, changes):
    from flink_1_12_2_spark.operators.changelog import changelog_normalize

    df = spark.createDataFrame(
        [(kind, k, seq, float(v)) for seq, (kind, k, v) in enumerate(changes)],
        "_row_kind string, k int, seq int, v double",
    )
    got = {r.k: r.v for r in changelog_normalize(df, ["k"], ["seq"]).collect()}
    # reference: the last non(-U) change per key wins; a trailing -D deletes
    expected = {}
    last: dict[int, tuple[int, str, float]] = {}
    for seq, (kind, k, v) in enumerate(changes):
        if kind == "-U":
            continue
        last[k] = (seq, kind, float(v))
    for k, (_, kind, v) in last.items():
        if kind != "-D":
            expected[k] = v
    assert got == expected


@SET
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=12).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=10,
    )
)
def test_lsh_candidates_subset_and_identical_docs_found(spark, docs):
    from flink_1_12_2_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id int, text string"
    )
    sigs = minhash_signatures(df, "doc_id", "text")
    cand = {(r.id_1, r.id_2) for r in lsh_candidate_pairs(sigs, "doc_id").collect()}
    n = len(docs)
    # candidates are valid ordered pairs
    assert all(0 <= a < b < n for a, b in cand)
    # identical docs with >= 3 tokens MUST be candidates (equal signatures)
    for i in range(n):
        for j in range(i + 1, n):
            if docs[i] == docs[j] and len(docs[i].split()) >= 3:
                assert (i, j) in cand


@SET
@given(
    rows=st.lists(
        st.tuples(_key, st.integers(0, 1000), st.floats(0, 100, allow_nan=False)),
        min_size=1,
        max_size=25,
    )
)
def test_streaming_topn_state_fold_matches_sort(spark, rows):
    # pure-function check of the top-n fold used by the streaming operator
    from flink_1_12_2_spark.streaming.stateful import _topn_fold

    by_key: dict[int, list[tuple[int, float]]] = {}
    for k, eid, v in rows:
        by_key.setdefault(k, []).append((eid, v))
    for k, evs in by_key.items():
        rows = [{"event_id": e, "value": v} for e, v in evs]
        out, _, _ = _topn_fold(3)((k,), rows, None, None)
        expected = sorted(evs, key=lambda t: (-t[1], t[0]))[:3]
        assert [(e, v) for _, e, v, _, _ in out] == expected


# ---- CEP NFA quantifier laws (pure-function, no Spark) --------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from flink_1_12_2_spark.streaming.cep import Pattern, _match_events


def _seq_rows(types):
    return [
        {"event_id": i, "ts_us": i * 10, "event_type": t}
        for i, t in enumerate(types)
    ]


_types = st.lists(st.sampled_from(["A", "B", "X"]), min_size=0, max_size=30)


def _is_t(t):
    return lambda r: r["event_type"] == t


@given(_types)
@settings(max_examples=200, deadline=None)
def test_times_one_equals_plain_step(types):
    rows = _seq_rows(types)
    plain = Pattern.begin("a", _is_t("A")).followed_by("b", _is_t("B"))
    timed = Pattern.begin("a", _is_t("A")).times(1).followed_by("b", _is_t("B"))
    m1, _ = _match_events(rows, plain, None)
    m2, _ = _match_events(rows, timed, None)
    assert m1 == m2


@given(_types)
@settings(max_examples=200, deadline=None)
def test_optional_never_matching_is_identity(types):
    rows = _seq_rows(types)
    base = Pattern.begin("a", _is_t("A")).followed_by("b", _is_t("B"))
    with_opt = (
        Pattern.begin("a", _is_t("A"))
        .followed_by("never", lambda r: False)
        .optional()
        .followed_by("b", _is_t("B"))
    )
    m1, _ = _match_events(rows, base, None)
    m2, _ = _match_events(rows, with_opt, None)
    assert m1 == m2


@given(_types)
@settings(max_examples=200, deadline=None)
def test_batch_split_equals_single_pass(types):
    """State carried across arbitrary batch splits == one-shot matching
    (micro-batch boundary invariance), quantified pattern included."""
    rows = _seq_rows(types)
    pat = lambda: (
        Pattern.begin("a", _is_t("A"))
        .one_or_more()
        .greedy()
        .followed_by("b", _is_t("B"))
    )
    single, _ = _match_events(rows, pat(), None)
    for cut in (0, len(rows) // 3, len(rows) // 2, len(rows)):
        m1, stt = _match_events(rows[:cut], pat(), None)
        m2, _ = _match_events(rows[cut:], pat(), stt)
        assert m1 + m2 == single, f"cut={cut}"


@given(_types)
@settings(max_examples=200, deadline=None)
def test_greedy_oneormore_disjoint_equals_regex(types):
    """With disjoint predicates, greedy A+ B == the regex A+[^B]*?B
    non-overlapping leftmost scan (Python re.finditer reference)."""
    import re as _re

    rows = _seq_rows(types)
    pat = (
        Pattern.begin("a", _is_t("A"))
        .one_or_more()
        .greedy()
        .followed_by("b", _is_t("B"))
    )
    got, _ = _match_events(rows, pat, None)
    s = "".join(types)
    expected = []
    # determinized single-run semantics: first A anchors; A's absorb into
    # the loop (relaxed: X's skipped), first B closes. Regex equivalent on
    # the type string: A then any mix of A/X then B — with the match's
    # last-consumed A being the final A before B.
    expected = [
        (m.start(), m.end() - 1)
        for m in _re.finditer(r"A[AX]*?B", s)
    ]
    assert [(a, b) for (a, b, *_ts) in got] == expected


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["click", "purchase", "error", "view"]),
            st.integers(min_value=0, max_value=20),  # ts gap steps
        ),
        max_size=40,
    )
)
@settings(max_examples=60, deadline=None)
def test_cep_nfa_equals_branch_recursion(events):
    """The branch-exploring NFA (streaming/cep.py, Flink NFA.java:86
    semantics) must equal the every-click-is-a-live-branch recursion that
    the recursive-CTE oracles encode (_cep_oracle in
    queries/streaming_emu.py) — for BOTH oracled patterns, on arbitrary
    event sequences. This pins the NFA<->oracle equivalence argument beyond
    the driver testdata."""
    from flink_1_12_2_spark.streaming.cep import Pattern, _match_events

    W = 6 * 3600 * 1_000_000
    rows = []
    ts = 0
    for i, (et, gap) in enumerate(events):
        ts += gap * 30 * 60 * 1_000_000  # 0..20 half-hour steps
        rows.append({"event_id": i, "ts_us": ts, "event_type": et, "user_id": 0})

    def branch_ref(error_kill):
        # every click starts a branch; error (quantified) kills live
        # branches; a purchase completes every in-window branch — earliest
        # start wins, skip past last row discards the rest
        out, starts = [], []
        for r in rows:
            if r["event_type"] == "purchase":
                valid = [
                    (t, e) for (e, t) in starts if r["ts_us"] < t + W
                ]
                if valid:
                    c = min(valid)
                    out.append((c[1], r["event_id"], c[0], r["ts_us"]))
                    starts = []
                    continue
            if error_kill and r["event_type"] == "error":
                starts = []
            if r["event_type"] == "click":
                starts.append((r["event_id"], r["ts_us"]))
        return out

    pat_simple = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .within(W)
    )
    got, _ = _match_events(list(rows), pat_simple, None)
    assert got == branch_ref(error_kill=False)

    pat_quant = (
        Pattern.begin("clicks", lambda r: r["event_type"] == "click")
        .one_or_more()
        .greedy()
        .not_followed_by("err", lambda r: r["event_type"] == "error")
        .followed_by("buy", lambda r: r["event_type"] == "purchase")
        .within(W)
    )
    got_q, _ = _match_events(list(rows), pat_quant, None)
    assert got_q == branch_ref(error_kill=True)


@given(
    vals=st.lists(st.sampled_from([10.0, 60.0, 200.0]), max_size=30),
    cuts=st.lists(st.integers(min_value=0, max_value=30), max_size=3),
)
@settings(max_examples=100, deadline=None)
def test_overlap_pattern_batch_split_invariance(vals, cuts):
    """Branch-set state across arbitrary micro-batch splits == one-shot
    matching, on the OVERLAPPING-predicate pattern (the branch-heavy case:
    every high row matches both steps)."""
    from flink_1_12_2_spark.streaming.cep import Pattern, _match_events

    rows = [
        {"event_id": i, "ts_us": i * 40, "value": v} for i, v in enumerate(vals)
    ]
    pat = lambda: (
        Pattern.begin("mid", lambda r: r["value"] > 50)
        .followed_by("high", lambda r: r["value"] > 150)
        .within(100)
    )
    single, _ = _match_events(list(rows), pat(), None)
    bounds = sorted({min(c, len(rows)) for c in cuts} | {0, len(rows)})
    got, state = [], None
    for lo, hi in zip(bounds, bounds[1:]):
        m, state = _match_events(rows[lo:hi], pat(), state)
        got.extend(m)
    assert got == single


@given(
    types=st.lists(st.sampled_from(["A", "B", "C", "X"]), max_size=24),
    cut=st.integers(min_value=0, max_value=24),
)
@settings(max_examples=100, deadline=None)
def test_permute_batch_split_invariance(types, cut):
    """Sequence-set (PERMUTE) state — including the branch family id —
    survives micro-batch splits: split run == one-shot run."""
    from flink_1_12_2_spark.streaming.cep import Pattern, _match_events

    rows = [
        {"event_id": i, "ts_us": i * 10, "event_type": t}
        for i, t in enumerate(types)
    ]
    pat = lambda: Pattern.permute(
        [("A", _is_t("A")), ("B", _is_t("B"))], ("C", _is_t("C"))
    )
    single, _ = _match_events(list(rows), pat(), None)
    c = min(cut, len(rows))
    m1, stt = _match_events(rows[:c], pat(), None)
    m2, _ = _match_events(rows[c:], pat(), stt)
    assert m1 + m2 == single


@given(
    vals=st.lists(st.sampled_from(["A", "B", "C"]), max_size=25),
    cuts=st.lists(st.integers(min_value=0, max_value=25), max_size=3),
)
@settings(max_examples=80, deadline=None)
def test_trailing_loop_batch_split_invariance(vals, cuts):
    """Eager trailing-loop emission (r5) across arbitrary micro-batch
    splits == one-shot matching: the live take-branch after an emission
    must carry in state and keep extending in later batches."""
    from flink_1_12_2_spark.streaming.cep import Pattern, _match_events

    rows = [
        {"event_id": i, "ts_us": i * 10, "event_type": t}
        for i, t in enumerate(vals)
    ]
    pat = lambda: (  # noqa: E731
        Pattern.begin("a", lambda r: r["event_type"] == "A")
        .followed_by("b", lambda r: r["event_type"] == "B")
        .one_or_more()
        .within(120)
        .no_skip()
        .validate()
    )
    single, _ = _match_events(list(rows), pat(), None)
    bounds = sorted({min(c, len(rows)) for c in cuts} | {0, len(rows)})
    got, state = [], None
    for lo, hi in zip(bounds, bounds[1:]):
        m, state = _match_events(rows[lo:hi], pat(), state)
        got.extend(m)
    assert got == single


_textish = st.text(
    alphabet=st.sampled_from(list("ab c\nd\t.")), min_size=0, max_size=60
)


@SET
@given(texts=st.lists(_textish, min_size=1, max_size=6))
def test_repetition_signals_match_bruteforce(spark, texts):
    """dup_line_fraction and token_bigrams against plain-Python refs on
    adversarial whitespace/newline soup."""
    import re

    import pyspark.sql.functions as F

    from flink_1_12_2_spark.llm import text as T

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {
        r.doc_id: (r.dlf, list(r.bigs))
        for r in df.select(
            "doc_id",
            T.dup_line_fraction(F.col("text")).alias("dlf"),
            T.token_bigrams(F.col("text")).alias("bigs"),
        ).collect()
    }
    for i, t in enumerate(texts):
        lines = [l for l in t.split("\n") if l.strip() != ""]
        exp_dlf = (len(lines) - len(set(lines))) / max(len(lines), 1)
        toks = [w for w in re.split(r"\s+", t.strip()) if w != ""]
        exp_bigs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        dlf, bigs = got[i]
        assert abs(dlf - exp_dlf) < 1e-12, (t, dlf, exp_dlf)
        assert bigs == exp_bigs, (t, bigs, exp_bigs)


@SET
@given(
    vals=st.lists(st.integers(0, 5), min_size=0, max_size=24),
)
def test_match_recognize_prev_nav_vs_bruteforce(spark, vals):
    """PREV-navigation V-pattern (D1 D2 UP, all defined via PREV(value))
    against a brute-force Python reference of the branch-NFA semantics
    under SKIP PAST LAST ROW: from the resume position, the first down
    row's chain (next down, then next up) is the earliest-completing
    branch — ties impossible on a single diagonal chain. Small integer
    values force plenty of equal-neighbor rows (neither down nor up),
    exercising the relaxed-contiguity skipping and the pre-gate's
    row-drop correctness."""
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    rows = [(1, i, float(i), float(v)) for i, v in enumerate(vals)]
    # brute force: flags then the resume-position recursion
    dn = [i for i in range(1, len(vals)) if vals[i] < vals[i - 1]]
    up = {i for i in range(1, len(vals)) if vals[i] > vals[i - 1]}
    expected = []
    pos = -1
    while True:
        d1 = next((i for i in dn if i > pos), None)
        if d1 is None:
            break
        d2 = next((i for i in dn if i > d1), None)
        if d2 is None:
            break
        u = next((i for i in sorted(up) if i > d2), None)
        if u is None:
            break
        expected.append((d1, u))
        pos = u
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "user_id int, event_id long, ts double, value double"
    )
    sql = """
    SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES FIRST(value) AS v0
      PATTERN (D1 D2 UP)
      DEFINE D1 AS value < PREV(value),
             D2 AS value < PREV(value),
             UP AS value > PREV(value)
    )"""
    got = [
        (r.first_event_id, r.last_event_id)
        for r in match_recognize(df, sql).orderBy("first_event_id").collect()
    ]
    assert got == expected, (vals, got, expected)


@SET
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z"]), min_size=0, max_size=14),
        min_size=2,
        max_size=4,
    ),
)
def test_exact_substring_vs_lcs_bruteforce(spark, docs):
    """Windowed-hash exact-substring dedup equals the token-level
    longest-common-substring brute force: a diagonal run of R consecutive
    shared W-windows IS a common substring of R+W-1 tokens and vice
    versa. A 3-symbol vocabulary forces heavy window collisions and
    repeated windows inside one document (the distinct-cells path)."""
    from flink_1_12_2_spark.llm.dedup import exact_substring_pairs

    W = 3
    texts = [" ".join(t) for t in docs]

    def wins(toks):
        return [tuple(toks[i : i + W]) for i in range(len(toks) - W + 1)]

    expected = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = docs[i], docs[j]
            shared = set(wins(a)) & set(wins(b))
            if not shared:
                continue
            # token-level longest common substring (DP)
            best = 0
            dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
            for x in range(1, len(a) + 1):
                for y in range(1, len(b) + 1):
                    if a[x - 1] == b[y - 1]:
                        dp[x][y] = dp[x - 1][y - 1] + 1
                        best = max(best, dp[x][y])
            expected[(i, j)] = (len(shared), best)
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.id_1, r.id_2): (r.n_shared_windows, r.match_tokens)
        for r in exact_substring_pairs(
            df, window=W, max_bucket=100
        ).collect()
    }
    assert got == expected, (texts, got, expected)


@given(
    st.lists(
        st.integers(min_value=1, max_value=(1 << 52)),
        min_size=1, max_size=60, unique=True,
    )
)
@settings(max_examples=20, deadline=None)
def test_portable_ln_duckdb_bit_identity_random(ns):
    """Randomized extension of the fixed 210-input bit-sweep: for ANY
    integer in the portable-ln domain, the staged SQL evaluated by DuckDB
    is bit-identical to portable_ln_py (the value the engine broadcasts).
    Catches domain corners the deterministic sweep might miss."""
    import struct

    import duckdb

    from flink_1_12_2_spark.llm.sampling import (
        portable_ln_py,
        portable_ln_stages,
        staged_select_sql,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT unnest(?::BIGINT[]) AS n", [list(ns)]
    )
    sql = (
        "WITH src AS (SELECT n FROM t),\n"
        + staged_select_sql("src", portable_ln_stages("p", "n"), "s")
        + f"\nSELECT n, p_ln FROM s{len(portable_ln_stages('p', 'n')) - 1}"
    )
    got = dict(con.execute(sql).fetchall())
    for n in ns:
        assert struct.pack("<d", got[n]) == struct.pack(
            "<d", portable_ln_py(n)
        ), n


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from([1, 2, 3, None]),
            st.sampled_from(["a", "b"]),
            st.sampled_from([0.5, None]),
        ),
        max_size=30,
    ),
    st.booleans(),
    st.sampled_from([["k1"], ["k2"], ["k1", "k2"]]),
)
def test_split_by_key_first_appearance_row_order(rows, int64, by):
    """A frame's rows as the keyed-state folds and batch CEP see them
    (``frame_rows`` then ``split_by_key``): keys in order of first
    appearance, each key's rows in input order, NaN as None, and an
    integral key column held as float (NULLs present) or as ``Int64``
    giving int keys; NULL keys form one key."""
    import pandas as pd

    from flink_1_12_2_spark.streaming.keyed_state import frame_rows, split_by_key

    pdf = pd.DataFrame(rows, columns=["k1", "k2", "v"])
    if int64:
        pdf["k1"] = pdf["k1"].astype("Int64")
    pdf["row"] = range(len(pdf))
    got = split_by_key(frame_rows(pdf, {"k1", "row"}), by)
    want: dict[tuple, list[dict]] = {}
    for i, (k1, k2, v) in enumerate(rows):
        row = {"k1": k1, "k2": k2, "v": v, "row": i}
        want.setdefault(tuple(row[c] for c in by), []).append(row)
    assert list(got.items()) == list(want.items())
    assert all(
        type(r[c]) in (int, str, float, type(None))
        and (c != "k1" or type(r[c]) is not float)
        for run in got.values()
        for r in run
        for c in r
    )
