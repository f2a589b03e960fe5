"""Unit tests for the benchmark's own helpers (no Spark needed).

  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

CORPUS = os.path.join(os.path.dirname(HERE), "data", "sf0.1")

import cepref  # noqa: E402
import common  # noqa: E402
import generator  # noqa: E402


# ---- percentile rule ---------------------------------------------------------


def test_percentile_interpolates():
    assert common.percentile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert common.percentile([5.0], 0.99) == 5.0
    assert common.percentile(list(range(101)), 0.9) == 90.0


def test_percentile_rule_needs_ten_beyond():
    # p50 of 20 samples has 10 above its rank; of 19 only 9
    assert common.samples_beyond(20, 0.5) == 10
    assert common.supported(20, 0.5)
    assert not common.supported(19, 0.5)
    # p90 of 92 samples sits at rank 81.9 of 0..91: ranks 82..91 lie beyond
    assert common.samples_beyond(92, 0.9) == 10
    assert common.supported(92, 0.9) and not common.supported(91, 0.9)
    assert common.supported(902, 0.99) and not common.supported(901, 0.99)
    assert common.min_samples(0.5) == 20
    assert common.min_samples(0.9) == 92
    assert common.min_samples(0.99) == 902


def test_reported_percentile_refuses_thin_samples():
    assert common.reported_percentile([float(x) for x in range(20)], 0.5) == 9.5
    with pytest.raises(ValueError):
        common.reported_percentile([1.0] * 19, 0.5)


# ---- open-loop schedule ------------------------------------------------------


def test_due_times_do_not_depend_on_progress():
    t0 = 1000.0
    assert common.due_time(t0, 0, 1000) == 1000.0
    assert common.due_time(t0, 1500, 1000) == 1001.5
    # batch n is due when its last event exists: the end of its interval
    assert common.batch_due_time(t0, 0, 1.0) == 1001.0
    assert common.batch_due_time(t0, 4, 1.0) == 1005.0
    assert common.batch_event_range(2, 1000, 1.0) == range(2000, 3000)


def test_generator_batches_follow_the_schedule():
    import json

    lines = generator.batch_lines(7, 3, 500.0, 1000, 50, 1.0)
    ev = [json.loads(x) for x in lines]
    assert [e["event_id"] for e in ev] == list(range(3000, 4000))
    assert ev[0]["ts_us"] == 503_000_000 and ev[-1]["ts_us"] == 503_999_000
    assert all(0 <= e["user_id"] < 50 for e in ev)
    # same seed and batch -> same events
    assert generator.batch_lines(7, 3, 500.0, 1000, 50, 1.0) == lines


def test_generator_publishes_atomically(tmp_path):
    topic = tmp_path / "topic"
    topic.mkdir()
    generator.publish_batch(str(topic), 5, [["{}"], ["{}", "{}"]])
    assert sorted(os.listdir(topic)) == ["batch_000005"]
    assert (topic / "batch_000005" / "part-00000").read_text() == "{}\n"
    assert (topic / "batch_000005" / "part-00001").read_text() == "{}\n{}\n"


# ---- match -> creation-time join -----------------------------------------------


def test_match_latency_joins_on_last_event():
    created = {10: 100.0, 11: 100.5}
    assert common.match_latencies([(10, 103.0), (11, 103.0)], created) == [
        3.0, 2.5]
    with pytest.raises(KeyError):
        common.match_latencies([(12, 103.0)], created)


# ---- self-time arithmetic ------------------------------------------------------


def _span(sid, name, a, b, parent=None):
    return common.Span(name, a, b, parent, "r", sid)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "sql", 1.0, 4.0, 0),
        _span(2, "exec", 3.0, 6.0, 0),  # overlaps sql by 1 s
        _span(3, "rewrite", 1.0, 2.0, 1),
    ]
    st = common.self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 5.0)
    assert st["sql"] == pytest.approx(3.0 - 1.0)
    assert st["exec"] == pytest.approx(3.0)
    assert st["rewrite"] == pytest.approx(1.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, "p", 0.0, 2.0), _span(1, "c", 1.0, 5.0, 0)]
    assert common.self_times(spans)["p"] == pytest.approx(1.0)


def test_tracer_nests_and_disables():
    tr = common.Tracer("r", True)
    with tr.span("a"):
        with tr.span("b"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    off = common.Tracer("r", False)
    f = off.wrap("x", len)
    assert f is len
    with off.span("a"):
        pass
    assert off.spans == []


# ---- CEP reference vs the registry oracle ------------------------------------


def _events(n, users, seed, spacing_us):
    import random

    rnd = random.Random(seed)
    return [
        {"event_id": k, "user_id": rnd.randrange(users),
         "event_type": "click", "value": round(rnd.uniform(0, 200), 2),
         "ts_us": 1_700_000_000_000_000 + k * spacing_us}
        for k in range(n)
    ]


def test_cep_reference_hand_case():
    W = cepref.WITHIN_US
    ev = [
        {"event_id": 0, "user_id": 1, "value": 160.0, "ts_us": 0},
        {"event_id": 1, "user_id": 1, "value": 10.0, "ts_us": 1},
        {"event_id": 2, "user_id": 1, "value": 170.0, "ts_us": 2},
        # the open row (id 0) expires: the next match opens at id 3
        {"event_id": 3, "user_id": 1, "value": 60.0, "ts_us": W + 1},
        {"event_id": 4, "user_id": 1, "value": 151.0, "ts_us": W + 2},
    ]
    assert cepref.matches(ev) == {(1, 0, 2, 0, 2), (1, 3, 4, W + 1, W + 2)}


@pytest.mark.parametrize("spacing_us", [1_000, 3_600_000_000])
def test_cep_reference_equals_registry_oracle(tmp_path, spacing_us):
    # hour spacing makes the 24 h window expire; millisecond spacing never
    pytest.importorskip("duckdb")
    ev = _events(1500, 30, 11, spacing_us)
    assert cepref.matches(ev) == cepref.registry_oracle(ev, str(tmp_path))


# ---- 3-gram Jaccard reference vs the registry oracle -------------------------


def test_ngram_reference_equals_registry_oracle():
    duckdb = pytest.importorskip("duckdb")
    import refs
    from flink_1_12_2_spark.registry import QUERIES, load_all_query_modules

    load_all_query_modules()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{CORPUS}/documents.parquet' WHERE doc_id < 500")
    fast = con.execute(refs.NGRAM_JACCARD).fetchall()
    assert fast, "corpus should contain near-duplicate pairs"
    assert fast == con.execute(QUERIES["dedup_ngram_jaccard"].oracle).fetchall()


# ---- BENCHMARK.json against the code that reports the metrics ----------------


def test_benchmark_json_matches_reported_metrics():
    import json

    import run

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                           "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: (unit, better) for k, (unit, better, _) in run.PER_LAYER.items()}
