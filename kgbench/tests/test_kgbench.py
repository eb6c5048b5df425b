"""Tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest kgbench/tests -q
"""

import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from kgbench import run  # noqa: E402
from kgbench.inputs import doc_id, generate_rows  # noqa: E402
from kgbench.trace import Tracer, _covered, patched  # noqa: E402
from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, build_entities  # noqa: E402


# -- generator ---------------------------------------------------------------


@pytest.mark.parametrize("kind", ["all", "text"])
def test_generator_is_deterministic_per_seed(kind):
    ks = range(40)
    a = generate_rows(7, kind, ks, build_entities(7))
    b = generate_rows(7, kind, ks, build_entities(7))
    pd.testing.assert_frame_equal(a, b)
    other = generate_rows(8, kind, ks, build_entities(8))
    assert list(a["html"]) != list(other["html"]) or list(a["text"]) != list(other["text"])


def test_generator_does_not_depend_on_batching():
    ents = build_entities(3)
    whole = generate_rows(3, "all", range(30), ents)
    halves = pd.concat(
        [generate_rows(3, "all", range(0, 13), ents), generate_rows(3, "all", range(13, 30), ents)],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(whole, halves)


def test_text_kind_draws_only_pre_extracted_pages():
    rows = generate_rows(5, "text", range(50), build_entities(5))
    assert rows["html"].isna().all()
    assert rows["text"].notna().all()
    assert [doc_id("text", k) % 10 for k in range(50)] == [7] * 50


def test_gold_rows_carry_the_planted_statements():
    rows = generate_rows(5, "all", range(20), build_entities(5))
    gold = [g for gs in rows["gold"] for g in gs]
    assert gold
    assert set(gold[0]) == {"para_idx", "sent_idx", "bel_statement", "evidence"}


# -- spans -------------------------------------------------------------------


class FakeClock:
    def __init__(self, times):
        self.times = iter(times)

    def __call__(self):
        return next(self.times)


def test_self_time_subtracts_direct_children():
    # job [0, 10] holds a [1, 4] and b [5, 9]; b holds c [6, 8]
    tracer = Tracer(clock=FakeClock([0, 1, 4, 5, 6, 8, 9, 10]))
    with tracer.span("job"):
        with tracer.span("a"):
            pass
        with tracer.span("b"):
            with tracer.span("c"):
                pass
    assert tracer.self_times() == {"job": 3, "a": 3, "b": 2, "c": 2}
    assert tracer.totals() == {"job": 10, "a": 3, "b": 4, "c": 2}


def test_self_time_sums_repeated_spans():
    tracer = Tracer(clock=FakeClock([0, 1, 2, 3, 5, 6]))
    with tracer.span("outer"):
        for _ in range(2):
            with tracer.span("inner"):
                pass
    assert tracer.self_times() == {"outer": 3, "inner": 3}


def test_covered_counts_overlap_once_and_clips_to_the_parent():
    assert _covered(0, 10, [(1, 4), (3, 6), (8, 12)]) == 5 + 2
    assert _covered(0, 10, []) == 0


def test_span_closes_when_the_body_raises():
    tracer = Tracer(clock=FakeClock([0, 2]))
    with pytest.raises(ValueError), tracer.span("boom"):
        raise ValueError
    assert tracer.totals() == {"boom": 2}


def test_patched_restores_the_attribute():
    class Store:
        def commit(self):
            return "real"

    with patched(Store, "commit", lambda self: "traced"):
        assert Store().commit() == "traced"
    assert Store().commit() == "real"


# -- BENCHMARK.json ----------------------------------------------------------


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_the_printed_metrics():
    spec = _spec()
    assert [[m["name"], m["unit"], m["better"], m["bound"]] for m in spec["end_to_end"]] == [
        list(m) for m in run.END_TO_END
    ]
    assert [[m["name"], m["unit"], m["better"]] for m in spec["per_layer"]] == [
        list(m) for m in run.PER_LAYER
    ]


def test_benchmark_json_names_the_workloads():
    from kgbench.jobs import WORKLOADS

    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)
    assert set(run.PAGES) == set(WORKLOADS)


# -- per-page replay ---------------------------------------------------------


def test_sentence_replay_finds_exactly_the_planted_gold():
    from kgbench.layers import replay

    ents = build_entities(9)
    pages = generate_rows(9, "all", range(40), ents)
    tracer = Tracer()
    replay(tracer, pages, build_alias_rows(9), engine="sentence")
    planted = sum(len(g) for g in pages["gold"])
    assert tracer.counts["statements.triples"] == planted
    assert tracer.counts["html_extract.pages"] == (pages["lang"] == "en").sum()
    assert set(tracer.self_times()) >= {"html_extract.paragraphs", "mentions.find", "statements.extract"}
