"""Tests of the benchmark's own logic; none starts a Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import duckdb  # noqa: E402
import layers  # noqa: E402
from questions import (  # noqa: E402
    LABELS,
    TEMPLATES,
    fill_sql,
    make_gazetteer,
    make_session,
    parse_question,
    repeat_share,
    split_batches,
    stub_llm,
)
from rag_oracle import GraphOracle, levenshtein, link_candidates  # noqa: E402
from spans import Span, self_times, union_length  # noqa: E402
from workloads import RAG_QUESTIONS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _inputs(seed, session=1):
    gaz = make_gazetteer(seed, datagen.VOCAB)
    return gaz, make_session(seed, gaz, session, 12), split_batches(seed, 300, 2)


def test_inputs_deterministic_per_seed():
    a, b, c = _inputs(7), _inputs(7), _inputs(8)
    assert a[:2] == b[:2]
    assert all((x == y).all() for x, y in zip(a[2], b[2]))
    assert a[1] != c[1]
    assert any((x != y).any() for x, y in zip(a[2], c[2]))
    assert _inputs(7, session=2)[1] != a[1]  # each session asks anew


def test_batches_partition_the_corpus():
    parts = split_batches(3, 301, 2)
    assert sorted(int(i) for p in parts for i in p) == list(range(301))
    assert abs(len(parts[0]) - len(parts[1])) <= 1


@pytest.mark.parametrize("seed", range(40))
def test_every_later_turn_repeats_an_entity_of_the_turn_before(seed):
    gaz = make_gazetteer(seed, datagen.VOCAB)
    entities = {n for group in gaz.values() for n in group}
    for session in range(5):
        qs = make_session(seed, gaz, session, RAG_QUESTIONS)
        asked = []
        for i, q in enumerate(qs):
            shape, names = parse_question(q)
            assert shape == i % len(TEMPLATES)
            assert set(names) <= entities and len(set(names)) == len(names)
            asked.append(list(names))
        assert all(set(asked[i]) & set(asked[i - 1]) for i in range(1, len(asked)))
        assert repeat_share(asked) == pytest.approx((len(asked) - 1) / len(asked))


def test_repeat_share():
    assert repeat_share([["a"], ["b"], ["a", "c"], ["c"]]) == pytest.approx(0.5)
    assert repeat_share([["a"]]) == 0.0
    assert repeat_share([]) == 0.0


def test_gazetteer_terms_match_only_themselves():
    # the ingest oracle counts whole corpus words, which holds only if no
    # gazetteer term occurs inside another corpus word or a template
    terms = set()
    for seed in range(20):
        gaz = make_gazetteer(seed, datagen.VOCAB)
        assert sorted(gaz) == sorted(LABELS)
        terms |= {t for group in gaz.values() for t in group}
    for t in terms:
        assert not any(t in w for w in datagen.VOCAB + ["dup"] if w != t)
        assert not any(t in tpl.lower() for tpl in TEMPLATES)


def test_self_time_on_synthetic_tree():
    spans = [
        Span(0, "root", None, None, 0.0, 10.0),
        Span(1, "a", 0, None, 1.0, 4.0),
        Span(2, "b", 0, None, 3.0, 6.0),  # overlaps a: covered once
        Span(3, "c", 1, None, 2.0, 3.0),
        Span(4, "d", 0, None, 9.0, 12.0),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_metric_names_are_valid_and_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(declared) == len(set(declared))
    assert all(NAME.match(n) for n in declared)
    assert [m["name"] for m in spec["per_layer"]] == [n for n, _ in layers.names()]
    assert {m["unit"] for m in spec["per_layer"]} <= {"s", "count", "ratio", "MB"}
    assert {w["name"] for w in spec["workloads"]} == set(layers.WORKLOADS)


@pytest.mark.parametrize("template", range(len(TEMPLATES)))
@pytest.mark.parametrize(
    "cands",
    [
        [],
        [{"name": "spark", "label": "Organization", "score": 1.0}],
        [
            {"name": "spark stream", "label": "Person", "score": 0.5},
            {"name": "o'brien", "label": "Location", "score": 1.0},
            {"name": "src3", "label": "Source", "score": 1.0},
        ],
    ],
)
def test_stub_sql_passes_package_guards(template, cands):
    from news_graph_rag_spark.graph_store import ALL_TABLES
    from news_graph_rag_spark.llm import assert_allowed_tables, assert_read_only

    sql = fill_sql(TEMPLATES[template].format("spark", "join"), cands)
    assert_read_only(sql)
    assert_allowed_tables(sql, set(ALL_TABLES))


def test_stub_reads_candidates_from_the_real_prompt():
    from news_graph_rag_spark.llm import QUERY_PROMPT, SQL_EXAMPLES, map_candidates_to_context

    cands = [{"name": "spark", "label": "Organization", "uid": "Organization:x", "score": 1.0}]
    prompt = QUERY_PROMPT.format(
        schema="(schema)",
        entities=map_candidates_to_context(cands),
        examples=SQL_EXAMPLES,
        question=TEMPLATES[0].format("spark"),
    )
    sql = stub_llm(prompt)
    assert "JOIN organization p" in sql and "IN ('spark')" in sql


def test_tables_deterministic_per_seed():
    a, b, c = (datagen.make_tables(s, 0.001) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["documents"].equals(c["documents"])
    only = datagen.make_tables(3, 0.001, ("documents",))
    assert list(only) == ["documents"] and only["documents"].equals(a["documents"])


def test_levenshtein():
    assert levenshtein("spark", "spark") == 0
    assert levenshtein("spark", "sparks") == 1
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("", "ab") == 2


def test_link_candidates_fuzzy_and_semantics():
    ents = [
        ("Organization", "o1", "spark"),
        ("Organization", "o2", "spork"),  # 1 edit
        ("Person", "p1", "spark stream"),
        ("Location", "l1", "join"),
        ("Location", "l2", "joint"),
    ]
    got = link_candidates(ents, ["spark", "join", "spark"], limit=2)
    assert [(c["probe"], c["uid"], c["score"], c["rnk"]) for c in got] == [
        # exact matches first (score 1), then by name, then uid; top 2
        ("spark", "o1", 1.0, 1),
        ("spark", "p1", 1.0, 2),
        ("join", "l1", 1.0, 1),
        ("join", "l2", 0.5, 2),
    ]
    # AND semantics: every probe token must match some name token
    assert [c["uid"] for c in link_candidates(ents, ["spark stream"])] == ["p1"]


def _toy_graph():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE c(uid VARCHAR, text VARCHAR, embedding FLOAT[], position INT, "
        "section VARCHAR, category VARCHAR)"
    )
    rows = [
        ("c1", "spark join spark", [1.0, 0.0], 0, None, None),
        ("c2", "hash join", [0.0, 1.0], 0, None, None),
        ("c3", "sort", [0.6, 0.8], 0, None, None),
        ("c4", "scan", [0.0, 0.0], 0, None, None),
    ]
    con.executemany("INSERT INTO c VALUES (?, ?, ?, ?, ?, ?)", rows)
    con.execute("CREATE VIEW chunk AS SELECT * FROM c")
    return GraphOracle(con)


def test_fused_scores_and_hits_check():
    g = _toy_graph()
    scores = g.fused_scores("spark?", [1.0, 0.0], ["c3"])
    # c1 holds the keyword twice (kw max) and the best cosine; c3 is a
    # vector candidate only; c2 and c4 are no candidates
    assert scores == pytest.approx({"c1": 1.0, "c3": 0.6})
    hit = lambda u: (u, g.chunk[u][1], scores.get(u, 0.6), 0, None, None)  # noqa: E731
    assert g.hits_ok([hit("c1"), hit("c3")], scores, 5)
    assert not g.hits_ok([hit("c1")], scores, 5)  # too few hits
    assert not g.hits_ok([hit("c3"), hit("c1")], scores, 5)  # out of order
    assert not g.hits_ok([hit("c1"), hit("c2")], scores, 5)  # not a candidate
