"""Alias-matcher engines: exact parity with an alternation-regex oracle.

The token-index (``tok``) and Aho-Corasick (``ac``) engines must produce
identical mention tuples on any input. The oracle below is the reference
semantics: one alternation ordered by length desc, so at each position the
longest boundary-valid alias wins and the scan resumes at the match end.
"""

import random
import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from llm_text_to_knowledge_graph_spark.operators.mentions import (
    AliasMatcher,
    _top1,
)


class RegexOracle:
    """Leftmost-longest alias scan as one length-desc alternation regex."""

    def __init__(self, alias_rows):
        self.lookup = _top1(alias_rows)
        ordered = sorted(self.lookup, key=len, reverse=True)
        pattern = "|".join(re.escape(a) for a in ordered)
        self.rx = re.compile(rf"(?<![\w-])({pattern})(?![\w-])") if ordered else None

    def find(self, text):
        if self.rx is None:
            return []
        out = []
        for m in self.rx.finditer(text):
            alias = m.group(1)
            db, ent_id, entry_name, prior = self.lookup[alias]
            out.append((m.start(), m.end(), alias, db, ent_id, entry_name, prior))
        return out

ROWS = [
    ("spark", "V", "1", "SPARK", 1.0),
    ("spark sql", "V", "2", "SPARK_SQL", 1.0),
    ("spark sql engine", "V", "3", "SSE", 1.0),
    ("sql", "V", "4", "SQL", 0.9),
    ("a+b", "V", "5", "APLUSB", 1.0),
    ("b", "V", "6", "B", 0.5),
    ("b", "W", "7", "B2", 0.9),  # ambiguous surface form, top-1 by prior
    ("été", "V", "8", "ETE", 1.0),  # unicode alias
    ("ab cd", "V", "9", "ABCD", 1.0),
    ("ab", "V", "10", "AB", 1.0),
]

TRICKY = [
    "spark sql engine beats spark sql beats spark beats sql",
    "sparky is not spark, but spark-sql has hyphens",
    "a+b and a+bc and b alone and étéX vs été ok",
    "ab cdX falls back to ab; ab cd stands alone",
    "bbbb b b,b",
    "",
    "no hits at all here",
    "spark sql engin",  # prefix of a long alias, shorter must win
]


def _pairs(m, texts):
    return [m.find(t) for t in texts]


def test_engines_agree_on_tricky_corpus():
    rx = RegexOracle(ROWS)
    ac = AliasMatcher(ROWS, engine="ac")
    tok = AliasMatcher(ROWS, engine="tok")
    assert _pairs(rx, TRICKY) == _pairs(ac, TRICKY) == _pairs(tok, TRICKY)
    # and they actually match things
    assert any(any(f) for f in _pairs(ac, TRICKY))


def test_top1_disambiguation_identical():
    rx = RegexOracle(ROWS)
    ac = AliasMatcher(ROWS, engine="ac")
    got_rx = rx.find("b")
    got_ac = ac.find("b")
    assert got_rx == got_ac
    assert got_rx[0][5] == "B2"  # prior 0.9 beats 0.5


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet=" abcdeé+-_,.()", min_size=0, max_size=60),
)
def test_engines_agree_property(text):
    rx = RegexOracle(ROWS)
    ac = AliasMatcher(ROWS, engine="ac")
    tok = AliasMatcher(ROWS, engine="tok")
    assert rx.find(text) == ac.find(text) == tok.find(text)


WEIRD_ROWS = ROWS + [
    ("(+)-cat", "V", "11", "PCAT", 1.0),  # starts with a non-[\w-] char
    ("+b", "V", "12", "PLUSB", 1.0),
    ("(ab", "V", "13", "PAB", 1.0),
]


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet=" abcdeé+-_,.()t", min_size=0, max_size=60),
)
def test_engines_agree_weird_alias_property(text):
    """Aliases that start with a non-word char exercise the token-index
    engine's lookahead sweep + merged greedy tail."""
    rx = RegexOracle(WEIRD_ROWS)
    ac = AliasMatcher(WEIRD_ROWS, engine="ac")
    tok = AliasMatcher(WEIRD_ROWS, engine="tok")
    assert rx.find(text) == ac.find(text) == tok.find(text)


def test_engines_agree_random_dictionary():
    rng = random.Random(7)
    alphabet = string.ascii_lowercase[:6] + " -"
    rows = []
    for i in range(400):
        alias = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6))).strip()
        if alias:
            rows.append((alias, "R", str(i), alias.upper(), rng.random()))
    rx = RegexOracle(rows)
    ac = AliasMatcher(rows, engine="ac")
    tok = AliasMatcher(rows, engine="tok")
    for _ in range(300):
        text = "".join(rng.choice(alphabet + "xyz,.") for _ in range(rng.randint(0, 80)))
        assert rx.find(text) == ac.find(text) == tok.find(text), text


def test_auto_selects_tok_at_every_size():
    rows = [(f"alias{i}", "V", str(i), f"A{i}", 1.0) for i in range(2048)]
    for n in (0, 1, 10, 2048):
        assert AliasMatcher(rows[:n]).engine == "tok"
    assert AliasMatcher([]).find("alias7 and alias1999") == []
    # identical results any way
    text = "alias7 and alias1999 and alias2048x"
    assert (
        AliasMatcher(rows, engine="ac").find(text)
        == RegexOracle(rows).find(text)
        == AliasMatcher(rows).find(text)
    )
    small = rows[:10]
    assert AliasMatcher(small).find(text) == RegexOracle(small).find(text)


def test_unknown_engine_rejected():
    import pytest

    with pytest.raises(ValueError, match="regex"):
        AliasMatcher(ROWS, engine="regex")


def test_auto_falls_back_to_ac_on_pathological_sharing():
    # > _TOK_MAX_CANDIDATES aliases share the first token "tnf": a text
    # repeating "tnf" would probe the whole candidate list per token, so
    # auto must keep the dictionary-invariant automaton
    rows = [
        (f"tnf {'x' * (i % 7)} v{i}", "V", str(i), f"A{i}", 1.0)
        for i in range(2048 + 300)
    ]
    m = AliasMatcher(rows)
    assert m.engine == "ac"
    # explicit tok still works and agrees
    text = "tnf x v3 and tnf v0 and tnf xx v9001"
    assert AliasMatcher(rows, engine="tok").find(text) == m.find(text)
