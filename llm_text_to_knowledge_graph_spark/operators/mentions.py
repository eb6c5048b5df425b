"""C1 — mention detection + grounding against a broadcast alias dictionary.

Reference parity: grounding_genes.py:13-52 (Gilda annotate per paragraph,
keep each mention's top match (db, id, entry_name)). Here the dictionary is
a Spark broadcast; scanning is a leftmost-longest token-index pass inside
an Arrow-batched Python crossing (no per-row Python call). Disambiguation of
an ambiguous surface form is top-1 by prior with a stable (db, id) tie-break
— the relational equivalent of "keep Gilda's top match".

At 100TB the dictionary (a few MB) broadcasts once per executor; the scan is
embarrassingly parallel with zero shuffle.
"""

from __future__ import annotations

import re
import uuid

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..schemas import MENTION

# per-executor-process matcher cache, keyed by a per-call uuid token (lazy
# init once per Python worker — the reference's lru_cache analog, SURVEY.md
# §4). NOT keyed by id(broadcast): memory addresses are reused after GC,
# which silently served a stale dictionary to later runs in one session.
_MATCHER_CACHE: dict[str, "AliasMatcher"] = {}


# token-index guard: if any first token keys more candidate aliases than
# this, a hostile text repeating that token degrades the per-token probe;
# fall back to the automaton, whose per-char cost is dictionary-invariant
_TOK_MAX_CANDIDATES = 256

_TOKEN_RE = re.compile(r"[\w-]+")

_WB_RE = re.compile(r"[\w-]")  # the alias word-boundary class
_ASCII_WB = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_-"
)


def _is_wb(ch: str) -> bool:
    """True if ch is in the [\\w-] boundary class (ASCII fast path)."""
    if ch.isascii():
        return ch in _ASCII_WB
    return _WB_RE.match(ch) is not None


def _top1(alias_rows) -> dict[str, tuple[str, str, str, float]]:
    """alias -> (db, id, entry_name, prior): top-1 by prior, stable (db, id)
    tie-break — the relational 'keep Gilda's top match'."""
    best: dict[str, tuple[str, str, str, float]] = {}
    for alias, db, ent_id, entry_name, prior in alias_rows:
        cur = best.get(alias)
        cand = (db, ent_id, entry_name, float(prior))
        if (
            cur is None
            or cand[3] > cur[3]
            or (cand[3] == cur[3] and (cand[0], cand[1]) < (cur[0], cur[1]))
        ):
            best[alias] = cand
    return best


class AliasMatcher:
    """Leftmost-longest dictionary matcher over word-boundary alias spans:
    at each position the longest boundary-valid alias wins and the scan
    resumes at its end.

    Two interchangeable engines with identical match semantics (pinned
    against an alternation-regex oracle by tests/test_ac_matcher.py):

      * ``tok``   — token-index scan: tokenize the text on the boundary
        class with one C-level ``finditer`` pass, hash each whole token
        against a dict keyed by every alias's first token, verify the few
        candidates (longest first) with ``str.startswith`` + one right-
        boundary char test. Python executes per TOKEN, not per char, and
        every hot operation (regex scan, dict probe, prefix compare) runs
        in C — profiled ~7x faster than ``ac`` on web text, and flat in
        dictionary size. Matches any alias whose first char is in
        ``[\\w-]`` via the index; the rare aliases that START with a
        non-word char (e.g. ``(+)-catechin``) are swept by a small
        zero-width-lookahead alternation and merged through the same
        longest-per-start greedy tail, so the output is bit-identical to
        ``ac`` for ANY dictionary.
      * ``ac``    — Aho-Corasick automaton (pure Python, built once per
        worker from the broadcast rows). All occurrences are collected in a
        single O(|text|) pass, then reduced to the same leftmost-longest
        non-overlapping selection. Per-char cost is dictionary-invariant.

    ``engine='auto'`` (default) picks ``tok``, falling back to ``ac`` only
    if some first token keys > 256 candidate aliases (pathological sharing,
    where the per-token probe loses its O(1) bound).
    """

    def __init__(
        self,
        alias_rows: list[tuple[str, str, str, str, float]],
        engine: str = "auto",
    ):
        best = _top1(alias_rows)
        self.lookup = best
        if engine not in ("auto", "tok", "ac"):
            raise ValueError(f"unknown matcher engine {engine!r}")
        if engine != "ac":
            self._build_tok(list(best))
            if engine == "auto":
                engine = (
                    "ac" if self._tok_max_cands > _TOK_MAX_CANDIDATES else "tok"
                )
        if engine == "ac":
            self._build_ac(list(best))
        self.engine = engine

    # -- Aho-Corasick ---------------------------------------------------------
    def _build_ac(self, patterns: list[str]) -> None:
        goto: list[dict[str, int]] = [{}]
        term: list[int] = [0]  # pattern length terminating at node, else 0
        for pat in patterns:
            node = 0
            for ch in pat:
                nxt = goto[node].get(ch)
                if nxt is None:
                    goto.append({})
                    term.append(0)
                    nxt = len(goto) - 1
                    goto[node][ch] = nxt
                node = nxt
            term[node] = len(pat)
        fail = [0] * len(goto)
        out: list[tuple[int, ...]] = [()] * len(goto)
        from collections import deque

        dq = deque()
        for child in goto[0].values():
            dq.append(child)
        while dq:
            u = dq.popleft()
            # fail[u] already final (BFS order: strictly shorter depth first)
            fu = fail[u]
            out[u] = ((term[u],) if term[u] else ()) + out[fu]
            for ch, v in goto[u].items():
                f = fu
                while f and ch not in goto[f]:
                    f = fail[f]
                fail[v] = goto[f].get(ch, 0)
                if fail[v] == v:  # depth-1 nodes fall back to root
                    fail[v] = 0
                dq.append(v)
        self._goto, self._fail, self._out = goto, fail, out
        # lazily-built DFA transition cache: (node << 21 | ord(ch)) -> next
        # node. Replaces the fail-link walk with one dict hit per character
        # after warm-up; bounded by live states x alphabet actually seen.
        self._trans: dict[int, int] = {}

    def _find_ac(self, text: str) -> list[tuple]:
        goto, fail, out = self._goto, self._fail, self._out
        trans = self._trans
        is_wb = _is_wb
        by_start: dict[int, int] = {}
        node = 0
        n = len(text)
        for i, ch in enumerate(text):
            key = (node << 21) | ord(ch)
            nxt = trans.get(key)
            if nxt is None:
                m = node
                while m and ch not in goto[m]:
                    m = fail[m]
                nxt = goto[m].get(ch, 0)
                trans[key] = nxt
            node = nxt
            lens = out[node]
            if not lens:
                continue
            if i + 1 < n and is_wb(text[i + 1]):
                continue  # right boundary fails for every length ending at i
            for length in lens:
                start = i - length + 1
                if start > 0 and is_wb(text[start - 1]):
                    continue  # left boundary
                if length > by_start.get(start, 0):
                    by_start[start] = length
        # leftmost-longest non-overlapping selection == the ordered-alternation
        # regex scan (longest alias wins at each position, resume at match end)
        result = []
        pos = 0
        for start in sorted(by_start):
            if start < pos:
                continue
            end = start + by_start[start]
            alias = text[start:end]
            db, ent_id, entry_name, prior = self.lookup[alias]
            result.append((start, end, alias, db, ent_id, entry_name, prior))
            pos = end
        return result

    # -- token index ----------------------------------------------------------
    def _build_tok(self, patterns: list[str]) -> None:
        by_first: dict[str, list[str]] = {}
        weird: list[str] = []
        for pat in patterns:
            m = _TOKEN_RE.match(pat)
            if m is not None and m.start() == 0:
                by_first.setdefault(m.group(0), []).append(pat)
            else:
                weird.append(pat)  # starts with a non-[\w-] char
        for cands in by_first.values():
            cands.sort(key=len, reverse=True)
        self._by_first = by_first
        self._tok_max_cands = max(map(len, by_first.values()), default=0)
        if weird:
            # zero-width lookahead: every start position is probed, the
            # length-desc alternation picks the longest boundary-valid
            # alias AT each start (finditer alone would consume matches
            # and skip overlapping starts the greedy tail may still need)
            ordered = sorted(weird, key=len, reverse=True)
            alt = "|".join(re.escape(a) for a in ordered)
            self._weird_rx = re.compile(rf"(?<![\w-])(?=({alt})(?![\w-]))")
        else:
            self._weird_rx = None

    def _find_tok(self, text: str) -> list[tuple]:
        by_first = self._by_first
        lookup = self.lookup
        is_wb = _is_wb
        n = len(text)
        if self._weird_rx is None:
            # fast path: every candidate start is a token start, so the
            # leftmost-longest greedy runs inline — no by_start dict
            result = []
            pos = 0
            for m in _TOKEN_RE.finditer(text):
                cands = by_first.get(m[0])
                if cands is None:
                    continue  # the overwhelmingly common token: one C probe
                start = m.start()
                if start < pos:
                    continue  # inside the previous match
                for alias in cands:  # longest first
                    end = start + len(alias)
                    if text.startswith(alias, start) and (
                        end >= n or not is_wb(text[end])
                    ):
                        db, ent_id, entry_name, prior = lookup[alias]
                        result.append(
                            (start, end, alias, db, ent_id, entry_name, prior)
                        )
                        pos = end
                        break
            return result
        # weird aliases can start anywhere a token does not: collect the
        # longest valid length per start from BOTH sources, then run the
        # same greedy tail as _find_ac (a token start and a weird start
        # never coincide — first chars are in disjoint classes)
        by_start: dict[int, int] = {}
        for m in _TOKEN_RE.finditer(text):
            start = m.start()
            cands = by_first.get(m.group(0))
            if cands is None:
                continue
            for alias in cands:
                end = start + len(alias)
                if text.startswith(alias, start) and (
                    end >= n or not is_wb(text[end])
                ):
                    by_start[start] = len(alias)
                    break
        for m in self._weird_rx.finditer(text):
            by_start[m.start()] = len(m.group(1))
        result = []
        pos = 0
        for start in sorted(by_start):
            if start < pos:
                continue
            end = start + by_start[start]
            alias = text[start:end]
            db, ent_id, entry_name, prior = lookup[alias]
            result.append((start, end, alias, db, ent_id, entry_name, prior))
            pos = end
        return result

    def find(self, text: str) -> list[tuple]:
        if self.engine == "tok":
            return self._find_tok(text)
        return self._find_ac(text)


def _get_matcher(bc, token: str) -> AliasMatcher:
    matcher = _MATCHER_CACHE.get(token)
    if matcher is None:
        if len(_MATCHER_CACHE) >= 8:  # bound worker memory across many runs
            _MATCHER_CACHE.clear()
        matcher = AliasMatcher(bc.value)
        _MATCHER_CACHE[token] = matcher
    return matcher


def detect_mentions(sentences: DataFrame, alias_rows: list) -> DataFrame:
    """sentences -> MENTIONS schema (sentence + array<mention struct>).

    ``alias_rows``: list of (alias, db, id, entry_name, prior) broadcast to
    every executor; the matcher is built once per Python worker.
    """
    spark = sentences.sparkSession
    bc = spark.sparkContext.broadcast(list(alias_rows))
    token = uuid.uuid4().hex

    @F.pandas_udf(ArrayType(MENTION))
    def _annotate(sent: pd.Series) -> pd.Series:
        matcher = _get_matcher(bc, token)
        return pd.Series(
            [
                [
                    {
                        "begin": b,
                        "end": e,
                        "alias": a,
                        "db": db,
                        "id": i,
                        "entry_name": n,
                        "score": p,
                    }
                    for (b, e, a, db, i, n, p) in matcher.find(s)
                ]
                for s in sent
            ]
        )

    return sentences.withColumn("mentions", _annotate(F.col("sentence")))


def explode_mentions(mentions_df: DataFrame) -> DataFrame:
    """Flat mention rows (url, para_idx, sent_idx, begin, end, db, id,
    entry_name, score) — the relational view of D3 for joins/eval."""
    return mentions_df.select(
        "url",
        "warc_ts",
        "para_idx",
        "sent_idx",
        F.explode("mentions").alias("m"),
    ).select(
        "url",
        "warc_ts",
        "para_idx",
        "sent_idx",
        F.col("m.begin").alias("begin"),
        F.col("m.end").alias("end"),
        F.col("m.alias").alias("alias"),
        F.col("m.db").alias("db"),
        F.col("m.id").alias("id"),
        F.col("m.entry_name").alias("entry_name"),
        F.col("m.score").alias("score"),
    )


def count_mentions_native(
    sentences: DataFrame, alias_rows: list, engine: str = "auto"
) -> DataFrame:
    """Pure-counting path: per-entity mention counts with NO Python
    crossing. Two JVM plans, selected by dictionary shape:

      * ``tokenize`` — when every alias is a single ``[\\w-]+`` token, the
        leftmost-longest boundary scan reduces to token equality: split on
        the boundary class, filter tokens against the dictionary inside the
        array, explode only the hits, broadcast-hash-join to entry names.
        All inside WholeStageCodegen. Speed vs the Arrow-batched Python
        matcher depends on TWO things the single numbers of earlier rounds
        hid (settled in round 3 with busy-core integrals — bench.py
        records them per query): available cores and rows-per-partition.
        Idle-box interleaved A/B at sf0.1: on a 1-partition input the
        Arrow matcher runs 1.3-1.7s at ~2 busy cores (cheapest in
        core-seconds — the per-partition automaton build amortizes over
        5000 docs) vs tokenize 0.9-1.1s at ~8.5 cores (fastest
        wall-clock); on the same input repartitioned 32 ways the Arrow
        matcher's build/batch overhead re-pays per partition (~2s at ~5
        cores, now losing BOTH axes) while tokenize drops to ~0.7s.
        So: tokenize wins small dictionaries outright; the Arrow matcher
        wins core-seconds only with big per-partition batches, and is the
        only engine whose cost stays flat past ~10^4 aliases (automaton;
        see AliasMatcher engine="ac"). The earlier "1.6x faster" /
        "parity" / "2x slower" flip-flops were these dependences plus
        cold-start noise, not a contradiction. Tokenize is ~5x faster
        than the alternation regex and keeps two structural wins: zero
        Python runtime on the hot path (pure-JVM deployability) and
        per-row cost flat in dictionary size.
      * ``regex`` — general fallback for multi-token aliases: the
        leftmost-longest semantics of ``AliasMatcher`` as one length-desc
        ordered alternation via
        ``regexp_extract_all`` with ``(?U)`` word-boundary lookarounds.
        Correct for any alias shape, but the JVM regex engine scans the
        alternation per character — at round-1 dictionary sizes it measured
        SLOWER than the Arrow-batched Python matcher (4.56s vs 1.40s at
        sf0.1), so it is the zero-Python-runtime option, not the fast one.

    ``auto`` picks ``tokenize`` whenever the dictionary allows it.
    """
    spark = sentences.sparkSession
    lookup = _top1(alias_rows)
    if not lookup:
        return spark.createDataFrame([], "entry_name string, n_mentions long")
    amap = spark.createDataFrame(
        [(a, v[2]) for a, v in lookup.items()],
        "alias string, entry_name string",
    )
    if engine == "auto":
        engine = (
            "tokenize"
            if all(_TOKEN_RE.fullmatch(a) for a in lookup)
            else "regex"
        )
    if engine == "tokenize":
        # (?U): Java \w must match the Unicode class the Python matcher
        # uses. Tokens are filtered against the dictionary INSIDE the array
        # (literal isin for small dicts) before the explode, so only actual
        # hits are exploded — the explode-everything variant measured slower
        # than the Python matcher because it shuffled every token.
        toks = F.split(F.col("sentence"), r"(?U)[^\w\-]+")
        aliases = list(lookup)
        if len(aliases) <= 1024:
            toks = F.filter(toks, lambda t: t.isin(aliases))
        hits = sentences.select(F.explode(toks).alias("alias"))
    else:
        ordered = sorted(lookup, key=len, reverse=True)
        pattern = (
            r"(?U)(?<![\w-])("
            + "|".join(re.escape(a) for a in ordered)
            + r")(?![\w-])"
        )
        hits = sentences.select(
            F.explode(
                F.regexp_extract_all(F.col("sentence"), F.lit(pattern), F.lit(1))
            ).alias("alias")
        )
    return (
        hits.join(F.broadcast(amap), "alias")
        .groupBy("entry_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_mentions"))
    )
