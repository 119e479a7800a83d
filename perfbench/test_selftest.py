"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json

import oracle
from gen import CAMEL_ONLY, HOT, Generator


def _inputs(seed: int) -> bytes:
    g = Generator(seed)
    c = g.corpus(300)
    new = g.delta(c, 0.10)
    pool = g.query_pool(new, oracle.tokenize, 6)
    return json.dumps([c.rows(), c.clusters, new.rows(), pool, g.stream(pool, 50)]).encode()


def test_same_seed_gives_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_different_seed_gives_different_inputs():
    assert _inputs(7) != _inputs(8)


def test_corpus_has_planted_properties():
    c = Generator(3).corpus(400)
    toks = {d: oracle.tokenize(doc.content) for d, doc in c.docs.items()}
    hot = sum(any(t in HOT for t in ts) for ts in toks.values())
    assert 0.3 < hot / len(c.docs) < 0.8
    words = {w for doc in c.docs.values() for w in doc.content.replace(";", " ").split()}
    assert not words & set(CAMEL_ONLY)  # sub-tokens only inside identifiers
    assert any(t in CAMEL_ONLY for ts in toks.values() for t in ts)
    assert any(not doc.content.isascii() for doc in c.docs.values())
    sizes = sorted(len(cl) for cl in c.clusters)
    assert sizes[-1] >= 20 and len(c.clusters) >= 4


def test_tokenizer_spec():
    assert oracle.tokenize("HTMLParser parseHTML snake_case x2Y") == [
        "html", "parser", "parse", "html", "snake", "case", "x2", "y"]


def _index():
    return oracle.TextIndex({1: "alpha beta gamma alpha", 2: "beta gamma",
                             3: "alphaBeta gamma delta", 4: "delta epsilon"})


def test_bm25_oracle_flags_corruption():
    ox = _index()
    scores = ox.bm25(oracle.query_terms("alpha gamma"), 3.0)
    good = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:2]
    assert oracle.check_topk(good, scores, 2) is None
    assert oracle.check_topk(good[::-1], scores, 2) is not None  # wrong order
    assert oracle.check_topk([(good[0][0], good[0][1] + 1e-3), good[1]], scores, 2) is not None
    assert oracle.check_topk(good[:1], scores, 2) is not None  # missing hit
    assert oracle.check_topk([good[0], (4, 0.1)], scores, 2) is not None  # non-match


def test_phrase_oracle_flags_corruption():
    ox = _index()
    tfs = ox.phrase_tf("beta gamma")
    assert tfs == {1: 1, 2: 1, 3: 1}
    good = [(1, 1), (2, 1), (3, 1)]
    assert oracle.check_phrase(good, tfs, 10) is None
    assert oracle.check_phrase([(1, 2), (2, 1), (3, 1)], tfs, 10) is not None
    assert oracle.check_phrase(good[:2], tfs, 10) is not None


def test_grep_oracle_flags_corruption():
    ox = _index()
    assert oracle.check_grep([1, 3], ox.grep("alpha")) is None
    assert oracle.check_grep([1], ox.grep("alpha")) is not None
    assert oracle.check_grep([], ox.grep("zzz")) is None


def test_search_oracle_grammar_and_corruption():
    ox = _index()
    got = ox.search('+gamma -delta alph* "beta gamma"', 3.0, 10)
    assert [d for d, _ in got] == [1, 2]
    assert ox.search('"beta gamma"', 3.0, 10) == []  # phrases only constrain
    scores = dict(ox.search("+gamma alpha", 3.0, 10))
    good = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    assert oracle.check_topk(good, scores, 10) is None
    assert oracle.check_topk(good[1:], scores, 10) is not None


def test_dedup_oracle_flags_corruption():
    g = Generator(5)
    c = g.corpus(200)
    content = {d: doc.content for d, doc in c.docs.items()}
    pairs, comps = [], {}
    for cl in c.clusters:
        rep = min(cl)
        for d in cl:
            comps[d] = rep
            if d != rep:
                pairs.append((min(rep, d), max(rep, d), oracle.jaccard(content[rep], content[d])))
    kept = set(content) - {d for d, r in comps.items() if d != r}
    near = [p for p in pairs if p[2] >= 0.5]
    ok = oracle.check_dedup(content, c.clusters, pairs, comps, kept, 0.5, near[:20])
    assert ok == []
    split = dict(comps)
    split[c.clusters[0][0]] = c.clusters[0][0] + 1
    assert oracle.check_dedup(content, c.clusters, pairs, split, kept, 0.5, []) != []
    assert oracle.check_dedup(content, c.clusters, pairs, comps,
                              kept | set(c.clusters[-1]), 0.5, []) != []
    a, b, j = near[0]
    assert oracle.check_dedup(content, c.clusters, pairs, comps, kept, 0.5,
                              [(a, b, j - 0.1)]) != []

