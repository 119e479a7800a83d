"""Independent correctness oracles: pure-Python scans over the generated
documents.  Nothing here imports the library; the tokenizer below is a
second implementation of the engine's published tokenizer spec (v1).

Each ``check_*`` returns ``None`` when the answer is right and a one-line
reason when it is wrong.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

_RULE_A = re.compile(r"([A-Z]+)([A-Z][a-z])")
_RULE_B = re.compile(r"([a-z0-9])([A-Z])")
_SPLIT = re.compile(r"[^a-z0-9]+")

SCORE_TOL = 1e-6  # a returned score may differ from the oracle's by this
TIE_TOL = 1e-9  # two docs closer than this may come in either order


def tokenize(text: str) -> list[str]:
    """Tokenizer spec v1: split CamelCase runs, then lower->Upper
    boundaries, lowercase, split on runs of [^a-z0-9]."""
    s = _RULE_B.sub(r"\1 \2", _RULE_A.sub(r"\1 \2", text))
    return [t for t in _SPLIT.split(s.lower()) if t]


def query_terms(text: str) -> list[str]:
    return sorted(set(tokenize(text)))


class TextIndex:
    """Inverted index over one corpus state (doc_id -> content)."""

    def __init__(self, content: dict[int, str], k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.content = content
        self.tokens = {d: tokenize(c) for d, c in self.content.items()}
        self.dl = {d: len(t) for d, t in self.tokens.items()}
        self.postings: dict[str, dict[int, int]] = defaultdict(dict)
        for d, toks in self.tokens.items():
            for t, tf in Counter(toks).items():
                self.postings[t][d] = tf
        self.n_docs = len(self.tokens)
        self.n_postings = sum(len(p) for p in self.postings.values())

    def idf(self, term: str) -> float:
        df = len(self.postings.get(term, ()))
        return math.log((self.n_docs - df + 0.5) / (df + 0.5) + 1.0)

    def _partial(self, term: str, doc: int, avgdl: float) -> float:
        tf = self.postings[term][doc]
        norm = 1.0 - self.b + self.b * self.dl[doc] / avgdl
        return self.idf(term) * tf * (self.k1 + 1.0) / (tf + self.k1 * norm)

    def bm25(self, terms: list[str], avgdl: float,
             allow: set[int] | None = None) -> dict[int, float]:
        scores: dict[int, float] = defaultdict(float)
        for t in sorted(set(terms)):
            for d in self.postings.get(t, ()):
                if allow is None or d in allow:
                    scores[d] += self._partial(t, d, avgdl)
        return dict(scores)

    def phrase_tf(self, phrase: str) -> dict[int, int]:
        """doc -> number of start positions where the phrase's tokens occur
        consecutively (overlapping occurrences count)."""
        pt = tokenize(phrase)
        if not pt:
            return {}
        cands = None
        for t in set(pt):
            ds = set(self.postings.get(t, ()))
            cands = ds if cands is None else cands & ds
        out = {}
        n = len(pt)
        for d in cands or ():
            toks = self.tokens[d]
            c = sum(1 for i in range(len(toks) - n + 1) if toks[i:i + n] == pt)
            if c:
                out[d] = c
        return out

    def grep(self, needle: str) -> list[int]:
        return sorted(d for d, c in self.content.items() if needle in c)

    def search(self, query: str, avgdl: float, k: int) -> list[tuple[int, float]]:
        """The engine's query grammar restricted to what the benchmark sends:
        +must, -not, should terms, prefix*, and "phrase" (+/-).  A query with
        no term or prefix group matches nothing (phrases only constrain)."""
        groups: list[tuple[set[str], bool, bool]] = []  # (terms, must, neg)
        phrases: list[tuple[str, bool]] = []  # (body, neg)
        for raw in re.findall(r'[+-]?"[^"]*"|\S+', query):
            op = ""
            if raw[:1] in "+-":
                op, raw = raw[0], raw[1:]
            if not raw:
                continue
            if raw.startswith('"') and raw.endswith('"') and len(raw) >= 2:
                if raw[1:-1].strip():
                    phrases.append((raw[1:-1].strip(), op == "-"))
                continue
            if raw.endswith("*") and len(raw) > 1 and "*" not in raw[:-1]:
                pre = raw[:-1].lower()
                groups.append(({t for t in self.postings if t.startswith(pre)},
                               op == "+", op == "-"))
                continue
            subs = query_terms(raw)
            if op == "+":
                groups.extend(({t}, True, False) for t in subs)
            elif subs:
                groups.append((set(subs), False, op == "-"))
        if not groups:
            return []
        scored = {t for g, _, neg in groups if not neg for t in g}
        neg_terms = {t for g, _, neg in groups if neg for t in g}
        must = [g for g, m, neg in groups if m and not neg]
        every = {t for g, _, _ in groups for t in g}
        docs = {d for t in every for d in self.postings.get(t, ())}
        hits = {}
        for d in docs:
            if any(d in self.postings.get(t, ()) for t in neg_terms):
                continue
            if not all(any(d in self.postings.get(t, ()) for t in g) for g in must):
                continue
            hits[d] = sum(self._partial(t, d, avgdl) for t in scored
                          if d in self.postings.get(t, ()))
        for body, neg in phrases:
            has = set(self.phrase_tf(body))
            hits = {d: s for d, s in hits.items() if (d in has) != neg}
        return sorted(hits.items(), key=lambda x: (-x[1], x[0]))[:k]


def check_topk(got: list[tuple[int, float]], scores: dict[int, float], k: int) -> str | None:
    """Rank-identical top-k under (score desc, doc_id asc); a swap is
    allowed only between docs whose oracle scores tie within TIE_TOL."""
    want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
    if len(got) != len(want):
        return f"{len(got)} results, oracle has {len(want)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc in results"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if gd not in scores:
            return f"rank {i}: doc {gd} does not match the query"
        if abs(gs - scores[gd]) > SCORE_TOL:
            return f"rank {i}: doc {gd} score {gs!r}, oracle {scores[gd]!r}"
        if gd != wd and abs(scores[gd] - ws) > TIE_TOL:
            return f"rank {i}: doc {gd}, oracle doc {wd}"
    return None


def check_phrase(got: list[tuple[int, int]], tfs: dict[int, int], k: int) -> str | None:
    want = sorted(tfs.items(), key=lambda x: (-x[1], x[0]))[:k]
    if [(int(d), int(t)) for d, t in got] != want:
        return f"phrase top-{k} {got[:3]}..., oracle {want[:3]}..."
    return None


def check_grep(got: list[int], want: list[int]) -> str | None:
    if list(got) != want:
        return f"{len(got)} hits, oracle {len(want)}"
    return None


# -- dedup ---------------------------------------------------------------------------

def shingles(text: str, n: int = 3) -> set[str]:
    toks = tokenize(text)
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    u = sa | sb
    return len(sa & sb) / len(u) if u else 0.0


def check_dedup(
    content: dict[int, str],
    clusters: list[list[int]],
    pairs: list[tuple[int, int, float]],
    components: dict[int, int],
    survivors: set[int],
    threshold: float,
    sample: list[tuple[int, int, float]],
) -> list[str]:
    """Every planted cluster is exactly one component and keeps exactly one
    survivor; no two clusters share a component; the sampled pairs'
    Jaccard recomputes to the reported value and clears the threshold; the
    survivors are the corpus minus every non-representative."""
    errs = []
    seen: dict[int, int] = {}
    for ci, cl in enumerate(clusters):
        comps = {components.get(d) for d in cl}
        if len(comps) != 1 or None in comps:
            errs.append(f"cluster {ci} ({len(cl)} docs) split into {len(comps)} components")
            continue
        comp = comps.pop()
        if comp in seen:
            errs.append(f"clusters {seen[comp]} and {ci} merged")
        seen[comp] = ci
        kept = [d for d in cl if d in survivors]
        if len(kept) != 1:
            errs.append(f"cluster {ci} keeps {len(kept)} docs")
    losers = {d for d, c in components.items() if d != c}
    if survivors != set(content) - losers:
        errs.append(f"{len(survivors)} survivors, expected {len(set(content) - losers)}")
    for a, b, j in sample:
        want = jaccard(content[a], content[b])
        if abs(want - j) > 1e-9 or want < threshold:
            errs.append(f"pair ({a}, {b}) jaccard {j}, oracle {want}")
    return errs
