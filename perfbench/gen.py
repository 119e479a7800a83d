"""Seeded input generator for the benchmark.

Pure Python and independent of ``bliss_rs_spark.corpus``: a library change
cannot change the inputs.  Everything derives from one ``random.Random``
seeded by the workload seed, so the same seed gives byte-identical inputs.

The corpus is in the documents shape of the engine's input contract
(repo, path, commit, lang, content) plus the two row invariants the
library accepts from its caller (``doc_id``, ``content_sha256``), so the
oracles know every doc's identity without asking the library.

Planted properties:

- forced-hot terms (``HOT``) in about half of the docs (posting-list skew);
- exact-duplicate clusters, near-duplicate clusters, one oversized
  near-duplicate cluster (LSH bucket skew) and one chain-shaped sequence
  whose far ends are not near-duplicates (label propagation needs several
  rounds);
- sub-tokens (``CAMEL_ONLY``) that occur only inside camelCase or
  snake_case identifiers, so they match only after identifier splitting;
- a small share of non-ASCII identifiers;
- rare identifiers (document frequency 1 or 2).
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

LANGS = ["rust", "python", "java", "go", "c"]
EXT = {"rust": "rs", "python": "py", "java": "java", "go": "go", "c": "c"}
KEYWORDS = {
    "rust": ["fn", "impl", "let", "match", "pub", "struct", "mut"],
    "python": ["def", "class", "import", "self", "yield", "lambda"],
    "java": ["public", "class", "void", "static", "new", "final"],
    "go": ["func", "type", "struct", "defer", "chan", "range"],
    "c": ["int", "void", "struct", "static", "sizeof", "extern"],
}
HOT = ["return", "value", "data"]
WORDS = [
    "buffer", "cursor", "offset", "length", "stream", "shard", "bucket",
    "merge", "score", "query", "index", "token", "block", "delta", "cache",
    "batch", "commit", "handle", "writer", "reader", "config", "error",
    "thread", "socket", "parse", "format", "filter", "window", "vector",
    "matrix", "record", "schema", "column", "table", "cluster", "router",
    "session", "request", "response", "payload", "header", "footer",
    "signal", "future", "promise", "channel", "worker", "queue", "lock",
    "mutex", "atomic", "pointer", "array", "slice", "string", "bytes",
    "reduce", "spill", "flush", "sync", "commit", "rollback", "retry",
]
# Sub-tokens that never occur as standalone words: they reach the index
# only through camelCase / snake_case identifier splitting.
CAMEL_ONLY = [
    "vorpal", "snark", "frabjous", "tulgey", "borogove", "mimsy", "wabe",
    "jubjub", "bandersnatch", "gyre", "gimble", "outgrabe",
]
NON_ASCII = ["größeLimit", "naïveSet", "déjàVu", "ñanduCount", "Ünïcode",
             "İndexKey", "データ", "façadeImpl"]
_CONSONANTS = "bcdfghjklmnpqrstvwxz"
# query_pool cycles the BM25 queries through this many kinds: rare
# identifier, hot keyword, multi-term, camelCase-only, filtered, two-word
BM25_KINDS = 6


def sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def doc_id_of(repo: str, path: str) -> int:
    """Stable positive 63-bit id of a (repo, path) pair."""
    h = hashlib.sha256(f"{repo}/{path}".encode()).digest()
    return int.from_bytes(h[:8], "big") >> 1


@dataclass
class Doc:
    doc_id: int
    repo: str
    path: str
    commit: str
    lang: str
    content: str

    def row(self) -> tuple:
        return (self.repo, self.path, self.commit, self.lang, self.content,
                self.doc_id, sha256_hex(self.content))


ROW_SCHEMA = (
    "repo string, path string, commit string, lang string, content string, "
    "doc_id long, content_sha256 string"
)


@dataclass
class Corpus:
    docs: dict[int, Doc]
    # planted near-duplicate clusters (exact, near, oversized, chain), each a
    # list of doc_ids; the dedup oracle checks each ends up as one component
    clusters: list[list[int]] = field(default_factory=list)

    def rows(self) -> list[tuple]:
        return [self.docs[d].row() for d in sorted(self.docs)]


class Generator:
    """Deterministic stream of corpus states, deltas and queries."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed)
        self._next_file = 0

    # -- identifiers and lines -------------------------------------------------

    def _rare(self) -> str:
        r = self.rng
        return "q" + "".join(r.choice(_CONSONANTS) for _ in range(6))

    def _ident(self) -> str:
        r = self.rng
        a, b = r.choice(CAMEL_ONLY), r.choice(WORDS)
        style = r.random()
        if style < 0.4:
            return a + b.capitalize()  # vorpalBuffer
        if style < 0.7:
            return f"{b}_{a}"  # buffer_vorpal
        if style < 0.85:
            return "HTTP" + a.capitalize() + b.capitalize()  # HTTPVorpalBuffer
        return b + a.capitalize() + r.choice(CAMEL_ONLY).capitalize()

    def _line(self, lang: str) -> str:
        r = self.rng
        parts = [r.choice(KEYWORDS[lang])]
        if r.random() < 0.5:
            parts.append(self._ident())
        parts.extend(r.choice(WORDS) for _ in range(r.randint(2, 6)))
        if r.random() < 0.02:
            parts.append(r.choice(NON_ASCII))
        return " ".join(parts) + ";"

    def _content(self, lang: str) -> str:
        r = self.rng
        lines = [self._line(lang) for _ in range(r.randint(4, 18))]
        if r.random() < 0.5:
            lines.insert(r.randrange(len(lines) + 1), f"{r.choice(HOT)} {r.choice(WORDS)};")
        if r.random() < 0.06:
            lines.append(f"let {self._rare()} = {r.randint(0, 999)};")
        return "\n".join(lines)

    def _new_doc(self, content: str | None = None, lang: str | None = None) -> Doc:
        r = self.rng
        i = self._next_file
        self._next_file += 1
        lang = lang or r.choice(LANGS)
        repo = f"org{i % 7}/repo{(i * 31) % 23}"
        path = f"src/mod_{i % 13}/file_{i}.{EXT[lang]}"
        commit = hashlib.sha1(f"{self.seed}:{i}".encode()).hexdigest()
        return Doc(doc_id_of(repo, path), repo, path, commit, lang,
                   content if content is not None else self._content(lang))

    # -- planted clusters ---------------------------------------------------------

    def _long_tokens(self, n: int) -> list[str]:
        """A token stream with no repeated 3-gram, so shingle overlap is
        exactly what the planted edits leave behind."""
        r = self.rng
        return [f"{r.choice(WORDS)}{r.randint(0, 99)}" for _ in range(n)]

    @staticmethod
    def _as_content(tokens: list[str], per_line: int = 8) -> str:
        return "\n".join(
            " ".join(tokens[i:i + per_line]) + ";"
            for i in range(0, len(tokens), per_line)
        )

    def _near_cluster(self, size: int) -> list[Doc]:
        """A base doc plus variants, each with one token replaced: word
        3-gram Jaccard to the base is ~0.95, so MinHash-LSH finds the pairs
        with overwhelming probability."""
        base = self._long_tokens(120)
        docs = [self._new_doc(self._as_content(base))]
        for _ in range(size - 1):
            v = list(base)
            v[self.rng.randrange(len(v))] = f"edit{self.rng.randint(0, 10**6)}"
            docs.append(self._new_doc(self._as_content(v)))
        return docs

    def _chain(self, length: int, width: int = 120, step: int = 3) -> list[Doc]:
        """Sliding windows over one long stream: neighbours share all but
        ``step`` tokens (Jaccard ~0.95) while docs more than ~13 steps apart
        fall below 0.5, so the pair graph is a band, not a clique."""
        stream = self._long_tokens(width + step * (length - 1))
        return [
            self._new_doc(self._as_content(stream[i * step:i * step + width]))
            for i in range(length)
        ]

    def corpus(self, n_docs: int) -> Corpus:
        """Initial corpus of ``n_docs`` docs, planted clusters included."""
        planted: list[list[Doc]] = []
        for _ in range(max(2, n_docs // 400)):  # exact duplicates
            src = self._content(self.rng.choice(LANGS))
            planted.append([self._new_doc(src) for _ in range(self.rng.randint(2, 4))])
        for _ in range(max(2, n_docs // 300)):  # near duplicates
            planted.append(self._near_cluster(self.rng.randint(3, 6)))
        planted.append(self._near_cluster(max(20, n_docs // 25)))  # oversized
        planted.append(self._chain(30))
        n_planted = sum(len(c) for c in planted)
        docs = [d for c in planted for d in c]
        docs += [self._new_doc() for _ in range(max(0, n_docs - n_planted))]
        return Corpus({d.doc_id: d for d in docs},
                      [[d.doc_id for d in c] for c in planted])

    # -- deltas ---------------------------------------------------------------------

    def delta(self, corpus: Corpus, share: float) -> Corpus:
        """Next corpus state: ``share`` of the docs change, split between
        modifications, additions and deletions (hash-scattered: picks are
        uniform over doc ids)."""
        r = self.rng
        n = max(3, round(len(corpus.docs) * share))
        n_del = n_add = n // 3
        n_mod = n - n_del - n_add
        picked = r.sample(sorted(corpus.docs), n_mod + n_del)
        docs = dict(corpus.docs)
        for d in picked[:n_mod]:
            old = docs[d]
            lines = old.content.split("\n")
            lines[r.randrange(len(lines))] = self._line(old.lang)
            lines.append(f"{r.choice(WORDS)} {self._rare()};")
            docs[d] = Doc(old.doc_id, old.repo, old.path, old.commit, old.lang,
                          "\n".join(lines))
        for d in picked[n_mod:]:
            del docs[d]
        for _ in range(n_add):
            doc = self._new_doc()
            docs[doc.doc_id] = doc
        return Corpus(docs, corpus.clusters)

    # -- query streams -----------------------------------------------------------

    def _doc_tokens(self, corpus: Corpus, tokenize) -> list[list[str]]:
        ids = sorted(corpus.docs)
        picks = [corpus.docs[d] for d in self.rng.sample(ids, min(200, len(ids)))]
        return [t for t in (tokenize(d.content) for d in picks) if len(t) >= 4]

    def query_pool(self, corpus: Corpus, tokenize, size: int) -> list[tuple]:
        """``size`` queries per class: (class, payload...) tuples.

        bm25: (text, k, filter or None); phrase: (text,); grep: (needle,);
        search: (query string,).  ``tokenize`` is the oracle's tokenizer,
        used only to sample phrases that occur in the corpus."""
        r = self.rng
        toks = self._doc_tokens(corpus, tokenize)
        contents = [corpus.docs[d].content for d in sorted(corpus.docs)]
        rare = sorted({t for c in contents for t in c.replace(";", " ").split()
                       if t.startswith("q") and len(t) == 7})
        out: list[tuple] = []
        for i in range(size):
            kind = i % BM25_KINDS
            k = 100 if i % 5 == 0 else 10
            if kind == 0 and rare:
                text = r.choice(rare)
            elif kind == 1:
                text = f"{r.choice(HOT)} {r.choice(WORDS)}"
            elif kind == 2:
                text = " ".join(r.sample(WORDS, r.randint(3, 4)))
            elif kind == 3:
                a = r.choice(CAMEL_ONLY)
                text = a + r.choice(WORDS).capitalize() if r.random() < 0.5 else a
            else:
                text = " ".join(r.sample(WORDS, 2))
            flt = "python" if kind == 4 else None
            out.append(("bm25", text, k, flt))
        for _ in range(size):
            t = r.choice(toks)
            n = r.randint(2, 3)
            s = r.randrange(len(t) - n + 1)
            phrase = " ".join(t[s:s + n]) if r.random() < 0.85 else \
                f"{r.choice(WORDS)} {r.choice(CAMEL_ONLY)}"
            out.append(("phrase", phrase, 10))
        for i in range(size):
            if i % 5 == 4:
                needle = "zq" + "".join(r.choice(_CONSONANTS) for _ in range(5))
            else:
                c = r.choice(contents)
                n = r.randint(4, 12)
                s = r.randrange(max(1, len(c) - n))
                needle = c[s:s + n]
                if "\n" in needle or len(needle.strip()) < 3:
                    needle = r.choice(WORDS) + " " + r.choice(WORDS)
            out.append(("grep", needle))
        for _ in range(size):
            must, neg, pref = r.choice(HOT), r.choice(WORDS), r.choice(WORDS)[:4]
            t = r.choice(toks)
            s = r.randrange(len(t) - 1)
            parts = [f"+{must}", f"-{neg}", f"{pref}*"]
            if r.random() < 0.5:
                parts.append(f'"{t[s]} {t[s + 1]}"')
            parts.append(r.choice(WORDS))
            r.shuffle(parts)
            out.append(("search", " ".join(parts), 10))
        return out

    def stream(self, pool: list[tuple], n: int, s: float = 1.1) -> list[tuple]:
        """``n`` draws from ``pool``, Zipf-weighted by pool rank, so a few
        queries repeat often (the driver-side memos are exercised)."""
        w = [1.0 / (i + 1) ** s for i in range(len(pool))]
        return self.rng.choices(pool, weights=w, k=n)
