"""Seeded query streams drawn from the generated transcripts.

Query terms are raw words taken from the corpus itself, so the engine
and the oracle analyze them the same way. A query's shape is its kind
and, per term, whether the term is a head word (``H``: one of the most
frequent words; on the transcript tiers the top one is in ~96% of
turns) or a tail word (``T``: document frequency 0.1-0.5% of turns), so
posting-list sizes differ by two to three orders of magnitude. Phrases
are windows of consecutive non-stop words of a real turn whose words
have the shape's classes, so each phrase matches at least that turn.

The shapes and their order are fixed (``QUERY_BLOCK``); the seed picks
only the words. Every run therefore asks the same kinds of questions in
the same order, which keeps latency percentiles comparable across seeds.
"""

from __future__ import annotations

import random
import re
from collections import Counter

from peterman_search_engine_spark.functions.analysis import TOKEN_SPLIT_RE
from peterman_search_engine_spark.functions.stopwords import STOP_WORDS

# The frozen comparable subset: one block of 20 interactive queries,
# 5 BM25, 3 WAND, 3 TF-IDF, 3 AND, 3 OR and 3 phrase, in this order.
QUERY_BLOCK = (
    ("bm25", "HT"), ("and", "HT"), ("phrase", "HT"), ("wand", "HT"), ("tfidf", "T"),
    ("or", "T"), ("bm25", "T"), ("phrase", "TT"), ("and", "TT"), ("wand", "HHT"),
    ("tfidf", "HT"), ("bm25", "TTH"), ("or", "HT"), ("phrase", "HH"), ("wand", "TT"),
    ("bm25", "H"), ("and", "HH"), ("tfidf", "HTT"), ("or", "TTT"), ("bm25", "HTTH"),
)
N_HEAD = 6
TAIL_DF = (0.001, 0.005)


def words(text: str) -> list[str]:
    """The non-stop words of a text, lowercased, in order."""
    return [w for w in re.split(TOKEN_SPLIT_RE, text.lower()) if w and w not in STOP_WORDS]


class QueryGen:
    """Distinct seeded queries over one corpus (a list of turn texts)."""

    def __init__(self, texts: list[str], seed: int):
        self.rng = random.Random(seed * 7919 + 17)
        tokenized = [words(t) for t in texts]
        df = Counter()
        for ws in tokenized:
            df.update(set(ws))
        ranked = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
        lo, hi = TAIL_DF[0] * len(texts), TAIL_DF[1] * len(texts)
        self.pool = {
            "H": [w for w, _ in ranked[:N_HEAD]],
            "T": [w for w, n in ranked if lo <= n <= hi],
        }
        if not self.pool["T"]:  # tiny corpora: no word is that rare
            self.pool["T"] = [w for w, _ in ranked[N_HEAD:]] or self.pool["H"]
        cls = {w: c for c, ws in self.pool.items() for w in ws}
        # phrase windows of 2 and 3 words, grouped by their class pattern
        self.windows: dict[str, list[list[str]]] = {}
        for ws in tokenized:
            for n in (2, 3):
                for i in range(len(ws) - n + 1):
                    pat = "".join(cls.get(w, "-") for w in ws[i:i + n])
                    if "-" not in pat:
                        self.windows.setdefault(pat, []).append(ws[i:i + n])
        self.seen: set[tuple] = set()

    def _draw(self, kind: str, shape: str) -> list[str]:
        if kind == "phrase" and self.windows.get(shape):
            return list(self.rng.choice(self.windows[shape]))
        return [self.rng.choice(self.pool[c]) for c in shape]

    def one(self, kind: str, shape: str) -> list[str]:
        """A query of ``kind`` and ``shape`` not returned before (after
        a bounded number of draws a repeat is accepted)."""
        for _ in range(50):
            terms = self._draw(kind, shape)
            key = (kind, tuple(terms))
            if key not in self.seen:
                break
        self.seen.add(key)
        return terms

    def stream(self):
        """Endless queries: the block of shapes repeated, new words each time."""
        while True:
            for kind, shape in QUERY_BLOCK:
                yield kind, self.one(kind, shape)

    def bm25_log(self, n: int) -> dict[int, list[str]]:
        """A query log of ``n`` BM25 queries (qid -> terms), shapes cycling
        through the block's BM25 shapes."""
        shapes = [s for k, s in QUERY_BLOCK if k == "bm25"]
        return {i: self.one("bm25", shapes[i % len(shapes)]) for i in range(n)}
