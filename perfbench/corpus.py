"""Seeded webtext corpus and query stream for the benchmark.

The generator is the benchmark's own: it does not import
``caterpillar_spark``, so no change to the program can change the inputs.
Documents have the webtext table shape ``(url, warc_ts, html, text, lang)``.
Words come from one fixed syllable vocabulary; each language ranks it by
its own fixed permutation, and ranks are drawn from a Zipf law, so every
language has a hot head and a long tail and the tails overlap.

The shape parameters are those of the program's own webtext generator
(``caterpillar_spark/sources/webtext.py``): 1-3 paragraphs of 1-5
sentences of 4-14 words, Zipf exponent 1.35 over a vocabulary of about
4,000 words, and 70% ``en`` with 10% each of ``de``, ``es`` and ``fr``.
That gives about 54 tokens per document, as in the repository's
``documents`` test tables.
"""

from __future__ import annotations

import datetime as _dt
import html as _html
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYLLABLES = ("ka", "to", "ri", "mu", "sa", "ne", "lo", "pi",
             "da", "ve", "zu", "ko", "ba", "ge", "fi", "nu")
VOCAB_SIZE = 4000
ZIPF_S = 1.35
LANGS = ("en", "de", "es", "fr")
LANG_P = (0.7, 0.1, 0.1, 0.1)
PARAGRAPHS = (1, 3)        # inclusive ranges per document / paragraph / sentence
SENTENCES = (1, 5)
WORDS = (4, 14)
_EPOCH = _dt.datetime(2025, 1, 1)

WEBTEXT_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def vocabulary() -> List[str]:
    """The fixed word list (independent of the run seed)."""
    rng = np.random.default_rng(7_2024)
    seen, out = set(), []
    while len(out) < VOCAB_SIZE:
        w = "".join(rng.choice(SYLLABLES, int(rng.integers(2, 5))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _rank_maps() -> Dict[str, np.ndarray]:
    """Per-language rank -> word-id permutation (``en`` is the identity)."""
    rng = np.random.default_rng(11_2024)
    maps = {"en": np.arange(VOCAB_SIZE)}
    for lang in LANGS[1:]:
        maps[lang] = rng.permutation(VOCAB_SIZE)
    return maps


@dataclass
class Docs:
    """Generated documents, with the word ids each one holds."""

    url: List[str]
    lang: List[str]
    text: List[str]
    sentences: List[List[np.ndarray]]        # per doc: word ids per sentence
    ts: List[_dt.datetime]

    def __len__(self) -> int:
        return len(self.url)

    def table(self) -> pa.Table:
        htmls = [
            (f"<html><head><title>{_html.escape(u)}</title></head><body>"
             + "".join(f"<p>{_html.escape(p)}</p>" for p in t.split("\n\n"))
             + "</body></html>").encode()
            for u, t in zip(self.url, self.text)
        ]
        return pa.table(
            [self.url, self.ts, htmls, self.text, self.lang],
            schema=WEBTEXT_ARROW,
        )

    def write(self, path: str) -> None:
        pq.write_table(self.table(), path)


class Corpus:
    """Seeded document source: ``docs(start, n)`` always returns the same
    documents for the same ``(seed, start, n)``."""

    def __init__(self, seed: int):
        self.seed = seed
        self.words = vocabulary()
        self.maps = _rank_maps()
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.lang_cdf = np.cumsum(LANG_P)

    def docs(self, start: int, n: int) -> Docs:
        out = Docs([], [], [], [], [])
        for i in range(start, start + n):
            rng = np.random.default_rng([self.seed, i])
            lang = LANGS[int(np.searchsorted(self.lang_cdf, rng.random(), side="right"))]
            rank_map = self.maps[lang]
            paras, sents_ids = [], []
            for _ in range(int(rng.integers(PARAGRAPHS[0], PARAGRAPHS[1] + 1))):
                sents = []
                for _ in range(int(rng.integers(SENTENCES[0], SENTENCES[1] + 1))):
                    n_words = int(rng.integers(WORDS[0], WORDS[1] + 1))
                    ranks = np.minimum(
                        np.searchsorted(self.cdf, rng.random(n_words)),
                        VOCAB_SIZE - 1,
                    )
                    ids = rank_map[ranks]
                    sents_ids.append(ids)
                    ws = [self.words[j] for j in ids]
                    ws[0] = ws[0].capitalize()
                    sents.append(" ".join(ws) + ".")
                paras.append(" ".join(sents))
            out.url.append(f"https://site-{i % 211}.example.net/s{self.seed}/p{i}")
            out.lang.append(lang)
            out.text.append("\n\n".join(paras))
            out.sentences.append(sents_ids)
            out.ts.append(_EPOCH + _dt.timedelta(seconds=i))
        return out


# ---------------------------------------------------------------------------
# Query stream

WAND_REPEAT, WAND_NEW, SEARCH, PARSER = "wand_repeat", "wand_new", "search", "parser"
ROUND = (WAND_REPEAT, WAND_NEW, SEARCH, PARSER)   # one serve round, in order


@dataclass
class Query:
    kind: str
    terms: Tuple[str, ...] = ()        # wand / search terms
    text: str = ""                     # parser query string
    must: str = ""                     # parser: the + term
    must_not: str = ""                 # parser: the - term
    phrase: Tuple[str, ...] = ()       # parser: the phrase words
    lang: Optional[str] = None         # parser: lang: filter


def _doc_words(docs: Docs, d: int) -> set:
    return {int(w) for s in docs.sentences[d] for w in s}


def _one_edit(a: str, b: str) -> bool:
    """True when the Levenshtein distance of ``a`` and ``b`` is at most 1."""
    if abs(len(a) - len(b)) > 1:
        return False
    if len(a) > len(b):
        a, b = b, a
    i = 0
    while i < len(a) and a[i] == b[i]:
        i += 1
    return a[i + (len(a) == len(b)):] == b[i + 1:]


class QueryStream:
    """Fixed seeded stream of serve queries over a generated corpus.

    Terms come in two bands by document frequency: a hot head (the 40 most
    frequent words) and a cold tail (words in 2-20 documents).  Each round
    holds one query of each kind in ``ROUND``, always of the same shape so
    that every round asks the engines for the same kind of work:

    * ``wand_repeat``: two terms that earlier WAND queries used;
    * ``wand_new``: one head and one tail term no WAND query used;
    * ``search`` (document BM25): one term the engine has not seen and one
      it has;
    * ``parser``: ``+A B~1 Cxxx* -F "D E" lang:en`` built from one English
      document, so it has at least one hit.

    WAND and the DataFrame engine keep separate term-statistics caches, so
    "seen" is tracked per engine.  A parser query also makes the engine
    look up every corpus word its fuzzy and prefix clauses expand to, and
    its ``-`` term; a later ``search`` never takes one of those as its new
    term, or it would hit the cache on some seeds and run fewer jobs.
    """

    def __init__(self, docs: Docs, seed: int):
        self.docs = docs
        self.words = vocabulary()
        self.rng = np.random.default_rng([seed, 0x5E])
        df = np.zeros(VOCAB_SIZE, dtype=np.int64)
        for d in range(len(docs)):
            df[list(_doc_words(docs, d))] += 1
        order = np.argsort(-df, kind="stable")
        self.head = [int(w) for w in order[:40]]
        self.tail = [int(w) for w in np.flatnonzero((df >= 2) & (df <= 20))]
        self.present = [self.words[w] for w in np.flatnonzero(df)]
        self.wand_seen: set = set()
        self.engine_seen: set = set()
        self.engine_touched: set = set()   # looked up by parser expansions
        self.issued = 0
        self.all_seen = 0              # queries whose terms all appeared before
        self.en_docs = [d for d in range(len(docs)) if docs.lang[d] == "en"]

    def _fresh(self, pool: List[int], seen: set) -> str:
        cands = [w for w in pool if self.words[w] not in seen] or pool
        return self.words[int(self.rng.choice(cands))]

    def _pick(self, seen: set, n: int) -> List[str]:
        return [str(t) for t in self.rng.choice(sorted(seen), n, replace=False)]

    def next_round(self) -> List[Query]:
        out = []
        for kind in ROUND:
            if kind == WAND_REPEAT and len(self.wand_seen) >= 2:
                q = Query(kind, terms=tuple(self._pick(self.wand_seen, 2)))
            elif kind in (WAND_REPEAT, WAND_NEW):
                q = Query(kind, terms=(self._fresh(self.head, self.wand_seen),
                                       self._fresh(self.tail, self.wand_seen)))
            elif kind == SEARCH:
                new = self._fresh(self.head + self.tail,
                                  self.engine_seen | self.engine_touched)
                old = (self._pick(self.engine_seen - {new}, 1) if self.engine_seen
                       else [self._fresh(self.tail, self.engine_seen | {new})])
                q = Query(kind, terms=(new, *old))
            else:
                q = self.parser_query()
            terms = set(q.terms or (q.must, *q.phrase))
            self.issued += 1
            self.all_seen += terms <= (self.wand_seen | self.engine_seen)
            (self.wand_seen if q.terms and kind != SEARCH else self.engine_seen).update(terms)
            out.append(q)
        return out

    def parser_query(self) -> Query:
        """``+A B~1 Cxxx* -F "D E" lang:en`` from one English document."""
        while True:
            d = int(self.rng.choice(self.en_docs))
            sents = [s for s in self.docs.sentences[d] if len(s) >= 2]
            words = _doc_words(self.docs, d)
            if len(words) < 4 or not sents:
                continue
            s = sents[int(self.rng.integers(0, len(sents)))]
            j = int(self.rng.integers(0, len(s) - 1))
            d_w, e_w = int(s[j]), int(s[j + 1])
            if d_w == e_w:
                continue
            rest = sorted(words - {d_w, e_w})
            if len(rest) < 3:
                continue
            a, b, c = (int(w) for w in self.rng.choice(rest, 3, replace=False))
            absent = [w for w in self.tail if w not in words]
            f = int(self.rng.choice(absent))
            W = self.words
            prefix = W[c][: max(4, len(W[c]) - 2)]
            self.engine_touched.update(
                w for w in self.present
                if w.startswith(prefix) or _one_edit(w, W[b][:-1]))
            self.engine_touched.add(W[f])
            text = (f'+{W[a]} {W[b][:-1]}~1 {prefix}* -{W[f]} '
                    f'"{W[d_w]} {W[e_w]}" lang:en')
            return Query(PARSER, text=text, must=W[a], must_not=W[f],
                         phrase=(W[d_w], W[e_w]), lang="en")
