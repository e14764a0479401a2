"""Correctness checks that do not copy the program's output.

Every check reads the index's raw parquet layouts with pyarrow and
recomputes the answer with pyarrow and numpy; none calls
``caterpillar_spark``.  Each check returns a list of error strings: empty
means the answer holds.
"""

from __future__ import annotations

import json
import os
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

K1, B = 1.2, 0.75
REL_TOL = 1e-9

Answer = List[Tuple[int, float]]       # (doc_id, score), in rank order


def read_layout(path: str, columns: Sequence[str]) -> pa.Table:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=list(columns))


class Snapshot:
    """The layouts of one committed index, read once."""

    def __init__(self, index_path: str):
        with open(os.path.join(index_path, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        self.postings = read_layout(
            os.path.join(index_path, "postings"),
            ["term", "doc_id", "field", "frame_seq", "freq", "positions",
             "frame_tokens"])
        self.forward = read_layout(
            os.path.join(index_path, "forward"), ["term", "doc_id", "freq"])
        self.lists = read_layout(
            os.path.join(index_path, "lists"), ["term", "n_docs"])
        docs = read_layout(os.path.join(index_path, "docs"), ["doc_id", "dl"])
        self.dl: Dict[int, int] = dict(zip(docs["doc_id"].to_pylist(),
                                           docs["dl"].to_pylist()))

    def term_rows(self, terms: Iterable[str]) -> pa.Table:
        return self.postings.filter(
            pc.is_in(self.postings["term"], value_set=pa.array(sorted(set(terms)))))

    def ledger_avgdl(self) -> float:
        return sum(self.dl.values()) / len(self.dl)


# ---------------------------------------------------------------------------
# Index-level checks


def check_n_docs(snap: Snapshot, expected: int) -> List[str]:
    got = snap.manifest.get("n_docs")
    return [] if got == expected else [f"manifest n_docs {got} != {expected} generated"]


def _doc_term_tf(t: pa.Table) -> Dict[Tuple[int, str], int]:
    g = t.group_by(["doc_id", "term"]).aggregate([("freq", "sum")])
    return dict(zip(zip(g["doc_id"].to_pylist(), g["term"].to_pylist()),
                    g["freq_sum"].to_pylist()))


def check_conservation(snap: Snapshot) -> List[str]:
    """The layouts hold the same postings: (doc, term, tf) agrees between
    ``postings/`` and ``forward/``; per-term df from the ``lists/`` blocks
    equals the distinct docs per term in ``postings/``; the docs ledger's
    total length equals the frame tokens over distinct frames."""
    errors = []
    p_tf, f_tf = _doc_term_tf(snap.postings), _doc_term_tf(snap.forward)
    if p_tf != f_tf:
        diff = set(p_tf.items()) ^ set(f_tf.items())
        errors.append(f"postings/forward (doc, term, tf) differ in {len(diff)} entries")
    df_post = snap.postings.group_by("term").aggregate([("doc_id", "count_distinct")])
    df_post = dict(zip(df_post["term"].to_pylist(),
                       df_post["doc_id_count_distinct"].to_pylist()))
    df_list = snap.lists.group_by("term").aggregate([("n_docs", "sum")])
    df_list = dict(zip(df_list["term"].to_pylist(), df_list["n_docs_sum"].to_pylist()))
    if df_post != df_list:
        bad = sorted(t for t in set(df_post) | set(df_list)
                     if df_post.get(t) != df_list.get(t))
        errors.append(f"lists df != postings df for {len(bad)} terms, e.g. {bad[:3]}")
    frames = snap.postings.group_by(["doc_id", "field", "frame_seq"]).aggregate(
        [("frame_tokens", "max")])
    frame_total = pc.sum(frames["frame_tokens_max"]).as_py() or 0
    dl_total = sum(snap.dl.values())
    if frame_total != dl_total:
        errors.append(f"docs ledger sum dl {dl_total} != frame tokens {frame_total}")
    return errors


# ---------------------------------------------------------------------------
# BM25


def bm25_scores(snap: Snapshot, terms: Sequence[str], n_docs: float,
                avgdl: float) -> Dict[int, float]:
    """Brute-force document BM25 over every document holding a term:
    tf summed per doc, dl from the docs ledger,
    idf = ln(1 + (N - df + 0.5) / (df + 0.5)), k1 = 1.2, b = 0.75."""
    g = snap.term_rows(terms).group_by(["doc_id", "term"]).aggregate([("freq", "sum")])
    if not g.num_rows:
        return {}
    docs = g["doc_id"].to_numpy()
    tf = g["freq_sum"].to_numpy().astype(np.float64)
    term_ids, df = np.unique(g["term"].to_numpy(zero_copy_only=False), return_inverse=True,
                             return_counts=True)[1:]
    idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))[term_ids]
    dl = np.array([snap.dl[d] for d in docs], dtype=np.float64)
    contrib = idf * (tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl)))
    uniq, inv = np.unique(docs, return_inverse=True)
    return dict(zip(uniq.tolist(), np.bincount(inv, weights=contrib).tolist()))


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(b))


def check_topk(answer: Answer, expected: Dict[int, float], k: int) -> List[str]:
    """``answer`` is the exact top-k of ``expected`` in (score desc, doc_id
    asc) order.  Scores match within a relative 1e-9; docs whose scores
    are that close count as tied."""
    errors = []
    want = min(k, len(expected))
    if len(answer) != want:
        errors.append(f"{len(answer)} results, expected {want}")
    for d, s in answer:
        if d not in expected:
            errors.append(f"doc {d} holds no query term")
        elif not _close(s, expected[d]):
            errors.append(f"doc {d} score {s!r} != brute force {expected[d]!r}")
    errors += check_order(answer)
    if errors or not answer:
        return errors
    got = {d for d, _ in answer}
    kth = answer[-1][1]
    tied_last = max(d for d, s in answer if _close(s, kth))
    for d, s in expected.items():
        if d in got:
            continue
        if s > kth and not _close(s, kth):
            errors.append(f"doc {d} (score {s!r}) missing above the k-th score")
        elif _close(s, kth) and d < tied_last:
            errors.append(f"doc {d} tied at the k-th score but lower doc_id than {tied_last}")
    return errors


def check_order(answer: Answer) -> List[str]:
    errors = []
    for (d1, s1), (d2, s2) in zip(answer, answer[1:]):
        if s2 > s1 and not _close(s2, s1):
            errors.append(f"score rises from {s1!r} to {s2!r}")
        elif _close(s1, s2) and d2 < d1:
            errors.append(f"tie {s1!r} not in doc_id order: {d1} before {d2}")
    return errors


# ---------------------------------------------------------------------------
# Parser queries


def check_parser_hits(answer: Answer, snap: Snapshot, k: int, must: str,
                      must_not: str, phrase: Sequence[str],
                      lang: Optional[str], doc_lang: Dict[int, str]) -> List[str]:
    """Every hit holds the ``+`` term, no ``-`` term, the phrase at
    consecutive positions of one frame and the asked language; results
    are score-descending, at most ``k`` and not empty (the query was built
    from a document that satisfies it)."""
    errors = []
    if not answer:
        errors.append("no hits, though the query was built from a matching doc")
    if len(answer) > k:
        errors.append(f"{len(answer)} hits > k={k}")
    errors += [e for e in check_order(answer) if "rises" in e]
    rows = snap.term_rows([must, must_not, *phrase])
    docs_with = {t: set() for t in (must, must_not)}
    pos: Dict[Tuple[str, int, str, int], set] = {}
    for t, d, f, q, ps in zip(*(rows[c].to_pylist() for c in
                                ("term", "doc_id", "field", "frame_seq", "positions"))):
        if t in docs_with:
            docs_with[t].add(d)
        pos[(t, d, f, q)] = set(ps)
    for d, _ in answer:
        if d not in docs_with[must]:
            errors.append(f"hit {d} lacks +{must}")
        if d in docs_with[must_not]:
            errors.append(f"hit {d} holds -{must_not}")
        if lang is not None and doc_lang.get(d) != lang:
            errors.append(f"hit {d} has lang {doc_lang.get(d)!r}, not {lang!r}")
        if phrase and not _has_phrase(pos, d, phrase):
            errors.append(f"hit {d} lacks the phrase {' '.join(phrase)!r}")
    return errors


def _has_phrase(pos, d: int, phrase: Sequence[str]) -> bool:
    first = [(key, ps) for key, ps in pos.items() if key[0] == phrase[0] and key[1] == d]
    for (_, _, f, q), ps in first:
        starts = set(ps)
        for i, w in enumerate(phrase[1:], 1):
            starts = {p for p in starts if p + i in pos.get((w, d, f, q), ())}
        if starts:
            return True
    return False
