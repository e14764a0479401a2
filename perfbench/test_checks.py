"""Each correctness check must pass a right answer and fail a corrupted one.

Run with ``python3 -m pytest perfbench/test_checks.py -q`` (no Spark
needed: the index layouts are written here with pyarrow).
"""

from __future__ import annotations

import json
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402

# doc -> frames, each frame a token list (every token indexed)
DOCS = {
    11: [["spark", "table", "hash"], ["join", "spark"]],
    22: [["spark", "spark", "join"]],
    33: [["table", "hash", "join", "data"]],
    44: [["data", "page"], ["spark", "page", "index"]],
    55: [["index", "query"]],
}
LANG = {11: "en", 22: "en", 33: "de", 44: "en", 55: "en"}


def write_index(root, docs=DOCS, drop_forward=0, drop_posting=None, dl_delta=0):
    post, fwd = [], []
    for d, frames in docs.items():
        for seq, toks in enumerate(frames):
            pos = {}
            for i, t in enumerate(toks):
                pos.setdefault(t, []).append(i)
            for t, ps in sorted(pos.items()):
                post.append({"term": t, "doc_id": d, "field": "text", "frame_seq": seq,
                             "freq": len(ps), "positions": ps, "frame_tokens": len(toks)})
                fwd.append({"term": t, "doc_id": d, "freq": len(ps)})
    lists = {}
    for r in post:
        lists.setdefault(r["term"], set()).add(r["doc_id"])
    if drop_posting is not None:
        post = [r for r in post if (r["term"], r["doc_id"]) != drop_posting]
    fwd = fwd[drop_forward:]
    for name, rows in (
        ("postings", post), ("forward", fwd),
        ("lists", [{"term": t, "n_docs": len(ds)} for t, ds in lists.items()]),
        ("docs", [{"doc_id": d, "dl": sum(map(len, fr)) + (dl_delta if d == 55 else 0)}
                  for d, fr in docs.items()]),
    ):
        os.makedirs(os.path.join(root, name))
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(root, name, "part-0.parquet"))
    n = len(docs)
    avgdl = sum(sum(map(len, fr)) for fr in docs.values()) / n
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump({"n_docs": n, "avgdl": avgdl}, fh)
    return checks.Snapshot(str(root))


@pytest.fixture
def snap(tmp_path):
    return write_index(tmp_path / "idx")


def topk(expected, k):
    return sorted(expected.items(), key=lambda x: (-x[1], x[0]))[:k]


def test_bm25_matches_the_formula(snap):
    n, avgdl = 5, snap.manifest["avgdl"]
    got = checks.bm25_scores(snap, ["spark"], n, avgdl)
    idf = math.log(1 + (5 - 3 + 0.5) / (3 + 0.5))
    tf, dl = 2, 5                    # doc 11: spark twice over two frames
    want = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert set(got) == {11, 22, 44}
    assert got[11] == pytest.approx(want, rel=1e-12)


def test_topk_passes_the_exact_answer_and_fails_corruptions(snap):
    exp = checks.bm25_scores(snap, ["spark", "join"], 5, snap.manifest["avgdl"])
    right = topk(exp, 3)
    assert checks.check_topk(right, exp, 3) == []
    outside = next(d for d in exp if d not in {d for d, _ in right})
    swapped = [right[0], (outside, right[1][1]), right[2]]
    assert checks.check_topk(swapped, exp, 3)
    perturbed = [right[0], (right[1][0], right[1][1] * (1 + 1e-6)), right[2]]
    assert checks.check_topk(perturbed, exp, 3)
    assert checks.check_topk(right[::-1], exp, 3)
    assert checks.check_topk(right[:2], exp, 3)


def test_topk_breaks_ties_by_doc_id():
    exp = {5: 1.0, 3: 1.0, 9: 2.0}
    assert checks.check_topk([(9, 2.0), (3, 1.0)], exp, 2) == []
    assert checks.check_topk([(9, 2.0), (5, 1.0)], exp, 2)
    assert checks.check_topk([(9, 2.0), (5, 1.0), (3, 1.0)], exp, 3)


def test_n_docs(snap):
    assert checks.check_n_docs(snap, 5) == []
    assert checks.check_n_docs(snap, 6)


def test_conservation_passes_a_whole_index(snap):
    assert checks.check_conservation(snap) == []


def test_conservation_fails_a_dropped_forward_row(tmp_path):
    assert checks.check_conservation(write_index(tmp_path / "i", drop_forward=1))


def test_conservation_fails_a_dropped_posting(tmp_path):
    bad = write_index(tmp_path / "i", drop_posting=("hash", 33))
    errors = checks.check_conservation(bad)
    assert any("forward" in e for e in errors)
    assert any("lists df" in e for e in errors)


def test_conservation_fails_a_wrong_doc_length(tmp_path):
    errors = checks.check_conservation(write_index(tmp_path / "i", dl_delta=1))
    assert any("ledger" in e for e in errors)


PARSER = dict(k=10, must="spark", must_not="index", phrase=("table", "hash"),
              lang="en", doc_lang=LANG)


def test_parser_hits_pass_a_right_answer(snap):
    assert checks.check_parser_hits([(11, 2.0)], snap, **PARSER) == []


@pytest.mark.parametrize("answer, why", [
    ([(11, 2.0), (44, 1.0)], "holds the - term"),
    ([(11, 2.0), (22, 1.0)], "lacks the phrase"),
    ([(33, 2.0)], "lacks the + term and is not en"),
    ([(11, 1.0), (11, 2.0)], "score rises"),
    ([], "empty"),
])
def test_parser_hits_fail_corruptions(snap, answer, why):
    assert checks.check_parser_hits(answer, snap, **PARSER), why


def test_parser_hits_fail_more_than_k(snap):
    assert checks.check_parser_hits([(11, 2.0)] * 2, snap, **{**PARSER, "k": 1})
