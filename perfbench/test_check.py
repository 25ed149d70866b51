"""Tests of the benchmark's output checker, oracle and corpus.

    python3 -m pytest -q perfbench
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from perfbench import corpus as C
from perfbench.check import (
    STEP,
    OutputMismatch,
    check_batch,
    check_phrase,
    check_topk,
    topk_error,
)
from perfbench.oracle import Oracle, tokenize

# oracle rows: top-4 for k=4 where ranks 2-3 tie, and the tie group at
# rank 4 (docs 40, 41, 42) is cut by k
EXPECTED = [(10, 9.5), (20, 7.25), (30, 7.25), (40, 5.0), (41, 5.0), (42, 5.0)]
K = 4


def rows(*docs):
    score = dict(EXPECTED)
    return [(d, round(score[d], 5)) for d in docs]


def test_accepts_exact():
    assert topk_error(EXPECTED, rows(10, 20, 30, 40), K) is None


def test_accepts_tie_permutation():
    assert topk_error(EXPECTED, rows(10, 30, 20, 40), K) is None


def test_accepts_other_member_of_cut_tie_group():
    assert topk_error(EXPECTED, rows(10, 20, 30, 42), K) is None


def test_accepts_score_one_step_off():
    got = rows(10, 20, 30, 40)
    got[0] = (10, 9.5 + STEP)
    assert topk_error(EXPECTED, got, K) is None


def test_rejects_dropped_doc():
    assert "expected 4 rows, got 3" in topk_error(EXPECTED, rows(10, 20, 30), K)


def test_rejects_extra_doc():
    assert "expected 4 rows, got 5" in topk_error(EXPECTED, rows(10, 20, 30, 40, 41), K)


def test_rejects_doc_outside_oracle_topk():
    assert "not in the oracle" in topk_error(EXPECTED, rows(10, 20, 30) + [(99, 5.0)], K)


def test_rejects_swapped_docs():
    assert "ranks below" in topk_error(EXPECTED, rows(20, 10, 30, 40), K)


def test_rejects_sure_doc_replaced_by_tie():
    # 10 scores strictly above the cut and may not be traded for a tie
    assert topk_error(EXPECTED, rows(20, 30, 40, 41), K) is not None


def test_rejects_score_more_than_one_step_off():
    got = rows(10, 20, 30, 40)
    got[1] = (20, 7.25 + 2 * STEP)
    assert "differs from oracle" in topk_error(EXPECTED, got, K)


def test_rejects_duplicate_doc():
    assert "duplicate" in topk_error(EXPECTED, rows(10, 20, 20, 40), K)


def test_empty_expected_requires_empty_answer():
    assert topk_error([], [], K) is None
    assert topk_error([], rows(10), K) is not None


def test_failure_names_workload_query_and_rows():
    with pytest.raises(OutputMismatch) as e:
        check_topk("serve/setup", "s3 ['foo'] and", EXPECTED, rows(10, 20, 30), K)
    msg = str(e.value)
    assert "serve/setup" in msg and "s3 ['foo'] and" in msg
    assert "expected [(10, 9.500000)" in msg and "actual   [(10, 9.500000)" in msg


QUERIES = {"a": (["x"], "or"), "b": (["y"], "and")}
BATCH_EXPECTED = {"a": EXPECTED, "b": [(7, 1.5)]}


def batch_rows():
    # batch rows carry no rank: any order is fine
    return [("b", 7, 1.5)] + [("a", d, s) for d, s in rows(30, 10, 40, 20)]


def test_batch_accepts_unordered_rows():
    check_batch("w", QUERIES, BATCH_EXPECTED, batch_rows(), K)


def test_batch_rejects_unknown_query_id():
    with pytest.raises(OutputMismatch, match="unexpected query_id 'c'"):
        check_batch("w", QUERIES, BATCH_EXPECTED, batch_rows() + [("c", 7, 1.5)], K)


def test_batch_rejects_missing_query_id():
    with pytest.raises(OutputMismatch, match="query_id 'b'.*missing"):
        check_batch("w", QUERIES, BATCH_EXPECTED, batch_rows()[1:], K)


def test_batch_rejects_rows_under_wrong_query_id():
    wrong = [("a", 7, 1.5)] + batch_rows()[1:]
    with pytest.raises(OutputMismatch):
        check_batch("w", QUERIES, BATCH_EXPECTED, wrong, K)


def test_phrase_rejects_missing_and_extra():
    check_phrase("w", ["a", "b"], [1, 2, 3], [3, 1, 2])
    with pytest.raises(OutputMismatch, match="missing \\[2\\]"):
        check_phrase("w", ["a", "b"], [1, 2, 3], [1, 3])
    with pytest.raises(OutputMismatch, match="extra \\[4\\]"):
        check_phrase("w", ["a", "b"], [1, 2, 3], [1, 2, 3, 4])


# ---- oracle ----

TOKENS = {
    0: "foo bar foo baz".split(),
    1: "bar baz qux".split(),
    2: "foo qux qux qux bar".split(),
    3: "baz baz".split(),
    4: "foo bar".split(),
    5: "foo bar".split(),
}


def test_oracle_matches_pinned_sql():
    """The oracle's batched SQL agrees with the pinned per-query oracle
    (plans/oracle_sql.bm25_topk_sql) over the same tokens."""
    from open_source_search_engine_spark.plans.oracle_sql import bm25_topk_sql

    o = Oracle(TOKENS)
    queries = {
        "q0": (["foo"], "or"), "q1": (["foo", "bar"], "and"),
        "q2": (["qux", "baz"], "or"), "q3": (["foo", "nope"], "and"),
    }
    got = o.topk(queries, k=3)
    db = duckdb.connect()
    db.register("documents", pd.DataFrame(
        {"doc_id": list(TOKENS), "text": [" ".join(t) for t in TOKENS.values()]}
    ))
    for qid, (terms, mode) in queries.items():
        want = db.execute(bm25_topk_sql(terms, k=10, mode=mode)).fetchall()
        mine = [(d, round(s, 5)) for d, s in got[qid]]
        assert [d for d, _ in mine] == [d for d, _s in want][: len(mine)]
        assert all(abs(a[1] - b[1]) <= STEP for a, b in zip(mine, want))


def test_oracle_carries_whole_tie_group_at_k():
    o = Oracle(TOKENS)
    # docs 4 and 5 are identical and score highest: k=1 cuts their group
    got = o.topk({"q": (["foo", "bar"], "and")}, k=1)["q"]
    assert [d for d, _ in got] == [4, 5]
    assert topk_error(got, [(5, round(got[1][1], 5))], 1) is None


def test_oracle_phrases():
    o = Oracle(TOKENS)
    got = o.phrases({"p": ["foo", "bar"], "q": ["qux", "qux"], "r": ["bar", "nope"]})
    assert got == {"p": [0, 4, 5], "q": [2], "r": []}


def test_tokenizer_follows_engine_rules():
    from open_source_search_engine_spark.functions.tokenizer import _code_tokenize_series

    texts = [
        "fooBar(baz_qux, HTTPServer) = utf8Decode;",
        "MAX_LEN2 -> parseJSONValue.x64", "", "  a1b2C3 __init__ ",
    ]
    want = _code_tokenize_series(pd.Series(texts), lowercase=True).tolist()
    assert [tokenize(t) for t in texts] == want


def test_corpus_is_seeded_and_tokens_match_content():
    v = C.vocabulary(5)
    a, ta = C.gen_docs(v, np.random.default_rng([5, 2]), list(range(50)))
    b, tb = C.gen_docs(C.vocabulary(5), np.random.default_rng([5, 2]), list(range(50)))
    assert a.equals(b) and ta == tb
    assert all(tokenize(c) == ta[d] for d, c in zip(a["doc_id"], a["content"]))
