"""Tie-aware comparison of engine outputs with oracle rows.

A top-k answer is accepted when, for the n = min(k, matches) rows it
must hold:

* every oracle doc scoring strictly above the n-th oracle score is
  present (outside tie groups doc ids match exactly);
* the remaining rows come from the n-th score's tie group, which the
  oracle rows carry in full even where rank k cuts it;
* no doc appears twice, and single-query rows follow the oracle order
  (docs within one tie group may come in any order);
* each score is within one unit of the 5-dp rounding step the API
  applies of the oracle score rounded the same way.
"""

from __future__ import annotations

from collections.abc import Iterable

from perfbench.oracle import ROUND_DP, TIE_EPS

STEP = 10.0 ** -ROUND_DP


class OutputMismatch(Exception):
    """An engine output differs from the oracle."""


def _fmt(rows: Iterable[tuple[int, float]]) -> str:
    return "[" + ", ".join(f"({d}, {s:.6f})" for d, s in rows) + "]"


def topk_error(
    expected: list[tuple[int, float]],
    actual: list[tuple[int, float]],
    k: int,
    ordered: bool = True,
) -> str | None:
    """None when ``actual`` is an acceptable top-k for ``expected``
    (oracle rows from Oracle.topk), else the reason it is not."""
    n = min(k, len(expected))
    if len(actual) != n:
        return f"expected {n} rows, got {len(actual)}"
    docs = [d for d, _s in actual]
    if len(set(docs)) != len(docs):
        return "duplicate doc_id"
    if n == 0:
        return None
    oracle = dict(expected)
    threshold = expected[n - 1][1]
    sure = {d for d, s in expected if s > threshold + TIE_EPS}
    ties = {d for d, s in expected if abs(s - threshold) <= TIE_EPS}
    for d, s in actual:
        if d not in oracle or (d not in sure and d not in ties):
            return f"doc {d} is not in the oracle top-{k}"
        want = round(oracle[d], ROUND_DP)
        if abs(s - want) > STEP * (1 + 1e-6):
            return f"doc {d}: score {s} differs from oracle {want} by more than {STEP}"
    missing = sure - set(docs)
    if missing:
        return f"missing docs {sorted(missing)}"
    if ordered:
        for (d1, _), (d2, _) in zip(actual, actual[1:]):
            if oracle[d1] < oracle[d2] - TIE_EPS:
                return f"doc {d2} ranks below doc {d1} but scores higher"
    return None


def check_topk(
    where: str,
    query: object,
    expected: list[tuple[int, float]],
    actual: list[tuple[int, float]],
    k: int,
    ordered: bool = True,
) -> None:
    err = topk_error(expected, actual, k, ordered)
    if err is not None:
        raise OutputMismatch(
            f"{where}: query {query}: {err}\n  expected {_fmt(expected)}\n"
            f"  actual   {_fmt(actual)}"
        )


def check_batch(
    where: str,
    queries: dict[str, object],
    expected: dict[str, list[tuple[int, float]]],
    rows: list[tuple[str, int, float]],
    k: int,
) -> None:
    """Batch rows (query_id, doc_id, score), checked per query_id; rows
    carry no rank, so order inside one query is not checked beyond the
    score and membership rules."""
    per_q: dict[str, list[tuple[int, float]]] = {}
    for qid, d, s in rows:
        if qid not in queries:
            raise OutputMismatch(f"{where}: unexpected query_id {qid!r} in batch output")
        per_q.setdefault(qid, []).append((int(d), float(s)))
    for qid in sorted(queries):
        got = sorted(per_q.get(qid, []), key=lambda r: (-r[1], r[0]))
        if not got and expected[qid]:
            raise OutputMismatch(
                f"{where}: query_id {qid!r} {queries[qid]} missing from batch output\n"
                f"  expected {_fmt(expected[qid][:k])}"
            )
        check_topk(where, f"{qid} {queries[qid]}", expected[qid], got, k, ordered=False)


def check_phrase(where: str, words: list[str], expected: list[int], actual: list[int]) -> None:
    if sorted(actual) != expected:
        extra = sorted(set(actual) - set(expected))
        missing = sorted(set(expected) - set(actual))
        raise OutputMismatch(
            f"{where}: phrase {words}: missing {missing[:20]}, extra {extra[:20]}"
            f" ({len(expected)} expected, {len(actual)} returned)"
        )
