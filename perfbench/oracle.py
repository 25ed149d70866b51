"""Independent BM25 oracle: the benchmark's own tokenizer plus DuckDB.

No engine module is imported here. The tokenizer follows the rules
documented in ``functions/tokenizer.py`` (code mode): split camelCase
and ACRONYMWord boundaries, lowercase, keep ``[A-Za-z]+|[0-9]+`` runs.
Scores use the BM25 expression pinned in FIXTURES.md §3 (k1=1.2,
b=0.75, Lucene idf, doc length = token count).
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds

K1, B = 1.2, 0.75
ROUND_DP = 5
# Scores within this distance are one tie group: the engine and DuckDB
# add the same float64 terms in different orders, so equal BM25 scores
# can differ in the last bits.
TIE_EPS = 1e-9
_CAMEL_1 = re.compile(r"(?<=[a-z0-9])(?=[A-Z])")
_CAMEL_2 = re.compile(r"(?<=[A-Z])(?=[A-Z][a-z])")
_RUN = re.compile(r"[A-Za-z]+|[0-9]+")


def tokenize(text: str) -> list[str]:
    text = _CAMEL_2.sub(" ", _CAMEL_1.sub(" ", text))
    return _RUN.findall(text.lower())


class StatsMismatch(Exception):
    """The store's corpus statistics disagree with the oracle's."""


class Oracle:
    """Expected results over one live doc set.

    ``tokens``: doc_id -> token list. Build a new Oracle after every
    change to the live set."""

    def __init__(self, tokens: dict[int, list[str]]):
        self.tokens = tokens
        ids = np.fromiter(tokens, np.int64, len(tokens))
        lens = np.fromiter((len(t) for t in tokens.values()), np.int64, len(tokens))
        self.n_docs = float(len(tokens))
        self.avgdl = float(lens.mean())
        pos_doc = np.repeat(ids, lens)
        terms = [t for toks in tokens.values() for t in toks]
        self.positions = pd.DataFrame(
            {"doc_id": pos_doc, "pos": _ranges(lens), "term": terms}
        )
        self.db = duckdb.connect()
        self.db.register("positions_src", self.positions)
        self.db.execute(
            "CREATE TABLE postings AS SELECT term, doc_id, COUNT(*)::DOUBLE AS tf "
            "FROM positions_src GROUP BY term, doc_id"
        )
        self.db.register("dl", pd.DataFrame({"doc_id": ids, "doc_len": lens}))
        self.df = dict(
            self.db.execute("SELECT term, COUNT(*) FROM postings GROUP BY term").fetchall()
        )

    def topk(
        self, queries: dict[str, tuple[list[str], str]], k: int
    ) -> dict[str, list[tuple[int, float]]]:
        """qid -> oracle rows (doc_id, unrounded score) in rank order: the
        top ``k`` plus every doc tied with the k-th (its whole tie group)."""
        qt = pd.DataFrame(
            [(q, t) for q, (terms, _m) in queries.items() for t in sorted(set(terms))],
            columns=["qid", "term"],
        )
        self.db.register("qterms", qt)
        scored = self.db.execute(
            f"""
            WITH stats AS (SELECT {self.n_docs}::DOUBLE AS n, {self.avgdl}::DOUBLE AS avgdl),
            qdf AS (
              SELECT q.qid, q.term, COUNT(*)::DOUBLE AS df
              FROM qterms q JOIN postings p USING (term) GROUP BY q.qid, q.term
            )
            SELECT q.qid, p.doc_id,
                   SUM(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * p.tf * ({K1} + 1.0)
                       / (p.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl))) AS score,
                   COUNT(*) AS n_terms
            FROM qterms q
            JOIN postings p USING (term)
            JOIN qdf d ON d.qid = q.qid AND d.term = q.term
            JOIN dl ON dl.doc_id = p.doc_id
            CROSS JOIN stats s
            GROUP BY q.qid, p.doc_id
            """
        ).df()
        self.db.unregister("qterms")
        out: dict[str, list[tuple[int, float]]] = {}
        for qid, (terms, mode) in queries.items():
            rows = scored[scored["qid"] == qid]
            if mode == "and":
                rows = rows[rows["n_terms"] == len(set(terms))]
            rows = rows.sort_values(["score", "doc_id"], ascending=[False, True])
            docs = rows["doc_id"].to_numpy(np.int64)
            scores = rows["score"].to_numpy(np.float64)
            n = min(k, len(docs))
            if n < len(docs):
                # extend through the tie group the k-th row belongs to
                while n < len(docs) and abs(scores[n] - scores[k - 1]) <= TIE_EPS:
                    n += 1
            out[qid] = [(int(d), float(s)) for d, s in zip(docs[:n], scores[:n])]
        return out

    def phrases(self, phrases: dict[str, list[str]]) -> dict[str, list[int]]:
        """qid -> sorted doc_ids where the bigram's second word directly
        follows its first."""
        qp = pd.DataFrame(
            [(q, a, b) for q, (a, b) in phrases.items()], columns=["qid", "w1", "w2"]
        )
        self.db.register("qphrases", qp)
        hits = self.db.execute(
            """
            SELECT DISTINCT q.qid, p0.doc_id
            FROM qphrases q
            JOIN positions_src p0 ON p0.term = q.w1
            JOIN positions_src p1
              ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1 AND p1.term = q.w2
            """
        ).fetchall()
        self.db.unregister("qphrases")
        out: dict[str, list[int]] = {q: [] for q in phrases}
        for q, d in hits:
            out[q].append(int(d))
        return {q: sorted(ds_) for q, ds_ in out.items()}

    def check_store_stats(self, store: str | Path, terms: set[str]) -> None:
        """Compare n_docs, avgdl and the df of every term in ``terms``
        with the store's meta.json and term_dict; raise StatsMismatch
        naming the first difference."""
        meta = json.loads((Path(store) / "meta.json").read_text())
        if float(meta["n_docs"]) != self.n_docs:
            raise StatsMismatch(f"n_docs: store {meta['n_docs']}, oracle {self.n_docs}")
        if abs(float(meta["avgdl"]) - self.avgdl) > 1e-9 * self.avgdl:
            raise StatsMismatch(f"avgdl: store {meta['avgdl']}, oracle {self.avgdl}")
        tbl = ds.dataset(str(Path(store) / "term_dict"), format="parquet").to_table(
            filter=ds.field("term").isin(sorted(terms)), columns=["term", "df"]
        )
        store_df = dict(zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist()))
        for t in sorted(terms):
            if store_df.get(t, 0) != self.df.get(t, 0):
                raise StatsMismatch(
                    f"df of term {t!r}: store {store_df.get(t, 0)}, oracle {self.df.get(t, 0)}"
                )


def _ranges(lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(n)`` for each n in ``lens``."""
    total = int(lens.sum())
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    return np.arange(total, dtype=np.int64) - starts
