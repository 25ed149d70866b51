"""Seeded source-code corpus and query pools for the benchmark.

Everything here is a pure function of the seed. The engine only ever
sees the DataFrames and query lists built from these values.

Content is code-shaped text over identifiers composed from a large stem
vocabulary (snake_case, camelCase, PascalCase, UPPER_CASE, digit
suffixes). Stems are drawn with Zipf-Mandelbrot weights, so after
code-aware splitting the term df spans from a handful of docs up to
about 40%, and one head stem is forced into half of the docs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench.oracle import tokenize

N_STEMS = 4000
N_IDENTS = 9000
HEAD_STEM = "ctx"
HEAD_DOC_FRACTION = 0.5
KEYWORDS = (
    "def", "return", "if", "else", "for", "while", "class", "struct",
    "import", "static", "const", "void", "int", "let", "mut", "impl",
    "fn", "pub", "use", "try", "catch", "throw", "new", "del",
    "yield", "async", "await", "match", "case", "enum", "trait", "type",
)
KEYWORD_LINE_SHARE = 0.4
LANGS = ("py", "c", "cpp", "java", "go", "rs")
_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
_OPS = (" = ", " + ", ", ", " < ", " -> ", " == ", ".", " && ")


def _mandelbrot_cdf(n: int, s: float, q: float) -> np.ndarray:
    """CDF of Zipf-Mandelbrot weights (rank + q) ** -s over n ranks;
    draw with ``_draw``."""
    p = (np.arange(1, n + 1, dtype=np.float64) + q) ** (-s)
    return np.cumsum(p / p.sum())


def _draw(rng: np.random.Generator, cdf: np.ndarray, size: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(size), side="right"), cdf.size - 1)


def _stems(rng: np.random.Generator) -> list[str]:
    """Pronounceable lowercase stems, unique, never a keyword or the head."""
    out: list[str] = []
    seen = set(KEYWORDS) | {HEAD_STEM}
    while len(out) < N_STEMS:
        s = "".join(
            _CONS[rng.integers(len(_CONS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(int(rng.integers(2, 4)))
        )
        if rng.random() < 0.4:
            s += _CONS[rng.integers(len(_CONS))]
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def _render(parts: list[str], style: int) -> str:
    if style == 0:
        return "_".join(parts)
    if style == 1:
        return parts[0] + "".join(p.capitalize() for p in parts[1:])
    if style == 2:
        return "".join(p.capitalize() for p in parts)
    return "_".join(p.upper() for p in parts)


@dataclass
class Vocabulary:
    """Identifier spellings, their tokens, and the weights docs draw
    them with."""

    idents: list[str]
    tokens: list[list[str]]
    cdf: np.ndarray


def vocabulary(seed: int) -> Vocabulary:
    rng = np.random.default_rng([seed, 1])
    stems = _stems(rng)
    stem_cdf = _mandelbrot_cdf(N_STEMS, 2.0, 350.0)
    idents: list[str] = []
    seen: set[str] = set()
    while len(idents) < N_IDENTS:
        n_parts = int(rng.choice([1, 2, 3], p=[0.3, 0.5, 0.2]))
        parts = [stems[i] for i in _draw(rng, stem_cdf, n_parts)]
        ident = _render(parts, int(rng.integers(4)))
        if rng.random() < 0.1:
            ident += str(int(rng.integers(2, 65)))
        if ident not in seen:
            seen.add(ident)
            idents.append(ident)
    words = idents + [HEAD_STEM] + list(KEYWORDS)
    return Vocabulary(words, [tokenize(w) for w in words], _mandelbrot_cdf(N_IDENTS, 1.1, 300.0))


def gen_docs(
    vocab: Vocabulary, rng: np.random.Generator, doc_ids: list[int]
) -> tuple[pd.DataFrame, dict[int, list[str]]]:
    """Docs with the given ids: the DataFrame (doc_id, repo, path,
    commit, lang, content) and each doc's tokens, known by construction
    (words are joined by separators the tokenizer splits on)."""
    head = N_IDENTS
    kw0 = N_IDENTS + 1
    rows, tokens = [], {}
    for doc_id in doc_ids:
        n_ids = int(rng.integers(20, 120))
        # per-doc topic: a window of the vocabulary is boosted, so rare
        # identifiers co-occur inside one doc (AND queries have hits)
        topic = int(rng.integers(0, N_IDENTS - 200))
        picks = _draw(rng, vocab.cdf, n_ids)
        local = rng.random(n_ids) < 0.3
        picks[local] = topic + rng.integers(0, 200, size=int(local.sum()))
        if rng.random() < HEAD_DOC_FRACTION:
            picks[rng.integers(n_ids)] = head
        steps = rng.integers(3, 7, size=n_ids)
        kws = np.where(
            rng.random(n_ids) < KEYWORD_LINE_SHARE,
            kw0 + rng.integers(0, len(KEYWORDS), size=n_ids),
            -1,
        )
        ops = rng.integers(0, len(_OPS), size=n_ids)
        lines, toks, j, li = [], [], 0, 0
        while j < n_ids:
            chunk = picks[j : j + steps[li]].tolist()
            kw = int(kws[li])
            args = _OPS[ops[li]].join(vocab.idents[w] for w in chunk[1:])
            lead = vocab.idents[kw] + " " if kw >= 0 else ""
            lines.append(f"    {lead}{vocab.idents[chunk[0]]}({args});")
            if kw >= 0:
                toks.append(vocab.idents[kw])
            for w in chunk:
                toks.extend(vocab.tokens[w])
            j += int(steps[li])
            li += 1
        lang = LANGS[int(rng.integers(len(LANGS)))]
        rows.append((
            doc_id, f"org{doc_id % 7}/repo{doc_id % 29}",
            f"src/m{doc_id % 40}/f{doc_id}.{lang}",
            f"{int(rng.integers(1 << 62)):016x}", lang, "\n".join(lines) + "\n",
        ))
        tokens[doc_id] = toks
    pdf = pd.DataFrame(rows, columns=["doc_id", "repo", "path", "commit", "lang", "content"])
    return pdf.astype({"doc_id": "int64"}), tokens


@dataclass
class QueryPool:
    """``topk``: (terms, mode) pairs; ``phrases``: bigrams."""

    topk: list[tuple[list[str], str]]
    phrases: list[list[str]]


def bigram_df(positions: pd.DataFrame) -> pd.Series:
    """(first, second) -> number of docs where second follows first."""
    codes, uniq = pd.factorize(positions["term"])
    doc = positions["doc_id"].to_numpy()
    same = doc[1:] == doc[:-1]
    v2 = len(uniq) * len(uniq)
    key = codes[:-1][same].astype(np.int64) * len(uniq) + codes[1:][same]
    per_doc = np.unique(doc[:-1][same].astype(np.int64) * v2 + key)
    keys, counts = np.unique(per_doc % v2, return_counts=True)
    index = pd.MultiIndex.from_arrays([uniq[keys // len(uniq)], uniq[keys % len(uniq)]])
    return pd.Series(counts, index=index)


def query_pool(
    tokens: dict[int, list[str]],
    df: dict[str, int],
    bigrams: pd.Series,
    rng: np.random.Generator,
    klass: str,
    n_topk: int,
    n_phrases: int,
) -> QueryPool:
    """``klass`` is ``selective`` (every term df <= 0.5% of docs) or
    ``broad`` (every term df >= 10%; the head stem in every AND query
    and half the OR queries). The pool's shape is the same for every
    seed: query i is AND for even i, OR for odd i, with 1 + (i // 2) % 3
    terms, so any 6 consecutive queries hold each shape once. AND sets
    come from terms sharing one doc, so they have hits. Phrases are
    rare bigrams (selective) or the commonest (broad)."""
    n_docs = len(tokens)
    lo, hi = (2, max(3, int(0.005 * n_docs))) if klass == "selective" else (0.10 * n_docs, n_docs)
    ok = sorted(t for t, d in df.items() if lo <= d <= hi)
    ok_set = set(ok)
    doc_ids = sorted(tokens)
    topk: list[tuple[list[str], str]] = []
    while len(topk) < n_topk:
        mode = "and" if len(topk) % 2 == 0 else "or"
        n_terms = 1 + (len(topk) // 2) % 3
        if mode == "and":
            doc = tokens[doc_ids[int(rng.integers(n_docs))]]
            cand = sorted({t for t in doc if t in ok_set} - {HEAD_STEM})
            pick = [HEAD_STEM] if klass == "broad" and HEAD_STEM in doc else []
            if klass == "broad" and not pick or len(cand) + len(pick) < n_terms:
                continue
            extra = rng.choice(len(cand), size=n_terms - len(pick), replace=False)
            terms = pick + [cand[i] for i in extra]
        else:
            terms = [ok[i] for i in rng.choice(len(ok), size=n_terms, replace=False)]
            if klass == "broad" and HEAD_STEM not in terms and rng.random() < 0.5:
                terms[0] = HEAD_STEM
        topk.append((sorted(set(terms)), mode))

    if klass == "selective":
        pairs = sorted(bigrams[(bigrams >= 1) & (bigrams <= hi)].index)
        idx = np.sort(rng.choice(len(pairs), size=n_phrases, replace=False))
        phrases = [list(pairs[i]) for i in idx]
    else:
        top = bigrams.sort_values(ascending=False, kind="stable").index[:n_phrases]
        phrases = [list(p) for p in top]
    return QueryPool(topk, phrases)
