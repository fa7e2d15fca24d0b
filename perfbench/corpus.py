"""Seeded inputs and independent answer checkers for the benchmark.

The engine only ever receives what this module generates: document rows
shaped like the sf0.1 ``documents`` table and query texts drawn from those
documents. The benchmark may read nothing outside its checkout, so the
table is regenerated here with the statistics measured on it (RECORD.md,
"Corpus"): 5,000 docs, 10-99 words each drawn uniformly from a 30-word
vocabulary, 5% of docs another doc's text plus the token ``dup``, five
languages in the table's shares, ``source`` = ``src{doc_id % 20}``.

Expected answers come from paths that share no code with the engine's
search operators:

* :class:`ExactMaxSim` — exact MaxSim in NumPy over the encoder's
  documented md5 token-vector derivation (``encoding.py`` module docstring),
* :func:`bm25_truth` — Okapi BM25 in DuckDB SQL over the same rows,
* :func:`fuse_relative` — relative-score fusion recomputed in Python.
"""

from __future__ import annotations

import hashlib

import numpy as np

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_DOCS = 5_000
DUP_SHARE = 0.05
CORPUS_SEED = 42
QUERY_WORDS = 8          # encoding.QUERY_MAX_TOKENS
DOC_MAX_TOKENS = 48      # encoding.DOC_MAX_TOKENS
DIM = 16                 # encoding.DEFAULT_DIM
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
QUERY_SCHEMA = "query_id long, text string"


def make_documents(n_docs: int = N_DOCS) -> list[tuple]:
    """``(doc_id, text, lang, source, n_chars)`` rows.

    The corpus is fixed, like the sf0.1 table it stands in for; the run's
    seed varies the queries and filters."""
    rng = np.random.default_rng(CORPUS_SEED)
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
             for _ in range(n_docs)]
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    out = list(texts)
    for d in rng.choice(n_docs, int(n_docs * DUP_SHARE), replace=False):
        out[d] = texts[int(rng.integers(0, n_docs))] + " dup"
    return [(d, t, LANGS[int(langs[d])], f"src{d % 20}", len(t)) for d, t in enumerate(out)]


def make_queries(rng: np.random.Generator, texts: list[str], n: int,
                 first_id: int) -> list[tuple]:
    """``n`` query rows, each the first 3-8 words of a random source text."""
    out = []
    for i in range(n):
        words = texts[int(rng.integers(0, len(texts)))].split()
        out.append((first_id + i,
                    " ".join(words[: int(rng.integers(3, QUERY_WORDS + 1))])))
    return out


def make_filter(rng: np.random.Generator) -> tuple[str, list]:
    """A seeded ``lang = ? AND n_chars > ?`` metadata condition over one of
    the four minor languages (each ~15% of docs), so every filter selects a
    similar share of the corpus."""
    return ("lang = ? AND n_chars > ?",
            [LANGS[int(rng.integers(1, len(LANGS)))], int(rng.integers(150, 250))])


def passes_filter(row: tuple, params: list) -> bool:
    return row[2] == params[0] and row[4] > params[1]


# -- exact MaxSim -------------------------------------------------------------

def _token_vector(token: str) -> np.ndarray:
    raw = np.array([
        int(hashlib.md5(f"{token}:{i}".encode()).hexdigest()[:8], 16)
        / 2147483648.0 - 1.0 for i in range(DIM)
    ])
    return raw / np.sqrt(np.sum(raw * raw))


class ExactMaxSim:
    """Exact MaxSim over raw token vectors. A doc's score for a query only
    depends on which vocabulary words its first ``DOC_MAX_TOKENS`` tokens
    hold, so each doc is reduced to per-word best dot products once."""

    def __init__(self, docs: list[tuple]) -> None:
        self.ids = np.array([d[0] for d in docs])
        self.pos = {int(d): j for j, d in enumerate(self.ids)}
        self.words: dict[str, int] = {}
        vecs: list[np.ndarray] = []
        doc_words = []
        for d in docs:
            ws = []
            for w in d[1].lower().split()[:DOC_MAX_TOKENS]:
                if w not in self.words:
                    self.words[w] = len(self.words)
                    vecs.append(_token_vector(w))
                ws.append(self.words[w])
            doc_words.append(ws)
        v = np.stack(vecs)
        dots = v @ v.T
        present = np.zeros((len(docs), len(v)), dtype=bool)
        for r, ws in enumerate(doc_words):
            present[r, ws] = True
        # best[w, d] = max over doc d's words of dot(w, ·)
        self.best = np.where(present[None, :, :], dots[:, None, :], -np.inf).max(axis=2)

    def scores(self, text: str) -> np.ndarray:
        """Every doc's score for one query text, rounded to 1e-9 so that docs
        holding the same words tie exactly whatever the summation order."""
        ws = [self.words[w] for w in text.lower().split()[:QUERY_WORDS]]
        return np.round(self.best[ws].sum(axis=0), 9)

    def topk(self, queries: list[tuple], k: int,
             keep: np.ndarray | None = None) -> dict[int, list[tuple[int, float]]]:
        """Top-k per query by (score desc, doc_id asc), over the docs where
        ``keep`` is true."""
        cand = np.arange(len(self.ids)) if keep is None else np.flatnonzero(keep)
        out = {}
        for q in queries:
            s = self.scores(q[1])
            order = cand[np.lexsort((self.ids[cand], -s[cand]))][:k]
            out[q[0]] = [(int(self.ids[j]), float(s[j])) for j in order]
        return out

    def check(self, result: dict[int, list[tuple[int, float]]],
              queries: list[tuple], k: int, tol: float,
              keep: np.ndarray | None = None) -> tuple[int, int, str | None]:
        """:func:`check_by_doc` of every query's answer against exact MaxSim
        over the candidates (``keep``) → (hits, expected, first error)."""
        truth = self.topk(queries, k, keep)
        hits = expected = 0
        error = None
        for q in queries:
            s = self.scores(q[1])

            def score_of(d, s=s):
                j = self.pos.get(d)
                return None if j is None or (keep is not None and not keep[j]) else s[j]

            exp = [x for _, x in truth[q[0]]]
            h, err = check_by_doc(q[0], result.get(q[0], []), score_of, exp, tol)
            hits, expected, error = hits + h, expected + len(exp), error or err
        return hits, expected, error


def check_by_doc(qid: int, got: list[tuple[int, float]], score_of,
                 exp: list[float], tol: float) -> tuple[int, str | None]:
    """One query's top-k answer, checked doc by doc → (hits, first error).

    Each returned doc must be distinct, a candidate (``score_of`` gives its
    expected score, None for a non-candidate) and returned with that score
    within ``tol``. Ties are common — docs holding the same words score the
    same — so hits are counted by rank: the i-th best expected score among
    the returned docs is a hit when it reaches the expected i-th score
    ``exp[i]`` within ``tol``; a correct answer has ``len(exp)`` hits."""
    error = None
    mine = []
    for d, score in got:
        e = score_of(d)
        if e is None:
            error = error or f"query {qid}: doc {d} is not a candidate"
        elif abs(e - score) > tol:
            error = error or f"query {qid}: doc {d} scored {score:.6f}, expected {e:.6f}"
        else:
            mine.append(e)
    if len({d for d, _ in got}) != len(got):
        error = error or f"query {qid}: a doc is returned twice"
    if len(got) != len(exp):
        error = error or f"query {qid}: {len(got)} docs returned, {len(exp)} expected"
    mine.sort(reverse=True)
    hits = sum(1 for g, e in zip(mine, exp) if g >= e - tol)
    if error is None and hits != len(exp):
        error = f"query {qid}: {hits}/{len(exp)} of the expected top scores reached"
    return hits, error


def check_exact(result: dict[int, list[tuple[int, float]]],
                truth: dict[int, list[tuple[int, float]]], tol: float) -> str | None:
    """The returned doc ids must equal the expected ones in order (the
    engine and the oracle both break score ties by doc id), and each
    score must match within ``tol``. Returns the first error or None."""
    for qid, exp in truth.items():
        got = result.get(qid, [])
        if [d for d, _ in got] != [d for d, _ in exp]:
            return f"query {qid}: doc ids {[d for d, _ in got]}, expected {[d for d, _ in exp]}"
        if any(abs(a - b) > tol for (_, a), (_, b) in zip(got, exp)):
            return f"query {qid}: scores {[s for _, s in got]}, expected {[s for _, s in exp]}"
    return None


# -- BM25 in DuckDB -------------------------------------------------------------

def bm25_truth(docs: list[tuple], queries: list[tuple], k: int, *,
               k1: float, b: float, decimals: int,
               split_re: str) -> dict[int, list[tuple[int, float]]]:
    """Okapi BM25 top-k per query (score desc, doc_id asc) computed by DuckDB."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame(
            [(d[0], d[1]) for d in docs], columns=["doc_id", "text"]))
        con.register("queries", pd.DataFrame(queries, columns=["query_id", "text"]))
        toks = f"list_filter(string_split_regex(lower(text), '{split_re}'), x -> x <> '')"
        rows = con.execute(f"""
WITH tok AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
postings AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
doclens AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*) AS n, sum(dl) / count(*) AS avgdl FROM doclens),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
qterms AS (
  SELECT query_id, term, count(*) AS qtf
  FROM (SELECT query_id, unnest({toks}) AS term FROM queries) GROUP BY 1, 2),
contribs AS (
  SELECT q.query_id, p.doc_id,
         q.qtf * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * (p.tf * {k1 + 1.0}) / (p.tf + {k1} * (1.0 - {b} + {b} * l.dl / s.avgdl)) AS c
  FROM qterms q JOIN postings p USING (term) JOIN dfreq d USING (term)
  JOIN doclens l ON p.doc_id = l.doc_id CROSS JOIN stats s),
scored AS (
  SELECT query_id, doc_id,
         round(list_reduce(list_prepend(0.0, list_sort(list(c))), (x, y) -> x + y),
               {decimals}) AS score
  FROM contribs GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT query_id, doc_id, score FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank""").fetchall()
    finally:
        con.close()
    out: dict[int, list[tuple[int, float]]] = {q[0]: [] for q in queries}
    for qid, did, score in rows:
        out[int(qid)].append((int(did), float(score)))
    return out


def fuse_relative(sem: dict[int, list[tuple[int, float]]],
                  kw: dict[int, list[tuple[int, float]]], *,
                  alpha: float) -> dict[int, dict[int, float]]:
    """Per query, the fused score of every doc in either list: per-list
    min-max normalisation (constant list → 1.0), α-blend, missing side
    scores 0."""
    def norm(lst):
        if not lst:
            return {}
        lo, hi = min(s for _, s in lst), max(s for _, s in lst)
        return {d: (1.0 if hi == lo else (s - lo) / (hi - lo)) for d, s in lst}

    out = {}
    for qid in set(sem) | set(kw):
        a, c = norm(sem.get(qid, [])), norm(kw.get(qid, []))
        out[qid] = {d: alpha * a.get(d, 0.0) + (1.0 - alpha) * c.get(d, 0.0)
                    for d in set(a) | set(c)}
    return out
