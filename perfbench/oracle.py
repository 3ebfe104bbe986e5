"""Brute-force answers computed from the generator's own tokens.

Nothing here reads the index or calls the engine: term statistics,
document lengths and positions all come from ``corpus.Corpus``.  The
scoring model is Lucene BM25 (k1=1.2, b=0.75) with the ES idf
``ln(1 + (N - df + 0.5) / (df + 0.5))``; a phrase scores
``sum(idf of its terms) * tfn(phrase_freq, dl)``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from corpus import SPECIAL_EXPANSION, SPECIALS, VOCAB, Corpus

K1, B = 1.2, 0.75
REL_TOL = 1e-6
# extra index tokens each special token adds to a document's length
_EXTRA_LEN = np.array([len(SPECIAL_EXPANSION[s]) - 1 for s in SPECIALS])
_EXPANSIONS = sorted({t for exp in SPECIAL_EXPANSION.values() for t in exp})


class Mismatch(AssertionError):
    """An engine answer that differs from the brute-force one."""


class Snapshot:
    """Index statistics of one live document set."""

    def __init__(self, c: Corpus):
        self.vocab = c.vocab
        self._wid: dict | None = None
        self.urls = list(c.docs)
        self.url_pos = {u: i for i, u in enumerate(self.urls)}
        self.langs = np.array([c.docs[u].lang for u in self.urls])
        self.toks = [c.docs[u].toks for u in self.urls]
        lens = np.array([len(t) for t in self.toks], dtype=np.int64)
        extra = np.array([_EXTRA_LEN[t[t >= VOCAB] - VOCAB].sum()
                          for t in self.toks], dtype=np.int64)
        self.dl = (lens + extra).astype(np.float64)
        self.n = len(self.urls)
        self.avgdl = float(self.dl.sum()) / self.n
        # (term, doc) postings with tf, vocabulary terms only
        doc_of = np.repeat(np.arange(self.n), lens)
        flat = np.concatenate(self.toks)
        keep = flat < VOCAB
        pair = flat[keep] * self.n + doc_of[keep]
        pair, tf = np.unique(pair, return_counts=True)
        self.p_term, self.p_doc, self.p_tf = pair // self.n, pair % self.n, tf
        self.starts = np.searchsorted(self.p_term, np.arange(VOCAB + 1))
        self.df = np.diff(self.starts)
        self._flat, self._doc_of = flat, doc_of
        # which docs hold each special token (for expansion-term df)
        sp = flat >= VOCAB
        self.has_special = np.zeros((len(SPECIALS), self.n), dtype=bool)
        self.has_special[flat[sp] - VOCAB, doc_of[sp]] = True

    def word_ids(self) -> dict:
        if self._wid is None:
            self._wid = {w: i for i, w in enumerate(self.vocab)}
        return self._wid

    def idf(self, df) -> np.ndarray:
        df = np.asarray(df, dtype=np.float64)
        return np.log(1.0 + (self.n - df + 0.5) / (df + 0.5))

    def tfn(self, tf, docs) -> np.ndarray:
        tf = np.asarray(tf, dtype=np.float64)
        return tf * (K1 + 1.0) / (
            tf + K1 * (1.0 - B + B * self.dl[docs] / self.avgdl))

    def postings(self, t: int) -> tuple[np.ndarray, np.ndarray]:
        s, e = self.starts[t], self.starts[t + 1]
        return self.p_doc[s:e], self.p_tf[s:e]

    # -- per-query scores: dense arrays over the live docs ------------------

    def match_scores(self, terms: list[int], mode: str = "or",
                     lang: str | None = None
                     ) -> tuple[np.ndarray, np.ndarray]:
        """(score, matched) over every doc for a bag of distinct terms."""
        score = np.zeros(self.n)
        hits = np.zeros(self.n, dtype=np.int64)
        for t in sorted(set(terms)):
            d, tf = self.postings(t)
            score[d] += self.idf(len(d)) * self.tfn(tf, d)
            hits[d] += 1
        ok = hits == len(set(terms)) if mode == "and" else hits > 0
        if lang is not None:
            ok &= self.langs == lang
        return score, ok

    def phrase_scores(self, terms: list[int]) -> tuple[np.ndarray,
                                                        np.ndarray]:
        """Exact-adjacency phrase: distinct start positions per doc."""
        flat, doc_of, m = self._flat, self._doc_of, len(terms)
        if len(flat) < m:
            return np.zeros(self.n), np.zeros(self.n, dtype=bool)
        ok = np.ones(len(flat) - m + 1, dtype=bool)
        for j, t in enumerate(terms):
            ok &= flat[j:len(flat) - m + 1 + j] == t
        ok &= doc_of[:len(ok)] == doc_of[m - 1:]
        freq = np.bincount(doc_of[:len(ok)][ok], minlength=self.n)
        idf_sum = sum(float(self.idf(self.df[t])) for t in terms)
        score = np.where(freq > 0, idf_sum * self.tfn(freq, np.arange(
            self.n)), 0.0)
        return score, freq > 0

    # -- index-term df (vocabulary + special-token expansions) ---------------

    def expansion_docs(self, term: str) -> np.ndarray:
        """Docs whose special tokens expand to ``term`` at index time."""
        rows = [j for j, s in enumerate(SPECIALS)
                if term in SPECIAL_EXPANSION[s]]
        return self.has_special[rows].any(axis=0)

    def prefix_terms(self, prefix: str) -> list[tuple[str, int]]:
        wid = self.word_ids()
        out = [(w, int(self.df[wid[w]])) for w in self.vocab
               if w.startswith(prefix)]
        out += [(w, int(self.expansion_docs(w).sum())) for w in _EXPANSIONS
                if w.startswith(prefix)]
        return [(w, d) for w, d in out if d > 0]


# -- comparisons ------------------------------------------------------------

def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)


def check_topk(snap: Snapshot, got: pd.DataFrame, score: np.ndarray,
               ok: np.ndarray, k: int) -> None:
    """Rank-equivalent top-k: same length, same score at every rank, and
    every returned url carries its brute-force score (ties may order
    either way)."""
    idx = np.flatnonzero(ok)
    want = np.sort(score[idx])[::-1][:k]
    if len(got) != len(want):
        raise Mismatch(f"top-{k}: {len(got)} hits, expected {len(want)}")
    gs = got["score"].to_numpy(dtype=np.float64)
    for r, (a, b) in enumerate(zip(gs, want)):
        if not _close(a, b):
            raise Mismatch(f"rank {r}: score {a!r}, expected {b!r}")
    for url, s in zip(got["url"], gs):
        i = snap.url_pos.get(url)
        if i is None or not ok[i]:
            raise Mismatch(f"{url!r} returned but does not match")
        if not _close(s, score[i]):
            raise Mismatch(f"{url!r}: score {s!r}, expected {score[i]!r}")


def check_keyword(snap: Snapshot, got: pd.DataFrame, lang: str,
                  size: int) -> None:
    live = int((snap.langs == lang).sum())
    if len(got) != min(size, live):
        raise Mismatch(f"term lang={lang}: {len(got)} docs, expected "
                       f"{min(size, live)}")
    ids = got["doc_id"].tolist()
    if ids != sorted(ids):
        raise Mismatch("term query doc_ids not ascending")
    for url in got["url"]:
        i = snap.url_pos.get(url)
        if i is None or snap.langs[i] != lang:
            raise Mismatch(f"term lang={lang}: {url!r} does not match")


def check_suggest(snap: Snapshot, got: pd.DataFrame, prefix: str,
                  k: int) -> None:
    want = sorted(snap.prefix_terms(prefix), key=lambda x: (-x[1], x[0]))
    want = want[:k]
    have = list(zip(got["term"].tolist(),
                    [int(w) for w in got["weight"].tolist()]))
    if have != want:
        raise Mismatch(f"suggest {prefix!r}: {have[:3]}..., expected "
                       f"{want[:3]}...")


def check_count(snap: Snapshot, rows, terms: list[int]) -> None:
    _, ok = snap.match_scores(terms)
    if int(rows[0]["doc_count"]) != int(ok.sum()):
        raise Mismatch(f"count {rows[0]['doc_count']}, expected "
                       f"{int(ok.sum())}")


def check_terms_agg(snap: Snapshot, rows, terms: list[int],
                    size: int = 10) -> None:
    _, ok = snap.match_scores(terms)
    vals, cnt = np.unique(snap.langs[ok], return_counts=True)
    want = sorted(zip(vals.tolist(), cnt.tolist()),
                  key=lambda x: (-x[1], x[0]))[:size]
    have = [(r["value"], int(r["doc_count"])) for r in rows]
    if have != want:
        raise Mismatch(f"terms agg {have}, expected {want}")


def check_significant(snap: Snapshot, rows, terms: list[int],
                      size: int = 10) -> None:
    """JLH: score = (fg% - bg%) * (fg% / bg%), positive lift only, score
    desc then term asc; fg/bg are doc counts in the hit set / corpus."""
    _, ok = snap.match_scores(terms)
    nfg, n = float(ok.sum()), float(snap.n)
    fg = np.bincount(snap.p_term[ok[snap.p_doc]], minlength=VOCAB)
    cand = np.flatnonzero(fg)
    stats = [(snap.vocab[t], int(fg[t]), int(snap.df[t])) for t in cand]
    for w in _EXPANSIONS:
        docs = snap.expansion_docs(w)
        if (docs & ok).any():
            stats.append((w, int((docs & ok).sum()), int(docs.sum())))
    scored = []
    for w, f, b in stats:
        fgp, bgp = f / nfg, b / n
        s = (fgp - bgp) * (fgp / bgp)
        if s > 0:
            scored.append((-s, w, f, b))
    want = [(w, -ns, f, b) for ns, w, f, b in sorted(scored)[:size]]
    have = [(r["term"], float(r["score"]), int(r["fg_df"]),
             int(r["bg_df"])) for r in rows]
    if [(w, f, b) for w, _, f, b in have] != \
            [(w, f, b) for w, _, f, b in want] or \
            not all(_close(a[1], b[1]) for a, b in zip(have, want)):
        raise Mismatch(f"significant_terms {have[:3]}..., expected "
                       f"{want[:3]}...")
