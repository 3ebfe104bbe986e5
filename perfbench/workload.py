"""Query streams and the closed-loop client.

A stream is a list of operations in a fixed class mix: every block of
``sum(weights)`` consecutive operations holds exactly ``weight`` ops of
each class, in seeded order, so the mix does not drift between runs.
Query terms are drawn per class from the generator's own df, so each
search is labelled with its candidate-posting count (sum of df) before
it runs, and classes are kept clear of the engine's dispatch cutoffs.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np

from corpus import LANGS, VOCAB, zipf_draw
import oracle


@dataclass
class Op:
    cls: str
    kind: str                 # search | phrase | keyword | suggest | agg
    terms: list[int] = field(default_factory=list)
    mode: str = "or"
    lang: str | None = None
    prefix: str = ""
    agg: str = ""
    k: int = 10
    sum_df: int = 0

    def text(self, vocab) -> str:
        return " ".join(vocab[t] for t in self.terms)

    def run(self, eng, vocab):
        from mongoesindexer_spark.operators import aggs
        q = self.text(vocab)
        if self.kind == "search":
            if self.lang is not None:
                return eng.topk_wand(q, self.k, mode=self.mode,
                                     filter_field="lang",
                                     filter_value=self.lang)
            return eng.topk_wand(q, self.k, mode=self.mode)
        if self.kind == "phrase":
            return eng.phrase_topk(q, self.k)
        if self.kind == "keyword":
            return eng.keyword_term("lang", self.lang, size=self.k)
        if self.kind == "suggest":
            return eng.suggest(self.prefix, self.k)
        # aggs are timed through collect(): the frame is lazy
        if self.agg == "count":
            return aggs.search_count(eng, q).collect()
        if self.agg == "terms":
            return aggs.search_terms_agg(eng, q, "lang").collect()
        return aggs.search_significant_terms_agg(eng, q).collect()

    def check(self, snap: oracle.Snapshot, got) -> None:
        if self.kind == "search":
            score, ok = snap.match_scores(self.terms, self.mode, self.lang)
            oracle.check_topk(snap, got, score, ok, self.k)
        elif self.kind == "phrase":
            score, ok = snap.phrase_scores(self.terms)
            oracle.check_topk(snap, got, score, ok, self.k)
        elif self.kind == "keyword":
            oracle.check_keyword(snap, got, self.lang, self.k)
        elif self.kind == "suggest":
            oracle.check_suggest(snap, got, self.prefix, self.k)
        elif self.agg == "count":
            oracle.check_count(snap, got, self.terms)
        elif self.agg == "terms":
            oracle.check_terms_agg(snap, got, self.terms)
        else:
            oracle.check_significant(snap, got, self.terms)


class Drawer:
    """Seeded term draws against one snapshot's df."""

    def __init__(self, snap: oracle.Snapshot, rng: np.random.Generator):
        self.snap, self.rng = snap, rng

    def head(self, n: int, top: int, lo: int, hi: int) -> list[int]:
        """``n`` distinct terms among the ``top`` most frequent, Zipf-
        weighted, with sum(df) in [lo, hi)."""
        for _ in range(1000):
            ts = set()
            while len(ts) < n:
                t = int(zipf_draw(self.rng, 1)[0])
                if t < top:
                    ts.add(t)
            s = int(self.snap.df[list(ts)].sum())
            if lo <= s < hi:
                return sorted(ts)
        raise RuntimeError(f"no {n}-term head query with sum(df) in "
                           f"[{lo}, {hi})")

    def tail(self, n: int, lo_rank: int = 300) -> list[int]:
        """``n`` distinct live terms with rank >= ``lo_rank``, uniform in
        log-rank so the working set spans mid and tail terms."""
        out: set[int] = set()
        while len(out) < n:
            t = int(np.exp(self.rng.uniform(np.log(lo_rank),
                                            np.log(VOCAB))))
            if t < VOCAB and self.snap.df[t] > 0:
                out.add(t)
        return sorted(out)

    def bigram(self, top: int, lo: int, hi: int) -> list[int]:
        """An adjacent pair of head terms taken from a random document,
        with sum(df) in [lo, hi) (phrase cost follows it)."""
        while True:
            toks = self.snap.toks[int(self.rng.integers(self.snap.n))]
            i = int(self.rng.integers(len(toks) - 1))
            a, b = int(toks[i]), int(toks[i + 1])
            if a < top and b < top and a != b and \
                    lo <= self.snap.df[a] + self.snap.df[b] < hi:
                return [a, b]

    def lang(self) -> str:
        return LANGS[int(self.rng.integers(len(LANGS)))]

    def prefix(self) -> str:
        """2-4 leading letters of a live mid-rank word."""
        t = self.tail(1, lo_rank=20)[0]
        w = self.snap.vocab[t]
        return w[:int(self.rng.integers(2, 5))]


def block_size(classes) -> int:
    return sum(w for _, w in classes)


def stream(classes, make, n_ops: int, rng: np.random.Generator) -> list[Op]:
    """``n_ops`` ops in blocks holding each class ``weight`` times."""
    block = [name for name, w in classes for _ in range(w)]
    ops: list[Op] = []
    while len(ops) < n_ops:
        for name in rng.permutation(block):
            ops.append(make(str(name)))
    return ops[:n_ops]


def label(ops: list[Op], snap: oracle.Snapshot) -> list[Op]:
    """Record each op's candidate postings (sum of df) from outside."""
    for op in ops:
        op.sum_df = int(snap.df[op.terms].sum())
    return ops


@dataclass
class Sample:
    op: Op
    ms: float
    ok: bool
    result: object = None


class Client:
    """One closed-loop client: the next op is sent when the last returns.
    Each op asks ``get_engine`` for the current engine first, as a serving
    process does, so a snapshot advance is picked up by the next op."""

    def __init__(self, spark, index_dir: str, vocab, errors: list[str],
                 tracer=None):
        self.spark, self.index_dir, self.vocab = spark, index_dir, vocab
        self.tracer = tracer
        self.samples: list[Sample] = []
        self.errors = errors

    def engine(self):
        from mongoesindexer_spark.operators import topk
        return topk.get_engine(self.spark, self.index_dir)

    def call(self, op: Op, keep: bool = False) -> Sample:
        tr = self.tracer
        if tr is not None:
            tr.request += 1
        sid = tr.begin(f"aggs.{op.agg}") if tr and op.kind == "agg" else None
        t0 = time.perf_counter()
        try:
            got = op.run(self.engine(), self.vocab)
            ok = True
        except Exception as e:   # counted as failed, never aborts the run
            got, ok = None, False
            self.errors.append(f"{op.cls}: {type(e).__name__}: {e}")
        ms = (time.perf_counter() - t0) * 1e3
        if sid is not None:
            tr.end(sid)
        s = Sample(op, ms, ok, got if keep else None)
        self.samples.append(s)
        return s

    def loop(self, ops: list[Op], seconds: float, block: int,
             check_every: int) -> None:
        """Run ``ops`` in whole blocks of ``block`` ops until ``seconds``
        pass (so every run holds the exact class mix); keep the first
        result of each class and every ``check_every``-th one for the
        output check."""
        end = time.perf_counter() + seconds
        seen: set[str] = set()
        i = 0
        while i % block or time.perf_counter() < end:
            op = ops[i % len(ops)]
            keep = i % check_every == 0 or op.cls not in seen
            seen.add(op.cls)
            self.call(op, keep=keep)
            i += 1


def check(samples: list[Sample], snap: oracle.Snapshot,
          errors: list[str]) -> int:
    """Check kept results against the brute-force answers; returns the
    number of mismatches (each appended to ``errors``)."""
    bad = 0
    for s in samples:
        if s.ok and s.result is not None:
            try:
                s.op.check(snap, s.result)
            except Exception as e:   # a malformed result is a wrong one
                bad += 1
                errors.append(f"{s.op.cls}: wrong result: "
                              f"{type(e).__name__}: {e}")
            s.result = None
    return bad
