"""Seeded web-page corpus and change batches.

The corpus has the FIXTURES §1 ``pages`` shape (url, warc_ts, html, text,
lang).  Words come from an analyzer-stable vocabulary: lowercase ASCII
letters only, so the index analyzer (whitespace -> lowercase ->
word_delimiter) and the search analyzer (whitespace -> lowercase) both
keep every vocabulary word as exactly one token.  Word ranks follow a
Zipf law.  A few FIXTURES special tokens are sprinkled in; their index
expansions are fixed by the ES word_delimiter rules (``SPECIAL_EXPANSION``).

Every document keeps its whitespace-token ids (special token j is id
``VOCAB + j``), so the output check derives document lengths, df and
positions from them without asking the engine, and every query is
labelled with its candidate-posting count (sum of df) before it runs.
Only the generated input is cached, per seed; the index never is.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 100_000
ZIPF_S = 1.1
LANGS = ("en", "en", "en", "fr", "es")
EPOCH = pd.Timestamp("2025-01-01T00:00:00Z")
# FIXTURES §1 special tokens and the tokens the index analyzer emits for
# each (word_delimiter splits on case/digit/punctuation changes and keeps
# the original plus catenations).  The search analyzer keeps them whole.
SPECIAL_EXPANSION = {
    "WiFi": ("wifi",),
    "PowerShell": ("powershell",),
    "state-of-the-art": ("state-of-the-art", "state", "of", "the", "art",
                         "stateoftheart"),
    "ipv6_addr": ("ipv6_addr", "ipv", "6", "addr", "ipvaddr", "ipv6addr"),
    "IC-01/04": ("ic-01/04", "ic", "01", "04", "0104", "ic0104"),
    "café": ("café",),
    "Lubanga-Dyilo": ("lubanga-dyilo", "lubanga", "dyilo", "lubangadyilo"),
}
SPECIALS = tuple(SPECIAL_EXPANSION)
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
# bump when the generated bytes change, so stale cache entries are ignored
GEN_VERSION = 2


def word_len(rank: int) -> int:
    """Frequent words are short: 4 letters at rank 1 up to 10 in the
    tail.  A function of rank alone, so text size does not vary by seed."""
    return min(10, 4 + int(1.5 * np.log10(rank)))


def make_vocab(rng: np.random.Generator, n: int = VOCAB) -> np.ndarray:
    """``n`` distinct random lowercase words in rank order, none equal
    to a special-token expansion (which would shift its df)."""
    banned = {t for exp in SPECIAL_EXPANSION.values() for t in exp}
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    words: list[str] = []
    seen: set[str] = set(banned)
    while len(words) < n:
        ln = word_len(len(words) + 1)
        w = letters[rng.integers(0, 26, size=ln)].tobytes().decode()
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def zipf_probs(n: int = VOCAB, s: float = ZIPF_S) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return p / p.sum()


_CDF = np.cumsum(zipf_probs())


def zipf_draw(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` word ids (= Zipf ranks - 1)."""
    return np.minimum(np.searchsorted(_CDF, rng.random(size), side="right"),
                      VOCAB - 1).astype(np.int64)


def render_html(title: str, body: str, with_script: bool) -> bytes:
    script = "<script>var x=1;</script>" if with_script else ""
    return (f"<html><head><title>{title}</title></head>"
            f"<body><p>{body}</p>{script}</body></html>").encode("utf-8")


@dataclass
class Doc:
    lang: str
    toks: np.ndarray        # whitespace-token ids in text order
    title_len: int          # the first title_len tokens are the title

    def words(self, vocab: np.ndarray) -> list[str]:
        return [SPECIALS[t - VOCAB] if t >= VOCAB else vocab[t]
                for t in self.toks]


@dataclass
class Corpus:
    """One seeded corpus; ``docs`` is the live document set by url."""
    seed: int
    vocab: np.ndarray
    docs: dict[str, Doc] = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return len(self.docs)

    def text_bytes(self) -> int:
        return sum(len(self.render(u)[1].encode()) for u in self.docs)

    def render(self, url: str) -> tuple[str, str, str]:
        """(title, text, body) with text = title + newline + body."""
        d = self.docs[url]
        words, tl = d.words(self.vocab), d.title_len
        title, body = " ".join(words[:tl]), " ".join(words[tl:])
        return title, f"{title}\n{body}", body


def _draw_doc(rng, i: int, tag: int) -> tuple[np.ndarray, int]:
    """FIXTURES §1 lengths: 2-6 title + 20-200 body tokens, with special
    tokens at the fixture's positions for doc number ``i``."""
    tl = int(rng.integers(2, 7))
    bl = int(rng.integers(20, 201))
    toks = zipf_draw(rng, tl + bl)
    if i % 3 == 0:
        toks[tl + i % bl] = VOCAB + (i + tag) % len(SPECIALS)
    if i % 11 == 0:
        toks[i % tl] = VOCAB + (i // 11 + tag) % len(SPECIALS)
    return toks, tl


def generate(seed: int, n_docs: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    vocab = make_vocab(np.random.default_rng([seed, 0]))
    c = Corpus(seed=seed, vocab=vocab)
    for i in range(n_docs):
        toks, tl = _draw_doc(rng, i, 0)
        url = f"https://site{i % 97}.example/p/{i:08d}"
        c.docs[url] = Doc(LANGS[i % 5], toks, tl)
    return c


def pages_frame(c: Corpus, urls: list[str], ts0: pd.Timestamp,
                first_index: int = 0) -> pd.DataFrame:
    """FIXTURES §1 rows for ``urls``: every fifth row has a NULL ``text``
    (the engine must extract it from ``html``), every tenth a script."""
    rows = []
    for j, url in enumerate(urls):
        i = first_index + j
        title, text, body = c.render(url)
        rows.append((url, ts0 + pd.Timedelta(seconds=137 * i),
                     render_html(title, body, i % 10 == 7),
                     None if i % 5 == 0 else text, c.docs[url].lang))
    return pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA])


def write_pages(c: Corpus, path: str) -> None:
    pdf = pages_frame(c, list(c.docs), EPOCH)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pandas(pdf, schema=PAGES_SCHEMA,
                                        preserve_index=False), tmp)
    os.replace(tmp, path)


def save(c: Corpus, path: str) -> None:
    urls = list(c.docs)
    lens = np.array([len(c.docs[u].toks) for u in urls], dtype=np.int64)
    tmp = path + ".tmp.npz"
    np.savez(tmp, seed=c.seed, vocab=c.vocab.astype(str),
             urls=np.array(urls), langs=np.array([c.docs[u].lang
                                                  for u in urls]),
             title_len=np.array([c.docs[u].title_len for u in urls]),
             lens=lens, toks=np.concatenate([c.docs[u].toks for u in urls]))
    os.replace(tmp, path)


def load(path: str) -> Corpus:
    z = np.load(path, allow_pickle=False)
    c = Corpus(seed=int(z["seed"]), vocab=z["vocab"].astype(object))
    off = np.concatenate([[0], np.cumsum(z["lens"])])
    toks = z["toks"]
    for i, (u, lang, tl) in enumerate(zip(z["urls"].tolist(),
                                          z["langs"].tolist(),
                                          z["title_len"].tolist())):
        c.docs[u] = Doc(lang, toks[off[i]:off[i + 1]].copy(), int(tl))
    return c


def cached_corpus(work: str, seed: int, n_docs: int) -> tuple[Corpus, str]:
    """The generated input (never the index) is cached per seed."""
    d = os.path.join(work, "corpus", f"v{GEN_VERSION}-n{n_docs}-s{seed}")
    npz, pages = os.path.join(d, "corpus.npz"), os.path.join(d, "pages",
                                                           "part-0.parquet")
    if os.path.exists(npz) and os.path.exists(pages):
        return load(npz), os.path.dirname(pages)
    c = generate(seed, n_docs)
    os.makedirs(d, exist_ok=True)
    write_pages(c, pages)
    save(c, npz)
    return c, os.path.dirname(pages)


# -- change batches (FIXTURES §3) ------------------------------------------

def change_batch(c: Corpus, rng: np.random.Generator, batch: int,
                 n_insert: int = 20, n_update: int = 15,
                 n_delete: int = 10) -> tuple[pd.DataFrame, dict]:
    """One FIXTURES §3 batch against the live docs of ``c``: inserts with
    fresh urls, updates and deletes of distinct existing urls.  Applies
    the batch to ``c`` and returns (change rows, {op: [urls]})."""
    live = sorted(c.docs)
    picked = rng.choice(len(live), size=n_update + n_delete, replace=False)
    upd = [live[i] for i in picked[:n_update]]
    dele = [live[i] for i in picked[n_update:]]
    ins = [f"https://site0.example/p/9{batch:03d}{i:04d}"
           for i in range(n_insert)]
    for j, url in enumerate(ins + upd):
        toks, tl = _draw_doc(rng, j, batch)
        lang = c.docs[url].lang if url in c.docs else LANGS[j % 5]
        c.docs[url] = Doc(lang, toks, tl)
    ts = EPOCH + pd.Timedelta(days=400 + batch)
    rows = pages_frame(c, ins + upd, ts)
    rows.insert(0, "op", ["insert"] * n_insert + ["update"] * n_update)
    gone = pd.DataFrame({"op": "delete", "url": dele,
                         "warc_ts": ts, "html": None, "text": None,
                         "lang": [c.docs[u].lang for u in dele]})
    for u in dele:
        del c.docs[u]
    return pd.concat([rows, gone], ignore_index=True), \
        {"insert": ins, "update": upd, "delete": dele}
