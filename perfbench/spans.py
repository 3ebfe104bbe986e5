"""Span recorder for the traced run.

Spans are recorded from the benchmark side only: ``Tracer.install``
replaces public entry points of the package's modules with wrappers that
time each call (name, start, end, parent span, request id) and bump
counters.  Aggregations return lazy frames, so the client opens their
span itself, around the call and its ``collect()``.  Nothing inside the
package is changed on disk, and with tracing off nothing is installed at
all.  Spans stay in memory and are written as JSON lines when the run
ends.

A layer's self time is its spans' duration minus the part covered by
their child spans (calls made inside them that are also wrapped).
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict

# wrapped entry point -> layer metric its self time is reported under
SERVING = ("topk_wand", "phrase_topk", "keyword_term", "suggest")
KERNELS = {
    "exhaustive_topk_arrays": "topk.exhaustive",
    "wand_topk_arrays": "topk.wand",
    "conjunctive_topk_arrays": "topk.wand",
    "phrase_topk_arrays": "topk.phrase",
}
TABLES = ("term_dict", "postings_blocks", "doc_stats")


class Tracer:
    def __init__(self):
        self.spans: list[list] = []   # [id, parent, name, request, t0, t1]
        self.counts: dict[str, float] = defaultdict(float)
        self.request = 0
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self._table_of_path: dict[str, str] = {}

    # -- recording ----------------------------------------------------------

    def reset(self) -> None:
        """Drop what set-up and warm-up recorded (call between ops)."""
        self.spans.clear()
        self.counts.clear()

    def begin(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append([sid, self._stack[-1] if self._stack else None,
                           name, self.request, time.perf_counter(), None])
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid][5] = time.perf_counter()
        self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        """Replace ``owner.attr`` with a timed wrapper; ``on_return(sid,
        args, kwargs, result)`` may bump counters or rename the span."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            sid = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(sid)
            if on_return is not None:
                on_return(sid, args, kwargs, out)
            return out

        # name the wrapper after the attribute it replaces, so cloudpickle
        # ships it to Spark workers by reference: a worker imports the
        # package afresh and runs the original, untraced function
        functools.update_wrapper(traced, fn)
        if not isinstance(owner, type):
            traced.__module__, traced.__qualname__ = owner.__name__, attr
        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def install(self) -> None:
        from mongoesindexer_spark.functions import analysis, encode
        from mongoesindexer_spark.operators import merge, topk
        from mongoesindexer_spark.sources import catalog
        from mongoesindexer_spark.streaming import incremental

        eng = topk.SearchEngine
        for m in SERVING:
            self.wrap(eng, m, f"topk.{m}")
        self.wrap(eng, "fetch_urls", "topk.fetch_urls")
        # the block cache lives in _term_blocks: every term asked of it is
        # a lookup, every term it reads from postings_blocks a miss
        self.wrap(eng, "_term_blocks", "topk.term_blocks",
                  lambda s, a, k, r: self._bump("topk.block_cache.lookups",
                                                len(a[1])))
        self.wrap(eng, "topk_segments", "topk.fanout",
                  lambda s, a, k, r: self._bump("topk.path.fanout.count"))
        for fn, metric in KERNELS.items():
            path = metric.split(".")[1]
            on = None if path == "phrase" else (
                lambda s, a, k, r, p=path: self._bump(f"topk.path.{p}.count"))
            self.wrap(topk, fn, metric, on)
        self.wrap(topk, "get_engine", "topk.get_engine")
        for mod in (analysis, topk):
            self.wrap(mod, "analyze_search", "analysis.analyze_search")
        for mod in (encode, topk):
            self.wrap(mod, "decode_blocks_into", "encode.decode_blocks",
                      lambda s, a, k, r: self._bump("encode.blocks_decoded",
                                                    len(a[0])))
        self.wrap(catalog.ParquetCatalog, "data_files",
                  "catalog.data_files", self._note_paths)
        self.wrap(topk._RowGroupIndex, "read_isin", "catalog.read_isin",
                  self._count_read)
        self.wrap(incremental.IncrementalIndexer, "apply_updates",
                  "incremental.apply_updates")
        self.wrap(merge, "compact", "merge.compact")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _bump(self, key: str, n: float = 1) -> None:
        self.counts[key] += n

    def _note_paths(self, sid, args, kwargs, paths) -> None:
        table = args[1] if len(args) > 1 else kwargs.get("table")
        for p in paths:
            self._table_of_path[p] = table

    def _count_read(self, sid, args, kwargs, pdf) -> None:
        """Attribute the read (and its time) to its table."""
        idx = args[0]
        table = self._table_of_path.get(idx.paths[0] if idx.paths else "")
        table = table if table in TABLES else "other"
        self.spans[sid][2] = f"catalog.{table}"
        self._bump(f"catalog.{table}.reads")
        self._bump(f"catalog.{table}.rows", len(pdf))
        if table == "postings_blocks":
            self._bump("topk.block_cache.misses", len(args[1]))

    # -- reporting ------------------------------------------------------------

    def self_ms(self) -> dict[str, float]:
        """Self time per span name, in ms."""
        child = defaultdict(float)
        for _, parent, _, _, t0, t1 in self.spans:
            if parent is not None and t1 is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, _, name, _, t0, t1 in self.spans:
            if t1 is not None:
                out[name] += (t1 - t0 - child[sid]) * 1e3
        return out

    def total_ms(self) -> dict[str, float]:
        """Inclusive time per span name, outermost spans only, in ms."""
        names = {s[0]: s[2] for s in self.spans}
        out: dict[str, float] = defaultdict(float)
        for sid, parent, name, _, t0, t1 in self.spans:
            nested = False
            p = parent
            while p is not None:
                if names[p] == name:
                    nested = True
                    break
                p = self.spans[p][1]
            if t1 is not None and not nested:
                out[name] += (t1 - t0) * 1e3
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, parent, name, req, t0, t1 in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent,
                                    "name": name, "request": req,
                                    "start": t0, "end": t1}) + "\n")
