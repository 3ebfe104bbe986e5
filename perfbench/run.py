"""Benchmark for the mongoesindexer_spark index builder and search engine.

    python3 perfbench/run.py --workload serve_head --seed 1 --seconds 10 \\
        --trace 0

Run from the root of a checkout.  The run builds a seeded corpus (cached
under ``.perfbench_work/``), builds the index from it with the code in the
checkout, serves the workload's operation stream from one closed-loop
client for ``--seconds`` seconds, checks sampled results against
brute-force answers, and prints one JSON object as its last line:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

N_DOCS = 10_000
# The engine's sum(df) cutoffs (exhaustive < 2^20 <= WAND < 2^22 <=
# fan-out) are sized for corpora about 2^SCALE_SHIFT times this one; the
# benchmark divides them by the same factor so its own dispatch still
# sends each query class down its path.  The cutoffs are read from the
# package, so a change to them moves queries between paths.
SCALE_SHIFT = 5
# The query-class windows are benchmark constants: the cutoffs the
# benchmark was written against, scaled the same way.  Every commit gets
# the same seeded query stream, whatever its cutoffs.
E0 = (1 << 20) >> SCALE_SHIFT
F0 = (1 << 22) >> SCALE_SHIFT
# FIXTURES §3 batches applied by the ingest workload
SYNC_BATCHES = 1
CHECK_EVERY = 4


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(file_sizes(path).values())


# -- host hygiene ------------------------------------------------------------

def start_spark():
    """Spark ``local[nproc]`` with the driver heap sized to the host, the
    package on the workers' PYTHONPATH and all scratch inside WORK."""
    nproc = len(os.sched_getaffinity(0))
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM",
                          f"{max(1, min(8, int(host_gb // 4)))}g")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # every JVM (the launcher too) keeps its temp and perf files in WORK
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    from mongoesindexer_spark.session import get_spark
    spark = get_spark("perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()     # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def vm_kb(field: str) -> int:
    """``VmRSS`` or ``VmHWM`` (peak RSS) of this process, in kB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def serving_baseline() -> int:
    """Hand the memory the benchmark's set-up freed back to the OS, reset
    this process's peak RSS to its current RSS and return that RSS, in
    kB.  The benchmark's own objects (corpus, snapshots) are frozen out
    of the garbage collector, so they do not lengthen the collections
    the program's work triggers."""
    gc.collect()
    gc.freeze()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):   # not glibc: nothing to trim
        pass
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")
    return vm_kb("VmRSS")


def jvm_peak_rss_mb() -> float:
    """Peak RSS of the largest waited-for child (the JVM), in MB."""
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0


# -- one run -----------------------------------------------------------------

class Run:
    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool):
        import numpy as np
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.rng = np.random.default_rng([seed, 7])
        self.tracer = None
        if traced:
            from spans import Tracer
            self.tracer = Tracer()
            self.tracer.install()
        self.index_dir = os.path.join(WORK, "index", f"{workload}-s{seed}")
        self.m: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.errors: list[str] = []
        self.spark = self.client = None
        self.cut_e = self.cut_f = None
        self.measured, self.overhead_ops = [], []
        # operations outside the client (build, apply_updates, compact) and
        # result checks that failed; the client's own samples add to these
        self.other_ops = self.failed_checks = 0
        self.rss0_kb = None
        self.own_ms: dict[str, float] = {}

    def fail(self, what: str, e: BaseException) -> None:
        """Count a failed operation; the run goes on where it can."""
        self.failed_checks += 1
        self.errors.append(f"{what}: {type(e).__name__}: {e}")

    def setup(self):
        """Corpus, Spark, index build and engine open: all of set-up."""
        import corpus
        import oracle
        from mongoesindexer_spark.operators import topk
        from mongoesindexer_spark.operators.build_index import IndexBuilder

        t = time.perf_counter()
        self.corpus, pages_dir = corpus.cached_corpus(WORK, self.seed,
                                                      N_DOCS)
        self.snap = oracle.Snapshot(self.corpus)
        self.m["setup.corpus_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.spark = start_spark()
        self.m["setup.spark_s"] = time.perf_counter() - t
        topk.EXHAUSTIVE_CUTOFF >>= SCALE_SHIFT
        topk.SEGMENT_FANOUT_CUTOFF >>= SCALE_SHIFT
        self.cut_e = topk.EXHAUSTIVE_CUTOFF
        self.cut_f = topk.SEGMENT_FANOUT_CUTOFF
        shutil.rmtree(self.index_dir, ignore_errors=True)
        pages = self.spark.read.parquet(pages_dir)
        self.other_ops += 1          # the build
        t = time.perf_counter()
        self.builder = IndexBuilder(self.index_dir, keyword_fields=("lang",),
                                    index_positions=True)
        self.builder.build(self.spark, pages)
        build_s = time.perf_counter() - t
        self.m["setup.build_s"] = build_s
        self.m["build_docs_per_s"] = self.corpus.n_docs / build_s
        self.m["index_bytes_per_text_byte"] = (
            dir_bytes(self.index_dir) / self.corpus.text_bytes())
        if self.workload == "ingest":
            self.prepare_batches()
        from workload import Client
        self.client = Client(self.spark, self.index_dir, self.corpus.vocab,
                             self.errors, self.tracer)
        # the serving memory is what the engine adds from here on
        self.rss0_kb = serving_baseline()
        t = time.perf_counter()
        self.client.engine()
        self.m["setup.engine_open_ms"] = (time.perf_counter() - t) * 1e3

    def prepare_batches(self) -> None:
        """Draw the change batches and the brute-force snapshot after each
        before the serving baseline, so the benchmark's own state is not
        counted as serving memory."""
        import corpus
        import oracle
        self.batches = []
        for b in range(SYNC_BATCHES):
            old = self.corpus.docs.copy()
            rows, ch = corpus.change_batch(self.corpus, self.rng, b + 1)
            snap = oracle.Snapshot(self.corpus)
            snap.word_ids()
            self.batches.append((old, rows, ch, snap))

    def end_window(self) -> None:
        """Peak RSS the serving process grew by since the baseline."""
        self.m["peak_rss_mb"] = (vm_kb("VmHWM") - self.rss0_kb) / 1024.0

    # -- workloads -----------------------------------------------------------

    def serve_head(self):
        from workload import Drawer, Op, block_size, check, label, stream
        e, f = E0, F0
        d = Drawer(self.snap, self.rng)
        # (class, weight per block, op factory); weights put p50 and p90
        # inside a class, away from class boundaries
        makers = {
            "or_1_4": lambda: Op("or_1_4", "search", d.head(
                int(self.rng.integers(1, 5)), 200, e // 4, int(e * 0.75))),
            "and_2_3": lambda: Op("and_2_3", "search", d.head(
                int(self.rng.integers(2, 4)), 200, 0, int(e * 0.9)),
                mode="and"),
            "filter_lang": lambda: Op("filter_lang", "search", d.head(
                int(self.rng.integers(1, 4)), 200, e // 4, int(e * 0.75)),
                lang=d.lang()),
            "phrase_head": lambda: Op("phrase_head", "phrase", d.bigram(
                200, e // 6, e // 4)),
            "or_8": lambda: Op("or_8", "search", d.head(
                8, 64, int(e * 1.35), int(e * 1.85))),
            "mlt_25": lambda: Op("mlt_25", "search", d.head(
                25, 32, int(f * 1.05), 1 << 62)),
        }
        classes = HEAD_MIX
        ops = stream(classes, lambda c: makers[c](), 40 * block_size(
            classes), self.rng)
        label(ops, self.snap)
        warm0 = time.perf_counter() - T_START
        # steady state before timing: every head term's blocks cached
        # (the stream draws from the top 200 terms) and one op per class
        self.warm([Op("warm", "search", list(range(i, i + 4)))
                   for i in range(0, 200, 4)]
                  + [ops[next(i for i, o in enumerate(ops) if o.cls == c)]
                     for c, _ in classes])
        self.m["setup_s"] = time.perf_counter() - T_START
        self.m["setup.warm_s"] = self.m["setup_s"] - warm0
        self.client.samples.clear()
        if self.tracer is not None:
            self.tracer.reset()
        self.client.loop(ops, self.seconds, block_size(classes), CHECK_EVERY)
        self.end_window()
        self.measured = list(self.client.samples)
        self.failed_checks += check(self.measured, self.snap, self.errors)
        self.overhead_ops = ops

    def ingest(self):
        from mongoesindexer_spark.operators import merge
        from mongoesindexer_spark.streaming.incremental import \
            IncrementalIndexer
        from workload import Drawer, block_size, check, label, stream

        self.m["setup_s"] = time.perf_counter() - T_START
        if self.tracer is not None:
            self.tracer.reset()
        burst_s = self.seconds / (SYNC_BATCHES + 1)
        client = self.client
        client.samples.clear()
        apply_s, visible_ms, changed, written = [], [], 0, 0

        def burst(snap):
            d = Drawer(snap, self.rng)
            n = block_size(TAIL_MIX)
            ops = label(stream(TAIL_MIX, lambda c: tail_op(c, d), 20 * n,
                               self.rng), snap)
            before = len(client.samples)
            client.loop(ops, burst_s, n, CHECK_EVERY)
            self.failed_checks += check(client.samples[before:], snap,
                                        self.errors)
            self.overhead_ops = ops

        for old, rows, ch, snap in self.batches:
            sdf = self.spark.createDataFrame(rows, schema=SYNC_SCHEMA)
            size0 = dir_bytes(self.index_dir)
            self.other_ops += 1
            t0 = time.perf_counter()
            try:
                IncrementalIndexer(self.index_dir).apply_updates(self.spark,
                                                                 sdf)
            except Exception as e:
                # the index no longer matches any snapshot the oracle has:
                # nothing after this batch can be checked
                self.fail("apply_updates", e)
                self.measured = list(client.samples)
                self.end_window()
                return
            apply_s.append(time.perf_counter() - t0)
            # read-after-write: the first search after the batch must see
            # its first insert; its return is when the batch is visible
            s = client.call(self.rare_probe(snap, self.corpus.docs[
                ch["insert"][0]]), keep=True)
            visible_ms.append((time.perf_counter() - t0) * 1e3)
            self.read_after_write(snap, ch, old, s)
            changed += sum(len(v) for v in ch.values())
            written += dir_bytes(self.index_dir) - size0
            burst(snap)
        eng = client.engine()
        self.m["incremental.tombstones"] = len(eng.tombstones)
        self.m["incremental.segments"] = len(
            eng.cat.data_files("postings_blocks"))
        before = file_sizes(self.index_dir)
        self.other_ops += 1
        t0 = time.perf_counter()
        try:
            merge.compact(self.spark, self.index_dir)
            self.m["compact_s"] = time.perf_counter() - t0
        except Exception as e:   # the final burst shows what it left
            self.fail("compact", e)
        after = file_sizes(self.index_dir)
        self.m["merge.bytes_rewritten"] = sum(
            n for p, n in after.items() if p not in before)
        burst(snap)
        self.end_window()
        self.measured = list(client.samples)
        self.m["sync_docs_per_s"] = changed / sum(apply_s)
        self.m["sync_visible_p50_ms"] = statistics.median(visible_ms)
        self.m["incremental.bytes_written_per_changed_doc"] = \
            written / changed

    @staticmethod
    def rare_probe(snap, doc):
        """AND of a doc's three rarest live terms: few docs match, so
        k=100 holds every match."""
        from workload import Op
        toks = sorted({int(t) for t in doc.toks
                       if t < len(snap.df) and snap.df[t] > 0},
                      key=lambda t: (snap.df[t], t))
        return Op("probe", "search", toks[:3], mode="and", k=100)

    def read_after_write(self, snap, changed: dict, old: dict,
                         first) -> None:
        """The batch's inserted and updated docs are found by their own
        rare terms and its deleted docs are not; every probe result is
        also checked in full against the brute-force answer."""
        from workload import check
        probes = [(first, changed["insert"][0], True)]
        for url in changed["update"][:3]:
            probes.append((self.client.call(self.rare_probe(
                snap, self.corpus.docs[url]), keep=True), url, True))
        for url in changed["delete"][:3]:
            probes.append((self.client.call(self.rare_probe(
                snap, old[url]), keep=True), url, False))
        for s, url, present in probes:
            try:
                found = s.ok and url in set(s.result["url"])
            except Exception:    # malformed: the full check counts it
                continue
            if s.ok and found != present:
                self.errors.append(
                    f"probe: {'missing' if present else 'deleted'} doc "
                    f"{url} after sync")
                self.failed_checks += 1
        self.failed_checks += check([s for s, _, _ in probes], snap,
                                    self.errors)

    def warm(self, ops) -> None:
        """Untimed ops before the window: caches fill, workers start."""
        for op in ops:
            self.client.call(op)

    # -- results -------------------------------------------------------------

    def trace_overhead(self) -> None:
        """Replay the same ops with and without the wrappers installed."""
        ops = [o for o in self.overhead_ops
               if o.kind != "agg" and o.sum_df < F0][:30]
        if not ops:      # the run stopped before serving anything
            return
        tr = self.tracer
        times = {True: [], False: []}
        for _ in range(2):
            for on in (False, True):
                if not on:
                    tr.uninstall()
                else:
                    tr.install()
                t0 = time.perf_counter()
                for op in ops:
                    try:
                        op.run(self.client.engine(), self.corpus.vocab)
                    except Exception:   # already counted in the window
                        pass
                times[on].append(time.perf_counter() - t0)
        self.m["trace.overhead_ratio"] = sum(times[True]) / sum(times[False])

    def summarise(self) -> None:
        ok = [s for s in self.measured if s.ok and s.op.cls != "probe"]
        search = [s.ms for s in ok if s.op.kind != "agg"]
        agg = [s.ms for s in ok if s.op.kind == "agg"]
        if search:   # else every search failed: the latencies read 0
            self.m["search_p50_ms"] = statistics.median(search)
            self.m["search_p90_ms"] = percentile(search, 90)
            self.m["search_qps"] = len(search) / (sum(search) / 1e3)
        self.m["search.n"] = len(search)
        self.m["agg.n"] = len(agg)
        if agg:
            self.m["agg_p50_ms"] = statistics.median(agg)
            self.m["agg_p90_ms"] = percentile(agg, 90)
        by_cls: dict[str, list[float]] = {}
        for s in ok:
            by_cls.setdefault(s.op.cls, []).append(s.ms)
        self.info["classes"] = {
            c: {"n": len(v), "p50_ms": round(statistics.median(v), 2),
                "sum_df_p50": int(statistics.median(
                    [s.op.sum_df for s in ok if s.op.cls == c]))}
            for c, v in sorted(by_cls.items())}
        self.failed = (sum(1 for s in self.measured if not s.ok)
                       + self.failed_checks)
        self.attempted = max(len(self.measured) + self.other_ops,
                             self.failed)

    def layer_metrics(self) -> None:
        """Per-layer numbers from the spans and the build lineage."""
        tr = self.tracer
        own, tot, c = tr.self_ms(), tr.total_ms(), tr.counts
        self.own_ms = own
        m = self.m
        m["analysis.analyze_search_ms"] = tot.get("analysis.analyze_search",
                                                  0.0)
        for t in ("term_dict", "postings_blocks", "doc_stats"):
            m[f"catalog.{t}.reads"] = c.get(f"catalog.{t}.reads", 0)
            m[f"catalog.{t}.rows"] = c.get(f"catalog.{t}.rows", 0)
            m[f"catalog.{t}.ms"] = own.get(f"catalog.{t}", 0.0)
        look = c.get("topk.block_cache.lookups", 0)
        m["topk.block_cache.lookups"] = look
        m["topk.block_cache.hit_ratio"] = (
            1 - c.get("topk.block_cache.misses", 0) / look if look else 0.0)
        for p in ("exhaustive", "wand", "fanout"):
            m[f"topk.path.{p}.count"] = c.get(f"topk.path.{p}.count", 0)
        for k in ("exhaustive", "wand", "fanout", "phrase"):
            m[f"topk.{k}.ms"] = own.get(f"topk.{k}", 0.0)
        m["topk.search.self_ms"] = sum(own.get(f"topk.{s}", 0.0) for s in (
            "topk_wand", "phrase_topk", "keyword_term", "suggest",
            "term_blocks"))
        m["topk.fetch_urls.ms"] = tot.get("topk.fetch_urls", 0.0)
        m["topk.get_engine.ms"] = tot.get("topk.get_engine", 0.0)
        m["encode.decode_blocks.ms"] = own.get("encode.decode_blocks", 0.0)
        m["encode.blocks_decoded"] = c.get("encode.blocks_decoded", 0)
        for a in ("terms", "count", "significant_terms"):
            m[f"aggs.{a}.ms"] = tot.get(f"aggs.{a}", 0.0)
        m["incremental.apply_updates.ms"] = tot.get(
            "incremental.apply_updates", 0.0)
        m["merge.compact.ms"] = tot.get("merge.compact", 0.0)
        rows = self.builder.lineage.rows()
        flat = [r.get("secs", 0.0) for r in rows
                if r.get("stage") == "flat_files" and r.get("partition")]
        enc = [r for r in rows if r.get("stage") == "encode"
               and r.get("partition")]
        m["build.flat_files.s_sum"] = sum(flat)
        m["build.flat_files.skew"] = skew(flat)
        for k in ("read", "kernel", "write"):
            m[f"build.encode.{k}_s"] = sum(r.get(k, 0.0) for r in enc)
        m["build.encode.skew"] = skew([r.get("secs", 0.0) for r in enc])
        m["build.postings"] = sum(r.get("rows", 0) for r in enc)
        m["build.blocks"] = sum(r.get("blocks", 0) for r in enc)


def skew(xs: list[float]) -> float:
    """max / median of per-partition seconds (1.0 = perfectly even)."""
    med = statistics.median(xs) if xs else 0.0
    return max(xs) / med if med > 0 else 0.0


# stream mixes: (class, ops per block)
HEAD_MIX = [("or_1_4", 20), ("and_2_3", 8), ("filter_lang", 5),
            ("phrase_head", 5), ("or_8", 1), ("mlt_25", 1)]
TAIL_MIX = [("tail_1_3", 16), ("keyword", 6), ("suggest", 6),
            ("tail_filter", 6), ("agg", 1)]
AGG_KINDS = ("count", "terms", "significant_terms")
SYNC_SCHEMA = ("op string, url string, warc_ts timestamp, html binary, "
               "text string, lang string")


def tail_op(cls: str, d):
    from workload import Op
    if cls == "tail_1_3":
        return Op(cls, "search", d.tail(int(d.rng.integers(1, 4))))
    if cls == "keyword":
        return Op(cls, "keyword", lang=d.lang())
    if cls == "suggest":
        return Op(cls, "suggest", prefix=d.prefix())
    if cls == "tail_filter":
        return Op(cls, "search", d.tail(int(d.rng.integers(1, 4))),
                  lang=d.lang())
    return Op(cls, "agg", d.tail(int(d.rng.integers(1, 3)), lo_rank=50),
              agg=AGG_KINDS[int(d.rng.integers(len(AGG_KINDS)))])


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve_head", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mongoesindexer_spark")):
        print(f"perfbench: no mongoesindexer_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = load_spec()
    run = Run(a.workload, a.seed, a.seconds, bool(a.trace))
    try:
        try:
            run.setup()
            getattr(run, a.workload)()
            aborted = False
        except Exception as e:
            # the program failed where the run cannot go on (the build, or
            # the index under a snapshot): a failed run, still reported
            run.fail(a.workload, e)
            if run.client is not None and not run.measured:
                run.measured = list(run.client.samples)
            aborted = True
        run.summarise()
        if run.tracer is not None and not aborted:
            run.layer_metrics()
            run.trace_overhead()
            run.tracer.write(os.path.join(
                WORK, "trace", f"{a.workload}-s{a.seed}.jsonl"))
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(run.index_dir, ignore_errors=True)
    # the JVM's RSS follows its heap sizing and GC timing: per layer only
    run.m["rss.jvm_mb"] = jvm_peak_rss_mb()
    report(run, spec, bool(a.trace))
    return 0


def report(run: Run, spec: dict, traced: bool) -> None:
    m = run.m
    for e in run.errors[:20]:
        print(f"failed: {e}")
    phases = {k: round(v, 3) for k, v in m.items()
              if k.startswith(("setup", "rss", "compact", "sync"))}
    print(f"workload={run.workload} seed={run.seed} "
          f"cutoffs: exhaustive<{run.cut_e} fanout>={run.cut_f} "
          f"phases={json.dumps(phases)} info={json.dumps(run.info)}")
    names = spec["per_layer"] if traced else spec["end_to_end"]
    metrics = {}
    for e in names:
        v = float(m.get(e["name"], 0.0))
        metrics[e["name"]] = {"value": v, "unit": e["unit"]}
        print(f"  {e['name']:<44} {v:>14.4f} {e['unit']}")
    print(f"  samples: search n={m.get('search.n')} agg n={m.get('agg.n')}")
    if traced:
        print("  self time by span (ms): " + ", ".join(
            f"{k}={v:.1f}" for k, v in sorted(run.own_ms.items())))
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.exit(main())
