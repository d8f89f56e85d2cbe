"""The workloads. Each runs from one process as a closed loop with one
client: the next call starts only after the previous one returned.

Both build a BM25 index in memory from their own corpus with
``build_bm25_index_direct`` and serve from the cache:

- ``code-serve``: dense source-code corpus (a small vocabulary that is
  in nearly every document), span 1024, blocks made partition-resident
  with ``prebucket_blocks``. A batch touches few blobs, so the fixed
  cost of each call dominates.
- ``zipf-serve``: 50k-term Zipf corpus (s=1.15), span 256, default WAND
  knobs (shuffled, not prebucketed). A 512-query batch decodes about
  ten times the blobs, so the codec, the WAND kernel and the posting
  encode show here.

Each run sets up N_SETUPS times in one session (input load and cache,
index build, prebucket); the warm builds among them give
``build_docs_per_s``. The timed loop then cycles 1-, 16- and 512-query
``search_bm25_wand(...).collect()`` calls. A traced run also walks the
txnlog lifecycle once (save, append, load, compact) so every layer has
a row on every workload.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import shutil
import sys
import time
from collections import defaultdict

from . import inputs
from .gate import golden_ok, ranked, topk_matches
from .metrics import END_TO_END, PER_LAYER
from .stats import p50, tail
from .trace import PeakRss, ProcTree, Tracer

K = 10
N_SETUPS = 3          # set-ups per run; setup_s uses their median
Q512_CHECKED = 64     # seeded subset of each 512-query batch checked
EXPECTED_DEPTH = 10   # naive ranks kept beyond k, so ties at the cut show
APPEND_DOCS = 256     # the traced lifecycle's one append batch

WORKLOADS = {
    "code-serve": {"kind": "code", "n_docs": 4096, "span": 1024, "prebucket": True},
    "zipf-serve": {"kind": "zipf", "n_docs": 2048, "span": 256, "prebucket": False},
}
CYCLE = ["q1", "q16", "q1", "q512"]
MIN_COUNT = {"q1": 2, "q16": 1, "q512": 1}


def start_session(host: dict, work: str):
    from textsearch_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        f"local[{host['nproc']}]", app_name="perfbench",
        shuffle_partitions=host["nproc"],
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _read_json(path: str, default):
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def _write_json(path: str, doc) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, path)


class Run:
    """State of one benchmark run: samples, op accounting, checks."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 host: dict, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.cfg = WORKLOADS[workload]
        self.host, self.work = host, work
        self.tree = ProcTree(os.getpid())
        self.tracer = Tracer(traced, self.tree)
        self.traced = traced
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.checks: list[tuple[str, list]] = []  # (query, ranked result)
        self.extra: dict = {}
        self.golden = False
        self.index_bytes = 0.0
        self.spark = None
        self._qid = itertools.count(1)
        self._next: dict[str, int] = defaultdict(int)
        self._mark = time.perf_counter()
        self.scratch = os.path.join(work, "runs", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        n = self.cfg["n_docs"]
        self.corpus = inputs.corpus_path(work, self.cfg["kind"], seed, n + APPEND_DOCS)
        texts = inputs.read_texts(self.corpus)[:n]
        self.input_bytes = sum(len(t.encode()) for t in texts)
        # query pools drawn from the served documents (every query
        # matches something), sized past what one run consumes
        q = inputs.make_queries
        self.pools = {
            "warm": [q(texts, seed, 16, salt=0)],
            "q1": [[t] for t in q(texts, seed, 64, salt=1)],
            "q16": [q(texts, seed, 16, salt=100 + i) for i in range(64)],
            "q512": [q(texts, seed, 512, salt=1000 + i) for i in range(8)],
        }

    # -------------------------------------------------------- helpers

    def next_queries(self, kind: str) -> list[str]:
        pool = self.pools[kind]
        qs = pool[self._next[kind] % len(pool)]
        self._next[kind] += 1
        return qs

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark (side record)."""
        now = time.perf_counter()
        self.extra.setdefault("phases_s", {})[phase] = now - self._mark
        self._mark = now

    def op(self, name: str, fn):
        """One timed operation: wall seconds, or None if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{name}"):
                fn()
        except Exception as e:  # a failing op is counted, not fatal
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
            print(f"[perfbench] op {name} failed: {e!r}"[:500], file=sys.stderr)
            return None
        return time.perf_counter() - t0

    def search(self, idx, texts: list[str], label: str) -> None:
        """WAND search of ``texts``; results are kept for the gate."""
        from textsearch_spark.operators.wand import WandCounters, search_bm25_wand

        ids = [next(self._qid) for _ in texts]
        qdf = self.spark.createDataFrame(list(zip(ids, texts)), "query_id long, qtext string")
        ctr = WandCounters(self.spark) if self.traced else None
        with self.tracer.span(f"operators.wand.search_bm25_wand.{label}") as sp:
            rows = search_bm25_wand(idx, qdf, K, counters=ctr).collect()
        if sp is not None:
            sp.attrs.update({f"wand.{k}": v for k, v in ctr.as_dict().items()})
        got = ranked(rows)
        check = range(len(ids))
        if len(ids) > Q512_CHECKED:
            check = sorted(random.Random(self.seed * 31 + ids[0]).sample(check, Q512_CHECKED))
        for i in check:
            self.checks.append((texts[i], got.get(ids[i], [])))

    def build(self, docs):
        from textsearch_spark.config import TextConfig
        from textsearch_spark.plans.build import build_bm25_index_direct

        with self.tracer.span("plans.build"):
            idx = build_bm25_index_direct(docs, TextConfig(nlist=[1]), span=self.cfg["span"])
            idx.blocks.count()
        return idx

    @staticmethod
    def drop_bow_cache(docs) -> None:
        """Uncache the BOW a build cached. Spark reuses a cached plan for
        any equal plan, so without this the next build of the same docs
        would skip tokenization."""
        from textsearch_spark.config import TextConfig
        from textsearch_spark.functions.udfs import bow_long

        bow_long(docs, TextConfig(nlist=[1])).unpersist(blocking=True)

    def until_deadline(self):
        """Op names round CYCLE until ``seconds`` have passed and every
        op has reached its MIN_COUNT."""
        deadline = time.perf_counter() + self.seconds
        counts: dict[str, int] = defaultdict(int)
        for name in itertools.cycle(CYCLE):
            if (time.perf_counter() >= deadline
                    and all(counts[k] >= v for k, v in MIN_COUNT.items())):
                return
            counts[name] += 1
            yield name

    # -------------------------------------------------------- gate

    def golden_check(self) -> bool:
        """The reference golden, run once per engine source tree: its
        outcome depends on nothing else."""
        path = os.path.join(self.work, "golden", f"{self.host['source_sha256']}.json")
        ok = _read_json(path, None)
        if ok is None:
            ok = golden_ok(self.spark)
            _write_json(path, ok)
        return ok

    def gate(self, idx) -> int:
        """Compare every checked result with the naive ``search_bm25``
        ranking on the same index; returns the number of mismatches.
        Expected rankings are computed once per (workload, size, seed,
        engine source tree) and kept, outside every metric."""
        from textsearch_spark.operators.search import search_bm25

        path = os.path.join(self.work, "expected",
                            f"{self.workload}-n{self.cfg['n_docs']}-s{self.seed}-"
                            f"{self.host['source_sha256'][:16]}.json")
        exp = _read_json(path, {})
        missing = sorted({t for t, _ in self.checks} - set(exp))
        if missing:
            qdf = self.spark.createDataFrame(list(enumerate(missing)), "query_id long, qtext string")
            got = ranked(search_bm25(idx, qdf, K + EXPECTED_DEPTH).collect())
            exp.update({t: got.get(i, []) for i, t in enumerate(missing)})
            _write_json(path, exp)
        bad = 0
        for t, got in self.checks:
            if not topk_matches(got, [tuple(p) for p in exp[t]], K):
                bad += 1
                self.errors.append(f"wrong top-{K} for query {t!r}")
        return bad

    # -------------------------------------------------------- the run

    def serve(self) -> None:
        from textsearch_spark.operators.wand import prebucket_blocks

        n, span = self.cfg["n_docs"], self.cfg["span"]
        state: dict = {}

        def set_up():
            if state:
                self.drop_bow_cache(state["docs"])
                state["docs"].unpersist()
                state["idx"].blocks.unpersist()
            docs = (self.spark.read.parquet(self.corpus).filter(f"doc_id <= {n}")
                    .repartition(self.host["nproc"]).cache())
            docs.count()
            t0 = time.perf_counter()
            idx = self.build(docs)
            self.samples["build"].append(time.perf_counter() - t0)
            if self.cfg["prebucket"]:
                # one resident bucket per block: the dense serving shape
                with self.tracer.span("operators.wand.prebucket_blocks"):
                    prebucket_blocks(idx, n_buckets=-(-n // span))
            state.update(docs=docs, idx=idx)

        # the JVM starts once per process, so the session start is timed
        # once and the rest of the set-up N_SETUPS times
        t0 = time.perf_counter()
        with self.tracer.span("session"):
            self.spark = start_session(self.host, self.work)
        self.tracer.spark = self.spark
        self.extra["session_s"] = time.perf_counter() - t0
        for _ in range(N_SETUPS):
            t0 = time.perf_counter()
            set_up()
            self.samples["set_up_s"].append(time.perf_counter() - t0)
        docs, idx = state["docs"], state["idx"]
        self.drop_bow_cache(docs)
        # the first set-up's build is cold; the others are warm builds
        del self.samples["build"][0]
        self.mark("set_ups")
        # untimed warm-up of the search path; its results are not kept
        self.search(idx, self.next_queries("warm"), "warm")
        self.checks.clear()
        self.golden = self.golden_check()
        self.mark("warm_up_and_golden")

        for name in self.until_deadline():
            dt = self.op(name, lambda: self.search(idx, self.next_queries(name), name))
            if dt is not None:
                self.samples[name].append(dt)
        self.mark("timed")

        from pyspark.sql import functions as F

        blob_bytes = idx.blocks.agg(F.sum(F.length("blob"))).collect()[0][0]
        self.index_bytes = blob_bytes / self.input_bytes
        self.failed += self.gate(idx)
        self.mark("gate")
        if self.traced:
            self.traced_extras(docs, idx)
            self.mark("traced_extras")

    # -------------------------------------------------------- traced only

    def traced_extras(self, docs, idx) -> None:
        """Layer calls made only in traced runs, after the gate: a codec
        sample, the query tokenizer, the build's public stages one at a
        time, prebucketing (where the workload does not) and one pass of
        the txnlog lifecycle."""
        from textsearch_spark.operators.search import query_tokens
        from textsearch_spark.operators.wand import prebucket_blocks
        from textsearch_spark.sources.txnlog import (
            append_batch_txn, compact_index_txn, high_water_mark_txn, load_index_txn,
            read_log, save_index_txn)
        from textsearch_spark.streaming.append import compute_batch_postings

        tr = self.tracer
        self.codec_sample(idx)
        qdf = self.spark.createDataFrame([(0, self.next_queries("q1")[0])],
                                         "query_id long, qtext string")
        with tr.span("operators.search.query_tokens"):
            query_tokens(idx, qdf).collect()
        path = os.path.join(self.scratch, "index")
        with tr.span("sources.txnlog.save_index_txn") as sp:
            # the q-gram table serves only typo-tolerant lookups, which
            # no workload issues
            save_index_txn(idx, path, with_qgrams=False)
        sp.attrs["bytes_written"] = dir_bytes(path)
        # done with the serving index: the rebuilds below would read its
        # cached blocks (Spark reuses a cached plan for any equal plan)
        idx.blocks.unpersist(blocking=True)
        self.staged_build(docs, idx.bm25)
        if not self.cfg["prebucket"]:
            extra_idx = self.build(docs)
            self.drop_bow_cache(docs)
            with tr.span("operators.wand.prebucket_blocks"):
                prebucket_blocks(extra_idx)
            extra_idx.blocks.unpersist()
        n = self.cfg["n_docs"]
        batch = (self.spark.read.parquet(self.corpus)
                 .filter(f"doc_id > {n}").select("doc_id", "text"))
        cur = load_index_txn(self.spark, path)
        with tr.span("streaming.append.compute_batch_postings"):
            compute_batch_postings(self.spark, cur, batch, doc_col="doc_id", text_col="text",
                                   hwm=high_water_mark_txn(path))[0].count()
        before = dir_bytes(path)
        with tr.span("sources.txnlog.append_batch_txn") as sp:
            append_batch_txn(self.spark, path, batch, doc_col="doc_id", batch_id="b0")
        sp.attrs["bytes_written"] = dir_bytes(path) - before
        with tr.span("sources.txnlog.read_log") as sp:
            sp.attrs["entries_folded"] = len(read_log(path))
        with tr.span("sources.txnlog.load_index_txn"):
            load_index_txn(self.spark, path).blocks.count()
        before = dir_bytes(path)
        with tr.span("sources.txnlog.compact_index_txn") as sp:
            compact_index_txn(self.spark, path)
        sp.attrs["bytes_rewritten"] = dir_bytes(path) - before

    def staged_build(self, docs, bm25) -> None:
        from textsearch_spark.config import TextConfig
        from textsearch_spark.functions.udfs import bow_long
        from textsearch_spark.operators.postings import build_posting_blocks_from_bow
        from textsearch_spark.operators.vocab import vocab_from_bow

        tr = self.tracer
        with tr.span("plans.build.staged"):
            with tr.span("functions.udfs"):
                bow = bow_long(docs, TextConfig(nlist=[1])).cache()
                bow.count()
            with tr.span("operators.vocab"):
                vocab_from_bow(bow).count()
            with tr.span("operators.postings") as sp:
                sp.attrs["rows_out"] = build_posting_blocks_from_bow(
                    bow, bm25, span=self.cfg["span"]).count()
        bow.unpersist()

    def codec_sample(self, idx) -> None:
        """Decode a fixed, seeded sample of blobs on the driver; bytes
        per posting over the whole index."""
        from pyspark.sql import functions as F
        from textsearch_spark.functions.codec import decode_block

        rows = (idx.blocks.select("blob", "n")
                .orderBy(F.xxhash64("token", "block_id", F.lit(self.seed)))
                .limit(256).collect())
        blobs = [bytes(r.blob) for r in rows]
        n_post = sum(int(r.n) for r in rows)
        reps = 3
        t0 = time.perf_counter_ns()
        for _ in range(reps):
            for b in blobs:
                decode_block(b)
        ns = (time.perf_counter_ns() - t0) / (reps * max(1, n_post))
        tot = idx.blocks.agg(F.sum(F.length("blob")).alias("b"), F.sum("n").alias("n")).collect()[0]
        self.extra["codec"] = {"decode_ns_per_posting": ns, "bytes_per_posting": tot.b / tot.n,
                               "sample_blobs": len(blobs), "sample_postings": n_post}

    # -------------------------------------------------------- results

    def end_to_end(self, peak_rss: int) -> dict:
        s = self.samples
        vals = {
            "setup_s": self.extra["session_s"] + p50(s["set_up_s"]),
            "build_docs_per_s": self.cfg["n_docs"] / p50(s["build"]),
            "q1_latency_p50_s": p50(s["q1"]),
            "q16_latency_p50_s": p50(s["q16"]),
            "q512_qps": 512 / p50(s["q512"]),
            "index_bytes_per_input_byte": self.index_bytes,
            "peak_rss_mb": peak_rss / 2**20,
        }
        return {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in vals.items()}

    def per_layer(self) -> dict:
        tr = self.tracer
        out: dict[str, float] = {}

        def med(layer: str, attr: str) -> float:
            spans = tr.named(layer)
            if not spans:
                return 0.0
            return p50([sp.wall_s if attr == "wall_s" else sp.attrs.get(attr, 0) for sp in spans])

        for metric in PER_LAYER:
            layer, attr = metric.rsplit(".", 1)
            if layer.startswith("operators.wand.q"):  # WAND counters per call size
                size = layer.rsplit(".", 1)[1]
                out[metric] = med(f"operators.wand.search_bm25_wand.{size}", f"wand.{attr}")
            else:
                out[metric] = med(layer, attr)
        stages = sum(out[f"{x}.wall_s"] for x in
                     ("functions.udfs", "operators.vocab", "operators.postings"))
        out["plans.build.stages_sum_s"] = stages
        # from outside, the whole build has no child spans: the part the
        # public stages do not cover is the fit-time scalar jobs and glue
        out["plans.build.self_s"] = out["plans.build.wall_s"] - stages
        out["sources.txnlog.append_batch_txn.self_s"] = (
            out["sources.txnlog.append_batch_txn.wall_s"]
            - out["streaming.append.compute_batch_postings.wall_s"])
        codec = self.extra.get("codec", {})
        out["functions.codec.decode_ns_per_posting"] = codec.get("decode_ns_per_posting", 0.0)
        out["functions.codec.bytes_per_posting"] = codec.get("bytes_per_posting", 0.0)
        out["tracing.overhead_s"] = tr.overhead_s
        return {k: {"value": out[k], "unit": PER_LAYER[k]} for k in PER_LAYER}

    def side_record(self) -> dict:
        s = self.samples
        return {
            "samples": dict(s),
            "tails": {"q1_latency_tail_s": tail(s["q1"]), "q16_latency_tail_s": tail(s["q16"])},
            "error_rate": self.failed / max(1, self.attempted),
            "errors": self.errors[:20],
            "golden_ok": self.golden,
            "checked_queries": len(self.checks),
            **self.extra,
        }


def run(workload: str, seed: int, seconds: float, traced: bool, host: dict,
        work: str) -> tuple[Run, dict]:
    r = Run(workload, seed, seconds, traced, host, work)
    try:
        with PeakRss(r.tree) as rss:
            r.serve()
        metrics = r.per_layer() if traced else r.end_to_end(rss.peak)
        if traced:
            r.tracer.dump(os.path.join(work, "traces", f"{workload}-s{seed}.json"))
    finally:
        shutil.rmtree(r.scratch, ignore_errors=True)
    return r, metrics
