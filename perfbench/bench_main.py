"""One benchmark run inside a prepared environment (started by run.py).

Lifecycle: Spark session → set-up (generate corpus, build the compressed
index, embed, write the IVF index, construct the plan, warm-up batch) →
timed closed loop of workload cycles for ``--seconds`` → workload epilogue
(ingest_overlay: compaction and a reloaded plan) → correctness checks →
metrics.  Timings in the untraced run come only from the client's clock.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time

import numpy as np

import corpus as C
from tracing import Tracer, group_cpu_s
from workloads import BATCH_QUERIES, TOP_K, WORKLOADS, QueryStream, chunk_bits_for

N_SHARDS = 4
IVF_CELLS = 16
EMB_DIM = 64


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, spark, wl, seed: int, out: str, tracer: Tracer):
        from hybrid_sanctions_search_engine_spark.plans.hybrid import SearchOpts

        self.spark = spark
        self.wl = wl
        self.seed = seed
        self.out = out
        self.tracer = tracer
        self.opts = SearchOpts(top_k=TOP_K)
        self.attempted = 0
        self.failures: list[str] = []
        self.walls: dict[str, list[float]] = {}
        # CPU seconds of the process group outside JIT compilation, and JIT
        self.cpu: dict[str, list[float]] = {}
        self.jit_cpu: dict[str, list[float]] = {}
        self.stage_ms: dict[str, list[float]] = {}
        self.metas: list[dict] = []
        # recorded results, checked after the timed phase:
        # (label, queries, typo'd qids, {qid: [(doc, score)]}, meta, oracle sides)
        self.batches: list[tuple] = []
        # (qid, rows, index into self.batches)
        self.singles: list[tuple] = []
        self.probes: list[tuple[str, list, int]] = []
        self.delta_corpora: list[C.Corpus] = []
        self.n_queries = 0
        self.ingested_docs = 0

    # -- helpers -------------------------------------------------------------

    def wall(self, key: str, seconds: float) -> None:
        self.walls.setdefault(key, []).append(seconds)

    def op(self, name: str, fn):
        """One attempted operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — the run reports it and goes on
            self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def timed_call(self, name: str, trace: str, fn, key: str | None = None):
        """→ (result, wall seconds, span); the span is None when untraced.
        With ``key``, the call's wall, the CPU seconds the run's process
        group spent during it outside JIT compilation, and the JIT's CPU
        seconds are recorded as samples under ``key``."""
        with self.tracer.call(name, trace) as sp:
            c, j = group_cpu_s()
            t = time.monotonic()
            res = fn()
            w = time.monotonic() - t
            if key is not None:
                c1, j1 = group_cpu_s()
                self.wall(key, w)
                self.cpu.setdefault(key, []).append((c1 - j1) - (c - j))
                self.jit_cpu.setdefault(key, []).append(j1 - j)
        return res, w, sp

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from hybrid_sanctions_search_engine_spark.functions.encoder import PseudoEncoder, embed_texts
        from hybrid_sanctions_search_engine_spark.operators.similarity import write_ivf_index
        from hybrid_sanctions_search_engine_spark.sources.index_io import build_index

        wl, spark, d = self.wl, self.spark, self.out
        t0, (c0, j0) = time.monotonic(), group_cpu_s()
        rng = np.random.default_rng([self.seed, 0])
        self.vocab = C.make_vocab(rng, wl.vocab)
        self.base = C.make_corpus(rng, self.vocab, wl.n_docs)
        self.stream = QueryStream(wl, self.vocab, self.seed)
        self.docs_dir = os.path.join(d, "docs")
        C.write_docs(self.base, self.docs_dir)
        docs = spark.read.parquet(self.docs_dir)

        self.idx_dir = os.path.join(d, "index")
        self.report, w, _ = self.timed_call(
            "index_io.build_index", "setup",
            lambda: build_index(
                docs, self.idx_dir, n_shards=N_SHARDS,
                chunk_bits=chunk_bits_for(wl.n_docs), resume=False,
            ),
            key="build_s",
        )

        emb_dir = os.path.join(d, "embeddings")
        self.timed_call(
            "encoder.embed_texts", "setup",
            lambda: embed_texts(
                docs.select(F.col("doc_id").alias("vec_id"), "text"), PseudoEncoder(EMB_DIM)
            ).select("vec_id", "embedding").write.parquet(emb_dir),
            key="embed_s",
        )

        self.ivf_dir = os.path.join(d, "ivf")
        self.timed_call(
            "similarity.write_ivf_index", "setup",
            lambda: write_ivf_index(spark.read.parquet(emb_dir), self.ivf_dir, n_centroids=IVF_CELLS),
            key="ivf_write_s",
        )

        self.load_plan(docs, "setup")
        # the first search() in a JVM pays the first use of the single-query
        # path (its JIT CPU and its own CPU are highest then); warm it as
        # the batch path is warmed, with a query of the warm-up batch
        queries, typo_ids = self.stream.batch(0)
        qid, text = self.stream.singles(0, queries, typo_ids)[0]
        self.single(qid, text, "setup", len(self.batches) - 1, record_key="first_single_s")
        self.walls["setup_s"] = [time.monotonic() - t0]
        c1, j1 = group_cpu_s()
        self.cpu["setup_s"] = [(c1 - j1) - (c0 - j0)]
        self.jit_cpu["setup_s"] = [j1 - j0]

    def load_plan(self, docs, trace: str) -> None:
        """New plan + its first batch (cycle 0's queries); the pair is the
        reload time."""
        from hybrid_sanctions_search_engine_spark.plans.hybrid import HybridSearchPlan

        self.plan, w, _ = self.timed_call(
            "hybrid.plan_load", trace,
            lambda: HybridSearchPlan(
                docs, ann_index_dir=self.ivf_dir, ann_kind="ivf",
                embedding_dim=EMB_DIM, index_dir=self.idx_dir,
            ),
            key="plan_load_s",
        )
        # under the cap the plan expands on the driver before the AC job
        # and fuses fuzzy scoring into it; above, expansion runs beside AC
        self.fused = self.wl.vocab <= HybridSearchPlan.driver_expansion_max_terms
        queries, typo_ids = self.stream.batch(0)
        bw = self.batch(queries, typo_ids, trace, record_key="first_batch_s")
        self.wall("reload_s", w + bw)

    # -- serving ---------------------------------------------------------------

    def batch(self, queries, typo_ids: set[int], trace: str, record_key: str = "batch_s",
              sides=("base",)) -> float:
        def run():
            res, meta = self.plan.search_many(queries, self.opts)
            return res.collect(), meta

        out, w, sp = self.op(
            "search_many", lambda: self.timed_call("hybrid.search_many", trace, run, key=record_key)
        ) or (None, 0.0, None)
        if out is None:
            return w
        rows, meta = out
        tr = dict(self.plan.last_batch_trace)
        if record_key == "batch_s":
            self.n_queries += len(queries)
            self.metas.append(meta)
            for k, v in tr.items():
                self.stage_ms.setdefault(k, []).append(v)
        if sp is not None:
            sp.attrs["escalated"] = sum(m["escalated"] for m in meta.values())
            self.batch_children(sp, tr)
        by_qid: dict[int, list] = {q: [] for q, _ in queries}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_qid[r["query_id"]].append((r["doc_id"], r["score"]))
        self.batches.append((trace, queries, typo_ids, by_qid, meta, tuple(sides)))
        return w

    def batch_children(self, sp, tr: dict) -> None:
        """Plan-stage spans from last_batch_trace (ms from the call start).
        Fused, the expansion precedes the AC job on the main thread;
        otherwise it runs on the fuzzy thread ahead of fuzzy scoring."""
        t0, ms = sp.start, 1e-3
        e = tr.get("expansion_ms", 0.0)
        ends = []
        if "expansion_ms" in tr:
            self.tracer.child(sp, "hybrid.expansion", t0, t0 + e * ms)
        ac_start = t0 + e * ms if self.fused else t0
        self.tracer.child(sp, "hybrid.ac", ac_start, t0 + tr["ac_ms"] * ms)
        ends.append(tr["ac_ms"])
        if "fuzzy_ms" in tr:
            self.tracer.child(sp, "hybrid.fuzzy", t0 + e * ms, t0 + tr["fuzzy_ms"] * ms)
            ends.append(tr["fuzzy_ms"])
        if "vector_ms" in tr:
            self.tracer.child(sp, "hybrid.vector", t0, t0 + tr["vector_ms"] * ms)
            ends.append(tr["vector_ms"])
        self.tracer.child(sp, "hybrid.post", t0 + max(ends) * ms, t0 + tr["total_ms"] * ms)

    def single(self, qid: int, text: str, trace: str, batch_index: int | None,
               record_key: str = "single_s") -> list | None:
        def run():
            res, steps = self.plan.search(text, self.opts)
            return res.collect(), steps

        out, w, sp = self.op(
            "search", lambda: self.timed_call("hybrid.search", trace, run, key=record_key)
        ) or (None, 0.0, None)
        if out is None:
            return None
        rows, steps = out
        took = {s.stage: s.took_ms for s in steps}
        if record_key == "single_s":
            self.n_queries += 1
            for stage in ("AC", "FUZZY", "SEMANTIC"):
                self.stage_ms.setdefault(f"search.{stage}", []).append(took.get(stage, 0.0))
        if sp is not None:
            t0, ms, ac = sp.start, 1e-3, took.get("AC", 0.0)
            self.tracer.child(sp, "hybrid.search.ac", t0, t0 + ac * ms)
            for stage, name in (("FUZZY", "fuzzy"), ("SEMANTIC", "vector")):
                if stage in took:
                    self.tracer.child(sp, f"hybrid.search.{name}", t0 + ac * ms, t0 + (ac + took[stage]) * ms)
        got = [(r["doc_id"], r["score"]) for r in rows]
        if batch_index is not None:
            self.singles.append((qid, got, batch_index))
        return got

    # -- workload cycles -------------------------------------------------------

    def serve(self, c: int, sides=("base",)) -> None:
        """The cycle's read side: its batch, then singles drawn from it."""
        queries, typo_ids = self.stream.batch(c)
        self.batch(queries, typo_ids, f"c{c}", sides=sides)
        bi = len(self.batches) - 1
        for qid, text in self.stream.singles(c, queries, typo_ids):
            self.single(qid, text, f"c{c}", bi)

    def ingest_cycle(self, c: int) -> None:
        from hybrid_sanctions_search_engine_spark.functions.encoder import PseudoEncoder
        from hybrid_sanctions_search_engine_spark.streaming.incremental import (
            load_delta_embeddings, load_delta_postings, load_delta_stats, start_delta_stream,
        )

        spark, tr = self.spark, f"c{c}"
        first = self.wl.n_docs + (c - 1) * self.wl.delta_docs
        dc, probe, planted = self.stream.delta(c, first)
        stage = os.path.join(self.in_dir, f".land-{c}")
        C.write_docs(dc, stage, n_files=1)
        t_land = time.monotonic()
        os.rename(os.path.join(stage, "part-000.parquet"), os.path.join(self.in_dir, f"batch-{c:04d}.parquet"))
        os.rmdir(stage)

        def stream():
            q = start_delta_stream(
                spark, self.in_dir, self.delta_dir, self.ckpt_dir, encoder=PseudoEncoder(EMB_DIM)
            )
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError("delta stream did not finish")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

        def attach():
            self.plan.attach_delta(
                delta_docs=spark.read.parquet(self.in_dir),
                delta_postings=load_delta_postings(spark, self.delta_dir),
                delta_stats=load_delta_stats(self.delta_dir),
                delta_embeddings=load_delta_embeddings(spark, self.delta_dir),
            )

        r = self.op("ingest", lambda: (self.timed_call("incremental.start_delta_stream", tr, stream, key="stream_s"),
                                       self.timed_call("hybrid.attach_delta", tr, attach, key="attach_s")))
        if r is None:
            return
        self.delta_corpora.append(dc)
        self.ingested_docs += len(dc.tokens)
        rows = self.single(-1, probe, tr, None)
        if rows is not None:
            self.wall("freshness_s", time.monotonic() - t_land)
            self.probes.append((probe, rows, planted))
        self.serve(c, sides=("base", f"delta{len(self.delta_corpora)}"))

    def compact_and_reload(self) -> None:
        from hybrid_sanctions_search_engine_spark.streaming.incremental import (
            delta_embeddings_dir, fold_delta_embeddings, merge_compact,
        )

        spark = self.spark
        t0 = time.monotonic()

        def compact():
            files = sorted(
                os.path.join(self.delta_dir, f) for f in os.listdir(self.delta_dir) if f.endswith(".parquet")
            )
            self.timed_call(
                "incremental.merge_compact", "epilogue",
                lambda: merge_compact(spark, self.idx_dir, delta_files=files),
                key="merge_compact_s",
            )
            emb_dir = delta_embeddings_dir(self.delta_dir)
            efiles = sorted(os.path.join(emb_dir, f) for f in os.listdir(emb_dir) if f.endswith(".parquet"))
            self.timed_call(
                "incremental.fold_delta_embeddings", "epilogue",
                lambda: fold_delta_embeddings(spark, self.ivf_dir, kind="ivf", delta_files=efiles),
                key="fold_embeddings_s",
            )
            for f in files + efiles:
                os.remove(f)
            self.plan.close()
            return True

        if not self.op("compact", compact):
            return
        before = len(self.batches)
        self.op(
            "reload",
            lambda: self.load_plan(spark.read.parquet(self.docs_dir, self.in_dir), "epilogue"),
        )
        for i in range(before, len(self.batches)):
            self.batches[i] = self.batches[i][:-1] + (("union",),)
        self.walls["reload_s"] = [time.monotonic() - t0]

    # -- checks ----------------------------------------------------------------

    def check(self) -> None:
        """Outside the timed phase: every typo'd query escalates, every
        clean one does not and matches the oracle's top-k; single↔batch
        parity; freshness probes."""
        from oracle import Bm25Oracle, check_parity, check_topk

        self.oracle = Bm25Oracle(os.path.join(self.out, "duckdb"))
        self.oracle.add_side("base", [self.base])
        if self.delta_corpora:
            self.oracle.add_side("union", [self.base] + self.delta_corpora)
        for n in range(1, len(self.delta_corpora) + 1):
            self.oracle.add_side(f"delta{n}", self.delta_corpora[:n])
        for label, queries, typo_ids, by_qid, meta, sides in self.batches:
            clean = [(q, t) for q, t in queries if q not in typo_ids]
            want = self.oracle.topk(clean, list(sides), TOP_K)

            def verdict(q: int) -> str | None:
                if q in typo_ids:
                    return None if meta[q]["escalated"] else "typo'd query did not escalate"
                if meta[q]["escalated"]:
                    return "clean query escalated"
                return check_topk(by_qid[q], want[q], TOP_K)

            bad = [(q, why) for q, _ in queries if (why := verdict(q)) is not None]
            if bad:
                self.failures.append(f"oracle {label} {sides}: {len(bad)} queries, e.g. {bad[0]}")
        for qid, got, bi in self.singles:
            why = check_parity(got, self.batches[bi][3][qid])
            if why is not None:
                self.failures.append(f"parity q{qid}: {why}")
        for probe, rows, planted in self.probes:
            if not rows or rows[0][0] != planted:
                self.failures.append(f"freshness {probe}: got {rows[:2]}, want doc {planted}")
        self.oracle.close()

    def properties(self) -> dict:
        from hybrid_sanctions_search_engine_spark.plans.hybrid import HybridSearchPlan

        terms = {t for toks in self.base.tokens for t in toks}
        esc = [m["escalated"] for meta in self.metas for m in meta.values()]
        vf = [m["vector_fallback_used"] for meta in self.metas for m in meta.values()]
        return {
            "docs": len(self.base.tokens),
            "distinct_terms": len(terms),
            "driver_expansion_max_terms": HybridSearchPlan.driver_expansion_max_terms,
            "largest_prefix_bucket": C.prefix_bucket_max(sorted(terms)),
            "postings": int(self.report["postings"]),
            "index_bytes": int(self.report["bytes"]),
            "escalated_frac": sum(esc) / len(esc) if esc else 0.0,
            "vector_fallback_frac": sum(vf) / len(vf) if vf else 0.0,
            "delta_docs_ingested": self.ingested_docs,
        }

    def check_shape(self, props: dict) -> None:
        """The realized dictionary must be on the intended side of the
        expansion cap (which queries escalate is checked per query)."""
        self.attempted += 1
        cap = props["driver_expansion_max_terms"]
        if (props["distinct_terms"] > cap) != (self.wl.vocab > cap):
            self.failures.append(f"shape: {props['distinct_terms']} terms vs cap {cap}")


def cache_mb(spark) -> tuple[float, list]:
    """MB of Spark storage held by the persisted relations once no job
    runs, each relation counted at its full size: a speculative job
    cancelled part-way leaves a relation partly cached, so its cached
    partitions are scaled to all of its partitions.  → (MB, per-relation
    (name, cached partitions, partitions, bytes))."""
    sc = spark.sparkContext
    deadline = time.monotonic() + 30.0
    while sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
    rels = [
        (r.name(), r.numCachedPartitions(), r.numPartitions(), r.memSize() + r.diskSize())
        for r in sc._jsc.sc().getRDDStorageInfo()
    ]
    return sum(b * n / c for _, c, n, b in rels if c) / 1e6, rels


def jvm_rss_mb(spark) -> float:
    """Peak RSS of the Spark driver JVM (driver and executor in local mode)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM")) / 1024


def per_layer(run: Run, tracer: Tracer, extra: dict) -> dict:
    """Layer metrics of a traced run (0 where a layer does not run)."""
    timed = [sp for sp in tracer.top() if sp.trace.startswith("c")]
    batches = [sp for sp in timed if sp.name == "hybrid.search_many"]
    nb = max(len(batches), 1)
    setup = [sp for sp in tracer.top() if sp.trace == "setup"]
    build = [sp for sp in setup if sp.name == "index_io.build_index"]
    sm = run.stage_ms
    tot = tracer.total
    wall_all = sum(sp.wall for sp in timed)
    # speculation whose result was thrown away: cancelled jobs, and all
    # speculative jobs of a batch in which no query escalated
    spec_wasted = sum(
        tot([sp], b, "cpu_s" if sp.attrs.get("escalated") == 0 else "cancelled_cpu_s")
        for sp in batches for b in ("vector", "fuzzy")
    )
    vec_slots = nb * BATCH_QUERIES * TOP_K
    ac_ms = sm.get("ac_ms", [])
    post = [t - a for t, a in zip(sm.get("total_ms", []), ac_ms)]
    m = {
        "hybrid.expansion_ms": median(sm.get("expansion_ms", [])),
        "hybrid.ac_ms": median(ac_ms),
        "hybrid.fuzzy_ms": median(sm.get("fuzzy_ms", [])),
        "hybrid.vector_ms": median(sm.get("vector_ms", [])),
        "hybrid.post_ac_ms": median(post),
        "hybrid.search.ac_ms": median(sm.get("search.AC", [])),
        "hybrid.search.fuzzy_ms": median(sm.get("search.FUZZY", [])),
        "hybrid.search.vector_ms": median(sm.get("search.SEMANTIC", [])),
        "hybrid.escalated_frac": extra["escalated_frac"],
        "hybrid.vector_fallback_frac": extra["vector_fallback_frac"],
        "hybrid.spec_cancelled_cpu_s": spec_wasted / nb,
        "hybrid.plan_load_s": median(run.walls.get("plan_load_s", [])),
        "hybrid.reload_s": median(run.walls["reload_s"]),
        "wand.jobs": tot(batches, "main", "jobs") / nb,
        "wand.tasks": tot(batches, "main", "tasks") / nb,
        "wand.executor_cpu_s": tot(batches, "main", "cpu_s") / nb,
        "wand.task_s": tot(batches, "main", "run_s") / nb,
        "wand.shuffle_read_bytes": tot(batches, "main", "shuffle_read_bytes") / nb,
        "wand.records_read": tot(batches, "main", "input_records") / nb,
        "similarity.executor_cpu_s": tot(batches, "vector", "cpu_s") / nb,
        "similarity.task_s": tot(batches, "vector", "run_s") / nb,
        "similarity.records_read_per_hit": tot(batches, "vector", "input_records") / vec_slots,
        "similarity.ivf_write_s": median(run.walls.get("ivf_write_s", [])),
        "fuzzy.jobs": tot(batches, "fuzzy", "jobs") / nb,
        "fuzzy.executor_cpu_s": tot(batches, "fuzzy", "cpu_s") / nb,
        "fuzzy.task_s": tot(batches, "fuzzy", "run_s") / nb,
        "spark.jobs_per_op": tot(timed, None, "jobs") / max(len(timed), 1),
        "spark.tasks_per_op": tot(timed, None, "tasks") / max(len(timed), 1),
        "spark.cpu_util": sum(sp.proc_cpu_s for sp in timed) / (wall_all * extra["cores"]) if wall_all else 0.0,
        "spark.jvm_rss_mb": extra["jvm_rss_mb"],
        "spark.gc_s": tot(timed, None, "gc_s") / max(len(timed), 1),
        "spark.jit_cpu_s": median(run.jit_cpu.get("batch_s", [])),
        "spark.start_s": extra["spark_start_s"],
        "index_io.build_s": median(run.walls.get("build_s", [])),
        "index_io.postings": float(run.report["postings"]),
        "index_io.executor_cpu_s": tot(build, None, "cpu_s"),
        "index_io.shuffle_write_bytes": tot(build, None, "shuffle_write_bytes"),
        "index_io.output_bytes": float(run.report["bytes"]),
        "encoder.embed_s": median(run.walls.get("embed_s", [])),
        "incremental.stream_s": median(run.walls.get("stream_s", [])),
        "incremental.attach_s": median(run.walls.get("attach_s", [])),
        "incremental.merge_compact_s": median(run.walls.get("merge_compact_s", [])),
        "incremental.fold_embeddings_s": median(run.walls.get("fold_embeddings_s", [])),
        "incremental.freshness_s": median(run.walls.get("freshness_s", [])),
        "incremental.ingest_docs_per_s": (
            run.ingested_docs / sum(run.walls["stream_s"]) if run.walls.get("stream_s") else 0.0
        ),
        "trace.read_s": tracer.read_s / max(len(timed), 1),
    }
    return m


def declared_metrics() -> dict[str, dict[str, str]]:
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} from the
    BENCHMARK.json at the checkout root (the run's working directory is
    the output directory; run.py passes the root)."""
    with open(os.environ["PERFBENCH_SPEC"]) as fh:
        spec = json.load(fh)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    t_proc = time.monotonic()
    steal0, total0 = cpu_jiffies()

    from hybrid_sanctions_search_engine_spark.session import get_spark

    spark = get_spark("perfbench", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark_start_s = time.monotonic() - t_proc
    tracer = Tracer(spark, args.trace == 1)
    run = Run(spark, wl, args.seed, args.out, tracer)
    run.setup()
    if wl.delta_docs:
        run.in_dir = os.path.join(args.out, "incoming")
        run.delta_dir = os.path.join(args.out, "delta")
        run.ckpt_dir = os.path.join(args.out, "checkpoint")
        os.makedirs(run.in_dir)

    t0 = time.monotonic()
    done = max(1, round(args.seconds / wl.cycle_s))
    for c in range(1, done + 1):
        (run.ingest_cycle if wl.delta_docs else run.serve)(c)
    timed_s = time.monotonic() - t0
    n_queries = run.n_queries
    cache, relations = cache_mb(spark)

    t_epi = time.monotonic()
    if wl.delta_docs:
        run.compact_and_reload()
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm_rss = jvm_rss_mb(spark)
    steal1, total1 = cpu_jiffies()
    t_check = time.monotonic()
    run.check()
    props = run.properties()
    run.check_shape(props)

    w, cpu = run.walls, run.cpu

    def med(samples: dict, key: str) -> tuple[float, int]:
        return median(samples.get(key, [])), len(samples.get(key, []))

    e2e = {
        "setup_s": med(w, "setup_s"),
        "setup_cpu_s": med(cpu, "setup_s"),
        "batch_cpu_s": med(cpu, "batch_s"),
        "single_cpu_s": med(cpu, "single_s"),
        "index_bytes_per_doc": (props["index_bytes"] / props["docs"], 1),
        "cache_mb": (cache, 1),
        "driver_rss_mb": (rss, 1),
    }
    # wall-clock serving latency: printed by every run, reported as
    # per-layer metrics of the traced run (co-tenant load on the host moves
    # it by more than an end-to-end bound allows; CPU seconds do not move)
    latency = {
        "hybrid.batch_s_p50": med(w, "batch_s"),
        "hybrid.single_s_p50": med(w, "single_s"),
        "hybrid.qps": (n_queries / timed_s, n_queries),
    }
    steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    conditions = {
        "cores": args.cores, "steal_pct": round(steal_pct, 3),
        "timed_s": round(timed_s, 3), "cycles": done,
        "spark_start_s": round(spark_start_s, 3),
        "epilogue_s": round(t_check - t_epi, 3),
        "check_s": round(time.monotonic() - t_check, 3),
    }
    print(f"workload {wl.name} seed {args.seed}: {json.dumps(props)}")
    print(f"conditions: {json.dumps(conditions)}")
    declared = declared_metrics()
    print(f"{'metric':22s} {'value':>14s} {'unit':10s} samples")
    for name, (v, n) in e2e.items():
        print(f"{name:22s} {v:14.4f} {declared['end_to_end'][name]:10s} n={n}")
    for name, (v, n) in latency.items():
        print(f"{name:22s} {v:14.4f} {declared['per_layer'][name]:10s} n={n}")
    failed_frac = len(run.failures) / max(run.attempted, 1)
    print(f"{'failed_frac':22s} {failed_frac:14.4f} {'ratio':10s} n={run.attempted}")
    for f in run.failures:
        print(f"FAILED {f}")

    if tracer.enabled:
        layer = per_layer(run, tracer, {
            **props, "cores": args.cores, "spark_start_s": spark_start_s, "jvm_rss_mb": jvm_rss,
        })
        layer.update({k: v for k, (v, _) in latency.items()})
        units = declared["per_layer"]
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layer.items()}
        print()
        print(f"per-layer table ({wl.name}):")
        for line in tracer.layer_table():
            print("  " + line)
        print(f"tracing overhead: status-store reads and job-group bookkeeping took "
              f"{tracer.read_s:.3f} s outside the measured calls")
        for k, v in layer.items():
            print(f"  {k:34s} {v:14.4f} {units[k]}")
        tracer.dump(os.path.join(args.out, "spans.jsonl"))
    else:
        units = declared["end_to_end"]
        metrics = {k: {"value": float(v), "unit": units[k]} for k, (v, _) in e2e.items()}
    if set(metrics) != set(units):
        raise SystemExit(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")

    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }
    with open(os.path.join(args.out, "report.json"), "w") as fh:
        json.dump({"properties": props, "conditions": conditions,
                   "samples": w, "cpu_s": run.cpu, "jit_cpu_s": run.jit_cpu, "cached_relations": relations, "stage_ms": run.stage_ms, "failures": run.failures}, fh)
    with open(os.path.join(args.out, "result.json"), "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
