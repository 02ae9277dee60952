"""The benchmark workloads.

Each workload generates its inputs from the seed as parquet files,
starts Spark the way a user gets it (``get_spark(cpus=<nproc>)``, no
tuning) once, warms up, then measures a fixed amount of work.  Every
operation writes its result to parquet inside the timed region; the
comparison with a reference runs after the clock stops.

The batch workloads are made of phases (:class:`CepPhase`,
:class:`CorpusPhase`, :class:`AnnPhase`): ``batch_replay`` runs all
three in one session, ``cep_replay``, ``corpus_dedup`` and ``ann_serve``
run one each.  ``live_ingest`` drives a streaming query.

A workload fills a :class:`Result`: end-to-end samples (reduced to
medians by ``run.py``), per-layer values (completed from the tracer's
spans in traced runs) and the operation counts.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from . import gen
from . import verify
from .trace import Tracer, peak_rss_mb

#: input properties each workload fixes (also printed with every result)
SIZES = {
    "cep_replay": {"events": 250_000, "keys": 50_000, "zipf_s": 1.1,
                   "warm_events": 2_000},
    "live_ingest": {"drop_rows": 10_000, "cadence_s": 10.0, "burst_drops": 5,
                    "files_per_batch": 20, "keys": 500, "zipf_s": 1.1},
    "corpus_dedup": {"docs": 2_000, "fresh_docs": 500, "vocab": 3_000,
                     "zipf_s": 1.0, "exact_share": 0.04, "near_share": 0.04,
                     "fresh_near_share": 0.1, "edit_rate": 0.02,
                     "warm_docs": 120},
    "ann_serve": {"vectors": 5_000, "dim": 64, "clusters": 200,
                  "batch": 32, "batches": 1, "k": 10, "shortlist": 50},
}


def sizes(workload: str) -> dict:
    """The input properties a workload fixes, by phase."""
    if workload == "batch_replay":
        return {k: SIZES[k] for k in ("cep_replay", "corpus_dedup",
                                      "ann_serve")}
    return SIZES[workload]


@dataclass
class Result:
    samples: dict = field(default_factory=dict)   # metric -> [values]
    detail: dict = field(default_factory=dict)    # extra named figures
    layers: dict = field(default_factory=dict)    # per-layer metrics
    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)    # {"name", "ok", ...}

    def add(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(float(value))

    def check(self, name: str, ok: bool, **info) -> None:
        self.checks.append({"name": name, "ok": bool(ok), **info})
        self.failed += not ok


class Run:
    """Session, tracer and scratch space of one benchmark run."""

    def __init__(self, seed: int, seconds: float, work: str, tracer: Tracer,
                 cpus: int):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.cpus = cpus
        self.spark = None
        self.res = Result()
        self.t0 = time.time()

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def log(self, msg: str) -> None:
        """Progress on stderr, stamped with seconds since the run began."""
        print(f"[perfbench {time.time() - self.t0:6.1f}s] {msg}",
              file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        """A file path under the run's scratch space (parent created)."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory path under the run's scratch space (created)."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    # -- set-up ----------------------------------------------------------

    def setup(self, warm) -> None:
        """Start the session (this launches the JVM) and run the
        workload's warm-up ``warm``; record both times."""
        from scespet_spark import get_spark
        t0 = time.perf_counter()
        with self.span("engine.get_spark"):
            self.spark = get_spark(app_name="perfbench", cpus=self.cpus)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark)
        with self.span("engine.warmup"):
            warm()
        t2 = time.perf_counter()
        self.res.add("setup_s", t2 - t0)
        self.res.layers["engine.session_s"] = t1 - t0
        self.res.layers["engine.warmup_s"] = t2 - t1
        self.log(f"set-up: {t1 - t0:.2f}s session, {t2 - t1:.2f}s warm-up")

    def release(self) -> None:
        """Drop everything an earlier pass persisted, so no pass
        measures a predecessor's cached intermediates."""
        from scespet_spark.functions import reducers
        from scespet_spark.operators import dedup, similarity, text
        for mod in (dedup, similarity, text, reducers):
            mod.release_cached()
        self.spark.catalog.clearCache()

    def timed(self, name: str, fn, *args):
        """Run one operation; exceptions count as failures, not crashes."""
        self.res.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(f"bench.{name}"):
                fn(*args)
        except Exception as e:  # noqa: BLE001 -- recorded, run goes on
            self.res.check(f"{name} raised", False,
                           error=f"{type(e).__name__}: {str(e)[:300]}")
            return None
        return time.perf_counter() - t0

    def rss(self) -> None:
        self.res.add("peak_rss_mb", peak_rss_mb())


def _du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _write_table(table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


class Phase:
    """One part of a batch workload.  Its inputs are generated when it is
    created; ``warm_jobs`` are its set-up work (an untimed pass over a
    small input, compiling every plan shape), ``measure`` the timed pass
    and ``check`` the comparison with a reference.  ``op_s`` holds
    the seconds of each measured operation, ``items`` the number of
    items the measured pass processes, ``recall`` the share of the
    expected output found."""

    def __init__(self, run: Run):
        self.run = run
        self.op_s: list[float] = []
        self.items = 0
        self.recall = 0.0

    def _timed(self, name: str, fn, *args) -> bool:
        dt = self.run.timed(name, fn, *args)
        if dt is not None:
            self.op_s.append(dt)
        return dt is not None


# ===========================================================================
# cep_replay
# ===========================================================================

def _dsum(col):
    from pyspark.sql import functions as F
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


def _cep_ops():
    """(op name, oracle name, span of the verb, plan function).  Each
    plan function mirrors the ``__spark_entry__`` query of the same
    oracle name, so the oracle text applies unchanged."""
    from pyspark.sql import Window, functions as F

    from scespet_spark import BEFORE, Count, Stream, Trigger
    from scespet_spark.functions.reducers import ewma

    def keyed(ev):
        return ev.by("user_id", name="user_id")

    def scan(ev):
        out = keyed(ev).scan(
            running_total=F.sum(F.col("value").cast("decimal(18,2)")))
        return out.df.select("event_id", "ts", "user_id",
                             F.col("running_total").cast("double")
                             .alias("running_total"))

    def count_buckets(ev):
        out = keyed(ev).group(Count(50)).reduce(
            total=_dsum("value"), n=F.count("*"),
            bucket_seq=F.min("event_id"))
        w = Window.partitionBy("user_id").orderBy("bucket_seq")
        return out.df.select("user_id", "total", "n", "bucket_seq") \
            .withColumn("bucket", F.row_number().over(w) - 1) \
            .drop("bucket_seq")

    def trigger_slices(ev):
        out = keyed(ev).group(
            Trigger(F.col("event_type") == "signup", BEFORE)).reduce(
            total=_dsum("value"), n=F.count("*"),
            bucket_seq=F.min("event_id"))
        return out.df.select("user_id", "bucket_seq", "total", "n")

    def gated(ev):
        out = keyed(ev).window(F.col("value") >= 100).reduce(
            total=_dsum("value"), n=F.count("*"), win_seq=F.min("event_id"))
        return out.df.select("user_id", "win_seq", "total", "n")

    def taken(ev):
        clicks = keyed(ev.filter(F.col("event_type") == "click")) \
            .map(cv=F.col("value"))
        purchases = keyed(ev.filter(F.col("event_type") == "purchase")) \
            .map(pv=F.col("value"))
        out = clicks.take(purchases, ["cv"], ["pv"])
        return out.df.select("user_id", "ts", "event_id", "cv", "pv")

    def ewma_final(ev):
        s = Stream(ev.df.select("ts", "event_id", "user_id", "value"),
                   t="ts", seq="event_id", keys=("user_id",))
        per_event = ewma(s, "value", alpha=0.125, out="ewma")
        return per_event.reduce(
            F.max_by("ewma", F.struct("ts", "event_id")).alias("ewma"))

    return [
        ("scan", "scan_running_sum", "core.stream.scan", scan),
        ("count", "group_count_reduce", "core.stream.group", count_buckets),
        ("trigger", "slice_before_signup", "core.stream.group",
         trigger_slices),
        ("window", "window_gated_reduce", "core.stream.window", gated),
        ("take", "asof_purchase_last_click", "core.stream.take", taken),
        ("ewma", "ewma_final_per_user", "functions.reducers.ewma",
         ewma_final),
    ]


class CepPhase(Phase):
    """One batch pass of six CEP verbs over the event history, each to
    parquet; checked against the ``__spark_entry__.oracle_sql()`` texts
    in DuckDB over the same parquet."""

    def __init__(self, run: Run):
        super().__init__(run)
        z = SIZES["cep_replay"]
        self.src = os.path.dirname(_write_table(
            gen.events(run.seed, z["events"], z["keys"], z["zipf_s"]),
            run.path("cep", "in", "events.parquet")))
        self.warm_src = os.path.dirname(_write_table(
            gen.events(run.seed + 1, z["warm_events"], z["keys"],
                       z["zipf_s"]),
            run.path("cep", "warm", "events.parquet")))
        self.ops = _cep_ops()
        self.items = z["events"]
        self.done: list = []

    def warm_jobs(self):
        from scespet_spark.sources.batch import events_stream

        def job(name, plan):
            return lambda: plan(events_stream(self.run.spark, self.warm_src)) \
                .write.parquet(self.run.path("cep", "warm_out", name))
        return [job(name, plan) for name, _, _, plan in self.ops]

    def measure(self) -> None:
        from scespet_spark.sources.batch import events_stream
        run = self.run

        def one(out, verb, plan):
            with run.span("sources.batch.events_stream"):
                ev = events_stream(run.spark, self.src)
            with run.span(verb):
                if verb.startswith("core.stream."):
                    with run.span("core.stream.plan"):
                        df = plan(ev)
                else:
                    df = plan(ev)
                df.write.parquet(out)

        verb_s = {}
        for name, oracle, verb, plan in self.ops:
            if self._timed(name, one, run.path("cep", "out", name), verb,
                           plan):
                self.done.append((name, oracle))
                verb_s[name] = self.op_s[-1]
        run.res.detail["verb_s"] = verb_s
        if self.op_s:
            run.res.detail["replay_events_per_s"] = self.items / sum(self.op_s)

    def check(self) -> None:
        import __spark_entry__ as entry
        oracles = entry.oracle_sql()
        con = verify.connect({"events": os.path.join(self.src,
                                                     "events.parquet")})
        matched = total = 0
        for name, oracle in self.done:
            out = os.path.join(self.run.work, "cep", "out", name)
            r = verify.compare(con, os.path.join(out, "*.parquet"),
                               oracles[oracle])
            self.run.res.check(f"cep/{name}", **r)
            matched += r["ref_rows"] - r["missing"]
            total += r["ref_rows"]
        self.recall = matched / max(total, 1)


# ===========================================================================
# corpus_dedup
# ===========================================================================

def _corpus_steps(run: Run, docs_path: str, fresh_path: str, out: str):
    """Filter stack, exact groups, LSH candidates, components, snapshot
    write, and the fresh drop's near-dup probe through the snapshot's
    band table and Bloom filter, as ``[(step name, function)]``; every
    step writes its result under ``out``."""
    from pyspark.sql import functions as F

    from scespet_spark.operators import dedup, snapshot, text
    from scespet_spark.sources.batch import load_table
    sp = run.spark
    snap = os.path.join(out, "snapshot")

    def load(path):
        with run.span("sources.batch.load_table"):
            return load_table(sp, os.path.dirname(path), "documents")

    def filters():
        d = load(docs_path)
        with run.span("operators.text.c4_rule_filter"):
            c4 = text.c4_rule_filter(d).withColumnRenamed("keep", "c4_keep")
        with run.span("operators.text.gopher_quality_filter"):
            text.gopher_quality_filter(c4, min_words=30) \
                .withColumnRenamed("keep", "gopher_keep") \
                .select("doc_id", "c4_keep", "gopher_keep") \
                .write.parquet(os.path.join(out, "filters"))

    def exact():
        d = load(docs_path)
        with run.span("operators.dedup.exact_groups"):
            dedup.exact_groups(d).write.parquet(os.path.join(out, "exact"))

    def near():
        d = load(docs_path)
        with run.span("operators.dedup.lsh_candidate_pairs"):
            pairs = dedup.lsh_candidate_pairs(d)
            pairs.write.parquet(os.path.join(out, "pairs"))
        p = sp.read.parquet(os.path.join(out, "pairs"))
        with run.span("operators.dedup.connected_components"):
            dedup.connected_components(p).write.parquet(
                os.path.join(out, "components"))

    def write_snap():
        d = load(docs_path)
        with run.span("operators.snapshot.write_snapshot"):
            snapshot.write_snapshot(snap, docs=d, doc_families=("bands",),
                                    bloom_fpp=0.01)

    def probe():
        f = load(fresh_path)
        with run.span("operators.snapshot.read_snapshot"):
            pb = snapshot.read_snapshot(sp, snap)["bands"]
        with run.span("operators.snapshot.read_bloom"):
            bloom = snapshot.read_bloom(sp, snap, "bands")
        with run.span("operators.dedup.incremental_near_dup"):
            dedup.incremental_near_dup(f, prior_bands=pb, prior_bloom=bloom) \
                .write.parquet(os.path.join(out, "incremental"))
        # a counter only the traced run's measured pass pays for
        if run.tracer.enabled and run.tracer.phase == "measure":
            from scespet_spark.operators.bloom import bloom_attach
            with run.span("operators.bloom.bloom_attach"):
                nb = bloom_attach(dedup.banded_signatures(f), bloom,
                                  dedup.band_bloom_key(), "maybe")
                row = nb.select(F.count("*").alias("n"), F.sum(
                    F.col("maybe").cast("int")).alias("p")).collect()[0]
            run.res.layers["operators.bloom.pass_ratio"] = row.p / row.n

    return [("filters", filters), ("exact", exact), ("near", near),
            ("snapshot_write", write_snap), ("incremental", probe)]


class CorpusPhase(Phase):
    """Near-duplicate pipeline over a corpus with planted duplicates:
    text filters, exact groups, LSH candidates, connected components,
    snapshot write, and an incremental probe of a fresh drop against the
    snapshot (read) through its Bloom filter."""

    def __init__(self, run: Run):
        super().__init__(run)
        z = SIZES["corpus_dedup"]
        args = (z["vocab"], z["zipf_s"], z["exact_share"], z["near_share"],
                z["fresh_near_share"], z["edit_rate"])
        self.prior, fresh, self.planted = gen.corpus(
            run.seed, z["docs"], z["fresh_docs"], *args)
        self.docs = _write_table(self.prior, run.path(
            "corpus", "in", "documents.parquet"))
        self.fresh = _write_table(fresh, run.path(
            "corpus", "fresh", "documents.parquet"))
        wp, wf, _ = gen.corpus(run.seed + 1, z["warm_docs"],
                               z["warm_docs"] // 4, *args)
        self.warm_docs = _write_table(wp, run.path(
            "corpus", "warm_in", "documents.parquet"))
        self.warm_fresh = _write_table(wf, run.path(
            "corpus", "warm_fresh", "documents.parquet"))
        self.items = z["docs"] + z["fresh_docs"]
        self.out = os.path.join(run.work, "corpus", "out")
        self.ok_steps: set = set()

    def warm_jobs(self):
        """The independent steps as separate jobs; the snapshot write
        and the probe that reads it as one."""
        steps = dict(_corpus_steps(self.run, self.warm_docs, self.warm_fresh,
                                   self.run.dir("corpus", "warm_out")))
        chains = [("filters",), ("exact",), ("near",),
                  ("snapshot_write", "incremental")]
        return [lambda c=c: [steps[name]() for name in c] for c in chains]

    def measure(self) -> None:
        for name, fn in _corpus_steps(self.run, self.docs, self.fresh,
                                      self.run.dir("corpus", "out")):
            if self._timed(name, fn):
                self.ok_steps.add(name)
        if self.op_s:
            self.run.res.detail["corpus_docs_per_s"] = (self.items
                                                        / sum(self.op_s))
        self.run.res.layers["operators.snapshot.bytes"] = _du(
            os.path.join(self.out, "snapshot"))

    def check(self) -> None:
        """Exact groups against a Python grouping of the raw text;
        components against a union-find over the candidate pairs; recall
        against the planted pairs."""
        res, out, planted = self.run.res, self.out, self.planted
        df = self.prior.to_pandas()
        ref = df.groupby("text")["doc_id"].agg(["min", "count"])
        ref_groups = sorted(zip(ref["min"].tolist(), ref["count"].tolist()))
        all_planted = planted["exact"] + planted["near"]
        if "exact" in self.ok_steps:
            g = pq.read_table(os.path.join(out, "exact")).to_pandas()
            got = sorted(zip(g["rep_id"].tolist(), g["n_dups"].tolist()))
            res.check("corpus/exact_groups", got == ref_groups,
                      groups=len(got), ref_groups=len(ref_groups))
        if "filters" in self.ok_steps:
            f = pq.read_table(os.path.join(out, "filters")).to_pandas()
            ok = (len(f) == len(df) and f["doc_id"].is_unique
                  and set(f["c4_keep"]) <= {0, 1}
                  and set(f["gopher_keep"]) <= {0, 1})
            res.check("corpus/filters", ok, rows=len(f))
            keep = (f["c4_keep"] & f["gopher_keep"]).mean()
            res.layers["operators.text.keep_ratio"] = float(keep)
        same = set()
        if "near" in self.ok_steps:
            p = pq.read_table(os.path.join(out, "pairs")).to_pandas()
            c = pq.read_table(os.path.join(out, "components")).to_pandas()
            pairs = set(zip(p["id_a"].tolist(), p["id_b"].tolist()))
            ref_cc = _union_find(pairs)
            got_cc = dict(zip(c["id"].tolist(), c["cluster"].tolist()))
            res.check("corpus/connected_components", got_cc == ref_cc,
                      ids=len(got_cc), ref_ids=len(ref_cc))
            same = {(a, b) for a, b in all_planted
                    if a in got_cc and got_cc.get(a) == got_cc.get(b)}
            true = pairs & set(all_planted)
            res.layers["operators.dedup.candidate_pairs"] = len(pairs)
            res.layers["operators.dedup.candidate_precision"] = (
                len(true) / len(pairs) if pairs else 1.0)
            missed_exact = [pr for pr in planted["exact"] if pr not in same]
            res.check("corpus/exact_pairs_clustered", not missed_exact,
                      missed=len(missed_exact))
        found_fresh = set()
        if "incremental" in self.ok_steps:
            inc = pq.read_table(os.path.join(out, "incremental")).to_pandas()
            flagged = set(inc["doc_id"].tolist())
            res.check("corpus/incremental",
                      bool(inc["n_hit_bands"].between(1, 4).all()),
                      flagged=len(flagged))
            found_fresh = {pr for pr in planted["fresh_near"]
                           if pr[1] in flagged}
        self.recall = verify.pair_recall(same | found_fresh,
                                         all_planted + planted["fresh_near"])
        res.detail["dedup_recall"] = self.recall


def _union_find(pairs) -> dict:
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


# ===========================================================================
# ann_serve
# ===========================================================================

class AnnPhase(Phase):
    """PQ index build (``pq_train``: per-subspace codebooks and every
    vector's codes, written to parquet) as set-up, then a fixed number
    of ``pq_index_batch_topk`` query batches served one after another
    from the written index; checked against exact numpy top-k."""

    def __init__(self, run: Run):
        super().__init__(run)
        z = self.z = SIZES["ann_serve"]
        emb_t, self.vecs, self.centres = gen.embeddings(
            run.seed, z["vectors"], z["dim"], z["clusters"])
        self.emb_path = _write_table(emb_t, run.path(
            "ann", "in", "embeddings.parquet"))
        self.queries = gen.queries(run.seed, self.centres,
                                   z["batch"] * z["batches"])
        self.outs: list = []

    def build(self) -> None:
        from scespet_spark.operators.similarity import (identity_rotation,
                                                        pq_train)
        from scespet_spark.sources.batch import load_table
        run, z = self.run, self.z
        sp = run.spark
        idx = run.dir("ann", "index")
        with run.span("sources.batch.load_table"):
            self.emb = load_table(sp, os.path.dirname(self.emb_path),
                                  "embeddings")
        with run.span("operators.similarity.pq_train", index="pq"):
            codes, books = pq_train(self.emb, m=z["dim"] // 8)
            codes.write.parquet(os.path.join(idx, "codes"))
            books.write.parquet(os.path.join(idx, "codebooks"))
        self.index = (sp.read.parquet(os.path.join(idx, "codes")),
                      sp.read.parquet(os.path.join(idx, "codebooks")),
                      identity_rotation(sp, z["dim"]))

    def _serve(self, qv, out) -> None:
        from scespet_spark.operators.similarity import pq_index_batch_topk
        codes, cbs, rot = self.index
        qdf = self.run.spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(qv)],
            "q_id long, q_vec array<float>")
        with self.run.span("operators.similarity.pq_index_batch_topk"):
            pq_index_batch_topk(self.emb, codes, cbs, rot, qdf, k=self.z["k"],
                                shortlist=self.z["shortlist"]) \
                .select("q_id", "vec_id", "score", "rnk").write.parquet(out)

    def warm_jobs(self):
        qv = gen.queries(self.run.seed + 1, self.centres, self.z["batch"])

        def job():
            self.build()
            self._serve(qv, self.run.path("ann", "warm_out"))
        return [job]

    def measure(self) -> None:
        b = self.z["batch"]
        for i in range(self.z["batches"]):
            qv = self.queries[i * b:(i + 1) * b]
            out = self.run.path("ann", "out", f"b{i}")
            if self._timed("pq_index_batch_topk", self._serve, qv, out):
                self.outs.append((qv, out))
                self.items += len(qv)
        if self.op_s:
            self.run.res.detail.update(
                ann_queries_per_s=self.items / sum(self.op_s),
                ann_batch_latency_p50_s=statistics.median(self.op_s),
                ann_queries=self.items)

    def check(self) -> None:
        k = self.z["k"]
        hits = total = 0
        for qv, out in self.outs:
            got = pq.read_table(out).to_pandas()
            exact = verify.exact_topk(self.vecs, qv, k)
            ok = len(got) == len(qv) * k
            for qi in range(len(qv)):
                ids = set(got.loc[got["q_id"] == qi, "vec_id"].tolist())
                ok &= len(ids) == k
                hits += len(ids & set(exact[qi].tolist()))
                total += k
            self.run.res.check(f"ann/{os.path.basename(out)}", ok,
                               rows=len(got))
        self.recall = hits / max(total, 1)
        self.run.res.detail["recall_at_10"] = self.recall


def batch(run: Run, kinds: list) -> None:
    """Run the given phases in one session.  Set-up is the session start
    plus every phase's warm-up jobs, run concurrently (the longest chains
    first: the index build, the corpus pass, then the single CEP verbs);
    then the measured passes one after another, then the checks.

    ``items_per_s`` is every phase's items over the summed time of every
    measured operation; ``latency_p50_s`` the median operation time;
    ``result_recall`` the mean of the phases' recalls."""
    phases = [kind(run) for kind in kinds]

    def warm():
        jobs = [job for p in reversed(phases) for job in p.warm_jobs()]
        with ThreadPoolExecutor(max_workers=run.cpus) as ex:
            for f in [ex.submit(job) for job in jobs]:
                f.result()

    run.setup(warm)
    run.release()
    run.tracer.phase = "measure"
    for p in phases:
        p.measure()
        run.release()
        run.log(f"{type(p).__name__} measured")
    run.rss()
    for p in phases:
        p.check()
    ops = [dt for p in phases for dt in p.op_s]
    if ops:
        run.res.add("items_per_s", sum(p.items for p in phases) / sum(ops))
        run.res.samples["latency_p50_s"] = ops
    run.res.add("result_recall", statistics.mean(p.recall for p in phases))


# ===========================================================================
# live_ingest
# ===========================================================================

def _batch_files(ck: str, batch_id: str) -> list:
    """Names of the files the file-source log says a batch read."""
    import json
    log = os.path.join(ck, "sources", "0", batch_id)
    if not os.path.exists(log):
        return []
    with open(log) as f:
        return [os.path.basename(json.loads(line)["path"])
                for line in f if line.startswith("{")]


def _committed_drops(ck: str) -> dict:
    """drop file name -> commit time (epoch s) of the batch that read it,
    from the query's checkpoint: ``commits/b`` is written when batch
    ``b`` commits."""
    cdir = os.path.join(ck, "commits")
    if not os.path.isdir(cdir):
        return {}
    return {name: os.path.getmtime(os.path.join(cdir, b))
            for b in os.listdir(cdir) if b.isdigit()
            for name in _batch_files(ck, b)}


def _batches_reading(ck: str, names: set) -> set:
    """Ids of the committed batches that read any of ``names``."""
    cdir = os.path.join(ck, "commits")
    return {int(b) for b in os.listdir(cdir) if b.isdigit()
            and names & set(_batch_files(ck, b))}


class DropFeeder(threading.Thread):
    """Moves pre-written drop files into the watched directory at their
    due times (open loop: the schedule never waits for the engine)."""

    def __init__(self, schedule: list, dest: str):
        super().__init__(daemon=True)
        self.schedule = schedule           # [(due epoch s, staged path)]
        self.dest = dest
        self.released: dict = {}           # name -> (due, actual)

    def run(self) -> None:
        for due, staged in self.schedule:
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = os.path.basename(staged)
            os.replace(staged, os.path.join(self.dest, name))
            self.released[name] = (due, time.time())


def _wait_committed(ck: str, names: list, deadline: float) -> dict:
    while True:
        done = _committed_drops(ck)
        if all(n in done for n in names) or time.time() > deadline:
            return done
        time.sleep(0.05)


def live_ingest(run: Run) -> None:
    """Set-up starts the query on one drop and waits for its first
    micro-batch.  Then one drop per cadence tick, open loop, for
    ``--seconds`` (rounded up to whole ticks; the cadence is slower than
    a micro-batch, so the engine keeps up), then a burst of drops
    released at once."""
    from pyspark.sql import functions as F

    from scespet_spark.streaming.live import asof_latest, read_events_stream
    z = SIZES["live_ingest"]
    n_steady = max(1, math.ceil(run.seconds / z["cadence_s"]))
    n_drops = 1 + n_steady + z["burst_drops"]
    tables = gen.drops(run.seed, n_drops, z["drop_rows"], z["keys"],
                       z["zipf_s"])
    watched = run.dir("live", "in", "events.parquet")
    staged = []
    for i, t in enumerate(tables):
        staged.append(_write_table(t, run.path("live", "stage",
                                               f"d{i:05d}.parquet")))
    os.replace(staged[0], os.path.join(watched, os.path.basename(staged[0])))
    ck = run.dir("live", f"ck-{uuid.uuid4().hex}")
    out_dir = run.dir("live", "out")
    hard_deadline = time.time() + 150   # the run must end in 180 s
    query = {}

    def first_batch():
        sdir = os.path.dirname(watched)
        with run.span("streaming.live.read_events_stream"):
            src = read_events_stream(
                run.spark, sdir, max_files_per_trigger=z["files_per_batch"])
        with run.span("streaming.live.asof_latest"):
            live = asof_latest(
                src.filter(F.col("event_type") == "click")
                .withColumn("cv", F.col("value")),
                src.filter(F.col("event_type") == "purchase")
                .withColumn("pv", F.col("value")),
                ["user_id"], ["cv"], ["pv"])
        query["q"] = (live.select("user_id", "ts", "event_id", "cv", "pv")
                      .writeStream.format("parquet").option("path", out_dir)
                      .option("checkpointLocation", ck)
                      .outputMode("append").start())
        query["t"] = time.time()
        _wait_committed(ck, [os.path.basename(staged[0])], hard_deadline)

    run.setup(first_batch)
    run.tracer.phase = "measure"
    q = query["q"]
    qspan = {"name": "streaming.live.query", "run_id": run.tracer.run_id,
             "phase": "measure"}
    try:
        # steady phase: one drop per cadence tick, open loop
        t0 = time.time() + 0.2
        steady = [(t0 + i * z["cadence_s"], staged[1 + i])
                  for i in range(n_steady)]
        feeder = DropFeeder(steady, watched)
        feeder.start()
        steady_names = [os.path.basename(p) for _, p in steady]
        # the steady phase ends at the tick after the last drop, or as
        # soon as every steady drop is committed
        steady_end = t0 + n_steady * z["cadence_s"]
        feeder.join(timeout=max(1.0, hard_deadline - time.time()))
        done = _wait_committed(ck, steady_names, steady_end)

        # burst: every remaining drop at once, on top of any steady drop
        # still pending
        t_b = time.time()
        run.res.detail["ingest_backlog_drops"] = sum(
            1 for n in steady_names if n not in done)
        burst = [(t_b, p) for p in staged[1 + n_steady:]]
        bfeed = DropFeeder(burst, watched)
        bfeed.run()
        burst_names = [os.path.basename(p) for _, p in burst]
        done = _wait_committed(ck, steady_names + burst_names, hard_deadline)
        run.res.attempted += len(steady_names) + len(burst_names)
        run.res.failed += sum(1 for n in steady_names + burst_names
                              if n not in done)
        for n in steady_names:
            if n in done:
                run.res.add("latency_p50_s", done[n] - feeder.released[n][0])
        lags = [a - d for d, a in (*feeder.released.values(),
                                   *bfeed.released.values())]
        run.log("all drops committed")
        run.res.layers["bench.generator_lag_s"] = max(lags)
        run.rss()
        qspan["group"] = str(q.runId)
        # drain rate: drop rows over processing time of the batches that
        # read the burst, so the wait for a batch already running when
        # the burst lands does not count (``numInputRows`` counts each
        # row once per source scan, twice here).  A batch's progress
        # event follows its commit file, so wait for it.
        batches = _batches_reading(ck, set(burst_names))
        n_read = sum(len(_batch_files(ck, str(b))) for b in batches)
        while True:
            progress = list(q.recentProgress)
            bp = [p for p in progress if p["batchId"] in batches]
            if len(bp) == len(batches) or time.time() > hard_deadline:
                break
            time.sleep(0.05)
        if bp and len(batches) == len(bp):
            run.res.add("items_per_s", n_read * z["drop_rows"]
                        / sum(p["durationMs"]["triggerExecution"]
                              for p in bp) * 1000.0)
    finally:
        q.stop()
        q.awaitTermination(30)
        run.log("query stopped")
    run.res.detail["ingest_rows_per_s"] = (
        run.res.samples.get("items_per_s", [None])[0])
    if run.tracer.enabled:
        _live_layers(run, progress, n_warm=1)
        qspan.update(start=query["t"], end=time.time(),
                     id=f"{run.tracer.run_id}.query", parent=None)
        run.tracer.spans.append(qspan)

    con = verify.connect({"events": os.path.join(watched, "*.parquet")})
    import __spark_entry__ as entry
    r = verify.compare(con, os.path.join(out_dir, "*.parquet"),
                       entry.oracle_sql()["live_asof_purchase_last_click"])
    run.res.checks.append({"name": "live/asof_latest", **r})
    if not r["ok"]:
        run.res.failed = run.res.attempted
    run.res.add("result_recall",
                (r["ref_rows"] - r["missing"]) / max(r["ref_rows"], 1))


def _live_layers(run: Run, progress: list, n_warm: int) -> None:
    """Per-batch figures from ``StreamingQuery.recentProgress``: medians
    of the durations over the batches after the warm-up batch, state
    size from the last batch, late rows summed."""
    ps = [p for p in progress if p.get("numInputRows", 0) > 0][n_warm:]
    L = run.res.layers
    L["streaming.live.batches"] = len(ps)
    if not ps:
        return

    def med(f):
        return statistics.median(f(p) for p in ps)

    def d(p, k):
        return p["durationMs"].get(k, 0) / 1000.0

    def ops(p, k):
        return sum(o.get(k, 0) for o in p.get("stateOperators", []))

    L["streaming.live.trigger_s"] = med(lambda p: d(p, "triggerExecution"))
    L["streaming.live.add_batch_s"] = med(lambda p: d(p, "addBatch"))
    L["streaming.live.planning_s"] = med(lambda p: d(p, "queryPlanning"))
    L["streaming.live.offset_commit_s"] = med(
        lambda p: d(p, "walCommit") + d(p, "commitOffsets"))
    L["streaming.live.state_update_s"] = med(
        lambda p: ops(p, "allUpdatesTimeMs") / 1000.0)
    L["streaming.live.state_commit_s"] = med(
        lambda p: ops(p, "commitTimeMs") / 1000.0)
    last = ps[-1]
    L["streaming.live.state_instances"] = ops(last, "numStateStoreInstances")
    L["streaming.live.state_rows"] = ops(last, "numRowsTotal")
    L["streaming.live.state_bytes"] = ops(last, "memoryUsedBytes")
    L["streaming.live.late_rows_dropped"] = sum(
        ops(p, "numRowsDroppedByWatermark") for p in ps)


WORKLOADS = {
    "batch_replay": lambda run: batch(run, [CepPhase, CorpusPhase, AnnPhase]),
    "live_ingest": live_ingest,
    "cep_replay": lambda run: batch(run, [CepPhase]),
    "corpus_dedup": lambda run: batch(run, [CorpusPhase]),
    "ann_serve": lambda run: batch(run, [AnnPhase]),
}
