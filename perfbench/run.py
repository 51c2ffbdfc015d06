"""Benchmark for bm25_spark: one workload run per process.

Run from the repository root:

    python3 perfbench/run.py --workload warm_head --seed 1 --seconds 16 --trace 0

Workloads (inputs come from perfbench/gen.py, seeded by ``--seed``):

- ``warm_head``: an index that fits the driver cache. Closed-loop single
  queries on the driver path; transcript rows with doc-id assignment;
  query batches whose scoring work sends ``search_batch`` down the cluster
  path.
- ``longtail``: more than 100k distinct terms, so ``warm_query_caches``
  declines and queries probe the persisted index lazily through Spark.

Every run builds the index once (the only build in the process, and the only
one timed), writes and reopens it, then serves the workload's query streams
against the reopened index for ``--seconds`` seconds: one closed-loop client,
single queries first, then batches. A seeded sample of the served results is
checked against the reference engine after timing.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
workload with spans around the public calls and Spark's event log on, and
prints the per-layer metrics instead. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

import numpy as np  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import SHAPES, make_inputs  # noqa: E402
from tracing import Tracer, build_layers, read_event_log  # noqa: E402

DRIVER_MEMORY = "4g"

# Per-layer metrics of the traced pass: name -> (unit, better). Each group
# names the end-to-end metric (and workload) it should move.
LAYERS = {
    # build_docs_per_s: the fused tokenize+pack map stage grows with tokens,
    # the merge reduce with distinct terms, so the merge dominates longtail
    "indexer.build_s": ("s", "lower"),
    "indexer.map_executor_s": ("s", "lower"),
    "indexer.reduce_executor_s": ("s", "lower"),
    "indexer.shuffle_write_mb": ("MiB", "lower"),
    "indexer.gc_s": ("s", "lower"),
    "indexer.jobs": ("count", "lower"),
    "indexer.reduce_task_max_over_median": ("ratio", "lower"),
    "indexer.terms": ("count", "lower"),
    "indexer.packed_rows": ("count", "lower"),
    # build_docs_per_s on warm_head (transcript rows get docids)
    "docids.assign_s": ("s", "lower"),
    "analyzer.tokens_per_s": ("tokens/s", "higher"),
    # persist_s and index_bytes_per_text_byte, most on longtail
    "indexer.write_s": ("s", "lower"),
    "indexer.reopen_first_result_s": ("s", "lower"),
    **{f"indexer.bytes.{t}": ("bytes", "lower")
       for t in ("docs", "terms", "postings", "stats", "doclens")},
    # build_docs_per_s and query_p50_ms; a postings-format change trades the
    # two against each other and against index_bytes_per_text_byte
    "codec.pack_postings_per_s": ("postings/s", "higher"),
    "codec.unpack_postings_per_s": ("postings/s", "higher"),
    # setup_s on warm_head
    "packed.warm_s": ("s", "lower"),
    # query_p50_ms: on warm_head the driver path (order_ms
    # is the search() time outside search_packed and the result collect);
    # on longtail the lazy probe jobs inside search_packed
    "packed.search_packed_ms": ("ms", "lower"),
    "searcher.collect_ms": ("ms", "lower"),
    "searcher.order_ms": ("ms", "lower"),
    "spark.jobs_per_query": ("jobs", "lower"),
    # batch_queries_per_s: the cluster path on warm_head, lazy driver-path
    # batches on longtail
    "packed.batch_s": ("s", "lower"),
    "packed.cluster_stats.n_buckets": ("count", "lower"),
    "packed.cluster_stats.max_task_rows": ("count", "lower"),
    "packed.cluster_stats.total_joined_rows": ("count", "lower"),
    "spark.jobs_per_batch": ("jobs", "lower"),
    # memory, beside driver_rss_mb
    "jvm.peak_rss_mb": ("MiB", "lower"),
    # workload properties, the host control and the cost of tracing
    "workload.distinct_terms": ("count", "higher"),
    "workload.repeat_term_share": ("ratio", "higher"),
    "workload.driver_path_share": ("ratio", "higher"),
    "host.ctrl_ms": ("ms", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}


def host_ctrl_ms() -> float:
    """Median time of a fixed numpy kernel (sort of 1M seeded doubles): a
    host-speed control recorded beside every run."""
    x = np.random.default_rng(7).random(1 << 20)
    times = []
    for _ in range(5):
        t = time.perf_counter()
        np.sort(x)
        times.append(time.perf_counter() - t)
    return statistics.median(times) * 1e3


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Hadoop's hidden .crc and
    _SUCCESS marker files excluded)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(d, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


class Run:
    """One workload run: its phases, the operations it attempted and the
    failures it saw, and what the metrics are computed from."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str):
        self.workload = workload
        self.shape = SHAPES[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.attempted = 0
        self.failures: list[str] = []
        self.setup_s = 0.0
        self.layer: dict[str, float] = {}
        # traced pass only: spans, and whether the current step records them
        self.tracer = Tracer() if trace else None
        self.tracing = trace

    # -- helpers -----------------------------------------------------------

    def fail(self, reason: str) -> None:
        self.failures.append(reason)
        print(f"FAIL {self.workload}: {reason}", file=sys.stderr)

    def group(self, name: str) -> None:
        """Spark job group of what runs next (read back from the event log
        in the traced pass)."""
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(name, name)

    def span(self, name: str, **attrs):
        if self.tracer is None or not self.tracing:
            return nullcontext({})
        return self.tracer.span(name, **attrs)

    # -- phases ------------------------------------------------------------

    def start(self) -> None:
        self.ctrl = [host_ctrl_ms()]
        self.inputs = make_inputs(self.workload, self.seed)
        self.corpus_dir = os.path.join(self.work, "input")
        write_corpus(self.inputs.corpus, self.corpus_dir, n_files=2 * ncpu())

        from bm25_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        extra = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp,
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer is not None:
            self.events = os.path.join(self.work, "events")
            os.makedirs(self.events)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.rolling.enabled": "true",
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            app=f"perfbench-{self.workload}", cores=ncpu(),
            shuffle_partitions=ncpu(), driver_memory=DRIVER_MEMORY,
            extra=extra,
        )
        self.src = self.spark.read.parquet(self.corpus_dir)
        self.setup_s += time.perf_counter() - T_START

    def build(self) -> None:
        from bm25_spark.operators.indexer import build_index

        kwargs = {"index_fields": self.inputs.meta_fields,
                  "shard_size": self.shape.shard_size, "check_empty": False}
        if not self.shape.transcript:
            kwargs["id_col"] = "doc_id"
        self.group("build")
        self.attempted += 1
        t = time.perf_counter()
        with self.span("indexer.build_index"):
            self.built = build_index(self.src, **kwargs).materialize(
                persist_docs=False)
        self.build_s = time.perf_counter() - t

    def persist(self) -> None:
        from bm25_spark.operators.indexer import read_index, write_index
        from bm25_spark.operators.searcher import search

        self.index_dir = os.path.join(self.work, "index")
        self.group("persist")
        self.attempted += 1
        t = time.perf_counter()
        with self.span("indexer.write_index"):
            write_index(self.built, self.index_dir)
        t_write = time.perf_counter()
        with self.span("indexer.reopen_first_result"):
            self.index = read_index(self.spark, self.index_dir)
            search(self.index, self.inputs.probe, limit=10).collect()
        t_end = time.perf_counter()
        self.persist_s = t_end - t
        self.layer["indexer.write_s"] = t_write - t
        self.layer["indexer.reopen_first_result_s"] = t_end - t_write
        self.built.unpersist()
        sizes = {n: dir_bytes(os.path.join(self.index_dir, n))
                 for n in ("docs", "terms", "postings", "stats", "doclens")}
        for n, b in sizes.items():
            self.layer[f"indexer.bytes.{n}"] = b
        self.index_bytes = sum(sizes.values()) + dir_bytes(
            os.path.join(self.index_dir, "meta.json"))

    def warm(self) -> None:
        """What a search head does at startup. On longtail the index is over
        warm_query_caches' limits, and the call declines."""
        from bm25_spark.operators.packed import warm_query_caches

        self.group("warm")
        t = time.perf_counter()
        with self.span("packed.warm_query_caches"):
            warmed = warm_query_caches(self.index)
        warm_s = time.perf_counter() - t
        self.layer["packed.warm_s"] = warm_s
        self.setup_s += warm_s
        # path assertion: a change that moves the workload off its path
        # fails the run instead of shifting its numbers
        if warmed != self.shape.warm:
            self.fail(f"warm_query_caches returned {warmed}, workload "
                      f"expects {self.shape.warm}")

    def serve(self) -> None:
        """Warm-up (JIT and first-use costs of the query paths), then the
        measuring window: single queries, then batches, one closed-loop
        client. In the traced pass, traced and untraced blocks alternate on
        the same stream, which measures the overhead."""
        from bm25_spark.operators.searcher import search, search_batch

        shape = self.shape
        self.tracing = False
        self.group("warmup")
        t = time.perf_counter()
        batch = next(self.inputs.batches)
        self._op("batch", {"traced": False},
                 lambda: search_batch(self.index, batch, limit=10).collect())
        # settle the build's and the batch's garbage, then warm the single
        # query path right before it is timed
        self.spark._jvm.System.gc()
        gc.collect()
        seen: set[str] = set()
        for _ in range(shape.warmup):
            q, limit, flt = next(self.inputs.singles)
            seen.update(q.split())
            self._op("query", {"traced": False},
                     lambda: search(self.index, q, limit=limit, flt=flt)
                     .collect())
        self.setup_s += time.perf_counter() - t

        self.singles: list[dict] = []
        self.batches: list[dict] = []
        repeats = total = 0
        t0 = time.perf_counter()
        stop = t0 + self.seconds * (1.0 - shape.batch_share)
        while time.perf_counter() < stop or not self.singles:
            q, limit, flt = next(self.inputs.singles)
            words = q.split()
            repeats += sum(w in seen for w in words)
            total += len(words)
            seen.update(words)
            rec = {"q": q, "limit": limit, "flt": flt,
                   "traced": (len(self.singles) // 10) % 2 == 0}
            self.singles.append(rec)
            self._op("query", rec, lambda: [
                (r[0], r[1])
                for r in self._collect(
                    search(self.index, q, limit=limit, flt=flt))
            ])
        stop = t0 + self.seconds
        while time.perf_counter() < stop or not self.batches:
            batch = next(self.inputs.batches)
            rec = {"queries": batch, "traced": len(self.batches) % 2 == 0}
            self.batches.append(rec)
            self._op("batch", rec, lambda: by_query(
                self._collect(search_batch(self.index, batch, limit=10))))
        self.tracing = self.tracer is not None
        self.repeat_term_share = repeats / max(total, 1)
        self.driver_rss_mb = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)

    def _collect(self, df):
        with self.span("searcher.collect"):
            return df.collect()

    def _op(self, kind: str, rec: dict, call) -> None:
        """One timed client operation. Exceptions count as failures."""
        traced = self.tracer is not None and rec["traced"]
        if traced:
            self.tracer.qid = f"{kind}{len(self.singles) + len(self.batches)}"
            self._patch()
        self.tracing = traced
        self.group(kind if traced else "untraced")
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.span("client." + kind):
                rec["result"] = call()
        except Exception as e:  # noqa: BLE001 - one failed operation
            rec["result"] = None
            self.fail(f"{kind} raised {type(e).__name__}: {e}")
        rec["s"] = time.perf_counter() - t
        if traced:
            self.tracer.unpatch()
            self._after_traced(kind, rec)
        self.tracing = False

    # -- traced pass -------------------------------------------------------

    def _patch(self) -> None:
        """Wrap packed.search_packed (searcher.search_batch looks it up at
        call time): a span per call, the cluster_stats it fills on the
        cluster path (one extra agg job), and its result frame, which is
        collected again below without the caller's orderBy."""
        from bm25_spark.operators import packed

        def before(kwargs):
            kwargs.setdefault("cluster_stats", {})
            self._call = {"stats": kwargs["cluster_stats"]}

        def after(span, out):
            self._call.update(span=span, df=out)

        self._call = {}
        self.tracer.patch(packed, "search_packed", "packed.search_packed",
                          before, after)

    def _after_traced(self, kind: str, rec: dict) -> None:
        call, self._call = self._call, {}
        if "span" not in call or rec["result"] is None:
            return
        span = call["span"]
        rec["packed_s"] = span["end"] - span["start"]
        rec["cluster_stats"] = span["attrs"]["cluster_stats"] = call["stats"]
        if kind == "query":
            self.group("trace-extra")
            self.tracing = True
            with self.span("packed.result_collect") as sp:
                call["df"].collect()
            rec["result_collect_s"] = sp["end"] - sp["start"]

    def trace_live(self) -> None:
        """Traced pass, while the session is up: layer figures that need it,
        and standalone calls into the modules below the search API."""
        from pyspark.sql import functions as F

        from bm25_spark.functions import analyzer, codec
        from bm25_spark.operators.docids import assign_doc_ids

        self.layer["jvm.peak_rss_mb"] = jvm_peak_rss_mb(self.spark)
        self.group("other")
        self.layer["indexer.terms"] = self.index.terms.count()
        self.layer["indexer.packed_rows"] = self.index.packed.count()

        # docids on the workload's own rows (transcripts by conversation
        # order; doc rows by their original ids)
        rows, order = self.src, ("conv_id", "turn_idx")
        if not self.shape.transcript:
            rows, order = rows.withColumnRenamed("doc_id", "row"), ("row",)
        self.group("docids")
        with self.span("docids.assign_doc_ids") as sp:
            assign_doc_ids(rows, order_cols=order).count()
        self.layer["docids.assign_s"] = sp["end"] - sp["start"]

        # analyzer: the build-side tokenizer over the workload's text
        texts = self.inputs.corpus["text"].tolist()
        n_tok = 0
        with self.span("analyzer.doc_tokens") as sp:
            for text in texts:
                n_tok += len(analyzer.doc_tokens(text))
        self.layer["analyzer.tokens_per_s"] = n_tok / (sp["end"] - sp["start"])

        # codec: decode and re-encode the index's own largest posting blobs
        self.group("other")
        avgdl = float(self.index.stats.first()["avgdl"])
        rows = (self.index.packed.orderBy(F.desc("n"), "term", "shard")
                .limit(256).collect())
        decoded = []
        with self.span("codec.unpack_blocks") as sp:
            for r in rows:
                bl = np.asarray(r["block_last"], np.int64)
                decoded.append((r["shard"] * self.index.shard_size,
                                codec.unpack_blocks(
                                    r["data"], r["n"],
                                    r["shard"] * self.index.shard_size, bl,
                                    np.asarray(r["block_off"], np.int64),
                                    np.arange(len(bl)))))
        n_post = sum(r["n"] for r in rows)
        self.layer["codec.unpack_postings_per_s"] = n_post / (
            sp["end"] - sp["start"])
        with self.span("codec.pack_postings") as sp:
            for base, (ids, tfs, dls) in decoded:
                codec.pack_postings(ids, tfs, dls, base, self.index.k1,
                                    self.index.b, avgdl)
        self.layer["codec.pack_postings_per_s"] = n_post / (
            sp["end"] - sp["start"])

    def check(self) -> None:
        """Compare a seeded sample of the served results with the oracle."""
        from check import Checker

        checker = Checker(self.inputs.corpus, self.inputs.meta_fields)
        rng = np.random.default_rng([self.seed, 99])
        ok = [r for r in self.singles if r["result"] is not None]
        for i in rng.permutation(len(ok))[: self.shape.check_singles]:
            r = ok[i]
            why = checker.mismatch(r["q"], r["limit"], r["flt"], r["result"])
            if why:
                self.fail("query result: " + why)
        pairs = [
            (text, b["result"].get(qid, []))
            for b in self.batches if b["result"] is not None
            for qid, text in b["queries"]
        ]
        for i in rng.permutation(len(pairs))[: self.shape.check_batch_queries]:
            text, got = pairs[i]
            why = checker.mismatch(text, 10, None, got)
            if why:
                self.fail("batch result: " + why)
        if self.tracer is not None:
            # path assertion: batches take the cluster path (search_packed
            # filled cluster_stats) exactly when the workload sizes them
            # past its driver work limit
            cluster = [bool(b.get("cluster_stats")) for b in self.batches
                       if "cluster_stats" in b]
            want = self.shape.driver_work_limit is not None
            if any(c != want for c in cluster):
                self.fail(f"batches took the {'driver' if want else 'cluster'}"
                          " path")

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        # the traced pass counts only its traced operations
        def timed(recs):
            return [r for r in recs if r["result"] is not None
                    and (self.tracer is None or r["traced"])]

        singles = [r["s"] * 1e3 for r in timed(self.singles)]
        batches = timed(self.batches)
        return {
            "setup_s": (self.setup_s, "s"),
            "build_docs_per_s": (self.shape.n_docs / self.build_s, "docs/s"),
            "persist_s": (self.persist_s, "s"),
            "index_bytes_per_text_byte": (
                self.index_bytes / self.inputs.text_bytes, "ratio"),
            "query_p50_ms": (float(np.percentile(singles, 50)), "ms"),
            "batch_queries_per_s": (
                sum(len(b["queries"]) for b in batches)
                / sum(b["s"] for b in batches), "q/s"),
            "driver_rss_mb": (self.driver_rss_mb, "MiB"),
        }

    def per_layer(self) -> dict[str, float]:
        """Traced pass, after the session stopped (the event log is
        complete): every per-layer metric."""
        groups = read_event_log(self.events)
        empty = {"jobs": 0, "stages": {}}
        layer = dict(self.layer)
        layer["indexer.build_s"] = self.build_s
        layer.update(build_layers(groups.get("build", empty)))

        traced_q = [r for r in self.singles if "packed_s" in r]
        traced_b = [r for r in self.batches if "packed_s" in r]
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        packed_ms = med([r["packed_s"] * 1e3 for r in traced_q])
        collect_ms = med([r["result_collect_s"] * 1e3 for r in traced_q])
        layer["packed.search_packed_ms"] = packed_ms
        layer["searcher.collect_ms"] = collect_ms
        layer["searcher.order_ms"] = med([
            (r["s"] - r["packed_s"] - r["result_collect_s"]) * 1e3
            for r in traced_q])
        layer["spark.jobs_per_query"] = (
            groups.get("query", empty)["jobs"] / max(
                sum(r["traced"] for r in self.singles), 1))
        layer["spark.jobs_per_batch"] = (
            groups.get("batch", empty)["jobs"] / max(
                sum(r["traced"] for r in self.batches), 1))
        layer["packed.batch_s"] = med([r["packed_s"] for r in traced_b])
        for k in ("n_buckets", "max_task_rows", "total_joined_rows"):
            layer[f"packed.cluster_stats.{k}"] = med(
                [r["cluster_stats"].get(k, 0) for r in traced_b])
        calls = traced_q + traced_b
        layer["workload.driver_path_share"] = (
            sum(not r["cluster_stats"] for r in calls) / max(len(calls), 1))
        layer["workload.distinct_terms"] = self.inputs.distinct_terms
        layer["workload.repeat_term_share"] = self.repeat_term_share
        layer["host.ctrl_ms"] = statistics.mean(self.ctrl)

        # overhead: traced vs untraced operations of the same streams, equal
        # counts of each kind
        t_on = t_off = 0.0
        for recs in (self.singles, self.batches):
            on = [r["s"] for r in recs if r["traced"] and r["result"] is not None]
            off = [r["s"] for r in recs
                   if not r["traced"] and r["result"] is not None]
            n = min(len(on), len(off))
            t_on += sum(on[:n])
            t_off += sum(off[:n])
        layer["trace.overhead_frac"] = t_on / t_off - 1.0 if t_off else 0.0
        return layer


def by_query(rows) -> dict[int, list[tuple[int, float]]]:
    """search_batch rows -> query_id -> [(doc_id, score), ...] by rank."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def write_corpus(corpus, path: str, n_files: int) -> None:
    """The corpus as ``n_files`` parquet files, the input of the build."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    table = pa.Table.from_pandas(corpus, preserve_index=False)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"),
                       coerce_timestamps="us")


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (it exits on EOF) and
    wait for the process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bm25_spark", "oracle.py")):
        print("perfbench: run from the root of a bm25_spark checkout "
              "(bm25_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark, its Python workers and tempfile all stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    limit = SHAPES[args.workload].driver_work_limit
    if limit is not None:  # read when bm25_spark.operators.packed loads
        os.environ["BM25_DRIVER_PATH_MAX_WORK"] = str(limit)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    phases = [run.start, run.build, run.persist, run.warm, run.serve]
    if run.tracer is not None:
        phases.append(run.trace_live)
    try:
        try:
            for phase in phases:
                t = time.perf_counter()
                phase()
                print(f"# {phase.__name__} {time.perf_counter() - t:.2f} s",
                      file=sys.stderr)
        finally:
            if hasattr(run, "spark"):
                stop_spark(run.spark)
        t = time.perf_counter()
        run.check()
        print(f"# check {time.perf_counter() - t:.2f} s", file=sys.stderr)
        run.ctrl.append(host_ctrl_ms())
        e2e = run.end_to_end()
        for k, (v, u) in e2e.items():
            print(f"{args.workload:>14} {k:<28} {v:14.4f} {u}")
        singles = [r["s"] * 1e3 for r in run.singles
                   if r["result"] is not None]
        for k, v, u in (
            # a tail beside the results: too few samples for a steady metric
            ("query_p90_ms", float(np.percentile(singles, 90)), "ms"),
            ("query_count", len(singles), "count"),
            ("host.ctrl_ms", statistics.mean(run.ctrl), "ms"),
            ("workload.distinct_terms", run.inputs.distinct_terms, "count"),
            ("workload.repeat_term_share", run.repeat_term_share, "ratio"),
        ):
            print(f"{args.workload:>14} {k:<28} {v:14.4f} {u}")
        if run.tracer is None:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        else:
            layer = run.per_layer()
            metrics = {k: {"value": float(layer[k]), "unit": unit}
                       for k, (unit, _) in LAYERS.items()}
            run.tracer.write(os.path.join(
                base, "traces", f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
