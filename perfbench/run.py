#!/usr/bin/env python3
"""KG-construction benchmark: full build, crash-resume, single-document API.

    python3 perfbench/run.py --workload build_full --seed 1 --seconds 10 --trace 0

Run from the root of a source tree. Workloads (inputs from --seed only,
see workloads.py; BENCHMARK.json lists build_full and api_doc, and
build_resume runs by hand):

  build_full    one `plans.pipeline.build_graph(resume=False)` per op over
                5,000 pages in 8 buckets; output checked against
                `oracle.run_oracle` on the same pages.
  build_resume  each op copies a graph built in set-up from 7 of the 8
                buckets and times `build_graph(resume=True)` over all pages;
                `triples`, `entities` and `nodes` must equal a one-shot
                build of the same pages.
  api_doc       closed loop, one client: `Cube()(text)`, its CoNLL-U
                `str()` and `.triples(text)` per document; triples must
                equal the engine's `fused_triples` for the same documents.

Spark runs `local[N]`, N = $SPARK_GRAFT_CPUS or the usable cores. Every
file the run writes lives under `.perfbench_run/` in the source tree; only
the trace file (`.perfbench_run/traces/`) is kept.

A build_full/build_resume run times one build, then reads of its output
until the two together reach --seconds; api_doc runs whole passes over its
sample until --seconds of wall time have passed.
--trace 0 prints the end-to-end metrics. --trace 1 runs the same timed ops,
then one traced op per workload with Spark's event log on, and prints the
per-layer metrics listed in layer_map.json (0 where a layer does not run on
the workload). Either way the last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`; the line before it holds
the host-contention stamps and failed_frac. The exit code is 1 if any op
failed its check, 2 if the run could not start.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __package__ in (None, ""):  # run as a script: make the package importable
    sys.path.insert(0, ROOT)

from perfbench import eventlog, probes, tracing, workloads as W  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_run")
WORKLOADS = ("build_full", "build_resume", "api_doc")
# session starts per run; setup_s is the median of all but the first, which
# also launches the JVM (that launch is session.jvm_start_s)
SETUP_CYCLES = 3
# driver heap: enough for these inputs, and fixed, so that the JVM's share
# of peak_rss_mb is not set by how far G1 happened to grow an 8g heap
DRIVER_MEM = "2g"
# fewest reads after each build (and warm-up reads in set-up); read_ms is
# the median over every read of the run. The read path keeps speeding up
# over its first dozen or so reads, and the reads just after a build run
# slower than later ones, so a few reads make a noisy median.
READS_PER_OP = 3
API_WARM_DOCS = 200  # untimed api_doc ops before the timed passes
DEADLINE_S = 140.0  # start no op after this, so a run ends well within 180s
TRIPLE_COLS = ("url", "sent_id", "subj", "pred", "obj", "pattern")
SPARK_LAYERS = ("annotate", "link", "canon", "pipeline")  # span and job-group names
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
E2E_UNITS = {
    "setup_s": "s", "op_p50_ms": "ms", "op_p99_ms": "ms", "read_ms": "ms",
    "triples_per_s": "1/s", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Per-layer metric -> unit, in layer_map.json order."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "layer_map.json")) as f:
        layers = json.load(f)["layers"]
    return {m: u for layer in layers.values() for m, u in layer["metrics"].items()}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _md5_60(key: str) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16)


def _key(values) -> str:
    return "\x1f".join("\\N" if v is None else str(v) for v in values)


def fingerprint_rows(rows: list[dict], cols) -> tuple[int, int]:
    """(row count, sum of a 60-bit md5 per row): an order-free multiset
    digest, computed the same way as `fingerprint_df`."""
    return len(rows), sum(_md5_60(_key(r[c] for c in cols)) for r in rows)


def fingerprint_df(df, cols) -> tuple[int, int]:
    from pyspark.sql import functions as F

    key = F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in cols])
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def table_fingerprint(spark, path: str) -> tuple[int, int]:
    df = spark.read.parquet(path)
    return fingerprint_df(df, sorted(df.columns))


def dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`, not counting checksums and
    markers."""
    n = size = 0
    for d, _, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(d, name))
    return n, size


class OracleProcess:
    """`oracle.run_oracle` on the seed's corpus, in a child process.

    The child is forked at once but waits for `start()`, so it can be
    forked before the run has a JVM or a second thread, and still do its
    work beside the warm-up build rather than beside the timed set-up. It
    sends back only the triple count and `fingerprint_rows` digest."""

    def __init__(self, seed: int):
        import multiprocessing as mp

        ctx = mp.get_context("fork")
        self._go, go = ctx.Pipe()
        self._out, out = ctx.Pipe(duplex=False)
        self._proc = ctx.Process(target=self._child, args=(seed, go, out), daemon=True)
        self._proc.start()
        go.close()
        out.close()

    @staticmethod
    def _child(seed: int, go, out) -> None:
        if not go.recv():
            return
        from nlp_cube_spark import oracle

        trip = oracle.run_oracle(W.corpus(seed))[1]
        out.send((len(trip), fingerprint_rows(trip, TRIPLE_COLS)))

    def start(self) -> None:
        self._go.send(True)

    def result(self) -> tuple[int, tuple[int, int]]:
        got = self._out.recv()
        self._proc.join()  # reaped, so the process tree is the run's again
        return got

    def close(self) -> None:
        """End the child (telling it to stop if it never started) and wait."""
        try:
            self._go.send(False)
        except OSError:  # the child has already ended
            pass
        self._proc.join(timeout=30)
        if self._proc.is_alive():
            self._proc.kill()
            self._proc.join()


class Bench:
    def __init__(self, args):
        self.args = args
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
        self.trace = bool(args.trace)
        self.tracer = tracing.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.t_begin = time.perf_counter()
        self.spark = None
        self.attempted = self.failed = 0
        self.layer_units = per_layer_units()
        self.layer: dict[str, float] = dict.fromkeys(self.layer_units, 0.0)
        self.setup_cycles: list[tuple[float, float]] = []
        self.residual: list[tuple[float, int]] = []
        self.stamps: list[dict] = []
        self.samples: dict[str, list[float]] = {}
        self.oracle: OracleProcess | None = None

    # ------------------------------------------------------------ session

    def _conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')}",
        }
        if self.trace:
            os.makedirs(os.path.join(self.run_dir, "eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                # the default zstd codec needs a module this host lacks
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
            })
        return conf

    def start_session(self) -> None:
        """SETUP_CYCLES x (session start + worker warm-up); the first cycle
        also launches the JVM, later ones start a fresh SparkContext (and
        fresh Python workers) in it. The last session stays up."""
        import pandas as pd
        from nlp_cube_spark.operators import annotate as A
        from nlp_cube_spark.session import get_spark

        warm_rows = W.corpus(self.args.seed, 2 * self.cpus)  # one per task
        for i in range(SETUP_CYCLES):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("session.start", cycle=i):
                t0 = time.perf_counter()
                self.spark = get_spark(
                    app_name="perfbench", master=f"local[{self.cpus}]", extra_conf=self._conf()
                )
                self.spark.sparkContext.setLogLevel("ERROR")
                t1 = time.perf_counter()
            with self.tracer.span("session.warm", cycle=i):
                warm = self.spark.createDataFrame(pd.DataFrame(warm_rows), PAGES_SCHEMA)
                A.fused_triples(warm.repartition(2 * self.cpus)).write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            self.setup_cycles.append((t1 - t0, t2 - t1))
        self.app_id = self.spark.sparkContext.applicationId

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM and every Python worker to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while len(probes.process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)

    @contextmanager
    def layer_span(self, name: str):
        """A traced span that is also the Spark job group of its jobs."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, f"perfbench {name}")
        try:
            with self.tracer.span(name) as rec:
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def pages_df(self, rows):
        import pandas as pd

        return self.spark.createDataFrame(pd.DataFrame(rows), PAGES_SCHEMA).repartition(2 * self.cpus, "url")

    def over_deadline(self) -> bool:
        return time.perf_counter() - self.t_begin > DEADLINE_S

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: op failed: {what}", file=sys.stderr, flush=True)

    # ------------------------------------------------------------ builds

    def setup_build(self) -> None:
        from pyspark.sql import functions as F
        from nlp_cube_spark.operators import linking as LK
        from nlp_cube_spark.plans import pipeline as P
        from nlp_cube_spark.session import persistent_rdd_ids

        spark = self.spark
        self.rows = W.corpus(self.args.seed)
        self.held = W.resume_held_out(self.args.seed)
        self.n_held = sum(W.bucket_of(r["url"]) == self.held for r in self.rows)
        with self.tracer.span("setup.inputs"):
            self.pages = self.pages_df(self.rows).localCheckpoint()
            self.aliases = spark.createDataFrame(LK.derived_aliases(self.pages).toPandas()).localCheckpoint()
        bucketed = P.with_bucket(self.pages, W.N_BUCKETS)
        self.held_pages = bucketed.where(F.col("bucket") == self.held).drop("bucket")
        self.resume = self.args.workload == "build_resume"

        if self.resume:
            # one-shot reference (also the session's first build, which
            # warms it), then the 7-bucket graph each op resumes from
            ref = self.build(os.path.join(self.run_dir, "oneshot"), resume=False)
            self.warm_reads(os.path.join(self.run_dir, "oneshot"))
            self.n_triples = ref["n_triples"]
            self.reference = {
                t: table_fingerprint(spark, os.path.join(self.run_dir, "oneshot", t))
                for t in ("triples", "entities", "nodes")
            }
            shutil.rmtree(os.path.join(self.run_dir, "oneshot"))
            self.template = os.path.join(self.run_dir, "template")
            seven = bucketed.where(F.col("bucket") != self.held).drop("bucket")
            P.build_graph(spark, seven, self.aliases, self.template, n_buckets=W.N_BUCKETS, resume=False)
        else:
            # the oracle runs in its own process while a full build warms
            # the session; a smaller warm-up build left the first timed
            # build ~25% slow
            self.oracle.start()
            warm = os.path.join(self.run_dir, "warm")
            with self.tracer.span("setup.warm_build"):
                self.build(warm, resume=False)
                self.warm_reads(warm)
                shutil.rmtree(warm)
            with self.tracer.span("setup.oracle_wait"):
                self.n_triples, digest = self.oracle.result()
            self.reference = {"triples": digest}
        self.baseline_rdds = persistent_rdd_ids(spark)

    def warm_reads(self, out: str) -> None:
        # the read path speeds up over its first reads (1.2s -> 0.6s)
        from nlp_cube_spark.plans import pipeline as P

        for _ in range(READS_PER_OP):
            P.read_canonical_triples(self.spark, out).write.format("noop").mode("overwrite").save()

    def build(self, out: str, resume: bool) -> dict:
        from nlp_cube_spark.plans import pipeline as P

        return P.build_graph(
            self.spark, self.pages, self.aliases, out, n_buckets=W.N_BUCKETS, resume=resume
        )

    def check_build(self, out: str, m: dict) -> str | None:
        """None if the op's stored graph is right, else what is wrong."""
        spark = self.spark
        if self.resume:
            if m["n_pages"] != self.n_held:
                return f"resume annotated {m['n_pages']} pages, expected {self.n_held}"
            for t, want in self.reference.items():
                got = table_fingerprint(spark, os.path.join(out, t))
                if got != want:
                    return f"{t} differs from the one-shot build: {got} != {want}"
            return None
        if m["n_pages"] != len(self.rows) or m["n_triples"] != self.n_triples:
            return f"counts {m['n_pages']}/{m['n_triples']} != {len(self.rows)}/{self.n_triples}"
        got = fingerprint_df(spark.read.parquet(os.path.join(out, "triples")), TRIPLE_COLS)
        if got != self.reference["triples"]:
            return f"stored triples differ from the oracle: {got} != {self.reference['triples']}"
        return None

    def build_op(self, sampler, traced: bool = False, fill_s: float = 0.0) -> tuple[float, list[float], str]:
        """One build, then reads of its output: at least READS_PER_OP, and
        more until the build and its reads have taken `fill_s`."""
        from nlp_cube_spark.plans import pipeline as P

        self.attempted += 1
        out = os.path.join(self.run_dir, f"op{self.attempted}")
        if self.resume:
            shutil.copytree(self.template, out)
        sampler.enabled.set()
        try:
            t0 = time.perf_counter()
            if traced:
                with self.layer_span("pipeline"):
                    m = self.build(out, self.resume)
            else:
                m = self.build(out, self.resume)
            t1 = time.perf_counter()
            reads = []
            while len(reads) < READS_PER_OP or t1 - t0 + sum(reads) < fill_s:
                t2 = time.perf_counter()
                P.read_canonical_triples(self.spark, out).write.format("noop").mode("overwrite").save()
                reads.append(time.perf_counter() - t2)
        finally:
            sampler.enabled.clear()
        problem = self.check_build(out, m)
        if problem:
            self.fail(problem)
        self.residual.append(probes.residual_storage(self.spark, self.baseline_rdds))
        return t1 - t0, reads, out

    def run_build(self, sampler) -> dict:
        # build ops are long, so the window counts timed time only: a build,
        # then reads of its output until the two reach --seconds (so one
        # build per run, unless a build fails)
        builds, reads = [], []
        while True:
            try:
                b, r, out = self.build_op(sampler, fill_s=self.args.seconds - sum(builds) - sum(reads))
                shutil.rmtree(out, ignore_errors=True)
                builds.append(b)
                reads.extend(r)
            except Exception:
                self.fail(traceback.format_exc())
            enough = sum(builds) + sum(reads) >= self.args.seconds
            if enough or self.over_deadline():
                break
        self.samples = {"build_s": builds, "read_s": reads}
        if self.trace:
            self.traced_build(sampler, statistics.median(builds))
        b50 = statistics.median(builds)
        return {
            "op_p50_ms": b50 * 1e3,
            "op_p99_ms": percentile(builds, 0.99) * 1e3,
            "read_ms": statistics.median(reads) * 1e3,
            "triples_per_s": self.n_triples / b50,
        }

    def traced_build(self, sampler, untraced_s: float) -> None:
        """One traced op, then each layer called on its own under a span
        and job group, the way build_graph calls it."""
        from nlp_cube_spark.operators import annotate as A, canonicalize as C, linking as LK
        from nlp_cube_spark.session import persistent_rdd_ids, unpersist_rdd_ids

        spark, L = self.spark, self.layer
        b, _, out = self.build_op(sampler, traced=True)
        L["trace.op_ms"], L["trace.traced_op_ms"] = untraced_s * 1e3, b * 1e3
        L["trace.overhead_frac"] = b / untraced_s - 1
        L["pipeline.files_written"], nbytes = dir_files(out)
        L["pipeline.bytes_written_mb"] = nbytes / 2**20

        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        ids0 = persistent_rdd_ids(spark)
        pages = self.held_pages if self.resume else self.pages
        with self.layer_span("annotate"):
            trip = A.fused_triples(pages).localCheckpoint()
        L["annotate.docs_in"] = self.n_held if self.resume else len(self.rows)
        L["annotate.triples_out"] = trip.count()
        with self.layer_span("link"):
            noop(LK.link_triples(trip, self.aliases))
        mentions = LK.mentions_from_triples(trip)
        L["link.mentions"] = mentions.count()
        L["link.linked_frac"] = LK.link_mentions(mentions, self.aliases).count() / max(L["link.mentions"], 1)
        with self.layer_span("canon"):
            full = spark.read.parquet(os.path.join(out, "triples")).select(
                "subj", "obj", "pattern", "subj_id", "obj_id"
            ).localCheckpoint()
            ents = C.canonical_entities(full).localCheckpoint()
        L["canon.nodes"] = ents.count()
        L["canon.edges"] = canon_edge_count(full)
        unpersist_rdd_ids(spark, persistent_rdd_ids(spark) - ids0)
        shutil.rmtree(out, ignore_errors=True)

    # ------------------------------------------------------------ api

    def setup_api(self) -> None:
        from nlp_cube_spark.operators import annotate as A

        self.sample = W.api_sample(self.args.seed, W.corpus(self.args.seed))
        pages = self.pages_df(self.sample)
        with self.layer_span("annotate"):
            ref = A.fused_triples(pages).select(*TRIPLE_COLS).toPandas()
        self.layer["annotate.docs_in"] = len(self.sample)
        self.layer["annotate.triples_out"] = len(ref)
        self.engine: dict[str, list] = {r["url"]: [] for r in self.sample}
        for url, *rest in ref.itertuples(index=False):
            self.engine[url].append((int(rest[0]), *rest[1:]))
        for v in self.engine.values():
            v.sort()
        # the API runs no Spark: end the session, as a long-lived API
        # process would not hold one
        self.stop_session()
        # fill the kernels' caches (keyed by word form, over a closed
        # vocabulary) before timing; these ops are checked like any other
        for doc in self.sample[:API_WARM_DOCS]:
            self.api_op(doc)

    def api_op(self, doc: dict) -> tuple[float, float, int]:
        from nlp_cube_spark.api import Cube

        self.attempted += 1
        text = doc["text"]
        t0 = time.perf_counter()
        cube = Cube().load(doc["lang"])
        document = cube(text)
        t1 = time.perf_counter()
        conllu = str(document)
        t2 = time.perf_counter()
        triples = cube.triples(text)
        t3 = time.perf_counter()
        got = sorted((t["sent_id"], t["subj"], t["pred"], t["obj"], t["pattern"]) for t in triples)
        if got != self.engine[doc["url"]]:
            self.fail(f"api triples differ from the engine for {doc['url']}")
        elif "".join(line.split("\t")[1] for line in conllu.splitlines() if line) != "".join(text.split()):
            self.fail(f"CoNLL-U forms do not spell the text of {doc['url']}")
        return t3 - t0, t2 - t1, len(triples)

    def run_api(self, sampler) -> dict:
        # Whole passes over the sample, so every document weighs the same.
        # A single thread's speed on a shared host swings by up to 2x for
        # seconds to minutes at a time, and how much of a run falls in slow
        # phases varies from run to run. So every figure is taken from each
        # document's fastest op in the run, which is what the code costs on
        # an unloaded core: medians and the tail over documents, and the
        # throughput of one pass at those times.
        n_docs = len(self.sample)
        best, best_ser = [math.inf] * n_docs, [math.inf] * n_docs
        doc_triples = [0] * n_docs
        lat = []
        sampler.enabled.set()
        start = time.perf_counter()
        while time.perf_counter() - start < self.args.seconds:
            for i, doc in enumerate(self.sample):
                try:
                    op, s, doc_triples[i] = self.api_op(doc)
                    lat.append(op)
                    best[i], best_ser[i] = min(best[i], op), min(best_ser[i], s)
                except Exception:
                    self.fail(traceback.format_exc())
        sampler.enabled.clear()
        self.samples = {
            "doc_s_sorted": sorted(lat)[:: max(1, len(lat) // 200)],
            "passes": [len(lat) / n_docs],
        }
        if self.trace:
            self.traced_api(statistics.median(lat))
        return {
            "op_p50_ms": statistics.median(best) * 1e3,
            "op_p99_ms": percentile(best, 0.99) * 1e3,
            "read_ms": statistics.median(best_ser) * 1e3,
            "triples_per_s": sum(doc_triples) / sum(best),
        }

    def traced_api(self, untraced_s: float) -> None:
        """One pass over the sample with every kernel call timed."""
        timers = tracing.KernelTimers()
        lat = []
        with timers.active():
            for doc in self.sample:
                with self.tracer.span("api.doc", url=doc["url"]) as rec:
                    lat.append(self.api_op(doc)[0])
                rec["kernel_s"] = timers.total_s
        L = self.layer
        for k in timers.seconds:
            L[f"kernels.{k}_s"] = timers.seconds[k]
            L[f"kernels.{k}_calls"] = timers.calls[k]
        L["kernels.tokens"] = timers.tokens
        L["api.self_s"] = sum(lat) - timers.total_s
        L["trace.op_ms"], L["trace.traced_op_ms"] = untraced_s * 1e3, statistics.median(lat) * 1e3
        L["trace.overhead_frac"] = statistics.median(lat) / untraced_s - 1

    # ------------------------------------------------------------ layers

    def event_log_layers(self, app_id: str) -> dict:
        """Fill the Spark-side layer metrics from the event log."""
        spans = [(s["name"], s["start"], s["end"]) for s in self.tracer.spans if s["name"] in SPARK_LAYERS]
        path = eventlog.find_log(os.path.join(self.run_dir, "eventlog"), app_id)
        groups = eventlog.aggregate(eventlog.read_events(path), windows=spans)
        L, wall = self.layer, self.tracer.wall
        g = eventlog.GroupStats
        an, lk, cn, pl = (groups.get(k, g()) for k in SPARK_LAYERS)
        L.update({
            "annotate.wall_s": wall("annotate"), "annotate.tasks": an.tasks,
            "annotate.task_skew": an.task_skew, "annotate.exec_cpu_s": an.exec_cpu_s,
            "annotate.py_run_s": an.py_run_s, "annotate.py_init_s": an.py_init_s,
            "annotate.arrow_to_py_mb": an.arrow_to_py_mb, "annotate.arrow_from_py_mb": an.arrow_from_py_mb,
            "link.wall_s": wall("link"), "link.jobs": lk.jobs, "link.shuffle_mb": lk.shuffle_write_mb,
            "canon.wall_s": wall("canon"), "canon.jobs": cn.jobs, "canon.exec_cpu_s": cn.exec_cpu_s,
            "canon.core_busy_frac": cn.exec_run_s / max(wall("canon") * self.cpus, 1e-9),
        })
        if wall("pipeline"):
            L.update({
                "pipeline.wall_s": wall("pipeline"), "pipeline.jobs": pl.jobs,
                "pipeline.stages": pl.stages, "pipeline.tasks": pl.tasks,
                "pipeline.exec_cpu_s": pl.exec_cpu_s,
                "pipeline.core_busy_frac": pl.exec_run_s / (wall("pipeline") * self.cpus),
                "pipeline.shuffle_write_mb": pl.shuffle_write_mb, "pipeline.spill_mb": pl.spill_mb,
                "pipeline.rest_s": wall("pipeline") - wall("annotate") - wall("link") - wall("canon"),
            })
        return {k: {f: x for f, x in vars(v).items() if f != "stage_run_ms"} for k, v in groups.items()}

    # ------------------------------------------------------------ driver

    def run(self) -> int:
        os.makedirs(self.run_dir, exist_ok=True)
        self.stamps.append(probes.host_stamp(self.cpus))
        groups = {}
        if self.args.workload == "build_full":
            # forked now, while the process has no other thread and no JVM
            self.oracle = OracleProcess(self.args.seed)
        try:
            with probes.RssSampler() as sampler:
                self.start_session()
                api = self.args.workload == "api_doc"
                with self.tracer.span("setup.workload"):
                    self.setup_api() if api else self.setup_build()
                with self.tracer.span("ops"):
                    e2e = self.run_api(sampler) if api else self.run_build(sampler)
                e2e["peak_rss_mb"] = sampler.peak_mb
        finally:
            with self.tracer.span("teardown"):
                if self.oracle is not None:
                    self.oracle.close()
                self.stop_session()
        starts, warms = zip(*self.setup_cycles)
        e2e["setup_s"] = statistics.median(s + w for s, w in self.setup_cycles[1:])
        L = self.layer
        L["session.jvm_start_s"] = starts[0]
        L["session.start_s"] = statistics.median(starts[1:])
        L["session.warm_s"] = statistics.median(warms[1:])
        if self.residual:
            L["session.cached_mb_after"] = max(r[0] for r in self.residual)
            L["session.persistent_rdds_after"] = max(r[1] for r in self.residual)
        if self.trace:
            groups = self.event_log_layers(self.app_id)
        self.stamps.append(probes.host_stamp(self.cpus))
        self.write_trace(e2e, groups)

        metrics, units = (L, self.layer_units) if self.trace else (e2e, E2E_UNITS)
        print(json.dumps({
            "context": {"workload": self.args.workload, "seed": self.args.seed, "cpus": self.cpus,
                        "host": self.stamps, "failed_frac": self.failed / max(self.attempted, 1)},
        }))
        print(json.dumps({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }), flush=True)
        return 0 if self.failed == 0 else 1

    def write_trace(self, e2e: dict, groups: dict) -> None:
        d = os.path.join(WORK, "traces")
        os.makedirs(d, exist_ok=True)
        name = f"{self.args.workload}-seed{self.args.seed}-trace{int(self.trace)}.json"
        with open(os.path.join(d, name), "w") as f:
            json.dump({"workload": self.args.workload, "seed": self.args.seed, "cpus": self.cpus,
                       "host": self.stamps, "end_to_end": e2e, "samples": self.samples,
                       "per_layer": self.layer,
                       "event_log_groups": groups, "spans": self.tracer.spans}, f, indent=1)


def canon_edge_count(full) -> int:
    """Equivalence edges canonical_entities feeds connected_components:
    distinct appos pairs plus distinct linked (mention, entity) pairs."""
    from pyspark.sql import functions as F

    appos = full.where(F.col("pattern") == "appos").select(F.lower("subj"), F.lower("obj")).distinct()
    ents = (
        full.select(F.lower("subj").alias("m"), F.col("subj_id").alias("e"))
        .unionByName(full.select(F.lower("obj").alias("m"), F.col("obj_id").alias("e")))
        .where(F.col("e").isNotNull())
        .distinct()
    )
    return appos.count() + ents.count()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nlp_cube_spark", "plans", "pipeline.py")):
        print(f"perfbench: no nlp_cube_spark package under {ROOT}", file=sys.stderr)
        return 2
    # keep every file the run (JVM, Spark, Python workers) writes inside
    # the source tree; must be set before tempfile or the JVM first run
    tmp = os.path.join(WORK, f"run-{os.getpid()}", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, f"run-{os.getpid()}", "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    bench = Bench(args)
    try:
        return bench.run()
    finally:
        shutil.rmtree(bench.run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
