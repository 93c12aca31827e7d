#!/usr/bin/env python3
"""KG-construction benchmark for nous_spark.

    python3 kgbench/run.py --workload construct --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. One invocation runs one workload
(kgbench/workloads.py) in a single process on ``local[N]`` (N = the CPUs
this process may use, or ``SPARK_GRAFT_CPUS``):

1. set-up (``setup_s``): start the Spark session and generate the seeded
   inputs as parquet (three times; the median counts). There is no
   warm-up: one costs as much as a cold run of the workload's first
   operation (20-25 s), which the per-run time budget has no room for, so
   that operation is timed cold, as in a fresh spark-submit job;
2. timed cycles of the workload, each started only while it is expected
   to end within ``--seconds``;
3. correctness checks outside the timed region, with DuckDB;
4. with ``--trace 1``, one traced cycle instead, which gives the
   per-layer metrics; the spans are written as JSON to
   ``.kgbench_work/traces/``. ``trace.overhead_s`` is the time the cycle
   spent on tracing itself: reading the status tracker and the counts
   only the traced run makes.

Every operation and every check counts as attempted; an operation that
raises or a check that fails counts as failed. The last line of stdout
is the JSON result. All files go under ``.kgbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from urllib.parse import unquote

# JVM heap. The engine's 48g default does not fit a 15 GB host next to
# four Python workers; these workloads peak at ~2 GB of JVM RSS.
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s", "construct_files_per_s": "1/s", "resume_s": "s",
    "ingest_p50_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict:
    from kgbench.workloads import QUERIES

    units = {
        "extraction.busy_s": "s", "extraction.docs_busy_s": "s",
        "extraction.files": "count", "extraction.triples": "count",
        "canonicalize.busy_s": "s", "canonicalize.alias_edges": "count",
        "canonicalize.mapping_rows": "count",
        "pipeline.materialize_s": "s", "pipeline.outside_stage_s": "s",
        "pipeline.spark_jobs": "count",
        "lineage.stage_calls": "count", "lineage.skipped_calls": "count",
        "lineage.bytes_written": "bytes", "lineage.files_written": "count",
        "lineage.partition_skew": "ratio",
        "triple_store.update_s": "s", "canonical_store.update_s": "s",
        "triple_store.patches": "count", "triple_store.files": "count",
    }
    for q in QUERIES:
        units.update({f"bgp.query_s.{q}": "s", f"bgp.rows.{q}": "count",
                      f"bgp.files_read.{q}": "count"})
    units.update({"spark.tasks": "count", "spark.failed_tasks": "count",
                  "spark.persisted_rdds_after": "count",
                  "trace.overhead_s": "s"})
    return units


def now() -> float:
    return time.perf_counter()


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; the median when there are too few samples."""
    s = sorted(values)
    k = len(s) - 10
    if k < 1:
        return 50.0, statistics.median(s)
    return 100.0 * k / len(s), s[k - 1]


def pred_files(table: str, preds) -> int:
    """Data files under the ``pred=`` partitions of ``table`` that hold
    the given predicates (Spark escapes the values in directory names)."""
    preds = set(preds)
    return sum(len(data_files(os.path.join(table, d)))
               for d in os.listdir(table)
               if d.startswith("pred=") and unquote(d[5:]) in preds)


def data_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out += [os.path.join(d, f) for f in files
                if f.startswith("part-") and not f.endswith(".crc")]
    return out


def jvm_peak_rss_mb(pid: int) -> float:
    """VmHWM of the gateway process, which is the JVM: spark-submit execs
    java in place."""
    with open(f"/proc/{pid}/status") as f:
        status = dict(line.split(":", 1) for line in f)
    if status["Name"].strip() != "java":
        raise RuntimeError(f"pid {pid} is not the JVM")
    return int(status["VmHWM"].split()[0]) / 1024.0


def canonical_reps(edges) -> dict:
    """label -> representative of its alias component: the longest label,
    ties to the lexicographically smallest (the rule of
    ``canonical_mapping``), by union-find over the (a, b) edges."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges["a"], edges["b"]):
        if a is not None and b is not None and a != b:
            parent[find(a)] = find(b)
    members: dict = {}
    for x in list(parent):
        members.setdefault(find(x), []).append(x)
    rep = {}
    for labels in members.values():
        best = min(labels, key=lambda lab: (-len(lab), lab))
        rep.update(dict.fromkeys(labels, best))
    return rep


class Bench:
    """State of one benchmark run: session, inputs, samples, checks."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool]] = []
        self.tracer = None
        self.samples = {"resume_s": [], "ingest_s": [], "query_s": []}
        self.files_per_s: list[float] = []
        self.query_log: list[dict] = []

    # ------------------------------------------------------------ helpers
    def span(self, name: str, layer: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer, **attrs)

    def op(self, fn, *a, **kw):
        """Run one timed operation; returns (seconds, result)."""
        self.attempted += 1
        t = now()
        try:
            res = fn(*a, **kw)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            raise
        return now() - t, res

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok
        self.checks.append((name, bool(ok)))
        if not ok:
            print(f"CHECK FAILED: {name}", file=sys.stderr)

    def run_queries(self, run_query, relation_for_oracle, files_read,
                    repos: list[str]) -> None:
        """One round of the seeded BGP mix; each query is timed alone and
        checked afterwards against DuckDB over ``relation_for_oracle()``."""
        from kgbench.workloads import MODULES, QUERIES, query_patterns

        results = []
        for i in range(self.wl.queries_per_round):
            name = QUERIES[i % len(QUERIES)]
            module, repo = self.rng.choice(MODULES), self.rng.choice(repos)
            pats = query_patterns(name, module, repo)
            with self.span(f"query:{name}", "bgp", query=name):
                dt, rows = self.op(run_query, pats)
            self.samples["query_s"].append(dt)
            results.append((name, module, repo, rows))
            self.query_log.append({"query": name, "s": dt, "rows": len(rows),
                                   "files_read": files_read(pats),
                                   "traced": self.tracer is not None})
        rel = relation_for_oracle()
        for name, module, repo, rows in results:
            self.check(f"{name}_matches_duckdb",
                       rows == self.db.oracle(rel, name, module, repo))

    # ------------------------------------------------------------- set-up
    def setup(self) -> None:
        from nous_spark.session import get_spark

        from kgbench.checks import Db
        from kgbench.workloads import WORKLOADS

        self.wl = WORKLOADS[self.args.workload]
        tmp = os.path.join(self.work, "tmp")
        t = now()
        self.spark = get_spark(app_name="kgbench", extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
        })
        self.sc = self.spark.sparkContext
        self.setup_parts = {"session_s": now() - t}
        self.db = Db(tmp)
        gens = []
        for i in range(3):
            shutil.rmtree(os.path.join(self.work, "inputs"), ignore_errors=True)
            t = now()
            self.make_inputs()
            gens.append(now() - t)
        self.setup_parts["inputs_s"] = statistics.median(gens)

    def make_inputs(self) -> None:
        raise NotImplementedError

    def input_stats(self) -> dict:
        raise NotImplementedError

    def final_checks(self) -> None:
        """Checks over the whole run; per-cycle checks run in ``cycle``."""

    # ------------------------------------------------------------ metrics
    def end_to_end(self, peak_rss: float) -> dict:
        s = self.samples
        tail_p, tail_v = tail(s["query_s"])
        print(f"queries: n={len(s['query_s'])}, tail is p{tail_p:.1f}")
        vals = {
            "setup_s": sum(self.setup_parts.values()),
            "construct_files_per_s": statistics.median(self.files_per_s),
            "resume_s": statistics.median(s["resume_s"]),
            "ingest_p50_s": statistics.median(s["ingest_s"]),
            "query_p50_s": statistics.median(s["query_s"]),
            "query_tail_s": tail_v,
            "peak_rss_mb": peak_rss,
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}

    def layer_common(self, m: dict, cycle: dict) -> None:
        """Per-layer metrics every workload reports the same way."""
        from kgbench.workloads import QUERIES

        tr = self.tracer
        spans = tr.within(cycle)
        m["spark.tasks"] = sum(sp["tasks"] for sp in [cycle] + spans)
        m["spark.failed_tasks"] = sum(sp["failed_tasks"]
                                      for sp in [cycle] + spans)
        m["spark.persisted_rdds_after"] = len(
            self.sc._jsc.getPersistentRDDs())
        traced = [q for q in self.query_log if q.get("traced")]
        for q in QUERIES:
            qs = [x for x in traced if x["query"] == q]
            m[f"bgp.query_s.{q}"] = statistics.median(x["s"] for x in qs)
            m[f"bgp.rows.{q}"] = statistics.median(x["rows"] for x in qs)
            m[f"bgp.files_read.{q}"] = statistics.median(
                x["files_read"] for x in qs)
        m["trace.overhead_s"] = tr.overhead_s


class Construct(Bench):
    """``construct``: run_pipeline(link=False) over the corpus, a simulated
    kill (the canonicalize and materialize stage dirs and the last batch's
    extract checkpoint deleted) and the resume, then the BGP mix over the
    materialized table. The first run_pipeline is cold (about half of its
    time is JIT and code generation); the resume and the queries run
    warm."""

    def make_inputs(self) -> None:
        from kgbench.workloads import make_corpus

        inputs = os.path.join(self.work, "inputs")
        self.corpus = make_corpus(f"{inputs}/corpus", self.wl.files,
                                  self.args.seed, "main")

    def input_stats(self) -> dict:
        return self.corpus.stats()

    def run_pipeline(self, src, out):
        from nous_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, src, out,
                            n_batches=self.wl.n_batches, link=False)

    def cycle(self, c: int) -> dict:
        out = os.path.join(self.work, f"kg{c}")
        src = self.spark.read.parquet(self.corpus.path)
        with self.span("cycle", "pipeline") as sp:
            with self.span("construct", "pipeline"):
                dt, _ = self.op(self.run_pipeline, src, out)
            self.files_per_s.append(len(self.corpus.frame) / dt)
            self.samples["ingest_s"] += self.db.batch_walls(
                out, ("docs", "extract"))
            mat = os.path.join(out, "state", "materialize")
            ref = self.db.checksum(self.db.parquet(mat))
            for d in ("canonicalize", "materialize",
                      f"extract/batch={self.wl.n_batches - 1}"):
                shutil.rmtree(os.path.join(out, "state", d))
            with self.span("resume", "pipeline"):
                dt, _ = self.op(self.run_pipeline, src, out)
            self.samples["resume_s"].append(dt)
            self.check("resume_equals_uninterrupted",
                       self.db.checksum(self.db.parquet(mat)) == ref)
            rows, bad, _ = self.db.lineage(out)
            self.check("lineage_sha_ok", rows > 0 and bad == 0)
            self.check("docs_content_sha", self.db.docs_sha_mismatches(
                self.db.parquet(f"{out}/state/docs"),
                self.corpus.expected_sha()) == 0)
            self.query_round(out)
        return {"out": out, "sp": sp}

    def query_round(self, out: str) -> None:
        """The BGP mix over the materialized table of ``out``."""
        from nous_spark.operators.bgp import match_pattern

        mat = os.path.join(out, "state", "materialize")
        view = self.spark.read.parquet(f"{mat}/batch=0")

        def run_query(pats):
            df = match_pattern(view, pats)
            return sorted(tuple(r) for r in df.select(sorted(df.columns))
                          .collect())

        def files_read(pats):
            return pred_files(f"{mat}/batch=0", [p[1] for p in pats])

        self.run_queries(run_query, lambda: self.db.parquet(mat), files_read,
                         sorted(set(self.corpus.frame["repo"])))

    def per_layer(self, cycle: dict) -> dict:
        from pyspark.sql import functions as F

        from nous_spark.operators.canonicalize import (
            alias_edges_from_code, alias_edges_from_triples)
        from nous_spark.plans.lineage import StateStore

        tr = self.tracer
        out, cycle_sp = cycle["out"], cycle["sp"]
        m = {}
        m["extraction.busy_s"] = tr.busy("run_stage:extract", root=out)
        m["extraction.docs_busy_s"] = tr.busy("run_stage:docs", root=out)
        counts = dict(self.db.con.execute(
            f"SELECT stage, sum(rows_out) FROM "
            f"{self.db.parquet(out + '/lineage')} GROUP BY stage").fetchall())
        m["extraction.files"] = counts.get("docs", 0)
        m["extraction.triples"] = counts.get("extract", 0)
        m["canonicalize.busy_s"] = tr.busy("run_stage:canonicalize", root=out)
        store = StateStore(self.spark, out)
        triples = store.read_all_batches("extract").drop("batch")
        docs = store.read_all_batches("docs").drop("batch")
        m["canonicalize.alias_edges"] = (
            alias_edges_from_triples(triples)
            .unionByName(alias_edges_from_code(triples, docs))
            .filter(F.col("a").isNotNull() & F.col("b").isNotNull()
                    & (F.col("a") != F.col("b"))).count())
        m["canonicalize.mapping_rows"] = self.db.con.execute(
            f"SELECT count(*) FROM "
            f"{self.db.parquet(out + '/state/canonical_map')}").fetchone()[0]
        m["pipeline.materialize_s"] = tr.busy("run_stage:materialize", root=out)
        construct = tr.find("construct")[-1]
        inner = tr.within(construct)
        stages = [s for s in inner if s["name"].startswith("run_stage:")]
        m["pipeline.outside_stage_s"] = (
            construct["end"] - construct["start"]
            - sum(s["end"] - s["start"] for s in stages))
        m["pipeline.spark_jobs"] = construct["jobs"] + sum(
            s["jobs"] for s in inner)
        calls = [s for s in tr.within(cycle_sp)
                 if s["name"].startswith("run_stage:")]
        m["lineage.stage_calls"] = len(calls)
        m["lineage.skipped_calls"] = sum(s["attrs"]["skipped"] for s in calls)
        written = [os.path.join(d, f) for sub in ("state", "lineage")
                   for d, _, fs in os.walk(os.path.join(out, sub)) for f in fs]
        m["lineage.bytes_written"] = sum(os.path.getsize(p) for p in written)
        m["lineage.files_written"] = len(written)
        m["lineage.partition_skew"] = self.db.lineage(out)[2]
        for k in ("triple_store.update_s", "canonical_store.update_s",
                  "triple_store.patches", "triple_store.files"):
            m[k] = 0
        return m


class Serve(Bench):
    """``serve``: one closed-loop client builds a triple store from the
    base corpus -- the same build that recovers a lost store from its
    source files (``resume_s``) -- then folds increments of new files
    (extract, alias edges, ``update_triple_store``) and runs the BGP mix
    through ``match_pattern_store`` after each write. The store's final
    view must equal an independent evaluation: every extracted triple
    rewritten through the canonical mapping of every batch's alias edges,
    computed in Python and DuckDB."""

    MAX_INCREMENTS = 8

    def make_inputs(self) -> None:
        from kgbench.workloads import make_corpus

        inputs = os.path.join(self.work, "inputs")
        self.base = make_corpus(f"{inputs}/base", self.wl.files,
                                self.args.seed, "base")
        self.incs = [make_corpus(f"{inputs}/inc{k}", self.wl.inc_files,
                                 self.args.seed * 1000 + k, f"inc{k}",
                                 depth=k + 1)
                     for k in range(1, self.MAX_INCREMENTS + 1)]
        self.store = os.path.join(self.work, "store")
        self.repos = sorted(set(self.base.frame["repo"]))
        self.updates = 0

    def input_stats(self) -> dict:
        return {"base": self.base.stats(), "increment": self.incs[0].stats()}

    def build(self):
        """Build the store from the base corpus and its alias edges."""
        from nous_spark.operators.canonicalize import alias_edges_from_code
        from nous_spark.operators.extraction import extract_triples_normalized
        from nous_spark.operators.triple_store import build_triple_store

        tr, docs = extract_triples_normalized(
            self.spark.read.parquet(self.base.path))
        tr = tr.persist()
        build_triple_store(tr, alias_edges_from_code(tr, docs), self.store)
        tr.unpersist()

    def ingest(self, uid: int):
        from nous_spark.operators import triple_store
        from nous_spark.operators.canonicalize import alias_edges_from_code
        from nous_spark.operators.extraction import extract_triples_normalized

        inc = self.incs[uid - 1]
        tr, docs = extract_triples_normalized(self.spark.read.parquet(inc.path))
        with self.span("extract", "extraction") as sp:
            tr = tr.persist()
            n = tr.count()
        if sp is not None:
            sp["attrs"].update(files=len(inc.frame), triples=n)
        edges = alias_edges_from_code(tr, docs)
        triple_store.update_triple_store(self.spark, tr, edges, self.store,
                                         update_id=uid)
        tr.unpersist()
        return docs, edges

    def query_round(self) -> None:
        from nous_spark.operators import bgp
        from nous_spark.operators.triple_store import read_triple_store

        def run_query(pats):
            df = bgp.match_pattern_store(self.spark, self.store, pats)
            return sorted(tuple(r) for r in df.select(sorted(df.columns))
                          .collect())

        def files_read(pats):
            return (pred_files(f"{self.store}/triples", [p[1] for p in pats])
                    + len(data_files(f"{self.store}/patches")))

        def oracle_relation():
            self.db.con.register(
                "view_df", read_triple_store(self.spark, self.store).toPandas())
            return "view_df"

        self.run_queries(run_query, oracle_relation, files_read, self.repos)

    def cycle(self, c: int) -> dict:
        with self.span("cycle", "serve") as sp:
            if c == 1:
                with self.span("build", "serve"):
                    dt, _ = self.op(self.build)
                self.samples["resume_s"].append(dt)
            for _ in range(self.wl.increments):
                self.updates += 1
                uid = self.updates
                with self.span("ingest", "serve"):
                    dt, (docs, edges) = self.op(self.ingest, uid)
                self.samples["ingest_s"].append(dt)
                self.files_per_s.append(len(self.incs[uid - 1].frame) / dt)
                self.check("docs_content_sha", self._docs_ok(docs, uid))
                if self.tracer is not None:
                    with self.tracer.overhead():
                        sp["attrs"]["alias_edges"] = (
                            sp["attrs"].get("alias_edges", 0) + edges.count())
                self.query_round()
        return {"sp": sp}

    def _docs_ok(self, docs, uid: int) -> bool:
        self.db.con.register("docs_df", docs.toPandas())
        try:
            return self.db.docs_sha_mismatches(
                "docs_df", self.incs[uid - 1].expected_sha()) == 0
        finally:
            self.db.con.unregister("docs_df")

    def final_checks(self) -> None:
        """The store's view equals every batch's extracted triples with
        subj/obj rewritten through the canonical mapping of the union of
        the batches' alias edges (each batch's edges derived from that
        batch alone, as its ingest derived them)."""
        import pandas as pd

        from nous_spark.operators.canonicalize import alias_edges_from_code
        from nous_spark.operators.extraction import extract_triples_normalized
        from nous_spark.operators.triple_store import read_triple_store

        triples, edges = [], []
        for corpus in [self.base] + self.incs[:self.updates]:
            tr, docs = extract_triples_normalized(
                self.spark.read.parquet(corpus.path))
            triples.append(tr.toPandas())
            edges.append(alias_edges_from_code(tr, docs).toPandas())
        want = pd.concat(triples, ignore_index=True)
        rep = canonical_reps(pd.concat(edges, ignore_index=True))
        for col in ("subj", "obj"):
            want[col] = want[col].map(rep).fillna(want[col])
        got = read_triple_store(self.spark, self.store).toPandas()
        self.check("store_equals_batch_canonicalization",
                   self.db.frame_checksum(got)
                   == self.db.frame_checksum(want))

    def per_layer(self, cycle: dict) -> dict:
        from nous_spark.operators.canonicalize import resolve_canonical_store

        tr = self.tracer
        cycle_sp = cycle["sp"]
        m = {}
        extracts = [s for s in tr.within(cycle_sp) if s["name"] == "extract"]
        m["extraction.busy_s"] = sum(s["end"] - s["start"] for s in extracts)
        m["extraction.docs_busy_s"] = 0
        m["extraction.files"] = sum(s["attrs"]["files"] for s in extracts)
        m["extraction.triples"] = sum(s["attrs"]["triples"] for s in extracts)
        m["canonicalize.busy_s"] = 0
        m["canonicalize.alias_edges"] = cycle_sp["attrs"].get("alias_edges", 0)
        m["canonicalize.mapping_rows"] = resolve_canonical_store(
            self.spark, f"{self.store}/canon").count()
        for k in ("pipeline.materialize_s", "pipeline.outside_stage_s",
                  "pipeline.spark_jobs", "lineage.stage_calls",
                  "lineage.skipped_calls", "lineage.bytes_written",
                  "lineage.files_written", "lineage.partition_skew"):
            m[k] = 0
        inner = tr.within(cycle_sp)
        m["triple_store.update_s"] = sum(
            s["end"] - s["start"] for s in inner
            if s["name"] == "update_triple_store")
        m["canonical_store.update_s"] = sum(
            s["end"] - s["start"] for s in inner
            if s["name"] == "update_canonical_store")
        m["triple_store.patches"] = sum(
            s["attrs"].get("n_patches", 0) for s in inner
            if s["name"] == "update_triple_store")
        m["triple_store.files"] = len(data_files(f"{self.store}/triples"))
        return m


def parse_args(argv):
    from kgbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(root: str, work: str) -> None:
    """Environment for the JVM and the Python workers it starts: they
    import nous_spark from the checkout and keep every file in ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "NOUS_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, spark-submit's launcher too: temp files in the work
        # dir and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(bench: Bench, trace: bool, seconds: float) -> dict:
    bench.setup()
    if trace:
        from kgbench.spans import Tracer

        bench.tracer = Tracer(bench.sc)
        bench.tracer.install()
        cycle = bench.cycle(1)
        bench.tracer.uninstall()
    else:
        t0 = now()
        c, last = 1, 0.0
        while c == 1 or now() - t0 + last <= seconds:
            t = now()
            bench.cycle(c)
            last = now() - t
            c += 1
    bench.final_checks()
    peak = jvm_peak_rss_mb(bench.sc._gateway.proc.pid)
    if not trace:
        return bench.end_to_end(peak)
    m = bench.per_layer(cycle)
    bench.layer_common(m, cycle["sp"])
    bench.tracer.dump(os.path.join(
        os.path.dirname(bench.work), "traces",
        f"{bench.args.workload}-seed{bench.args.seed}-{os.getpid()}.json"))
    return {k: {"value": m[k], "unit": u} for k, u in per_layer_units().items()}


def main(argv=None) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "nous_spark", "__init__.py")):
        print("kgbench: run from the root of a nous_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    args = parse_args(argv)
    work_root = os.path.join(root, ".kgbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
    configure_env(root, work)
    bench = {"construct": Construct, "serve": Serve}[args.workload](args, work)
    try:
        metrics = run(bench, bool(args.trace), args.seconds)
    finally:
        if getattr(bench, "spark", None) is not None:
            stop_spark(bench.spark)
        if getattr(bench, "db", None) is not None:
            bench.db.close()
        shutil.rmtree(work, ignore_errors=True)
    for name, ok in bench.checks:
        if not ok:
            print(f"check failed: {name}")
    print(f"inputs: {bench.input_stats()}")
    print(f"set-up parts (s): {bench.setup_parts}")
    print(f"failed_op_share: {bench.failed / bench.attempted}")
    print(json.dumps({
        "correct": bench.failed == 0 and all(ok for _, ok in bench.checks),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
