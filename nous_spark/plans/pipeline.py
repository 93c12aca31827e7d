"""End-to-end KG-construction pipeline (the north rule):

    source table (repo, path, commit, lang, content)
      → [extract]      narrow triples + docs sidecar  (mapInArrow, no shuffle)
      → [link]         mention → entity per batch     (blocked join + per-doc solve)
      → [canonicalize] alias collapse, global         (driver CC ≤ cap, else hash-to-min)
      → [materialize]  triples partitionBy(pred) + salt; docs table alongside

Provenance is NORMALIZED: every triple carries a 64-bit doc_id; one docs
row per file holds (repo, path, commit, lang, content_sha). The wide
layout would duplicate ~150 B of strings onto each of ~70 triples/file —
at 10^12 files that's the difference between shuffling tens of TB and
hundreds (BASELINE.md BENCH quantifies ~4-5× on write volume).

Batching: batch_id = pmod(xxhash64(repo, path), n_batches) — deterministic,
so resume recomputes identical batches. Every stage goes through
StateStore.run_stage (checkpoint + per-write-task lineage from the parquet
footers + sha invariant), so a killed run resumes exactly and produces
identical output (tests/test_pipeline_resume.py,
tests/test_canonical_pipeline.py + a process-level kill -9 check).
``rows_in`` is lazy: a resumed stage runs no count, and extract,
canonicalize and materialize read it from the upstream stage's lineage
``rows_out``. Each invariant check is one aggregate query.

Canonicalize evaluates the alias-edge plan once: ``canonical_mapping``
collects at most ``cap + 1`` label pairs with one Arrow collect (``cap``
from the driver heap and ``spark.driver.maxResultSize``) and, at or below
the cap, computes the mapping on the driver and writes it with pyarrow to
``state/canonical_map`` (label, canonical_label); the triple rewrite
reads that file. At this size the exchange is the cost, so the plan is
chosen by input size.

Scale notes: extraction is embarrassingly parallel per input split; the
only global barriers are the CC fixpoint above the driver cap (bounded
rounds, one shuffle each) and the final write. At 10^12 files n_batches
becomes date/prefix partitions of the Iceberg table instead of a hash —
the protocol is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nous_spark.operators.canonicalize import canonicalize
from nous_spark.operators.extraction import (
    narrow_triples,
    with_content_sha,
    with_doc_id,
)
from nous_spark.operators.linking import link_entities
from nous_spark.plans.lineage import StateStore

SALT_BUCKETS = 64


def _docs_sha_check(source_sha: DataFrame):
    """Checker for the docs sidecar: every (repo, path) carries exactly the
    source's sha256(content). One aggregate query."""

    def check(out: DataFrame) -> bool:
        bad = (
            out.select("repo", "path", "content_sha")
            .join(source_sha, ["repo", "path"], "left")
            .agg(F.count_if(
                F.col("content_sha").isNull()
                | F.col("src_sha").isNull()  # docs row with no source row
                | (F.col("content_sha") != F.col("src_sha"))
            ).alias("bad"))
            .first()["bad"]
        )
        return bad == 0

    return check


def _triples_doc_check(docs: DataFrame):
    """Checker for triple stages: every doc_id must resolve to a docs row
    (the invariant carrier) — no orphan provenance. One aggregate query."""

    def check(out: DataFrame) -> bool:
        orphans = (
            out.select("doc_id")
            .join(docs.select("doc_id"), "doc_id", "left_anti")
            .agg(F.count(F.lit(1)).alias("n"))
            .first()["n"]
        )
        return orphans == 0

    return check


def run_pipeline(
    spark: SparkSession,
    source: DataFrame,
    out_root: str,
    n_batches: int = 4,
    fancy: bool = False,
    link: bool = True,
) -> DataFrame:
    """Run (or resume) the full pipeline; returns the canonical triple DF
    (narrow: subj, pred, obj, conf, kind, doc_id, salt)."""
    store = StateStore(spark, out_root)
    # Spread a source with fewer scan files than cores before the sha256
    # and the extraction. The cache below is the barrier that keeps the
    # spread, so the per-batch extraction needs no checkpointed copy of
    # its own (it would outlive the run).
    par = spark.sparkContext.defaultParallelism
    if len(source.inputFiles()) < par:
        source = source.repartition(par)
    src = with_doc_id(with_content_sha(source)).withColumn(
        "batch_id", F.pmod(F.xxhash64("repo", "path"), F.lit(n_batches)).cast("int")
    )
    src.persist()
    source_sha = src.select(
        "repo", "path", F.col("content_sha").alias("src_sha")
    ).persist()
    try:
        return _run(store, src, source_sha, n_batches, fancy, link)
    finally:
        # dependent cache first: uncaching src while source_sha (built on
        # it) is still cached makes Spark re-cache source_sha
        source_sha.unpersist()
        src.unpersist()


def _run(store: StateStore, src: DataFrame, source_sha: DataFrame,
         n_batches: int, fancy: bool, link: bool) -> DataFrame:
    # -------- stage 1+2 per batch: docs sidecar, extract, link
    for b in range(n_batches):
        batch = src.filter(F.col("batch_id") == b).drop("batch_id")
        docs_b = store.run_stage(
            "docs",
            b,
            lambda batch=batch: batch.select(
                "doc_id", "repo", "path", "commit", "lang", "content_sha"
            ),
            rows_in=batch.count,
            sha_check=_docs_sha_check(source_sha),
        )
        triples = store.run_stage(
            "extract",
            b,
            lambda batch=batch: narrow_triples(batch, fancy=fancy),
            rows_in=lambda b=b: store.rows_out("docs", b),
            sha_check=_triples_doc_check(docs_b),
        )
        if link:
            mentions = (
                triples.filter(F.col("pred") == "calls")
                .select(
                    F.col("doc_id").cast("string").alias("doc_id"),
                    F.col("obj").alias("mention"),
                )
                .distinct()
            )
            kg = triples.select("subj", "pred", "obj")
            store.run_stage(
                "link",
                b,
                # callee mentions are code identifiers → candidates come
                # from the code-entity universe only
                lambda mentions=mentions, kg=kg: link_entities(
                    mentions, kg,
                    candidate_types=["FUNCTION", "CLASS", "MODULE"],
                ),
                rows_in=mentions.count,
            )

    # -------- stage 3 global: canonicalize
    all_triples = store.read_all_batches("extract")
    all_docs = store.read_all_batches("docs").drop("batch")

    def _canon() -> DataFrame:
        canon, _ = canonicalize(
            all_triples.drop("batch"), docs=all_docs,
            mapping_path=f"{store.root}/state/canonical_map")
        return canon

    canon = store.run_stage(
        "canonicalize", 0, _canon,
        rows_in=lambda: store.rows_out("extract"),
        sha_check=_triples_doc_check(all_docs),
    )

    # -------- stage 4 global: materialize partitioned by pred with salt
    def _materialize() -> DataFrame:
        return canon.withColumn(
            "salt", F.pmod(F.xxhash64("subj"), F.lit(SALT_BUCKETS)).cast("int")
        ).repartition(F.col("pred"), F.col("salt"))

    return store.run_stage(
        "materialize", 0, _materialize,
        rows_in=lambda: store.rows_out("canonicalize", 0),
        sha_check=_triples_doc_check(all_docs),
        partition_cols=["pred"],
    )


def pipeline_metrics(spark: SparkSession, out_root: str) -> DataFrame:
    """Lineage/metrics table for a pipeline run."""
    return StateStore(spark, out_root).lineage()
