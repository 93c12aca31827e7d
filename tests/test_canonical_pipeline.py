"""Canonicalization inside ``run_pipeline``, pinned against independent
evaluations: the driver-side ``canonical_mapping`` against the
distributed path, the pipeline's canonical output against a Python
union-find over alias edges derived in Python, footer-based lineage
against the stage outputs, and no state left behind by a run.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nous_spark.corpus import generate_corpus
from nous_spark.operators.canonicalize import (
    LABEL_EDGE_BYTES,
    SAMEAS_PREDICATES,
    canonical_mapping,
    label_edge_cap,
)
from nous_spark.operators.graph import DRIVER_EDGE_CAP, min_rank_components
from nous_spark.plans.lineage import StateStore
from nous_spark.plans.pipeline import run_pipeline

TRIPLE_COLS = ["subj", "pred", "obj", "conf", "kind", "doc_id"]
ALIAS_PAIRS = 4


def _mapping_rows(df):
    return sorted(tuple(r) for r in
                  df.select("label", "canonical_label", "canonical_id")
                  .collect())


@pytest.mark.parametrize("edges", [
    # a chain: one component, the longest label wins
    [(f"n{i}", f"n{i + 1}") for i in range(40)] + [("n7", "node-long")],
    # length ties resolve to the lexicographically smallest label;
    # a self-loop keeps its label as a singleton
    [("omega", "alpha"), ("gamma", "delta"), ("delta", "alpha"),
     ("bb", "cc"), ("cc", "dd"), ("x", "x")],
    # non-ASCII: code-point (UTF-8 byte) order and character lengths
    [("é", "e"), ("ß", "sz"), ("日本", "ab"), ("Ωa", "zb"), ("zb", "ÿa"),
     ("ab", "日本語")],
])
def test_canonical_mapping_driver_matches_distributed(spark, edges, tmp_path):
    df = spark.createDataFrame(edges, "a string, b string")
    driver = _mapping_rows(canonical_mapping(df))
    assert driver == _mapping_rows(canonical_mapping(df, driver_edge_cap=0))
    # more edges than the cap: the probe collect falls through to the
    # distributed path
    assert len(edges) > 3
    assert driver == _mapping_rows(canonical_mapping(df, driver_edge_cap=3))
    assert len(driver) == len({x for e in edges for x in e})
    # with a path, both paths write (label, canonical_label) there and
    # read it back
    for cap, d in ((None, "driver"), (3, "distributed")):
        path = str(tmp_path / d)
        assert driver == _mapping_rows(
            canonical_mapping(df, path=path, driver_edge_cap=cap))
        on_disk = spark.read.parquet(path)
        assert on_disk.columns == ["label", "canonical_label"]
        assert on_disk.count() == len(driver)


def test_canonical_mapping_empty(spark, tmp_path):
    df = spark.createDataFrame([], "a string, b string")
    assert canonical_mapping(df).collect() == []
    assert canonical_mapping(df, path=str(tmp_path / "m")).collect() == []


def test_min_rank_components_matches_union_find():
    """The shared driver kernel against a Python union-find, on random
    graphs and on a long path in random rank order (the shape where
    relabelling endpoints needs one round per hop)."""
    rng = np.random.default_rng(3)
    cases = [(int(n), rng.integers(0, n, m), rng.integers(0, n, m))
             for n, m in ((1, 0), (50, 20), (300, 250), (2000, 3000))]
    perm = rng.permutation(20_000)
    cases.append((20_000, perm[:-1], perm[1:]))
    for n, ua, va in cases:
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in zip(ua.tolist(), va.tolist()):
            ru, rv = find(u), find(v)
            parent[max(ru, rv)] = min(ru, rv)
        want = [find(x) for x in range(n)]
        assert min_rank_components(ua, va, n).tolist() == want


def test_label_edge_cap():
    gib = 1 << 30
    # half of the smaller budget at LABEL_EDGE_BYTES per edge
    assert label_edge_cap(4 * gib, gib) == gib // 2 // LABEL_EDGE_BYTES
    assert label_edge_cap(gib, 4 * gib) == gib // 2 // LABEL_EDGE_BYTES
    # maxResultSize 0 is unlimited: the heap alone bounds the collect
    assert label_edge_cap(2 * gib, 0) == gib // LABEL_EDGE_BYTES
    # never above the long-id cap of the graph operators
    assert label_edge_cap(1 << 50, 0) == DRIVER_EDGE_CAP


# ---------------------------------------------------------------------------
# run_pipeline over a corpus with real alias pairs
# ---------------------------------------------------------------------------


def _alias_corpus(n_files: int, seed: int) -> pd.DataFrame:
    """Generated files plus, per pair, a file defining ``helper_<j>`` and
    one calling it, so the code rule yields alias edges on every seed."""
    frame = generate_corpus(n_files, seed)
    repos = sorted(set(frame["repo"]))
    rows = []
    for j in range(ALIAS_PAIRS):
        repo = repos[j % len(repos)]
        rows.append((repo, f"lib/helper_{j}.py", f"c{j}", "python",
                     f"def helper_{j}(x):\n    return x\n"))
        rows.append((repo, f"app/use_helper_{j}.py", f"u{j}", "python",
                     f"def run_{j}(x):\n    return helper_{j}(x)\n"))
    extra = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                        "content"])
    return pd.concat([frame, extra[frame.columns]], ignore_index=True)


def _python_canonical(triples: pd.DataFrame, docs: pd.DataFrame) -> dict:
    """label -> representative, from alias edges derived in Python (same-as
    predicates; a callee short name resolved by exactly one same-repo
    def) and a union-find; representative = longest label, ties to the
    smallest."""
    repo = dict(zip(docs["doc_id"], docs["repo"]))
    edges, defs, calls = [], {}, set()
    for s, p, o, d in zip(triples["subj"], triples["pred"], triples["obj"],
                          triples["doc_id"]):
        if p.lower() in SAMEAS_PREDICATES:
            edges.append((s, o))
        elif p in ("defines_function", "defines_class"):
            defs.setdefault((repo[d], o.split("::")[-1]), []).append(o)
        elif p == "calls":
            calls.add((repo[d], o))
    for r, callee in calls:
        fqs = defs.get((r, callee), [])
        if len(fqs) == 1:
            edges.append((callee, fqs[0]))
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
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


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture(scope="module")
def alias_run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("alias") / "kg")
    src = spark.createDataFrame(_alias_corpus(40, 5)).repartition(4)
    # driver-side scratch dirs (tempfile.mkdtemp) of this run land in a
    # private dir, so other processes' temp files cannot interfere
    scratch = str(tmp_path_factory.mktemp("scratch"))
    rdds = _persisted(spark)
    saved, tempfile.tempdir = tempfile.tempdir, scratch
    try:
        out = run_pipeline(spark, src, root, n_batches=2, link=False)
    finally:
        tempfile.tempdir = saved
    return {"root": root, "src": src, "out": out,
            "before": rdds, "after": _persisted(spark),
            "scratch": glob.glob(os.path.join(scratch, "nous_cc_scratch_*"))}


def test_pipeline_matches_python_canonicalization(spark, alias_run):
    root = alias_run["root"]
    triples = spark.read.parquet(f"{root}/state/extract").toPandas()
    docs = spark.read.parquet(f"{root}/state/docs").toPandas()
    rep = _python_canonical(triples, docs)
    moved = {k for k, v in rep.items() if k != v}
    assert len(moved) >= ALIAS_PAIRS  # the corpus really has aliases
    for col in ("subj", "obj"):
        triples[col] = triples[col].map(rep).fillna(triples[col])
    want = Counter(map(tuple, triples[TRIPLE_COLS].itertuples(index=False)))
    got = Counter(tuple(r) for r in
                  alias_run["out"].select(TRIPLE_COLS).collect())
    assert got == want
    mapping = spark.read.parquet(f"{root}/state/canonical_map").collect()
    assert {r.label: r.canonical_label for r in mapping} == rep


def test_lineage_rows_out_matches_stage_rows(spark, alias_run):
    store = StateStore(spark, alias_run["root"])
    lin = store.lineage().toPandas()
    for (stage, b), g in lin.groupby(["stage", "batch_id"]):
        assert g["partition_id"].is_unique
        assert (g["rows_out"] > 0).all() and g["sha_ok"].all()
        n = store.read_stage(stage, b).count()
        assert g["rows_out"].sum() == n == store.rows_out(stage, b)
    assert set(lin["stage"]) == {"docs", "extract", "canonicalize",
                                 "materialize"}
    canon_in = lin.loc[lin["stage"] == "canonicalize", "rows_in"]
    assert (canon_in == store.rows_out("extract")).all()


def test_pipeline_leaves_no_state(alias_run):
    assert alias_run["after"] <= alias_run["before"], \
        "run_pipeline left persisted RDDs"
    assert alias_run["scratch"] == [], "run_pipeline left CC scratch dirs"


def test_kill_and_resume_exact_with_aliases(spark, alias_run, tmp_path):
    """Copy the finished run, delete what a kill during the second
    extract batch loses, resume: identical output, salt included."""
    cols = TRIPLE_COLS + ["salt"]
    want = sorted(tuple(r) for r in alias_run["out"].select(cols).collect())
    root = str(tmp_path / "kg")
    shutil.copytree(alias_run["root"], root)
    for d in ("canonicalize", "canonical_map", "materialize",
              "extract/batch=1"):
        shutil.rmtree(os.path.join(root, "state", d))
    resumed = run_pipeline(spark, alias_run["src"], root, n_batches=2,
                           link=False)
    assert sorted(tuple(r) for r in resumed.select(cols).collect()) == want
    lin = StateStore(spark, root).lineage()
    assert lin.filter(~F.col("sha_ok")).count() == 0
