"""Checkpoint / lineage / resume protocol (SURVEY.md §4 item 3, §7 step 5).

The reference keeps all cross-batch state in driver variables
(DatatoPatternGraph.scala:177-204) — a crash loses everything. Here every
stage writes its output to a deterministic parquet location

    <root>/state/<stage>/batch=<batch_id>/

plus one lineage row per write task

    lineage(stage, batch_id, partition_id, rows_in, rows_out, sha_ok, wall_ms)

to ``<root>/lineage/stage=<stage>/batch=<batch_id>/``. ``partition_id``
is the task that wrote the rows (the ``part-NNNNN`` number of its files)
and ``rows_out`` the row count the parquet footers of those files
record, so lineage costs no re-scan and no Spark job: the rows are
written from the driver. A (stage, batch) is "done" iff its _SUCCESS
marker AND lineage rows exist; ``run_stage`` skips done work, making
re-runs after failure exact resumes. Writes are idempotent overwrites of
their own directory only. Paths are local-filesystem paths (markers and
footers are read with ``os``/pyarrow).
"""

from __future__ import annotations

import os
import re
import shutil
import time
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

LINEAGE_SCHEMA = pa.schema([
    ("stage", pa.string()),
    ("batch_id", pa.int32()),
    ("partition_id", pa.int32()),
    ("rows_in", pa.int64()),
    ("rows_out", pa.int64()),
    ("sha_ok", pa.bool_()),
    ("wall_ms", pa.float64()),
])

_PART = re.compile(r"part-(\d+)")


def _rows_per_task(path: str) -> dict[int, int]:
    """{write task id: rows} from the parquet footers under ``path``
    (partitioned writes put one task's files in several directories)."""
    rows: dict[int, int] = defaultdict(int)
    for d, _, files in os.walk(path):
        for f in files:
            m = _PART.match(f)
            if m and f.endswith(".parquet"):
                rows[int(m.group(1))] += pq.read_metadata(
                    os.path.join(d, f)).num_rows
    return dict(rows)


class StateStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # ---------------------------------------------------------------- paths
    def stage_path(self, stage: str, batch_id: int) -> str:
        return f"{self.root}/state/{stage}/batch={batch_id}"

    def lineage_path(self, stage: str, batch_id: int) -> str:
        return f"{self.root}/lineage/stage={stage}/batch={batch_id}"

    # ---------------------------------------------------------------- state
    def is_done(self, stage: str, batch_id: int) -> bool:
        return os.path.exists(
            os.path.join(self.stage_path(stage, batch_id), "_SUCCESS")
        ) and os.path.exists(
            os.path.join(self.lineage_path(stage, batch_id), "_SUCCESS")
        )

    def read_stage(self, stage: str, batch_id: int) -> DataFrame:
        return self.spark.read.parquet(self.stage_path(stage, batch_id))

    def read_all_batches(self, stage: str) -> DataFrame:
        """Every batch of ``stage``, with its ``batch`` partition column.
        The batch dirs are listed here and passed explicitly: a glob
        makes Spark probe the literal pattern path first and log the
        resulting ``FileNotFoundException``."""
        base = f"{self.root}/state/{stage}"
        paths = sorted(
            f"{base}/{d}" for d in (os.listdir(base) if os.path.isdir(base)
                                    else ())
            if d.startswith("batch=")
        )
        if not paths:
            raise FileNotFoundError(f"no batches of stage {stage} in {base}")
        return self.spark.read.option("basePath", base).parquet(*paths)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/lineage")

    def rows_out(self, stage: str, batch_id: int | None = None) -> int:
        """Sum of the lineage ``rows_out`` of one batch of ``stage`` (all
        batches when ``batch_id`` is None), read on the driver."""
        base = f"{self.root}/lineage/stage={stage}"
        dirs = ([self.lineage_path(stage, batch_id)] if batch_id is not None
                else [f"{base}/{d}" for d in os.listdir(base)
                      if d.startswith("batch=")])
        return sum(
            sum(pq.read_table(os.path.join(d, f), columns=["rows_out"])
                .column("rows_out").to_pylist())
            for d in dirs for f in os.listdir(d) if f.endswith(".parquet")
        )

    # ----------------------------------------------------------------- run
    def run_stage(
        self,
        stage: str,
        batch_id: int,
        compute: "callable[[], DataFrame]",
        rows_in: "int | callable[[], int] | None" = None,
        sha_check: "callable[[DataFrame], bool] | None" = None,
        partition_cols: list[str] | None = None,
    ) -> DataFrame:
        """Execute a stage with checkpoint + lineage, or skip if done.

        ``compute`` is only invoked when work is needed (resume skips it
        entirely — no recompute, no lineage rewrite). ``rows_in`` may be a
        callable: it is then evaluated only when the stage runs, before
        its clock starts, so ``wall_ms`` covers compute, write and check
        only. ``sha_check`` receives the *written-and-read-back* output
        so the invariant is verified against what is actually on disk.
        """
        if self.is_done(stage, batch_id):
            return self.read_stage(stage, batch_id)
        if callable(rows_in):
            rows_in = rows_in()

        t0 = time.perf_counter()
        df = compute()
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        path = self.stage_path(stage, batch_id)
        writer.parquet(path)
        out = self.read_stage(stage, batch_id)

        sha_ok = bool(sha_check(out)) if sha_check is not None else True
        wall_ms = (time.perf_counter() - t0) * 1000.0

        per_task = sorted((t, r) for t, r in _rows_per_task(path).items()
                          if r > 0)
        n = len(per_task)
        lineage = pa.table([
            [stage] * n,
            [batch_id] * n,
            [t for t, _ in per_task],
            [rows_in if rows_in is not None else -1] * n,
            [r for _, r in per_task],
            [sha_ok] * n,
            [wall_ms] * n,
        ], schema=LINEAGE_SCHEMA)
        lpath = self.lineage_path(stage, batch_id)
        shutil.rmtree(lpath, ignore_errors=True)
        os.makedirs(lpath)
        pq.write_table(lineage, os.path.join(lpath, "part-00000.parquet"))
        open(os.path.join(lpath, "_SUCCESS"), "w").close()
        if not sha_ok:
            # A failed invariant must NOT leave a resumable "done" stage on
            # disk. The lineage rows above keep sha_ok=false for diagnostics,
            # but both _SUCCESS markers are dropped so is_done() stays false
            # and the next run recomputes (and re-checks) instead of silently
            # serving the corrupt output.
            for marker in (
                os.path.join(self.stage_path(stage, batch_id), "_SUCCESS"),
                os.path.join(self.lineage_path(stage, batch_id), "_SUCCESS"),
            ):
                try:
                    os.remove(marker)
                except FileNotFoundError:
                    pass
            raise RuntimeError(
                f"sha256 invariant violated in stage={stage} batch={batch_id}"
            )
        return out
