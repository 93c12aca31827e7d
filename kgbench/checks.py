"""Correctness checks, evaluated with DuckDB outside the timed region."""

from __future__ import annotations

from urllib.parse import unquote

import duckdb

TRIPLE_COLS = "subj, pred, obj, conf, kind, doc_id"

# Bag-semantics SQL for each query template, the oracle for
# ``match_pattern`` / ``match_pattern_store`` results (columns in sorted
# variable-name order).
ORACLE_SQL = {
    "q_lookup": """
        SELECT a.subj AS f FROM v a JOIN v b ON a.subj = b.subj
        WHERE a.pred = 'imports' AND a.obj = $module
          AND b.pred = 'written_in' AND b.obj = 'python'""",
    "q_callers": """
        SELECT a.subj AS f, a.obj AS g, b.subj AS h
        FROM v a JOIN v b ON a.obj = b.obj
        WHERE a.pred = 'calls' AND b.pred = 'defines_function'""",
    "q_typed": """
        SELECT a.subj AS c, b.subj AS f
        FROM v a JOIN v b ON b.obj = a.subj JOIN v r ON r.subj = b.subj
        WHERE a.pred = 'rdf:type' AND a.obj = 'CLASS'
          AND b.pred = 'defines_class'
          AND r.pred = 'in_repo' AND r.obj = $repo""",
}


class Db:
    """One in-memory DuckDB connection; temp files stay in ``tmp_dir``."""

    def __init__(self, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        self.con.execute("SET threads = 2")
        # Spark escapes partition values in directory names (rdf:type is
        # stored as pred=rdf%3Atype); hive partitioning does not unescape
        self.con.create_function("unescape", lambda s: unquote(s),
                                 ["VARCHAR"], "VARCHAR")

    def close(self) -> None:
        self.con.close()

    @staticmethod
    def parquet(path: str) -> str:
        return (f"read_parquet('{path}/**/*.parquet', "
                "hive_partitioning = true, union_by_name = true)")

    def checksum(self, relation: str) -> tuple:
        """Order-independent (row count, hash sum) of a triple relation."""
        return self.con.execute(
            f"SELECT count(*), sum(hash({TRIPLE_COLS}))::VARCHAR "
            f"FROM {relation}").fetchone()

    def frame_checksum(self, frame) -> tuple:
        self.con.register("frame_v", frame)
        try:
            return self.checksum("frame_v")
        finally:
            self.con.unregister("frame_v")

    def oracle(self, relation: str, query: str, module: str,
               repo: str) -> list[tuple]:
        sql = ORACLE_SQL[query]
        params = {k: v for k, v in (("module", module), ("repo", repo))
                  if f"${k}" in sql}
        self.con.execute(f"CREATE OR REPLACE TEMP VIEW v AS "
                         f"SELECT subj, unescape(pred) AS pred, obj "
                         f"FROM {relation}")
        return sorted(self.con.execute(sql, params).fetchall())

    def lineage(self, out_root: str) -> tuple[int, int, float]:
        """(rows, rows with sha_ok = false, worst per-stage skew), skew
        being max / mean ``rows_out`` over a stage's partitions."""
        rel = self.parquet(f"{out_root}/lineage")
        rows, bad = self.con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE NOT sha_ok) "
            f"FROM {rel}").fetchone()
        skew = self.con.execute(
            f"SELECT max(mx / av) FROM (SELECT stage, max(rows_out) AS mx, "
            f"avg(rows_out) AS av FROM {rel} GROUP BY stage)").fetchone()[0]
        return rows, bad, float(skew or 0.0)

    def batch_walls(self, out_root: str, stages: tuple) -> list[float]:
        """Per-batch seconds of the given per-batch stages, as the
        pipeline's lineage table records them (``wall_ms``)."""
        names = ", ".join(f"'{s}'" for s in stages)
        rows = self.con.execute(
            f"SELECT batch_id, sum(w) FROM (SELECT DISTINCT stage, batch_id, "
            f"wall_ms AS w FROM {self.parquet(out_root + '/lineage')} "
            f"WHERE stage IN ({names})) GROUP BY batch_id ORDER BY batch_id"
        ).fetchall()
        return [w / 1000.0 for _, w in rows]

    def docs_sha_mismatches(self, relation: str, expected: dict) -> int:
        """Files whose docs row is missing or whose ``content_sha`` differs
        from Python's sha256 of the generated content."""
        got = {(r, p): s for r, p, s in self.con.execute(
            f"SELECT repo, path, content_sha FROM {relation}").fetchall()}
        bad = sum(got.get(k) != v for k, v in expected.items())
        return bad + len(set(got) - set(expected))
