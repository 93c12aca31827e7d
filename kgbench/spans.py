"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files: ``install`` wraps the
engine's public entry points (``StateStore.run_stage``,
``update_triple_store``, ``update_canonical_store``,
``match_pattern_store``) and ``span`` wraps the benchmark's own steps.
Each span sets its own Spark job group, so the tasks a span ran are read
from the status tracker when it ends; jobs of a nested span count toward
the nested span only. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import contextlib
import json
import time

from nous_spark.operators import bgp, triple_store
from nous_spark.plans.lineage import StateStore


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0  # time spent on tracing itself
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "parent": parent["id"] if parent else None,
              "name": name, "layer": layer, "attrs": attrs,
              "group": f"kgbench-{len(self.spans)}"}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_tasks(sp)

    @contextlib.contextmanager
    def overhead(self):
        """Work that only the traced run does, such as extra counts."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def _count_tasks(self, sp: dict) -> None:
        t0 = time.perf_counter()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(sp["group"])
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        sp.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)
        self.overhead_s += time.perf_counter() - t0

    # -------------------------------------------------------------- wrapping
    def install(self) -> None:
        tracer = self
        run_stage = StateStore.run_stage

        def traced_run_stage(store, stage, batch_id, compute, **kw):
            skipped = store.is_done(stage, batch_id)
            with tracer.span(f"run_stage:{stage}", stage, batch=batch_id,
                             skipped=skipped, root=store.root):
                return run_stage(store, stage, batch_id, compute, **kw)

        self._patch(StateStore, "run_stage", traced_run_stage)

        def wrap(module, fn_name, layer):
            fn = getattr(module, fn_name)

            def traced(*a, **kw):
                with tracer.span(fn_name, layer) as sp:
                    out = fn(*a, **kw)
                    if isinstance(out, dict):
                        sp["attrs"].update(out)
                    return out

            self._patch(module, fn_name, traced)

        wrap(triple_store, "update_triple_store", "triple_store")
        # update_triple_store calls it through this module's global name
        wrap(triple_store, "update_canonical_store", "canonical_store")
        wrap(bgp, "match_pattern_store", "bgp")

    def _patch(self, owner, name, fn) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, fn)

    def uninstall(self) -> None:
        for owner, name, fn in reversed(self._undo):
            setattr(owner, name, fn)
        self._undo.clear()

    # ------------------------------------------------------------- reading
    def busy(self, name: str, **match) -> float:
        return sum(s["end"] - s["start"] for s in self.find(name, **match))

    def find(self, name: str, **match) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and all(s["attrs"].get(k) == v for k, v in match.items())]

    def within(self, outer: dict) -> list[dict]:
        """Spans nested (at any depth) inside ``outer``."""
        ids = {outer["id"]}
        out = []
        for s in self.spans:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [{**{k: v for k, v in s.items() if k not in ("start", "end")},
                 "start_s": round(s["start"] - t0, 6),
                 "end_s": round(s["end"] - t0, 6)} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows}, f, indent=1, default=str)
