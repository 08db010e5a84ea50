"""Per-layer tracing from outside the engine.

:class:`Tracer` wraps the public functions of each engine layer (on
their own module and on every ``from x import name`` copy), records one
span per call, and tags the Spark jobs a span starts with a job group
named after it.  :meth:`Tracer.harvest` reads Spark's status stores
(job, stage and SQL-operator data; they work with the UI disabled) and
attributes each new job, its stages and its SQL executions to the span
that started it.  Call it after every operation: the stores keep only
the most recent 1000 jobs and executions.
"""

from __future__ import annotations

import functools
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

#: layer -> (module, traced public functions)
LAYER_FUNCS = {
    "session": ("pfithic_spark.session", ("get_spark", "ensure_engine_confs")),
    "api": ("pfithic_spark.api", ("run_pipeline_files", "run_curation_files")),
    "hic": (
        "pfithic_spark.hic",
        (
            "run_significance",
            "fit_null_curve",
            "fit_null_curve_distributed",
            "possible_pairs_grid_census",
            "kr_biases",
        ),
    ),
    "windows": ("pfithic_spark.windows", ("bh_fdr_scalable", "bh_fdr", "scalable_cumsum")),
    "llmops": (
        "pfithic_spark.llmops",
        (
            "curation_keep_list",
            "dedup_exact",
            "ngram_jaccard_pairs",
            "connected_components",
            "pack_sequences",
        ),
    ),
    "io": (
        "pfithic_spark.io",
        (
            "read_contacts_tsv",
            "read_fragments_tsv",
            "read_biases_tsv",
            "write_tsv_gz",
            "write_parquet",
            "load_table",
        ),
    ),
}
#: the registry layer's spans are opened by the sweep itself
LAYERS = tuple(LAYER_FUNCS) + ("registry",)

#: Spark counters summed per span: name -> (StageData getter, scale)
STAGE_COUNTERS = {
    "tasks": ("numCompleteTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
    "peak_exec_memory_bytes": ("peakExecutionMemory", 1),
    "result_bytes": ("resultSize", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}
#: SQL operator metrics (by display name) -> counter
SQL_COUNTERS = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}
COUNTERS = ("jobs", "stages") + tuple(STAGE_COUNTERS) + ("python_run_s", "python_bytes")

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"(-?[\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|min|m|h)?\b")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"total (min, med, max)\\n1.5 s
    (...)"`` or a bare ``"1.5 s"``; sizes to bytes, times to seconds."""
    body = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


class Tracer:
    """Spans, job-group tagging and status-store harvesting for one
    SparkSession.  Spans live in memory until :meth:`dump`."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op = None
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self._seen_execs: set[int] = set()
        self._restore: list[tuple[object, str, object]] = []

    # --- spans ---------------------------------------------------------

    def set_spark(self, spark) -> None:
        """Tag and harvest jobs of ``spark`` from now on; with None, spans
        are recorded without job groups.  Harvest state is per session."""
        self.spark = spark
        self._seen_jobs.clear()
        self._seen_stages.clear()
        self._seen_execs.clear()

    def _set_group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span["gid"], span["name"])

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "gid": f"perfbench-{len(self.spans)}",
            "layer": layer,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self._op,
            "start": time.perf_counter(),
            "end": None,
            "counters": defaultdict(float),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if self.spark is not None:
            self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self.spark is not None:
                self._set_group(parent)

    @contextmanager
    def operation(self, op_id):
        """Mark spans opened inside as belonging to operation ``op_id``."""
        self._op = op_id
        try:
            yield
        finally:
            self._op = None

    # --- wrapping ------------------------------------------------------

    def install(self) -> None:
        """Wrap every traced function on its module and on each loaded
        ``pfithic_spark`` module holding a copy of it."""
        import importlib

        originals = {}
        for layer, (modname, names) in LAYER_FUNCS.items():
            mod = importlib.import_module(modname)
            for name in names:
                fn = getattr(mod, name)
                originals[id(fn)] = (fn, self._wrap(fn, layer, name))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(("pfithic_spark", "__spark_entry__")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._restore.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._restore):
            setattr(mod, attr, val)
        self._restore.clear()

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    # --- harvest -------------------------------------------------------

    def harvest(self) -> None:
        """Attribute jobs, stages and SQL executions finished since the
        last harvest to the spans whose job group started them."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        by_gid = {sp["gid"]: sp for sp in self.spans}
        job_span: dict[int, dict] = {}
        new_jobs = []
        for job in _seq(store.jobsList(None)):
            jid = job.jobId()
            if jid in self._seen_jobs:
                continue
            self._seen_jobs.add(jid)
            group = job.jobGroup()
            sp = by_gid.get(group.get()) if group.isDefined() else None
            if sp is not None:
                job_span[jid] = sp
                new_jobs.append((jid, job, sp))
        for jid, job, sp in sorted(new_jobs, key=lambda t: t[0]):
            sp["counters"]["jobs"] += 1
            for sid in _seq(job.stageIds()):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() != "COMPLETE":
                    continue
                sp["counters"]["stages"] += 1
                for counter, (getter, scale) in STAGE_COUNTERS.items():
                    getters = getter if isinstance(getter, tuple) else (getter,)
                    sp["counters"][counter] += scale * sum(
                        getattr(stage, g)() for g in getters
                    )
        self._harvest_sql(job_span)

    def _harvest_sql(self, job_span: dict[int, dict]) -> None:
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        for ex in _seq(sql_store.executionsList()):
            eid = ex.executionId()
            if eid in self._seen_execs:
                continue
            jobs = sorted(int(j) for j in _seq(ex.jobs().keys().toSeq()))
            owner = next((job_span[j] for j in jobs if j in job_span), None)
            if owner is None:
                if jobs and all(j in self._seen_jobs for j in jobs):
                    self._seen_execs.add(eid)  # jobs outside any span
                continue
            self._seen_execs.add(eid)
            wanted = {}
            for m in _seq(ex.metrics()):
                counter = SQL_COUNTERS.get(m.name())
                if counter:
                    wanted[m.accumulatorId()] = counter
            if not wanted:
                continue
            values = sql_store.executionMetrics(eid)
            for acc, counter in wanted.items():
                v = values.get(acc)
                if v.isDefined():
                    owner["counters"][counter] += parse_metric(v.get())

    # --- reporting -----------------------------------------------------

    def _children(self) -> dict:
        kids = defaultdict(list)
        for c in self.spans:
            if c["parent"] is not None:
                kids[c["parent"]].append(c)
        return kids

    def layer_totals(self, ops) -> dict[str, dict[str, float]]:
        """Per-layer self time, calls and Spark counters over the spans
        of the given operations.  Self time is a span's duration minus
        the time its child spans cover."""
        kids = self._children()
        tot = {layer: defaultdict(float) for layer in LAYERS}
        for sp in self.spans:
            if sp["op"] not in ops or sp["end"] is None:
                continue
            t = tot[sp["layer"]]
            t["self_s"] += (sp["end"] - sp["start"]) - sum(
                c["end"] - c["start"] for c in kids[sp["id"]] if c["end"] is not None
            )
            t["calls"] += 1
            for k, v in sp["counters"].items():
                t[k] += v
        return tot

    def inclusive_jobs(self, sp: dict, skip_layers: tuple = ()) -> float:
        """Jobs started by a span or any span below it, leaving out
        spans of ``skip_layers``."""
        kids = self._children()
        jobs, frontier = 0.0, [sp]
        while frontier:
            jobs += sum(
                s["counters"].get("jobs", 0.0) for s in frontier if s["layer"] not in skip_layers
            )
            frontier = [c for s in frontier for c in kids[s["id"]]]
        return jobs

    def dump(self) -> list[dict]:
        return [dict(sp, counters=dict(sp["counters"])) for sp in self.spans]
