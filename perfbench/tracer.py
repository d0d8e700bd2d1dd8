"""In-memory spans around the engine's public functions, plus readers
for Spark's own status stores.

Wrapping happens from the benchmark's side only: a module attribute
is replaced by a timing wrapper, and so is every name other package
modules bound to the same function with ``from ... import`` (for
example ``api.table`` and ``queries.table`` for ``catalog.table``).
Each root span sets a Spark job group named after its id, so jobs,
stages and SQL executions can be attributed to the request, batch or
query that started them.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "real_time_data_analytics_cassandra_spark"

# (module, attribute, span name); the span name's first dotted part
# is the layer.  The stream's decode and dedup are built once, before
# any window, and run inside Spark's micro-batches: they are measured
# by the streaming progress and the batches' jobs, not by spans.
TARGETS = [
    ("catalog", "table", "catalog.table"),
    ("session", "ensure_query_confs", "session.ensure_query_confs"),
    ("sources.amqp_dump", "register", "sources.amqp_dump.register"),
    ("sinks.merge", "merge_upsert", "sinks.merge_upsert"),
    ("sinks.merge", "merge_add", "sinks.merge_add"),
    ("sinks.merge", "merge_topn", "sinks.merge_topn"),
    ("sinks.merge", "merge_topk_per_group", "sinks.merge_topk_per_group"),
    ("operators.latest", "latest_per_key", "operators.latest.latest_per_key"),
    ("operators.topk", "global_top_n", "operators.topk.global_top_n"),
    ("operators.topk", "top_k_per_group", "operators.topk.top_k_per_group"),
    ("operators.counts", "multi_granularity_counts", "operators.counts.multi_granularity_counts"),
    ("operators.enrich", "broadcast_lookup", "operators.enrich.broadcast_lookup"),
    ("operators.dedup", "normalized_fingerprints", "operators.dedup.normalized_fingerprints"),
    ("operators.similarity", "brute_force_topk", "operators.similarity.brute_force_topk"),
    ("operators.text", "lang_scores", "operators.text.lang_scores"),
    ("operators.bpe", "apply_bpe_merges", "operators.bpe.apply_bpe_merges"),
    ("operators.graph", "k_core", "operators.graph.k_core"),
    ("operators.multimodal", "decode_media_meta", "operators.multimodal.decode_media_meta"),
    ("operators.sketches", "kmv_hash", "operators.sketches.kmv_hash"),
    ("operators.sampling", "hash_bucket", "operators.sampling.hash_bucket"),
    ("operators.ranks", "global_cumsum", "operators.ranks.global_cumsum"),
    ("operators.urls", "canonicalize_urls", "operators.urls.canonicalize_urls"),
]
LAYERS = (
    "root", "api", "catalog", "session", "queries",
    "operators", "sources", "streaming", "sinks",
)
# AnalyticsApi methods are wrapped on the class
API_METHODS = (
    "latest_info", "global_recent", "geo_distribution",
    "new_count", "recent_by_category", "status",
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.sc = None
        # span names whose first argument (a DataFrame) is kept, so
        # its Catalyst phases can be read after the run
        self.capture: set[str] = set()
        self.frames: list[tuple[str, object]] = []
        # perf_counter + offset = epoch seconds (Spark reports epoch ms)
        self.epoch_offset = time.time() - time.perf_counter()

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, root: str | None = None):
        """A span; with ``root`` it starts a new tree with that id and
        sets the Spark job group for the thread."""
        if not self.enabled:
            yield
            return
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1][0] if st and root is None else None
        root_id = root if root is not None else (st[-1][1] if st else None)
        if root is not None and self.sc is not None:
            self.sc.setJobGroup(root, name, False)
        st.append((sid, root_id))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "parent": parent, "root": root_id, "name": name,
                    "start": t0, "end": t1, "thread": threading.get_ident(),
                })
            if root is not None and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled or not self._stack():
                return fn(*args, **kwargs)
            if name in self.capture and args:
                with self._lock:
                    self.frames.append((self._stack()[-1][1], args[0]))
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced

    # ---------------------------------------------------------- install
    def install(self, extra=()) -> None:
        """Wrap every target (plus ``extra`` ones) and every
        from-import alias of it."""
        targets = [
            (importlib.import_module(f"{PKG}.{mod_name}"), attr, span_name)
            for mod_name, attr, span_name in [*TARGETS, *extra]
        ]
        pkg_mods = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PKG or n.startswith(PKG + "."))
        ]
        for mod, attr, span_name in targets:
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name)
            for m in pkg_mods:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._undo.append((m, k, orig))
                        setattr(m, k, wrapped)
        api = importlib.import_module(f"{PKG}.api")
        for meth in API_METHODS:
            orig = api.AnalyticsApi.__dict__[meth]
            self._undo.append((api.AnalyticsApi, meth, orig))
            setattr(api.AnalyticsApi, meth, self._wrap(orig, f"api.AnalyticsApi.{meth}"))
        self.enabled = True

    def uninstall(self) -> None:
        self.enabled = False
        for obj, k, orig in reversed(self._undo):
            setattr(obj, k, orig)
        self._undo.clear()

    # ---------------------------------------------------------- analysis
    def self_times(self) -> dict[int, float]:
        """Span id -> seconds not covered by its children."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def roots(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None and s["name"].startswith(prefix)]

    def layer_summary(self, n_ops: int) -> dict[str, float]:
        """Self time per layer and call counts per root operation."""
        selfs = self.self_times()
        out = {f"selftime.{layer}_ms_per_op": 0.0 for layer in LAYERS}
        calls = defaultdict(int)
        busy = defaultdict(float)
        for s in self.spans:
            layer = s["name"].split(".")[0] if s["parent"] is not None else "root"
            if layer in LAYERS:
                out[f"selftime.{layer}_ms_per_op"] += selfs[s["id"]] * 1e3 / max(n_ops, 1)
            calls[s["name"]] += 1
            busy[s["name"]] += s["end"] - s["start"]
        for name in ("catalog.table", "session.ensure_query_confs"):
            out[f"{name}.calls_per_op"] = calls[name] / max(n_ops, 1)
        out["session.ensure_query_confs.ms_per_op"] = (
            busy["session.ensure_query_confs"] * 1e3 / max(n_ops, 1)
        )
        return out

    def write_jsonl(self, path: str, meta: dict) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            fh.write(json.dumps({"meta": meta}) + "\n")
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")


# ------------------------------------------------------------ Spark stores

_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}


def parse_sql_metric(text: str) -> float:
    """'total (min, med, max ...)\\n9.2 s (...)' or '7.8 KiB' -> the
    total in seconds or bytes."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1)


_PYTHON_WORKER_TIME = re.compile(r"time to run Python workers(?: total [^<]*<br>|: )([^<]*)")


def python_worker_s_of_dot(dot: str) -> float:
    """Seconds of 'time to run Python workers' summed over the nodes of
    a plan graph rendered by ``SparkPlanGraph.makeDotFile``."""
    return sum(parse_sql_metric(v) for v in _PYTHON_WORKER_TIME.findall(dot))


def spark_layers(stats: "SparkStats", groups, n_ops: int) -> dict:
    """Executor totals for the jobs of ``groups``, per root operation."""
    jobs = [j for g in groups for j in stats.jobs_for(g)]
    tot = stats.stage_totals(jobs)
    n = max(n_ops, 1)
    return {
        "spark.jobs_per_op": len(jobs) / n,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "executor.run_ms_per_op": tot["run_ms"] / n,
        "executor.cpu_ms_per_op": tot["cpu_ms"] / n,
        "executor.gc_ms_per_op": tot["gc_ms"] / n,
        "scan.bytes_per_op": tot["input_bytes"] / n,
        "shuffle.bytes_per_op": tot["shuffle_bytes"] / n,
        "spill.bytes_per_op": tot["spill_bytes"] / n,
        "python.worker_ms_per_op": stats.python_worker_s(jobs) * 1e3 / n,
    }


class SparkStats:
    """Reads jobs, stages and SQL metrics for job groups, after the
    run, from the status stores (no UI or network needed)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def jobs_for(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids) -> dict[str, float]:
        jvm = self.jvm
        stages = {}
        for st in self.conv.asJava(self.store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )):
            stages[(st.stageId(), st.attemptId())] = st
        wanted = set()
        for j in job_ids:
            wanted.update(self.conv.asJava(self.store.job(j).stageIds()))
        tot = defaultdict(float)
        for (sid, _), st in stages.items():
            if sid not in wanted:
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["run_ms"] += st.executorRunTime()
            tot["cpu_ms"] += st.executorCpuTime() / 1e6
            tot["gc_ms"] += st.jvmGcTime()
            tot["input_bytes"] += st.inputBytes()
            tot["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["output_bytes"] += st.outputBytes()
        return tot

    def python_worker_s(self, job_ids) -> float:
        """Sum of the SQL metric 'time to run Python workers' over the
        SQL executions whose jobs are in ``job_ids``."""
        wanted = set(job_ids)
        total = 0.0
        for e in self.conv.asJava(self.sql.executionsList()):
            jobs = e.jobs().keys().mkString(",")
            if not wanted.intersection(int(k) for k in jobs.split(",") if k):
                continue
            # the plan graph renders every node's metric values in one
            # call, where reading them node by node takes hundreds
            eid = e.executionId()
            total += python_worker_s_of_dot(
                self.sql.planGraph(eid).makeDotFile(self.sql.executionMetrics(eid))
            )
        return total

    def job_spans(self, job_ids) -> list[tuple[float, float]]:
        """(submission, completion) wall times in seconds since epoch."""
        out = []
        for j in job_ids:
            jd = self.store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return out

    def leaks(self, scratch_tmp: str) -> dict[str, float]:
        import os

        jvm = self.jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        jvm.java.lang.System.gc()
        mem_used = 0
        for ex in self.conv.asJava(self.store.executorList(True)):
            mem_used += ex.memoryUsed()
        return {
            "leak.persisted_rdds": float(self.sc._jsc.getPersistentRDDs().size()),
            "leak.storage_mem_mb": mem_used / 2**20,
            "leak.scratch_dirs": float(len(os.listdir(scratch_tmp))),
            "jvm.heap_used_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
        }


def catalyst_ms(stats: "SparkStats", frames) -> dict[str, float]:
    """Summed phase times of the held DataFrames' QueryExecutions
    (optimization and planning are forced here if still lazy)."""
    out = defaultdict(float)
    for df in frames:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for k in stats.conv.asJava(phases.keys()):
            out[k] += phases.get(k).get().durationMs()
    return out


def covered_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, last = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, last)
        if b > a:
            total += b - a
            last = b
    return total
