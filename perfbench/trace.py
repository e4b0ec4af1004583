"""Outside-in tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into the
layers' public functions: ``instrument`` swaps each listed function for a
wrapper in every loaded module that holds a reference to it, so the jobs'
own imports (``from x import f`` inside ``main``) pick the wrapper up and
nothing inside the package changes.

Each span gets its own Spark job group, so after an op the jobs it
triggered are read back from the status tracker and the status store
(populated with the UI off) and summed into Spark counts per span. A call
that returns an unexecuted DataFrame gets a ``call`` span (its planning
time) and a sibling ``force`` span that executes the output alone with a
``noop`` write; forced jobs are tracing artefacts and are kept out of the
whole-op ``spark.*`` totals.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Spark counts summed per span from its own job group
SPARK_FIELDS = (
    "jobs", "stages", "exec_cpu_s", "exec_run_s", "gc_s", "shuffle_bytes",
    "spill_bytes", "tasks_failed", "bytes_written", "py_worker_s",
    "arrow_bytes", "py_rows", "files_read", "file_scans", "exchanges",
)


@dataclass
class Span:
    id: int
    name: str
    kind: str  # "op" | "call" | "force"
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval its children cover."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. With ten samples or fewer no percentile qualifies
    and the maximum is returned as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= 10:
        return xs[-1], 100.0, n
    rank = n - 10  # 1-based rank with exactly ten samples above it
    return xs[rank - 1], 100.0 * rank / n, n


class Tracer:
    """Holds spans in memory; ``write`` dumps them at the end of a run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = 0
        self._seen_exec = -1
        self._forced: list = []  # (DataFrame, rows) already forced this op

    # -- span bookkeeping ---------------------------------------------------

    @contextmanager
    def span(self, name: str, kind: str):
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), name, kind, parent.id if parent else None,
                  self.op, time.perf_counter())
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(sp.group, name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def in_span(self, base: str) -> bool:
        """True inside a call span of ``base`` (any variant): recursive and
        nested calls of one function are traced once, at the outermost."""
        return any(
            s.kind == "call" and (s.name == base or s.name.startswith(base + "-"))
            for s in self.stack
        )

    def next_op(self) -> None:
        self.op += 1
        self._forced = []

    def force(self, name: str, df, extra: dict | None = None) -> int:
        """Execute ``df`` alone (noop sink) in its own span; return its row
        count. A DataFrame already forced in this op is not run again."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        for seen, rows in self._forced:
            if seen is df:
                return rows
        obs = Observation()
        with self.span(name, "force") as sp:
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite"
            ).save()
        sp.counts["rows"] = obs.get["rows"]
        sp.counts.update(extra or {})
        self._forced.append((df, sp.counts["rows"]))
        return sp.counts["rows"]

    # -- Spark read-back ----------------------------------------------------

    def collect(self) -> None:
        """Attach Spark counts to every span of the current op. Waits for
        the listener bus so the status store holds every finished stage."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        exec_by_job = self._sql_executions()
        quant = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        for sp in self.spans:
            if sp.op != self.op or "jobs" in sp.counts:
                continue
            c = dict.fromkeys(SPARK_FIELDS, 0)
            c["task_skew"] = 0.0
            jobs = sorted(tracker.getJobIdsForGroup(sp.group))
            c["jobs"] = len(jobs)
            widest = None
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # py4j: stage evicted or never ran
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["exec_cpu_s"] += st.executorCpuTime() / 1e9
                    c["exec_run_s"] += st.executorRunTime() / 1e3
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    c["shuffle_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    c["tasks_failed"] += st.numFailedTasks()
                    c["bytes_written"] += st.outputBytes()
                    key = (st.numTasks(), st.executorRunTime())
                    if widest is None or key > widest[0]:
                        widest = (key, sid, st.attemptId())
            if widest is not None:
                q = store.taskSummary(widest[1], widest[2], quant)
                if q.isDefined():
                    rt = q.get().executorRunTime()
                    c["task_skew"] = rt.apply(1) / max(rt.apply(0), 1.0)
            # an execution's counts are added once even when it ran several jobs
            execs = {exec_by_job[j]["execution"]: exec_by_job[j] for j in jobs if j in exec_by_job}
            for ex in execs.values():
                for k, v in ex.items():
                    if k != "execution":
                        c[k] += v
            sp.counts.update(c)

    def _sql_executions(self) -> dict[int, dict]:
        """job id -> plan counts of its SQL execution (new executions only)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[int, dict] = {}
        it = store.executionsList().iterator()
        newest = self._seen_exec
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid <= self._seen_exec:
                continue
            newest = max(newest, eid)
            counts = {"execution": eid, **_plan_counts(store, eid)}
            jobs = e.jobs().keySet().iterator()
            while jobs.hasNext():
                out[int(jobs.next())] = counts
        self._seen_exec = newest
        return out

    # -- output -------------------------------------------------------------

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


_PY_NODES = ("ArrowEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
             "BatchEvalPython", "FlatMapCoGroupsInPandas", "AggregateInPandas")
_FILE_FORMATS = {"parquet", "json", "csv", "text", "orc"}


def _plan_counts(store, eid: int) -> dict:
    metrics = store.executionMetrics(eid)
    graph = store.planGraph(eid)
    c = {"py_worker_s": 0.0, "arrow_bytes": 0.0, "py_rows": 0.0, "files_read": 0.0,
         "file_scans": 0, "exchanges": 0}
    nodes = graph.allNodes().iterator()
    while nodes.hasNext():
        n = nodes.next()
        name = n.name()
        words = name.split()
        if words[:1] == ["Scan"] and len(words) > 1 and words[1] in _FILE_FORMATS:
            c["file_scans"] += 1
        if name.endswith("Exchange") and not name.startswith("Reused"):
            c["exchanges"] += 1
        is_py = name.startswith(_PY_NODES)
        mit = n.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            if not metrics.contains(m.accumulatorId()):
                continue
            val = parse_metric(metrics.apply(m.accumulatorId()))
            mname = m.name()
            if mname == "number of files read":
                c["files_read"] += val
            elif is_py and mname == "time to run Python workers":
                c["py_worker_s"] += val
            elif is_py and mname in ("data sent to Python workers", "data returned from Python workers"):
                c["arrow_bytes"] += val
            elif is_py and mname == "number of output rows":
                c["py_rows"] += val
    return c


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0, "KiB": 2**10,
          "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "ns": 1e-9}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '4.2 s', '15.3 MiB', '2,000,000',
    or 'total (min, med, max ...)\\n4.2 s (...)'. Times come back in
    seconds and sizes in bytes."""
    line = next((x.strip() for x in text.splitlines() if x.strip()[:1].isdigit()), "0")
    parts = line.split(" (", 1)[0].split()
    num = float(parts[0].replace(",", ""))
    if len(parts) > 1:
        num *= _UNITS.get(parts[1], 1.0)
    return num


# ---------------------------------------------------------------------------
# instrumentation
# ---------------------------------------------------------------------------


def _variant(arg_index: int, kw: str):
    def pick(args, kwargs):
        v = kwargs.get(kw, args[arg_index] if len(args) > arg_index else None)
        return f"-{v}" if v is not None else ""

    return pick


# (module, function, variant) — the layers' public functions the jobs and
# the ann workload reach; span and metric names use the module's last part
TARGETS = (
    ("plans.validation", "run_validation", None),
    ("operators.profile", "profile_images", None),
    ("operators.domain", "domain_violations", None),
    ("operators.drift", "drift_verdicts", None),
    ("operators.uniqueness", "duplicate_row_violations", _variant(1, "key")),
    ("operators.referential", "orphan_violations", None),
    ("operators.referential", "caption_equality_violations", None),
    ("operators.pixels", "pixel_violations", None),
    ("plans.checkpoint", "write_checkpoint", None),
    ("sources.iceberg", "write_table", None),
    ("sources.sequencefile", "read_sequencefile_values", None),
    ("sources.delimited", "parse_delimited", None),
    ("functions.type_inference", "merge_schemas", None),
    ("operators.shapes", "shape_counts", None),
    ("operators.shapes", "top_shapes", None),
    ("operators.proto", "proto_hierarchy", None),
    ("operators.proto", "with_metadata_message", None),
    ("operators.proto", "proto_lines_df", None),
    ("operators.proto", "concat_proto_files", None),
    ("operators.dedup", "lsh_candidate_pairs", None),
    ("operators.dedup", "jaccard_verified_pairs", None),
    ("operators.dedup", "duplicate_components", None),
    ("operators.dedup", "dedup_signatures", None),
    ("operators.sampling", "leakage_safe_split", None),
    ("operators.packing", "pack_documents", None),
    ("operators.similarity", "kmeans_train", None),
    ("operators.similarity", "ivf_assignments", None),
    ("operators.similarity", "cosine_topk", None),
    ("operators.pq", "pq_train_codebooks", None),
    ("operators.pq", "pq_encode", None),
    ("operators.pq", "build_pq_index", None),
    ("operators.pq", "query_pq_index", None),
    ("operators.pq", "query_pq_index_batch", None),
)

PACKAGE = "schema_inference_spark"


def _force_result(tracer: Tracer, name: str, out, args) -> None:
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        extra = None
        if name == "delimited.parse_delimited" and isinstance(args[0], DataFrame):
            extra = {"rows_in": tracer.force(name + "#input", args[0])}
        tracer.force(name, out, extra)
    elif name == "validation.run_validation":
        # execute the suite's two result tables alone, then drop what that
        # cached so the job's own writes still compute them
        for df in (out.violations, out.verdicts):
            tracer.force(name, df)
        for df in (out.violations, out.profile):
            if df.is_cached:
                df.unpersist(blocking=True)
                df.persist()


def _wrap(tracer: Tracer, orig, base: str, variant):
    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if tracer.in_span(base) or not tracer.stack:
            return orig(*args, **kwargs)
        name = base + (variant(args, kwargs) if variant else "")
        with tracer.span(name, "call"):
            out = orig(*args, **kwargs)
        _force_result(tracer, name, out, args)
        return out

    return wrapper


def instrument(tracer: Tracer):
    """Wrap every TARGETS function in all loaded package and job modules;
    returns a function that restores the originals."""
    mods = {m: importlib.import_module(f"{PACKAGE}.{m}") for m, _, _ in TARGETS}
    holders = [
        m for m in list(sys.modules.values())
        if (getattr(m, "__name__", None) or "").startswith((PACKAGE, "jobs"))
    ]
    patched: list[tuple[object, str, object]] = []
    for mod_name, fn_name, variant in TARGETS:
        orig = getattr(mods[mod_name], fn_name)
        wrapper = _wrap(tracer, orig, f"{mod_name.rsplit('.', 1)[-1]}.{fn_name}", variant)
        for m in holders:
            if getattr(m, fn_name, None) is orig:
                setattr(m, fn_name, wrapper)
                patched.append((m, fn_name, orig))

    def restore() -> None:
        for m, fn_name, orig in patched:
            setattr(m, fn_name, orig)

    return restore
