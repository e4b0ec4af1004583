#!/usr/bin/env python3
"""The repository's benchmark: workloads over the production entry points,
each op checked against its generator's oracle.

    python3 perfbench/run.py --workload jobs --seed 1 --seconds 1 --trace 0

A workload is one or more *lanes*; a lane is one production entry point:

  validate      jobs/validate_job.main over the datagen.images corpus
  schema_infer  jobs/schema_infer_job.main --format sequencefile over kv rows
  curate        jobs/curate_job.main over documents with planted duplicates
  ann           operators.pq.build_pq_index, then query_pq_index and one
                query_pq_index_batch call against the new index

Workloads in ``BENCHMARK.json``: ``jobs`` (validate, curate, schema_infer:
the three production jobs back to back) and ``ann``; each lane also runs
alone under its own name.

One client, one driver process, ``local[nproc]``. After set-up (session
start and input load) a run makes *passes*: every op of every lane once, in
order, each started only when the previous one was checked. Passes repeat
until ``--seconds`` have passed, at least one; a pass takes longer than a
second, so ``--seconds 1`` measures exactly the first pass, whose jobs run
as production runs them: once, in a JVM that has just started.
``--trace 0`` prints the end-to-end metrics (the median over passes);
``--trace 1`` makes one traced pass and prints its per-layer metrics (spans
around the layers' public functions, with Spark task metrics per span) plus
the tracing overhead.
The run happens in a child process: this one returns only after every
process the run started (the JVMs, PySpark's Python workers) has ended.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORK = os.path.join(ROOT, ".perfbench_work")
OP_TIMEOUT_S = 120.0
# the package default (16g) exceeds small hosts; 1g holds every workload here
DRIVER_MEMORY = "1g"

END_TO_END = (
    ("setup_s", "s"),
    ("items_per_s", "items/s"),
    ("cpu_s_per_kitem", "s"),
    ("peak_rss_mb", "MB"),
    ("recall", "ratio"),
    ("ops_ok_ratio", "ratio"),
)

PER_LAYER = (
    ("session.get_spark.self_s", "s"),
    ("validate_job.main.op_s", "s"),
    ("schema_infer_job.main.op_s", "s"),
    ("curate_job.main.op_s", "s"),
    ("pq.build_pq_index.op_s", "s"),
    ("pq.query_pq_index.p50_ms", "ms"),
    ("pq.query_pq_index.tail_ms", "ms"),
    ("validation.run_validation.plan_s", "s"),
    ("validation.run_validation.jobs", "count"),
    ("validation.run_validation.stages", "count"),
    ("validation.run_validation.file_scans", "count"),
    ("validation.run_validation.exchanges", "count"),
    ("profile.profile_images.self_s", "s"),
    ("profile.profile_images.exec_cpu_s", "s"),
    ("domain.domain_violations.self_s", "s"),
    ("domain.domain_violations.exec_cpu_s", "s"),
    ("drift.drift_verdicts.self_s", "s"),
    ("uniqueness.duplicate_row_violations-image_id.self_s", "s"),
    ("uniqueness.duplicate_row_violations-image_id.exec_cpu_s", "s"),
    ("uniqueness.duplicate_row_violations-image_id.shuffle_bytes", "bytes"),
    ("uniqueness.duplicate_row_violations-phash.self_s", "s"),
    ("uniqueness.duplicate_row_violations-phash.exec_cpu_s", "s"),
    ("uniqueness.duplicate_row_violations-phash.shuffle_bytes", "bytes"),
    ("uniqueness.duplicate_row_violations-phash.task_skew", "ratio"),
    ("referential.orphan_violations.self_s", "s"),
    ("referential.orphan_violations.exec_cpu_s", "s"),
    ("referential.orphan_violations.shuffle_bytes", "bytes"),
    ("referential.caption_equality_violations.self_s", "s"),
    ("referential.caption_equality_violations.exec_cpu_s", "s"),
    ("referential.caption_equality_violations.shuffle_bytes", "bytes"),
    ("pixels.pixel_violations.self_s", "s"),
    ("pixels.pixel_violations.py_worker_s", "s"),
    ("pixels.pixel_violations.arrow_bytes", "bytes"),
    ("checkpoint.write_checkpoint.self_s", "s"),
    ("iceberg.write_table.self_s", "s"),
    ("iceberg.write_table.bytes_written", "bytes"),
    ("sequencefile.read_sequencefile_values.self_s", "s"),
    ("sequencefile.read_sequencefile_values.exec_cpu_s", "s"),
    ("delimited.parse_delimited.self_s", "s"),
    ("delimited.parse_delimited.exec_cpu_s", "s"),
    ("delimited.parse_delimited.rows_dropped", "count"),
    ("json_shape.kv_shape_udf.py_worker_s", "s"),
    ("json_shape.kv_shape_udf.udf_rows_per_input_row", "ratio"),
    ("type_inference.merge_schemas.self_s", "s"),
    ("shapes.shape_counts.self_s", "s"),
    ("shapes.shape_counts.shuffle_bytes", "bytes"),
    ("shapes.shape_counts.task_skew", "ratio"),
    ("shapes.top_shapes.self_s", "s"),
    ("proto.proto_hierarchy.self_s", "s"),
    ("proto.with_metadata_message.self_s", "s"),
    ("proto.proto_lines_df.self_s", "s"),
    ("proto.concat_proto_files.self_s", "s"),
    ("dedup.lsh_candidate_pairs.self_s", "s"),
    ("dedup.lsh_candidate_pairs.shuffle_bytes", "bytes"),
    ("dedup.lsh_candidate_pairs.task_skew", "ratio"),
    ("dedup.lsh_candidate_pairs.candidate_pairs", "count"),
    ("dedup.jaccard_verified_pairs.self_s", "s"),
    ("dedup.jaccard_verified_pairs.exec_cpu_s", "s"),
    ("dedup.jaccard_verified_pairs.verified_per_candidate", "ratio"),
    ("dedup.duplicate_components.self_s", "s"),
    ("dedup.duplicate_components.jobs", "count"),
    ("dedup.dedup_signatures.self_s", "s"),
    ("sampling.leakage_safe_split.self_s", "s"),
    ("packing.pack_documents.self_s", "s"),
    ("packing.pack_documents.py_worker_s", "s"),
    ("similarity.kmeans_train.self_s", "s"),
    ("similarity.kmeans_train.jobs", "count"),
    ("similarity.ivf_assignments.self_s", "s"),
    ("similarity.ivf_assignments.py_worker_s", "s"),
    ("pq.pq_train_codebooks.self_s", "s"),
    ("pq.pq_train_codebooks.py_worker_s", "s"),
    ("pq.pq_encode.self_s", "s"),
    ("pq.pq_encode.py_worker_s", "s"),
    ("pq.query_pq_index.self_s", "s"),
    ("pq.query_pq_index.jobs", "count"),
    ("pq.query_pq_index.files_read", "count"),
    ("pq.query_pq_index.rerank_per_result", "ratio"),
    ("pq.query_pq_index_batch.self_s_per_query", "s"),
    ("similarity.cosine_topk.self_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.exec_cpu_s", "s"),
    ("spark.py_worker_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.tasks_failed", "count"),
    ("trace.traced_items_per_s", "items/s"),
    ("trace.forced_s", "s"),
    ("trace.overhead_ratio", "ratio"),
)

# a lane's op time in the traced pass, less the tracer's forced executions
LANE_OP_S = {
    "validate_job.main.op_s": "validate_job",
    "schema_infer_job.main.op_s": "schema_infer_job",
    "curate_job.main.op_s": "curate_job",
    "pq.build_pq_index.op_s": "build_pq_index",
}


def _emit(line: str) -> None:
    print(line, flush=True)


# ---------------------------------------------------------------------------
# lanes
# ---------------------------------------------------------------------------


class Lane:
    """One production entry point: ``prepare`` (generation, untimed),
    ``load`` (inside set-up), ``ops`` (the lane's checked ops for one pass)
    and ``final_checks`` (once per run, after the passes)."""

    name = ""
    size = 0

    def __init__(self, seed: int):
        self.seed = seed
        self.oracle: dict = {}
        self.items = self.size

    def prepare(self) -> None:
        raise NotImplementedError

    def load(self, spark) -> None:
        pass

    def ops(self, spark) -> list:
        """[(kind, fn)]: ``fn(out)`` runs one op into the fresh dir ``out``
        and returns (hits, total), its share of the oracle reproduced."""
        raise NotImplementedError

    def final_checks(self, spark) -> list:
        return []


class Validate(Lane):
    name, size = "validate", 2000

    def prepare(self):
        from perfbench.gen import drift_snapshot, image_corpus

        _, self.oracle = image_corpus(CACHE, self.size, self.seed)
        self.items = self.oracle["n_images"]
        self.snapshot = drift_snapshot(CACHE, self.size, self.oracle["snapshot_images"])

    def ops(self, spark):
        from jobs.validate_job import main
        from perfbench.checks import check_validate

        def op(out):
            rc = main([
                "--images", self.oracle["images"], "--captions", self.oracle["captions"],
                "--output", out, "--snapshot", self.snapshot, "--checkpoint", f"{out}/ckpt",
                "--run-id", "bench",
            ])
            return check_validate(out, rc, self.oracle)

        return [("validate_job", op)]


class SchemaInfer(Lane):
    name, size = "schema_infer", 20000

    def prepare(self):
        from perfbench.gen import kv_rows

        _, self.oracle = kv_rows(CACHE, self.size, self.seed)

    def ops(self, spark):
        from jobs.schema_infer_job import main
        from perfbench.checks import check_schema_infer

        def op(out):
            rc = main(["--input", self.oracle["input"], "--format", "sequencefile", "--output", out])
            return check_schema_infer(out, rc, self.oracle)

        return [("schema_infer_job", op)]


class Curate(Lane):
    name, size = "curate", 1500

    def prepare(self):
        import pyarrow.dataset as ds

        from perfbench.gen import documents

        _, self.oracle = documents(CACHE, self.size, self.seed)
        t = ds.dataset(self.oracle["input"], format="parquet").to_table()
        self.texts = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))

    def ops(self, spark):
        from jobs.curate_job import main
        from perfbench.checks import check_curate

        def op(out):
            rc = main(["--input", self.oracle["input"], "--output", out])
            return check_curate(out, rc, self.oracle, self.texts)

        return [("curate_job", op)]


class Ann(Lane):
    """Write side: ``build_pq_index`` (items are vectors indexed). Read
    side: ``QUERIES`` ``query_pq_index`` calls at the configured probe, then
    one ``query_pq_index_batch`` call over ``BATCH`` queries, the first
    ``QUERIES`` of which must get the same answers. The lane's recall is
    recall@10 against brute force over all ``BATCH`` queries."""

    name, size = "ann", 4000
    QUERIES, BATCH, N_PROBE, K_IVF = 2, 16, 2, 8

    def prepare(self):
        import numpy as np
        import pyarrow.dataset as ds

        from perfbench.gen import brute_topk, vectors

        _, self.oracle = vectors(CACHE, self.size, self.seed)
        t = ds.dataset(self.oracle["input"], format="parquet").to_table()
        mat = np.asarray(t.column("embedding").to_pylist(), dtype=np.float32)
        self.queries = [[float(x) for x in q] for q in np.load(self.oracle["queries"])]
        self.truth = [brute_topk(mat, np.asarray(q)) for q in self.queries[: self.BATCH]]
        self.index = None
        self.builds = 0

    def load(self, spark):
        self.df = spark.read.parquet(self.oracle["input"])
        if self.df.count() != self.size:
            raise RuntimeError("vector input has the wrong row count")

    def ops(self, spark):
        from perfbench.checks import check_equal, check_topk
        from schema_inference_spark.operators.pq import (
            build_pq_index,
            query_pq_index,
            query_pq_index_batch,
        )

        answers: dict[int, list] = {}

        def build(out):
            # the index outlives the op that builds it; the previous one goes
            self.builds += 1
            path = os.path.join(WORK, "ann", f"index-{self.builds}")
            shutil.rmtree(path, ignore_errors=True)
            cents = build_pq_index(self.df, path, k=self.K_IVF)
            if self.index:
                shutil.rmtree(self.index, ignore_errors=True)
            self.index = path
            check_equal(len(cents), self.K_IVF, "centroid count")
            return 0, 0

        def query(qi):
            rows = [
                (r["vec_id"], r["cosine_sim"])
                for r in query_pq_index(spark, self.index, self.queries[qi], n_probe=self.N_PROBE).collect()
            ]
            answers[qi] = rows
            check_topk(rows)
            return len({i for i, _ in rows} & set(self.truth[qi])), 10

        def batch(out):
            got = query_pq_index_batch(
                spark, self.index, self.queries[: self.BATCH], n_probe=self.N_PROBE
            ).collect()
            hits = 0
            for q in range(self.BATCH):
                rows = sorted(
                    ((r["vec_id"], r["cosine_sim"]) for r in got if r["qid"] == q),
                    key=lambda x: (-x[1], x[0]),
                )
                check_topk(rows)
                if q < self.QUERIES:  # scored by its query_pq_index op
                    check_equal(rows, answers.get(q), f"batch answer for query {q}")
                else:
                    hits += len({i for i, _ in rows} & set(self.truth[q]))
            return hits, 10 * (self.BATCH - self.QUERIES)

        return (
            [("build_pq_index", build)]
            + [("query_pq_index", lambda out, qi=qi: query(qi)) for qi in range(self.QUERIES)]
            + [("query_pq_index_batch", batch)]
        )

    def final_checks(self, spark):
        from perfbench.checks import check_equal
        from schema_inference_spark.operators.pq import query_pq_index
        from schema_inference_spark.operators.similarity import cosine_topk

        def full_probe(out):
            # every partition probed and every probed row re-ranked: the
            # answer must equal brute-force cosine_topk exactly
            q = self.queries[0]
            got = query_pq_index(
                spark, self.index, q, n_probe=self.K_IVF, over_retrieve=math.ceil(self.size / 10)
            ).collect()
            want = cosine_topk(self.df, q, k=10).collect()
            check_equal(
                [(r["vec_id"], r["cosine_sim"]) for r in got],
                [(r["vec_id"], r["cosine_sim"]) for r in want],
                "full-probe query vs cosine_topk",
            )
            return 0, 0

        return [("full_probe", full_probe)]


LANES = {lane.name: lane for lane in (Validate, SchemaInfer, Curate, Ann)}
WORKLOADS = {
    "jobs": (Validate, Curate, SchemaInfer),
    **{name: (lane,) for name, lane in LANES.items()},
}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


@dataclass
class OpRecord:
    kind: str
    pass_no: int  # 0: a final check, outside every pass
    sec: float
    cpu_s: float
    ok: bool
    hits: int
    total: int
    traced: bool
    error: str = ""


def run(args) -> dict:
    from perfbench import proc, trace
    from perfbench.checks import CheckFailed

    host = proc.host_info()
    confs = {"spark.master": f"local[{host['nproc']}]", "spark.driver.memory": DRIVER_MEMORY}
    lanes = [cls(args.seed) for cls in WORKLOADS[args.workload]]
    for lane in lanes:
        lane.prepare()
    load_start = os.getloadavg()[0]

    ops: list[OpRecord] = []
    tracer = None
    restore = None
    with proc.PeakRss() as rss:
        t0 = time.perf_counter()
        from schema_inference_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench", master=confs["spark.master"],
            extra_conf={"spark.driver.memory": confs["spark.driver.memory"]},
        )
        session_s = time.perf_counter() - t0
        try:
            for lane in lanes:
                lane.load(spark)
            setup_s = time.perf_counter() - t0
            op_no = [0]

            def record(kind, fn, pass_no, traced=False):
                """Run one op (fresh output dir, empty cache, timeout) and
                record it; a raise, a timeout or a failed check fails it."""
                op_no[0] += 1
                out = os.path.join(WORK, args.workload, f"op-{op_no[0]}")
                shutil.rmtree(out, ignore_errors=True)
                spark.catalog.clearCache()
                if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
                    raise RuntimeError("CacheManager not empty at the start of an op")
                timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
                timer.start()
                c0, s0 = proc.tree_cpu_s(), time.perf_counter()
                (hits, total), ok, err = (0, 0), True, ""
                try:
                    if traced:
                        tracer.next_op()
                        with tracer.span(f"op.{kind}", "op"):
                            hits, total = fn(out)
                    else:
                        hits, total = fn(out)
                except Exception as e:  # noqa: BLE001 — any raise fails the op
                    ok, err = False, f"{type(e).__name__}: {e}".splitlines()[0][:300]
                    if isinstance(e, CheckFailed):
                        hits, total = e.hits, e.total
                    else:
                        traceback.print_exc(file=sys.stderr)
                sec, cpu = time.perf_counter() - s0, proc.tree_cpu_s() - c0
                timer.cancel()
                if sec >= OP_TIMEOUT_S:
                    ok, err = False, err or "timed out"
                if traced:
                    tracer.collect()
                shutil.rmtree(out, ignore_errors=True)
                ops.append(OpRecord(kind, pass_no, sec, cpu, ok, hits, total, traced, err))
                _emit(f"op {op_no[0]} {kind} (pass {pass_no}{', traced' if traced else ''}): "
                      f"{sec:.3f} s, {cpu:.2f} cpu s" + ("" if ok else f", FAILED: {err}"))

            def one_pass(pass_no, traced=False):
                for lane in lanes:
                    for kind, fn in lane.ops(spark):
                        record(kind, fn, pass_no, traced)

            if args.trace:
                # the traced pass is the same cold first pass the untraced
                # runs time, so its layers explain their end-to-end numbers
                tracer = trace.Tracer(spark)
                restore = trace.instrument(tracer)
                one_pass(1, traced=True)
                restore()
                restore = None
            else:
                deadline = time.perf_counter() + args.seconds
                n = 0
                while n == 0 or time.perf_counter() < deadline:
                    n += 1
                    one_pass(n)
            for lane in lanes:
                for kind, fn in lane.final_checks(spark):
                    record(kind, fn, 0)
        finally:
            if restore:
                restore()
            spark.stop()
            proc.stop_gateway()
    peak = rss.peak

    result = {
        "workload": args.workload, "seed": args.seed, "ops": ops, "lanes": lanes,
        "setup_s": setup_s, "session_s": session_s, "peak_rss_mb": peak,
        "host": {**host, "load_1m_start": round(load_start, 2),
                 "load_1m_end": round(os.getloadavg()[0], 2), "spark_conf_set": confs},
        "tracer": tracer,
    }
    if tracer is not None:
        os.makedirs(WORK, exist_ok=True)
        tracer.write(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.jsonl"))
    return result


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pass_numbers(ops: list[OpRecord]) -> list[int]:
    return sorted({o.pass_no for o in ops if o.pass_no})


def end_to_end(res: dict) -> dict:
    """Per pass: items of every lane over the pass's wall (or process-tree
    CPU) seconds, and the oracle share reproduced; the median over passes."""
    ops: list[OpRecord] = res["ops"]
    items = sum(lane.items for lane in res["lanes"])
    per_pass = []
    for p in _pass_numbers(ops):
        mine = [o for o in ops if o.pass_no == p]
        sec, cpu = sum(o.sec for o in mine), sum(o.cpu_s for o in mine)
        hits, total = sum(o.hits for o in mine), sum(o.total for o in mine)
        per_pass.append((items / sec, cpu / (items / 1000), hits / total if total else 0.0))
    attempted = len(ops)
    failed = sum(not o.ok for o in ops)
    return {
        "setup_s": res["setup_s"],
        "items_per_s": _median([x[0] for x in per_pass]),
        "cpu_s_per_kitem": _median([x[1] for x in per_pass]),
        "peak_rss_mb": res["peak_rss_mb"],
        "recall": _median([x[2] for x in per_pass]),
        "ops_ok_ratio": (attempted - failed) / attempted,
    }


def per_layer(res: dict) -> dict:
    """Per-layer metrics of the traced pass: per op, spans are summed by
    name; a metric is the median over the traced ops that reached it (one
    op for a job, one per call for the ann queries). ``spark.*`` are totals
    over the pass. Lane op times and query latencies are the traced ops'
    times less their forced executions; the tracing overhead is the pass
    time over that net time."""
    from perfbench.trace import SPARK_FIELDS, self_time, tail_percentile

    tracer = res["tracer"]
    spans = tracer.spans
    kids: dict[int, list] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    traced_ops = range(1, tracer.op + 1)
    per_op: dict[int, dict] = {o: {} for o in traced_ops}
    prod: dict[int, dict] = {o: dict.fromkeys(SPARK_FIELDS, 0.0) for o in traced_ops}
    for sp in spans:
        if sp.op not in per_op:
            continue
        st = self_time(sp, kids.get(sp.id, []))
        if sp.kind != "force":
            for f in SPARK_FIELDS:
                prod[sp.op][f] += sp.counts.get(f, 0)
        if sp.kind == "op":
            continue
        name = sp.name.split("#")[0]
        a = per_op[sp.op].setdefault(name, {"plan_s": 0.0, "self_s": 0.0, "rows": 0, "rows_in": 0,
                                            "task_skew": 0.0, "calls": 0})
        if sp.name.endswith("#input"):  # forced only to count parse input rows
            continue
        a["self_s"] += st
        if sp.kind == "call":
            a["plan_s"] += st
            a["calls"] += 1
        else:
            a["rows"] += sp.counts.get("rows", 0)
            a["rows_in"] += sp.counts.get("rows_in", 0)
        for f in SPARK_FIELDS:
            a[f] = a.get(f, 0) + sp.counts.get(f, 0)
        a["task_skew"] = max(a["task_skew"], sp.counts.get("task_skew", 0.0))

    def value(op: int, metric: str) -> float | None:
        aggs = per_op[op]
        base, field = metric.rsplit(".", 1)
        if base == "json_shape.kv_shape_udf":
            parsed = aggs.get("delimited.parse_delimited")
            if parsed is None:
                return None
            if field == "py_worker_s":
                return prod[op]["py_worker_s"]
            return prod[op]["py_rows"] / max(parsed["rows"], 1)
        if base == "dedup.jaccard_verified_pairs" and field == "verified_per_candidate":
            v, c = aggs.get(base), aggs.get("dedup.lsh_candidate_pairs")
            return v["rows"] / max(c["rows"], 1) if v and c else None
        if base == "pq.query_pq_index" and field == "rerank_per_result":
            c = aggs.get("similarity.cosine_topk")
            return c["py_rows"] / max(c["rows"], 1) if c and base in aggs else None
        a = aggs.get(base)
        if a is None:
            return None
        if field == "candidate_pairs":
            return a["rows"]
        if field == "rows_dropped":
            return a["rows_in"] - a["rows"]
        if field == "self_s_per_query":
            return a["self_s"] / (a["calls"] * Ann.BATCH)
        return a[field]

    # a traced op's time less its forced executions: its untraced time
    forced = dict.fromkeys(traced_ops, 0.0)
    for sp in spans:
        if sp.kind == "force" and sp.op in forced:
            forced[sp.op] += sp.end - sp.start
    traced = [o for o in res["ops"] if o.traced]  # in tracer op order
    net = [(o.kind, o.sec - forced[i]) for i, o in zip(traced_ops, traced)]

    out = {}
    for metric, _ in PER_LAYER:
        if metric in LANE_OP_S:
            out[metric] = sum(sec for kind, sec in net if kind == LANE_OP_S[metric])
        elif metric.startswith("spark."):
            out[metric] = sum(prod[o][metric[len("spark."):]] for o in traced_ops)
        elif not metric.startswith(("trace.", "session.", "pq.query_pq_index.p50", "pq.query_pq_index.tail")):
            vals = [v for o in traced_ops if (v := value(o, metric)) is not None]
            out[metric] = _median(vals)
    out["session.get_spark.self_s"] = res["session_s"]
    queries = [sec * 1000 for kind, sec in net if kind == "query_pq_index"]
    out["pq.query_pq_index.p50_ms"] = _median(queries)
    out["pq.query_pq_index.tail_ms"] = 0.0
    if queries:
        out["pq.query_pq_index.tail_ms"], pct, n = tail_percentile(queries)
        _emit(f"pq.query_pq_index.tail_ms is p{pct:.1f} of {n} samples")
    pass_s, forced_s = sum(o.sec for o in traced), sum(forced.values())
    out["trace.traced_items_per_s"] = sum(lane.items for lane in res["lanes"]) / pass_s
    out["trace.forced_s"] = forced_s
    out["trace.overhead_ratio"] = pass_s / (pass_s - forced_s)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # set on the measuring child that the supervising parent starts
    ap.add_argument("--supervised", action="store_true", help=argparse.SUPPRESS)
    argv = sys.argv[1:] if argv is None else argv
    args = ap.parse_args(argv)

    missing = [d for d in ("schema_inference_spark", "jobs") if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if not args.supervised:
        # the run happens in a child; this parent returns only after every
        # process the child started (the JVMs, PySpark's Python workers)
        # has ended
        from perfbench import proc

        return proc.supervise([sys.executable, os.path.abspath(__file__), *argv, "--supervised"])
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    # Spark's scratch space and every temp file stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    res = run(args)
    _emit("host " + json.dumps(res["host"]))
    for lane in res["lanes"]:
        _emit(f"lane {lane.name}: {lane.items} items, planted {json.dumps(lane.oracle.get('planted', {}))}")
    ops = res["ops"]
    attempted = len(ops)
    failed = sum(not o.ok for o in ops)
    _emit(f"ops attempted {attempted} failed {failed} ops_failed_ratio {failed / attempted:.4f}, "
          f"{len(_pass_numbers(ops))} pass(es)")
    units = dict(END_TO_END + PER_LAYER)
    metrics = per_layer(res) if args.trace else end_to_end(res)
    for k, v in metrics.items():
        _emit(f"  {k} = {v:.6g} {units[k]}")
    _emit(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
