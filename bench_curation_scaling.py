#!/usr/bin/env python
"""Scaling evidence for the COMPOSED curation pipeline (VERDICT r3 #8 —
the fifth axis, and the only family with iterative joins): MinHash-LSH
candidates -> Jaccard verify -> connected components -> drop non-reps ->
leakage-safe split -> sequence packing, run end-to-end at two parallelism
levels in separate JVMs. Reports docs/sec at both, efficiency =
(thr@4N / thr@N) / 4, and REQUIRES the pipeline outputs (pair count,
dropped count, per-split counts, packed rows) to be identical at both
widths — scaling that changes answers is not scaling.

Usage: python bench_curation_scaling.py [n_docs] [n_base] [rounds]
Reuses the deterministic dedup corpus cache in /tmp (md5-derived words,
~1% planted near-dups), so the measurement is the pipeline, not datagen.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, "{repo}")
from pyspark.sql import functions as F
from schema_inference_spark.session import get_spark

cpus, n = sys.argv[1], int(sys.argv[2])
spark = get_spark(app_name=f"curation-scaling-{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=16)
path = f"/tmp/spark_graft_dedup_corpus_{{n}}"
if not os.path.exists(f"{{path}}/_done"):
    expr = ("concat_ws(' ', transform(sequence(0, 29), "
            "j -> substr(md5(concat(cast(CASE WHEN id % 100 = 99 AND j > 0 "
            "THEN id - 1 ELSE id END AS string), "
            "'-', cast(j AS string))), 1, 8))) AS text")
    docs = spark.range(n).selectExpr("id AS doc_id", expr)
    docs.repartition(16).write.mode("overwrite").parquet(path + "/docs")
    open(path + "/_done", "w").write("ok")
docs = spark.read.parquet(path + "/docs")

from schema_inference_spark.functions import text as TX
from schema_inference_spark.operators.dedup import (
    duplicate_components, jaccard_verified_pairs, lsh_candidate_pairs,
)
from schema_inference_spark.operators.packing import pack_documents
from schema_inference_spark.operators.sampling import leakage_safe_split

def run_once():
    # Production pipelines MATERIALIZE stage boundaries (each phase writes
    # a table the next reads); re-deriving the full lazy DAG for every
    # downstream action would run the heavy MinHash/Jaccard lane 4x. The
    # persisted frames are the tiny ones (candidate pairs, dropped ids,
    # the narrow (id, split, tokens) projection) — all unpersisted before
    # the next timed round, so the bench-integrity rule (empty
    # CacheManager at round start) holds.
    cached = []
    cands = lsh_candidate_pairs(docs, "doc_id", "text", n_perm=4, band_size=2)
    cached.append(cands.persist())
    pairs = jaccard_verified_pairs(docs, cands, "doc_id", "text", threshold=0.6)
    cached.append(pairs.persist())
    n_pairs = pairs.count()  # heavy lane 1: minhash/banding + jaccard verify
    comps = duplicate_components(pairs, "doc_id")
    drop = comps.where(F.col("doc_id") != F.col("component")).select("doc_id")
    cached.append(drop.persist())
    n_dropped = drop.count()  # tiny iterative lane over the cached pairs
    kept = docs.join(drop, "doc_id", "left_anti")
    # route splits by VERIFIED pairs — stage-for-stage the curate_job
    # pipeline (ADVICE r4: routing by raw candidates made the benchmarked
    # pipeline differ from the shipped one for pairs failing verification)
    split_docs = leakage_safe_split(kept, comps, "doc_id")
    narrow = split_docs.select(
        "doc_id", "split",
        TX.token_count_expr(F.col("text")).cast("long").alias("n_tokens"),
    )
    cached.append(narrow.persist())
    splits = {{r["split"]: r["n"] for r in
              narrow.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}}
    train = narrow.where(F.col("split") == "train").select("doc_id", "n_tokens")
    packed = pack_documents(train, max_tokens=512, n_partitions=16)
    agg = packed.agg(
        F.count(F.lit(1)).alias("n_packed"),
        F.countDistinct("bin_id").alias("n_bins"),
        F.sum("n_tokens").alias("tok"),
    ).collect()[0]
    for frame in cached:
        frame.unpersist()
    return {{
        "n_pairs": n_pairs,
        "n_dropped": n_dropped,
        "splits": splits,
        "n_packed": agg["n_packed"],
        "n_bins": agg["n_bins"],
        "train_tokens": agg["tok"],
    }}

outputs = run_once()  # warmup (JIT + shuffle services)
best = float("inf")
for _ in range(2):
    t0 = time.perf_counter()
    got = run_once()
    best = min(best, time.perf_counter() - t0)
    assert got == outputs, f"nondeterministic pipeline output: {{got}} vs {{outputs}}"
print(json.dumps({{"cpus": int(cpus), "sec": round(best, 3),
                   "docs_per_sec": round(n / best, 1), "outputs": outputs}}))
"""


def run_at(cpus: int, n: int) -> dict:
    code = RUNNER.format(repo=os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code, str(cpus), str(n)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_base = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    per_round, best = [], {}
    outputs = None
    for _ in range(rounds):
        r_n = run_at(n_base, n)
        r_4n = run_at(4 * n_base, n)
        if r_n["outputs"] != r_4n["outputs"]:
            raise SystemExit(
                f"outputs differ across widths: {r_n['outputs']} vs {r_4n['outputs']}"
            )
        outputs = r_n["outputs"]
        per_round.append(round((r_4n["docs_per_sec"] / r_n["docs_per_sec"]) / 4.0, 3))
        for r in (r_n, r_4n):
            cur = best.get(r["cpus"])
            if cur is None or r["docs_per_sec"] > cur["docs_per_sec"]:
                best[r["cpus"]] = r
    eff = round((best[4 * n_base]["docs_per_sec"] / best[n_base]["docs_per_sec"]) / 4.0, 3)
    print(json.dumps({
        "pipeline": "curation_dedup_components_split_packing",
        "n_docs": n,
        f"local{n_base}": best[n_base],
        f"local{4 * n_base}": best[4 * n_base],
        "scaling_efficiency": eff,
        "per_round_efficiency": per_round,
        "outputs_identical_at_both_widths": True,
        "outputs": outputs,
        "criterion": "efficiency >= 0.8 between N and 4N parallelism",
        "passed": eff >= 0.8,
    }))


if __name__ == "__main__":
    main()
