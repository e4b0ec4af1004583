"""End-to-end drive of the reference-lifecycle production job
(jobs/schema_infer_job.py) over a real SequenceFile of real fixture rows."""

from __future__ import annotations

import json
import tempfile

from jobs.schema_infer_job import main

FIXTURES = ["fvalues.txt", "fvalues2.txt", "fvalues3.txt", "fvalues5.txt"]


def test_sequencefile_to_protos_end_to_end(spark, reference):
    rows = [
        open(reference(f"src/test/resources/{f}"), encoding="utf-8").read().strip("\n")
        for f in FIXTURES
    ]
    rows += rows[:2]  # re-deliver two rows
    with tempfile.TemporaryDirectory() as d:
        (
            spark.sparkContext.parallelize(
                [(str(i).encode(), r) for i, r in enumerate(rows)], 2
            ).saveAsSequenceFile(f"{d}/in")
        )
        assert main(["--input", f"{d}/in", "--format", "sequencefile",
                     "--output", f"{d}/out"]) == 0

        distinct = spark.read.parquet(f"{d}/out/distinct")
        assert set(distinct.columns) == {"schema", "count", "percent"}
        assert distinct.agg({"count": "sum"}).collect()[0][0] == len(rows)

        tops = [json.loads(l) for l in open(f"{d}/out/top_schemas.json")]
        # fvalues/2/5 (and the re-deliveries) collapse to one production
        # shape after empty-value dropping; fvalues3's truncated row differs
        assert tops[0]["count"] == 5 and tops[1]["count"] == 1
        assert tops[0]["percent"] == 83  # 5*100 DIV 6, reference int division

        merged = json.load(open(f"{d}/out/merged_schema.json"))
        assert merged["type"] == "object"
        # victim stays a nested object (only object-typed across shapes);
        # killer demonstrates the lattice: fvalues3's malformed pair makes
        # it a string in one shape, and string dominates object on merge
        # (MergeBiFunction semantics)
        assert merged["properties"]["victim"]["type"] == "object"
        assert merged["properties"]["killer"]["type"] == "string"

        protos = {
            r["file_name"]: r["content"]
            for r in spark.read.parquet(f"{d}/out/protos").collect()
        }
        assert "Metadata.proto" in protos  # injected envelope
        root = [n for n in protos if n.lower().startswith("event")]
        assert root, protos.keys()
        assert any("message" in c for c in protos.values())


def test_json_docs_input_mode(spark):
    docs = ['{"a": 1, "b": "x"}'] * 3 + ['{"a": 2.5}'] * 2 + ["not json"]
    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/docs.txt", "w") as f:
            f.write("\n".join(docs))
        assert main(["--input", f"{d}/docs.txt", "--format", "json-docs",
                     "--output", f"{d}/out"]) == 0
        tops = [json.loads(l) for l in open(f"{d}/out/top_schemas.json")]
        assert tops[0]["count"] == 3 and tops[0]["percent"] == 60
        merged = json.load(open(f"{d}/out/merged_schema.json"))
        # 'a' integer(x3) widens with number(x2) -> number
        assert merged["properties"]["a"] == {"type": "number"}
