#!/usr/bin/env python
"""The reference's production job, end to end, as one spark-submit entry.

This is the pipeline SeqFilesScan.java:282-373 ran hourly — scan ->
per-row schema -> distinct-shape counts with integer percents -> top-k ->
top-N merge under the widening lattice -> protobuf hierarchy emission —
re-planned Spark-first: one pass of the shape function per parsed row and
one aggregation for the counts and percents, written as distinct/; the
top-k is read back from distinct/ (the reference's re-analysis path, not a
second scan of the input); driver-side fold only over the tiny top-k set;
order-safe proto assembly.

    spark-submit --py-files /tmp/schema_inference_spark.zip \
        jobs/schema_infer_job.py \
        --input  <path> --format {sequencefile|text|json-docs|parquet-kv} \
        --output <dir> [--top-k 20] [--merge-n 10]

Inputs:
  sequencefile  SequenceFile<BytesWritable,Text> of ^A/^B/^C rows (S1)
  text          newline-delimited ^A/^B/^C rows (S2)
  json-docs     newline-delimited JSON documents (one per line)
  parquet-kv    parquet with a 'value' string column of ^A/^B/^C rows

Outputs under --output:
  distinct/        (schema, count, percent) parquet — the data/distinct table
  top_schemas.json top-k rows as JSON lines
  merged_schema.json  the A8 superset schema
  protos/          one row per .proto file (file_name, content) parquet

Exit 0 on success; 1 if no parseable rows were found.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--format", default="sequencefile",
                    choices=("sequencefile", "text", "json-docs", "parquet-kv"))
    ap.add_argument("--output", required=True)
    ap.add_argument("--top-k", type=int, default=20)  # Constants.java:16 collects 20
    ap.add_argument("--merge-n", type=int, default=10)  # merges top 10
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from schema_inference_spark.functions.json_shape import (
        flat_json_shape_expr,
        make_kv_shape_udf,
    )
    from schema_inference_spark.functions.type_inference import merge_schemas
    from schema_inference_spark.operators.proto import (
        concat_proto_files,
        proto_hierarchy,
        proto_lines_df,
        with_metadata_message,
    )
    from schema_inference_spark.operators.shapes import shape_counts, top_of_profile
    from schema_inference_spark.sources.delimited import parse_delimited
    from schema_inference_spark.sources.sequencefile import read_sequencefile_values
    from schema_inference_spark.sources.tables import ensure_utc

    spark = SparkSession.builder.getOrCreate()
    ensure_utc(spark)

    if args.format == "sequencefile":
        rows = read_sequencefile_values(spark, args.input)
    elif args.format == "text":
        rows = spark.read.text(args.input).withColumnRenamed("value", "value")
    elif args.format == "parquet-kv":
        rows = spark.read.parquet(args.input).select("value")
    else:  # json-docs
        rows = spark.read.text(args.input)

    if args.format == "json-docs":
        shape = flat_json_shape_expr(F.col("value"))
    else:
        rows = parse_delimited(rows, "value")
        shape = make_kv_shape_udf()(F.col("kv"))

    from schema_inference_spark.sources.iceberg import read_table, write_table

    # shape_counts drops null shapes (the P4 null-row filter)
    counts = shape_counts(rows, shape)
    write_table(counts, f"{args.output}/distinct", mode="overwrite")

    top = top_of_profile(read_table(spark, f"{args.output}/distinct"), args.top_k).collect()
    if not top:
        print("no parseable rows found")
        return 1
    with open(f"{args.output}/top_schemas.json", "w", encoding="utf-8") as f:
        for r in top:
            f.write(json.dumps(
                {"schema": r["schema"], "count": r["count"], "percent": r["percent"]}
            ) + "\n")

    merged = None
    for r in top[: args.merge_n]:
        merged = merge_schemas(merged, json.loads(r["schema"]))
    with open(f"{args.output}/merged_schema.json", "w", encoding="utf-8") as f:
        json.dump(merged, f, indent=2)

    hierarchy = with_metadata_message(proto_hierarchy(merged))
    protos = concat_proto_files(proto_lines_df(spark, hierarchy))
    write_table(protos, f"{args.output}/protos", mode="overwrite")

    n_shapes = len(top)
    print(f"schema-infer: {n_shapes} distinct shapes (top-{args.top_k}), "
          f"merged {min(args.merge_n, n_shapes)}, "
          f"{len(hierarchy)} proto messages emitted")
    return 0


if __name__ == "__main__":
    sys.exit(main())
