"""Distinct-shape profiling: the reference engine's central aggregation.

Reference lifecycle (SeqFilesScan.java:282-373):
  per-row shape -> mapToPair(s,1) -> reduceByKey(+) -> collectAsMap (ALL
  distinct shapes to the driver) -> driver sort desc -> limit 20 -> percent
  (int division) -> fold-merge top-10.

Spark-first rewrite:
  * the shape function is evaluated ONCE per row, in the projection under
    one ``groupBy('schema').count()`` — Catalyst partial+final hash agg, so
    the hot shape (34% of rows in the reference corpus,
    data/distinct/part-00000…json:1) is combined map-side and never skews a
    reducer. Null shapes (P4) are dropped AFTER the aggregation: a filter
    on the shape column below it would be pushed through the projection
    and re-evaluate a Python shape UDF per row just to test for null;
  * percent-of-total via a global window over the aggregated histogram,
    not a second cross-joined copy of the aggregation. The window funnels
    the histogram through one task, but it has one row per DISTINCT shape
    (the reference collected that whole table to the driver);
  * top-k via ``orderBy(desc).limit(k)`` = TakeOrderedAndProject (per-
    partition heaps + driver merge, no global sort); a production job
    takes it from the persisted ``data/distinct`` table, the reference's
    own re-analysis path, instead of re-scanning the corpus;
  * only the top-k rows are ever collected (vs the reference's whole-map
    collectAsMap, SeqFilesScan.java:315);
  * the schema merge fold runs on the driver over <= k tiny dicts
    (reference SeqFilesScan.java:346-373 semantics preserved).
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from schema_inference_spark.functions.type_inference import merge_schemas

DEFAULT_TOP_K = 20  # reference stream cap (CommonUtils.java:202)
DEFAULT_MERGE_N = 10  # reference numberOfTopSchemasToMerge (Constants.java:16)


def shape_counts(df: DataFrame, shape_col: Column) -> DataFrame:
    """DataFrame[schema string, count long, percent long] over the non-null
    shapes.

    ``percent`` uses the reference's integer-division semantics
    (count*100/total with Java int division, CommonUtils.java:245-251).
    """
    counts = df.select(shape_col.alias("schema")).groupBy("schema").count()
    has_shape = F.col("schema").isNotNull()
    total = F.sum(F.when(has_shape, F.col("count"))).over(Window.partitionBy())
    return (
        counts.withColumn("_total", total)
        .where(has_shape)  # above the window: Catalyst cannot push it under
        .select("schema", "count", F.expr("count * 100 DIV _total").alias("percent"))
    )


def top_of_profile(profile: DataFrame, k: int = DEFAULT_TOP_K) -> DataFrame:
    """Top-k rows of a (schema, count, percent) profile by count
    (TakeOrderedAndProject; ties broken by schema string so the result is
    deterministic across partitionings)."""
    return profile.orderBy(F.desc("count"), F.asc("schema")).limit(k)


def top_shapes(df: DataFrame, shape_col: Column, k: int = DEFAULT_TOP_K) -> DataFrame:
    """Top-k shapes by count."""
    return top_of_profile(shape_counts(df, shape_col), k)


def shape_exemplars(df: DataFrame, shape_col: Column, raw_col: Column) -> DataFrame:
    """One exemplar raw row per distinct shape.

    Reference: ``groupBy("schema").agg(first("colvalue"))``
    (SeqFilesScan.java:241) — but ``first`` is partition-order-dependent, so
    this engine uses ``min`` for a deterministic exemplar.
    """
    return (
        df.select(shape_col.alias("schema"), raw_col.alias("colvalue"))
        .where(F.col("schema").isNotNull())
        .groupBy("schema")
        .agg(F.min("colvalue").alias("colvalue"))
    )


def persist_shape_profile(df: DataFrame, shape_col: Column, path: str) -> None:
    """Persist the distinct-shape profile (the reference's ``data/distinct``
    output, SeqFilesScan.java:318-344) as JSON lines."""
    shape_counts(df, shape_col).write.mode("overwrite").json(path)


def reanalyze_persisted_shapes(spark, path: str, merge_n: int = DEFAULT_MERGE_N) -> dict:
    """Re-run the merge stage from a persisted profile WITHOUT touching the
    raw corpus — the reference's SeqScanAsJson resumability path
    (SeqScanAsJson.java:66-77 re-reads data/distinct and re-merges)."""
    # explicit schema: an empty profile dir has nothing to infer from
    profile = spark.read.schema("schema string, count long, percent long").json(path)
    rows = top_of_profile(profile, merge_n).collect()
    schemas = [json.loads(r["schema"]) for r in rows]
    if not schemas:
        return {}
    return reduce(merge_schemas, schemas)


def merged_top_schema(
    df: DataFrame, shape_col: Column, merge_n: int = DEFAULT_MERGE_N
) -> dict:
    """Fold the top-N shapes into one superset schema dict.

    Driver-side fold over <= N collected shape strings — the only collect in
    the whole lifecycle (reference collected EVERY distinct schema,
    SeqFilesScan.java:315; we collect merge_n rows).
    """
    rows = top_shapes(df, shape_col, k=merge_n).collect()
    schemas = [json.loads(r["schema"]) for r in rows]
    if not schemas:
        return {}
    return reduce(merge_schemas, schemas)
