"""Deterministic sampling / splitting for training-data pipelines.

Hash-based, not RNG-based: `sample()`/`sampleBy()` draw from a seeded RNG
whose results depend on partitioning and Spark version — unacceptable for
a reproducible 100 TB training split. Here membership is a pure function
of the row's id (md5-derived 60-bit hash, the repo's cross-engine
convention), so:

* the split is stable under repartitioning, retries, engine upgrades and
  incremental re-runs (a row's split never changes as the corpus grows);
* it is a zero-shuffle projection — the split column composes with
  partition pruning (write-time `partitionBy("split")` if desired);
* DuckDB computes the identical assignment, so splits are oracle-checkable
  bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from schema_inference_spark.functions.hashing import md5_long_expr, md5_long_sql


def split_bucket_expr(id_col: Column, n_buckets: int = 100) -> Column:
    """Stable bucket in [0, n_buckets) from the id (md5-60bit mod)."""
    return F.pmod(md5_long_expr(id_col.cast("string")), F.lit(n_buckets))


def split_bucket_sql(id_sql: str, n_buckets: int = 100) -> str:
    # DuckDB % on non-negative operands equals pmod here (hash is >= 0)
    return f"(({md5_long_sql(f'({id_sql})::VARCHAR')}) % {n_buckets})"


def _split_expr(route: Column, weights: dict[str, int] | None) -> Column:
    """The split label of ``route``'s hash bucket (see :func:`with_split`)."""
    weights = weights or {"train": 80, "val": 10, "test": 10}
    total = sum(weights.values())
    if total != 100:
        raise ValueError(f"split weights must sum to 100, got {total}")
    bucket = split_bucket_expr(route)
    expr = None
    edge = 0
    for name, w in weights.items():
        edge += w
        cond = bucket < edge
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return expr


def with_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """Add a ``split`` column ('train'/'val'/'test' by default) assigned by
    hash bucket; ``weights`` are integer percents summing to 100."""
    return df.withColumn("split", _split_expr(F.col(id_col), weights))


def split_case_sql(id_sql: str, weights: dict[str, int] | None = None) -> str:
    weights = weights or {"train": 80, "val": 10, "test": 10}
    bucket = split_bucket_sql(id_sql)
    parts, edge = [], 0
    for name, w in weights.items():
        edge += w
        parts.append(f"WHEN {bucket} < {edge} THEN '{name}'")
    return "CASE " + " ".join(parts) + " END"


def leakage_safe_split(
    df: DataFrame,
    components: DataFrame,
    id_col: str,
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """Train/val/test split that never separates near-duplicates: every
    member of a connected near-dup component is routed by the COMPONENT
    label's hash, so no near-dup of a test document can leak into train
    (the classic eval-contamination bug). Rows in no component route by
    their own id, identically to :func:`with_split`.

    ``components`` is the ``(id_col, component)`` table
    ``operators.dedup.duplicate_components`` builds from the near-dup
    pairs; a pipeline that already computed it for dedup passes the same
    table here. One broadcast-sized left join (components exist only for
    paired rows, a small fraction of the corpus) + the zero-shuffle split
    projection.
    """
    routed = df.join(
        components.select(id_col, F.col("component").alias("_component")), id_col, "left"
    )
    route = F.coalesce("_component", F.col(id_col))
    return routed.withColumn("split", _split_expr(route, weights)).drop("_component")


def stratified_hash_sample(
    df: DataFrame, id_col: str, fraction: float, n_buckets: int = 10_000
) -> DataFrame:
    """Deterministic ~fraction sample: keep rows whose hash bucket falls
    below fraction*n_buckets. Same id -> same decision, forever."""
    keep = int(round(fraction * n_buckets))
    return df.where(split_bucket_expr(F.col(id_col), n_buckets) < keep)


def stratified_hash_sample_sql(id_sql: str, fraction: float, n_buckets: int = 10_000) -> str:
    keep = int(round(fraction * n_buckets))
    return f"{split_bucket_sql(id_sql, n_buckets)} < {keep}"
