"""Bucket-blocked candidate-pair generation shared by the LSH family
(MinHash bands, SimHash blocks).

``pairs_within_buckets`` replaces the classic bucket self-join with
groupBy-collect_set + in-row pair expansion. Two wins:

1. The (possibly expensive) subtree that produced the bucketed frame is
   evaluated ONCE — Spark has no subplan sharing, so a self-join executes
   it per side. For inline MinHash that subtree is the whole
   tokenize→shingle→hash pipeline.
2. One bucket-key shuffle carrying each row once (map-side combine),
   instead of shuffling both join sides.

Measured on the sf1 corpus (50k docs, MinHash 16 bands): 2.1 s vs 3.5 s
for the self-join, identical 21,616 candidate pairs.

Contract: bucket sizes must be BOUNDED (the banding/blocking design goal —
signature bits cap collision probability). Each bucket's members
materialize as one array row, so a pathological hot bucket would
concentrate in one task; for unbounded bucket keys use a plain self-join,
which AQE can skew-split. (The embedding near-dup path keeps the
self-join for exactly this reason: its completeness-first 2-bit bands
make buckets corpus-fraction-sized by design.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pairs_within_buckets(df: DataFrame, bucket_cols: list[str], id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs co-located in ≥1 bucket. The in-row
    pair expansion is SQL text, one JVM call: Column-built nested
    ``transform`` lambdas cost a few Py4J calls per lambda variable."""
    grp = (
        df.groupBy(*bucket_cols)
        .agg(F.collect_set(id_col).alias("__ids"))
        .filter(F.size("__ids") > 1)
        .select(F.array_sort("__ids").alias("__ids"))
    )
    return grp.selectExpr(
        "explode(flatten(transform(__ids, (x, i) -> transform("
        "slice(__ids, i + 2, size(__ids)), y -> struct(x AS a, y AS b))))) AS p"
    ).selectExpr("p.a AS id_a", "p.b AS id_b").distinct()
