"""Generate an sf1-scale local lake (~6M-row lineitem, 50k docs) by
replicating /root/testdata/sf0.1 10x with key offsetting, for the
data-bound scaling point recorded in SCALING.md (SCALING_DATA.json).

/root/testdata is read-only, so output goes to .localdata/sf1/ inside the
repo (gitignored — ~500MB of parquet is derived data, regenerate with
`python tools/gen_sf1.py`).

Replication semantics (replica i, key offset i*10^7):
- Bounded dims (region, nation) are copied verbatim — they do NOT grow
  with scale factor, matching TPC-H.
- Fact/dim tables that grow (customer, supplier, part, orders, lineitem,
  events, embeddings) replicate with every entity key offset consistently,
  so join cardinalities and per-key distributions are exactly those of
  sf0.1 — 10x the data, same selectivities, zero cross-replica joins.
- documents: every word is prefixed with the replica tag (r{i}_) for
  i>0. Within-replica near-dup structure is preserved verbatim (both
  members of a planted pair get the same transform), while cross-replica
  shingle overlap drops to zero — dedup output grows linearly (10x the
  pairs), not as 10-cliques of exact copies, which is the workload shape
  the dedup operators are designed for. n_chars is recomputed.
- events.ts is copied in whatever layout the source lake carries
  (epoch-nanos int64 or µs timestamp); sources/tables.py normalizes
  either at load, dtype-driven.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_s3_to_redshift_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# usage: python tools/gen_sf1.py [target_sf]   (default 1; 10 -> 100
# replicas of sf0.1 into .localdata/sf10, ~1.5 GB — the 100x point for
# the data-bound scaling curves)
TARGET_SF = int(sys.argv[1]) if len(sys.argv) > 1 else 1
DST = os.path.join(REPO, ".localdata", f"sf{TARGET_SF}")
REPLICAS = 10 * TARGET_SF
OFF = 10_000_000

# table -> columns that carry entity keys (offset per replica)
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def main() -> None:
    spark = get_spark("gen_sf1")
    os.makedirs(DST, exist_ok=True)
    for t in ("region", "nation"):
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
        print(f"{t}: copied (bounded dim)")
    for t, keys in KEYED.items():
        t0 = time.time()
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        if REPLICAS > 100:
            # Past ~100 replicas the union-of-branches plan below is a
            # Catalyst stress test (1000-way union, 1000 withColumn
            # chains), so replicate with ONE narrow op instead: explode a
            # replica-index sequence per row and derive the offsets /
            # per-replica transforms from the index column. Row-for-row
            # the same lake semantics; only file order differs.
            r = src.repartition(8 * TARGET_SF).select(
                "*", F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("__rep")
            )
            for kcol in keys:
                r = r.withColumn(kcol, F.col(kcol) + F.col("__rep").cast("long") * OFF)
            if t == "customer":
                r = r.withColumn("c_name", F.format_string("Customer#%09d", "c_custkey"))
            elif t == "supplier":
                r = r.withColumn("s_name", F.format_string("Supplier#%09d", "s_suppkey"))
            if t == "documents":
                prefixed = F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(
                            F.lit("r"), F.col("__rep").cast("string"), F.lit("_"), w
                        ),
                    ),
                    " ",
                )
                r = r.withColumn(
                    "text", F.when(F.col("__rep") > 0, prefixed).otherwise(F.col("text"))
                ).withColumn("n_chars", F.length("text").cast("long"))
            r.drop("__rep").write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
            n = spark.read.parquet(f"{DST}/{t}.parquet").count()
            print(f"{t}: {n} rows in {time.time() - t0:.1f}s")
            continue
        reps = []
        for i in range(REPLICAS):
            r = src
            for kcol in keys:
                r = r.withColumn(kcol, F.col(kcol) + F.lit(i * OFF))
            # key-derived entity names must track the offset key, or the
            # replicas would be distinct entities sharing one name (which
            # turns name-keyed ops — e.g. the fuzzy match — quadratic in
            # the replica count, an artifact no real corpus has)
            if t == "customer":
                r = r.withColumn("c_name", F.format_string("Customer#%09d", "c_custkey"))
            elif t == "supplier":
                r = r.withColumn("s_name", F.format_string("Supplier#%09d", "s_suppkey"))
            if t == "documents" and i > 0:
                r = r.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda w: F.concat(F.lit(f"r{i}_"), w),
                        ),
                        " ",
                    ),
                ).withColumn("n_chars", F.length("text").cast("long"))
            reps.append(r)
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.coalesce(8 * TARGET_SF).write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
        n = spark.read.parquet(f"{DST}/{t}.parquet").count()
        print(f"{t}: {n} rows in {time.time() - t0:.1f}s")
    print(f"done -> {DST}")


if __name__ == "__main__":
    main()
