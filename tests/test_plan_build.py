"""Driver-side plan build: lake reads reuse their parquet schema, and the
MinHash / bucket-pair projections built as SQL text equal the Column
forms they replace."""

from __future__ import annotations

import itertools
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from etl_s3_to_redshift_spark.operators.blocking import pairs_within_buckets
from etl_s3_to_redshift_spark.operators.dedup import _band_keys, _shingle_sets, _sig_cols
from etl_s3_to_redshift_spark.sources.tables import _read_parquet, load_table
from tests.conftest import SF_SMOKE


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` with its jobs tagged ``group``; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_load_table_runs_no_job(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/documents.parquet", tmp_path / "documents.parquet")
    first, jobs1 = _jobs_in_group(
        spark, "load-1", lambda: load_table(spark, str(tmp_path), "documents")
    )
    again, jobs2 = _jobs_in_group(
        spark, "load-2", lambda: load_table(spark, str(tmp_path), "documents")
    )
    assert jobs1, "the first read infers the schema with a job"
    assert jobs2 == []
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_schema_memo_follows_the_file_and_the_inference_confs(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert _read_parquet(spark, path).columns == ["id"]
    spark.range(3).selectExpr("id", "'x' AS s").write.mode("overwrite").parquet(path)
    assert _read_parquet(spark, path).columns == ["id", "s"]

    # one file rewritten in place with another schema
    one = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), one)
    assert _read_parquet(spark, one).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": [3.0, 4.0]}), one)
    got = _read_parquet(spark, one)
    assert got.columns == ["a", "b"] and sorted(got.collect()) == [(1, 3.0), (2, 4.0)]

    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_000, 2_000], pa.timestamp("ns")), "b": [b"x", b"y"]}),
        nanos,
    )
    confs = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString")
    old = [spark.conf.get(c, None) for c in confs]
    try:
        spark.conf.set(confs[0], "true")
        spark.conf.set(confs[1], "false")
        assert _read_parquet(spark, nanos).dtypes == [("ts", "bigint"), ("b", "binary")]
        spark.conf.set(confs[1], "true")
        assert _read_parquet(spark, nanos).dtypes == [("ts", "bigint"), ("b", "string")]
        spark.conf.set(confs[0], "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            _read_parquet(spark, nanos)
    finally:
        for c, v in zip(confs, old):
            spark.conf.unset(c) if v is None else spark.conf.set(c, v)


def test_sql_text_minhash_projections_equal_the_column_forms(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    sets = _shingle_sets(docs, "text", "doc_id", 3)
    n, bands = 32, 16

    def hasher(i):
        return lambda s: F.xxhash64(F.lit(i), s)

    old_sigs = sets.select(
        "doc_id",
        *[F.array_min(F.transform("sh", hasher(i))).alias(f"h{i}") for i in range(n)],
    )
    new_sigs = sets.selectExpr("doc_id", *_sig_cols(n))
    assert new_sigs.schema == old_sigs.schema
    want = sorted(old_sigs.collect())
    assert sorted(new_sigs.collect()) == want and len(want) > 100

    rows = n // bands
    old_bands = old_sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)]).alias(
                            "bucket"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    new_bands = _band_keys(old_sigs, "doc_id", n, bands)
    assert new_bands.schema == old_bands.schema
    assert sorted(new_bands.collect()) == sorted(old_bands.collect())


def test_pairs_within_buckets_expands_every_bucket(spark):
    members = {0: [7], 1: [3, 1], 2: [5, 9, 2], 3: list(range(100, 150)), 4: [4, 4, 6, 4]}
    # the same pair co-located in two buckets is one pair
    members[5] = [1, 3]
    rows = [(b, i) for b, ids in members.items() for i in ids]
    df = spark.createDataFrame(rows, "bucket int, doc_id long")
    want = sorted(
        {p for ids in members.values() for p in itertools.combinations(sorted(set(ids)), 2)}
    )
    got = pairs_within_buckets(df, ["bucket"], "doc_id")
    assert got.columns == ["id_a", "id_b"]
    assert sorted(tuple(r) for r in got.collect()) == want
    assert len(want) == 1 + 3 + 50 * 49 // 2 + 1
