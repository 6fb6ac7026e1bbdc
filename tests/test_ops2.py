"""Semantic-edge tests for the round-2b operators: gap-fill carry
semantics, complement-key pigeonhole recall, centroid cells, unpivot
plan shape, and the salted-agg registry projection."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from etl_s3_to_redshift_spark.operators.fuzzy import blocked_substitution_join
from etl_s3_to_redshift_spark.operators.similarity import label_centroids
from etl_s3_to_redshift_spark.operators.temporal import resample_gapfill
from tests.conftest import SF_SMOKE


def test_gapfill_fills_gaps_and_carries_last_value(spark):
    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 10), 5.0),
            (1, datetime(2024, 1, 1, 0, 50), 3.0),
            # 3-hour gap
            (1, datetime(2024, 1, 1, 4, 5), 7.0),
            (2, datetime(2024, 1, 1, 9, 0), 1.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    rows = {
        (r.user_id, r.bucket_start.hour): (r.n_events, r.bucket_value, r.carried_value)
        for r in resample_gapfill(ev).collect()
    }
    # key 1: spine covers hours 0..4 inclusive (5 buckets), key 2: 1 bucket
    assert len(rows) == 6
    assert rows[(1, 0)] == (2, 8.0, 8.0)
    # gap hours exist, zero-filled, carrying hour 0's total
    for h in (1, 2, 3):
        assert rows[(1, h)] == (0, 0.0, 8.0)
    assert rows[(1, 4)] == (1, 7.0, 7.0)
    assert rows[(2, 9)] == (1, 1.0, 1.0)


def test_gapfill_spine_is_data_side(spark):
    """The spine must come from sequence+explode (Generate node), not a
    driver-side collect/range."""
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    plan = resample_gapfill(ev)._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode(sequence" in plan


def test_blocked_substitution_join_recall_every_segment(spark):
    """A substitution in ANY segment (incl. first/last char) must be
    caught: the complement of the corrupted segment is intact."""
    names = [(i, f"Item#{i:05d}xyz") for i in range(40)]
    ref = spark.createDataFrame(names, "rid long, name string")
    # corrupt one char at every possible position across probes
    probes = [(i, n[:i % len(n)] + "?" + n[i % len(n) + 1 :]) for i, n in names]
    pr = spark.createDataFrame(probes, "pid long, probe string")
    got = blocked_substitution_join(
        pr, ref, "pid", "probe", "rid", "name", max_dist=1, n_segments=3
    )
    pairs = {(r.pid, r.rid) for r in got.collect()}
    # every probe recovers its source (dist exactly 1)
    assert all((i, i) in pairs for i in range(40))


def test_blocked_substitution_join_rejects_distance_two(spark):
    ref = spark.createDataFrame([(1, "abcdefghi")], "rid long, name string")
    pr = spark.createDataFrame(
        [(1, "abcdefghi"), (2, "Xbcdefghi"), (3, "XbcdefghX")],
        "pid long, probe string",
    )
    got = blocked_substitution_join(
        pr, ref, "pid", "probe", "rid", "name", max_dist=1, n_segments=3
    )
    res = {r.pid: r.dist for r in got.collect()}
    assert res == {1: 0, 2: 1}  # dist-2 probe 3 excluded


def test_label_centroids_cells(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, 6.0]), (1, [10.0, 20.0])],
        "label int, embedding array<float>",
    )
    got = {(r.label, r.pos): r.centroid for r in label_centroids(emb).collect()}
    assert got == {(0, 0): 2.0, (0, 1): 4.0, (1, 0): 10.0, (1, 1): 20.0}


def test_unpivot_is_expand_not_rescan(spark):
    """unpivot must plan as a single scan + Expand, not one scan per
    measure column."""
    from etl_s3_to_redshift_spark.queries_ops2 import unpivot_lineitem_measures

    df = unpivot_lineitem_measures(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "Expand" in plan
    assert df.count() == 9  # 3 flags x 3 measures


def test_training_order_is_permutation_and_parallel(spark):
    """(bucket, pos) must be a bijection over doc_ids, stable across
    runs/partitionings, and must NOT plan a single-partition global sort."""
    from etl_s3_to_redshift_spark.operators.sampling import training_order

    docs = spark.range(0, 300).select(F.col("id").alias("doc_id"))
    a = training_order(docs)
    rows = a.collect()
    assert len(rows) == 300 and len({r.doc_id for r in rows}) == 300
    # per-bucket positions are 1..n contiguous
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r.pos)
    for poss in by_bucket.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # stable under a different input partitioning
    b = training_order(docs.repartition(7)).collect()
    assert {(r.doc_id, r.bucket, r.pos) for r in rows} == {
        (r.doc_id, r.bucket, r.pos) for r in b
    }
    # window partitions by bucket — never a single global sort partition
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "partitionBy=[bucket" in plan or "hashpartitioning(bucket" in plan


def test_dedup_repeated_chunks_semantics(spark):
    """Chunks repeated across docs are dropped; unique chunks survive in
    original order; fully-duplicated docs survive with empty clean_text."""
    from etl_s3_to_redshift_spark.operators.dedup import dedup_repeated_chunks

    boiler = " ".join(f"b{i}" for i in range(15))  # 15-word repeated chunk
    u1 = " ".join(f"u{i}" for i in range(15))
    u2 = " ".join(f"v{i}" for i in range(15))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {u1}"),   # boiler + unique
            (2, f"{boiler} {u2}"),   # boiler + other unique
            (3, boiler),             # only the repeated chunk
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup_repeated_chunks(docs, chunk_words=15).collect()}
    assert got[1].clean_text == u1 and (got[1].n_total, got[1].n_kept) == (2, 1)
    assert got[2].clean_text == u2
    assert got[3].clean_text == "" and got[3].n_kept == 0  # doc survives


def test_dedup_repeated_chunks_restores_order(spark):
    from etl_s3_to_redshift_spark.operators.dedup import dedup_repeated_chunks

    text = " ".join(f"w{i}" for i in range(60))  # 4 unique chunks, in order
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = dedup_repeated_chunks(docs, chunk_words=15).collect()[0]
    assert got.clean_text == text and got.n_kept == 4


def test_minhash_append_pairs_incremental(spark, tmp_path):
    """Append seam: new-batch pairs against the accumulated staged table
    equal the full-corpus pairs restricted to new ids, and the staged
    table is current for a full re-band afterwards."""
    from etl_s3_to_redshift_spark.operators.dedup import (
        minhash_append_pairs,
        minhash_lsh_pairs,
        minhash_lsh_pairs_staged,
        stage_minhash,
    )

    def doc(i, seedwords):
        return (i, " ".join(seedwords))

    base_words = [f"tok{j}" for j in range(40)]
    other = [f"alt{j}" for j in range(40)]
    base = spark.createDataFrame(
        [doc(1, base_words), doc(2, other)], "doc_id long, text string"
    )
    path = str(tmp_path / "mh")
    stage_minhash(base, path, num_hashes=32)

    # new batch: near-dup of doc 1 (one word changed), dup pair inside the
    # batch, and one unrelated doc
    nd = base_words[:]
    nd[5] = "CHANGED"
    new = spark.createDataFrame(
        [doc(10, nd), doc(11, nd), doc(12, [f"zz{j}" for j in range(40)])],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b)
        for r in minhash_append_pairs(spark, path, new, threshold=0.5, bands=16).collect()
    }
    assert (10, 11) in got          # new×new exact dup
    assert (1, 10) in got and (1, 11) in got  # new×old near-dups
    assert not any(12 in p for p in got)

    # the staged table is current: full staged re-band == inline full corpus
    full = base.unionByName(new)
    inline = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(full, threshold=0.5, num_hashes=32, bands=16).collect()
    }
    staged_now = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs_staged(spark, path, threshold=0.5, bands=16).collect()
    }
    assert staged_now == inline


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from etl_s3_to_redshift_spark.plans.warehouse import compact_parquet

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    # accrete 40 tiny files (the incremental-sink failure mode)
    spark.range(0, 4000).repartition(40).write.parquet(src)
    before, after = compact_parquet(
        spark, src, dst, target_file_bytes=10 * 1024 * 1024, sort_key="id"
    )
    assert before == 40 and after < 8
    a = {r.id for r in spark.read.parquet(src).collect()}
    b = {r.id for r in spark.read.parquet(dst).collect()}
    assert a == b


def test_resize_media_contract(spark):
    """Aspect-preserving integer math; in-bounds rows pass through
    byte-identical; oversized rows get the area-scaled byte budget."""
    from etl_s3_to_redshift_spark.operators.multimodal import resize_media

    rows = [
        (1, b"x" * 1000, "image/png", 1024, 512),  # long side 1024 -> 128
        (2, b"y" * 100, "image/png", 100, 50),     # within bounds
    ]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, mime string, width int, height int"
    )
    got = {r.media_id: r for r in resize_media(media, max_side=128).collect()}
    assert (got[1].width, got[1].height) == (128, 64)  # 1024*128//1024, 512*128//1024
    assert len(got[1].payload) == max(1, 1000 * (128 * 64) // (1024 * 512))
    assert (got[2].width, got[2].height) == (100, 50)
    assert bytes(got[2].payload) == b"y" * 100  # untouched


def test_gapfill_multi_hour_step_keeps_all_events(spark):
    """step_hours != 1 must bucket on the step grid — no event may vanish
    off-grid (regression: hour-truncated buckets missed the spine join)."""
    from etl_s3_to_redshift_spark.operators.temporal import resample_gapfill

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 10), 5.0),
            (1, datetime(2024, 1, 1, 1, 10), 3.0),   # off the 2h grid start
            (1, datetime(2024, 1, 1, 4, 10), 7.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    rows = resample_gapfill(ev, step_hours=2).collect()
    assert sum(r.n_events for r in rows) == 3  # nothing dropped
    by_bucket = {r.bucket_start.hour: r for r in rows}
    assert by_bucket[0].bucket_value == 8.0    # hours 0+1 share the 2h bucket
    assert by_bucket[2].n_events == 0 and by_bucket[2].carried_value == 8.0
    assert by_bucket[4].bucket_value == 7.0


def test_resize_media_null_dims_pass_through(spark):
    """docs_as_media produces NULL dims — those rows must pass through
    untouched, not crash the Arrow kernel (regression)."""
    from etl_s3_to_redshift_spark.operators.multimodal import (
        docs_as_media,
        resize_media,
    )

    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    got = resize_media(docs_as_media(docs), max_side=128).collect()[0]
    assert got.width is None and got.height is None
    assert bytes(got.payload) == b"hello world"


def test_minhash_append_pairs_idempotent_retry(spark, tmp_path):
    """Re-running the same batch (retry after downstream failure) must not
    duplicate staged rows or pair output (regression)."""
    from etl_s3_to_redshift_spark.operators.dedup import (
        minhash_append_pairs,
        stage_minhash,
    )

    base = spark.createDataFrame(
        [(1, " ".join(f"tok{j}" for j in range(40)))], "doc_id long, text string"
    )
    path = str(tmp_path / "mh")
    stage_minhash(base, path, num_hashes=32)
    new = spark.createDataFrame(
        [(10, " ".join(f"tok{j}" for j in range(40)))], "doc_id long, text string"
    )
    first = minhash_append_pairs(spark, path, new, threshold=0.5, bands=16).collect()
    assert {(r.id_a, r.id_b) for r in first} == {(1, 10)}
    # retry: no new staged rows, no pairs re-emitted
    n_staged = spark.read.parquet(path).count()
    second = minhash_append_pairs(spark, path, new, threshold=0.5, bands=16).collect()
    assert spark.read.parquet(path).count() == n_staged
    assert second == []


def test_compact_parquet_rejects_partitioned_layout(spark, tmp_path):
    import pytest as _pytest

    from etl_s3_to_redshift_spark.plans.warehouse import compact_parquet

    src = str(tmp_path / "part")
    spark.range(0, 100).withColumn("p", F.col("id") % 2).write.partitionBy(
        "p"
    ).parquet(src)
    with _pytest.raises(ValueError, match="partition"):
        compact_parquet(spark, src, str(tmp_path / "out"))


def test_zorder_write_tightens_stats_on_both_columns(spark, tmp_path):
    """Z-ordered files must have narrow per-file ranges on BOTH columns;
    a single-column sort leaves the second column's range at full width.
    Measured from real parquet footer stats, not the plan."""
    import glob

    import pyarrow.parquet as pq

    from etl_s3_to_redshift_spark.operators.layout import write_zordered

    n, files = 1 << 14, 16
    # two independent uniform columns (hash-decorrelated from id)
    df = (
        spark.range(n)
        .withColumn("a", F.pmod(F.xxhash64("id"), F.lit(1000)))
        .withColumn("b", F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)))
    )

    def avg_span(path, col):
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            mn, mx = None, None
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx).statistics
                mn = s.min if mn is None else min(mn, s.min)
                mx = s.max if mx is None else max(mx, s.max)
            spans.append(mx - mn)
        return sum(spans) / len(spans)

    plain = str(tmp_path / "plain")
    df.repartitionByRange(files, "a").sortWithinPartitions("a").write.parquet(plain)
    zpath = str(tmp_path / "z")
    write_zordered(df, zpath, ["a", "b"], n_files=files)

    # plain layout: 'a' is tight, 'b' is full-width (~1000)
    assert avg_span(plain, "a") < 200
    assert avg_span(plain, "b") > 800
    # z-order: both columns substantially tighter than full width
    assert avg_span(zpath, "a") < 500
    assert avg_span(zpath, "b") < 500
    # and the data survived intact
    assert spark.read.parquet(zpath).count() == n


def test_pq_recall_floor_and_determinism(spark):
    """PQ+rerank recall@10 vs exact must clear a floor; codebooks and
    codes are deterministic for a fixed seed."""
    import numpy as np

    from etl_s3_to_redshift_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk_rerank,
        train_pq_codebooks,
    )
    from tests.conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    b1 = train_pq_codebooks(emb, dim=64, m=8, n_codes=16)
    b2 = train_pq_codebooks(emb, dim=64, m=8, n_codes=16)
    assert b1.shape == (8, 16, 8) and np.array_equal(b1, b2)
    codes = pq_encode(emb, b1)
    c1 = {r.vec_id: list(r.codes) for r in codes.collect()}
    c2 = {r.vec_id: list(r.codes) for r in pq_encode(emb.repartition(7), b1).collect()}
    assert c1 == c2 and all(0 <= c < 16 for cs in c1.values() for c in cs)

    got = pq_topk_rerank(codes, b1, emb, queries, k=10, shortlist_factor=4)
    exact = brute_force_topk(emb, queries, k=10)
    gs, es = {}, {}
    for r in got.collect():
        gs.setdefault(r.query_id, set()).add(r.vec_id)
    for r in exact.collect():
        es.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(gs[q] & es[q]) / 10 for q in es]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_zorder_nulls_and_bit_budget(spark, tmp_path):
    """NULL z-values must land in bucket 0 (not the top bucket — Spark's
    least() skips NULLs); >63 interleaved bits must be rejected clearly;
    all-NULL columns must not crash the stats pass."""
    import pytest as _pytest

    from etl_s3_to_redshift_spark.operators.layout import (
        morton_interleave,
        write_zordered,
        zorder_key,
    )

    df = spark.createDataFrame(
        [(1, 100, 5), (2, None, 900), (3, 999, None)], "id long, a int, b int"
    )
    keyed = df.withColumn("z", zorder_key(df, ["a", "b"], bits=8)).collect()
    by_id = {r.id: r.z for r in keyed}
    # column a owns the even interleaved bit positions, b the odd ones; a
    # NULL must contribute ZERO bits to its positions (the inverted-least
    # bug mapped NULLs to the top bucket instead)
    a_mask = sum(1 << (2 * i) for i in range(8))
    b_mask = sum(1 << (2 * i + 1) for i in range(8))
    assert by_id[2] & a_mask == 0  # NULL a
    assert by_id[3] & b_mask == 0  # NULL b
    assert by_id[3] & a_mask > 0   # a=999 still encodes high

    with _pytest.raises(ValueError, match="63"):
        morton_interleave([F.lit(0).cast("long")] * 4, bits=16)
    # write_zordered auto-lowers bits instead
    out = str(tmp_path / "z4")
    four = df.withColumn("c", F.col("id")).withColumn("d", F.col("id"))
    write_zordered(four, out, ["a", "b", "c", "d"], n_files=1)
    assert spark.read.parquet(out).count() == 3

    allnull = spark.createDataFrame([(1, None), (2, None)], "id long, a int")
    k = allnull.withColumn("z", zorder_key(allnull, ["a"], bits=8)).collect()
    assert all(r.z == 0 for r in k)


def test_pq_empty_partition_and_tiny_corpus(spark):
    import pytest as _pytest

    from etl_s3_to_redshift_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_pq_codebooks(emb, dim=64, m=8, n_codes=16)
    # 64 partitions over 50 rows -> many empty Arrow batches
    assert pq_encode(emb.repartition(64), books).count() == emb.count()
    with _pytest.raises(ValueError, match="n_codes"):
        train_pq_codebooks(emb.limit(5), dim=64, m=8, n_codes=16)


def test_ivfpq_recall_and_cell_pruning(spark):
    """IVF-PQ composition: recall@10 clears a floor, and the codes scan is
    cell-filtered (isin over probed cells reaches the plan)."""
    from etl_s3_to_redshift_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivfpq_topk,
        pq_encode,
        train_pq_codebooks,
    )
    from tests.conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    index = build_ivf_index(emb, n_lists=8)
    books = train_pq_codebooks(emb, dim=64, m=8, n_codes=16)
    codes = pq_encode(emb, books)
    got = ivfpq_topk(index, codes, books, queries, k=10, n_probe=4, shortlist_factor=4)
    exact = brute_force_topk(emb, queries, k=10)
    gs, es = {}, {}
    for r in got.collect():
        gs.setdefault(r.query_id, set()).add(r.vec_id)
    for r in exact.collect():
        es.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(gs.get(q, set()) & es[q]) / 10 for q in es]
    # n_probe=4 of 8 cells scans ~half the codes; PQ+rerank on top
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_distributed_rerank_matches_serving_path(spark):
    """pq_topk_rerank_df (shortlist stays a DataFrame, equi-join re-rank)
    must return the identical top-k as pq_topk_rerank (collect + isin
    serving shape), its plan must contain no LocalTableScan (nothing
    re-entered via the driver), and it must handle a >=1k query set.
    Same contract for ivfpq_topk(distributed_rerank=True)."""
    from etl_s3_to_redshift_spark.operators.similarity import (
        build_ivf_index,
        ivfpq_topk,
        pq_encode,
        pq_topk_rerank,
        pq_topk_rerank_df,
        train_pq_codebooks,
    )
    from tests.conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    books = train_pq_codebooks(emb, dim=64, m=8, n_codes=16)
    codes = pq_encode(emb, books)

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    serving = pq_topk_rerank(codes, books, emb, queries, k=10, shortlist_factor=4)
    batch = pq_topk_rerank_df(codes, books, emb, queries, k=10, shortlist_factor=4)
    assert "LocalTableScan" not in batch._jdf.queryExecution().executedPlan().toString()
    s = {(r.query_id, r.vec_id, r.rank) for r in serving.collect()}
    b = {(r.query_id, r.vec_id, r.rank) for r in batch.collect()}
    assert s == b

    # batch scoring: 1000 queries (corpus twice under disjoint query ids)
    # stays fully distributed and returns k rows per query
    base = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    big_q = base.union(base.select(F.col("query_id") + 100000, "embedding"))
    n_q = big_q.count()
    assert n_q >= 1000
    big = pq_topk_rerank_df(codes, books, emb, big_q, k=5, shortlist_factor=2)
    counts = big.groupBy("query_id").count().select(F.min("count"), F.max("count")).first()
    assert counts[0] == 5 and counts[1] == 5
    assert big.count() == n_q * 5

    index = build_ivf_index(emb, n_lists=8)
    iv_serving = ivfpq_topk(index, codes, books, queries, k=10, n_probe=4)
    iv_batch = ivfpq_topk(
        index, codes, books, queries, k=10, n_probe=4, distributed_rerank=True
    )
    assert "LocalTableScan" not in iv_batch._jdf.queryExecution().executedPlan().toString()
    s = {(r.query_id, r.vec_id, r.rank) for r in iv_serving.collect()}
    b = {(r.query_id, r.vec_id, r.rank) for r in iv_batch.collect()}
    assert s == b


def test_substitution_clique_components_equals_pair_path(spark):
    """Clique-contraction labeling must equal CC over the verified pair
    list (same-length, levenshtein<=1) — across strings at, below, and
    mixing lengths <= n_segments, including the 0-length-segment case
    (strings shorter than n_segments) where the complement is the whole
    string and the total length must disambiguate the block key."""
    import itertools

    from etl_s3_to_redshift_spark.operators.fuzzy import (
        substitution_clique_components,
    )

    rows = [
        (1, "abcde"), (2, "abcdf"), (3, "xbcde"),   # chain via subs
        (4, "qrstu"), (5, "qrstu"),                  # exact dup
        (6, "zzzzz"),                                # singleton
        (7, "abcd"), (8, "abce"),                    # shorter length class
        (9, "abcdef"),                               # longer, no partner
    ]
    df = spark.createDataFrame(rows, "rec_id long, name string")
    got = {
        (r.vertex, r.component)
        for r in substitution_clique_components(
            df, "rec_id", "name", n_segments=6
        ).collect()
    }
    # oracle: brute-force pairs -> union-find
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def lev_le1(a, b):
        return len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        if lev_le1(sa, sb):
            ra, rb = find(ia), find(ib)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {(v, find(v)) for v in parent}
    assert got == want


def test_substitution_clique_components_deep_chain(spark):
    """Multi-hop chains must collapse to one component: each consecutive
    pair shares a block but no block spans the chain, so connectivity
    needs label propagation across blocks, not just the per-block star.
    Ids descend against string order so block-min relabeling isn't
    trivially the component min. Implementation-agnostic — pins any
    future rewrite of the clique-components path (a star-graph
    contraction variant was measured neutral and reverted; see
    SCALING.md round-7 second pass)."""
    from etl_s3_to_redshift_spark.operators.fuzzy import (
        substitution_clique_components,
    )

    chain = ["aaaa", "aaab", "aabb", "abbb", "bbbb", "bbbc", "bbcc"]
    rows = [(100 - i, s) for i, s in enumerate(chain)] + [(1, "zzzz")]
    df = spark.createDataFrame(rows, "rec_id long, name string")
    got = {
        (r.vertex, r.component)
        for r in substitution_clique_components(
            df, "rec_id", "name", n_segments=4
        ).collect()
    }
    ids = [100 - i for i in range(len(chain))]
    want = {(v, min(ids)) for v in ids}  # one component; singleton absent
    assert got == want


def test_star_sizing_raises_window_partitions_in_spill_regime(spark, monkeypatch):
    """In spill-regime sessions the star window's exchange is re-sized
    from the input (guide §2.2): with a 1-byte target the derived count
    hits the cap, the repartition carries the window's exact keys (so
    no second exchange is added), and rows are identical to the unsized
    plan. Below the spill knob (local core counts) the plan must NOT
    carry the explicit repartition."""
    from etl_s3_to_redshift_spark.operators import fuzzy
    from etl_s3_to_redshift_spark.operators.fuzzy import (
        _star_frame,
        substitution_clique_components,
    )

    chain = ["aaaa", "aaab", "aabb", "abbb"]
    rows = [(100 - i, s) for i, s in enumerate(chain)] + [(1, "zzzz")]
    df = spark.createDataFrame(rows, "rec_id long, name string")

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        baseline = {
            (r.vertex, r.component)
            for r in substitution_clique_components(
                df, "rec_id", "name", n_segments=4
            ).collect()
        }
        from tests.test_plans_and_scale import executed_plan_of

        # below the spill knob: no explicit repartition in the star plan
        plan_local = executed_plan_of(
            _star_frame(df, "rec_id", "name", 4), materialize=False
        )
        spark.conf.set("spark.sql.shuffle.partitions", "128")
        monkeypatch.setattr(fuzzy, "_STAR_PARTITION_BYTES", 1)
        monkeypatch.setattr(fuzzy, "_STAR_PARTITIONS_MAX", 131)
        plan_sized = executed_plan_of(
            _star_frame(df, "rec_id", "name", 4), materialize=False
        )
        assert "131" in plan_sized, plan_sized
        assert "131" not in plan_local, plan_local
        # exactly one exchange feeds the window: the explicit
        # repartition satisfies the window's distribution
        assert plan_sized.count("hashpartitioning(__ch") == 1, plan_sized
        sized = {
            (r.vertex, r.component)
            for r in substitution_clique_components(
                df, "rec_id", "name", n_segments=4
            ).collect()
        }
        assert sized == baseline
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_substitution_clique_components_rejects_long_strings(spark):
    """Strings longer than n_segments get >=2-char segments whose blocks
    are NOT cliques — the in-scan assert_true guard must fail the job
    rather than silently over-merge."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from etl_s3_to_redshift_spark.operators.fuzzy import (
        substitution_clique_components,
    )

    df = spark.createDataFrame(
        [(1, "toolongstring"), (2, "toolongstrong")], "rec_id long, name string"
    )
    with pytest.raises(Exception) as ei:
        substitution_clique_components(df, "rec_id", "name", n_segments=4).collect()
    assert "unit segments" in str(ei.value) or "assert" in str(ei.value).lower()
