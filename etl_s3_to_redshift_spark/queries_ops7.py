"""Round-4 registered queries: ANN recall auditing and further
LLM-pipeline / analytics operators.

Reference anchor: the reference has no ANN or curation surface
(/root/reference/sql_queries.py is the full query inventory); everything
here is north-star extension, verified per-query against DuckDB oracles
where SQL-expressible.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from etl_s3_to_redshift_spark.queries import _t, register
from etl_s3_to_redshift_spark.queries_data import SQL_WORDS


def _scratch_dir(spark: SparkSession, name: str) -> str:
    """Per-(session, query) scratch directory for queries that materialize
    a table as part of their semantics (the WAP snapshot queries).

    Keyed by Spark applicationId so concurrent sessions never collide,
    wiped before each use so repeated bench/oracle invocations reuse ONE
    directory instead of leaking a new mkdtemp per run, and removed at
    interpreter exit (best-effort) so nothing accumulates in /tmp across
    sessions."""
    import atexit
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_scratch_{spark.sparkContext.applicationId}",
    )
    if root not in _SCRATCH_ROOTS:
        _SCRATCH_ROOTS.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    path = os.path.join(root, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


_SCRATCH_ROOTS: set[str] = set()


# ---------------------------------------------------------------------------
# ANN recall report — approximation quality as a queryable table
# ---------------------------------------------------------------------------


@register(
    "sim_ann_recall_report",
    # REGRESSION PIN generated under Spark 4.1.2 (regenerate on an
    # engine upgrade before reading a red gate as a regression).
    # IVF/PQ involve seeded k-means no SQL engine reproduces, but the
    # whole pipeline is deterministic (content-addressed hyperplanes,
    # fixed seeds, integer hit counts — verified identical across
    # repeated runs), so the oracle is a COMMITTED EXPECTATION of the
    # row values at the driver's sf0.01 gate: a recall regression in any
    # ANN path now fails the external hash check instead of only a
    # pytest floor. Consistency with the per-method floors is pinned in
    # tests/test_ops7.py. Valid only at sf0.01 (oracle_sf); other SFs
    # fall back to rows-only.
    """
    SELECT method, CAST(k AS INTEGER) AS k,
           CAST(n_queries AS INTEGER) AS n_queries,
           CAST(n_hits AS INTEGER) AS n_hits,
           CAST(recall AS DOUBLE) AS recall
    FROM (VALUES
        ('lsh',   10, 5, 20, 0.4),
        ('ivf',   10, 5, 38, 0.76),
        ('pq',    10, 5, 36, 0.72),
        ('ivfpq', 10, 5, 30, 0.6)
    ) AS t(method, k, n_queries, n_hits, recall)
    """,
    oracle_sf="sf0.01",
    doc=(
        "Recall@10 of every ANN path (LSH, IVF, PQ-rerank, IVF-PQ) "
        "against the exact brute-force top-k, as a 4-row table "
        "(method, k, n_queries, n_hits, recall). Makes approximation "
        "quality externally auditable instead of living only in pytest "
        "floors: the driver records the row VALUES, so a recall "
        "regression shows up as a changed artifact even without an SQL "
        "oracle. Each method runs with exactly the parameters of its "
        "registered query (sim_ann_lsh / sim_ann_ivf / sim_ann_pq / "
        "sim_ann_ivfpq), all seeded-deterministic; the ground truth is "
        "the sim_topk_cosine exact query. Scale shape: each method is "
        "its own bucketed plan; the recall join is a candidate-sized "
        "semi-join against the k*n_queries truth set — negligible next "
        "to the searches themselves."
    ),
)
def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_probe,
        ivfpq_topk,
        lsh_topk,
        pq_encode,
        pq_topk_rerank,
        train_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    truth = brute_force_topk(emb, queries, k=10, round_to=6).select(
        "query_id", "vec_id"
    )

    index = build_ivf_index(emb, n_lists=16)
    books = train_pq_codebooks(emb, dim=64, m=8, n_codes=16)
    codes = pq_encode(emb, books)
    methods = {
        "lsh": lsh_topk(emb, queries, dim=64, k=10, round_to=6),
        # ivf_probe on the shared index == sim_ann_ivf's ivf_topk output
        # (same n_lists/n_probe/seed) without training k-means twice
        "ivf": ivf_probe(index, queries, k=10, n_probe=4),
        "pq": pq_topk_rerank(codes, books, emb, queries, k=10, shortlist_factor=4),
        "ivfpq": ivfpq_topk(
            index, codes, books, queries, k=10, n_probe=4, shortlist_factor=4
        ),
    }

    n_truth = truth.count()
    reports = []
    for name, topk in methods.items():
        hits = topk.select("query_id", "vec_id").join(
            truth, ["query_id", "vec_id"], "left_semi"
        )
        reports.append(
            hits.agg(F.count(F.lit(1)).alias("n_hits")).select(
                F.lit(name).alias("method"),
                F.lit(10).alias("k"),
                F.lit(5).alias("n_queries"),
                F.col("n_hits").cast("int").alias("n_hits"),
                F.round(F.col("n_hits") / F.lit(float(n_truth)), 4).alias("recall"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# Write-audit-publish snapshot table (atomic-commit seam)
# ---------------------------------------------------------------------------


@register(
    "delta_snapshot_read",
    """
    WITH b1 AS (
        SELECT c_custkey, c_mktsegment, 1 AS ver
        FROM customer WHERE c_custkey % 3 = 0
    ),
    b2 AS (
        SELECT c_custkey, 'MOVED' AS c_mktsegment, 2 AS ver
        FROM customer WHERE c_custkey % 6 = 0
        UNION ALL
        SELECT c_custkey + 500000, 'NEWSEG', 2
        FROM customer WHERE c_custkey % 50 = 0
    ),
    all_rows AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT c_custkey, c_mktsegment, ver FROM (
        SELECT c_custkey, c_mktsegment, ver,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY ver DESC, c_mktsegment DESC) AS rn
        FROM all_rows
    ) WHERE rn = 1
    """,
    doc=(
        "Write-audit-publish snapshot table end-to-end "
        "(operators/table_commit.SnapshotTable + streaming/upsert."
        "upsert_table): two CDC batches committed as immutable v=<n> "
        "snapshot dirs behind an atomically swapped _CURRENT pointer, "
        "then read back through the pointer. Latest version per key "
        "wins (version-aware merge, replay-safe); concurrent readers "
        "see complete old-or-new snapshots, never torn directories — "
        "crash-injection pinned in tests/test_table_commit.py. On a "
        "lakehouse this sink is Delta/Iceberg MERGE; the operators are "
        "unchanged."
    ),
)
def delta_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.table_commit import SnapshotTable
    from etl_s3_to_redshift_spark.streaming.upsert import upsert_table

    cust = _t(spark, sf_dir, "customer")
    b1 = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_mktsegment", F.lit(1).alias("ver")
    )
    b2 = (
        cust.filter(F.col("c_custkey") % 6 == 0)
        .select("c_custkey", F.lit("MOVED").alias("c_mktsegment"), F.lit(2).alias("ver"))
        .unionByName(
            cust.filter(F.col("c_custkey") % 50 == 0).select(
                (F.col("c_custkey") + 500000).alias("c_custkey"),
                F.lit("NEWSEG").alias("c_mktsegment"),
                F.lit(2).alias("ver"),
            )
        )
    )
    # NOTE for bench readers: this query's timing includes two full
    # snapshot WRITES by design (it measures the WAP commit path, not
    # just the read-back); the scratch dir is session-scoped and wiped
    # per invocation, never accumulated.
    table = SnapshotTable(_scratch_dir(spark, "wap_snapshot_read"))
    upsert_table(spark, b1, table, "c_custkey", "ver")
    upsert_table(spark, b2, table, "c_custkey", "ver")
    return table.read(spark).select("c_custkey", "c_mktsegment", "ver")


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit — corpus health diagnostic
# ---------------------------------------------------------------------------


@register(
    "text_zipf_fit",
    """
    WITH vocab AS (
        SELECT token, count(*) AS n
        FROM (
            SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
            FROM documents
        ) WHERE length(token) >= 1
        GROUP BY token
    ),
    ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
        FROM vocab
    ),
    fitted AS (SELECT ln(CAST(rank AS DOUBLE)) AS lr, ln(CAST(n AS DOUBLE)) AS lf
               FROM ranked WHERE rank <= 1000)
    SELECT CAST((SELECT count(*) FROM vocab) AS BIGINT) AS n_vocab,
           CAST((SELECT sum(n) FROM vocab) AS BIGINT) AS n_tokens,
           round(regr_slope(lf, lr), 6) AS zipf_slope,
           round(regr_intercept(lf, lr), 6) AS zipf_intercept,
           round(regr_r2(lf, lr), 6) AS zipf_r2
    FROM fitted
    """,
    doc=(
        "Zipf law fit over the corpus vocabulary: least-squares slope/"
        "intercept/R^2 of ln(frequency) vs ln(rank) for the top-1000 "
        "ranks — the rank-frequency diagnostic that flags template-heavy "
        "or boilerplate-polluted corpora (natural text fits slope ~ -1; "
        "a flat head or cliff means duplication or truncation artifacts "
        "upstream). Same [a-z]+ tokenization as text_vocab_topk. Scale "
        "shape: ONE vocabulary-sized map-side-combined groupBy; the "
        "ranking windows over the vocab frame, never corpus rows, and "
        "the regression is Spark's built-in regr_* aggregates over 1000 "
        "points (a scalar fold, no collect). Tie order (n desc, token "
        "asc) makes ranks — hence the fit — deterministic cross-engine."
    ),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_s3_to_redshift_spark.functions.text import alpha_words

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(alpha_words(F.col("text"))).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    totals = vocab.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum("n").cast("long").alias("n_tokens"),
    )
    # top-1000 via orderBy+limit -> TakeOrderedAndProject (per-task heaps),
    # NOT row_number over the full vocab — a global single-partition window
    # sort of a web-scale vocabulary is the smell this avoids; the rank
    # window then runs on the bounded 1000-row frame only
    top = vocab.orderBy(F.col("n").desc(), F.col("token").asc()).limit(1000)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    fitted = (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            F.log(F.col("rank").cast("double")).alias("lr"),
            F.log(F.col("n").cast("double")).alias("lf"),
        )
        .agg(
            F.round(F.regr_slope("lf", "lr"), 6).alias("zipf_slope"),
            F.round(F.regr_intercept("lf", "lr"), 6).alias("zipf_intercept"),
            F.round(F.regr_r2("lf", "lr"), 6).alias("zipf_r2"),
        )
    )
    return totals.crossJoin(fitted)


# ---------------------------------------------------------------------------
# Market-basket co-purchase pairs
# ---------------------------------------------------------------------------


def _baskets(li) -> DataFrame:
    """Per-order sorted distinct part arrays — ONE fact shuffle that
    every basket-level aggregate (pairs, per-item order counts, basket
    total) derives from, so branches sharing it plan byte-identical
    Exchange subtrees and ReuseExchange collapses them to a single
    physical shuffle (guide §2.4: operations keyed the same way share
    one exchange)."""
    return li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )


def _order_pair_counts(li) -> DataFrame:
    """(part_a < part_b, n_orders) co-occurrence counts, generated IN-ROW:
    one shuffle groups lineitems into per-order sorted distinct part
    arrays, pairs explode from each array (quadratic only within the
    bounded basket), and the pair aggregate map-side combines. Replaces
    the items-level self-join — joining two corpus-sized sides on
    l_orderkey — with a single fact shuffle; measured 5.8 -> 3.6 s at
    sf1 with identical output."""
    baskets = _baskets(li)
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ps"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                        lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return pairs.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


@register(
    "basket_copurchase_pairs",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a ASC, part_b ASC
    LIMIT 50
    """,
    doc=(
        "Market-basket co-purchase mining: the 50 part pairs most often "
        "bought in the same order — the association-rule seed "
        "(recommendations, bundle detection). Scale shape: the pair "
        "generation is a self-equi-join on l_orderkey, quadratic only "
        "WITHIN an order, and basket size is bounded (~7 lineitems in "
        "TPC-H, small constants in any retail schema), so the candidate "
        "set is O(rows x basket), not O(rows^2); the groupBy shuffles "
        "pair-sized partials with map-side combine and the top-50 is "
        "TakeOrderedAndProject (per-task heaps, no global sort). Tie "
        "order (count desc, part_a asc, part_b asc) pins the cut."
    ),
)
def basket_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _order_pair_counts(_t(spark, sf_dir, "lineitem"))
        .orderBy(F.col("n_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------


@register(
    "customer_rfm_segments",
    """
    WITH rfm AS (
        SELECT o_custkey AS custkey,
               CAST(date_diff('day', DATE '1990-01-01', CAST(max(o_orderdate) AS DATE)) AS BIGINT) AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(o_totalprice) AS DOUBLE) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    bounds AS (
        SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
               quantile_cont(frequency,    [0.2, 0.4, 0.6, 0.8]) AS fb,
               quantile_cont(monetary,     [0.2, 0.4, 0.6, 0.8]) AS mb
        FROM rfm
    ),
    scored AS (
        SELECT
          1 + CAST(recency_days > rb[1] AS INT) + CAST(recency_days > rb[2] AS INT)
            + CAST(recency_days > rb[3] AS INT) + CAST(recency_days > rb[4] AS INT) AS r_q,
          1 + CAST(frequency > fb[1] AS INT) + CAST(frequency > fb[2] AS INT)
            + CAST(frequency > fb[3] AS INT) + CAST(frequency > fb[4] AS INT) AS f_q,
          1 + CAST(monetary > mb[1] AS INT) + CAST(monetary > mb[2] AS INT)
            + CAST(monetary > mb[3] AS INT) + CAST(monetary > mb[4] AS INT) AS m_q,
          monetary
        FROM rfm, bounds
    )
    SELECT r_q, f_q, m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(monetary), 2) AS total_monetary
    FROM scored GROUP BY r_q, f_q, m_q
    """,
    doc=(
        "RFM segmentation: per-customer recency (days since epoch of "
        "last order) / frequency / monetary, bucketed into quintiles by "
        "EXACT interpolated percentile boundaries, aggregated to the "
        "<=125 (r,f,m) segments with customer counts and value. "
        "Deliberately NOT a global ntile — ranking every customer in one "
        "window partition is a single-node sort at 10^9 customers. "
        "Instead: one fact shuffle groups orders by customer, one tiny "
        "aggregate computes 12 boundary scalars (broadcast back as "
        "literals via a 1-row cross join), and bucketing is an in-scan "
        "comparison — the same plan shape as winsorize. Spark percentile "
        "== DuckDB quantile_cont (linear interpolation) on integer/"
        "double inputs, so boundaries are bit-identical cross-engine."
    ),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(F.max("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum("o_totalprice").cast("double").alias("monetary"),
    )
    probs = [0.2, 0.4, 0.6, 0.8]
    bounds = rfm.agg(
        *[
            F.percentile(F.col(c), F.lit(p)).alias(f"{c}_{i}")
            for c in ("recency_days", "frequency", "monetary")
            for i, p in enumerate(probs)
        ]
    )
    scored = rfm.crossJoin(F.broadcast(bounds))

    def quintile(c: str):
        q = F.lit(1)
        for i in range(4):
            q = q + (F.col(c) > F.col(f"{c}_{i}")).cast("int")
        return q

    return (
        scored.select(
            quintile("recency_days").alias("r_q"),
            quintile("frequency").alias("f_q"),
            quintile("monetary").alias("m_q"),
            "monetary",
        )
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.sum("monetary"), 2).alias("total_monetary"),
        )
    )


# ---------------------------------------------------------------------------
# PageRank over the nation trade graph — iterative algorithm, exact oracle
# ---------------------------------------------------------------------------

_PR_DAMP = 0.85
_PR_ITERS = 3
_PR_EDGE_SQL = """
    edges AS (
        SELECT n1.n_name AS src, n2.n_name AS dst,
               sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS w
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
        GROUP BY src, dst
    ),
    nodes AS (SELECT n_name AS node FROM nation),
    outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src),
    probs AS (
        SELECT src, dst, CAST(w AS DOUBLE) / CAST(out_w AS DOUBLE) AS p
        FROM edges JOIN outw USING (src)
    ),
    ns AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes),
    r0 AS (SELECT node, 1.0 / nn AS pr FROM nodes CROSS JOIN ns)
"""


def _pr_iter_sql(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
    d{i} AS (
        SELECT coalesce(sum(pr), 0.0) AS dang
        FROM {prev} LEFT JOIN outw ON {prev}.node = outw.src
        WHERE out_w IS NULL
    ),
    c{i} AS (
        SELECT probs.dst AS node, sum({prev}.pr * probs.p) AS contrib
        FROM {prev} JOIN probs ON probs.src = {prev}.node
        GROUP BY probs.dst
    ),
    r{i} AS (
        SELECT n.node,
               (1 - {_PR_DAMP}) / ns.nn
                 + {_PR_DAMP} * (coalesce(c{i}.contrib, 0.0) + d{i}.dang / ns.nn)
                   AS pr
        FROM nodes n CROSS JOIN ns CROSS JOIN d{i}
        LEFT JOIN c{i} ON c{i}.node = n.node
    )"""


@register(
    "graph_pagerank_nations",
    "WITH "
    + _PR_EDGE_SQL
    + ","
    + ",".join(_pr_iter_sql(i) for i in range(1, _PR_ITERS + 1))
    + f"""
    SELECT node AS nation, round(pr, 6) AS pagerank
    FROM r{_PR_ITERS}
    """,
    doc=(
        "Weighted PageRank (damping 0.85, 3 power iterations, dangling "
        "mass redistributed) over the nation trade graph: edge (src, "
        "dst) = supplier-nation ships to customer-nation, weighted by "
        "exact-decimal revenue. The iterative-algorithm pattern: ONE "
        "fact-sized join pipeline builds the edge aggregate, then every "
        "iteration joins node-sized frames (ranks x edges <= |V|^2 "
        "rows) — the loop never rescans the fact table, which is how "
        "PageRank/label-propagation run at 100 TB (same shape as "
        "dedup_groups_connected's min-label iteration). Transition "
        "probabilities divide exact decimals cast to double, so both "
        "engines iterate identical values; the final 6-dp round absorbs "
        "sub-ulp drift of the <=|V|-term contribution sums."
    ),
)
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.analytics import money

    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = money("l_extendedprice") * (F.lit(1) - money("l_discount"))
    # Edge build restructured so the FACT shuffles once, not three times
    # (measured sf10 18.7 → 9.6 s, sf100 144.9 → 86.0 s, output
    # identical — exact-decimal sums are associative across join
    # orders): supplier projects to its 2 join/nation columns and joins
    # SIZE-DRIVEN (16 MB at sf100 → auto-broadcast, so lineitem never
    # shuffles on suppkey; at a true lake scale where suppliers outgrow
    # the threshold it falls back to SMJ — deliberately NOT a forced
    # broadcast, supplier scales with SF); orders⋈customer resolves the
    # customer nation on the ORDER-sized side first; the one remaining
    # fact-sized exchange is lineitem⋈orders on orderkey, and the
    # nation-pair aggregate map-side combines to ≤625 rows.
    sup = s.select("s_suppkey", "s_nationkey")
    o2 = (
        o.select("o_orderkey", "o_custkey")
        .join(c.select("c_custkey", "c_nationkey"), o["o_custkey"] == c["c_custkey"])
        .select("o_orderkey", "c_nationkey")
    )
    li = (
        l.select("l_orderkey", "l_suppkey", rev.alias("__rev"))
        .join(sup, F.col("l_suppkey") == sup["s_suppkey"])
        .select("l_orderkey", "s_nationkey", "__rev")
    )
    edges = (
        li.join(o2, li["l_orderkey"] == o2["o_orderkey"])
        .join(F.broadcast(n.alias("n1")), F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(n.alias("n2")), F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .groupBy(F.col("n1.n_name").alias("src"), F.col("n2.n_name").alias("dst"))
        .agg(F.sum("__rev").alias("w"))
    )
    # the unrolled final plan references the edge aggregate once per
    # iteration (contrib + dangling) — without truncation Spark would
    # re-run the fact-sized join pipeline for every reference. The edge
    # list is node^2-sized (<=625 rows), so localCheckpoint materializes
    # it once and the iterations reuse the tiny frame (3.45s -> ~1s at
    # sf0.1; same pattern as dedup_groups_incremental). MEMORY_AND_DISK,
    # not DISK_ONLY: eviction spills (never drops) under this level, and
    # a <=625-row block is not worth a per-reference disk read — the
    # DISK_ONLY rule is for fact/corpus-sized truncated frames only.
    edges = edges.localCheckpoint(
        eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    probs = edges.join(outw, "src").select(
        "src", "dst", (F.col("w").cast("double") / F.col("out_w").cast("double")).alias("p")
    )
    nodes = n.select(F.col("n_name").alias("node"))
    nn = float(nodes.count())  # bounded dimension scalar (25 nations)
    ranks = nodes.withColumn("pr", F.lit(1.0 / nn))
    for _ in range(_PR_ITERS):
        # each iteration references ranks twice (contribution + dangling)
        # — checkpoint keeps the lineage linear instead of doubling per
        # round, and the frame is |V| rows (25) so it stays memory-level
        ranks = ranks.localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        contrib = (
            ranks.join(probs, ranks["node"] == probs["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") * F.col("p")).alias("contrib"))
        )
        dang = (
            ranks.join(outw.select(F.col("src").alias("node")), "node", "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(dang))
            .join(F.broadcast(contrib), "node", "left")
            .select(
                "node",
                (
                    F.lit((1 - _PR_DAMP) / nn)
                    + F.lit(_PR_DAMP)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("dang") / nn)
                ).alias("pr"),
            )
        )
    return ranks.select(F.col("node").alias("nation"), F.round("pr", 6).alias("pagerank"))


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest daily activity streak per user
# ---------------------------------------------------------------------------


@register(
    "w9_longest_daily_streak",
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    isl AS (
        SELECT user_id,
               date_diff('day', DATE '2024-01-01', day)
                 - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        FROM days
    ),
    runs AS (SELECT user_id, grp, count(*) AS len FROM isl GROUP BY user_id, grp)
    SELECT user_id,
           CAST(max(len) AS INTEGER) AS longest_streak,
           CAST(sum(len) AS INTEGER) AS n_active_days
    FROM runs GROUP BY user_id
    """,
    doc=(
        "Gaps-and-islands: longest run of consecutive active days per "
        "user (day_number - row_number is constant within a run — the "
        "classic islands key), plus total active days. All-integer "
        "arithmetic, so exact cross-engine. Scale shape: one distinct "
        "over (user, day) — map-side combined, day-granular so far "
        "smaller than raw events — then a user-partitioned window and "
        "two user-sized aggregates; nothing event-sized ever windows."
    ),
)
def w9_longest_daily_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    days = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.select(
        "user_id",
        (
            F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    runs = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return runs.groupBy("user_id").agg(
        F.max("len").cast("int").alias("longest_streak"),
        F.sum("len").cast("int").alias("n_active_days"),
    )


# ---------------------------------------------------------------------------
# RAG/context chunking: overlapping token windows
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 64
_CHUNK_STRIDE = 32


@register(
    "text_chunk_windows",
    rf"""
    WITH w AS (
        SELECT doc_id, {SQL_WORDS.format(t='text')} AS toks FROM documents
    ),
    starts AS (
        SELECT doc_id, toks, len(toks) AS n,
               unnest(range(0, greatest(len(toks), 1), {_CHUNK_STRIDE})) AS s
        FROM w WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(s / {_CHUNK_STRIDE} AS INTEGER) AS chunk_no,
           CAST(least(n - s, {_CHUNK_SIZE}) AS INTEGER) AS n_chunk_tokens,
           array_to_string(list_slice(toks, s + 1, least(s + {_CHUNK_SIZE}, n)), ' ')
               AS chunk_text
    FROM starts
    """,
    doc=(
        "RAG/context chunking: split each document into overlapping "
        f"{_CHUNK_SIZE}-token windows at stride {_CHUNK_STRIDE} "
        "(50% overlap), emitting (doc_id, chunk_no, n_chunk_tokens, "
        "chunk_text) — the retrieval-index / context-packing primitive "
        "every RAG and long-context training pipeline needs. Scale "
        "shape: tokenize + start-generation + slice are all in-scan "
        "expressions (explode of an int sequence, then slices of the "
        "already-tokenized array — the text is scanned once and never "
        "re-tokenized per chunk); no shuffle at all, partitioning "
        "preserved, ~2x row amplification at these parameters. "
        "Downstream embedding/indexing jobs consume the chunks "
        "id-partitioned."
    ),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.functions.text import words

    toks = _t(spark, sf_dir, "documents").select(
        "doc_id", words(F.col("text")).alias("toks")
    )
    staged = (
        toks.withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
        .select(
            "doc_id",
            "toks",
            "n",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("n") - 1, F.lit(0)),
                    F.lit(_CHUNK_STRIDE),
                )
            ).alias("s"),
        )
    )
    return staged.select(
        "doc_id",
        (F.col("s") / _CHUNK_STRIDE).cast("int").alias("chunk_no"),
        F.least(F.col("n") - F.col("s"), F.lit(_CHUNK_SIZE))
        .cast("int")
        .alias("n_chunk_tokens"),
        F.array_join(F.slice(F.col("toks"), F.col("s") + 1, F.lit(_CHUNK_SIZE)), " ").alias(
            "chunk_text"
        ),
    )


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training
# ---------------------------------------------------------------------------


@register(
    "text_bpe_merges",
    # Iterative argmax training is not SQL-expressible, but it IS
    # deterministic — so the oracle is a PRECOMPUTED EXPECTATION: the 16
    # merges computed by a fully independent path (DuckDB tokenization +
    # pure-Python classic BPE, tools/gen_bpe_oracle.py) on the sf0.01
    # corpus the driver's correctness gate runs against. Regenerate with
    # `python tools/gen_bpe_oracle.py /root/testdata/sf0.01 16` if the
    # testdata ever changes. Valid ONLY at sf0.01 (oracle_sf below);
    # other SFs fall back to the rows-only check, and exactness at any
    # input stays pinned in tests/test_ops7.py against the pure-Python
    # reference.
    """
    SELECT CAST(merge_rank AS INTEGER) AS merge_rank,
           "left", "right", merged,
           CAST(pair_n AS BIGINT) AS pair_n
    FROM (VALUES
        (0, 'e', 'r', 'er', 4568),
        (1, 'e', '</w>', 'e</w>', 4473),
        (2, 'n', '</w>', 'n</w>', 2834),
        (3, 'er', '</w>', 'er</w>', 2779),
        (4, 'o', 'w', 'ow', 2747),
        (5, 'ow', '</w>', 'ow</w>', 2747),
        (6, 'o', 'r', 'or', 2696),
        (7, 's', 't', 'st', 2676),
        (8, 'h', '</w>', 'h</w>', 1884),
        (9, 'a', 't', 'at', 1845),
        (10, 'l', 'u', 'lu', 1831),
        (11, 'i', 'n', 'in', 1796),
        (12, 'a', '</w>', 'a</w>', 1788),
        (13, 'g', '</w>', 'g</w>', 1777),
        (14, 'y', '</w>', 'y</w>', 1767),
        (15, 'a', 'r', 'ar', 1758)
    ) AS t(merge_rank, "left", "right", merged, pair_n)
    """,
    oracle_sf="sf0.01",
    doc=(
        "Distributed BPE tokenizer training "
        "(operators/bpe.train_bpe): 16 byte-pair merges learned over "
        "the corpus, returned as the ordered merge table (merge_rank, "
        "left, right, merged, pair_n). Scale shape: the corpus is "
        "scanned ONCE into the word-frequency table; every merge "
        "iteration explodes adjacent symbol pairs of THAT vocabulary-"
        "sized table (weighted by word count, map-side combined) and "
        "rewrites symbol arrays with a JVM-side aggregate fold — no "
        "Python touches row data, and the only driver round-trip per "
        "iteration is the 1-row argmax. Deterministic: exact integer "
        "counts, (count desc, left asc, right asc) tiebreak, index-"
        "order fold."
    ),
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.bpe import train_bpe

    return train_bpe(_t(spark, sf_dir, "documents"), n_merges=16)


# ---------------------------------------------------------------------------
# Classical time-series decomposition (trend / seasonal / residual)
# ---------------------------------------------------------------------------


@register(
    "ts_decompose_hourly",
    """
    WITH series AS (
        SELECT date_trunc('hour', ts) AS bucket, CAST(count(*) AS BIGINT) AS s
        FROM events GROUP BY 1
    ),
    tr AS (
        SELECT bucket, s,
               CAST(sum(s) OVER w AS BIGINT) AS sum25,
               CAST(count(*) OVER w AS BIGINT) AS n25
        FROM series
        WINDOW w AS (ORDER BY bucket ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    detr AS (
        SELECT bucket, s,
               CASE WHEN n25 = 25 THEN sum25 END AS sum25,
               CASE WHEN n25 = 25 THEN 25 * s - sum25 END AS d25,
               CAST(extract(hour FROM bucket) AS BIGINT) AS hod
        FROM tr
    ),
    seas AS (
        SELECT hod,
               CAST(sum(d25) AS BIGINT) AS num,
               CAST(25 * count(d25) AS BIGINT) AS den
        FROM detr WHERE d25 IS NOT NULL GROUP BY hod
    )
    -- + 0 normalizes IEEE negative zero (round can yield -0.0 and the
    -- engines disagree on which); -0.0 + 0.0 = +0.0 exactly
    SELECT d.bucket, d.s AS n_events,
           round(CAST(d.sum25 AS DOUBLE) / 25, 6) + 0 AS trend,
           round(CAST(num AS DOUBLE) / den, 6) + 0 AS seasonal,
           round((d.s - CAST(d.sum25 AS DOUBLE) / 25)
                 - CAST(num AS DOUBLE) / den, 6) + 0 AS residual
    FROM detr d JOIN seas ON seas.hod = d.hod
    """,
    doc=(
        "Classical additive decomposition of the hourly event series: "
        "trend = centered 25-point moving average (NULL-gated to full "
        "windows), seasonal = hour-of-day mean of the detrended series, "
        "residual = series - trend - seasonal. All intermediate "
        "arithmetic is INTEGER (25*s - sum25 keeps the detrended values "
        "exact; each output is one integer division) so both engines "
        "produce identical doubles — no summation-order drift to paper "
        "over. Scale shape: one event-sized bucket aggregate, then every "
        "window/join runs on the bucket-count-sized series (time-span "
        "bounded, not data bounded) with the 24-row seasonal profile "
        "joined back broadcast."
    ),
)
def ts_decompose_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    series = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("s"))
    )
    w = Window.orderBy("bucket").rowsBetween(-12, 12)
    tr = series.select(
        "bucket",
        "s",
        F.sum("s").over(w).cast("long").alias("sum25"),
        F.count(F.lit(1)).over(w).cast("long").alias("n25"),
    )
    detr = tr.select(
        "bucket",
        "s",
        F.when(F.col("n25") == 25, F.col("sum25")).alias("sum25"),
        F.when(F.col("n25") == 25, 25 * F.col("s") - F.col("sum25")).alias("d25"),
        F.hour("bucket").cast("long").alias("hod"),
    )
    seas = (
        detr.filter(F.col("d25").isNotNull())
        .groupBy("hod")
        .agg(
            F.sum("d25").cast("long").alias("num"),
            (25 * F.count("d25")).cast("long").alias("den"),
        )
    )
    trend = F.col("sum25").cast("double") / 25
    seasonal = F.col("num").cast("double") / F.col("den")
    # + 0.0 normalizes IEEE negative zero symmetrically with the oracle
    return detr.join(F.broadcast(seas), "hod").select(
        "bucket",
        F.col("s").alias("n_events"),
        (F.round(trend, 6) + F.lit(0.0)).alias("trend"),
        (F.round(seasonal, 6) + F.lit(0.0)).alias("seasonal"),
        (F.round((F.col("s") - trend) - seasonal, 6) + F.lit(0.0)).alias("residual"),
    )


# ---------------------------------------------------------------------------
# Interval stabbing: in-flight shipments per day (+1/-1 sweep)
# ---------------------------------------------------------------------------


@register(
    "ts_inflight_shipments_daily",
    """
    WITH li AS (
        SELECT o.o_orderdate AS start_ts, l.l_shipdate AS end_ts
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    ),
    deltas AS (
        SELECT CAST(start_ts AS DATE) AS day, 1 AS d FROM li
        UNION ALL
        SELECT CAST(end_ts AS DATE) AS day, -1 AS d FROM li
    ),
    daily AS (
        SELECT day, CAST(sum(d) AS BIGINT) AS net FROM deltas GROUP BY day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(sum(net) OVER (ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_inflight
    FROM daily
    """,
    doc=(
        "Interval stabbing via the +1/-1 sweep: how many lineitems are "
        "open (ordered, not yet shipped) on each day — the "
        "concurrent-intervals pattern (active sessions, open orders, "
        "connection counts) WITHOUT exploding one row per interval-day. "
        "Scale shape: the fact contributes exactly two delta rows per "
        "interval; the groupBy collapses them to day-granular nets "
        "(time-span bounded, not data bounded) and the running sum "
        "windows over that small series. The naive alternative — "
        "explode each interval into its days — amplifies by mean "
        "interval length; the sweep is O(2·rows + days). All-integer, "
        "exact cross-engine."
    ),
)
def ts_inflight_shipments_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    li = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("o_orderdate").alias("start_ts"), F.col("l_shipdate").alias("end_ts")
        )
    )
    deltas = li.select(
        F.col("start_ts").cast("date").alias("day"), F.lit(1).alias("d")
    ).unionAll(
        li.select(F.col("end_ts").cast("date").alias("day"), F.lit(-1).alias("d"))
    )
    daily = deltas.groupBy("day").agg(F.sum("d").cast("long").alias("net"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    # day serialized as yyyy-MM-dd: DuckDB DATE arrives via pandas as a
    # midnight timestamp, so the stable cross-engine carrier is a string
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.sum("net").over(w).cast("long").alias("n_inflight"),
    )


# ---------------------------------------------------------------------------
# Entity resolution end-to-end: fuzzy blocking -> match -> cluster
# ---------------------------------------------------------------------------


@register(
    "entity_groups_fuzzy",
    """
    WITH RECURSIVE recs AS (
        SELECT c_custkey AS rec_id, c_name AS name FROM customer
        UNION ALL
        SELECT c_custkey + 1000000,
               concat(substring(c_name, 1, 9 + (c_custkey % 9)), 'x',
                      substring(c_name, 11 + (c_custkey % 9)))
        FROM customer WHERE c_custkey % 4 = 0
    ), pairs AS (
        SELECT a.rec_id AS id_a, b.rec_id AS id_b
        FROM recs a JOIN recs b
          ON a.rec_id < b.rec_id
         AND length(a.name) = length(b.name)
         AND levenshtein(a.name, b.name) <= 1
    ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), cc(vertex, component) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, c.component FROM edges e JOIN cc c ON c.vertex = e.v
    ), comp AS (SELECT vertex, min(component) AS component FROM cc GROUP BY vertex)
    SELECT coalesce(comp.component, r.rec_id) AS entity_id,
           r.rec_id AS member_id,
           (coalesce(comp.component, r.rec_id) = r.rec_id) AS is_canonical
    FROM recs r LEFT JOIN comp ON comp.vertex = r.rec_id
    """,
    doc=(
        "Entity resolution end-to-end: records (customers + planted "
        "single-substitution variants) are grouped under the relation "
        "same-length AND levenshtein<=1 WITHOUT materializing a pair "
        "list (operators/fuzzy.substitution_clique_components): with "
        "unit segments every complement block is an exact clique "
        "(pigeonhole recall 1.0, clique precision 1.0), so a per-block "
        "star (member -> block-min) feeds connected components "
        "directly — one block-min window shuffle replaces the block "
        "self-join + pair dedup + levenshtein verify of the pair path. "
        "Min-label CC assigns entity ids (adaptive: driver union-find "
        "below 2M star rows, distributed pointer jumping above — the "
        "sf10 lake exercises the latter); singletons are their own "
        "entity via the left join. Oracle: the naive all-pairs "
        "definition + recursive CTE, UNCHANGED from the pair-path "
        "implementation — same output, cheaper plan (4.9 -> 1.9 s at "
        "sf0.1). The synthetic lake is a dense stress case: ~290k true "
        "match pairs over 18.7k records at sf0.1 (avg degree 31)."
    ),
)
def entity_groups_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.fuzzy import (
        substitution_clique_components,
    )

    cust = _t(spark, sf_dir, "customer")
    records = cust.select(
        F.col("c_custkey").alias("rec_id"), F.col("c_name").alias("name")
    ).unionByName(
        cust.filter(F.col("c_custkey") % 4 == 0).select(
            (F.col("c_custkey") + 1_000_000).alias("rec_id"),
            F.expr(
                "concat(substring(c_name, 1, 9 + (c_custkey % 9)), 'x',"
                " substring(c_name, 11 + (c_custkey % 9)))"
            ).alias("name"),
        )
    )
    # n_segments = observed max name length → unit segments, so the pair
    # list never materializes: each complement block is an exact clique
    # and a per-block star feeds connected components directly (one
    # shuffle replaces block self-join + pair dedup + levenshtein — see
    # operators/fuzzy.substitution_clique_components; r6 perf task).
    # Derived from the data (1-row scalar aggregate, one linear scan)
    # rather than hardcoded: the 18-char `Customer#%09d` assumption broke
    # at sf100, where 10-digit offset keys widen names to 19 chars.
    n_seg = records.agg(F.max(F.length("name"))).first()[0]
    comp = substitution_clique_components(
        records, id_col="rec_id", s_col="name", n_segments=int(n_seg)
    )
    out = records.join(
        comp.withColumnRenamed("vertex", "rec_id"), "rec_id", "left"
    ).select(
        F.coalesce(F.col("component"), F.col("rec_id")).alias("entity_id"),
        F.col("rec_id").alias("member_id"),
        (
            F.coalesce(F.col("component"), F.col("rec_id")) == F.col("rec_id")
        ).alias("is_canonical"),
    )
    return out


# ---------------------------------------------------------------------------
# Data-quality expectations report (dbt-test surface)
# ---------------------------------------------------------------------------


@register(
    "dq_orders_expectations",
    """
    SELECT 'orderkey_not_null' AS rule,
           CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'totalprice_positive',
           CAST(count(*) FILTER (WHERE o_totalprice IS NULL OR o_totalprice < 1e-9) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'status_in_set',
           CAST(count(*) FILTER (WHERE o_orderstatus IS NULL
                                    OR o_orderstatus NOT IN ('O','F','P')) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orderkey_unique',
           CAST(coalesce(sum(n - 1), 0) AS BIGINT)
    FROM (SELECT o_orderkey, count(*) AS n FROM orders
          WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey
          HAVING count(*) > 1)
    UNION ALL
    SELECT 'custkey_references_customer',
           CAST(count(*) AS BIGINT)
    FROM orders o
    WHERE o.o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
    doc=(
        "Data-quality expectation suite (operators/quality."
        "expectations_report): not-null / positive-range / accepted-set "
        "/ key-uniqueness / referential-integrity rules over orders as a "
        "(rule, n_violations) report — the dbt-test / load-gate surface, "
        "generalizing the reference's notebook row-count verification "
        "(test_etl.ipynb cells 8-21). Plan shape is rule-count-"
        "independent: every row-level rule folds into ONE conditional-"
        "count aggregate on a single scan, uniqueness is one map-side-"
        "combined groupBy, and the FK check is one anti-join against "
        "distinct referenced keys (broadcast while it fits). Range rule "
        "uses o_totalprice > 0: expected 0 violations; the set rule "
        "pins the live status domain."
    ),
)
def dq_orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.quality import Rule, expectations_report

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rules = [
        Rule("orderkey_not_null", "not_null", column="o_orderkey"),
        Rule("totalprice_positive", "range", column="o_totalprice", lo=1e-9),
        Rule("status_in_set", "in_set", column="o_orderstatus", values=("O", "F", "P")),
        Rule("orderkey_unique", "unique", column="o_orderkey"),
        Rule(
            "custkey_references_customer",
            "references",
            column="o_custkey",
            ref=c,
            ref_col="c_custkey",
        ),
    ]
    return expectations_report(o, rules)


# ---------------------------------------------------------------------------
# Bigram-LM surprisal (word-order-aware quality signal)
# ---------------------------------------------------------------------------


@register(
    "text_bigram_logprob",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x != '') AS w
        FROM documents
    ),
    pairs AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks)
    ),
    tf AS (
        SELECT doc_id, w1, w2, count(*) AS tf FROM pairs GROUP BY doc_id, w1, w2
    ),
    v AS (SELECT count(DISTINCT w2) AS vocab FROM tf),
    scored AS (
        SELECT doc_id, tf,
               -ln(CAST(2 * (CAST(sum(tf) OVER (PARTITION BY w1, w2) AS BIGINT)) + 1 AS DOUBLE)
                   / CAST(2 * (CAST(sum(tf) OVER (PARTITION BY w1) AS BIGINT)) + vocab AS DOUBLE))
                 AS neglogp
        FROM tf CROSS JOIN v
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_bigrams,
           round(CAST(sum(tf * neglogp) AS DOUBLE)
                 / CAST(CAST(sum(tf) AS BIGINT) AS DOUBLE), 6) AS avg_neglogp
    FROM scored GROUP BY doc_id
    """,
    doc=(
        "Per-document mean bigram surprisal under the corpus's own "
        "add-1/2-smoothed bigram model (operators/textops."
        "bigram_logprob_scores) — word-order-aware quality scoring that "
        "separates shuffled-word salad from natural text where the "
        "unigram model cannot. Smoothed probability is the exact "
        "integer ratio (2c12+1)/(2c1+V), so both engines divide "
        "identical integers; mean rounded 6 dp. The per-(doc, w1, w2) "
        "tf is a run-length count over each document's sorted bigram "
        "array in the row (no corpus-sized exchange); the (w1, w2) and "
        "w1 model counts are map-side-combined aggregates joined back "
        "to tf — bigram-vocab-sized shuffles, no model broadcast, no "
        "corpus rescan."
    ),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import bigram_logprob_scores

    return bigram_logprob_scores(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Contamination-aware split: dedup groups never span splits
# ---------------------------------------------------------------------------


@register(
    "data_group_aware_split",
    """
    WITH grouped AS (
        SELECT doc_id,
               min(doc_id) OVER (
                   PARTITION BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
               ) AS group_id
        FROM documents
    )
    SELECT doc_id, group_id,
           CASE
             WHEN substring(md5(concat('split42', ':', CAST(group_id AS VARCHAR))), 1, 8)
                  < 'e6666666' THEN 'train'
             WHEN substring(md5(concat('split42', ':', CAST(group_id AS VARCHAR))), 1, 8)
                  < 'f3333333' THEN 'val'
             ELSE 'test'
           END AS split
    FROM grouped
    """,
    doc=(
        "Leakage-preventing split (operators/sampling.group_aware_split): "
        "documents are assigned to train/val/test by the hash of their "
        "exact-content GROUP id (min doc_id per normalized-text "
        "fingerprint), so duplicate families land in one split by "
        "construction — the prevention twin of the data_split_leakage "
        "audit. Scale shape: the group id is one fingerprint window "
        "(shared with exact dedup's content key), the split a pure "
        "per-row expression; 90/5/5 boundaries on the md5 hex range."
    ),
)
def data_group_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_s3_to_redshift_spark.functions.text import normalize_text
    from etl_s3_to_redshift_spark.operators.sampling import group_aware_split

    docs = _t(spark, sf_dir, "documents")
    grouped = docs.select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(normalize_text(F.col("text"))))
        .alias("group_id"),
    )
    return group_aware_split(
        grouped, {"train": 0.9, "val": 0.05, "test": 0.05}, group_col="group_id"
    ).select("doc_id", "group_id", "split")


# ---------------------------------------------------------------------------
# Behavioral: top user journeys (first-k event-type paths)
# ---------------------------------------------------------------------------


@register(
    "events_top_paths",
    """
    WITH ordered AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ordered WHERE rn <= 5 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path ASC
    LIMIT 20
    """,
    doc=(
        "Top user journeys: each user's first five event types joined "
        "into a path string, the 20 most common paths with user counts "
        "— the onboarding/funnel-discovery staple. Deterministic order "
        "inside a user via (ts, event_id). Scale shape: one user-"
        "partitioned window ranks events, the path build aggregates at "
        "most 5 rows per user (user-sized shuffle, map-side combined), "
        "and the top-20 is TakeOrderedAndProject. No collect_list over "
        "unbounded histories — the rn <= 5 cut happens before the "
        "aggregation."
    ),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 5)
    paths = ordered.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rn"), F.col("event_type")))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Association rules: support / confidence / lift over co-purchase pairs
# ---------------------------------------------------------------------------


@register(
    "basket_association_rules",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
    item_n AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_a FROM items GROUP BY l_partkey
    ),
    pair_n AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b
    )
    SELECT part_a, part_b, n_ab,
           round(CAST(n_ab AS DOUBLE) / n, 6) AS support,
           round(CAST(n_ab AS DOUBLE) / ia.n_a, 6) AS confidence,
           round(CAST(n_ab AS DOUBLE) * n
                 / (CAST(ia.n_a AS DOUBLE) * ib.n_a), 6) AS lift
    FROM pair_n
    JOIN item_n ia ON ia.l_partkey = part_a
    JOIN item_n ib ON ib.l_partkey = part_b
    CROSS JOIN n_orders
    ORDER BY n_ab DESC, part_a ASC, part_b ASC
    LIMIT 50
    """,
    doc=(
        "Association rules over the market-basket pairs: support "
        "(P(a,b)), confidence (P(b|a)) and lift "
        "(P(a,b)/(P(a)P(b))) for the 50 most frequent same-order part "
        "pairs — the recommendation/bundling metric basket_copurchase_"
        "pairs seeds. Every metric is one division of exact integers "
        "(pair, item, and basket counts), rounded 6 dp. Scale shape: "
        "the pair self-join is quadratic only within bounded baskets; "
        "item counts join back part-partitioned; the 1-row basket total "
        "broadcasts."
    ),
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10 optimization (guide §2.4): every aggregate the metrics need —
    # pair counts, per-item order counts (explode the distinct-part set),
    # and the basket total (1-row count of baskets, crossJoined as a
    # broadcast scalar instead of a construction-time driver .count()
    # action) — derives from the SAME _baskets frame, so the plan carries
    # ONE fact-level Exchange reused three times (ReusedExchange pinned in
    # tests) instead of three independent fact scans + distinct shuffles.
    li = _t(spark, sf_dir, "lineitem")
    baskets = _baskets(li)
    item_n = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    pair_n = _order_pair_counts(li).withColumnRenamed("n_orders", "n_ab")
    ia = item_n.select(F.col("l_partkey").alias("part_a"), F.col("n_a").alias("na"))
    ib = item_n.select(F.col("l_partkey").alias("part_b"), F.col("n_a").alias("nb"))
    return (
        pair_n.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(n_orders)
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("__n"), 6).alias("support"),
            F.round(F.col("n_ab").cast("double") / F.col("na"), 6).alias("confidence"),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("__n")
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Change data feed between SnapshotTable versions
# ---------------------------------------------------------------------------


@register(
    "delta_change_feed",
    """
    WITH b1 AS (
        SELECT c_custkey, c_mktsegment, 1 AS ver
        FROM customer WHERE c_custkey % 3 = 0
    ),
    b2 AS (
        SELECT c_custkey, 'MOVED' AS c_mktsegment, 2 AS ver
        FROM customer WHERE c_custkey % 6 = 0
        UNION ALL
        SELECT c_custkey + 500000, 'NEWSEG', 2
        FROM customer WHERE c_custkey % 50 = 0
    ),
    all_rows AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
    v1 AS (
        SELECT c_custkey, c_mktsegment, ver FROM (
            SELECT c_custkey, c_mktsegment, ver,
                   row_number() OVER (PARTITION BY c_custkey
                                      ORDER BY ver DESC, c_mktsegment DESC) AS rn
            FROM all_rows
        ) WHERE rn = 1
    )
    SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                WHEN o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
                  OR o.ver IS DISTINCT FROM n.ver THEN 'changed'
                ELSE 'unchanged' END AS change_kind
    FROM b1 o FULL OUTER JOIN v1 n ON o.c_custkey = n.c_custkey
    """,
    doc=(
        "Change data feed between two committed versions of the "
        "write-audit-publish table (operators/merge.change_feed over "
        "SnapshotTable.read(version=...)): the same two CDC commits as "
        "delta_snapshot_read, then every key classified added / removed "
        "/ changed / unchanged between v0 and v1 — Delta's "
        "table_changes / Iceberg changelog scan, built from pinned "
        "immutable snapshot reads. One full-outer key join, null-safe "
        "attribute compare; version pinning is what makes the diff "
        "consistent while new commits land."
    ),
)
def delta_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.merge import change_feed
    from etl_s3_to_redshift_spark.operators.table_commit import SnapshotTable
    from etl_s3_to_redshift_spark.streaming.upsert import upsert_table

    cust = _t(spark, sf_dir, "customer")
    b1 = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_mktsegment", F.lit(1).alias("ver")
    )
    b2 = (
        cust.filter(F.col("c_custkey") % 6 == 0)
        .select("c_custkey", F.lit("MOVED").alias("c_mktsegment"), F.lit(2).alias("ver"))
        .unionByName(
            cust.filter(F.col("c_custkey") % 50 == 0).select(
                (F.col("c_custkey") + 500000).alias("c_custkey"),
                F.lit("NEWSEG").alias("c_mktsegment"),
                F.lit(2).alias("ver"),
            )
        )
    )
    # timing includes the two snapshot writes by design (WAP commit path);
    # scratch dir is session-scoped, wiped per invocation
    table = SnapshotTable(_scratch_dir(spark, "wap_change_feed"))
    upsert_table(spark, b1, table, "c_custkey", "ver")
    upsert_table(spark, b2, table, "c_custkey", "ver")
    return change_feed(
        table.read(spark, version=0),
        table.read(spark, version=1),
        key="c_custkey",
        attrs=["c_mktsegment", "ver"],
    )


# ---------------------------------------------------------------------------
# Seasonality-adjusted anomalies (decomposition residual z-scores)
# ---------------------------------------------------------------------------

_DECOMP_SQL_BODY = """
    series AS (
        SELECT date_trunc('hour', ts) AS bucket, CAST(count(*) AS BIGINT) AS s
        FROM events GROUP BY 1
    ),
    tr AS (
        SELECT bucket, s,
               CAST(sum(s) OVER w AS BIGINT) AS sum25,
               CAST(count(*) OVER w AS BIGINT) AS n25
        FROM series
        WINDOW w AS (ORDER BY bucket ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    detr AS (
        SELECT bucket, s,
               CASE WHEN n25 = 25 THEN sum25 END AS sum25,
               CASE WHEN n25 = 25 THEN 25 * s - sum25 END AS d25,
               CAST(extract(hour FROM bucket) AS BIGINT) AS hod
        FROM tr
    ),
    seas AS (
        SELECT hod,
               CAST(sum(d25) AS BIGINT) AS num,
               CAST(25 * count(d25) AS BIGINT) AS den
        FROM detr WHERE d25 IS NOT NULL GROUP BY hod
    ),
    resid AS (
        -- consumes the decomposition's PUBLISHED (6-dp rounded) trend and
        -- seasonal values, exactly like the Spark side composing on the
        -- registered ts_decompose_hourly output
        SELECT d.bucket, d.s,
               (d.s - (round(CAST(d.sum25 AS DOUBLE) / 25, 6) + 0))
                 - (round(CAST(num AS DOUBLE) / den, 6) + 0) AS residual
        FROM detr d JOIN seas ON seas.hod = d.hod
        WHERE d.sum25 IS NOT NULL
    )
"""


@register(
    "ts_seasonal_anomalies",
    "WITH "
    + _DECOMP_SQL_BODY
    + """
    , sd AS (SELECT stddev_samp(residual) AS sigma FROM resid)
    SELECT bucket, s AS n_events,
           round(residual / sigma, 6) + 0 AS zscore,
           (abs(residual / sigma) >= 3.0) AS is_anomaly
    FROM resid CROSS JOIN sd
    """,
    doc=(
        "Seasonality-adjusted anomaly detection: the additive "
        "decomposition's residuals (trend and hour-of-day seasonality "
        "removed) z-scored against their own sample stddev, flagged at "
        "|z| >= 3 — the detector that does NOT fire on rush hour "
        "(ts_anomaly_zscore's plain rolling z-score would). Residuals "
        "are exact integer ratios (same machinery as "
        "ts_decompose_hourly); the stddev is one scalar broadcast back, "
        "z rounded 6 dp with negative-zero normalization. Windows and "
        "aggregates all run on the bucket-count-sized series."
    ),
)
def ts_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = ts_decompose_hourly(spark, sf_dir).filter(F.col("trend").isNotNull())
    # residual rebuilt from the decomposition's published 6-dp trend and
    # seasonal (bit-identical cross-engine), so the z-score's numerator
    # is exactly reproducible; only sigma carries sub-ulp sum drift,
    # absorbed by the 6-dp round
    resid = dec.select(
        "bucket",
        "n_events",
        (F.col("n_events") - F.col("trend") - F.col("seasonal")).alias("residual"),
    )
    sd = resid.agg(F.stddev_samp("residual").alias("sigma"))
    z = F.col("residual") / F.col("sigma")
    return resid.crossJoin(F.broadcast(sd)).select(
        "bucket",
        "n_events",
        (F.round(z, 6) + F.lit(0.0)).alias("zscore"),
        (F.abs(z) >= 3.0).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# BI staples: year-over-year growth, Pareto (80/20) concentration
# ---------------------------------------------------------------------------


@register(
    "orders_yoy_growth",
    """
    WITH monthly AS (
        SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
               CAST(extract(month FROM o_orderdate) AS INTEGER) AS mo,
               sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
        FROM orders GROUP BY 1, 2
    )
    SELECT yr, mo,
           CAST(rev AS DOUBLE) AS revenue,
           round(CAST(rev AS DOUBLE)
                 / CAST(lag(rev, 12) OVER (ORDER BY yr, mo) AS DOUBLE) - 1, 6)
               AS yoy_growth
    FROM monthly
    """,
    doc=(
        "Year-over-year revenue growth per month: exact-decimal monthly "
        "sums, lag(12) over the month series, one double division "
        "rounded 6 dp (NULL for the first year — no prior-year month). "
        "Scale shape: the fact collapses to a month-count-sized frame "
        "in one map-side-combined aggregate; the lag window runs on "
        "that bounded series."
    ),
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_s3_to_redshift_spark.operators.analytics import money

    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.sum(money("o_totalprice")).alias("rev"))
    w = Window.orderBy("yr", "mo")
    return monthly.select(
        "yr",
        "mo",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.lag("rev", 12).over(w).cast("double") - 1,
            6,
        ).alias("yoy_growth"),
    )


@register(
    "supplier_pareto_revenue",
    """
    WITH sup AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev
        FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT sum(rev) AS total FROM sup),
    ranked AS (
        SELECT l_suppkey, rev,
               CAST(row_number() OVER (ORDER BY rev DESC, l_suppkey ASC) AS INTEGER)
                   AS rk,
               sum(rev) OVER (ORDER BY rev DESC, l_suppkey ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM sup
    )
    SELECT l_suppkey, rk,
           CAST(rev AS DOUBLE) AS revenue,
           round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share,
           (CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8) AS in_top80
    FROM ranked CROSS JOIN tot
    """,
    doc=(
        "Pareto / 80-20 concentration: suppliers ranked by exact-"
        "decimal revenue with cumulative share and the top-80% flag — "
        "the concentration analysis behind key-account and risk "
        "reviews. Cumulative sums stay DECIMAL (exact, order-"
        "independent) until one double division per row, rounded 6 dp. "
        "Scale shape: one fact aggregate to the supplier frame; then "
        "operators/prefix.ranked_running — the range-partitioned two-"
        "pass rank + running sum (NO global window, NO crossJoin: the "
        "grand total rides the per-partition-offset broadcast equi-"
        "join), so the cumulative pass stays parallel even when the "
        "supplier dimension itself reaches 1e8 rows at 100 TB."
    ),
)
def supplier_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.analytics import money
    from etl_s3_to_redshift_spark.operators.prefix import ranked_running

    li = _t(spark, sf_dir, "lineitem")
    rev = money("l_extendedprice") * (F.lit(1) - money("l_discount"))
    sup = li.groupBy("l_suppkey").agg(F.sum(rev).alias("rev"))
    ranked = ranked_running(
        sup, [F.col("rev").desc(), F.col("l_suppkey").asc()], "rev"
    )
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    return ranked.select(
        "l_suppkey",
        F.col("rk").cast("int").alias("rk"),
        F.col("rev").cast("double").alias("revenue"),
        F.round(share, 6).alias("cum_share"),
        (share <= 0.8).alias("in_top80"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer APPLICATION — the train→apply loop as one queryable op
# ---------------------------------------------------------------------------


def _bpe_tokenize_oracle() -> str:
    """Independent precomputed-expectation oracle, same protocol as
    text_bpe_merges: tools/gen_bpe_oracle.py --tokenize derives
    per-document token statistics from DuckDB tokenization + a
    pure-Python BPE (train 16 merges on the corpus word-frequency
    table, tokenize every word, roll up per doc) — no Spark code in the
    loop. The 500-row VALUES table lives in oracles/
    text_bpe_tokenize.sql (regenerate with
    `python tools/gen_bpe_oracle.py /root/testdata/sf0.01 16 --tokenize`).
    Valid only at the driver's sf0.01 gate (oracle_sf)."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "oracles", "text_bpe_tokenize.sql"
    )
    with open(path) as f:
        return f.read()


@register(
    "text_bpe_tokenize",
    _bpe_tokenize_oracle(),
    oracle_sf="sf0.01",
    doc=(
        "BPE tokenizer application (operators/bpe.apply_bpe_vocab): "
        "train 16 merges on the corpus (one scan to the word-frequency "
        "table), collect the bounded merge list (16 rows — same scalar "
        "class as a percentile boundary), then tokenize via VOCABULARY "
        "MEMOIZATION: the merge-fold chain runs once per DISTINCT word "
        "(vocab-sized frame), tokenized words equi-join back to the "
        "posexploded corpus (auto-broadcast while the vocab fits) and "
        "reassemble in position order. Identical output to the direct "
        "per-word fold (apply_bpe — pinned in tests) at corpus-words/"
        "|vocab| of its fold cost: 27 s -> 4 s at sf0.01. Output: "
        "per-doc token count, distinct-token count, first/last token "
        "(order-sensitive evidence the reassembly preserves sequence). "
        "The train->apply loop is THE tokenizer workflow of an LLM "
        "pipeline at 100 TB: train once, apply as vocab-join + regroup "
        "on every shard."
    ),
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.bpe import apply_bpe_vocab, train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges_df = train_bpe(docs, n_merges=16)
    merges = [
        (r["left"], r["right"]) for r in merges_df.orderBy("merge_rank").collect()
    ]
    toked = apply_bpe_vocab(docs, merges, id_cols=["doc_id"])
    return toked.select(
        "doc_id",
        F.size("bpe_tokens").cast("int").alias("n_tokens"),
        F.size(F.array_distinct("bpe_tokens")).cast("int").alias("n_unique"),
        F.element_at("bpe_tokens", 1).alias("first_token"),
        F.element_at("bpe_tokens", -1).alias("last_token"),
    )


# ---------------------------------------------------------------------------
# Distribution drift: Population Stability Index between snapshots
# ---------------------------------------------------------------------------


@register(
    "dq_drift_psi",
    """
    WITH b AS (
        SELECT least(CAST(floor(CAST(o_totalprice AS DOUBLE) / 50000.0) AS BIGINT), 9)
                   AS bucket,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'ref' ELSE 'cur' END
                   AS side
        FROM orders
    ),
    counts AS (
        SELECT bucket,
               CAST(sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
               CAST(sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        FROM b GROUP BY bucket
    ),
    terms AS (
        SELECT bucket, n_ref, n_cur,
               round((n_ref + 1.0) / (sum(n_ref) OVER () + count(*) OVER ()), 6) AS p_ref,
               round((n_cur + 1.0) / (sum(n_cur) OVER () + count(*) OVER ()), 6) AS p_cur,
               round(((n_cur + 1.0) / (sum(n_cur) OVER () + count(*) OVER ())
                      - (n_ref + 1.0) / (sum(n_ref) OVER () + count(*) OVER ()))
                     * ln(((n_cur + 1.0) / (sum(n_cur) OVER () + count(*) OVER ()))
                          / ((n_ref + 1.0) / (sum(n_ref) OVER () + count(*) OVER ()))),
                     6) AS psi_term
        FROM counts
    )
    SELECT bucket, n_ref, n_cur, p_ref, p_cur, psi_term,
           round(sum(psi_term) OVER (), 6) AS psi_total
    FROM terms
    """,
    doc=(
        "Distribution-drift audit (operators/quality.psi_report): "
        "Population Stability Index of the order-value distribution, "
        "pre-1998 reference vs 1998+ current, over 10 fixed 50k-wide "
        "value buckets. Laplace-smoothed proportions (n+1)/(N+buckets), "
        "per-bucket PSI terms and the total (<0.1 stable / 0.1-0.25 "
        "drifting / >0.25 shifted) — the refresh gate every "
        "training-data pipeline runs when a new crawl/dump lands. "
        "Scale shape: both snapshots collapse to bucket-count partials "
        "in one map-side-combined groupBy (the only shuffle); all "
        "ratios/ln/sums run on the bounded bucket frame under an "
        "explicitly-keyed window. 6-dp rounds absorb cross-libm ln ulps."
    ),
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.quality import psi_report

    o = _t(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice").cast("double") / F.lit(50000.0)).cast("long"),
        F.lit(9).cast("long"),
    )
    ref = o.filter(F.col("o_orderdate") < "1998-01-01")
    cur = o.filter(F.col("o_orderdate") >= "1998-01-01")
    return psi_report(ref, cur, bucket)


# Variant-name expression for the SPARSE entity-resolution fixture: the
# 8-char digit window (positions 11-18 of the salted name) with 'x'
# substituted at the offsets whose residue ((o - ck) % 8) falls in 1..j —
# variant j of a chain has exactly its first j offsets corrupted, so
# consecutive variants differ by EXACTLY one substitution (a path graph)
# and non-consecutive ones by >= 2. The text is dialect-common: the same
# string feeds F.expr on Spark and the DuckDB oracle.
def _chain_variant_name_sql() -> str:
    cases = ", ".join(
        f"(CASE WHEN (({o} - ck) % 8 + 8) % 8 BETWEEN 1 AND j THEN 'x' "
        f"ELSE substring(name, {11 + o}, 1) END)"
        for o in range(8)
    )
    return f"concat(substring(name, 1, 10), {cases}, substring(name, 19))"


@register(
    "entity_groups_sparse_chain",
    f"""
    WITH RECURSIVE base AS (
        SELECT CAST(c_custkey AS BIGINT) * 10 AS rec_id,
               concat(c_name, '-',
                      substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS name,
               c_custkey AS ck
        FROM customer
    ), chain0 AS (
        SELECT rec_id, name, ck, unnest(range(1, 3 + (ck % 6))) AS j
        FROM base WHERE ck % 4 = 0
    ), chain AS (
        SELECT rec_id + j AS rec_id, {_chain_variant_name_sql()} AS name
        FROM chain0
    ), recs AS (
        SELECT rec_id, name FROM base
        UNION ALL SELECT rec_id, name FROM chain
    ), pairs AS (
        SELECT a.rec_id AS id_a, b.rec_id AS id_b
        FROM recs a JOIN recs b
          ON a.rec_id < b.rec_id
         AND length(a.name) = length(b.name)
         AND levenshtein(a.name, b.name) <= 1
    ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), cc(vertex, component) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, c.component FROM edges e JOIN cc c ON c.vertex = e.v
    ), comp AS (SELECT vertex, min(component) AS component FROM cc GROUP BY vertex)
    SELECT CAST(coalesce(comp.component, r.rec_id) AS BIGINT) AS entity_id,
           CAST(r.rec_id AS BIGINT) AS member_id,
           (coalesce(comp.component, r.rec_id) = r.rec_id) AS is_canonical
    FROM recs r LEFT JOIN comp ON comp.vertex = r.rec_id
    """,
    doc=(
        "Entity resolution on a SPARSE typo graph (VERDICT r8 #5): the "
        "dense entity_groups_fuzzy fixture is an adversarial "
        "near-hypercube (avg degree ~31 — every digit substitution "
        "collides across customers), so its sf100 wall measures dense-"
        "graph CC, not the operator's general slope. This twin salts "
        "every base name with an 8-hex md5 tail (cross-customer "
        "distances >= 2 w.h.p.) and plants per-customer TYPO CHAINS: "
        "customer ck%4==0 gets 2+(ck%6) variants, variant j corrupting "
        "exactly its first j digit-window offsets — consecutive "
        "variants differ by one substitution, so each chain is a PATH "
        "(components of 3-8 records, diameter up to 7: long chains, "
        "small components — realistic OCR/typo noise). Same operator, "
        "same relation (same-length AND levenshtein<=1 via "
        "substitution_clique_components), same recursive-CTE oracle as "
        "the dense twin; what changes is the topology — blocks are "
        "2-3 records instead of cliques of hundreds, and CC must "
        "propagate labels down chains instead of flooding a clique. "
        "SCALING.md carries both rows so the slope claim generalizes."
    ),
)
def entity_groups_sparse_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.fuzzy import (
        substitution_clique_components,
    )

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        (F.col("c_custkey").cast("long") * 10).alias("rec_id"),
        F.expr(
            "concat(c_name, '-', substring(md5(cast(c_custkey as string)), 1, 8))"
        ).alias("name"),
        F.col("c_custkey").alias("ck"),
    )
    # per-row chain expansion via sequence+explode (no join, no BNLJ):
    # j = 1..(2 + ck % 6)
    chain = (
        base.filter(F.col("ck") % 4 == 0)
        .select(
            "rec_id",
            "name",
            "ck",
            F.explode(
                F.sequence(F.lit(1), (F.lit(2) + F.col("ck") % 6).cast("int"))
            ).alias("j"),
        )
        .select(
            (F.col("rec_id") + F.col("j")).alias("rec_id"),
            F.expr(_chain_variant_name_sql()).alias("name"),
        )
    )
    records = base.select("rec_id", "name").unionByName(chain)
    n_seg = records.agg(F.max(F.length("name"))).first()[0]
    comp = substitution_clique_components(
        records, id_col="rec_id", s_col="name", n_segments=int(n_seg)
    )
    return records.join(
        comp.withColumnRenamed("vertex", "rec_id"), "rec_id", "left"
    ).select(
        F.coalesce(F.col("component"), F.col("rec_id")).alias("entity_id"),
        F.col("rec_id").alias("member_id"),
        (
            F.coalesce(F.col("component"), F.col("rec_id")) == F.col("rec_id")
        ).alias("is_canonical"),
    )
