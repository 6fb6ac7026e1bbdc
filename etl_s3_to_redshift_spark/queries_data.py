"""Training-data-pipeline queries: dedup, similarity search, text analysis,
multimodal plumbing. Registered into the same driver-contract REGISTRY as
the relational surface (queries.py imports this module).

Oracle notes:
- Shingling is expressed identically in Spark (split/slice/concat_ws) and
  DuckDB (string_split_regex/list_slice/array_to_string) — verified
  equivalent semantics incl. short-document truncation.
- Cosine oracles use an explicit double-fold (DuckDB's
  ``list_cosine_similarity`` computes in float32 and cannot match JVM
  double math); both engines fold in index order in double.
- MinHash relies on xxhash64 (no DuckDB equivalent): its *candidate
  generation* is Spark-only, but the final verified outputs are exact
  Jaccard pairs, so the oracle is the brute-force Jaccard SQL — the LSH
  miss probability at the planted duplicates' similarity (J ≥ 0.9, r=2
  b=16) is ~3e-12, i.e. the approximate path is deterministically equal to
  the exact one on this data.
- SimHash's registry query runs the engine-portable md5-prefix token hash
  (60 bits), so its brute-force DuckDB twin matches the blocked plan
  exactly — pigeonhole blocking is lossless within the Hamming radius.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_s3_to_redshift_spark.queries import _t, index_cache_dir, register

# ---------------------------------------------------------------------------
# Shared SQL fragments (DuckDB dialect) mirroring functions/text.py
# ---------------------------------------------------------------------------

SQL_WORDS = r"list_filter(string_split_regex(trim({t}), '\s+'), x -> x != '')"
SQL_NORM = r"trim(regexp_replace(lower({t}), '\s+', ' ', 'g'))"
SQL_SHINGLES = (
    "list_distinct(list_transform(range(greatest(len({w})-2,1)),"
    " i -> array_to_string(list_slice({w}, i+1, i+3), ' ')))"
)

JACCARD_PAIRS_SQL = f"""
    WITH tok AS (
      SELECT doc_id, {SQL_SHINGLES.format(w=SQL_WORDS.format(t='text'))} AS sh
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM tok a JOIN tok b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= {{threshold}}
"""

# ===========================================================================
# Deduplication
# ===========================================================================


@register(
    "dedup_exact_docs",
    f"""
    SELECT min(doc_id) AS doc_id,
           {SQL_NORM.format(t='text')} AS content_key,
           count(*) AS n_copies
    FROM documents
    GROUP BY {SQL_NORM.format(t='text')}
    """,
    doc=(
        "Exact dedup by normalized content: hash-groupBy keeps the lowest "
        "id per key with a survivor count (operators/dedup.exact_dedup). "
        "One shuffle; map-side partial agg collapses local dupes first."
    ),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    JACCARD_PAIRS_SQL.format(threshold=0.8),
    doc=(
        "Exact 3-gram (word-shingle) Jaccard near-dup pairs at J>=0.8 via "
        "inverted shingle index: only docs sharing a shingle are compared "
        "(operators/dedup.jaccard_pairs)."
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)


@register(
    "dedup_minhash_lsh",
    JACCARD_PAIRS_SQL.format(threshold=0.8),
    doc=(
        "MinHash (32 perms, xxhash64-seeded) + banded LSH (16 bands x 2) "
        "candidates, exactly verified (operators/dedup.minhash_lsh_pairs). "
        "Sub-quadratic: only bucket-mates are compared. The oracle is the "
        "brute-force Jaccard — equal because the verified LSH miss "
        "probability at the data's J>=0.9 duplicates is ~3e-12."
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        threshold=0.8,
        num_hashes=32,
        bands=16,
    )


def _staged_minhash_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the MinHash staging table at most ONCE per lake
    (operators/dedup.stage_minhash) into a deterministic scratch path —
    the same build-once receipt pattern as queries_ops11's saved IVF
    index: Spark's _SUCCESS marker gates reuse, a torn write rebuilds.
    The local lakes are immutable; point SPARK_GRAFT_IVF_CACHE at a
    fresh root if yours isn't."""
    import os

    from etl_s3_to_redshift_spark.operators.dedup import stage_minhash

    base = index_cache_dir("ivf", sf_dir, "_minhash")
    if not os.path.exists(os.path.join(base, "_SUCCESS")):
        stage_minhash(_t(spark, sf_dir, "documents"), base, num_hashes=32)
    return base


@register(
    "dedup_minhash_staged",
    JACCARD_PAIRS_SQL.format(threshold=0.8),
    doc=(
        "MinHash+LSH near-dup pairs over the STAGED signature table "
        "(operators/dedup.stage_minhash + minhash_lsh_pairs_staged): "
        "the 100 TB form of dedup_minhash_lsh, now registered and "
        "measured. Spark has no subplan sharing, so the inline pipeline "
        "physically re-derives tokenize→shingle→hash in all four join "
        "branches; staging pays one derivation + one write per lake "
        "(amortized across every later run — the dedup twin of "
        "sim_ann_ivf_saved), and banding/verify become column-pruned "
        "parquet scans (id+h* and id+sh). Output is pinned identical to "
        "the inline form in tests, so the oracle is the same brute-"
        "force Jaccard (exact: verified LSH miss probability at the "
        "data's J>=0.9 duplicates is ~3e-12)."
    ),
)
def dedup_minhash_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.dedup import minhash_lsh_pairs_staged

    path = _staged_minhash_path(spark, sf_dir)
    return minhash_lsh_pairs_staged(spark, path, threshold=0.8, bands=16)


# Portable SimHash oracle: 60-bit md5-prefix token hash (identical int in
# Spark's conv(substring(md5,1,15),16,10) and DuckDB's '0x'||hex cast),
# brute-force all pairs — exact vs the blocked Spark plan because
# pigeonhole blocking NEVER misses a pair within hamming < blocks.
_SIMHASH_BITS = 60
_SIMHASH_BIT_SUMS = ", ".join(f"sum((hv >> {b}) & 1) AS b{b}" for b in range(_SIMHASH_BITS))
_SIMHASH_ASSEMBLE = " + ".join(
    f"(CASE WHEN 2*b{b} > n THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
)
SIMHASH_PAIRS_SQL = f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_WORDS.format(t='text')}) AS t FROM documents
    ), h AS (
      SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS hv FROM tok
    ), bits AS (
      SELECT doc_id, count(*) AS n, {_SIMHASH_BIT_SUMS} FROM h GROUP BY doc_id
    ), sig AS (
      SELECT doc_id, {_SIMHASH_ASSEMBLE} AS simhash FROM bits
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register(
    "dedup_simhash",
    SIMHASH_PAIRS_SQL,
    doc=(
        "SimHash near-dup pairs within Hamming distance 3, blocked by "
        "15-bit signature blocks (pigeonhole: d<4 implies a shared block) "
        "(operators/dedup.simhash_pairs). Round 2: runs the engine-"
        "portable 60-bit md5-prefix token hash, so the brute-force DuckDB "
        "twin matches the blocked plan EXACTLY (blocking is lossless "
        "inside the radius) — graduated from rows-only. The xxhash64 "
        "default remains the pure-Spark fast path; its recall is pinned "
        "in tests."
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=3, nbits=60, token_hash="md5"
    )


@register(
    "dedup_groups_connected",
    f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, {SQL_SHINGLES.format(w=SQL_WORDS.format(t='text'))} AS sh
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM tok a JOIN tok b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), cc(vertex, component) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, c.component FROM edges e JOIN cc c ON c.vertex = e.v
    )
    SELECT min(component) AS component,
           vertex AS member,
           (vertex = min(component)) AS is_keeper
    FROM cc GROUP BY vertex
    """,
    doc=(
        "Near-dup GROUPS from the pair list: distributed connected "
        "components via iterative min-label propagation (operators/"
        "components.py — join+aggregate per round, no driver graph state); "
        "keeper = component minimum, matching exact_dedup's convention. "
        "Oracle: recursive CTE reachability over the same pairs."
    ),
)
def dedup_groups_connected(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.components import dedup_groups
    from etl_s3_to_redshift_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8, num_hashes=32, bands=16
    )
    return dedup_groups(pairs)


@register(
    "dedup_embedding_cosine",
    """
    WITH dv AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), scored AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_aggregate(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]), 'sum')
               / (sqrt(list_aggregate(list_transform(range(len(a.v)), i -> a.v[i+1] * a.v[i+1]), 'sum'))
                  * sqrt(list_aggregate(list_transform(range(len(b.v)), i -> b.v[i+1] * b.v[i+1]), 'sum'))) AS cos_sim
      FROM dv a JOIN dv b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round(cos_sim, 6) AS cos_sim
    FROM scored WHERE round(cos_sim, 6) >= 0.4
    """,
    doc=(
        "Embedding-cosine near-dup pairs (cos >= 0.4) via the LSH-blocked "
        "path (operators/similarity.embedding_neardup_pairs): bucket "
        "equi-join candidates, exact cosine verify — no corpus broadcast, "
        "no BroadcastNestedLoopJoin. Output identical to the all-pairs "
        "oracle because the seeded r=2/b=16 banding has measured recall "
        "1.0 at this threshold on this corpus (candidate completeness "
        "pinned in tests). Rounded to 6 dp on both sides: the two "
        "engines' fold orders agree to ~1e-12 but not to the last ulp."
    ),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, dim=64, round_to=6
    )


# ===========================================================================
# Similarity search
# ===========================================================================


@register(
    "sim_topk_cosine",
    """
    WITH dv AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM dv WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, c.vec_id,
             round(list_aggregate(list_transform(range(len(c.v)), i -> c.v[i+1] * q.qv[i+1]), 'sum')
               / (sqrt(list_aggregate(list_transform(range(len(c.v)), i -> c.v[i+1] * c.v[i+1]), 'sum'))
                  * sqrt(list_aggregate(list_transform(range(len(q.qv)), i -> q.qv[i+1] * q.qv[i+1]), 'sum'))), 6) AS cos_sim
      FROM dv c, q WHERE c.vec_id != q.query_id
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    ) t WHERE rank <= 10
    """,
    doc=(
        "Brute-force cosine top-10 for 5 query vectors against the corpus "
        "(operators/similarity.brute_force_topk): broadcast queries, "
        "streamed scoring, per-query window rank. The exact baseline the "
        "LSH path is measured against."
    ),
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    # rank on the ROUNDED cosine (round_to=6) so sub-ulp fold differences
    # between engines cannot flip ranks; id breaks exact ties.
    return brute_force_topk(emb, queries, k=10, round_to=6)


@register(
    "sim_topk_cosine_fast",
    """
    WITH dv AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM dv WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, c.vec_id,
             round(list_aggregate(list_transform(range(len(c.v)), i -> c.v[i+1] * q.qv[i+1]), 'sum')
               / (sqrt(list_aggregate(list_transform(range(len(c.v)), i -> c.v[i+1] * c.v[i+1]), 'sum'))
                  * sqrt(list_aggregate(list_transform(range(len(q.qv)), i -> q.qv[i+1] * q.qv[i+1]), 'sum'))), 6) AS cos_sim
      FROM dv c, q WHERE c.vec_id != q.query_id
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    ) t WHERE rank <= 10
    """,
    doc=(
        "Throughput path for brute-force top-k: Arrow-batched numpy kernel "
        "(one BLAS matmul per batch, per-partition argpartition top-k, "
        "global window merge) — operators/similarity.brute_force_topk_np. "
        "Graduated from rows-only to the same exact oracle as "
        "sim_topk_cosine: ranking on round(cos, 6) (with a widened local "
        "fetch so rounded ties survive the partition cut) absorbs the "
        "BLAS-vs-fold summation-order drift (~1e-15 ≪ the 5e-7 rounding "
        "bin), so the full (id, score, rank) output is engine-exact. "
        "~5× faster than the fold at 64 dims, widening with dimension."
    ),
)
def sim_topk_cosine_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import brute_force_topk_np

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return brute_force_topk_np(emb, queries, k=10, round_to=6)


def _lsh_oracle_sql(dim: int = 64, n_planes: int = 16, bands: int = 4, k: int = 10) -> str:
    """Exact DuckDB twin of ``lsh_topk``: the gaussian plane literals are
    baked into the SQL (same doubles the Spark plan ships), the sign bits
    come from the identical left-associative fold chain (bit-identical
    doubles → identical buckets), and the rescoring cosine is rounded to
    the same 6-dp grid before ranking — so even this APPROXIMATE index
    path is exactly reproducible cross-engine. Graduated from rows-only
    in round 3d."""
    from etl_s3_to_redshift_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, 42)
    rpb = n_planes // bands

    def chain(vec: str, ws) -> str:
        return " + ".join(
            f"CAST({vec}[{i + 1}] AS DOUBLE) * {w!r}" for i, w in enumerate(ws)
        )

    def pair_dot(a: str, b: str) -> str:
        return " + ".join(
            f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)"
            for i in range(dim)
        )

    bits = ",\n               ".join(
        f"CASE WHEN ({chain('embedding', planes[i])}) > 0 THEN 1 ELSE 0 END AS bit{i}"
        for i in range(n_planes)
    )
    band_rows = "\n        UNION ALL\n        ".join(
        "SELECT vec_id, {b} AS band, {bk} AS bucket FROM sigs".format(
            b=b,
            bk=" || ".join(
                f"CAST(bit{b * rpb + r} AS VARCHAR)" for r in range(rpb)
            ),
        )
        for b in range(bands)
    )
    return f"""
    WITH sigs AS (
        SELECT vec_id,
               {bits}
        FROM embeddings
    ),
    bucketed AS (
        {band_rows}
    ),
    cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS vec_id
        FROM bucketed cb
        JOIN (SELECT * FROM bucketed WHERE vec_id < 5) qb USING (band, bucket)
        WHERE qb.vec_id != cb.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.vec_id,
               round(({pair_dot('ce.embedding', 'qe.embedding')})
                     / (sqrt({pair_dot('ce.embedding', 'ce.embedding')})
                        * sqrt({pair_dot('qe.embedding', 'qe.embedding')})),
                     6) AS cos_sim
        FROM cand
        JOIN embeddings ce ON ce.vec_id = cand.vec_id
        JOIN embeddings qe ON qe.vec_id = cand.query_id
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT query_id, vec_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, vec_id ASC)
                    AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "sim_ann_lsh",
    _lsh_oracle_sql(),
    doc=(
        "Approximate top-k via random-hyperplane LSH (16 planes, 4 bands, "
        "seeded): bucketize corpus+queries with the same planes, equi-join "
        "on (band, bucket), exact-rescore bucket-mates only "
        "(operators/similarity.lsh_topk). The 100 TB path: replaces the "
        "full scan with a hash join. Recall vs brute force pinned in "
        "tests; the INDEX ITSELF is deterministic (content-addressed "
        "plane literals + index-order folds), so since round 3d the "
        "oracle checks the exact output, not just row counts."
    ),
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return lsh_topk(emb, queries, dim=64, k=10, round_to=6)


# ===========================================================================
# Text analysis
# ===========================================================================


@register(
    "text_token_stats",
    rf"""
    SELECT doc_id,
           CAST(len({SQL_WORDS.format(t='text')}) AS INTEGER) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_tokens_bpe
    FROM documents
    """,
    doc=(
        "Token counting: whitespace tokens + BPE-ish regex pre-tokens "
        "(operators/textops.token_stats). Scan-stage only, no shuffle."
    ),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import token_stats

    return token_stats(_t(spark, sf_dir, "documents"))


@register(
    "text_quality",
    rf"""
    WITH w AS (
      SELECT doc_id, text, {SQL_WORDS.format(t='text')} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CASE WHEN len(toks) > 0 THEN
             list_aggregate(list_transform(toks, t -> length(t)), 'sum')::DOUBLE / len(toks)
           END AS mean_token_len,
           (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
             / length(text) AS punct_ratio,
           (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE
             / length(text) AS alpha_ratio,
           CASE WHEN len(toks) > 0 THEN
             len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t)))::DOUBLE
               / len(toks)
           END AS stopword_ratio
    FROM w
    """,
    doc=(
        "Quality-score features: length, token stats, punctuation/alpha "
        "density, stopword ratio (operators/textops.quality_features) — "
        "the standard corpus-cleaning pre-filters."
    ),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import quality_features

    df = quality_features(_t(spark, sf_dir, "documents"))
    return df.withColumn("n_chars", F.col("n_chars").cast("long"))


@register(
    "text_lang_id",
    """
    WITH s AS (
      SELECT doc_id,
        len(list_filter(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != ''),
            t -> list_contains(['the','and','of','to','a','in','is'], t))) AS s_en,
        len(list_filter(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != ''),
            t -> list_contains(['der','die','und','das','ist','nicht'], t))) AS s_de,
        len(list_filter(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != ''),
            t -> list_contains(['el','la','los','y','que','es'], t))) AS s_es,
        len(list_filter(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != ''),
            t -> list_contains(['le','la','les','et','est','une'], t))) AS s_fr
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
                WHEN s_fr > 0 THEN 'fr'
                ELSE 'und' END AS pred_lang
    FROM s
    """,
    doc=(
        "Heuristic language ID by marker-stopword counts with deterministic "
        "argmax (operators/textops.lang_id). The synthetic corpus's lang "
        "labels are random word-soup, so this predicts from content, not "
        "labels — the operator shape is what matters."
    ),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.functions.text import words
    from etl_s3_to_redshift_spark.operators.textops import lang_id

    docs = _t(spark, sf_dir, "documents")
    toked = docs.select("doc_id", words(F.lower(F.col("text"))).alias("__toks"))
    return toked.select(
        "doc_id", lang_id(F.lit(""), toks=F.col("__toks")).alias("pred_lang")
    )


@register(
    "sim_ann_ivf",
    # Committed-expectation oracle (tools/gen_committed_oracle.py;
    # REGRESSION PIN generated under Spark 4.1.2 — partial-merge
    # results are not contractually stable across Spark versions,
    # so a red gate after an engine upgrade may be a version flake,
    # not a regression; regenerate the pin in that case):
    # seeded k-means training is not SQL-expressible, but the full
    # output is deterministic (verified bit-identical across plain
    # local[5/8/32] driver-style sessions, round 5), so the exact
    # 50-row result at the driver's sf0.01 gate is frozen here — any
    # recall/rank/score drift now fails the external hash check.
    # Valid only at sf0.01; other SFs fall back to rows-only.
    """
    SELECT CAST("query_id" AS BIGINT) AS "query_id",
           CAST("vec_id" AS BIGINT) AS "vec_id",
           CAST("cos_sim" AS DOUBLE) AS "cos_sim",
           CAST("rank" AS INTEGER) AS "rank"
    FROM (VALUES
        (0, 7, CAST('0.29284215147436643' AS DOUBLE), 6),
        (0, 73, CAST('0.29543411523164853' AS DOUBLE), 5),
        (0, 190, CAST('0.2817947192081154' AS DOUBLE), 8),
        (0, 320, CAST('0.2878605122093518' AS DOUBLE), 7),
        (0, 334, CAST('0.3627220558741131' AS DOUBLE), 2),
        (0, 365, CAST('0.3699935965460897' AS DOUBLE), 1),
        (0, 387, CAST('0.33113871888314317' AS DOUBLE), 3),
        (0, 388, CAST('0.2763005476699542' AS DOUBLE), 10),
        (0, 423, CAST('0.2969335986409863' AS DOUBLE), 4),
        (0, 464, CAST('0.2766279302075019' AS DOUBLE), 9),
        (1, 27, CAST('0.3482081864636984' AS DOUBLE), 2),
        (1, 64, CAST('0.3163742953318501' AS DOUBLE), 5),
        (1, 124, CAST('0.30275028236602597' AS DOUBLE), 6),
        (1, 195, CAST('0.32274442635213746' AS DOUBLE), 4),
        (1, 353, CAST('0.2465920189390982' AS DOUBLE), 10),
        (1, 363, CAST('0.263306379518924' AS DOUBLE), 9),
        (1, 386, CAST('0.37148454183744223' AS DOUBLE), 1),
        (1, 402, CAST('0.2923219897446138' AS DOUBLE), 7),
        (1, 407, CAST('0.3270099496117245' AS DOUBLE), 3),
        (1, 472, CAST('0.2921091773422224' AS DOUBLE), 8),
        (2, 112, CAST('0.24531081757260517' AS DOUBLE), 5),
        (2, 188, CAST('0.263272104561668' AS DOUBLE), 1),
        (2, 197, CAST('0.23314916074606343' AS DOUBLE), 7),
        (2, 202, CAST('0.22186129495652954' AS DOUBLE), 10),
        (2, 320, CAST('0.25504277088103294' AS DOUBLE), 2),
        (2, 350, CAST('0.2400686712011323' AS DOUBLE), 6),
        (2, 418, CAST('0.25402949645206835' AS DOUBLE), 3),
        (2, 440, CAST('0.23136910975780278' AS DOUBLE), 8),
        (2, 459, CAST('0.22340103906195993' AS DOUBLE), 9),
        (2, 471, CAST('0.24719275246584027' AS DOUBLE), 4),
        (3, 130, CAST('0.39987234325628024' AS DOUBLE), 1),
        (3, 174, CAST('0.30354804540607316' AS DOUBLE), 3),
        (3, 192, CAST('0.290802917949569' AS DOUBLE), 5),
        (3, 207, CAST('0.29170184705661967' AS DOUBLE), 4),
        (3, 315, CAST('0.285191968671821' AS DOUBLE), 6),
        (3, 343, CAST('0.30847165466962984' AS DOUBLE), 2),
        (3, 363, CAST('0.26861521923374515' AS DOUBLE), 9),
        (3, 396, CAST('0.260964744503398' AS DOUBLE), 10),
        (3, 437, CAST('0.28053528594179866' AS DOUBLE), 7),
        (3, 474, CAST('0.2767381136347725' AS DOUBLE), 8),
        (4, 114, CAST('0.39851269358433744' AS DOUBLE), 1),
        (4, 237, CAST('0.2186667079435742' AS DOUBLE), 10),
        (4, 249, CAST('0.2796306459978647' AS DOUBLE), 4),
        (4, 280, CAST('0.27982608680315935' AS DOUBLE), 3),
        (4, 332, CAST('0.22764181859966254' AS DOUBLE), 8),
        (4, 346, CAST('0.2315643366319568' AS DOUBLE), 7),
        (4, 353, CAST('0.22501395538951718' AS DOUBLE), 9),
        (4, 384, CAST('0.2404132698982267' AS DOUBLE), 6),
        (4, 408, CAST('0.32275312529105415' AS DOUBLE), 2),
        (4, 470, CAST('0.2525366199686862' AS DOUBLE), 5)
    ) AS t("query_id", "vec_id", "cos_sim", "rank")
    """,
    oracle_sf="sf0.01",
    doc=(
        "IVF ANN: seeded k-means coarse quantizer (16 cells), queries "
        "probe their 4 nearest cells, exact cosine rescoring of cell-mates "
        "only (operators/similarity.ivf_topk). The bucketed-scan path: at "
        "100 TB a probe reads n_probe/n_lists of the corpus."
    ),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return ivf_topk(emb, queries, dim=64, k=10)


@register(
    "text_tfidf_topterms",
    rf"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_WORDS.format(t='lower(text)')}) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), idf AS (
      SELECT term,
             ln(((SELECT count(*) FROM documents) + 1.0) / (count(*) + 1.0)) + 1.0 AS raw_idf
      FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id, tf.term, round(tf.tf * idf.raw_idf, 6) AS tfidf
      FROM tf JOIN idf USING (term)
    )
    SELECT doc_id, term, tfidf, CAST(rank AS INTEGER) AS rank FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
      FROM scored
    ) t WHERE rank <= 3
    """,
    doc=(
        "Per-doc top-3 terms by smoothed TF-IDF, pure DataFrame ops "
        "(operators/textops.tfidf_top_terms): (doc, term) tf agg → "
        "term-key df window → per-doc window top-k. Rounded to 6 dp (ln differs across libm "
        "implementations in the last ulp); rank computed on the rounded "
        "score with a term tiebreak so both engines rank identically."
    ),
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), top_k=3)


# ===========================================================================
# Streaming window shapes (batch twins; streaming smoke in tests)
# ===========================================================================


@register(
    "stream_tumbling_events",
    """
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc=(
        "Tumbling 15-min window counts+sums (streaming/windows.py "
        "tumbling_counts, batch twin): epoch-aligned F.window; the "
        "streaming form adds withWatermark to bound state."
    ),
)
def stream_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.streaming.windows import tumbling_counts

    return tumbling_counts(_t(spark, sf_dir, "events"), window="15 minutes")


@register(
    "stream_sliding_events",
    """
    WITH contrib AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket_start, event_type FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes', event_type FROM events
    )
    SELECT bucket_start, event_type, count(*) AS n_events
    FROM contrib GROUP BY 1, 2
    """,
    doc=(
        "Sliding window (30-min length, 15-min slide): every event lands "
        "in exactly 2 windows (streaming/windows.py sliding_counts). The "
        "oracle materializes the 2 per-event contributions explicitly."
    ),
)
def stream_sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.streaming.windows import sliding_counts

    return sliding_counts(_t(spark, sf_dir, "events"), window="30 minutes", slide="15 minutes")


@register(
    "stream_session_window",
    """
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM g
    )
    SELECT min(ts) AS session_start,
           user_id,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, sess
    """,
    doc=(
        "Session windows per user, 30-min gap, via the built-in stateful "
        "F.session_window (streaming/windows.py session_aggregate). An "
        "event at exactly gap distance starts a NEW session (half-open "
        "[ts, ts+gap)) — hence >= in the oracle's islands twin."
    ),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.streaming.windows import session_aggregate

    return session_aggregate(_t(spark, sf_dir, "events"), gap="30 minutes")


# ===========================================================================
# Multimodal plumbing
# ===========================================================================


@register(
    "mm_binary_features",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    """,
    doc=(
        "Multimodal binary-column plumbing: opaque payload bytes processed "
        "per Arrow batch via mapInPandas (operators/multimodal."
        "extract_features) — metadata (length, digest) verified against "
        "the oracle; the deterministic fake feature vector (the codec stub) "
        "is exercised in tests and dropped here (no SQL twin for it)."
    ),
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.multimodal import docs_as_media, extract_features

    media = docs_as_media(_t(spark, sf_dir, "documents"))
    return extract_features(media).select("media_id", "n_bytes", "sha256")


@register(
    "mm_frame_sample",
    """
    WITH m AS (
      SELECT doc_id AS media_id, text FROM documents
    ), f AS (
      SELECT media_id,
             unnest(range(least(CAST(ceil(length(text) / 128.0) AS INTEGER), 8))) AS frame_no,
             text
      FROM m
    )
    SELECT media_id,
           CAST(frame_no AS INTEGER) AS frame_no,
           length(substring(text, frame_no * 128 + 1, 128)) AS n_bytes,
           md5(substring(text, frame_no * 128 + 1, 128)) AS frame_md5
    FROM f
    """,
    doc=(
        "Frame-sampling plumbing: payloads sliced into fixed-size frames "
        "inside the Arrow kernel, ≤8 frames each, one row per frame "
        "(operators/multimodal.sample_frames). Sampling happens inside the "
        "kernel so raw payloads never amplify across a shuffle. The "
        "output projects each binary frame to (n_bytes, md5) so the "
        "kernel's exact slicing is hash-checked against the oracle's "
        "text-domain slices (the corpus is pure ASCII — verified "
        "octet_length==length — so byte and character offsets coincide "
        "and DuckDB's varchar md5 equals Spark's binary md5)."
    ),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.multimodal import docs_as_media, sample_frames

    media = docs_as_media(_t(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_n_bytes=128, max_frames=8)
    return frames.select(
        "media_id",
        "frame_no",
        F.octet_length("frame").cast("long").alias("n_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id, md5({SQL_NORM.format(t='text')}) AS fingerprint
    FROM documents
    """,
    doc=(
        "Engine-portable md5 content fingerprint of normalized text "
        "(operators/textops.fingerprints) — the cross-system dedup key."
    ),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import fingerprints

    return fingerprints(_t(spark, sf_dir, "documents"))


# ===========================================================================
# Dataset curation: deterministic splits / sampling / packing /
# decontamination / repetition (operators/sampling.py, textops.py)
# ===========================================================================

SQL_HASHKEY = "substring(md5('{seed}:' || CAST({id} AS VARCHAR)), 1, 8)"


@register(
    "data_hash_split",
    f"""
    SELECT doc_id,
           CASE WHEN {SQL_HASHKEY.format(seed='split42', id='doc_id')} < 'e6666666' THEN 'train'
                WHEN {SQL_HASHKEY.format(seed='split42', id='doc_id')} < 'f3333333' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc=(
        "Deterministic 90/5/5 train/val/test split by md5 content hash "
        "(operators/sampling.hash_split): a pure per-row expression — no "
        "RNG, no shuffle — identical assignment on every engine and "
        "re-run, which is what keeps splits stable as the corpus grows."
    ),
)
def data_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs, {"train": 0.9, "val": 0.05, "test": 0.05}).select("doc_id", "split")


@register(
    "data_stratified_sample",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {SQL_HASHKEY.format(seed='sample42', id='doc_id')}, doc_id
             ) AS rk
      FROM documents
    ) t WHERE rk <= 20
    """,
    doc=(
        "Deterministic 20-per-language sample: rank by content hash inside "
        "each stratum, keep the first k (operators/sampling."
        "stratified_sample). One shuffle on the strata key; reproducible "
        "across engines/re-runs because the choice is a function of ids."
    ),
)
def data_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, ["lang"], k=20).select("doc_id", "lang")


@register(
    "data_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             len({SQL_WORDS.format(t='text')})::INTEGER AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(floor(coalesce(sum(n_tokens) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 2048.0) AS BIGINT) AS bin_id
    FROM t
    """,
    doc=(
        "Greedy sequence packing into 2048-token context windows per "
        "language (operators/sampling.pack_sequences): bin = exclusive "
        "prefix sum div budget — one window cumsum, no iteration, the "
        "pack-with-split convention of LM training pipelines."
    ),
)
def data_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.functions.text import token_count_ws
    from etl_s3_to_redshift_spark.operators.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count_ws(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(docs, budget=2048)


@register(
    "text_repetition",
    f"""
    WITH w AS (
      SELECT doc_id, {SQL_WORDS.format(t='text')} AS wl FROM documents
    ), s AS (
      SELECT doc_id, wl,
             list_transform(range(greatest(len(wl)-2,1)),
                            i -> array_to_string(list_slice(wl, i+1, i+3), ' ')) AS sh
      FROM w
    )
    SELECT doc_id,
           CASE WHEN len(sh) > 0
                THEN round(1.0 - len(list_distinct(sh)) / CAST(len(sh) AS DOUBLE), 6)
                ELSE 0.0 END AS dup_3gram_frac,
           CASE WHEN len(wl) > 0
                THEN round(1.0 - len(list_distinct(wl)) / CAST(len(wl) AS DOUBLE), 6)
                ELSE 0.0 END AS dup_token_frac
    FROM s
    """,
    doc=(
        "Intra-document repetition scores: duplicated 3-gram-slot and "
        "duplicated-token fractions (operators/textops.repetition_scores) "
        "— boilerplate/loop detection for corpus filtering. Pure per-row "
        "array expressions inside the scan stage; zero shuffles."
    ),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import repetition_scores

    return repetition_scores(_t(spark, sf_dir, "documents"))


@register(
    "text_decontaminate",
    f"""
    WITH w AS (
      SELECT doc_id, {SQL_WORDS.format(t='text')} AS wl FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(greatest(len(wl)-4,1)),
                    i -> array_to_string(list_slice(wl, i+1, i+5), ' ')))) AS shingle
      FROM w
    ), bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id < 20
    ), corp AS (
      SELECT doc_id, shingle FROM sh WHERE doc_id >= 20
    )
    SELECT corp.doc_id AS doc_id, count(*) AS n_shared_ngrams
    FROM corp JOIN bench USING (shingle)
    GROUP BY corp.doc_id
    """,
    doc=(
        "Benchmark decontamination: per corpus doc (doc_id >= 20), the "
        "count of distinct 5-gram shingles shared with the benchmark set "
        "(doc_id < 20) — eval-leakage detection (operators/textops."
        "decontaminate). Benchmark shingles broadcast (eval suites are "
        "tiny); the corpus is never self-joined or shuffled by shingle."
    ),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") >= 20), docs.filter(F.col("doc_id") < 20), k=5
    )


@register(
    "stream_interval_join",
    """
    SELECT v.user_id AS user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           date_diff('second', v.ts, p.ts) AS secs_to_purchase
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1800 SECONDS
    WHERE v.event_type = 'view'
      AND p.event_type = 'purchase'
    """,
    doc=(
        "Stream-stream interval join (view→purchase attribution within 30 "
        "min, streaming/joins.py): equi-join on user_id with the "
        "event-time range INSIDE the join condition — the watermark+bound "
        "combination that lets Structured Streaming drop buffered state. "
        "This batch twin is plan-identical minus watermarks; streaming == "
        "batch is pinned in tests/test_streaming_multimodal.py."
    ),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.streaming.joins import view_to_purchase_funnel

    return view_to_purchase_funnel(_t(spark, sf_dir, "events"))
