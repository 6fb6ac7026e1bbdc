"""Round-6 registered queries (fifth batch): BM25 lexical retrieval,
the end-to-end curation funnel report, and exact Misra-Gries heavy
hitters.

Reference anchor: north-star extensions only (the reference's full query
inventory at /root/reference/sql_queries.py has no text surface); all
three queries carry exact DuckDB oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_s3_to_redshift_spark.queries import _t, index_cache_dir, register

_WORDS_LOWER_SQL = (
    r"list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x != '')"
)

# ---------------------------------------------------------------------------
# BM25 top-k lexical retrieval
# ---------------------------------------------------------------------------

# Fixed benchmark query set: common terms, a rare/common contrast pair
# ('dup' marks the planted near-duplicate docs), and one term absent
# from the corpus ('shuffle' — exercises the missing-postings path).
_BM25_QUERIES = [
    (1, "spark shuffle join"),
    (2, "dup line"),
    (3, "fast table scan"),
]
_BM25_K = 10

_BM25_VALUES = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)


@register(
    "text_bm25_topk",
    f"""
    WITH q(query_id, query_text) AS (VALUES {_BM25_VALUES}),
    qt AS (
      SELECT query_id,
             unnest(list_distinct(list_filter(
               string_split_regex(trim(lower(query_text)), '\\s+'),
               x -> x != ''))) AS term
      FROM q
    ), toked AS (
      SELECT doc_id, {_WORDS_LOWER_SQL} AS toks FROM documents
    ), dl AS (
      SELECT doc_id, len(toks) AS dl FROM toked
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ), post AS (
      SELECT t.doc_id, unnest(t.toks) AS term FROM toked t
    ), tf AS (
      SELECT p.doc_id, p.term, count(*) AS tf
      FROM post p
      WHERE p.term IN (SELECT DISTINCT term FROM qt)
      GROUP BY 1, 2
    ), dfc AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), per_term AS (
      SELECT qt.query_id, tf.doc_id,
             CAST(round(
               ln(1.0 + ((st.n_docs - dfc.df) + 0.5) / (dfc.df + 0.5))
               * (CAST(tf.tf AS DOUBLE) * 2.2)
                 / (CAST(tf.tf AS DOUBLE)
                    + 1.2 * (0.25
                             + (0.75 * CAST(dl.dl AS DOUBLE)) / st.avgdl)),
               6) AS DECIMAL(20,6)) AS s
      FROM tf
      JOIN dfc USING (term)
      JOIN qt USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats st
    ), scored AS (
      SELECT query_id, doc_id, CAST(sum(s) AS DOUBLE) AS score
      FROM per_term GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, doc_id, score, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {_BM25_K}
    """,
    doc=(
        "BM25 lexical retrieval (operators/textops.bm25_topk; Robertson "
        "& Zaragoza 2009, the Lucene k1=1.2/b=0.75 variant with "
        "always-positive idf): top-10 documents per benchmark query — "
        "the sparse sibling of the dense sim_ann_* stack. Postings "
        "semi-join the broadcast query-term set BEFORE any aggregation "
        "(inverted-index access path: only query-term postings ever "
        "shuffle), corpus scalars N/avgdl broadcast as a 1-row frame, "
        "per-term scores sum as DECIMAL(20,6) after 6-dp rounding "
        "(exact, associative — cross-engine stable), and top-k ranks in "
        "two phases (doc-hash salt, then per-query) so one query's "
        "candidate set never funnels through a single task."
    ),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id INT, query_text STRING"
    )
    return bm25_topk(docs, queries, k=_BM25_K)


# ---------------------------------------------------------------------------
# Curation funnel — the staged keep/drop pipeline report
# ---------------------------------------------------------------------------

_FUNNEL_COV = 0.5


@register(
    "data_curation_funnel",
    f"""
    WITH base AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x != '') AS toks,
             list_filter(string_split(text, chr(10)),
                         l -> trim(l) != '') AS lns,
             {_WORDS_LOWER_SQL} AS lt
      FROM documents
    ), lang AS (
      SELECT doc_id, text, toks, lns,
        (len(list_filter(lt, t -> list_contains(
             ['the','and','of','to','a','in','is'], t))) > 0
         OR len(list_filter(lt, t -> list_contains(
             ['der','die','und','das','ist','nicht'], t))) > 0
         OR len(list_filter(lt, t -> list_contains(
             ['el','la','los','y','que','es'], t))) > 0
         OR len(list_filter(lt, t -> list_contains(
             ['le','la','les','et','est','une'], t))) > 0) AS s_lang
      FROM base
    ), m AS (
      SELECT doc_id, text, toks, s_lang,
        len(toks) AS n_words,
        list_aggregate(list_transform(toks, w -> length(w)), 'sum')
          AS tok_chars,
        length(text) - length(replace(text, '#', '')) AS n_hash,
        (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
        len(lns) AS n_lines,
        len(list_filter(lns, l -> ltrim(l) LIKE '- %'
                              OR ltrim(l) LIKE '* %'
                              OR ltrim(l) LIKE '•%')) AS n_bullet,
        len(list_filter(lns, l -> rtrim(l) LIKE '%...'
                              OR rtrim(l) LIKE '%…')) AS n_ell_end,
        len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
          AS n_alpha,
        len(list_filter(['the','be','to','of','and','that','have','with'],
                        w -> list_contains(
                            list_transform(toks, x -> lower(x)), w)))
          AS n_req
      FROM lang
    ), g AS (
      SELECT doc_id, text, toks, s_lang,
        (s_lang
         AND n_words >= 50 AND n_words <= 100000
         AND coalesce(CAST(tok_chars AS DOUBLE) / CAST(n_words AS DOUBLE)
                        >= 3.0
                      AND CAST(tok_chars AS DOUBLE) / CAST(n_words AS DOUBLE)
                        <= 10.0, FALSE)
         AND coalesce((n_hash + n_ell) / CAST(n_words AS DOUBLE) <= 0.1,
                      FALSE)
         AND (CASE WHEN n_lines > 0
                   THEN CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE)
                   ELSE 0.0 END) < 0.9
         AND (CASE WHEN n_lines > 0
                   THEN CAST(n_ell_end AS DOUBLE) / CAST(n_lines AS DOUBLE)
                   ELSE 0.0 END) < 0.3
         AND coalesce(CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE)
                        >= 0.8, FALSE)
         AND n_req >= 1) AS s_quality
      FROM m
    ), firsts AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM g WHERE s_quality
    ), gx AS (
      SELECT g.doc_id, g.text, g.toks, g.s_lang, g.s_quality,
             (g.s_quality AND coalesce(fs.rn, 0) = 1) AS s_exact
      FROM g LEFT JOIN firsts fs USING (doc_id)
    ), sized AS (
      SELECT doc_id, toks AS w, len(toks) AS n_tokens
      FROM gx WHERE s_exact
    ), win AS (
      SELECT doc_id, n_tokens, i AS s,
             array_to_string(list_slice(w, i + 1, i + 10), ' ') AS seg
      FROM (SELECT doc_id, n_tokens, w,
                   unnest(range(greatest(n_tokens - 9, 1))) AS i
            FROM sized WHERE n_tokens > 0)
    ), f AS (
      SELECT seg, count(*) AS freq FROM win GROUP BY seg
    ), dup AS (
      SELECT w.doc_id, w.n_tokens, w.s
      FROM win w JOIN f USING (seg) WHERE f.freq > 1
    ), cov AS (
      SELECT doc_id,
             sum(CASE WHEN prev IS NULL THEN least(10, n_tokens)
                      ELSE least(least(10, n_tokens), s - prev) END)
               AS covered
      FROM (SELECT doc_id, n_tokens, s,
                   lag(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev
            FROM dup)
      GROUP BY doc_id
    ), flags AS (
      SELECT gx.doc_id, gx.s_lang, gx.s_quality, gx.s_exact,
             (gx.s_exact AND
              round(CASE WHEN z.n_tokens > 0
                         THEN CAST(coalesce(c.covered, 0) AS DOUBLE)
                              / CAST(z.n_tokens AS DOUBLE)
                         ELSE 0.0 END, 6) + 0.0 < {_FUNNEL_COV})
               AS s_neardup
      FROM gx
      LEFT JOIN sized z USING (doc_id)
      LEFT JOIN cov c USING (doc_id)
    ), agg AS (
      SELECT count(*) AS n0,
             coalesce(sum(CASE WHEN s_lang THEN 1 ELSE 0 END), 0) AS n1,
             coalesce(sum(CASE WHEN s_quality THEN 1 ELSE 0 END), 0) AS n2,
             coalesce(sum(CASE WHEN s_exact THEN 1 ELSE 0 END), 0) AS n3,
             coalesce(sum(CASE WHEN s_neardup THEN 1 ELSE 0 END), 0) AS n4
      FROM flags
    )
    SELECT CAST(0 AS INTEGER) AS stage_idx, 'raw' AS stage,
           CAST(n0 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS n_removed,
           CASE WHEN n0 > 0 THEN round(CAST(n0 AS DOUBLE)/CAST(n0 AS DOUBLE), 6) + 0.0 END AS pct_kept
    FROM agg
    UNION ALL
    SELECT 1, 'lang_id', CAST(n1 AS BIGINT), CAST(n0 - n1 AS BIGINT),
           CASE WHEN n0 > 0 THEN round(CAST(n1 AS DOUBLE)/CAST(n0 AS DOUBLE), 6) + 0.0 END FROM agg
    UNION ALL
    SELECT 2, 'quality_rules', CAST(n2 AS BIGINT), CAST(n1 - n2 AS BIGINT),
           CASE WHEN n0 > 0 THEN round(CAST(n2 AS DOUBLE)/CAST(n0 AS DOUBLE), 6) + 0.0 END FROM agg
    UNION ALL
    SELECT 3, 'exact_dedup', CAST(n3 AS BIGINT), CAST(n2 - n3 AS BIGINT),
           CASE WHEN n0 > 0 THEN round(CAST(n3 AS DOUBLE)/CAST(n0 AS DOUBLE), 6) + 0.0 END FROM agg
    UNION ALL
    SELECT 4, 'near_dedup', CAST(n4 AS BIGINT), CAST(n3 - n4 AS BIGINT),
           CASE WHEN n0 > 0 THEN round(CAST(n4 AS DOUBLE)/CAST(n0 AS DOUBLE), 6) + 0.0 END FROM agg
    """,
    doc=(
        "End-to-end curation funnel report (operators/curation."
        "curation_funnel; the FineWeb/RefinedWeb/CCNet pipeline shape): "
        "language-ID confidence → Gopher rule gate → exact keep-first "
        "dedup → exact-substring near-dup drop (Lee-et-al window "
        "coverage < 0.5, frequencies counted within exact-dedup "
        "survivors; exact copies collapse FIRST or the coverage gate "
        "would make the exact stage dead code), "
        "each stage on the previous stage's survivors, reported as "
        "stage-by-stage counts, removals, and cumulative keep rate. "
        "Gopher's min_required_words is adapted to 1 for the synthetic "
        "word-soup corpus (it contains only 'the'/'a' of the 8 English "
        "function words; the operator default stays at the published "
        "2). Stages 1-2 fuse into one scan (the language flag rides "
        "through the Gopher gate's passthrough); the report itself is "
        "one 5-conditional-count aggregate + a literal struct explode "
        "— no window over the aggregate, no second corpus pass."
    ),
)
def data_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.curation import curation_funnel

    docs = _t(spark, sf_dir, "documents")
    return curation_funnel(
        docs, window_tokens=10, max_coverage=_FUNNEL_COV, min_required_words=1
    )


# ---------------------------------------------------------------------------
# Heavy hitters — Misra-Gries candidates + exact rescore
# ---------------------------------------------------------------------------

_HH_PHI = 0.008


@register(
    "approx_heavy_hitters",
    f"""
    WITH t AS (SELECT count(*) AS n FROM events WHERE user_id IS NOT NULL)
    SELECT e.user_id,
           CAST(count(*) AS BIGINT) AS freq,
           round(CAST(count(*) AS DOUBLE) / CAST(t.n AS DOUBLE), 6) + 0.0
             AS share
    FROM events e, t
    WHERE e.user_id IS NOT NULL
    GROUP BY e.user_id, t.n
    HAVING CAST(count(*) AS DOUBLE) > {_HH_PHI} * CAST(t.n AS DOUBLE)
    """,
    doc=(
        "Exact phi-heavy-hitters over a Misra-Gries candidate sketch "
        "(operators/skew.heavy_hitters_exact; Misra & Gries 1982, "
        "mergeable-summaries argument per Agarwal et al. 2012): pass 1 "
        "runs bounded-memory MG per partition over an Arrow batch "
        "iterator (k=ceil(2/phi) counters, state across batches via "
        "mapInPandas) whose union provably contains every key above "
        "phi*N; pass 2 semi-joins the broadcast candidate set back and "
        "applies the threshold to EXACT map-side-combined counts, so "
        "the output is partition-layout-independent and cross-engine "
        "exact — the sketch prunes, it never decides. Completes the "
        "sketch family next to approx_sketches' HLL++/GK quantiles "
        "with the one sketch that CAN carry an exact oracle."
    ),
)
def approx_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.skew import heavy_hitters_exact

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters_exact(ev, "user_id", phi=_HH_PHI)


# ---------------------------------------------------------------------------
# Hybrid retrieval — BM25 + dense cosine fused by Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

_RRF_QIDS = [7, 42, 123]
_RRF_KLIST = 20
_RRF_K = 60

_RRF_QIDS_SQL = ", ".join(str(i) for i in _RRF_QIDS)


@register(
    "sim_hybrid_rrf",
    f"""
    WITH q AS (
      SELECT doc_id AS query_id, text AS query_text
      FROM documents WHERE doc_id IN ({_RRF_QIDS_SQL})
    ), qt AS (
      SELECT query_id,
             unnest(list_distinct(list_filter(
               string_split_regex(trim(lower(query_text)), '\\s+'),
               x -> x != ''))) AS term
      FROM q
    ), toked AS (
      SELECT doc_id, {_WORDS_LOWER_SQL} AS toks FROM documents
    ), dl AS (
      SELECT doc_id, len(toks) AS dl FROM toked
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ), post AS (
      SELECT t.doc_id, unnest(t.toks) AS term FROM toked t
    ), tf AS (
      SELECT p.doc_id, p.term, count(*) AS tf
      FROM post p
      WHERE p.term IN (SELECT DISTINCT term FROM qt)
      GROUP BY 1, 2
    ), dfc AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), per_term AS (
      SELECT qt.query_id, tf.doc_id,
             CAST(round(
               ln(1.0 + ((st.n_docs - dfc.df) + 0.5) / (dfc.df + 0.5))
               * (CAST(tf.tf AS DOUBLE) * 2.2)
                 / (CAST(tf.tf AS DOUBLE)
                    + 1.2 * (0.25
                             + (0.75 * CAST(dl.dl AS DOUBLE)) / st.avgdl)),
               6) AS DECIMAL(20,6)) AS s
      FROM tf
      JOIN dfc USING (term)
      JOIN qt USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats st
    ), bscored AS (
      SELECT query_id, doc_id, CAST(sum(s) AS DOUBLE) AS score
      FROM per_term GROUP BY 1, 2
    ), branked AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id ASC) AS r0
      FROM bscored
    ), sparse AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id ORDER BY r0) AS sr
      FROM branked WHERE r0 <= {_RRF_KLIST + 1} AND doc_id != query_id
    ), sparse_cut AS (
      SELECT * FROM sparse WHERE sr <= {_RRF_KLIST}
    ), dv AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), dnorm AS (
      -- zero-norm guard: the operator's cosine yields NULL on a
      -- zero-norm vector (ranked LAST); an unguarded division would
      -- give DuckDB IEEE NaN, which sorts FIRST under DESC
      SELECT vec_id, v,
             sqrt(list_aggregate(list_transform(range(len(v)),
                  i -> v[i+1] * v[i+1]), 'sum')) AS nrm
      FROM dv
    ), dscored AS (
      SELECT q.query_id, c.vec_id AS doc_id,
             CASE WHEN c.nrm > 0 AND q.nrm > 0 THEN
               round(list_aggregate(list_transform(range(len(c.v)),
                         i -> c.v[i+1] * q.v[i+1]), 'sum')
                 / (c.nrm * q.nrm), 6)
             END AS cos_sim
      FROM dnorm c, (SELECT vec_id AS query_id, v, nrm FROM dnorm
                     WHERE vec_id IN ({_RRF_QIDS_SQL})) q
      WHERE c.vec_id != q.query_id
    ), dense_cut AS (
      SELECT query_id, doc_id, dr FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC NULLS LAST,
                                           doc_id ASC) AS dr
        FROM dscored
      ) t WHERE dr <= {_RRF_KLIST}
    ), fused AS (
      SELECT coalesce(s.query_id, d.query_id) AS query_id,
             coalesce(s.doc_id, d.doc_id) AS doc_id,
             (CASE WHEN s.sr IS NOT NULL
                   THEN 1.0 / ({_RRF_K}.0 + CAST(s.sr AS DOUBLE))
                   ELSE 0.0 END
              + CASE WHEN d.dr IS NOT NULL
                     THEN 1.0 / ({_RRF_K}.0 + CAST(d.dr AS DOUBLE))
                     ELSE 0.0 END) AS rrf,
             coalesce(s.sr, 0) AS sparse_rank,
             coalesce(d.dr, 0) AS dense_rank
      FROM sparse_cut s
      FULL OUTER JOIN dense_cut d
        ON s.query_id = d.query_id AND s.doc_id = d.doc_id
    )
    SELECT query_id, doc_id,
           round(rrf, 6) + 0.0 AS rrf_score,
           CAST(sparse_rank AS INTEGER) AS sparse_rank,
           CAST(dense_rank AS INTEGER) AS dense_rank,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, doc_id ASC) AS rank
      FROM fused
    ) t WHERE rank <= 10
    """,
    doc=(
        "Hybrid sparse+dense retrieval fused by Reciprocal Rank Fusion "
        "(operators/similarity.hybrid_rrf_topk; Cormack, Clarke & "
        "Büttcher 2009, k=60): query-by-document — each query doc "
        "retrieves top-20 by BM25 on its text AND top-20 by exact "
        "cosine on its embedding, candidates re-score as "
        "sum(1/(60+rank)) over the lists containing them, final "
        "top-10. RRF is pure rank arithmetic (one addition of two "
        "1/(60+int) doubles in fixed order) so the fusion is "
        "cross-engine exact with NO rounding before ranking; both "
        "legs are themselves exact (decimal BM25 sums; 6-dp-rounded "
        "cosine ranks). Self-matches are excluded from both lists "
        "before ranks are taken. The fusion joins two "
        "queries×k_list-row frames — dust at any corpus size; at lake "
        "scale the dense leg swaps for a sim_ann_* shortlist, RRF is "
        "agnostic to where the rank lists came from."
    ),
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import hybrid_rrf_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return hybrid_rrf_topk(
        docs, emb, _RRF_QIDS, k_list=_RRF_KLIST, k_final=10, k_rrf=_RRF_K
    )


@register(
    "sim_hybrid_rrf_ann",
    # Committed-expectation oracle (tools/gen_committed_oracle.py;
    # REGRESSION PIN generated under Spark 4.1.2 — regenerate on an
    # engine upgrade before reading a red gate as a regression): the
    # IVF leg's seeded k-means training is not SQL-expressible, but
    # the full output is deterministic (verified bit-identical across
    # local[5/8/32] x shuffle-partitions 17/8/32, round 7), so the
    # exact 30-row result at the driver's sf0.01 gate is frozen here.
    # Valid only at sf0.01; other SFs fall back to rows-only.
    """
    SELECT CAST("query_id" AS BIGINT) AS "query_id",
           CAST("doc_id" AS BIGINT) AS "doc_id",
           CAST("rrf_score" AS DOUBLE) AS "rrf_score",
           CAST("sparse_rank" AS INTEGER) AS "sparse_rank",
           CAST("dense_rank" AS INTEGER) AS "dense_rank",
           CAST("rank" AS INTEGER) AS "rank"
    FROM (VALUES
        (7, 32, CAST('0.015873' AS DOUBLE), 3, 0, 7),
        (7, 56, CAST('0.016393' AS DOUBLE), 1, 0, 3),
        (7, 60, CAST('0.027313' AS DOUBLE), 9, 18, 1),
        (7, 209, CAST('0.015873' AS DOUBLE), 0, 3, 8),
        (7, 280, CAST('0.015625' AS DOUBLE), 4, 0, 9),
        (7, 319, CAST('0.026501' AS DOUBLE), 17, 14, 2),
        (7, 334, CAST('0.015625' AS DOUBLE), 0, 4, 10),
        (7, 340, CAST('0.016393' AS DOUBLE), 0, 1, 4),
        (7, 425, CAST('0.016129' AS DOUBLE), 0, 2, 5),
        (7, 453, CAST('0.016129' AS DOUBLE), 2, 0, 6),
        (42, 27, CAST('0.015873' AS DOUBLE), 0, 3, 6),
        (42, 264, CAST('0.015625' AS DOUBLE), 4, 0, 8),
        (42, 270, CAST('0.015873' AS DOUBLE), 3, 0, 7),
        (42, 294, CAST('0.016129' AS DOUBLE), 2, 0, 5),
        (42, 311, CAST('0.028629' AS DOUBLE), 20, 2, 1),
        (42, 328, CAST('0.027778' AS DOUBLE), 12, 12, 2),
        (42, 376, CAST('0.016393' AS DOUBLE), 0, 1, 3),
        (42, 403, CAST('0.015385' AS DOUBLE), 0, 5, 10),
        (42, 453, CAST('0.016393' AS DOUBLE), 1, 0, 4),
        (42, 467, CAST('0.015625' AS DOUBLE), 0, 4, 9),
        (123, 4, CAST('0.015873' AS DOUBLE), 3, 0, 5),
        (123, 10, CAST('0.015385' AS DOUBLE), 0, 5, 9),
        (123, 56, CAST('0.015625' AS DOUBLE), 4, 0, 7),
        (123, 88, CAST('0.015873' AS DOUBLE), 0, 3, 6),
        (123, 101, CAST('0.015625' AS DOUBLE), 0, 4, 8),
        (123, 151, CAST('0.016129' AS DOUBLE), 2, 0, 3),
        (123, 224, CAST('0.016393' AS DOUBLE), 1, 0, 1),
        (123, 288, CAST('0.016393' AS DOUBLE), 0, 1, 2),
        (123, 327, CAST('0.016129' AS DOUBLE), 0, 2, 4),
        (123, 328, CAST('0.015385' AS DOUBLE), 5, 0, 10)
    ) AS t("query_id", "doc_id", "rrf_score", "sparse_rank", "dense_rank", "rank")
    """,
    oracle_sf="sf0.01",
    doc=(
        "ANN-backed hybrid retrieval (operators/similarity."
        "hybrid_rrf_topk with dense_impl='ivf'): same RRF fusion as "
        "sim_hybrid_rrf, but the dense leg rides the IVF shortlist "
        "(sim_ann_ivf's seeded 16-cell quantizer, 4-probe exact "
        "rescore) instead of a brute-force corpus scan — the lake-"
        "scale shape, where each dense query reads n_probe/n_lists of "
        "the corpus. Sparse leg and fusion are unchanged and exact; "
        "the ANN leg's recall cost is pinned by a floor test against "
        "the exact fusion (tests/test_ops11.py)."
    ),
)
def sim_hybrid_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import hybrid_rrf_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return hybrid_rrf_topk(
        docs,
        emb,
        _RRF_QIDS,
        k_list=_RRF_KLIST,
        k_final=10,
        k_rrf=_RRF_K,
        dense_impl="ivf",
    )


# ---------------------------------------------------------------------------
# Amortized ANN: probe a SAVED IVF index (the lake-scale measured shape)
# ---------------------------------------------------------------------------


def _saved_ivf_index(spark: SparkSession, sf_dir: str):
    """Load — building at most ONCE per lake — the sf_dir's saved IVF
    index. The amortized half of the IVF contract
    (operators/similarity.IvfIndex): ``build_ivf_index`` runs once into
    a deterministic scratch path keyed by the lake directory
    (``IvfIndex.save`` lays the cells out as parquet PARTITIONED BY
    cell); every later probe, in this process or any other on this
    machine, just ``IvfIndex.load``s and reads ~n_probe/n_lists of the
    files (DPP partition pruning — plan pinned in
    tests/test_temporal_scalar.py and on the registered query in
    tests/test_ops11.py). The build is seeded-deterministic
    (bit-identical across session shapes, round 5), so a fresh build
    and a cache hit yield the same index — which is what lets the
    registered query carry a committed-expectation oracle at all.

    The save is an atomic ``SnapshotIndex`` publish (r10): the
    ``_CURRENT`` pointer gates reuse, so a torn build is rebuilt, not
    read. The local testdata lakes are immutable, so the cache never
    goes stale; point ``SPARK_GRAFT_IVF_CACHE`` at a fresh root (or
    wipe it) if yours isn't.
    """
    from etl_s3_to_redshift_spark.operators.similarity import (
        IvfIndex,
        build_ivf_index,
    )
    from etl_s3_to_redshift_spark.operators.table_commit import SnapshotIndex

    base = index_cache_dir("ivf", sf_dir)
    # resident-index memo (per Spark app — a loaded handle binds its
    # cells DataFrame to the session): a serving system keeps the
    # quantizer loaded across query batches, so repeat probes in one
    # process skip even the centroid read. The memo holds the SAME
    # object load() returns — zero behavior difference beyond the two
    # skipped jobs.
    memo_key = (spark.sparkContext.applicationId, base)
    idx = _IVF_MEMO.get(memo_key)
    if idx is not None:
        return idx
    if not SnapshotIndex(base).exists():
        build_ivf_index(_t(spark, sf_dir, "embeddings"), n_lists=16).save(base)
    idx = IvfIndex.load(spark, base)
    _IVF_MEMO[memo_key] = idx
    return idx


_IVF_MEMO: dict = {}


@register(
    "sim_ann_ivf_saved",
    # Committed-expectation oracle (tools/gen_committed_oracle.py;
    # REGRESSION PIN generated under Spark 4.1.2 — regenerate on an
    # engine upgrade before reading a red gate as a regression): the
    # quantizer is seeded k-means (not SQL-expressible) but the
    # whole build→save→load→probe pipeline is deterministic —
    # verified bit-identical across a fresh local[32] build, a
    # local[5]/17-shuffle-partition cache-hit LOAD, and a local[8]
    # rebuild (round 8; re-verified after the arrow-rescore swap) —
    # so the exact 50-row result at the driver's sf0.01 gate is
    # frozen here. Scores are ranked/pinned on the 6-dp grid (the
    # sim_topk_cosine_fast contract — BLAS summation drift ~1e-15
    # is absorbed by the 5e-7 bin). Valid only at sf0.01; other
    # SFs fall back to rows-only.
    """
    SELECT CAST("query_id" AS BIGINT) AS "query_id",
           CAST("vec_id" AS BIGINT) AS "vec_id",
           CAST("cos_sim" AS DOUBLE) AS "cos_sim",
           CAST("rank" AS INTEGER) AS "rank"
    FROM (VALUES
        (5, 33, CAST('0.310987' AS DOUBLE), 2),
        (5, 86, CAST('0.220417' AS DOUBLE), 9),
        (5, 92, CAST('0.237404' AS DOUBLE), 7),
        (5, 152, CAST('0.236667' AS DOUBLE), 8),
        (5, 157, CAST('0.311256' AS DOUBLE), 1),
        (5, 182, CAST('0.207343' AS DOUBLE), 10),
        (5, 225, CAST('0.259515' AS DOUBLE), 5),
        (5, 316, CAST('0.291112' AS DOUBLE), 3),
        (5, 395, CAST('0.275599' AS DOUBLE), 4),
        (5, 433, CAST('0.240255' AS DOUBLE), 6),
        (6, 11, CAST('0.235949' AS DOUBLE), 8),
        (6, 145, CAST('0.297696' AS DOUBLE), 2),
        (6, 214, CAST('0.256941' AS DOUBLE), 5),
        (6, 252, CAST('0.25563' AS DOUBLE), 6),
        (6, 268, CAST('0.259942' AS DOUBLE), 3),
        (6, 270, CAST('0.232772' AS DOUBLE), 9),
        (6, 371, CAST('0.241364' AS DOUBLE), 7),
        (6, 381, CAST('0.223811' AS DOUBLE), 10),
        (6, 395, CAST('0.25912' AS DOUBLE), 4),
        (6, 430, CAST('0.32252' AS DOUBLE), 1),
        (7, 49, CAST('0.288352' AS DOUBLE), 9),
        (7, 209, CAST('0.394463' AS DOUBLE), 3),
        (7, 221, CAST('0.324678' AS DOUBLE), 7),
        (7, 302, CAST('0.314524' AS DOUBLE), 8),
        (7, 332, CAST('0.285446' AS DOUBLE), 10),
        (7, 334, CAST('0.356901' AS DOUBLE), 4),
        (7, 340, CAST('0.492766' AS DOUBLE), 1),
        (7, 381, CAST('0.345179' AS DOUBLE), 5),
        (7, 425, CAST('0.40752' AS DOUBLE), 2),
        (7, 445, CAST('0.340782' AS DOUBLE), 6),
        (8, 39, CAST('0.384696' AS DOUBLE), 1),
        (8, 102, CAST('0.266575' AS DOUBLE), 9),
        (8, 138, CAST('0.356671' AS DOUBLE), 2),
        (8, 173, CAST('0.30203' AS DOUBLE), 6),
        (8, 321, CAST('0.269311' AS DOUBLE), 8),
        (8, 326, CAST('0.266233' AS DOUBLE), 10),
        (8, 380, CAST('0.304526' AS DOUBLE), 5),
        (8, 403, CAST('0.338238' AS DOUBLE), 3),
        (8, 494, CAST('0.284058' AS DOUBLE), 7),
        (8, 497, CAST('0.317798' AS DOUBLE), 4),
        (9, 49, CAST('0.385171' AS DOUBLE), 1),
        (9, 107, CAST('0.284494' AS DOUBLE), 4),
        (9, 198, CAST('0.258676' AS DOUBLE), 6),
        (9, 256, CAST('0.284474' AS DOUBLE), 5),
        (9, 302, CAST('0.247664' AS DOUBLE), 7),
        (9, 319, CAST('0.241903' AS DOUBLE), 8),
        (9, 340, CAST('0.233565' AS DOUBLE), 9),
        (9, 386, CAST('0.322118' AS DOUBLE), 3),
        (9, 414, CAST('0.3323' AS DOUBLE), 2),
        (9, 438, CAST('0.222381' AS DOUBLE), 10)
    ) AS t("query_id", "vec_id", "cos_sim", "rank")
    """,
    oracle_sf="sf0.01",
    doc=(
        "Amortized IVF ANN over a SAVED index (operators/similarity."
        "IvfIndex.save/load + ivf_probe): the quantizer is trained and "
        "the corpus cell-assigned ONCE per lake into cell-partitioned "
        "parquet; this query measures the PROBE alone — load centroids "
        "(16 tiny JSON rows), broadcast the query cells, and scan only "
        "the n_probe/n_lists probed cells' files via dynamic partition "
        "pruning. This is the first registered/benched point of the "
        "lake-scale ANN claim: sim_ann_ivf and sim_hybrid_rrf_ann "
        "retrain inline (the one-shot shape, slower than brute force "
        "by design); a production corpus builds once and probes "
        "per-query, which is THIS plan."
    ),
)
def sim_ann_ivf_saved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import ivf_probe

    index = _saved_ivf_index(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    # arrow rescore + 6-dp ranking: the serving shape (static cell
    # pruning + per-cell matmul + local top-k) — same candidate sets as
    # the fold path (cell choice is the same JVM expression), scores on
    # the sim_topk_cosine_fast rounding contract
    return ivf_probe(index, queries, k=10, n_probe=4, rescore="arrow", round_to=6)


@register(
    "sim_hybrid_rrf_ann_saved",
    # Committed-expectation oracle (tools/gen_committed_oracle.py;
    # REGRESSION PIN generated under Spark 4.1.2 — regenerate on an
    # engine upgrade before reading a red gate as a regression):
    # quantizer seeded k-means + arrow-rescored dense ranks (6-dp
    # grid) are not SQL-expressible, but the whole pipeline is
    # deterministic — verified bit-identical across a fresh
    # local[32] build, a local[5]/17-shuffle-partition cache-hit
    # load, and a local[8] rebuild (round 8). Valid only at
    # sf0.01; other SFs fall back to rows-only.
    """
    SELECT CAST("query_id" AS BIGINT) AS "query_id",
           CAST("doc_id" AS BIGINT) AS "doc_id",
           CAST("rrf_score" AS DOUBLE) AS "rrf_score",
           CAST("sparse_rank" AS INTEGER) AS "sparse_rank",
           CAST("dense_rank" AS INTEGER) AS "dense_rank",
           CAST("rank" AS INTEGER) AS "rank"
    FROM (VALUES
        (7, 32, CAST('0.015873' AS DOUBLE), 3, 0, 7),
        (7, 56, CAST('0.016393' AS DOUBLE), 1, 0, 3),
        (7, 60, CAST('0.027313' AS DOUBLE), 9, 18, 1),
        (7, 209, CAST('0.015873' AS DOUBLE), 0, 3, 8),
        (7, 280, CAST('0.015625' AS DOUBLE), 4, 0, 9),
        (7, 319, CAST('0.026501' AS DOUBLE), 17, 14, 2),
        (7, 334, CAST('0.015625' AS DOUBLE), 0, 4, 10),
        (7, 340, CAST('0.016393' AS DOUBLE), 0, 1, 4),
        (7, 425, CAST('0.016129' AS DOUBLE), 0, 2, 5),
        (7, 453, CAST('0.016129' AS DOUBLE), 2, 0, 6),
        (42, 27, CAST('0.015873' AS DOUBLE), 0, 3, 6),
        (42, 264, CAST('0.015625' AS DOUBLE), 4, 0, 8),
        (42, 270, CAST('0.015873' AS DOUBLE), 3, 0, 7),
        (42, 294, CAST('0.016129' AS DOUBLE), 2, 0, 5),
        (42, 311, CAST('0.028629' AS DOUBLE), 20, 2, 1),
        (42, 328, CAST('0.027778' AS DOUBLE), 12, 12, 2),
        (42, 376, CAST('0.016393' AS DOUBLE), 0, 1, 3),
        (42, 403, CAST('0.015385' AS DOUBLE), 0, 5, 10),
        (42, 453, CAST('0.016393' AS DOUBLE), 1, 0, 4),
        (42, 467, CAST('0.015625' AS DOUBLE), 0, 4, 9),
        (123, 4, CAST('0.015873' AS DOUBLE), 3, 0, 5),
        (123, 10, CAST('0.015385' AS DOUBLE), 0, 5, 9),
        (123, 56, CAST('0.015625' AS DOUBLE), 4, 0, 7),
        (123, 88, CAST('0.015873' AS DOUBLE), 0, 3, 6),
        (123, 101, CAST('0.015625' AS DOUBLE), 0, 4, 8),
        (123, 151, CAST('0.016129' AS DOUBLE), 2, 0, 3),
        (123, 224, CAST('0.016393' AS DOUBLE), 1, 0, 1),
        (123, 288, CAST('0.016393' AS DOUBLE), 0, 1, 2),
        (123, 327, CAST('0.016129' AS DOUBLE), 0, 2, 4),
        (123, 328, CAST('0.015385' AS DOUBLE), 5, 0, 10)
    ) AS t("query_id", "doc_id", "rrf_score", "sparse_rank", "dense_rank", "rank")
    """,
    oracle_sf="sf0.01",
    doc=(
        "Hybrid RRF retrieval with the dense leg on the SAVED IVF "
        "index (operators/similarity.hybrid_rrf_topk with "
        "dense_impl='ivf_saved'): same fusion and exact BM25 sparse "
        "leg as sim_hybrid_rrf, but the dense shortlist comes from "
        "ivf_probe(rescore='arrow', round_to=6) over the once-per-lake "
        "cell-partitioned index — the amortized end-to-end retrieval "
        "stack. RRF consumes ranks, so the fusion stays pure rank "
        "arithmetic (cross-engine exact); the dense leg's recall cost "
        "vs the exact fusion is floor-pinned in tests/test_ops11.py. "
        "This is the serving shape of the whole retrieval story: "
        "sim_hybrid_rrf is the brute baseline, sim_hybrid_rrf_ann the "
        "honest one-shot (train-inline, slower), and THIS the "
        "build-once/probe-many plan a lake actually runs."
    ),
)
def sim_hybrid_rrf_ann_saved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import hybrid_rrf_topk

    index = _saved_ivf_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return hybrid_rrf_topk(
        docs,
        emb,
        _RRF_QIDS,
        k_list=_RRF_KLIST,
        k_final=10,
        k_rrf=_RRF_K,
        dense_impl="ivf_saved",
        index=index,
    )


def _saved_ivf_index_appended(spark: SparkSession, sf_dir: str):
    """Build-then-append twin of ``_saved_ivf_index`` for the
    incremental-maintenance query: the quantizer trains on the ~80%
    hash slice ``pmod(vec_id, 5) != 0`` (build + save), then the
    remaining ~20% arrives "later" and is ``append_to_saved`` — cell-
    assigned under the frozen centroids and appended into the layout,
    never retraining or rewriting the existing corpus. The split is a
    pure row predicate (scale- and partition-independent), so the
    whole pipeline is deterministic and pinnable. A python-side
    receipt marks build+append as one atomic unit for the cache (the
    parquet _SUCCESS alone would cache a build that hadn't appended
    yet)."""
    from etl_s3_to_redshift_spark.operators.similarity import (
        IvfIndex,
        build_ivf_index,
    )

    base = index_cache_dir("ivf", sf_dir, "_appended")
    memo_key = (spark.sparkContext.applicationId, base)
    idx = _IVF_MEMO.get(memo_key)
    if idx is not None:
        return idx
    marker = os.path.join(base, "_APPEND_DONE")
    if not os.path.exists(marker):
        emb = _t(spark, sf_dir, "embeddings")
        seed_rows = emb.filter(F.pmod(F.col("vec_id"), F.lit(5)) != 0)
        late_rows = emb.filter(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
        built = build_ivf_index(seed_rows, n_lists=16)
        built.save(base)
        built.append_to_saved(late_rows, base)
        with open(marker, "w") as f:
            f.write("build+append complete\n")
    idx = IvfIndex.load(spark, base)
    _IVF_MEMO[memo_key] = idx
    return idx


@register(
    "sim_ann_ivf_appended",
    # Committed-expectation oracle (tools/gen_committed_oracle.py;
    # REGRESSION PIN generated under Spark 4.1.2 — regenerate on an
    # engine upgrade before reading a red gate as a regression):
    # seeded 80%-slice quantizer + frozen-centroid append + arrow
    # probe on the 6-dp grid, verified bit-identical across a fresh
    # local[32] build+append, a local[5]/17-shuffle-partition
    # cache-hit load, and a local[8] rebuild (round 8). Valid only
    # at sf0.01; other SFs fall back to rows-only.
    """
    SELECT CAST("query_id" AS BIGINT) AS "query_id",
           CAST("vec_id" AS BIGINT) AS "vec_id",
           CAST("cos_sim" AS DOUBLE) AS "cos_sim",
           CAST("rank" AS INTEGER) AS "rank"
    FROM (VALUES
        (10, 34, CAST('0.266305' AS DOUBLE), 9),
        (10, 38, CAST('0.272264' AS DOUBLE), 5),
        (10, 233, CAST('0.362182' AS DOUBLE), 1),
        (10, 243, CAST('0.266452' AS DOUBLE), 8),
        (10, 272, CAST('0.360649' AS DOUBLE), 2),
        (10, 313, CAST('0.313132' AS DOUBLE), 3),
        (10, 356, CAST('0.264232' AS DOUBLE), 10),
        (10, 390, CAST('0.273976' AS DOUBLE), 4),
        (10, 417, CAST('0.268989' AS DOUBLE), 7),
        (10, 484, CAST('0.269228' AS DOUBLE), 6),
        (11, 10, CAST('0.236266' AS DOUBLE), 10),
        (11, 20, CAST('0.336347' AS DOUBLE), 2),
        (11, 30, CAST('0.367827' AS DOUBLE), 1),
        (11, 36, CAST('0.239904' AS DOUBLE), 8),
        (11, 77, CAST('0.23721' AS DOUBLE), 9),
        (11, 78, CAST('0.276102' AS DOUBLE), 6),
        (11, 130, CAST('0.290734' AS DOUBLE), 4),
        (11, 233, CAST('0.261495' AS DOUBLE), 7),
        (11, 252, CAST('0.309934' AS DOUBLE), 3),
        (11, 465, CAST('0.280256' AS DOUBLE), 5),
        (12, 127, CAST('0.350543' AS DOUBLE), 1),
        (12, 157, CAST('0.246867' AS DOUBLE), 8),
        (12, 161, CAST('0.275537' AS DOUBLE), 4),
        (12, 173, CAST('0.272121' AS DOUBLE), 5),
        (12, 274, CAST('0.267527' AS DOUBLE), 6),
        (12, 281, CAST('0.300113' AS DOUBLE), 3),
        (12, 305, CAST('0.243879' AS DOUBLE), 9),
        (12, 390, CAST('0.247973' AS DOUBLE), 7),
        (12, 392, CAST('0.240913' AS DOUBLE), 10),
        (12, 402, CAST('0.316485' AS DOUBLE), 2),
        (13, 55, CAST('0.290693' AS DOUBLE), 5),
        (13, 127, CAST('0.264936' AS DOUBLE), 10),
        (13, 274, CAST('0.286487' AS DOUBLE), 7),
        (13, 337, CAST('0.331601' AS DOUBLE), 3),
        (13, 395, CAST('0.289112' AS DOUBLE), 6),
        (13, 398, CAST('0.280647' AS DOUBLE), 8),
        (13, 430, CAST('0.309928' AS DOUBLE), 4),
        (13, 431, CAST('0.265489' AS DOUBLE), 9),
        (13, 440, CAST('0.358399' AS DOUBLE), 1),
        (13, 479, CAST('0.334648' AS DOUBLE), 2),
        (14, 59, CAST('0.265803' AS DOUBLE), 6),
        (14, 76, CAST('0.262818' AS DOUBLE), 8),
        (14, 146, CAST('0.354298' AS DOUBLE), 1),
        (14, 147, CAST('0.318137' AS DOUBLE), 2),
        (14, 199, CAST('0.27795' AS DOUBLE), 5),
        (14, 271, CAST('0.307482' AS DOUBLE), 3),
        (14, 297, CAST('0.240836' AS DOUBLE), 10),
        (14, 311, CAST('0.265673' AS DOUBLE), 7),
        (14, 479, CAST('0.287361' AS DOUBLE), 4),
        (14, 495, CAST('0.242378' AS DOUBLE), 9)
    ) AS t("query_id", "vec_id", "cos_sim", "rank")
    """,
    oracle_sf="sf0.01",
    doc=(
        "Incrementally-maintained IVF ANN (operators/similarity."
        "IvfIndex.append_to_saved): the index is built+saved on the "
        "~80% hash slice of the corpus, the remaining ~20% is appended "
        "later — cell-assigned under the FROZEN centroids, written "
        "mode('append') into the cell-partitioned layout, no retrain, "
        "no rewrite. Probe is the arrow serving path over the merged "
        "layout. Append == full re-assignment under the same centroids "
        "is pinned in tests; at 100 TB this is what makes the ANN "
        "stack operable — arriving data costs its own size, never a "
        "corpus rebuild (the incremental_components / "
        "minhash_append_pairs twin for embeddings)."
    ),
)
def sim_ann_ivf_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import ivf_probe

    index = _saved_ivf_index_appended(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return ivf_probe(index, queries, k=10, n_probe=4, rescore="arrow", round_to=6)


# ---------------------------------------------------------------------------
# Staged BM25 — the sparse leg's amortized form (round 9)
# ---------------------------------------------------------------------------


def _saved_bm25_path(spark: SparkSession, sf_dir: str) -> str:
    """Path of — staging at most ONCE per lake — the sf_dir's BM25
    inverted index (operators/textops.stage_bm25): term-hash-bucketed
    postings (doc_id, term, tf, dl), per-term df under the same
    bucketing, and the N/avgdl scalars. The sparse twin of
    ``_saved_ivf_index``: every retrieval used to re-tokenize the whole
    corpus per call (VERDICT r8 #1 — the last unamortized scan in the
    retrieval stack); a lake stages once and every query is a
    bucket-pruned probe. The stage is an atomic ``SnapshotIndex``
    publish (r10): all three datasets become visible in ONE pointer
    swap, which also gates reuse — a torn build is rebuilt, not read.
    The local testdata lakes are immutable, so the cache never goes
    stale; point ``SPARK_GRAFT_BM25_CACHE`` at a fresh root (or wipe
    it) if yours isn't."""
    from etl_s3_to_redshift_spark.operators.table_commit import SnapshotIndex
    from etl_s3_to_redshift_spark.operators.textops import stage_bm25

    base = index_cache_dir("bm25", sf_dir)
    if not SnapshotIndex(base).exists():
        stage_bm25(_t(spark, sf_dir, "documents"), base)
    return base


def _oracle_of(name: str) -> str:
    """Reuse another registered query's oracle verbatim: a staged probe
    is pinned to produce EXACTLY its inline twin's output (the shared
    scoring tail makes them bit-identical by construction), so the twin's
    independently-derived oracle is the staged query's oracle too —
    duplicating 60 lines of SQL here would just rot."""
    from etl_s3_to_redshift_spark.queries import REGISTRY

    return REGISTRY[name].oracle


@register(
    "text_bm25_topk_staged",
    _oracle_of("text_bm25_topk"),
    doc=(
        "BM25 retrieval over a STAGED inverted index (operators/textops."
        "stage_bm25 + bm25_topk_staged): same scores, same two-phase "
        "top-k as text_bm25_topk (shared _bm25_score_topk tail — "
        "bit-identical by construction, pinned in tests), but the "
        "corpus-sized tokenize→explode→aggregate pipeline is replaced "
        "by a statically partition-pruned scan of the query terms' "
        "hash buckets: postings and df are PARTITIONED BY "
        "pmod(xxhash64(term), 64) at stage time, the probe collects "
        "the tiny query-term set, prunes directories by bucket and "
        "row-groups by term IN (...). The dedup_minhash_staged / "
        "sim_ann_ivf_saved amortization pattern applied to the sparse "
        "leg — at 100 TB a retrieval call costs its terms' postings, "
        "never a corpus scan. Exact DuckDB oracle (the inline twin's, "
        "verbatim — valid at any SF)."
    ),
)
def text_bm25_topk_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import bm25_topk_staged

    path = _saved_bm25_path(spark, sf_dir)
    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id INT, query_text STRING"
    )
    return bm25_topk_staged(spark, path, queries, k=_BM25_K)


@register(
    "sim_hybrid_rrf_staged",
    _oracle_of("sim_hybrid_rrf_ann_saved"),
    oracle_sf="sf0.01",
    doc=(
        "Hybrid RRF retrieval with BOTH legs on saved structures "
        "(operators/similarity.hybrid_rrf_topk with "
        "dense_impl='ivf_saved', sparse_impl='staged'): the dense "
        "shortlist probes the once-per-lake IVF layout "
        "(sim_ann_ivf_saved's plan), the sparse shortlist probes the "
        "once-per-lake BM25 inverted index (text_bm25_topk_staged's "
        "plan), and the RRF fusion is unchanged pure rank arithmetic. "
        "Output is bit-identical to sim_hybrid_rrf_ann_saved (the "
        "staged sparse leg shares the inline scoring tail), so that "
        "query's committed-expectation pin applies verbatim. This "
        "completes the amortization story: sim_hybrid_rrf scans the "
        "corpus twice per call (tokenize + embeddings), "
        "sim_hybrid_rrf_ann_saved still scanned it once (BM25 leg — "
        "~85%% of its sf100 wall, VERDICT r8), THIS scans only the "
        "probed buckets and cells — per-query cost scales with the "
        "query, not the lake."
    ),
)
def sim_hybrid_rrf_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import hybrid_rrf_topk

    index = _saved_ivf_index(spark, sf_dir)
    bm25_path = _saved_bm25_path(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return hybrid_rrf_topk(
        docs,
        emb,
        _RRF_QIDS,
        k_list=_RRF_KLIST,
        k_final=10,
        k_rrf=_RRF_K,
        dense_impl="ivf_saved",
        index=index,
        sparse_impl="staged",
        bm25_path=bm25_path,
    )


def _saved_bm25_path_appended(spark: SparkSession, sf_dir: str) -> str:
    """Stage-then-append twin of ``_saved_bm25_path`` for the
    incremental-maintenance query: the index is staged on the ~80% hash
    slice ``pmod(doc_id, 5) != 0`` of documents, then the remaining ~20%
    arrives "later" and is ``append_to_staged_bm25``-ed — postings
    appended into the bucket layout, df merged, N/avgdl updated from the
    exact integer sums, never a corpus re-stage. Pure row-predicate
    split (scale- and partition-independent), so the result is
    deterministic and equals a full stage of the whole corpus (pinned in
    tests). A python-side ``_APPEND_DONE`` receipt marks stage+append as
    one atomic unit for the cache — the parquet receipts alone would
    cache a stage that hadn't appended yet (the
    ``_saved_ivf_index_appended`` pattern)."""
    from etl_s3_to_redshift_spark.operators.textops import (
        append_to_staged_bm25,
        stage_bm25,
    )

    base = index_cache_dir("bm25", sf_dir, "_appended")
    marker = os.path.join(base, "_APPEND_DONE")
    if not os.path.exists(marker):
        docs = _t(spark, sf_dir, "documents")
        seed = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
        late = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
        stage_bm25(seed, base)
        append_to_staged_bm25(late, base)
        with open(marker, "w") as f:
            f.write("stage+append complete\n")
    return base


@register(
    "text_bm25_topk_appended",
    _oracle_of("text_bm25_topk"),
    doc=(
        "Incrementally-maintained BM25 index (operators/textops."
        "append_to_staged_bm25): the inverted index is staged on the "
        "~80% hash slice of documents, the remaining ~20% is appended "
        "later — new postings rows land in the existing term-hash "
        "bucket layout, per-term df merges old+delta, N/avgdl update "
        "from the exact integer sums — no re-tokenize of the staged "
        "corpus, no rewrite. The probe is the standard bucket-pruned "
        "bm25_topk_staged over the merged layout, so the oracle is the "
        "inline full-corpus SQL twin VERBATIM (appended index == "
        "full-corpus stage, pinned in tests). Completes the "
        "incremental-maintenance triple — MinHash append, IVF append, "
        "and now the sparse-retrieval index: at 100 TB arriving data "
        "costs its own size on every saved structure this engine ships."
    ),
)
def text_bm25_topk_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import bm25_topk_staged

    path = _saved_bm25_path_appended(spark, sf_dir)
    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id INT, query_text STRING"
    )
    return bm25_topk_staged(spark, path, queries, k=_BM25_K)
