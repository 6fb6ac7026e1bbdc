"""Round-6 registered queries (third batch): the C4 cleaning gate,
exact-substring duplication coverage, CCNet perplexity buckets, and
SSL-prototypes data pruning.

Reference anchor: north-star extensions only (the reference's full query
inventory at /root/reference/sql_queries.py has no text/embedding
surface); every query below carries a DuckDB oracle — three exact
derivations plus one committed-expectation pin for the (non-SQL)
iterative quantizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_s3_to_redshift_spark.queries import _t, register

_WORDS_SQL = r"list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')"


# ---------------------------------------------------------------------------
# C4 heuristic cleaning — the published line/page gate
# ---------------------------------------------------------------------------


@register(
    "text_c4_rules",
    r"""
    WITH base AS (
      SELECT doc_id, text,
             list_filter(string_split(text, chr(10)),
                         l -> trim(l) != '') AS lns
      FROM documents
    ), staged AS (
      SELECT doc_id, text, len(lns) AS n_lines,
             list_filter(lns, l ->
                 regexp_matches(rtrim(l), '[.!?"”]$')
                 AND len(list_filter(string_split_regex(trim(l), '\s+'),
                                     x -> x != '')) >= 5
                 AND NOT contains(lower(l), 'javascript')) AS kept
      FROM base
    ), m AS (
      SELECT doc_id, text, n_lines, len(kept) AS n_kept_lines,
             -- DuckDB array_to_string([]) is NULL; Spark array_join is ''
             coalesce(array_to_string(kept, chr(10)), '') AS clean_text
      FROM staged
    ), s AS (
      SELECT *, len(regexp_extract_all(clean_text, '[.!?]')) AS n_sentences
      FROM m
    )
    SELECT doc_id,
           CAST(n_lines AS INTEGER) AS n_lines,
           CAST(n_kept_lines AS INTEGER) AS n_kept_lines,
           CAST(n_sentences AS INTEGER) AS n_sentences,
           clean_text,
           (n_sentences >= 3) AS rule_min_sentences,
           NOT contains(lower(text), 'lorem ipsum') AS rule_no_lorem_ipsum,
           NOT contains(text, '{') AS rule_no_curly_brace,
           (n_sentences >= 3
            AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')) AS keep
    FROM s
    """,
    doc=(
        "C4 heuristic cleaning gate (operators/textops.c4_quality_rules; "
        "Raffel et al. 2020 §2.2): line level, keep only non-blank lines "
        "ending in terminal punctuation with >= 5 words and no "
        "'javascript'; page level, keep the cleaned page iff >= 3 "
        "sentences remain and the raw page has no 'lorem ipsum' and no "
        "curly brace. Emits line/sentence tallies, the reassembled "
        "clean_text, per-rule booleans, and the keep conjunction — the "
        "Gopher-gate shape, so the two published rule sets compose. "
        "Pure narrow expressions over one materialized line array: "
        "shuffle-free at any corpus size (C4's span dedup lives in "
        "dedup_repeated_chunks)."
    ),
)
def text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import c4_quality_rules

    return c4_quality_rules(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Exact-substring duplication coverage (overlapping windows)
# ---------------------------------------------------------------------------

_ESUB_K = 10


@register(
    "dedup_exact_substrings",
    f"""
    WITH base AS (
      SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ), sized AS (
      SELECT doc_id, w, len(w) AS n_tokens FROM base
    ), win AS (
      SELECT doc_id, n_tokens, i AS s,
             array_to_string(list_slice(w, i + 1, i + {_ESUB_K}), ' ') AS seg
      FROM (SELECT doc_id, n_tokens, w,
                   unnest(range(greatest(n_tokens - {_ESUB_K} + 1, 1))) AS i
            FROM sized WHERE n_tokens > 0)
    ), f AS (
      SELECT seg, count(*) AS freq FROM win GROUP BY seg
    ), dup AS (
      SELECT w.doc_id, w.n_tokens, w.s
      FROM win w JOIN f USING (seg) WHERE f.freq > 1
    ), cov AS (
      SELECT doc_id, count(*) AS n_dup_windows,
             sum(CASE WHEN prev IS NULL
                      THEN least({_ESUB_K}, n_tokens)
                      ELSE least(least({_ESUB_K}, n_tokens), s - prev) END)
               AS covered
      FROM (SELECT doc_id, n_tokens, s,
                   lag(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev
            FROM dup)
      GROUP BY doc_id
    )
    SELECT z.doc_id,
           CAST(z.n_tokens AS BIGINT) AS n_tokens,
           CAST(CASE WHEN z.n_tokens > 0
                     THEN greatest(z.n_tokens - {_ESUB_K} + 1, 1)
                     ELSE 0 END AS BIGINT) AS n_windows,
           CAST(coalesce(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           round(CASE WHEN z.n_tokens > 0
                      THEN CAST(coalesce(c.covered, 0) AS DOUBLE)
                           / CAST(z.n_tokens AS DOUBLE)
                      ELSE 0.0 END, 6) + 0.0 AS dup_coverage
    FROM sized z LEFT JOIN cov c USING (doc_id)
    """,
    doc=(
        "Exact-substring duplication audit (operators/dedup."
        "duplicated_window_coverage; Lee et al. 2021 EXACTSUBSTR): every "
        f"overlapping {_ESUB_K}-token window (stride 1) occurring more "
        "than once corpus-wide is duplicated; per document, report the "
        "window tallies and the fraction of token positions covered by "
        "at least one duplicated window. Windows never materialize as "
        "strings: each token hashes once (xxhash64) and the window key "
        "is a rotate-XOR fold of its k token hashes (overflow-free long "
        "ops, ANSI-safe; 64-bit collision odds ~1e-11 — the oracle "
        "counts by window text, the dedup_repeated_chunks rationale); "
        "coverage is one interval-union pass over each "
        "doc's sorted duplicated starts (min(window, gap) per start) — a "
        "document-partitioned window function, never a per-token "
        "explode. The paper's suffix array is inherently sequential; "
        "this window-hash form is the distributed equivalent at window "
        "granularity."
    ),
)
def dedup_exact_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.dedup import duplicated_window_coverage

    return duplicated_window_coverage(
        _t(spark, sf_dir, "documents"), window_tokens=_ESUB_K, max_freq=1
    )


# ---------------------------------------------------------------------------
# CCNet perplexity buckets — head / middle / tail per language
# ---------------------------------------------------------------------------


@register(
    "text_perplexity_buckets",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, count(*) AS tf FROM toks
        WHERE length(token) >= 1 GROUP BY doc_id, token
    ),
    scored AS (
        SELECT doc_id, tf,
               -ln(CAST(CAST(sum(tf) OVER (PARTITION BY token) AS BIGINT)
                        AS DOUBLE)
                   / CAST(CAST(sum(tf) OVER () AS BIGINT) AS DOUBLE))
                 AS neglogp
        FROM tf
    ),
    docs AS (
        SELECT doc_id,
               CAST(sum(tf) AS BIGINT) AS n_tokens,
               round(CAST(sum(tf * neglogp) AS DOUBLE)
                     / CAST(CAST(sum(tf) AS BIGINT) AS DOUBLE), 6)
                 AS avg_neglogp
        FROM scored GROUP BY doc_id
    ),
    j AS (
        SELECT d.doc_id, d.n_tokens, d.avg_neglogp, l.lang
        FROM docs d JOIN documents l USING (doc_id)
    ),
    bounds AS (
        -- boundaries rounded to the scores' 6-dp grid: tied
        -- interpolation endpoints can land one ulp apart across
        -- engines (x*(1-f)+x*f vs x+f*0), flipping boundary docs
        SELECT lang,
               round(quantile_cont(avg_neglogp,
                                   CAST('0.3333333333333333' AS DOUBLE)), 6) AS b1,
               round(quantile_cont(avg_neglogp,
                                   CAST('0.6666666666666666' AS DOUBLE)), 6) AS b2
        FROM j GROUP BY lang
    )
    SELECT j.doc_id, j.lang, j.n_tokens, j.avg_neglogp,
           round(exp(j.avg_neglogp), 6) + 0.0 AS ppl,
           CASE WHEN j.avg_neglogp <= b.b1 THEN 'head'
                WHEN j.avg_neglogp <= b.b2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM j JOIN bounds b USING (lang)
    """,
    doc=(
        "CCNet perplexity bucketing (operators/textops."
        "perplexity_buckets; Wenzek et al. 2020): score each document "
        "with the corpus's own unigram surprisal (the KenLM stand-in — "
        "the score column is a drop-in swap), then split EACH LANGUAGE "
        "into head/middle/tail terciles by exact interpolated 1/3 and "
        "2/3 percentiles — two scalars per language broadcast back as a "
        "tiny join, deliberately not a global ntile (the "
        "customer_rfm_segments pattern: no single-partition sort of the "
        "corpus). Spark percentile == DuckDB quantile_cont on identical "
        "6-dp-rounded doubles, so the bucket boundary is bit-identical "
        "cross-engine."
    ),
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import perplexity_buckets

    return perplexity_buckets(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# SSL-prototypes data pruning — drop the easy fraction of every cluster
# ---------------------------------------------------------------------------


@register(
    "emb_prototypes_prune",
    # Committed-expectation oracle (tools/gen_committed_oracle.py;
    # REGRESSION PIN generated under Spark 4.1.2 — the iterative
    # quantizer is not SQL-expressible; the pipeline is deterministic
    # by construction (no-RNG Lloyd on the id-sorted hash slice, pure
    # JVM per-row cosine, id-tiebroken cluster window) and the full
    # output was verified bit-identical across plain local[7]/[13]/[32]
    # driver-style sessions before pinning. Valid only at sf0.01;
    # other SFs fall back to rows-only.
    """
    SELECT CAST("vec_id" AS BIGINT) AS "vec_id",
           CAST("cluster" AS INTEGER) AS "cluster",
           CAST("proto_cos" AS DOUBLE) AS "proto_cos",
           CAST("kept" AS BOOLEAN) AS "kept"
    FROM (VALUES
        (0, 0, CAST('0.727317' AS DOUBLE), false),
        (1, 13, CAST('0.137504' AS DOUBLE), true),
        (2, 11, CAST('0.185051' AS DOUBLE), true),
        (3, 15, CAST('0.294348' AS DOUBLE), true),
        (4, 15, CAST('0.218819' AS DOUBLE), true),
        (5, 15, CAST('0.203628' AS DOUBLE), true),
        (6, 10, CAST('0.193121' AS DOUBLE), true),
        (7, 9, CAST('0.310157' AS DOUBLE), true),
        (8, 4, CAST('0.348726' AS DOUBLE), true),
        (9, 1, CAST('0.492245' AS DOUBLE), true),
        (10, 12, CAST('0.157365' AS DOUBLE), true),
        (11, 13, CAST('0.210076' AS DOUBLE), true),
        (12, 4, CAST('0.388393' AS DOUBLE), true),
        (13, 2, CAST('0.518031' AS DOUBLE), false),
        (14, 15, CAST('0.269626' AS DOUBLE), true),
        (15, 13, CAST('0.309587' AS DOUBLE), false),
        (16, 0, CAST('0.233063' AS DOUBLE), true),
        (17, 3, CAST('0.255681' AS DOUBLE), true),
        (18, 3, CAST('0.334831' AS DOUBLE), true),
        (19, 15, CAST('0.477394' AS DOUBLE), false),
        (20, 8, CAST('0.333184' AS DOUBLE), false),
        (21, 8, CAST('0.113124' AS DOUBLE), true),
        (22, 13, CAST('0.21424' AS DOUBLE), true),
        (23, 13, CAST('0.191422' AS DOUBLE), true),
        (24, 2, CAST('0.157599' AS DOUBLE), true),
        (25, 12, CAST('0.119973' AS DOUBLE), true),
        (26, 8, CAST('0.331972' AS DOUBLE), false),
        (27, 0, CAST('0.17438' AS DOUBLE), true),
        (28, 9, CAST('0.321575' AS DOUBLE), true),
        (29, 5, CAST('0.312733' AS DOUBLE), true),
        (30, 5, CAST('0.386436' AS DOUBLE), false),
        (31, 15, CAST('0.232014' AS DOUBLE), true),
        (32, 14, CAST('0.110915' AS DOUBLE), true),
        (33, 6, CAST('0.215074' AS DOUBLE), true),
        (34, 13, CAST('0.375736' AS DOUBLE), false),
        (35, 0, CAST('0.378473' AS DOUBLE), false),
        (36, 0, CAST('0.243327' AS DOUBLE), true),
        (37, 7, CAST('0.208459' AS DOUBLE), true),
        (38, 5, CAST('0.293434' AS DOUBLE), true),
        (39, 4, CAST('0.404579' AS DOUBLE), false),
        (40, 7, CAST('0.245458' AS DOUBLE), true),
        (41, 8, CAST('0.292723' AS DOUBLE), true),
        (42, 5, CAST('0.251' AS DOUBLE), true),
        (43, 14, CAST('0.24288' AS DOUBLE), true),
        (44, 14, CAST('0.154299' AS DOUBLE), true),
        (45, 2, CAST('0.357495' AS DOUBLE), false),
        (46, 7, CAST('0.134774' AS DOUBLE), true),
        (47, 8, CAST('0.167002' AS DOUBLE), true),
        (48, 13, CAST('0.191307' AS DOUBLE), true),
        (49, 1, CAST('0.708875' AS DOUBLE), false),
        (50, 14, CAST('0.294402' AS DOUBLE), true),
        (51, 0, CAST('0.20459' AS DOUBLE), true),
        (52, 11, CAST('0.17092' AS DOUBLE), true),
        (53, 10, CAST('0.462151' AS DOUBLE), false),
        (54, 3, CAST('0.215049' AS DOUBLE), true),
        (55, 7, CAST('0.237747' AS DOUBLE), true),
        (56, 12, CAST('0.212738' AS DOUBLE), true),
        (57, 7, CAST('0.466035' AS DOUBLE), false),
        (58, 12, CAST('0.227139' AS DOUBLE), true),
        (59, 0, CAST('0.091097' AS DOUBLE), true),
        (60, 8, CAST('0.152447' AS DOUBLE), true),
        (61, 3, CAST('0.21711' AS DOUBLE), true),
        (62, 10, CAST('0.593521' AS DOUBLE), false),
        (63, 14, CAST('0.3084' AS DOUBLE), false),
        (64, 13, CAST('0.26427' AS DOUBLE), false),
        (65, 12, CAST('0.36862' AS DOUBLE), false),
        (66, 15, CAST('0.069652' AS DOUBLE), true),
        (67, 6, CAST('0.390536' AS DOUBLE), false),
        (68, 11, CAST('0.527444' AS DOUBLE), false),
        (69, 11, CAST('0.187966' AS DOUBLE), true),
        (70, 6, CAST('0.174497' AS DOUBLE), true),
        (71, 8, CAST('0.440508' AS DOUBLE), false),
        (72, 7, CAST('0.147108' AS DOUBLE), true),
        (73, 0, CAST('0.3232' AS DOUBLE), true),
        (74, 4, CAST('0.246925' AS DOUBLE), true),
        (75, 2, CAST('0.672221' AS DOUBLE), false),
        (76, 11, CAST('0.07895' AS DOUBLE), true),
        (77, 13, CAST('0.405837' AS DOUBLE), false),
        (78, 12, CAST('0.237723' AS DOUBLE), true),
        (79, 12, CAST('0.185929' AS DOUBLE), true),
        (80, 9, CAST('0.242185' AS DOUBLE), true),
        (81, 10, CAST('0.273186' AS DOUBLE), true),
        (82, 5, CAST('0.451148' AS DOUBLE), false),
        (83, 11, CAST('0.204863' AS DOUBLE), true),
        (84, 13, CAST('0.217301' AS DOUBLE), true),
        (85, 15, CAST('0.193101' AS DOUBLE), true),
        (86, 15, CAST('0.188595' AS DOUBLE), true),
        (87, 15, CAST('0.177906' AS DOUBLE), true),
        (88, 8, CAST('0.223656' AS DOUBLE), true),
        (89, 0, CAST('0.172862' AS DOUBLE), true),
        (90, 8, CAST('0.195993' AS DOUBLE), true),
        (91, 14, CAST('0.551346' AS DOUBLE), false),
        (92, 0, CAST('0.230166' AS DOUBLE), true),
        (93, 5, CAST('0.171949' AS DOUBLE), true),
        (94, 8, CAST('0.08912' AS DOUBLE), true),
        (95, 11, CAST('0.198046' AS DOUBLE), true),
        (96, 4, CAST('0.339568' AS DOUBLE), true),
        (97, 11, CAST('0.25816' AS DOUBLE), true),
        (98, 11, CAST('0.254618' AS DOUBLE), true),
        (99, 11, CAST('0.211519' AS DOUBLE), true),
        (100, 2, CAST('0.513812' AS DOUBLE), false),
        (101, 15, CAST('0.256751' AS DOUBLE), true),
        (102, 7, CAST('0.340371' AS DOUBLE), false),
        (103, 2, CAST('0.19571' AS DOUBLE), true),
        (104, 7, CAST('0.529693' AS DOUBLE), false),
        (105, 11, CAST('0.107122' AS DOUBLE), true),
        (106, 13, CAST('0.357032' AS DOUBLE), false),
        (107, 14, CAST('0.409968' AS DOUBLE), false),
        (108, 13, CAST('0.357592' AS DOUBLE), false),
        (109, 3, CAST('0.245782' AS DOUBLE), true),
        (110, 7, CAST('0.270486' AS DOUBLE), true),
        (111, 10, CAST('0.359528' AS DOUBLE), true),
        (112, 3, CAST('0.636345' AS DOUBLE), false),
        (113, 12, CAST('0.187732' AS DOUBLE), true),
        (114, 4, CAST('0.479918' AS DOUBLE), false),
        (115, 8, CAST('0.295115' AS DOUBLE), true),
        (116, 14, CAST('0.274969' AS DOUBLE), true),
        (117, 11, CAST('0.151411' AS DOUBLE), true),
        (118, 3, CAST('0.487643' AS DOUBLE), false),
        (119, 6, CAST('0.325977' AS DOUBLE), true),
        (120, 3, CAST('0.521978' AS DOUBLE), false),
        (121, 7, CAST('0.269066' AS DOUBLE), true),
        (122, 15, CAST('0.420098' AS DOUBLE), false),
        (123, 13, CAST('0.168996' AS DOUBLE), true),
        (124, 13, CAST('0.10397' AS DOUBLE), true),
        (125, 15, CAST('0.157304' AS DOUBLE), true),
        (126, 7, CAST('0.484624' AS DOUBLE), false),
        (127, 12, CAST('0.355509' AS DOUBLE), false),
        (128, 13, CAST('0.133174' AS DOUBLE), true),
        (129, 13, CAST('0.111351' AS DOUBLE), true),
        (130, 12, CAST('0.139547' AS DOUBLE), true),
        (131, 0, CAST('0.470234' AS DOUBLE), false),
        (132, 0, CAST('0.189326' AS DOUBLE), true),
        (133, 15, CAST('0.587574' AS DOUBLE), false),
        (134, 13, CAST('0.164459' AS DOUBLE), true),
        (135, 0, CAST('0.259716' AS DOUBLE), true),
        (136, 3, CAST('0.208967' AS DOUBLE), true),
        (137, 14, CAST('0.201288' AS DOUBLE), true),
        (138, 4, CAST('0.676173' AS DOUBLE), false),
        (139, 11, CAST('0.177058' AS DOUBLE), true),
        (140, 8, CAST('0.297755' AS DOUBLE), true),
        (141, 3, CAST('0.5214' AS DOUBLE), false),
        (142, 7, CAST('0.390303' AS DOUBLE), false),
        (143, 3, CAST('0.12595' AS DOUBLE), true),
        (144, 13, CAST('0.204651' AS DOUBLE), true),
        (145, 5, CAST('0.285766' AS DOUBLE), true),
        (146, 6, CAST('0.16786' AS DOUBLE), true),
        (147, 4, CAST('0.217074' AS DOUBLE), true),
        (148, 14, CAST('0.350812' AS DOUBLE), false),
        (149, 2, CAST('0.266559' AS DOUBLE), true),
        (150, 4, CAST('0.349563' AS DOUBLE), true),
        (151, 1, CAST('0.304502' AS DOUBLE), true),
        (152, 3, CAST('0.427772' AS DOUBLE), false),
        (153, 15, CAST('0.134935' AS DOUBLE), true),
        (154, 11, CAST('0.314223' AS DOUBLE), true),
        (155, 6, CAST('0.127812' AS DOUBLE), true),
        (156, 14, CAST('0.155117' AS DOUBLE), true),
        (157, 12, CAST('0.270494' AS DOUBLE), false),
        (158, 15, CAST('0.500063' AS DOUBLE), false),
        (159, 6, CAST('0.237334' AS DOUBLE), true),
        (160, 0, CAST('0.206551' AS DOUBLE), true),
        (161, 4, CAST('0.283525' AS DOUBLE), true),
        (162, 4, CAST('0.275853' AS DOUBLE), true),
        (163, 6, CAST('0.183526' AS DOUBLE), true),
        (164, 12, CAST('0.1523' AS DOUBLE), true),
        (165, 13, CAST('0.358201' AS DOUBLE), false),
        (166, 7, CAST('0.2859' AS DOUBLE), true),
        (167, 12, CAST('0.182124' AS DOUBLE), true),
        (168, 11, CAST('0.181361' AS DOUBLE), true),
        (169, 2, CAST('0.12057' AS DOUBLE), true),
        (170, 8, CAST('0.175884' AS DOUBLE), true),
        (171, 7, CAST('0.309442' AS DOUBLE), true),
        (172, 2, CAST('0.270062' AS DOUBLE), true),
        (173, 11, CAST('0.150011' AS DOUBLE), true),
        (174, 6, CAST('0.218478' AS DOUBLE), true),
        (175, 2, CAST('0.277033' AS DOUBLE), true),
        (176, 13, CAST('0.170698' AS DOUBLE), true),
        (177, 12, CAST('0.21972' AS DOUBLE), true),
        (178, 2, CAST('0.144124' AS DOUBLE), true),
        (179, 10, CAST('0.416075' AS DOUBLE), true),
        (180, 8, CAST('0.21857' AS DOUBLE), true),
        (181, 12, CAST('0.100374' AS DOUBLE), true),
        (182, 10, CAST('0.225413' AS DOUBLE), true),
        (183, 8, CAST('0.298285' AS DOUBLE), true),
        (184, 1, CAST('0.252759' AS DOUBLE), true),
        (185, 3, CAST('0.226917' AS DOUBLE), true),
        (186, 5, CAST('0.717471' AS DOUBLE), false),
        (187, 6, CAST('0.199894' AS DOUBLE), true),
        (188, 6, CAST('0.424313' AS DOUBLE), false),
        (189, 2, CAST('0.149614' AS DOUBLE), true),
        (190, 13, CAST('0.297189' AS DOUBLE), false),
        (191, 15, CAST('0.279089' AS DOUBLE), true),
        (192, 2, CAST('0.10813' AS DOUBLE), true),
        (193, 6, CAST('0.228779' AS DOUBLE), true),
        (194, 15, CAST('0.146848' AS DOUBLE), true),
        (195, 7, CAST('0.501395' AS DOUBLE), false),
        (196, 6, CAST('0.296116' AS DOUBLE), true),
        (197, 11, CAST('0.351499' AS DOUBLE), true),
        (198, 12, CAST('0.323551' AS DOUBLE), false),
        (199, 1, CAST('0.259354' AS DOUBLE), true),
        (200, 7, CAST('0.215653' AS DOUBLE), true),
        (201, 7, CAST('0.174271' AS DOUBLE), true),
        (202, 3, CAST('0.427288' AS DOUBLE), false),
        (203, 13, CAST('0.246917' AS DOUBLE), true),
        (204, 7, CAST('0.158581' AS DOUBLE), true),
        (205, 13, CAST('0.096468' AS DOUBLE), true),
        (206, 10, CAST('0.276177' AS DOUBLE), true),
        (207, 11, CAST('0.190121' AS DOUBLE), true),
        (208, 8, CAST('0.175126' AS DOUBLE), true),
        (209, 13, CAST('0.199306' AS DOUBLE), true),
        (210, 13, CAST('0.261731' AS DOUBLE), false),
        (211, 12, CAST('0.051932' AS DOUBLE), true),
        (212, 12, CAST('0.135946' AS DOUBLE), true),
        (213, 5, CAST('0.213776' AS DOUBLE), true),
        (214, 8, CAST('0.078981' AS DOUBLE), true),
        (215, 7, CAST('0.256141' AS DOUBLE), true),
        (216, 14, CAST('0.270993' AS DOUBLE), true),
        (217, 8, CAST('0.348651' AS DOUBLE), false),
        (218, 1, CAST('0.26536' AS DOUBLE), true),
        (219, 10, CAST('0.445257' AS DOUBLE), false),
        (220, 4, CAST('0.189662' AS DOUBLE), true),
        (221, 9, CAST('0.581731' AS DOUBLE), false),
        (222, 15, CAST('0.204307' AS DOUBLE), true),
        (223, 6, CAST('0.650574' AS DOUBLE), false),
        (224, 4, CAST('0.276764' AS DOUBLE), true),
        (225, 8, CAST('0.20541' AS DOUBLE), true),
        (226, 3, CAST('0.36361' AS DOUBLE), true),
        (227, 11, CAST('0.299436' AS DOUBLE), true),
        (228, 10, CAST('0.242487' AS DOUBLE), true),
        (229, 0, CAST('0.218187' AS DOUBLE), true),
        (230, 12, CAST('0.204522' AS DOUBLE), true),
        (231, 15, CAST('0.401909' AS DOUBLE), false),
        (232, 14, CAST('0.192798' AS DOUBLE), true),
        (233, 12, CAST('0.183517' AS DOUBLE), true),
        (234, 13, CAST('0.218826' AS DOUBLE), true),
        (235, 4, CAST('0.252152' AS DOUBLE), true),
        (236, 12, CAST('0.142283' AS DOUBLE), true),
        (237, 12, CAST('0.25778' AS DOUBLE), true),
        (238, 7, CAST('0.267066' AS DOUBLE), true),
        (239, 15, CAST('0.18893' AS DOUBLE), true),
        (240, 13, CAST('0.351526' AS DOUBLE), false),
        (241, 6, CAST('0.269959' AS DOUBLE), true),
        (242, 8, CAST('0.347982' AS DOUBLE), false),
        (243, 12, CAST('0.154556' AS DOUBLE), true),
        (244, 12, CAST('0.201378' AS DOUBLE), true),
        (245, 8, CAST('0.166117' AS DOUBLE), true),
        (246, 14, CAST('0.406574' AS DOUBLE), false),
        (247, 8, CAST('0.128727' AS DOUBLE), true),
        (248, 1, CAST('0.217052' AS DOUBLE), true),
        (249, 15, CAST('0.18674' AS DOUBLE), true),
        (250, 11, CAST('0.18239' AS DOUBLE), true),
        (251, 11, CAST('0.299438' AS DOUBLE), true),
        (252, 5, CAST('0.340571' AS DOUBLE), true),
        (253, 13, CAST('0.165098' AS DOUBLE), true),
        (254, 11, CAST('0.214931' AS DOUBLE), true),
        (255, 0, CAST('0.217946' AS DOUBLE), true),
        (256, 2, CAST('0.320277' AS DOUBLE), true),
        (257, 0, CAST('0.333797' AS DOUBLE), false),
        (258, 6, CAST('0.2758' AS DOUBLE), true),
        (259, 8, CAST('0.40283' AS DOUBLE), false),
        (260, 13, CAST('0.237903' AS DOUBLE), true),
        (261, 0, CAST('0.444277' AS DOUBLE), false),
        (262, 7, CAST('0.380268' AS DOUBLE), false),
        (263, 15, CAST('0.199155' AS DOUBLE), true),
        (264, 7, CAST('0.594661' AS DOUBLE), false),
        (265, 8, CAST('0.249349' AS DOUBLE), true),
        (266, 12, CAST('0.552686' AS DOUBLE), false),
        (267, 10, CAST('0.283789' AS DOUBLE), true),
        (268, 6, CAST('0.175344' AS DOUBLE), true),
        (269, 9, CAST('0.237264' AS DOUBLE), true),
        (270, 14, CAST('0.455596' AS DOUBLE), false),
        (271, 15, CAST('0.151016' AS DOUBLE), true),
        (272, 13, CAST('0.170448' AS DOUBLE), true),
        (273, 14, CAST('0.258013' AS DOUBLE), true),
        (274, 2, CAST('0.556447' AS DOUBLE), false),
        (275, 13, CAST('0.296373' AS DOUBLE), false),
        (276, 8, CAST('0.211437' AS DOUBLE), true),
        (277, 2, CAST('0.15469' AS DOUBLE), true),
        (278, 14, CAST('0.245804' AS DOUBLE), true),
        (279, 2, CAST('0.164129' AS DOUBLE), true),
        (280, 2, CAST('0.23327' AS DOUBLE), true),
        (281, 10, CAST('0.262579' AS DOUBLE), true),
        (282, 13, CAST('0.197996' AS DOUBLE), true),
        (283, 5, CAST('0.197695' AS DOUBLE), true),
        (284, 13, CAST('0.432212' AS DOUBLE), false),
        (285, 8, CAST('0.234171' AS DOUBLE), true),
        (286, 8, CAST('0.434523' AS DOUBLE), false),
        (287, 9, CAST('0.255335' AS DOUBLE), true),
        (288, 12, CAST('0.119213' AS DOUBLE), true),
        (289, 12, CAST('0.335181' AS DOUBLE), false),
        (290, 12, CAST('0.411917' AS DOUBLE), false),
        (291, 12, CAST('0.170375' AS DOUBLE), true),
        (292, 13, CAST('0.154422' AS DOUBLE), true),
        (293, 14, CAST('0.375407' AS DOUBLE), false),
        (294, 1, CAST('0.357704' AS DOUBLE), true),
        (295, 15, CAST('0.29533' AS DOUBLE), true),
        (296, 8, CAST('0.623539' AS DOUBLE), false),
        (297, 12, CAST('0.212108' AS DOUBLE), true),
        (298, 2, CAST('0.330275' AS DOUBLE), true),
        (299, 3, CAST('0.186946' AS DOUBLE), true),
        (300, 15, CAST('0.168884' AS DOUBLE), true),
        (301, 11, CAST('0.359393' AS DOUBLE), false),
        (302, 13, CAST('0.212029' AS DOUBLE), true),
        (303, 14, CAST('0.185679' AS DOUBLE), true),
        (304, 11, CAST('0.44507' AS DOUBLE), false),
        (305, 9, CAST('0.238884' AS DOUBLE), true),
        (306, 7, CAST('0.309236' AS DOUBLE), true),
        (307, 9, CAST('0.220171' AS DOUBLE), true),
        (308, 7, CAST('0.183028' AS DOUBLE), true),
        (309, 3, CAST('0.174922' AS DOUBLE), true),
        (310, 7, CAST('0.275924' AS DOUBLE), true),
        (311, 5, CAST('0.421307' AS DOUBLE), false),
        (312, 7, CAST('0.23974' AS DOUBLE), true),
        (313, 6, CAST('0.382168' AS DOUBLE), false),
        (314, 4, CAST('0.161877' AS DOUBLE), true),
        (315, 4, CAST('0.27379' AS DOUBLE), true),
        (316, 15, CAST('0.192141' AS DOUBLE), true),
        (317, 15, CAST('0.332763' AS DOUBLE), false),
        (318, 5, CAST('0.27333' AS DOUBLE), true),
        (319, 14, CAST('0.271965' AS DOUBLE), true),
        (320, 11, CAST('0.352699' AS DOUBLE), false),
        (321, 14, CAST('0.193694' AS DOUBLE), true),
        (322, 7, CAST('0.204514' AS DOUBLE), true),
        (323, 8, CAST('0.291673' AS DOUBLE), true),
        (324, 7, CAST('0.347501' AS DOUBLE), false),
        (325, 0, CAST('0.243945' AS DOUBLE), true),
        (326, 11, CAST('0.384242' AS DOUBLE), false),
        (327, 0, CAST('0.143562' AS DOUBLE), true),
        (328, 5, CAST('0.276597' AS DOUBLE), true),
        (329, 13, CAST('0.131179' AS DOUBLE), true),
        (330, 11, CAST('0.171983' AS DOUBLE), true),
        (331, 12, CAST('0.241252' AS DOUBLE), true),
        (332, 9, CAST('0.708671' AS DOUBLE), false),
        (333, 0, CAST('0.12942' AS DOUBLE), true),
        (334, 0, CAST('0.292959' AS DOUBLE), true),
        (335, 3, CAST('0.295682' AS DOUBLE), true),
        (336, 7, CAST('0.210817' AS DOUBLE), true),
        (337, 2, CAST('0.259941' AS DOUBLE), true),
        (338, 8, CAST('0.195689' AS DOUBLE), true),
        (339, 9, CAST('0.611007' AS DOUBLE), false),
        (340, 9, CAST('0.292043' AS DOUBLE), true),
        (341, 13, CAST('0.136795' AS DOUBLE), true),
        (342, 2, CAST('0.168747' AS DOUBLE), true),
        (343, 15, CAST('0.485318' AS DOUBLE), false),
        (344, 14, CAST('0.278444' AS DOUBLE), true),
        (345, 6, CAST('0.162379' AS DOUBLE), true),
        (346, 3, CAST('0.143775' AS DOUBLE), true),
        (347, 4, CAST('0.175908' AS DOUBLE), true),
        (348, 12, CAST('0.131885' AS DOUBLE), true),
        (349, 15, CAST('0.31912' AS DOUBLE), false),
        (350, 3, CAST('0.266666' AS DOUBLE), true),
        (351, 12, CAST('0.395925' AS DOUBLE), false),
        (352, 13, CAST('0.267681' AS DOUBLE), false),
        (353, 13, CAST('0.128746' AS DOUBLE), true),
        (354, 8, CAST('0.231906' AS DOUBLE), true),
        (355, 12, CAST('0.142163' AS DOUBLE), true),
        (356, 3, CAST('0.211285' AS DOUBLE), true),
        (357, 9, CAST('0.58095' AS DOUBLE), false),
        (358, 13, CAST('0.160851' AS DOUBLE), true),
        (359, 9, CAST('0.235907' AS DOUBLE), true),
        (360, 2, CAST('0.324393' AS DOUBLE), true),
        (361, 13, CAST('0.268925' AS DOUBLE), false),
        (362, 13, CAST('0.285485' AS DOUBLE), false),
        (363, 13, CAST('0.180637' AS DOUBLE), true),
        (364, 0, CAST('0.212037' AS DOUBLE), true),
        (365, 0, CAST('0.28853' AS DOUBLE), true),
        (366, 6, CAST('0.233434' AS DOUBLE), true),
        (367, 1, CAST('0.532754' AS DOUBLE), false),
        (368, 6, CAST('0.132113' AS DOUBLE), true),
        (369, 5, CAST('0.514507' AS DOUBLE), false),
        (370, 10, CAST('0.723424' AS DOUBLE), false),
        (371, 3, CAST('0.171962' AS DOUBLE), true),
        (372, 1, CAST('0.554727' AS DOUBLE), false),
        (373, 6, CAST('0.110049' AS DOUBLE), true),
        (374, 6, CAST('0.227256' AS DOUBLE), true),
        (375, 3, CAST('0.552128' AS DOUBLE), false),
        (376, 4, CAST('0.429164' AS DOUBLE), false),
        (377, 5, CAST('0.206263' AS DOUBLE), true),
        (378, 2, CAST('0.412615' AS DOUBLE), false),
        (379, 11, CAST('0.169352' AS DOUBLE), true),
        (380, 2, CAST('0.400467' AS DOUBLE), false),
        (381, 14, CAST('0.157777' AS DOUBLE), true),
        (382, 9, CAST('0.219649' AS DOUBLE), true),
        (383, 1, CAST('0.331205' AS DOUBLE), true),
        (384, 8, CAST('0.260212' AS DOUBLE), true),
        (385, 8, CAST('0.357419' AS DOUBLE), false),
        (386, 13, CAST('0.137277' AS DOUBLE), true),
        (387, 0, CAST('0.362578' AS DOUBLE), false),
        (388, 0, CAST('0.260022' AS DOUBLE), true),
        (389, 11, CAST('0.678551' AS DOUBLE), false),
        (390, 11, CAST('0.205102' AS DOUBLE), true),
        (391, 15, CAST('0.264934' AS DOUBLE), true),
        (392, 6, CAST('0.4805' AS DOUBLE), false),
        (393, 8, CAST('0.119621' AS DOUBLE), true),
        (394, 15, CAST('0.115479' AS DOUBLE), true),
        (395, 2, CAST('0.343885' AS DOUBLE), true),
        (396, 13, CAST('0.171374' AS DOUBLE), true),
        (397, 15, CAST('0.458636' AS DOUBLE), false),
        (398, 3, CAST('0.222548' AS DOUBLE), true),
        (399, 13, CAST('0.363377' AS DOUBLE), false),
        (400, 12, CAST('0.147835' AS DOUBLE), true),
        (401, 0, CAST('0.410095' AS DOUBLE), false),
        (402, 4, CAST('0.268782' AS DOUBLE), true),
        (403, 15, CAST('0.302286' AS DOUBLE), true),
        (404, 15, CAST('0.147426' AS DOUBLE), true),
        (405, 1, CAST('0.494112' AS DOUBLE), false),
        (406, 8, CAST('0.453526' AS DOUBLE), false),
        (407, 12, CAST('0.168386' AS DOUBLE), true),
        (408, 9, CAST('0.279681' AS DOUBLE), true),
        (409, 13, CAST('0.215832' AS DOUBLE), true),
        (410, 13, CAST('0.157864' AS DOUBLE), true),
        (411, 12, CAST('0.713223' AS DOUBLE), false),
        (412, 6, CAST('0.462681' AS DOUBLE), false),
        (413, 5, CAST('0.253015' AS DOUBLE), true),
        (414, 12, CAST('0.314593' AS DOUBLE), false),
        (415, 0, CAST('0.457693' AS DOUBLE), false),
        (416, 12, CAST('0.429851' AS DOUBLE), false),
        (417, 0, CAST('0.198395' AS DOUBLE), true),
        (418, 13, CAST('0.237394' AS DOUBLE), true),
        (419, 15, CAST('0.201745' AS DOUBLE), true),
        (420, 6, CAST('0.477024' AS DOUBLE), false),
        (421, 12, CAST('0.218332' AS DOUBLE), true),
        (422, 14, CAST('0.127149' AS DOUBLE), true),
        (423, 13, CAST('0.166099' AS DOUBLE), true),
        (424, 7, CAST('0.150831' AS DOUBLE), true),
        (425, 14, CAST('0.224549' AS DOUBLE), true),
        (426, 11, CAST('0.404972' AS DOUBLE), false),
        (427, 2, CAST('0.189431' AS DOUBLE), true),
        (428, 12, CAST('0.246213' AS DOUBLE), true),
        (429, 8, CAST('0.298785' AS DOUBLE), false),
        (430, 10, CAST('0.368139' AS DOUBLE), true),
        (431, 10, CAST('0.45957' AS DOUBLE), false),
        (432, 12, CAST('0.237128' AS DOUBLE), true),
        (433, 15, CAST('0.206742' AS DOUBLE), true),
        (434, 14, CAST('0.171707' AS DOUBLE), true),
        (435, 8, CAST('0.214812' AS DOUBLE), true),
        (436, 13, CAST('0.79945' AS DOUBLE), false),
        (437, 15, CAST('0.254058' AS DOUBLE), true),
        (438, 14, CAST('0.26735' AS DOUBLE), true),
        (439, 13, CAST('0.163569' AS DOUBLE), true),
        (440, 2, CAST('0.260398' AS DOUBLE), true),
        (441, 7, CAST('0.245792' AS DOUBLE), true),
        (442, 0, CAST('0.241807' AS DOUBLE), true),
        (443, 9, CAST('0.310928' AS DOUBLE), true),
        (444, 11, CAST('0.4473' AS DOUBLE), false),
        (445, 2, CAST('0.28205' AS DOUBLE), true),
        (446, 7, CAST('0.199951' AS DOUBLE), true),
        (447, 12, CAST('0.220666' AS DOUBLE), true),
        (448, 6, CAST('0.44746' AS DOUBLE), false),
        (449, 15, CAST('0.300361' AS DOUBLE), true),
        (450, 1, CAST('0.391465' AS DOUBLE), true),
        (451, 13, CAST('0.149434' AS DOUBLE), true),
        (452, 13, CAST('0.205584' AS DOUBLE), true),
        (453, 11, CAST('0.485733' AS DOUBLE), false),
        (454, 12, CAST('0.309607' AS DOUBLE), false),
        (455, 12, CAST('0.138681' AS DOUBLE), true),
        (456, 12, CAST('0.292705' AS DOUBLE), false),
        (457, 5, CAST('0.319218' AS DOUBLE), true),
        (458, 11, CAST('0.257795' AS DOUBLE), true),
        (459, 2, CAST('0.437372' AS DOUBLE), false),
        (460, 13, CAST('0.111415' AS DOUBLE), true),
        (461, 14, CAST('0.686015' AS DOUBLE), false),
        (462, 10, CAST('0.253519' AS DOUBLE), true),
        (463, 7, CAST('0.440824' AS DOUBLE), false),
        (464, 0, CAST('0.288555' AS DOUBLE), true),
        (465, 5, CAST('0.346119' AS DOUBLE), true),
        (466, 6, CAST('0.103786' AS DOUBLE), true),
        (467, 13, CAST('0.202092' AS DOUBLE), true),
        (468, 15, CAST('0.41781' AS DOUBLE), false),
        (469, 15, CAST('0.196374' AS DOUBLE), true),
        (470, 11, CAST('0.248666' AS DOUBLE), true),
        (471, 10, CAST('0.255682' AS DOUBLE), true),
        (472, 13, CAST('0.2256' AS DOUBLE), true),
        (473, 13, CAST('0.203804' AS DOUBLE), true),
        (474, 13, CAST('0.329178' AS DOUBLE), false),
        (475, 1, CAST('0.277641' AS DOUBLE), true),
        (476, 11, CAST('0.433519' AS DOUBLE), false),
        (477, 7, CAST('0.215243' AS DOUBLE), true),
        (478, 0, CAST('0.405405' AS DOUBLE), false),
        (479, 4, CAST('0.518694' AS DOUBLE), false),
        (480, 12, CAST('0.271575' AS DOUBLE), false),
        (481, 13, CAST('0.113359' AS DOUBLE), true),
        (482, 8, CAST('0.518523' AS DOUBLE), false),
        (483, 4, CAST('0.168388' AS DOUBLE), true),
        (484, 6, CAST('0.390904' AS DOUBLE), false),
        (485, 13, CAST('0.139798' AS DOUBLE), true),
        (486, 15, CAST('0.3386' AS DOUBLE), false),
        (487, 14, CAST('0.161234' AS DOUBLE), true),
        (488, 6, CAST('0.189931' AS DOUBLE), true),
        (489, 13, CAST('0.206805' AS DOUBLE), true),
        (490, 8, CAST('0.170378' AS DOUBLE), true),
        (491, 0, CAST('0.191585' AS DOUBLE), true),
        (492, 6, CAST('0.191514' AS DOUBLE), true),
        (493, 12, CAST('0.189762' AS DOUBLE), true),
        (494, 4, CAST('0.527568' AS DOUBLE), false),
        (495, 15, CAST('0.406349' AS DOUBLE), false),
        (496, 8, CAST('0.103509' AS DOUBLE), true),
        (497, 15, CAST('0.238229' AS DOUBLE), true),
        (498, 13, CAST('0.204128' AS DOUBLE), true),
        (499, 15, CAST('0.648895' AS DOUBLE), false)
    ) AS t("vec_id", "cluster", "proto_cos", "kept")
    """,
    doc=(
        "SSL-prototypes data pruning (operators/similarity."
        "prototype_prune; Sorscher et al. 2022): cluster the embedding "
        "space with the deterministic coarse quantizer shared with "
        "SemDeDup, score every example by rounded cosine to its own "
        "centroid (high = prototypical/easy), and drop the most "
        "prototypical 30% of each cluster — the data-abundant pruning "
        "regime where discarding easy examples beats random subsetting. "
        "Score is a pure JVM zip_with fold against the broadcast "
        "cluster-sized centroid table; ranking is a cluster-partitioned "
        "window (bounded frames — K grows with the corpus). Dirty "
        "rows score NULL and are always kept."
    ),
    oracle_sf="sf0.01",
)
def emb_prototypes_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import prototype_prune

    return prototype_prune(_t(spark, sf_dir, "embeddings"), drop_fraction=0.3)


# ---------------------------------------------------------------------------
# Token-budget mixture sampling — the units real pretraining recipes use
# ---------------------------------------------------------------------------

_TOK_BUDGET = 5000


@register(
    "data_token_budget",
    f"""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(len({_WORDS_SQL}) AS BIGINT) AS doc_tokens
        FROM documents
    ),
    counts AS (
        SELECT source,
               CAST(sum(doc_tokens) AS BIGINT) AS n_tokens,
               CAST(CAST(floor(sqrt(CAST(sum(doc_tokens) AS DOUBLE)) * 1e9)
                         AS BIGINT) AS HUGEINT) AS w
        FROM sized GROUP BY source
    ),
    tot AS (SELECT CAST(sum(w) AS HUGEINT) AS t FROM counts),
    quoted AS (
        SELECT c.source, c.n_tokens, c.w,
               (CAST({_TOK_BUDGET} AS HUGEINT) * c.w) // t.t AS quota0,
               (CAST({_TOK_BUDGET} AS HUGEINT) * c.w) % t.t AS rem
        FROM counts c CROSS JOIN tot t
    ),
    lo AS (SELECT CAST({_TOK_BUDGET} - sum(quota0) AS HUGEINT) AS leftover
           FROM quoted),
    q AS (
        SELECT source,
               CAST(least(quota0 + CASE
                   WHEN row_number() OVER (ORDER BY rem DESC, source ASC)
                        <= (SELECT leftover FROM lo) THEN 1 ELSE 0 END,
                   CAST(n_tokens AS HUGEINT))
                 AS BIGINT) AS quota
        FROM quoted
    ),
    ranked AS (
        SELECT s.doc_id, s.source, s.doc_tokens, q.quota,
               CAST(sum(s.doc_tokens) OVER (
                   PARTITION BY s.source
                   ORDER BY substring(md5('tokmix:' || CAST(s.doc_id AS VARCHAR)),
                                      1, 8) ASC,
                            s.doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized s JOIN q USING (source)
    )
    SELECT doc_id, source, doc_tokens, cum_tokens, quota
    FROM ranked WHERE cum_tokens <= quota
    """,
    doc=(
        "Token-budget mixture sampling (operators/sampling."
        "token_budget_sample): apportion a TOKEN budget across sources "
        "with temperature-0.5 weights over per-source token totals "
        "(largest-remainder, exact DECIMAL/HUGEINT arithmetic — the "
        "source_quotas contract), then greedily take each source's "
        "documents in content-hash order while the running token total "
        "stays within quota. Pretraining recipes are written in tokens, "
        "not rows — this is data_source_mixture in the units that "
        "matter. One groupBy for totals, broadcast quota join, one "
        "per-source window for the running sum; deterministic under "
        "re-runs, appends, and engine ports."
    ),
)
def data_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.functions.text import token_count_ws
    from etl_s3_to_redshift_spark.operators.sampling import token_budget_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        token_count_ws(F.col("text")).cast("long").alias("n_tokens"),
    )
    out = token_budget_sample(
        docs, _TOK_BUDGET, id_col="doc_id", group_col="source",
        token_col="n_tokens", temperature=0.5, seed="tokmix",
    )
    return out


# ---------------------------------------------------------------------------
# CCNet line-hash dedup, keep-first — strip cross-page boilerplate
# ---------------------------------------------------------------------------


@register(
    "dedup_lines_keepfirst",
    r"""
    WITH base AS (
      SELECT doc_id, string_split(text, chr(10)) AS lns FROM documents
    ), occ0 AS (
      SELECT doc_id,
             generate_subscripts(lns, 1) - 1 AS idx,
             unnest(lns) AS line
      FROM base
    ), occ AS (
      SELECT doc_id, idx, line,
             trim(regexp_replace(lower(line), '\s+', ' ', 'g')) AS key
      FROM occ0 WHERE trim(line) != ''
    ), f1 AS (
      SELECT key, min(doc_id) AS md FROM occ GROUP BY key
    ), f2 AS (
      SELECT o.key, o.doc_id AS md, min(o.idx) AS mi
      FROM occ o JOIN f1 ON o.key = f1.key AND o.doc_id = f1.md
      GROUP BY o.key, o.doc_id
    ), kept AS (
      SELECT o.doc_id, o.idx, o.line
      FROM occ o JOIN f2 ON o.key = f2.key AND o.doc_id = f2.md
                        AND o.idx = f2.mi
    ), clean AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY idx) AS clean_text
      FROM kept GROUP BY doc_id
    ), totals AS (
      SELECT doc_id,
             CAST(len(list_filter(lns, l -> trim(l) != '')) AS BIGINT)
               AS n_lines
      FROM base
    )
    SELECT t.doc_id, t.n_lines,
           CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(c.clean_text, '') AS clean_text
    FROM totals t LEFT JOIN clean c USING (doc_id)
    """,
    doc=(
        "Corpus-wide line-hash dedup, keep-first (operators/dedup."
        "dedup_lines_keepfirst; the first step of CCNet, Wenzek et al. "
        "2020): every non-blank line keyed by normalized text; only the "
        "corpus-wide first occurrence — min (doc, line index) — "
        "survives, and documents reassemble from surviving lines in "
        "order. Strips the boilerplate headers/footers that repeat "
        "across pages; line-granular keep-FIRST, vs "
        "dedup_repeated_chunks' fixed-window drop-all. First occurrence "
        "is one min(struct) aggregate over a 60-bit md5-prefix key "
        "shuffle (8-byte keys, never text — the oracle groups by the "
        "text; ~1e-8 collision odds), then one join back and one "
        "per-doc reassembly; all shuffles linear in line count."
    ),
)
def dedup_lines_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.dedup import dedup_lines_keep_first

    return dedup_lines_keep_first(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Greedy k-center coreset — diversity selection with cover distances
# ---------------------------------------------------------------------------


@register(
    "emb_kcenter_coreset",
    # Committed-expectation oracle (tools/gen_committed_oracle.py;
    # REGRESSION PIN generated under Spark 4.1.2 — greedy farthest-first
    # is iterative, not SQL-expressible; selection order and assignment
    # are deterministic by construction (rounded-distance compares, id
    # tiebreaks, id-seeded start) and the full output was verified
    # bit-identical across plain local[7]/[13]/[32] driver-style
    # sessions before pinning. Valid only at sf0.01; other SFs fall
    # back to rows-only.
    """
    SELECT CAST("vec_id" AS BIGINT) AS "vec_id",
           CAST("center_rank" AS INTEGER) AS "center_rank",
           CAST("dist" AS DOUBLE) AS "dist",
           CAST("is_center" AS BOOLEAN) AS "is_center"
    FROM (VALUES
        (0, 0, CAST('0.0' AS DOUBLE), true),
        (1, 8, CAST('1.237991' AS DOUBLE), false),
        (2, 1, CAST('1.21386' AS DOUBLE), false),
        (3, 14, CAST('1.157641' AS DOUBLE), false),
        (4, 3, CAST('1.283294' AS DOUBLE), false),
        (5, 6, CAST('1.218642' AS DOUBLE), false),
        (6, 6, CAST('1.236165' AS DOUBLE), false),
        (7, 0, CAST('1.18925' AS DOUBLE), false),
        (8, 9, CAST('1.273261' AS DOUBLE), false),
        (9, 5, CAST('1.1089' AS DOUBLE), false),
        (10, 6, CAST('1.235908' AS DOUBLE), false),
        (11, 6, CAST('0.0' AS DOUBLE), true),
        (12, 3, CAST('1.244279' AS DOUBLE), false),
        (13, 3, CAST('1.276644' AS DOUBLE), false),
        (14, 9, CAST('0.0' AS DOUBLE), true),
        (15, 11, CAST('1.31427' AS DOUBLE), false),
        (16, 4, CAST('1.285591' AS DOUBLE), false),
        (17, 10, CAST('1.257405' AS DOUBLE), false),
        (18, 8, CAST('1.322214' AS DOUBLE), false),
        (19, 8, CAST('1.283612' AS DOUBLE), false),
        (20, 6, CAST('1.152088' AS DOUBLE), false),
        (21, 2, CAST('1.23743' AS DOUBLE), false),
        (22, 15, CAST('1.267518' AS DOUBLE), false),
        (23, 10, CAST('1.272187' AS DOUBLE), false),
        (24, 3, CAST('1.277254' AS DOUBLE), false),
        (25, 2, CAST('1.256048' AS DOUBLE), false),
        (26, 5, CAST('1.257198' AS DOUBLE), false),
        (27, 12, CAST('1.102954' AS DOUBLE), false),
        (28, 13, CAST('1.202499' AS DOUBLE), false),
        (29, 12, CAST('1.295106' AS DOUBLE), false),
        (30, 6, CAST('1.124431' AS DOUBLE), false),
        (31, 8, CAST('1.252266' AS DOUBLE), false),
        (32, 0, CAST('1.249699' AS DOUBLE), false),
        (33, 3, CAST('1.296252' AS DOUBLE), false),
        (34, 4, CAST('1.172121' AS DOUBLE), false),
        (35, 7, CAST('1.258777' AS DOUBLE), false),
        (36, 6, CAST('1.232961' AS DOUBLE), false),
        (37, 14, CAST('1.279405' AS DOUBLE), false),
        (38, 6, CAST('1.298754' AS DOUBLE), false),
        (39, 8, CAST('1.301262' AS DOUBLE), false),
        (40, 15, CAST('1.231944' AS DOUBLE), false),
        (41, 8, CAST('1.292294' AS DOUBLE), false),
        (42, 12, CAST('1.204075' AS DOUBLE), false),
        (43, 8, CAST('1.200107' AS DOUBLE), false),
        (44, 6, CAST('1.243704' AS DOUBLE), false),
        (45, 15, CAST('1.208165' AS DOUBLE), false),
        (46, 7, CAST('1.151034' AS DOUBLE), false),
        (47, 6, CAST('1.282596' AS DOUBLE), false),
        (48, 4, CAST('1.135671' AS DOUBLE), false),
        (49, 5, CAST('0.0' AS DOUBLE), true),
        (50, 3, CAST('1.262151' AS DOUBLE), false),
        (51, 13, CAST('1.197225' AS DOUBLE), false),
        (52, 4, CAST('1.295737' AS DOUBLE), false),
        (53, 12, CAST('1.265888' AS DOUBLE), false),
        (54, 1, CAST('1.316808' AS DOUBLE), false),
        (55, 12, CAST('1.281848' AS DOUBLE), false),
        (56, 9, CAST('1.224533' AS DOUBLE), false),
        (57, 4, CAST('1.294202' AS DOUBLE), false),
        (58, 14, CAST('1.229087' AS DOUBLE), false),
        (59, 9, CAST('1.211773' AS DOUBLE), false),
        (60, 5, CAST('1.181621' AS DOUBLE), false),
        (61, 3, CAST('1.223939' AS DOUBLE), false),
        (62, 14, CAST('1.253777' AS DOUBLE), false),
        (63, 4, CAST('1.282212' AS DOUBLE), false),
        (64, 12, CAST('1.318435' AS DOUBLE), false),
        (65, 7, CAST('1.241851' AS DOUBLE), false),
        (66, 11, CAST('1.279692' AS DOUBLE), false),
        (67, 4, CAST('1.153199' AS DOUBLE), false),
        (68, 3, CAST('1.244447' AS DOUBLE), false),
        (69, 10, CAST('1.210914' AS DOUBLE), false),
        (70, 10, CAST('1.20189' AS DOUBLE), false),
        (71, 11, CAST('1.288527' AS DOUBLE), false),
        (72, 13, CAST('1.18712' AS DOUBLE), false),
        (73, 0, CAST('1.187069' AS DOUBLE), false),
        (74, 3, CAST('1.295629' AS DOUBLE), false),
        (75, 14, CAST('1.232929' AS DOUBLE), false),
        (76, 9, CAST('1.214234' AS DOUBLE), false),
        (77, 1, CAST('1.210902' AS DOUBLE), false),
        (78, 6, CAST('1.203244' AS DOUBLE), false),
        (79, 3, CAST('1.272525' AS DOUBLE), false),
        (80, 8, CAST('0.0' AS DOUBLE), true),
        (81, 10, CAST('1.284703' AS DOUBLE), false),
        (82, 12, CAST('1.280779' AS DOUBLE), false),
        (83, 10, CAST('1.310841' AS DOUBLE), false),
        (84, 4, CAST('1.174425' AS DOUBLE), false),
        (85, 0, CAST('1.238839' AS DOUBLE), false),
        (86, 3, CAST('1.216189' AS DOUBLE), false),
        (87, 10, CAST('1.256109' AS DOUBLE), false),
        (88, 6, CAST('1.317235' AS DOUBLE), false),
        (89, 10, CAST('1.289506' AS DOUBLE), false),
        (90, 2, CAST('1.158774' AS DOUBLE), false),
        (91, 13, CAST('1.21485' AS DOUBLE), false),
        (92, 14, CAST('1.199834' AS DOUBLE), false),
        (93, 6, CAST('1.231459' AS DOUBLE), false),
        (94, 8, CAST('1.271933' AS DOUBLE), false),
        (95, 4, CAST('1.241592' AS DOUBLE), false),
        (96, 4, CAST('1.261254' AS DOUBLE), false),
        (97, 3, CAST('1.274815' AS DOUBLE), false),
        (98, 7, CAST('1.168394' AS DOUBLE), false),
        (99, 0, CAST('1.261633' AS DOUBLE), false),
        (100, 14, CAST('1.253771' AS DOUBLE), false),
        (101, 4, CAST('1.235107' AS DOUBLE), false),
        (102, 14, CAST('1.215545' AS DOUBLE), false),
        (103, 3, CAST('1.272928' AS DOUBLE), false),
        (104, 0, CAST('1.303624' AS DOUBLE), false),
        (105, 9, CAST('1.229324' AS DOUBLE), false),
        (106, 14, CAST('1.235204' AS DOUBLE), false),
        (107, 7, CAST('1.232333' AS DOUBLE), false),
        (108, 4, CAST('1.153532' AS DOUBLE), false),
        (109, 12, CAST('1.207005' AS DOUBLE), false),
        (110, 13, CAST('1.212027' AS DOUBLE), false),
        (111, 6, CAST('1.277707' AS DOUBLE), false),
        (112, 8, CAST('1.249803' AS DOUBLE), false),
        (113, 2, CAST('1.208393' AS DOUBLE), false),
        (114, 12, CAST('1.280444' AS DOUBLE), false),
        (115, 11, CAST('1.263486' AS DOUBLE), false),
        (116, 10, CAST('1.23816' AS DOUBLE), false),
        (117, 10, CAST('1.247889' AS DOUBLE), false),
        (118, 12, CAST('1.195248' AS DOUBLE), false),
        (119, 7, CAST('1.283243' AS DOUBLE), false),
        (120, 11, CAST('1.233136' AS DOUBLE), false),
        (121, 7, CAST('1.29106' AS DOUBLE), false),
        (122, 1, CAST('1.31438' AS DOUBLE), false),
        (123, 13, CAST('1.22136' AS DOUBLE), false),
        (124, 8, CAST('1.312827' AS DOUBLE), false),
        (125, 14, CAST('1.224587' AS DOUBLE), false),
        (126, 2, CAST('1.318424' AS DOUBLE), false),
        (127, 2, CAST('1.276672' AS DOUBLE), false),
        (128, 5, CAST('1.231702' AS DOUBLE), false),
        (129, 10, CAST('1.307776' AS DOUBLE), false),
        (130, 6, CAST('1.191022' AS DOUBLE), false),
        (131, 13, CAST('1.23039' AS DOUBLE), false),
        (132, 7, CAST('0.0' AS DOUBLE), true),
        (133, 2, CAST('1.260224' AS DOUBLE), false),
        (134, 12, CAST('0.0' AS DOUBLE), true),
        (135, 12, CAST('1.234323' AS DOUBLE), false),
        (136, 5, CAST('1.185164' AS DOUBLE), false),
        (137, 9, CAST('1.292686' AS DOUBLE), false),
        (138, 9, CAST('1.285593' AS DOUBLE), false),
        (139, 1, CAST('1.222915' AS DOUBLE), false),
        (140, 11, CAST('1.180618' AS DOUBLE), false),
        (141, 3, CAST('1.226561' AS DOUBLE), false),
        (142, 4, CAST('1.215761' AS DOUBLE), false),
        (143, 11, CAST('1.26381' AS DOUBLE), false),
        (144, 7, CAST('1.194327' AS DOUBLE), false),
        (145, 6, CAST('1.215977' AS DOUBLE), false),
        (146, 9, CAST('1.1364' AS DOUBLE), false),
        (147, 9, CAST('1.167787' AS DOUBLE), false),
        (148, 10, CAST('1.19375' AS DOUBLE), false),
        (149, 14, CAST('0.0' AS DOUBLE), true),
        (150, 3, CAST('1.078652' AS DOUBLE), false),
        (151, 7, CAST('1.256479' AS DOUBLE), false),
        (152, 3, CAST('0.0' AS DOUBLE), true),
        (153, 5, CAST('1.257947' AS DOUBLE), false),
        (154, 1, CAST('1.204669' AS DOUBLE), false),
        (155, 1, CAST('1.304812' AS DOUBLE), false),
        (156, 9, CAST('1.201317' AS DOUBLE), false),
        (157, 6, CAST('1.273883' AS DOUBLE), false),
        (158, 9, CAST('1.228841' AS DOUBLE), false),
        (159, 1, CAST('1.219636' AS DOUBLE), false),
        (160, 11, CAST('1.271866' AS DOUBLE), false),
        (161, 13, CAST('1.170163' AS DOUBLE), false),
        (162, 8, CAST('1.2206' AS DOUBLE), false),
        (163, 4, CAST('1.277381' AS DOUBLE), false),
        (164, 4, CAST('1.247081' AS DOUBLE), false),
        (165, 0, CAST('1.228906' AS DOUBLE), false),
        (166, 2, CAST('1.277985' AS DOUBLE), false),
        (167, 3, CAST('1.304144' AS DOUBLE), false),
        (168, 8, CAST('1.288676' AS DOUBLE), false),
        (169, 1, CAST('1.191735' AS DOUBLE), false),
        (170, 9, CAST('1.294782' AS DOUBLE), false),
        (171, 13, CAST('1.21702' AS DOUBLE), false),
        (172, 2, CAST('1.254416' AS DOUBLE), false),
        (173, 3, CAST('1.256874' AS DOUBLE), false),
        (174, 0, CAST('1.290571' AS DOUBLE), false),
        (175, 4, CAST('1.22346' AS DOUBLE), false),
        (176, 10, CAST('1.268808' AS DOUBLE), false),
        (177, 10, CAST('1.263402' AS DOUBLE), false),
        (178, 2, CAST('1.295925' AS DOUBLE), false),
        (179, 14, CAST('1.223736' AS DOUBLE), false),
        (180, 7, CAST('1.228379' AS DOUBLE), false),
        (181, 6, CAST('1.220451' AS DOUBLE), false),
        (182, 8, CAST('1.333992' AS DOUBLE), false),
        (183, 2, CAST('1.117665' AS DOUBLE), false),
        (184, 5, CAST('1.247472' AS DOUBLE), false),
        (185, 9, CAST('1.257538' AS DOUBLE), false),
        (186, 5, CAST('1.317881' AS DOUBLE), false),
        (187, 12, CAST('1.268481' AS DOUBLE), false),
        (188, 1, CAST('0.0' AS DOUBLE), true),
        (189, 10, CAST('1.24885' AS DOUBLE), false),
        (190, 0, CAST('1.198503' AS DOUBLE), false),
        (191, 10, CAST('1.240552' AS DOUBLE), false),
        (192, 10, CAST('1.265291' AS DOUBLE), false),
        (193, 1, CAST('1.276821' AS DOUBLE), false),
        (194, 13, CAST('1.288898' AS DOUBLE), false),
        (195, 8, CAST('1.19987' AS DOUBLE), false),
        (196, 4, CAST('1.161738' AS DOUBLE), false),
        (197, 10, CAST('1.254866' AS DOUBLE), false),
        (198, 5, CAST('1.270048' AS DOUBLE), false),
        (199, 9, CAST('1.201707' AS DOUBLE), false),
        (200, 10, CAST('1.282419' AS DOUBLE), false),
        (201, 11, CAST('1.273239' AS DOUBLE), false),
        (202, 10, CAST('1.224229' AS DOUBLE), false),
        (203, 13, CAST('1.299692' AS DOUBLE), false),
        (204, 15, CAST('1.250386' AS DOUBLE), false),
        (205, 7, CAST('1.306285' AS DOUBLE), false),
        (206, 6, CAST('1.277866' AS DOUBLE), false),
        (207, 7, CAST('1.261357' AS DOUBLE), false),
        (208, 7, CAST('1.28328' AS DOUBLE), false),
        (209, 5, CAST('1.236363' AS DOUBLE), false),
        (210, 4, CAST('1.142595' AS DOUBLE), false),
        (211, 14, CAST('1.264375' AS DOUBLE), false),
        (212, 12, CAST('1.231764' AS DOUBLE), false),
        (213, 11, CAST('1.200675' AS DOUBLE), false),
        (214, 11, CAST('1.257365' AS DOUBLE), false),
        (215, 4, CAST('1.269764' AS DOUBLE), false),
        (216, 15, CAST('1.295612' AS DOUBLE), false),
        (217, 9, CAST('1.27114' AS DOUBLE), false),
        (218, 5, CAST('1.265223' AS DOUBLE), false),
        (219, 14, CAST('1.232022' AS DOUBLE), false),
        (220, 8, CAST('1.26526' AS DOUBLE), false),
        (221, 8, CAST('1.249535' AS DOUBLE), false),
        (222, 10, CAST('1.29314' AS DOUBLE), false),
        (223, 1, CAST('1.256778' AS DOUBLE), false),
        (224, 13, CAST('1.290333' AS DOUBLE), false),
        (225, 5, CAST('1.273828' AS DOUBLE), false),
        (226, 1, CAST('1.285777' AS DOUBLE), false),
        (227, 7, CAST('1.304185' AS DOUBLE), false),
        (228, 15, CAST('1.259451' AS DOUBLE), false),
        (229, 0, CAST('1.240807' AS DOUBLE), false),
        (230, 8, CAST('1.100201' AS DOUBLE), false),
        (231, 10, CAST('1.16067' AS DOUBLE), false),
        (232, 4, CAST('1.201943' AS DOUBLE), false),
        (233, 6, CAST('1.215323' AS DOUBLE), false),
        (234, 2, CAST('1.29759' AS DOUBLE), false),
        (235, 13, CAST('1.271678' AS DOUBLE), false),
        (236, 7, CAST('1.2001' AS DOUBLE), false),
        (237, 7, CAST('1.293693' AS DOUBLE), false),
        (238, 7, CAST('1.265664' AS DOUBLE), false),
        (239, 2, CAST('1.258834' AS DOUBLE), false),
        (240, 13, CAST('1.27815' AS DOUBLE), false),
        (241, 12, CAST('1.213739' AS DOUBLE), false),
        (242, 11, CAST('1.230571' AS DOUBLE), false),
        (243, 10, CAST('1.241786' AS DOUBLE), false),
        (244, 14, CAST('1.2996' AS DOUBLE), false),
        (245, 5, CAST('1.290803' AS DOUBLE), false),
        (246, 1, CAST('1.243824' AS DOUBLE), false),
        (247, 10, CAST('1.154199' AS DOUBLE), false),
        (248, 15, CAST('1.234451' AS DOUBLE), false),
        (249, 0, CAST('1.278411' AS DOUBLE), false),
        (250, 14, CAST('1.291746' AS DOUBLE), false),
        (251, 9, CAST('1.25719' AS DOUBLE), false),
        (252, 6, CAST('1.17479' AS DOUBLE), false),
        (253, 13, CAST('1.199019' AS DOUBLE), false),
        (254, 2, CAST('1.136668' AS DOUBLE), false),
        (255, 3, CAST('1.288777' AS DOUBLE), false),
        (256, 8, CAST('1.257017' AS DOUBLE), false),
        (257, 5, CAST('1.216931' AS DOUBLE), false),
        (258, 1, CAST('1.255818' AS DOUBLE), false),
        (259, 11, CAST('1.285762' AS DOUBLE), false),
        (260, 6, CAST('1.276324' AS DOUBLE), false),
        (261, 0, CAST('1.260832' AS DOUBLE), false),
        (262, 2, CAST('1.07942' AS DOUBLE), false),
        (263, 14, CAST('1.188281' AS DOUBLE), false),
        (264, 14, CAST('1.29124' AS DOUBLE), false),
        (265, 10, CAST('1.231293' AS DOUBLE), false),
        (266, 0, CAST('1.272236' AS DOUBLE), false),
        (267, 2, CAST('1.336854' AS DOUBLE), false),
        (268, 0, CAST('1.296595' AS DOUBLE), false),
        (269, 9, CAST('1.240773' AS DOUBLE), false),
        (270, 0, CAST('1.255071' AS DOUBLE), false),
        (271, 9, CAST('1.176876' AS DOUBLE), false),
        (272, 0, CAST('1.295041' AS DOUBLE), false),
        (273, 5, CAST('1.275825' AS DOUBLE), false),
        (274, 2, CAST('1.22857' AS DOUBLE), false),
        (275, 5, CAST('1.248092' AS DOUBLE), false),
        (276, 15, CAST('1.249299' AS DOUBLE), false),
        (277, 6, CAST('1.151259' AS DOUBLE), false),
        (278, 4, CAST('1.203298' AS DOUBLE), false),
        (279, 14, CAST('1.176378' AS DOUBLE), false),
        (280, 15, CAST('1.155134' AS DOUBLE), false),
        (281, 12, CAST('1.203883' AS DOUBLE), false),
        (282, 13, CAST('1.261457' AS DOUBLE), false),
        (283, 10, CAST('1.177626' AS DOUBLE), false),
        (284, 11, CAST('1.265208' AS DOUBLE), false),
        (285, 11, CAST('1.185299' AS DOUBLE), false),
        (286, 11, CAST('1.175353' AS DOUBLE), false),
        (287, 2, CAST('1.242996' AS DOUBLE), false),
        (288, 15, CAST('1.256563' AS DOUBLE), false),
        (289, 7, CAST('1.222685' AS DOUBLE), false),
        (290, 7, CAST('1.252753' AS DOUBLE), false),
        (291, 2, CAST('0.0' AS DOUBLE), true),
        (292, 11, CAST('1.281889' AS DOUBLE), false),
        (293, 3, CAST('1.248303' AS DOUBLE), false),
        (294, 5, CAST('1.115637' AS DOUBLE), false),
        (295, 1, CAST('1.275776' AS DOUBLE), false),
        (296, 11, CAST('0.0' AS DOUBLE), true),
        (297, 2, CAST('1.200704' AS DOUBLE), false),
        (298, 9, CAST('1.172423' AS DOUBLE), false),
        (299, 12, CAST('1.2328' AS DOUBLE), false),
        (300, 12, CAST('1.235721' AS DOUBLE), false),
        (301, 6, CAST('1.245535' AS DOUBLE), false),
        (302, 4, CAST('1.308908' AS DOUBLE), false),
        (303, 0, CAST('1.287381' AS DOUBLE), false),
        (304, 9, CAST('1.303902' AS DOUBLE), false),
        (305, 13, CAST('1.276096' AS DOUBLE), false),
        (306, 9, CAST('1.278552' AS DOUBLE), false),
        (307, 1, CAST('1.253977' AS DOUBLE), false),
        (308, 13, CAST('0.0' AS DOUBLE), true),
        (309, 10, CAST('1.280144' AS DOUBLE), false),
        (310, 10, CAST('1.24101' AS DOUBLE), false),
        (311, 9, CAST('1.21188' AS DOUBLE), false),
        (312, 14, CAST('1.234825' AS DOUBLE), false),
        (313, 14, CAST('1.274179' AS DOUBLE), false),
        (314, 2, CAST('1.152699' AS DOUBLE), false),
        (315, 13, CAST('1.260559' AS DOUBLE), false),
        (316, 8, CAST('1.194496' AS DOUBLE), false),
        (317, 8, CAST('1.170687' AS DOUBLE), false),
        (318, 12, CAST('1.227691' AS DOUBLE), false),
        (319, 13, CAST('1.270378' AS DOUBLE), false),
        (320, 0, CAST('1.193432' AS DOUBLE), false),
        (321, 10, CAST('1.281' AS DOUBLE), false),
        (322, 8, CAST('1.22964' AS DOUBLE), false),
        (323, 12, CAST('1.211311' AS DOUBLE), false),
        (324, 5, CAST('1.261549' AS DOUBLE), false),
        (325, 7, CAST('1.182892' AS DOUBLE), false),
        (326, 4, CAST('1.18256' AS DOUBLE), false),
        (327, 13, CAST('1.243077' AS DOUBLE), false),
        (328, 7, CAST('1.284769' AS DOUBLE), false),
        (329, 12, CAST('1.252891' AS DOUBLE), false),
        (330, 5, CAST('1.289966' AS DOUBLE), false),
        (331, 7, CAST('1.225785' AS DOUBLE), false),
        (332, 4, CAST('1.323843' AS DOUBLE), false),
        (333, 1, CAST('1.249876' AS DOUBLE), false),
        (334, 0, CAST('1.128962' AS DOUBLE), false),
        (335, 3, CAST('1.21577' AS DOUBLE), false),
        (336, 7, CAST('1.16664' AS DOUBLE), false),
        (337, 3, CAST('1.248125' AS DOUBLE), false),
        (338, 13, CAST('1.23886' AS DOUBLE), false),
        (339, 4, CAST('1.347468' AS DOUBLE), false),
        (340, 3, CAST('1.31134' AS DOUBLE), false),
        (341, 2, CAST('1.224638' AS DOUBLE), false),
        (342, 15, CAST('1.236678' AS DOUBLE), false),
        (343, 7, CAST('1.256774' AS DOUBLE), false),
        (344, 0, CAST('1.222712' AS DOUBLE), false),
        (345, 0, CAST('1.294474' AS DOUBLE), false),
        (346, 13, CAST('1.261611' AS DOUBLE), false),
        (347, 1, CAST('1.175089' AS DOUBLE), false),
        (348, 14, CAST('1.231254' AS DOUBLE), false),
        (349, 15, CAST('1.249322' AS DOUBLE), false),
        (350, 15, CAST('1.196715' AS DOUBLE), false),
        (351, 14, CAST('1.256643' AS DOUBLE), false),
        (352, 13, CAST('1.304693' AS DOUBLE), false),
        (353, 0, CAST('1.33144' AS DOUBLE), false),
        (354, 11, CAST('1.252371' AS DOUBLE), false),
        (355, 10, CAST('0.0' AS DOUBLE), true),
        (356, 3, CAST('1.143534' AS DOUBLE), false),
        (357, 11, CAST('1.218509' AS DOUBLE), false),
        (358, 11, CAST('1.244625' AS DOUBLE), false),
        (359, 4, CAST('1.231621' AS DOUBLE), false),
        (360, 1, CAST('1.298316' AS DOUBLE), false),
        (361, 12, CAST('1.226062' AS DOUBLE), false),
        (362, 5, CAST('1.324073' AS DOUBLE), false),
        (363, 8, CAST('1.255747' AS DOUBLE), false),
        (364, 11, CAST('1.199188' AS DOUBLE), false),
        (365, 0, CAST('1.122503' AS DOUBLE), false),
        (366, 4, CAST('0.0' AS DOUBLE), true),
        (367, 5, CAST('1.271314' AS DOUBLE), false),
        (368, 11, CAST('1.204875' AS DOUBLE), false),
        (369, 4, CAST('1.270702' AS DOUBLE), false),
        (370, 11, CAST('1.269666' AS DOUBLE), false),
        (371, 14, CAST('1.32405' AS DOUBLE), false),
        (372, 8, CAST('1.259244' AS DOUBLE), false),
        (373, 8, CAST('1.278704' AS DOUBLE), false),
        (374, 0, CAST('1.2824' AS DOUBLE), false),
        (375, 5, CAST('1.216638' AS DOUBLE), false),
        (376, 13, CAST('1.286931' AS DOUBLE), false),
        (377, 15, CAST('1.261655' AS DOUBLE), false),
        (378, 4, CAST('1.20153' AS DOUBLE), false),
        (379, 3, CAST('1.239937' AS DOUBLE), false),
        (380, 6, CAST('1.261048' AS DOUBLE), false),
        (381, 15, CAST('1.266267' AS DOUBLE), false),
        (382, 14, CAST('1.119277' AS DOUBLE), false),
        (383, 4, CAST('1.291101' AS DOUBLE), false),
        (384, 5, CAST('1.18378' AS DOUBLE), false),
        (385, 11, CAST('1.217458' AS DOUBLE), false),
        (386, 8, CAST('1.237035' AS DOUBLE), false),
        (387, 0, CAST('1.1566' AS DOUBLE), false),
        (388, 0, CAST('1.203079' AS DOUBLE), false),
        (389, 14, CAST('1.309874' AS DOUBLE), false),
        (390, 6, CAST('1.250225' AS DOUBLE), false),
        (391, 0, CAST('1.291329' AS DOUBLE), false),
        (392, 8, CAST('1.269899' AS DOUBLE), false),
        (393, 13, CAST('1.260206' AS DOUBLE), false),
        (394, 10, CAST('1.328141' AS DOUBLE), false),
        (395, 15, CAST('1.264013' AS DOUBLE), false),
        (396, 3, CAST('1.245384' AS DOUBLE), false),
        (397, 9, CAST('1.261549' AS DOUBLE), false),
        (398, 3, CAST('1.258771' AS DOUBLE), false),
        (399, 6, CAST('1.136238' AS DOUBLE), false),
        (400, 8, CAST('1.304073' AS DOUBLE), false),
        (401, 0, CAST('1.270138' AS DOUBLE), false),
        (402, 13, CAST('1.227163' AS DOUBLE), false),
        (403, 2, CAST('1.211823' AS DOUBLE), false),
        (404, 1, CAST('1.31051' AS DOUBLE), false),
        (405, 5, CAST('1.270008' AS DOUBLE), false),
        (406, 15, CAST('1.267319' AS DOUBLE), false),
        (407, 2, CAST('1.253733' AS DOUBLE), false),
        (408, 3, CAST('1.198183' AS DOUBLE), false),
        (409, 6, CAST('1.321789' AS DOUBLE), false),
        (410, 14, CAST('1.274217' AS DOUBLE), false),
        (411, 10, CAST('1.216564' AS DOUBLE), false),
        (412, 4, CAST('1.154373' AS DOUBLE), false),
        (413, 4, CAST('1.224763' AS DOUBLE), false),
        (414, 10, CAST('1.332233' AS DOUBLE), false),
        (415, 0, CAST('1.234524' AS DOUBLE), false),
        (416, 6, CAST('1.255919' AS DOUBLE), false),
        (417, 10, CAST('1.094779' AS DOUBLE), false),
        (418, 3, CAST('1.221894' AS DOUBLE), false),
        (419, 9, CAST('1.329605' AS DOUBLE), false),
        (420, 4, CAST('1.314257' AS DOUBLE), false),
        (421, 7, CAST('1.237821' AS DOUBLE), false),
        (422, 13, CAST('1.251023' AS DOUBLE), false),
        (423, 0, CAST('1.185805' AS DOUBLE), false),
        (424, 5, CAST('1.280513' AS DOUBLE), false),
        (425, 4, CAST('1.199538' AS DOUBLE), false),
        (426, 14, CAST('1.204603' AS DOUBLE), false),
        (427, 14, CAST('1.299956' AS DOUBLE), false),
        (428, 13, CAST('1.245291' AS DOUBLE), false),
        (429, 8, CAST('1.162977' AS DOUBLE), false),
        (430, 4, CAST('1.274169' AS DOUBLE), false),
        (431, 1, CAST('1.307237' AS DOUBLE), false),
        (432, 7, CAST('1.240381' AS DOUBLE), false),
        (433, 9, CAST('1.268448' AS DOUBLE), false),
        (434, 5, CAST('1.19099' AS DOUBLE), false),
        (435, 1, CAST('1.213875' AS DOUBLE), false),
        (436, 11, CAST('1.256792' AS DOUBLE), false),
        (437, 15, CAST('1.249596' AS DOUBLE), false),
        (438, 3, CAST('1.250654' AS DOUBLE), false),
        (439, 12, CAST('1.194484' AS DOUBLE), false),
        (440, 2, CAST('1.179437' AS DOUBLE), false),
        (441, 13, CAST('1.25708' AS DOUBLE), false),
        (442, 8, CAST('1.255576' AS DOUBLE), false),
        (443, 8, CAST('1.216037' AS DOUBLE), false),
        (444, 12, CAST('1.217519' AS DOUBLE), false),
        (445, 2, CAST('1.234948' AS DOUBLE), false),
        (446, 13, CAST('1.327061' AS DOUBLE), false),
        (447, 2, CAST('1.182154' AS DOUBLE), false),
        (448, 6, CAST('1.290814' AS DOUBLE), false),
        (449, 12, CAST('1.147077' AS DOUBLE), false),
        (450, 14, CAST('1.255895' AS DOUBLE), false),
        (451, 7, CAST('1.292962' AS DOUBLE), false),
        (452, 1, CAST('1.261742' AS DOUBLE), false),
        (453, 7, CAST('1.238401' AS DOUBLE), false),
        (454, 8, CAST('1.249108' AS DOUBLE), false),
        (455, 3, CAST('1.287033' AS DOUBLE), false),
        (456, 7, CAST('1.285798' AS DOUBLE), false),
        (457, 11, CAST('1.285059' AS DOUBLE), false),
        (458, 12, CAST('1.289623' AS DOUBLE), false),
        (459, 15, CAST('0.0' AS DOUBLE), true),
        (460, 12, CAST('1.238197' AS DOUBLE), false),
        (461, 0, CAST('1.289683' AS DOUBLE), false),
        (462, 5, CAST('1.262409' AS DOUBLE), false),
        (463, 13, CAST('1.168711' AS DOUBLE), false),
        (464, 0, CAST('1.202807' AS DOUBLE), false),
        (465, 6, CAST('1.199787' AS DOUBLE), false),
        (466, 4, CAST('1.233186' AS DOUBLE), false),
        (467, 5, CAST('1.2414' AS DOUBLE), false),
        (468, 1, CAST('1.256362' AS DOUBLE), false),
        (469, 13, CAST('1.218355' AS DOUBLE), false),
        (470, 4, CAST('1.314526' AS DOUBLE), false),
        (471, 5, CAST('1.241116' AS DOUBLE), false),
        (472, 14, CAST('1.260795' AS DOUBLE), false),
        (473, 6, CAST('1.292943' AS DOUBLE), false),
        (474, 2, CAST('1.292288' AS DOUBLE), false),
        (475, 4, CAST('1.295172' AS DOUBLE), false),
        (476, 6, CAST('1.273693' AS DOUBLE), false),
        (477, 13, CAST('1.09772' AS DOUBLE), false),
        (478, 0, CAST('1.235085' AS DOUBLE), false),
        (479, 9, CAST('1.19385' AS DOUBLE), false),
        (480, 4, CAST('1.260249' AS DOUBLE), false),
        (481, 4, CAST('1.234964' AS DOUBLE), false),
        (482, 12, CAST('1.291411' AS DOUBLE), false),
        (483, 0, CAST('1.219262' AS DOUBLE), false),
        (484, 10, CAST('1.174564' AS DOUBLE), false),
        (485, 8, CAST('1.207962' AS DOUBLE), false),
        (486, 9, CAST('1.269023' AS DOUBLE), false),
        (487, 4, CAST('1.232634' AS DOUBLE), false),
        (488, 8, CAST('1.148696' AS DOUBLE), false),
        (489, 11, CAST('1.317556' AS DOUBLE), false),
        (490, 11, CAST('1.248988' AS DOUBLE), false),
        (491, 12, CAST('1.228855' AS DOUBLE), false),
        (492, 5, CAST('1.242606' AS DOUBLE), false),
        (493, 7, CAST('1.203822' AS DOUBLE), false),
        (494, 12, CAST('1.27221' AS DOUBLE), false),
        (495, 9, CAST('1.230952' AS DOUBLE), false),
        (496, 2, CAST('1.288824' AS DOUBLE), false),
        (497, 3, CAST('1.243234' AS DOUBLE), false),
        (498, 0, CAST('1.224152' AS DOUBLE), false),
        (499, 14, CAST('1.205647' AS DOUBLE), false)
    ) AS t("vec_id", "center_rank", "dist", "is_center")
    """,
    doc=(
        "Greedy k-center coreset (operators/similarity.kcenter_coreset; "
        "Gonzalez 1985 farthest-first traversal, the Sener & Savarese "
        "2018 active-learning coreset rule): seed with the smallest-id "
        "vector, repeatedly add the point farthest from the selected "
        "set (k=16), and emit every point's nearest-center assignment "
        "and distance — the diversity sample plus the per-example "
        "novelty signal. Two regimes pick the same centers: a seed "
        "probe and a vector-free count decide; at or under 200k rows "
        "and 128 MiB the (id, vec) projection is collected once and "
        "farthest-first runs on the driver in numpy with Spark's own "
        "fold, sqrt and HALF_UP rounding; above either bound, or for "
        "NaN/Inf elements and NULL or non-integral/string ids, each "
        "of the k-1 rounds is one TakeOrderedAndProject of a single "
        "row over the cached projection, mindist recomputed as a "
        "least() over the center-literal folds. The returned frame is "
        "the same lazy Spark expression over the chosen centers either "
        "way. Distances rounded before every compare; dirty rows never "
        "selectable, always emitted with NULL assignment."
    ),
    oracle_sf="sf0.01",
)
def emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import kcenter_coreset

    return kcenter_coreset(_t(spark, sf_dir, "embeddings"), k=16)


# ---------------------------------------------------------------------------
# Tokenizer evaluation report — fertility / compression per corpus slice
# ---------------------------------------------------------------------------


def _tokenizer_report_oracle() -> str:
    """Independent precomputed-expectation oracle, same protocol as
    text_bpe_merges/text_bpe_tokenize: tools/gen_bpe_oracle.py --report
    derives the per-(lang, source) aggregates from DuckDB tokenization
    + a pure-Python BPE (train 16 merges, tokenize every word, roll up
    per slice) — no Spark code in the loop. The VALUES table lives in
    oracles/text_tokenizer_report.sql (regenerate with
    `python tools/gen_bpe_oracle.py /root/testdata/sf0.01 16 --report`).
    Valid only at the driver's sf0.01 gate (oracle_sf)."""
    import os

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "oracles",
        "text_tokenizer_report.sql",
    )
    with open(path) as f:
        return f.read()


@register(
    "text_tokenizer_report",
    _tokenizer_report_oracle(),
    oracle_sf="sf0.01",
    doc=(
        "Tokenizer evaluation report (operators/bpe train_bpe + "
        "apply_bpe_vocab): per (lang, source) corpus slice, document/"
        "word/token/char totals plus FERTILITY (BPE tokens per word — "
        "the standard multilingual tokenizer-quality metric; high "
        "fertility = that slice pays more sequence length per word) and "
        "chars-per-token compression. This is the measurement a "
        "pipeline runs after training a tokenizer to decide whether the "
        "vocab serves every language/domain slice fairly. One corpus "
        "scan into the count-only vocabulary-memoized apply (merge fold "
        "once per DISTINCT word, size summed straight off the exploded "
        "word stream — operators/bpe.bpe_token_counts: no per-doc token-"
        "array reassembly and no corpus-sized doc-key join, the two "
        "costs that made the report superlinear at the sf100 spill "
        "decade), doc/word/char totals as a second map-side-combined "
        "scan aggregate, and a #slices-row join between the two. "
        "Integer totals are exact; ratios are single double divisions "
        "rounded 6 dp."
    ),
)
def text_tokenizer_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.functions.text import words
    from etl_s3_to_redshift_spark.operators.bpe import bpe_token_counts, train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges_df = train_bpe(docs, n_merges=16)
    merges = [
        (r["left"], r["right"]) for r in merges_df.orderBy("merge_rank").collect()
    ]
    ntok = bpe_token_counts(
        docs.select("lang", "source", "text"), merges, group_cols=["lang", "source"]
    )
    w = words(F.lower(F.col("text")))
    doc_stats = docs.select(
        "lang",
        "source",
        F.size(w).cast("long").alias("__nw"),
        F.aggregate(w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
        .alias("__nc"),
    ).groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nw").alias("n_words"),
        F.sum("__nc").alias("n_chars"),
    )
    # left join: a slice whose docs are all wordless has no token rows —
    # it still reports, with 0 tokens (matching the reassembly form's
    # empty arrays). #slices-sized join, broadcast.
    agg = doc_stats.join(F.broadcast(ntok), ["lang", "source"], "left").select(
        "lang",
        "source",
        "n_docs",
        "n_words",
        F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
        "n_chars",
    )
    return agg.select(
        "lang",
        "source",
        "n_docs",
        "n_words",
        "n_tokens",
        "n_chars",
        F.when(
            F.col("n_words") > 0,
            F.round(F.col("n_tokens").cast("double") / F.col("n_words").cast("double"), 6),
        ).alias("fertility"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"), 6),
        ).alias("chars_per_token"),
    )
