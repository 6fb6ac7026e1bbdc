"""Round-6 registered queries: training-data curation extensions —
importance-resampling data selection, contrastive hard-negative mining,
and first-occurrence novelty scoring.

Reference anchor: north-star extensions only (the reference's full query
inventory at /root/reference/sql_queries.py has no text/embedding
surface); each query carries an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_s3_to_redshift_spark.queries import _t, register


# ---------------------------------------------------------------------------
# DSIR importance weights — classifier-free domain-targeted data selection
# ---------------------------------------------------------------------------


@register(
    "data_dsir_weights",
    """
    WITH toks AS (
        SELECT doc_id, CAST(lang = 'en' AS INTEGER) AS tgt,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x != '')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tgt, token, count(*) AS tf
        FROM toks GROUP BY doc_id, tgt, token
    ),
    s AS (
        SELECT CAST(sum(tf * tgt) AS BIGINT) AS nt,
               CAST(sum(tf) AS BIGINT) AS na,
               CAST(count(DISTINCT token) AS BIGINT) AS v
        FROM tf
    ),
    m AS (
        SELECT token,
               CAST(sum(tf * tgt) AS BIGINT) AS ct,
               CAST(sum(tf) AS BIGINT) AS ca
        FROM tf GROUP BY token
    )
    SELECT tf.doc_id,
           CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
           -- + 0 normalizes IEEE negative zero (round can yield -0.0 and
           -- the engines disagree on which); -0.0 + 0.0 = +0.0 exactly
           round(sum(tf.tf * (ln(CAST(m.ct + 1 AS DOUBLE) / CAST(s.nt + s.v AS DOUBLE))
                              - ln(CAST(m.ca + 1 AS DOUBLE) / CAST(s.na + s.v AS DOUBLE))))
                 / sum(tf.tf), 6) + 0.0 AS avg_logratio
    FROM tf JOIN m USING (token) CROSS JOIN s
    GROUP BY tf.doc_id
    """,
    doc=(
        "DSIR importance-resampling weights (operators/textops."
        "dsir_logratio_weights; Xie et al. 2023): per-document average "
        "unigram log-ratio between the add-1-smoothed model of the "
        "TARGET slice (lang='en' — the in-domain exemplar set) and the "
        "whole raw pool, over the shared corpus vocabulary. Resampling "
        "by this weight tilts a raw crawl toward the target domain with "
        "no trained classifier. One tokenization into the (doc, token) "
        "tf aggregate; both model counts ride token-key windows "
        "(vocabulary-sized shuffle, never a broadcast model); scalars "
        "N_t/N/V are one bounded 1-row driver read."
    ),
)
def data_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import dsir_logratio_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_logratio_weights(docs, target=F.col("lang") == "en")


# ---------------------------------------------------------------------------
# Contrastive hard negatives — embedding training-pair mining
# ---------------------------------------------------------------------------


@register(
    "emb_hard_negatives",
    """
    WITH dv AS (
      SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM dv WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, c.vec_id,
             round(list_aggregate(list_transform(range(len(c.v)), i -> c.v[i+1] * q.qv[i+1]), 'sum')
               / (sqrt(list_aggregate(list_transform(range(len(c.v)), i -> c.v[i+1] * c.v[i+1]), 'sum'))
                  * sqrt(list_aggregate(list_transform(range(len(q.qv)), i -> q.qv[i+1] * q.qv[i+1]), 'sum'))), 6) AS cos_sim
      FROM dv c, q
      WHERE c.vec_id != q.query_id AND c.label != q.qlabel
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    ) t WHERE rank <= 5
    """,
    doc=(
        "Contrastive hard-negative mining (operators/similarity."
        "contrastive_hard_negatives): per query vector, the 5 highest-"
        "cosine corpus vectors with a DIFFERENT label — the 'looks "
        "similar, means different' pairs an embedding model learns most "
        "from. Same broadcast-streamed scan + rounded-rank determinism "
        "contract as the exact top-k baseline; at lake scale the scan "
        "swaps for LSH bucket mates with the same label predicate."
    ),
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import (
        contrastive_hard_negatives,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return contrastive_hard_negatives(emb, queries, k=5, round_to=6)


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication via cluster-then-prune
# ---------------------------------------------------------------------------


@register(
    "dedup_semantic_clusters",
    # Committed-expectation oracle (tools/gen_committed_oracle.py;
    # REGRESSION PIN generated under Spark 4.1.2 — iterative k-means
    # is not SQL-expressible; the whole pipeline is deterministic by
    # construction (no-RNG Lloyd on the id-sorted hash slice, per-group
    # Arrow kernel with id-sorted row order) and the full output was
    # verified bit-identical across plain local[7]/[13]/[32]
    # driver-style sessions before pinning. Valid only at sf0.01;
    # other SFs fall back to rows-only.
    """
    SELECT CAST("vec_id" AS BIGINT) AS "vec_id",
           CAST("cluster" AS INTEGER) AS "cluster",
           CAST("kept" AS BOOLEAN) AS "kept"
    FROM (VALUES
        (0, 0, true),
        (1, 13, true),
        (2, 11, true),
        (3, 15, true),
        (4, 15, true),
        (5, 15, true),
        (6, 10, true),
        (7, 9, true),
        (8, 4, true),
        (9, 1, true),
        (10, 12, true),
        (11, 13, true),
        (12, 4, true),
        (13, 2, true),
        (14, 15, true),
        (15, 13, true),
        (16, 0, true),
        (17, 3, true),
        (18, 3, true),
        (19, 15, true),
        (20, 8, true),
        (21, 8, true),
        (22, 13, true),
        (23, 13, true),
        (24, 2, true),
        (25, 12, true),
        (26, 8, true),
        (27, 0, true),
        (28, 9, true),
        (29, 5, true),
        (30, 5, true),
        (31, 15, true),
        (32, 14, true),
        (33, 6, true),
        (34, 13, true),
        (35, 0, false),
        (36, 0, true),
        (37, 7, true),
        (38, 5, true),
        (39, 4, false),
        (40, 7, true),
        (41, 8, true),
        (42, 5, true),
        (43, 14, true),
        (44, 14, true),
        (45, 2, true),
        (46, 7, true),
        (47, 8, true),
        (48, 13, true),
        (49, 1, false),
        (50, 14, true),
        (51, 0, true),
        (52, 11, true),
        (53, 10, true),
        (54, 3, true),
        (55, 7, true),
        (56, 12, true),
        (57, 7, true),
        (58, 12, true),
        (59, 0, true),
        (60, 8, true),
        (61, 3, true),
        (62, 10, true),
        (63, 14, true),
        (64, 13, false),
        (65, 12, true),
        (66, 15, true),
        (67, 6, true),
        (68, 11, true),
        (69, 11, true),
        (70, 6, true),
        (71, 8, true),
        (72, 7, true),
        (73, 0, false),
        (74, 4, true),
        (75, 2, true),
        (76, 11, true),
        (77, 13, true),
        (78, 12, true),
        (79, 12, true),
        (80, 9, true),
        (81, 10, true),
        (82, 5, true),
        (83, 11, true),
        (84, 13, false),
        (85, 15, true),
        (86, 15, true),
        (87, 15, false),
        (88, 8, true),
        (89, 0, true),
        (90, 8, true),
        (91, 14, false),
        (92, 0, true),
        (93, 5, true),
        (94, 8, false),
        (95, 11, false),
        (96, 4, true),
        (97, 11, true),
        (98, 11, true),
        (99, 11, true),
        (100, 2, false),
        (101, 15, true),
        (102, 7, true),
        (103, 2, true),
        (104, 7, false),
        (105, 11, true),
        (106, 13, true),
        (107, 14, true),
        (108, 13, false),
        (109, 3, true),
        (110, 7, false),
        (111, 10, false),
        (112, 3, false),
        (113, 12, true),
        (114, 4, true),
        (115, 8, true),
        (116, 14, true),
        (117, 11, false),
        (118, 3, true),
        (119, 6, true),
        (120, 3, false),
        (121, 7, true),
        (122, 15, true),
        (123, 13, true),
        (124, 13, false),
        (125, 15, true),
        (126, 7, false),
        (127, 12, true),
        (128, 13, true),
        (129, 13, true),
        (130, 12, true),
        (131, 0, true),
        (132, 0, true),
        (133, 15, true),
        (134, 13, true),
        (135, 0, true),
        (136, 3, true),
        (137, 14, true),
        (138, 4, false),
        (139, 11, true),
        (140, 8, true),
        (141, 3, true),
        (142, 7, true),
        (143, 3, true),
        (144, 13, true),
        (145, 5, false),
        (146, 6, true),
        (147, 4, true),
        (148, 14, true),
        (149, 2, true),
        (150, 4, false),
        (151, 1, true),
        (152, 3, true),
        (153, 15, true),
        (154, 11, true),
        (155, 6, true),
        (156, 14, true),
        (157, 12, false),
        (158, 15, false),
        (159, 6, true),
        (160, 0, true),
        (161, 4, true),
        (162, 4, false),
        (163, 6, true),
        (164, 12, true),
        (165, 13, true),
        (166, 7, false),
        (167, 12, true),
        (168, 11, true),
        (169, 2, true),
        (170, 8, true),
        (171, 7, true),
        (172, 2, true),
        (173, 11, true),
        (174, 6, true),
        (175, 2, true),
        (176, 13, true),
        (177, 12, true),
        (178, 2, true),
        (179, 10, true),
        (180, 8, true),
        (181, 12, true),
        (182, 10, true),
        (183, 8, true),
        (184, 1, true),
        (185, 3, true),
        (186, 5, true),
        (187, 6, true),
        (188, 6, true),
        (189, 2, true),
        (190, 13, false),
        (191, 15, true),
        (192, 2, true),
        (193, 6, true),
        (194, 15, false),
        (195, 7, false),
        (196, 6, false),
        (197, 11, false),
        (198, 12, true),
        (199, 1, true),
        (200, 7, true),
        (201, 7, true),
        (202, 3, true),
        (203, 13, true),
        (204, 7, false),
        (205, 13, true),
        (206, 10, true),
        (207, 11, true),
        (208, 8, true),
        (209, 13, true),
        (210, 13, true),
        (211, 12, true),
        (212, 12, true),
        (213, 5, true),
        (214, 8, true),
        (215, 7, false),
        (216, 14, true),
        (217, 8, true),
        (218, 1, true),
        (219, 10, true),
        (220, 4, true),
        (221, 9, false),
        (222, 15, true),
        (223, 6, true),
        (224, 4, true),
        (225, 8, true),
        (226, 3, true),
        (227, 11, true),
        (228, 10, true),
        (229, 0, true),
        (230, 12, true),
        (231, 15, true),
        (232, 14, true),
        (233, 12, false),
        (234, 13, true),
        (235, 4, false),
        (236, 12, true),
        (237, 12, true),
        (238, 7, true),
        (239, 15, true),
        (240, 13, true),
        (241, 6, true),
        (242, 8, true),
        (243, 12, true),
        (244, 12, true),
        (245, 8, false),
        (246, 14, true),
        (247, 8, false),
        (248, 1, true),
        (249, 15, false),
        (250, 11, true),
        (251, 11, true),
        (252, 5, true),
        (253, 13, false),
        (254, 11, false),
        (255, 0, true),
        (256, 2, false),
        (257, 0, true),
        (258, 6, false),
        (259, 8, false),
        (260, 13, true),
        (261, 0, false),
        (262, 7, false),
        (263, 15, true),
        (264, 7, true),
        (265, 8, false),
        (266, 12, false),
        (267, 10, true),
        (268, 6, true),
        (269, 9, false),
        (270, 14, true),
        (271, 15, false),
        (272, 13, true),
        (273, 14, true),
        (274, 2, false),
        (275, 13, true),
        (276, 8, false),
        (277, 2, false),
        (278, 14, true),
        (279, 2, false),
        (280, 2, true),
        (281, 10, false),
        (282, 13, true),
        (283, 5, true),
        (284, 13, false),
        (285, 8, true),
        (286, 8, false),
        (287, 9, true),
        (288, 12, true),
        (289, 12, true),
        (290, 12, true),
        (291, 12, true),
        (292, 13, true),
        (293, 14, false),
        (294, 1, false),
        (295, 15, false),
        (296, 8, false),
        (297, 12, true),
        (298, 2, false),
        (299, 3, true),
        (300, 15, true),
        (301, 11, false),
        (302, 13, false),
        (303, 14, true),
        (304, 11, false),
        (305, 9, false),
        (306, 7, false),
        (307, 9, false),
        (308, 7, true),
        (309, 3, true),
        (310, 7, true),
        (311, 5, false),
        (312, 7, false),
        (313, 6, true),
        (314, 4, false),
        (315, 4, false),
        (316, 15, true),
        (317, 15, false),
        (318, 5, true),
        (319, 14, false),
        (320, 11, false),
        (321, 14, true),
        (322, 7, false),
        (323, 8, true),
        (324, 7, false),
        (325, 0, false),
        (326, 11, false),
        (327, 0, true),
        (328, 5, true),
        (329, 13, false),
        (330, 11, true),
        (331, 12, false),
        (332, 9, true),
        (333, 0, false),
        (334, 0, false),
        (335, 3, true),
        (336, 7, true),
        (337, 2, false),
        (338, 8, true),
        (339, 9, false),
        (340, 9, false),
        (341, 13, true),
        (342, 2, false),
        (343, 15, false),
        (344, 14, false),
        (345, 6, true),
        (346, 3, true),
        (347, 4, true),
        (348, 12, true),
        (349, 15, true),
        (350, 3, false),
        (351, 12, true),
        (352, 13, true),
        (353, 13, false),
        (354, 8, false),
        (355, 12, true),
        (356, 3, false),
        (357, 9, false),
        (358, 13, true),
        (359, 9, false),
        (360, 2, false),
        (361, 13, true),
        (362, 13, true),
        (363, 13, false),
        (364, 0, true),
        (365, 0, false),
        (366, 6, false),
        (367, 1, true),
        (368, 6, true),
        (369, 5, false),
        (370, 10, false),
        (371, 3, true),
        (372, 1, false),
        (373, 6, true),
        (374, 6, true),
        (375, 3, false),
        (376, 4, true),
        (377, 5, true),
        (378, 2, true),
        (379, 11, false),
        (380, 2, true),
        (381, 14, true),
        (382, 9, false),
        (383, 1, true),
        (384, 8, false),
        (385, 8, false),
        (386, 13, false),
        (387, 0, false),
        (388, 0, false),
        (389, 11, false),
        (390, 11, true),
        (391, 15, false),
        (392, 6, true),
        (393, 8, true),
        (394, 15, true),
        (395, 2, true),
        (396, 13, true),
        (397, 15, false),
        (398, 3, true),
        (399, 13, false),
        (400, 12, true),
        (401, 0, true),
        (402, 4, false),
        (403, 15, true),
        (404, 15, false),
        (405, 1, false),
        (406, 8, false),
        (407, 12, true),
        (408, 9, true),
        (409, 13, true),
        (410, 13, false),
        (411, 12, false),
        (412, 6, false),
        (413, 5, false),
        (414, 12, true),
        (415, 0, false),
        (416, 12, false),
        (417, 0, true),
        (418, 13, false),
        (419, 15, false),
        (420, 6, true),
        (421, 12, true),
        (422, 14, true),
        (423, 13, false),
        (424, 7, true),
        (425, 14, true),
        (426, 11, true),
        (427, 2, false),
        (428, 12, true),
        (429, 8, false),
        (430, 10, false),
        (431, 10, false),
        (432, 12, false),
        (433, 15, true),
        (434, 14, false),
        (435, 8, true),
        (436, 13, false),
        (437, 15, false),
        (438, 14, false),
        (439, 13, true),
        (440, 2, false),
        (441, 7, true),
        (442, 0, true),
        (443, 9, true),
        (444, 11, false),
        (445, 2, false),
        (446, 7, true),
        (447, 12, false),
        (448, 6, false),
        (449, 15, true),
        (450, 1, false),
        (451, 13, false),
        (452, 13, false),
        (453, 11, false),
        (454, 12, false),
        (455, 12, false),
        (456, 12, false),
        (457, 5, false),
        (458, 11, false),
        (459, 2, false),
        (460, 13, true),
        (461, 14, true),
        (462, 10, false),
        (463, 7, false),
        (464, 0, false),
        (465, 5, false),
        (466, 6, true),
        (467, 13, false),
        (468, 15, false),
        (469, 15, false),
        (470, 11, false),
        (471, 10, true),
        (472, 13, false),
        (473, 13, false),
        (474, 13, false),
        (475, 1, true),
        (476, 11, true),
        (477, 7, false),
        (478, 0, true),
        (479, 4, false),
        (480, 12, false),
        (481, 13, false),
        (482, 8, false),
        (483, 4, true),
        (484, 6, false),
        (485, 13, false),
        (486, 15, false),
        (487, 14, true),
        (488, 6, true),
        (489, 13, false),
        (490, 8, true),
        (491, 0, true),
        (492, 6, true),
        (493, 12, true),
        (494, 4, false),
        (495, 15, false),
        (496, 8, true),
        (497, 15, false),
        (498, 13, false),
        (499, 15, false)
    ) AS t("vec_id", "cluster", "kept")
    """,
    oracle_sf="sf0.01",
    doc=(
        "SemDeDup semantic deduplication (operators/similarity."
        "semantic_dedup; Abbas et al. 2023): deterministic k-means "
        "clusters the embedding space, then each cluster greedily "
        "drops every vector with a smaller-id neighbor at rounded "
        "cosine >= 0.3 (synthetic corpus is near-uniform; real data "
        "uses ~0.95). Pair work is sum(cluster_size^2), never "
        "corpus^2 — one BLAS gram matrix per cluster via "
        "applyInPandas; grow n_clusters with the corpus to bound "
        "cluster sizes at any scale."
    ),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.similarity import semantic_dedup

    return semantic_dedup(_t(spark, sf_dir, "embeddings"), threshold=0.3)


# ---------------------------------------------------------------------------
# N-gram novelty — does a new batch add anything?
# ---------------------------------------------------------------------------


@register(
    "text_ngram_novelty",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x != '') AS w
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks)
    ),
    firsts AS (SELECT gram, min(doc_id) AS fd FROM grams GROUP BY gram)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           round(sum(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS novelty_rate
    FROM grams g JOIN firsts f USING (gram)
    GROUP BY g.doc_id
    """,
    doc=(
        "First-occurrence novelty (operators/textops.ngram_novelty_"
        "scores): fraction of each document's distinct word trigrams "
        "whose corpus-wide first occurrence (min doc id) is this "
        "document — the incremental-crawl 'does this batch add "
        "anything' signal next to dedup's 'is this document a copy'. "
        "Trigrams build inside the token array (functions/text."
        "word_ngrams, no posexplode self-join) and are made distinct in "
        "the row; wide ops are the min-over-gram-key window and the "
        "per-doc count. Docs with < 3 tokens have no trigrams and are "
        "absent by definition."
    ),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.textops import ngram_novelty_scores

    return ngram_novelty_scores(_t(spark, sf_dir, "documents"), n=3)
