"""Round-9 registered queries (sixth batch): web-corpus curation — URL
canonicalization + dedup and per-domain quotas (operators/web.py).

Reference anchor: north-star extensions only (the reference's query
inventory at /root/reference/sql_queries.py has no web surface); both
queries carry exact DuckDB oracles. The documents lake has no URL
column, so the fixtures derive deterministic NOISY urls from
(doc_id, source) — scheme case, default ports, tracking params, param
order, duplicate/trailing slashes, fragments — exactly the variant
classes canonical_url collapses (the sparse-chain / dense-variant
fixture pattern: planted noise, derivable at any SF, same rows both
engines)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_s3_to_redshift_spark.queries import _t, register

# Deterministic noisy-URL synthesis, keyed on doc_id residues. Every
# branch total-function of (doc_id, source) -> identical rows on both
# engines. After canonicalization: scheme case merges, :443 strips,
# leading '//' collapses, trailing '/' strips, utm_* drops and the
# remaining params sort -> residues {0,1} mod 4 share one query form and
# {2,3} share the empty one, so each (source, doc_id%50) bucket
# collapses to exactly TWO canonical urls.
_URL_SYNTH_DUCK = """
    concat(
      CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END, '://',
      source,
      CASE WHEN doc_id % 5 = 0 THEN '.EXAMPLE.com' ELSE '.example.com' END,
      CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END,
      CASE WHEN doc_id % 11 = 0 THEN '//a/' ELSE '/a/' END,
      CAST(doc_id % 50 AS VARCHAR),
      CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END,
      CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&b=2&a=1'
           WHEN doc_id % 4 = 1 THEN '?a=1&b=2' ELSE '' END,
      CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END
    )
"""


def _synth_url() -> F.Column:
    d = F.col("doc_id")
    return F.concat(
        F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.col("source"),
        F.when(d % 5 == 0, F.lit(".EXAMPLE.com")).otherwise(F.lit(".example.com")),
        F.when(d % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit("//a/")).otherwise(F.lit("/a/")),
        (d % 50).cast("string"),
        F.when(d % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("?utm_source=x&b=2&a=1"))
        .when(d % 4 == 1, F.lit("?a=1&b=2"))
        .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#top")).otherwise(F.lit("")),
    )


# Shared canonicalization CTE chain (DuckDB): the same step-named
# normalization as operators/web.canonical_url, carrying n_chars through
# for consumers that rank on it. Prefixed by "WITH" at each use site.
_CANON_CTES = f"""
    urls AS (
      SELECT doc_id, n_chars, {_URL_SYNTH_DUCK} AS url FROM documents
    ), parts AS (
      SELECT doc_id, n_chars,
             regexp_replace(url, '#.*$', '') AS no_frag
      FROM urls
    ), parts2 AS (
      SELECT doc_id, n_chars,
             regexp_replace(no_frag, '\\?.*$', '') AS base,
             CASE WHEN contains(no_frag, '?')
                  THEN regexp_replace(no_frag, '^[^?]*\\?', '') ELSE '' END AS q
      FROM parts
    ), parts3 AS (
      SELECT doc_id, n_chars, q,
             lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(base, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      FROM parts2
    ), parts4 AS (
      SELECT doc_id, n_chars, q, scheme,
             lower(regexp_extract(rest, '^([^/]*)', 1)) AS hostport,
             regexp_replace(regexp_replace(rest, '^[^/]*', ''), '//+', '/', 'g') AS p1
      FROM parts3
    ), parts5 AS (
      SELECT doc_id, n_chars, q, scheme,
             CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                  WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
                  ELSE hostport END AS host,
             CASE WHEN p1 = '' THEN '/'
                  WHEN length(p1) > 1 THEN regexp_replace(p1, '/$', '')
                  ELSE p1 END AS path,
             array_to_string(list_sort(list_filter(string_split(q, '&'),
               p -> p != '' AND NOT starts_with(split_part(p, '=', 1), 'utm_')
                    AND split_part(p, '=', 1) != 'gclid'
                    AND split_part(p, '=', 1) != 'fbclid')), '&') AS qc
      FROM parts4
    ), canon AS (
      SELECT doc_id, n_chars,
             concat(scheme, '://', host, path,
                    CASE WHEN qc != '' THEN concat('?', qc) ELSE '' END)
               AS canonical_url
      FROM parts5
    )
"""


@register(
    "web_url_dedup",
    f"""
    WITH {_CANON_CTES}
    SELECT canonical_url,
           regexp_extract(regexp_extract(canonical_url, '^[a-z]+://([^/?#]*)', 1),
                          '([^.]+\\.[^.]+)$', 1) AS domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS kept_id
    FROM canon GROUP BY canonical_url
    """,
    doc=(
        "URL-level dedup on the CANONICAL form (operators/web."
        "canonical_url + url_dedup_groups; C4/RefinedWeb precedent — "
        "web pipelines dedupe on canonical URLs before any content "
        "pass): lowercase scheme/host, default ports stripped, "
        "fragments dropped, duplicate slashes collapsed, trailing "
        "slash stripped, tracking params (utm_*, gclid, fbclid) "
        "dropped, remaining params sorted. The fixture plants every "
        "one of those variant classes via doc_id-residue noise, so the "
        "groups prove each rule fires. Scale shape: canonicalization "
        "is narrow in-scan expressions (no UDF), dedup is ONE "
        "map-side-combined groupBy on the canonical key — the cheapest "
        "dedup in the stack, which is why real pipelines run it first. "
        "Exact DuckDB oracle (the same normalization, step-named CTEs)."
    ),
)
def web_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.web import url_dedup_groups

    docs = _t(spark, sf_dir, "documents").select("doc_id", _synth_url().alias("url"))
    return url_dedup_groups(docs, url_col="url", id_col="doc_id")


_QUOTA = 40


@register(
    "web_domain_quota",
    f"""
    WITH rows AS (
      SELECT concat(source, '.example.com') AS domain, doc_id,
             CAST(n_chars AS DOUBLE) AS ord
      FROM documents
    ), ranked AS (
      SELECT domain, doc_id, ord,
             row_number() OVER (PARTITION BY domain
                                ORDER BY ord DESC, doc_id ASC) AS r
      FROM rows
    ), kept AS (
      SELECT domain, CAST(count(*) AS BIGINT) AS n_kept,
             round(min(ord), 6) + 0.0 AS min_kept_order
      FROM ranked WHERE r <= {_QUOTA} GROUP BY domain
    ), totals AS (
      SELECT domain, CAST(count(*) AS BIGINT) AS n_total FROM rows GROUP BY domain
    )
    SELECT t.domain, t.n_total,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.n_total - coalesce(k.n_kept, 0) AS BIGINT) AS n_dropped,
           k.min_kept_order
    FROM totals t LEFT JOIN kept k ON k.domain = t.domain
    """,
    doc=(
        "Per-domain contribution cap (operators/web.domain_quota_report; "
        "the RefinedWeb quota): keep the best {quota} documents per "
        "domain by (n_chars DESC, doc_id ASC) and report "
        "total/kept/dropped + the kept floor per domain — the frame a "
        "curation run logs before materializing the kept set. The "
        "fixture's 5 domains each own ~corpus/5 documents (maximally "
        "hot keys), which is exactly why the keep decision is the "
        "salted TWO-PHASE top-k (the bm25_topk ranking pattern) — a "
        "window partitioned by domain alone would funnel a "
        "template-heavy host's whole row set through one task (the "
        "Zipf window trap). Totals are a map-side-combined groupBy "
        "joined on the domain-count-sized frame. Exact DuckDB oracle "
        "(plain window form — the oracle can afford the funnel)."
    ).replace("{quota}", str(_QUOTA)),
)
def web_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.web import domain_quota_report

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
        "doc_id",
        "n_chars",
    )
    return domain_quota_report(
        docs, domain_col="domain", quota=_QUOTA, order_col="n_chars"
    )


_PSL_RULES = ["com", "co.uk", "uk"]


@register(
    "web_psl_domains",
    f"""
    WITH psl(suffix) AS (VALUES {", ".join(f"('{r}')" for r in _PSL_RULES)}),
    hosts AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN concat('a.b.', source, '.co.uk')
               WHEN 1 THEN concat(source, '.COM')
               WHEN 2 THEN concat('x.', source, '.example')
               ELSE 'localhost' END AS host
      FROM documents
    ), lab AS (
      SELECT doc_id, host, string_split(lower(host), '.') AS ls FROM hosts
    ), cand AS (
      SELECT doc_id, k,
             array_to_string(ls[len(ls) - k + 1 :], '.') AS suffix
      FROM lab, unnest(range(1, least(len(ls) - 1, 4) + 1)) AS t(k)
      WHERE len(ls) >= 2
    ), hit AS (
      SELECT c.doc_id, max(c.k) AS k
      FROM cand c JOIN psl p ON c.suffix = p.suffix
      GROUP BY c.doc_id
    ), fin AS (
      SELECT l.doc_id, l.host, l.ls, coalesce(h.k, 1) AS k
      FROM lab l LEFT JOIN hit h ON l.doc_id = h.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, host,
           CASE WHEN len(ls) >= k + 1
                THEN array_to_string(ls[len(ls) - k :], '.')
                ELSE '' END AS registered_domain
    FROM fin
    """,
    doc=(
        "Public-Suffix-List registered domains (operators/web."
        "psl_registered_domain; publicsuffix.org — the list "
        "Mozilla/Chromium ship): the registered domain is one label "
        "more than the LONGEST matching public suffix, so the fixture's "
        "a.b.<source>.co.uk resolves to <source>.co.uk under the "
        "'co.uk' rule (the naive two-label rule would wrongly say "
        "'co.uk' — both 'uk' and 'co.uk' are planted so longest-match "
        "is actually exercised), unmatched hosts fall back to the "
        "list's implicit '*' rule, single-label hosts yield ''. Plan "
        "shape: the lookup runs once per DISTINCT host (a hosts "
        "dimension, ≪ corpus), candidate suffixes are narrow array "
        "expressions (≤4 posexploded rows per host), the rule table is "
        "a broadcast hash join, and rows get their domain back via one "
        "host-keyed hash join. Exact DuckDB oracle (same algorithm, "
        "inline rule table)."
    ),
)
def web_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.web import psl_registered_domain

    d = F.col("doc_id")
    host = (
        F.when(d % 4 == 0, F.concat(F.lit("a.b."), F.col("source"), F.lit(".co.uk")))
        .when(d % 4 == 1, F.concat(F.col("source"), F.lit(".COM")))
        .when(d % 4 == 2, F.concat(F.lit("x."), F.col("source"), F.lit(".example")))
        .otherwise(F.lit("localhost"))
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", host.alias("host"))
    psl = spark.createDataFrame([(r,) for r in _PSL_RULES], "suffix string")
    return psl_registered_domain(docs, "host", psl).select(
        "doc_id", "host", "registered_domain"
    )


_FUNNEL_QUOTA = 40


@register(
    "web_curation_funnel",
    f"""
    WITH {_CANON_CTES},
    kept AS (
      SELECT min(doc_id) AS doc_id FROM canon GROUP BY canonical_url
    ), url_level AS (
      SELECT c.doc_id, c.n_chars,
             regexp_extract(c.canonical_url, '^[a-z]+://([^/?#]*)', 1) AS domain
      FROM canon c JOIN kept k ON c.doc_id = k.doc_id
    ), ranked AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id ASC) AS r
      FROM url_level
    ), counts AS (
      SELECT (SELECT count(*) FROM documents) AS n0,
             (SELECT count(*) FROM url_level) AS n1,
             (SELECT count(*) FROM ranked WHERE r <= {_FUNNEL_QUOTA}) AS n2
    )
    SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_removed AS BIGINT) AS n_removed, pct_kept
    FROM (
      SELECT 0 AS stage_idx, 'raw' AS stage, n0 AS n_docs, 0 AS n_removed,
             CASE WHEN n0 > 0 THEN round(1.0, 6) + 0.0 END AS pct_kept
      FROM counts
      UNION ALL
      SELECT 1, 'url_deduped', n1, n0 - n1,
             CASE WHEN n0 > 0 THEN round(CAST(n1 AS DOUBLE) / n0, 6) + 0.0 END
      FROM counts
      UNION ALL
      SELECT 2, 'domain_capped', n2, n1 - n2,
             CASE WHEN n0 > 0 THEN round(CAST(n2 AS DOUBLE) / n0, 6) + 0.0 END
      FROM counts
    ) t
    """,
    doc=(
        "The URL-level curation funnel (plans/curation.curate_corpus "
        "stage 0; C4/RefinedWeb run these gates FIRST because they are "
        "the cheapest in the stack): raw corpus → canonical-URL dedup "
        "(operators/web.url_dedup_groups — one map-side-combined "
        "groupBy on the in-scan canonical key) → per-domain quota "
        "(operators/web.domain_quota_filter — the salted two-phase "
        f"top-k, keep the {_FUNNEL_QUOTA} longest docs per canonical "
        "host), reported as (stage_idx, stage, n_docs, n_removed, "
        "pct_kept) in the data_curation_funnel shape. r11 optimization "
        "(guide §1.2 — don't compute what you throw away; §2.3/§2.4): "
        "the report needs COUNTS only, and the quota's keep rule is "
        "row_number ≤ q over a deterministic total order, which keeps "
        "EXACTLY least(q, n_urls) rows per domain regardless of the "
        "ordering — so n2 = Σ_domain least(quota, n_urls) needs no "
        "window at all. One subtree: groupBy(canonical_url) carries "
        "the group size (n0 = Σ sizes, n1 = group count), a second "
        "groupBy(domain) rolls the URL dimension up, and one 1-row "
        "aggregate emits all three counts — 1 parquet scan (r10: 2), "
        "3 exchanges (r10: 6), no joins, identical counts by "
        "construction (the r10 window form is pinned row-equal in "
        "tests). Exact DuckDB oracle sharing the canonicalization CTE "
        "chain with web_url_dedup; the oracle keeps the plain window "
        "form, so the least(q, n) equivalence is oracle-checked too."
    ),
)
def web_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_s3_to_redshift_spark.operators.web import canonical_url

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url().alias("url")
    )
    # ONE corpus pass, one subtree (VERDICT r10 #2): the canonical-URL
    # groupBy produces each group's size; a domain rollup of that URL
    # dimension then carries every number the report needs. n0 = Σ group
    # sizes (== |documents|, the synth url is never null), n1 = URL
    # count, and n2 = Σ_domain least(quota, n_urls): the quota operator
    # (operators/web.domain_quota_filter) keeps the top-`quota` rows per
    # domain by row_number over a deterministic TOTAL order, i.e.
    # exactly least(quota, n_urls) rows — the ordering decides WHICH
    # urls survive, never HOW MANY, and the funnel reports how many.
    # (Row-equality of this arithmetic form vs the materialized
    # quota-filter count is pinned in
    # tests/test_web.py::test_quota_kept_count_is_least_quota_nurls and
    # ::test_curation_funnel_matches_materialized_quota; the DuckDB
    # oracle still computes n2 through the plain window.)
    groups = (
        docs.select("doc_id", canonical_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    dom = (
        groups.select(
            "__n",
            F.regexp_extract(
                F.col("canonical_url"), "^[a-z]+://([^/?#]*)", 1
            ).alias("domain"),
        )
        .groupBy("domain")
        .agg(
            F.sum("__n").cast("long").alias("rows_n"),
            F.count(F.lit(1)).cast("long").alias("urls_n"),
        )
    )
    one = dom.agg(
        F.sum("rows_n").cast("long").alias("n0"),
        F.sum("urls_n").cast("long").alias("n1"),
        F.sum(F.least(F.lit(_FUNNEL_QUOTA).cast("long"), F.col("urls_n")))
        .cast("long")
        .alias("n2"),
    )
    c = [F.col("n0"), F.col("n1"), F.col("n2")]
    names = ["raw", "url_deduped", "domain_capped"]
    structs = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("stage_idx"),
                F.lit(names[i]).alias("stage"),
                c[i].cast("long").alias("n_docs"),
                (c[i - 1] - c[i] if i else F.lit(0)).cast("long").alias(
                    "n_removed"
                ),
                F.when(
                    c[0] > 0,
                    F.round(c[i].cast("double") / c[0].cast("double"), 6)
                    + F.lit(0.0),
                ).alias("pct_kept"),
            )
            for i in range(3)
        ]
    )
    return one.select(F.explode(structs).alias("st")).select("st.*")
