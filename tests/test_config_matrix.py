"""Config-robustness matrix over the registered queries whose machinery
has config-sensitive history.

Each query must produce IDENTICAL canonical results under three
adversarial SQL configs, compared against the same session's default
run:

- ``spark.sql.exchange.reuse=false`` — the two-pass prefix operator
  (supplier_pareto_revenue, hist_equidepth_deciles) originally relied
  on the range Exchange being reused between its local-rank and
  offset branches; without reuse the branches could sample DIFFERENT
  range boundaries and silently misalign (ADVICE r5). The fix pins the
  ranged frame with an eager localCheckpoint; this matrix keeps that
  class of bug from shipping again in ANY query.
- ``spark.sql.adaptive.enabled=false`` — AQE rewrites join strategies
  and coalesces partitions at runtime; results must not depend on it
  (q18's SHUFFLE_HASH hint must hold with AQE off too).
- ``spark.sql.ansi.enabled=true`` — implicit-cast laxness must not be
  load-bearing (the PSI string-bucket bug class, ADVICE r5).

Comparison uses the same exact string canonicalization as
tools/check_oracle.py (order-insensitive, trailing-zero-normalized
decimals), so "identical" means driver-gate identical, not approx.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

from etl_s3_to_redshift_spark.queries import REGISTRY, _load_extensions

_load_extensions()

# The config-sensitive machinery each query pins:
#   two-pass prefix (ranged-exchange pin), iterative CC + clique
#   contraction, banded LSH bucket join, BPE train->apply with
#   checkpoint cuts, per-iteration checkpointed PageRank, the q18
#   SHUFFLE_HASH hint, and a plain agg baseline.
MATRIX_QUERIES = [
    "q1_pricing_summary",
    "q18_large_orders",
    "supplier_pareto_revenue",
    "hist_equidepth_deciles",
    "graph_pagerank_nations",
    "entity_groups_fuzzy",
    "dedup_minhash_lsh",
    "text_bpe_tokenize",
    # round-6 curation additions: DSIR rides a DISK_ONLY-checkpointed
    # tf frame + scalar collect; SemDeDup a checkpointed cell
    # assignment + per-group Arrow kernel — both classes this matrix
    # exists to pin (checkpoint cuts, grouped-kernel determinism)
    "data_dsir_weights",
    "dedup_semantic_clusters",
    # round-6 third batch: perplexity buckets ride interpolated
    # percentile boundaries (the grid-rounding fix class) and an ANSI-
    # sensitive unigram model; prototypes share SemDeDup's checkpointed
    # quantizer plus a cluster-partitioned rank window; exact-substring
    # coverage is a lag-window interval union over a hash-keyed join
    "text_perplexity_buckets",
    # the raw-scan n_total is exactly sum(tf) only with the text col
    # coalesced (legacy size(NULL) = -1 — the ansi_off variant's reason)
    "text_unigram_logprob",
    "emb_prototypes_prune",
    "dedup_exact_substrings",
    # round-6 fourth batch: the token budget rides exact-DECIMAL div/mod
    # under ANSI; k-center picks its centers on the driver and emits a
    # lazy Spark frame over them (size(NULL) and rounding must agree
    # between the two under every variant)
    "data_token_budget",
    "emb_kcenter_coreset",
    # round-6 fifth batch: BM25's decimal score sums ride double/decimal
    # casts under ANSI and a 1-row BNLJ AQE likes to rewrite; the funnel
    # chains both window classes (content-hash keep-first, per-doc
    # coverage lag) behind a conditional-count aggregate
    "text_bm25_topk",
    "data_curation_funnel",
    # heavy hitters' whole design claim is partition-layout independence
    # (the sketch prunes, exact counts decide) — the matrix is the
    # mechanical check of that claim
    "approx_heavy_hitters",
    # hybrid RRF chains both retrieval legs' determinism contracts
    # (decimal BM25 sums, rounded cosine ranks) through a full-outer
    # rank join — the composition is what the matrix pins here
    "sim_hybrid_rrf",
]

VARIANTS = {
    "exchange_reuse_off": {"spark.sql.exchange.reuse": "false"},
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "ansi_on": {"spark.sql.ansi.enabled": "true"},
    # Spark 4 defaults ANSI ON, so the adversarial direction is OFF:
    # legacy semantics flip several scalar edge cases (size(NULL) = -1,
    # silent-NULL casts) that must not be load-bearing (ADVICE r7: the
    # unigram n_total scan skewed under ansi_off until its text col was
    # coalesced).
    "ansi_off": {"spark.sql.ansi.enabled": "false"},
}


def _canon_rows(df):
    from tools.check_oracle import canon_df

    return canon_df(df.toPandas())


def _run(spark, name):
    return _canon_rows(REGISTRY[name].spark(spark, SF_SMOKE))


@pytest.fixture(scope="module")
def baselines(spark):
    return {name: _run(spark, name) for name in MATRIX_QUERIES}


@pytest.mark.parametrize("variant", sorted(VARIANTS))
@pytest.mark.parametrize("name", MATRIX_QUERIES)
def test_query_invariant_under_config(spark, baselines, name, variant):
    confs = VARIANTS[variant]
    olds = {}
    for k, v in confs.items():
        try:
            olds[k] = spark.conf.get(k)
        except Exception:
            olds[k] = None
        spark.conf.set(k, v)
    try:
        got = _run(spark, name)
    finally:
        for k, old in olds.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)
    want = baselines[name]
    assert len(got) == len(want), (
        f"{name} under {variant}: {len(got)} rows vs {len(want)} baseline"
    )
    assert got == want, f"{name} result changed under {variant}"
