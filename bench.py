"""Benchmark harness — the driver runs this per-round at sf0.1.

Runs the headline queries on local[$SPARK_GRAFT_CPUS] against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The driver records only the LAST 2000 chars of stdout (BENCH_r03.json
was truncated to parsed:null when the 72-query line outgrew that), so
the printed line is hard-capped: the full per-query map always goes to
BENCH_DETAIL.json next to this script, and the stdout "queries" map
carries as many entries as fit under the cap, slowest first (the perf-
relevant tail), with "queries_omitted" counting the rest.

Each query is fully materialized via the noop sink (all partitions
computed, nothing shipped to the driver) — measuring engine throughput,
not toPandas serialization.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_s3_to_redshift_spark.queries import (  # noqa: E402
    REGISTRY,
    _load_extensions,
    index_cache_dir,
)
from etl_s3_to_redshift_spark.session import get_spark  # noqa: E402

_load_extensions()

# Headline set: the scan/join/agg-heavy queries that dominate real use.
# Extended as operators land; cheap O(1)-output probes are excluded.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "r2_broadcast_enrich",
    "w1_top_orders_per_customer",
    "w2_running_user_value",
    "t1_hourly_event_rollup",
    "sessionize_events",
    "r4_distinct_projection",
    "r9_top_k",
    "dedup_exact_docs",
    "sim_topk_cosine",
    "text_quality",
    "text_fingerprint",
    "stream_tumbling_events",
    "stream_session_window",
    "mm_binary_features",
    "asof_last_purchase",
    "range_join_shipments",
    "pivot_event_counts",
    "udf_minmax_normalize",
    "text_tfidf_topterms",
    "sim_topk_cosine_fast",
    "q4_order_priority_check",
    "q6_revenue_forecast",
    "q10_top_returners",
    "q14_promo_share",
    "q18_large_orders",
    "cube_order_stats",
    "sql_api_min_cost_supplier",
    "q7_nation_trade_volume",
    "q8_market_share",
    "q9_product_profit",
    "q12_late_shipment_priority",
    "q13_order_count_distribution",
    "q15_top_revenue_supplier",
    "q16_supplier_part_count",
    "q17_small_quantity_revenue",
    "q19_bracketed_revenue",
    "q21_waiting_supplier",
    "q22_dormant_value_customers",
    "q11_important_part_value",
    "q20_prolific_part_suppliers",
    "ts_gapfill_hourly",
    "fuzzy_customer_match",
    "emb_label_centroids",
    "agg_corr_regression",
    "w4_value_range_frames",
    "grouping_sets_orders",
    "rollup_incremental_merge",
    "data_source_mixture",
    "funnel_user_conversion",
    "cohort_retention_weekly",
    "event_transition_matrix",
    "text_vocab_topk",
    "text_unigram_logprob",
    "scd2_customer_history",
    "text_pii_scrub",
    "text_bigram_topk",
    "ts_interpolate_linear",
    "data_weighted_sample",
    "ts_anomaly_zscore",
    "attr_multi_touch",
    "mm_audio_windows",
    "data_split_leakage",
    "sim_ann_lsh",
    "dedup_containment",
    "w7_sliding_distinct_users",
    "agg_mode_median",
    "w6_topk_with_ties",
    "w8_moving_median",
    "text_zipf_fit",
    "basket_copurchase_pairs",
    "customer_rfm_segments",
    "graph_pagerank_nations",
    "w9_longest_daily_streak",
    "text_chunk_windows",
    "ts_decompose_hourly",
    "ts_inflight_shipments_daily",
    "entity_groups_fuzzy",
    "text_bigram_logprob",
    "events_top_paths",
    "basket_association_rules",
    "ts_seasonal_anomalies",
    "data_group_aware_split",
    "dq_orders_expectations",
    # round-5 additions: the scale-hardened prefix-sum pair, the exact
    # equi-depth histogram (no global window since r5), and the Arrow-
    # signature LSH already above; hist/pareto exercise ranked_running
    "orders_yoy_growth",
    "supplier_pareto_revenue",
    "hist_equidepth_deciles",
    "text_bpe_tokenize",  # train->apply tokenizer loop (vocab-memoized)
    "dq_drift_psi",  # PSI snapshot-drift audit (bucket-frame-bounded)
    # round-6 additions (this session): DSIR importance weights,
    # contrastive hard negatives, trigram first-occurrence novelty,
    # SemDeDup cluster-then-prune
    "data_dsir_weights",
    "emb_hard_negatives",
    "text_ngram_novelty",
    "dedup_semantic_clusters",
    # round-6 second batch: bitext margin mining (all-pairs Arrow
    # kernel + penalty windows), its LSH-shortlist lake-scale variant,
    # and the Gopher rule gate (narrow scan)
    "emb_bitext_margin",
    "emb_bitext_margin_ann",
    "text_gopher_rules",
    # round-6 third batch: C4 cleaning gate (narrow scan), overlapping
    # exact-substring coverage (two linear shuffles), CCNet perplexity
    # buckets (unigram model + per-lang percentile join), SSL-prototypes
    # pruning (quantizer + broadcast-centroid cosine + cluster windows)
    "text_c4_rules",
    "dedup_exact_substrings",
    "text_perplexity_buckets",
    "emb_prototypes_prune",
    # round-6 fourth batch: token-budget mixture (groupBy + broadcast
    # quota + per-source running sum), CCNet line-hash keep-first dedup
    # (two linear shuffles), greedy k-center coreset (k one-row
    # driver round-trips over a checkpointed narrow frame)
    "data_token_budget",
    "dedup_lines_keepfirst",
    "emb_kcenter_coreset",
    # tokenizer fertility/compression report (train 16 merges + vocab-
    # memoized apply + slice groupBy — the text_bpe_tokenize pipeline
    # rolled up per corpus slice)
    "text_tokenizer_report",
    # round-6 fifth batch: BM25 lexical retrieval (semi-joined postings
    # + 1-row stats broadcast + two-phase top-k), the end-to-end
    # curation funnel (gates fused into one scan + coverage shuffles
    # over survivors + one 5-count aggregate), and Misra-Gries heavy
    # hitters (bounded-memory mapInPandas sketch + exact rescore)
    "data_curation_funnel",
    "approx_heavy_hitters",
    # round-8: the amortized shape — probe a SAVED cell-partitioned
    # index (build once per lake, statically-pruned arrow rescore);
    # the first MEASURED points where the ANN path beats the brute
    # dense scan — plus the full hybrid stack riding it
    "sim_ann_ivf_saved",
    "sim_hybrid_rrf_ann_saved",
    "sim_ann_ivf_appended",
    "dedup_minhash_staged",
    # round-9: the sparse leg's amortized form (term-bucketed staged
    # postings probe) and the hybrid whose BOTH legs ride saved
    # structures — the recommended end-to-end retrieval plan
    "text_bm25_topk_staged",
    "sim_hybrid_rrf_staged",
    # round-9 second batch: web curation — canonical-URL dedup (narrow
    # in-scan normalization + one groupBy) and the per-domain quota
    # (salted two-phase top-k over maximally hot domain keys)
    "web_url_dedup",
    "web_domain_quota",
    # round-10: the composed URL-level funnel (dedup then quota, the
    # curate_corpus stage-0 path — C4/RefinedWeb order) and the PSL
    # registered-domain lookup (distinct-host dim + broadcast rule join)
    "web_curation_funnel",
    "web_psl_domains",
]

# Negative-control group (VERDICT r8 #2): inline one-shot shapes that are
# strictly dominated by their saved/staged twins at every measured point.
# They stay benched (1 rep, recorded in the detail file) so the inline-vs-
# amortized A/B history stays measurable, but they are OUT of the headline
# total — headline artifacts track recommended plans, and at 100x a
# per-query index rebuild is a full corpus scan nobody should ship.
NEGATIVE_CONTROL = [
    "sim_hybrid_rrf_ann",  # inline IVF retrain per call
    "dedup_minhash_lsh",   # 4x inline shingle re-derivation per call
    # round-10 demotions (VERDICT r9 #3): both are dominated at every
    # measured point by their staged twins (inline BM25 53 s vs probe
    # 2.3 s at sf100; brute hybrid 80.8 s vs all-saved 4.5 s) — exact
    # oracle baselines, kept registered and measurable, out of headline
    "text_bm25_topk",      # per-call full-corpus tokenize
    "sim_hybrid_rrf",      # brute dense leg + inline sparse leg
]


# Data-bound subset for sf>=1 passes: the scan/shuffle-heavy queries where
# data volume (not plan/codegen constants) dominates wall time — the set the
# 100x question is about. At sf0.1 constants dominate (SCALING.md:182), so
# the per-round BENCH runs everything; pointing SPARK_GRAFT_SF_DIR at an
# sf>=1 lake (tools/gen_sf1.py builds one) trims to this subset and
# best-of-2 so the pass stays minutes, not an hour.
DATA_BOUND = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q9_product_profit",
    "q18_large_orders",
    "q21_waiting_supplier",
    "w2_running_user_value",
    "t1_hourly_event_rollup",
    "sessionize_events",
    "dedup_exact_docs",
    "text_tfidf_topterms",
    "fuzzy_customer_match",
    "agg_corr_regression",
    "rollup_incremental_merge",
    "cohort_retention_weekly",
    "text_vocab_topk",
    "text_bigram_topk",
    "text_pii_scrub",
    "text_zipf_fit",
    "text_chunk_windows",
    "basket_copurchase_pairs",
    "customer_rfm_segments",
    "graph_pagerank_nations",
    "w9_longest_daily_streak",
    "ts_decompose_hourly",
    "ts_inflight_shipments_daily",
    "text_bigram_logprob",
    "basket_association_rules",
    "supplier_pareto_revenue",
    "hist_equidepth_deciles",
    "dq_drift_psi",
    "text_bpe_tokenize",
    # round-6: end-to-end ER via clique-contraction blocking + CC
    "entity_groups_fuzzy",
    # the chain-shaped ER graph: the sf100 wall query (VERDICT r11 #3)
    "entity_groups_sparse_chain",
    # round-6 additions: DSIR weights and trigram novelty are corpus-
    # scan text ops; hard-negative mining streams the corpus per query;
    # SemDeDup shuffles the corpus once into per-cluster gram kernels
    "data_dsir_weights",
    "emb_hard_negatives",
    "text_ngram_novelty",
    "dedup_semantic_clusters",
    # round-6 second batch: the Gopher gate is a pure corpus scan.
    # emb_bitext_margin is deliberately NOT here: its registered form is
    # exact all-pairs mining (|A|x|B| quadratic — the correctness
    # baseline); past sf0.1 the honest shape is the ANN-shortlist swap
    # documented in bitext_margin_pairs, not a quadratic bench point.
    "text_gopher_rules",
    # round-6 third batch: all four are corpus-linear — the C4 gate and
    # window-coverage audit scan/shuffle the corpus, perplexity buckets
    # ride the unigram-model shuffle, prototypes the quantizer assign
    "text_c4_rules",
    "dedup_exact_substrings",
    "text_perplexity_buckets",
    "emb_prototypes_prune",
    # round-6 fourth batch (all corpus-linear): token-budget mixture,
    # line-hash keep-first dedup, greedy k-center coreset (k bounded
    # scans — data-bound per scan)
    "data_token_budget",
    "dedup_lines_keepfirst",
    "emb_kcenter_coreset",
    "text_tokenizer_report",
    # round-6 fifth batch (corpus-linear): BM25 postings scan + query-
    # term shuffle; the funnel is two corpus scans + coverage shuffles;
    # heavy hitters one sketch scan + one candidate-count scan
    "text_bm25_topk",
    "data_curation_funnel",
    "approx_heavy_hitters",
    # hybrid fusion's dense leg is the brute-force broadcast scan (the
    # sim_topk_cosine class); corpus-linear, fusion join is rank-sized
    "sim_hybrid_rrf",
    # round-8: the lake shape MEASURED — saved-index probe, build
    # amortized out of the timed path (first rep builds, so best-of-2
    # records the warm probe; the detail file keeps both reps) — and
    # the hybrid fusion with its dense leg on that probe
    "sim_ann_ivf_saved",
    "sim_hybrid_rrf_ann_saved",
    "sim_ann_ivf_appended",
    "dedup_minhash_staged",
    # round-9: staged-BM25 probe and the all-saved hybrid (corpus-scan-
    # free retrieval: cost scales with the query terms, not the lake),
    # plus the corpus-linear web-curation pair
    "text_bm25_topk_staged",
    "sim_hybrid_rrf_staged",
    "web_url_dedup",
    "web_domain_quota",
    # round-10: corpus-linear like its two components
    "web_curation_funnel",
    "web_psl_domains",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Saved/staged-structure queries build their index at most once per lake
# into a deterministic scratch path (queries_ops11/_staged_minhash_path);
# a later process reuses it. That is the declared amortized contract, but
# it makes a cold-cache bench run and a warm-cache one silently different
# experiments (VERDICT r10 #4/#6) — so the detail artifact now records,
# per saved-structure query, whether its on-disk index existed BEFORE the
# query's first rep ("warm") or had to be built inside rep 1 ("cold").
# Publish markers: _CURRENT for SnapshotIndex layouts, _SUCCESS for the
# plain staged minhash table, _APPEND_DONE for the appended IVF and BM25
# twins (the staged _CURRENT exists before their append runs).
_INDEX_MARKERS = {
    "sim_ann_ivf_saved": [("ivf", "", "_CURRENT")],
    "sim_hybrid_rrf_ann_saved": [("ivf", "", "_CURRENT")],
    "sim_ann_ivf_appended": [("ivf", "_appended", "_APPEND_DONE")],
    "dedup_minhash_staged": [("ivf", "_minhash", "_SUCCESS")],
    "text_bm25_topk_staged": [("bm25", "", "_CURRENT")],
    "text_bm25_topk_appended": [("bm25", "_appended", "_APPEND_DONE")],
    "sim_hybrid_rrf_staged": [("bm25", "", "_CURRENT"), ("ivf", "", "_CURRENT")],
}


def _index_cache_state(name: str, sf_dir: str) -> str | None:
    """"warm"/"cold" for saved-structure queries (None otherwise): warm
    iff every index the query rides is already published on disk."""
    specs = _INDEX_MARKERS.get(name)
    if specs is None:
        return None
    for kind, suffix, marker in specs:
        if not os.path.exists(
            os.path.join(index_cache_dir(kind, sf_dir, suffix), marker)
        ):
            return "cold"
    return "warm"


# Paired-gate baseline (VERDICT r8 #4): cross-round BENCH totals compare
# across sessions, and byte-identical code measured ±10-15% host spread
# (SCALING.md drift study) — an unfalsifiable gate below that band. The
# fix is the same-session protocol the scaling A/Bs already use: load the
# LAST ROUND's registry from a detached git worktree of this tag, and for
# every common query alternate HEAD/PIN reps back-to-back in ONE Spark
# session. The per-query paired ratios share host state, so the gate's
# signal floor drops to per-rep jitter instead of cross-session drift.
# Bump the tag (git tag -f) when a round's bench artifact is finalized.
# Provenance (VERDICT r9 #4): tags MOVE — the artifact records the
# resolved SHA ("ref_sha") next to the name, so a reader can always tell
# exactly which commit the ratio was measured against. The tag must
# point at the PREVIOUS round's final commit when a round's bench is
# finalized (bench-r9-baseline -> be827db, r9-final). The tag NAME is
# derived from the newest BENCH_r{N}.json on disk (the previous round's
# artifact), so a new round needs no hand-bump here — only the retag.


def _paired_baseline_ref() -> str:
    import re as _re
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    # keep the matched FILENAME alongside the round (ADVICE r10 #2): the
    # fallback below must reopen exactly the file the scan found, not a
    # re-derived zero-padded name an unpadded artifact would not match
    artifacts = [
        (int(m.group(1)), f)
        for f in os.listdir(repo)
        if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", f))
    ]
    if not artifacts:
        return "bench-baseline"
    newest_round, newest_file = max(artifacts)
    tag = f"bench-r{newest_round}-baseline"
    probe = subprocess.run(
        ["git", "-C", repo, "rev-parse", "--verify", "--quiet", tag + "^{commit}"],
        capture_output=True,
        text=True,
    )
    if probe.returncode == 0:
        return tag
    # Tags do not travel with commits: a fresh clone/handoff of the repo
    # drops them (measured: the round-10 opt session found ZERO tags on
    # disk and the gate degraded to cross-session, loudly but wastefully).
    # Since r10 the stdout line carries "head_sha" — the commit the
    # previous round's bench was MEASURED AT — which is exactly the pin
    # the next round's gate wants; recover it from the artifact instead
    # of giving up. (paired.ref_sha is NOT a substitute: it records what
    # that round compared against, i.e. two rounds back.)
    art = os.path.join(repo, newest_file)
    try:
        with open(art) as f:
            parsed = json.load(f).get("parsed") or {}
        raw_sha = parsed.get("head_sha") or ""
        sha = raw_sha.split("+")[0] or None
        # a "+dirty" head_sha names a commit the measured tree had
        # uncommitted changes ON TOP of — still the best available pin,
        # but the gate ratio may be skewed; say so (ADVICE r10 #1)
        if sha and raw_sha != sha:
            print(
                f"WARNING: paired baseline pin recovered from a '+dirty' "
                f"head_sha in {newest_file}; the pinned commit may not "
                f"match the code that bench actually measured",
                file=sys.stderr,
            )
    except (OSError, ValueError):
        sha = None
    if sha:
        return sha
    # last resort: the committed round→final-SHA map (BENCH_r09.json and
    # older predate head_sha)
    try:
        with open(os.path.join(repo, "BENCH_BASELINES.json")) as f:
            sha = json.load(f).get(str(newest_round))
    except (OSError, ValueError):
        sha = None
    return sha or tag


PAIRED_BASELINE_REF = _paired_baseline_ref()


def _resolve_sha(ref: str) -> str | None:
    """Resolved commit SHA of ``ref`` (None for directory pins / unknown
    refs) — recorded in the paired artifact for provenance."""
    import subprocess

    if os.path.isdir(ref):
        return None
    probe = subprocess.run(
        [
            "git",
            "-C",
            os.path.dirname(os.path.abspath(__file__)),
            "rev-parse",
            "--verify",
            "--quiet",
            ref + "^{commit}",
        ],
        capture_output=True,
        text=True,
    )
    return probe.stdout.strip() or None if probe.returncode == 0 else None


def _pinned_registry(ref: str):
    """Load the pinned ref's query registry alongside HEAD's in this
    process: check out ``ref`` into a temp detached worktree, import its
    package under a temporarily-swapped sys.modules/sys.path, keep the
    registry object (its closures hold their own modules alive), then
    restore HEAD's modules. Returns (registry, cleanup_fn) or (None,
    None) when the ref doesn't resolve (fresh clone without the tag —
    the gate degrades to the old cross-session compare, loudly)."""
    import importlib
    import subprocess
    import tempfile

    repo = os.path.dirname(os.path.abspath(__file__))
    if os.path.isdir(ref):
        path, wt = ref, None
    else:
        probe = subprocess.run(
            ["git", "-C", repo, "rev-parse", "--verify", "--quiet", ref + "^{commit}"],
            capture_output=True,
            text=True,
        )
        if probe.returncode != 0:
            return None, None
        # drop registrations of earlier pin dirs that died mid-run
        subprocess.run(["git", "-C", repo, "worktree", "prune"], capture_output=True)
        path = tempfile.mkdtemp(prefix="bench_pin_")
        add = subprocess.run(
            ["git", "-C", repo, "worktree", "add", "--force", "--detach", path, ref],
            capture_output=True,
            text=True,
        )
        if add.returncode != 0:
            print(f"WARNING: paired worktree failed: {add.stderr[-300:]}", file=sys.stderr)
            return None, None
        wt = path

    pkg = "etl_s3_to_redshift_spark"
    saved = {k: v for k, v in sys.modules.items() if k.split(".")[0] == pkg}
    for k in saved:
        del sys.modules[k]
    sys.path.insert(0, path)
    try:
        q = importlib.import_module(f"{pkg}.queries")
        q._load_extensions()
        pinned = dict(q.REGISTRY)
    finally:
        sys.path.remove(path)
        for k in [k for k in sys.modules if k.split(".")[0] == pkg]:
            del sys.modules[k]
        sys.modules.update(saved)

    def cleanup() -> None:
        if wt is not None:
            subprocess.run(
                ["git", "-C", repo, "worktree", "remove", "--force", wt],
                capture_output=True,
            )

    return pinned, cleanup


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")

    data_bound_pass = sf >= 1
    source = DATA_BOUND if data_bound_pass else HEADLINE
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:  # debug subset: comma-separated query names
        source = [n for n in source if n in set(only.split(","))]
    names = [n for n in source if n in REGISTRY]
    missing = [n for n in source if n not in REGISTRY]
    if missing:
        print(f"WARNING: headline queries missing from registry: {missing}", file=sys.stderr)
    # warm the JVM + file-listing caches + Python/Arrow workers once
    materialize(REGISTRY[names[0]].spark(spark, sf_dir).limit(1))
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # 3 reps per query (2 at sf>=1 to keep the pass minutes-long): the
    # container shares its host (load avg ~3 while idle was measured),
    # which flaps single-shot wall times by up to 5× (round-2
    # measurement: back-to-back full runs spanned 18–28s total). The
    # REPORTED estimator is the per-query MEDIAN (VERDICT r5 item 6:
    # median separates noise from regression where a minimum hides both);
    # the detail file keeps every rep plus the min so the r1–r5 best-of
    # series stays comparable.
    # Paired gate: interleave a pinned-baseline rep immediately after
    # each HEAD rep of every common query (H,P,H,P,H,P) so the ratio is
    # same-session, same-host-state — see PAIRED_BASELINE_REF. Opt out
    # with SPARK_GRAFT_PAIRED=0; off at sf>=1 (that pass is about data
    # scaling, and doubling it would push the wall past the budget).
    paired_on = os.environ.get("SPARK_GRAFT_PAIRED", "1") != "0" and not data_bound_pass
    pinned, pin_cleanup = (None, None)
    if paired_on:
        pinned, pin_cleanup = _pinned_registry(
            os.environ.get("SPARK_GRAFT_PAIRED_REF", PAIRED_BASELINE_REF)
        )
        if pinned is None:
            print("WARNING: paired baseline unavailable; gate is cross-session only", file=sys.stderr)

    timings: dict[str, float] = {}
    all_reps: dict[str, list[float]] = {}
    pin_reps: dict[str, list[float]] = {}
    index_cache: dict[str, str] = {}
    reps = 2 if data_bound_pass else 3
    for name in names:
        ts = []
        ps = []
        pin_spec = pinned.get(name) if pinned else None
        state = _index_cache_state(name, sf_dir)
        if state is not None:
            index_cache[name] = state
        for _ in range(reps):
            t0 = time.time()
            materialize(REGISTRY[name].spark(spark, sf_dir))
            ts.append(round(time.time() - t0, 3))
            # isolate REPS, not just queries (VERDICT r10 #3): an
            # operator-internal persist (the kcenter base was one until
            # r11) otherwise survives into the next rep via CacheManager
            # plan-dedup, so reps 2..n measure a warm cache rep 1 never
            # had. clearCache after EVERY rep — head and pin alike, so
            # the paired ratio stays apples-to-apples under the new
            # protocol (declared in OPTIMIZATION_r11.md; r10 medians are
            # kept there for the old-protocol comparison).
            spark.catalog.clearCache()
            if pin_spec is not None:
                t0 = time.time()
                materialize(pin_spec.spark(spark, sf_dir))
                ps.append(round(time.time() - t0, 3))
                spark.catalog.clearCache()
        all_reps[name] = ts
        if ps:
            pin_reps[name] = ps
        # let the ContextCleaner reap lineage-truncating localCheckpoint
        # RDDs whose Python references just went out of scope — a
        # 100+-query session otherwise accumulates storage blocks that
        # bleed memory/disk pressure into later queries' timings
        gc.collect()
        ordered = sorted(ts)
        # median for odd reps; for 2 reps the min (matches the prior
        # BENCH_sf1_r03..r05 best-of-2 series)
        timings[name] = ordered[len(ordered) // 2] if reps % 2 else ordered[0]

    # negative-control group: the dominated inline shapes, 1 rep each,
    # OUT of the headline total (they exist so the inline-vs-amortized
    # A/B history stays measurable in the detail artifact)
    neg_control: dict[str, float] = {}
    if not data_bound_pass:
        for name in NEGATIVE_CONTROL:
            if name not in REGISTRY:
                continue
            t0 = time.time()
            materialize(REGISTRY[name].spark(spark, sf_dir))
            neg_control[name] = round(time.time() - t0, 3)
            spark.catalog.clearCache()
            gc.collect()

    if pin_cleanup is not None:
        pin_cleanup()

    paired = None
    if pin_reps:
        med = lambda xs: sorted(xs)[len(xs) // 2] if len(xs) % 2 else sorted(xs)[len(xs) // 2 - 1]  # noqa: E731
        head_tot = sum(med(all_reps[n]) for n in pin_reps)
        pin_tot = sum(med(ps) for ps in pin_reps.values())
        # noise floor: median across queries of each query's per-rep
        # paired-ratio spread — the band below which a total ratio says
        # nothing (states the gate's resolution next to its value)
        spreads = []
        for n, ps in pin_reps.items():
            rs = [h / p for h, p in zip(all_reps[n], ps) if p > 0]
            if len(rs) >= 2:
                spreads.append((max(rs) - min(rs)) / (sorted(rs)[len(rs) // 2]))
        ref_used = os.environ.get("SPARK_GRAFT_PAIRED_REF", PAIRED_BASELINE_REF)
        paired = {
            "ref": ref_used,
            "ref_sha": _resolve_sha(ref_used),
            "n_common": len(pin_reps),
            "head_sec": round(head_tot, 3),
            "pin_sec": round(pin_tot, 3),
            "ratio": round(head_tot / pin_tot, 4) if pin_tot else None,
            "noise": round(sorted(spreads)[len(spreads) // 2], 4) if spreads else None,
        }

    metric = "data_bound_queries_total_sec" if data_bound_pass else "headline_queries_total_sec"
    total = round(sum(timings.values()), 3)
    # the commit this bench measured (next round's paired-gate pin when
    # the tag goes missing — see _paired_baseline_ref); "+dirty" marks a
    # tree with uncommitted changes so a reader knows the SHA is approximate
    head_sha = _resolve_sha("HEAD")
    if head_sha:
        import subprocess

        # only CODE paths make the SHA approximate (ADVICE r10 #4): a
        # prior bench run rewrites tracked artifacts (BENCH_DETAIL.json,
        # PROGRESS.jsonl is harness-written too) — flagging those as
        # dirty would weaken the next round's head_sha pin even when the
        # measured code is exactly HEAD
        dirty = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
             "status", "--porcelain", "--untracked-files=no", "--",
             "*.py", "etl_s3_to_redshift_spark"],
            capture_output=True,
            text=True,
        ).stdout.strip()
        if dirty:
            head_sha += "+dirty"

    detail = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "estimator": "median_of_3" if reps == 3 else "best_of_2",
        "queries": timings,
        "reps": all_reps,
        "best": {n: min(ts) for n, ts in all_reps.items()},
        "sf": sf,
        "head_sha": head_sha,
    }
    if paired is not None:
        detail["paired"] = {**paired, "pin_reps": pin_reps}
    if neg_control:
        detail["negative_control"] = neg_control
    if index_cache:
        detail["index_cache"] = index_cache
    # the sf>=1 data-bound pass writes its own detail file so it can't
    # clobber the headline artifact (it did, once)
    detail_name = "BENCH_DETAIL_sf1.json" if data_bound_pass else "BENCH_DETAIL.json"
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), detail_name)
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
        f.write("\n")

    # stdout line, hard-capped under the driver's 2000-char tail capture:
    # slowest queries first so the perf-relevant entries always survive
    cap = 1900
    out = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "estimator": detail["estimator"],
        "queries": {},
        "queries_omitted": 0,
        "detail": detail_name,
        "sf": sf,
        "head_sha": head_sha,
    }
    if paired is not None:
        out["paired"] = paired
    if neg_control:
        out["neg_control_sec"] = round(sum(neg_control.values()), 2)
    by_time = sorted(timings, key=lambda n: (-timings[n], n))
    for i, name in enumerate(by_time):
        trial = dict(out)
        trial["queries"] = {**out["queries"], name: round(timings[name], 2)}
        trial["queries_omitted"] = len(timings) - i - 1
        if len(json.dumps(trial, separators=(",", ":"))) > cap:
            break
        out = trial
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
