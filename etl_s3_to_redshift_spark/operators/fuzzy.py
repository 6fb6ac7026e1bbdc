"""Fuzzy string matching via complement-key blocking + edit-distance
verify — the entity-resolution shape (match dirty strings against a clean
reference) done as equi-joins, never a cross product.

Reference anchor: the reference joins staging rows to dimensions on exact
keys only (/root/reference/sql_queries.py:144-151); fuzzy matching is the
north-star extension of that enrichment join to corrupted keys.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_s3_to_redshift_spark.operators.textops import _session_spill_regime

# Spill-regime star-exchange sizing: ~128 MB of row bytes per window sort
# task (guide §2.2), and a ceiling on the derived partition count.
_STAR_PARTITION_BYTES = 128 * 1024 * 1024
_STAR_PARTITIONS_MAX = 4096


def _segment_bounds(n_segments: int) -> list[tuple[str, str]]:
    """(start, length) SQL expressions for the i-th of n equal segments of
    a string column named ``__s`` (1-indexed, remainder to the last)."""
    bounds = []
    for i in range(n_segments):
        start = f"cast(floor(length(__s) * {i} / {n_segments}) as int) + 1"
        end = f"cast(floor(length(__s) * {i + 1} / {n_segments}) as int)"
        bounds.append((start, f"({end}) - ({start}) + 1"))
    return bounds


def blocked_substitution_join(
    probes: DataFrame,
    reference: DataFrame,
    probe_id: str,
    probe_col: str,
    ref_id: str,
    ref_col: str,
    max_dist: int = 1,
    n_segments: int = 3,
) -> DataFrame:
    """Match each probe string to reference strings within ``max_dist``
    substitution edits (same length, ≤ max_dist differing positions).

    Blocking: split each string into ``n_segments`` contiguous segments
    and emit one block key per segment — the COMPLEMENT of that segment
    (all other characters) plus the total length. A substitution edit
    corrupts exactly one segment, so for ``max_dist < n_segments`` every
    true pair shares at least one complement key verbatim (pigeonhole) —
    recall is exactly 1.0, proven, not probabilistic. Candidates then
    verify with ``levenshtein() <= max_dist``.

    Scale: candidate volume is Σ block², so it is governed by complement
    ENTROPY, not just corpus size. Each complement carries all but ~1/n
    of the string — pick ``n_segments`` so that every complement keeps
    enough discriminative characters. For ID-like strings (constant
    prefix + zero-padded number) coarse segments are a trap: one
    complement ends up holding only the constant region and its block
    swallows the corpus (measured: n=3 over 'Customer#000014999'-style
    names → one ~corpus-size block → Σ block² explodes quadratically).
    Finer segments fix it at negligible cost (explode ×n of id-sized
    rows): n=9 keeps ≥7 of 9 digits in every complement. Two shuffles:
    the block equi-join and the pair distinct. Same pigeonhole idea as
    dedup.simhash_pairs' bit blocks; for insert/delete edits (shifted
    positions break segment alignment) use shingle blocking
    (dedup.jaccard_pairs) instead.

    Returns (probe_id, ref_id, dist) with dist = levenshtein distance.
    """
    if max_dist >= n_segments:
        raise ValueError("pigeonhole needs max_dist < n_segments")

    def keyed(df: DataFrame, id_col: str, s_col: str, out_id: str) -> DataFrame:
        segs = []
        for start, length in _segment_bounds(n_segments):
            # complement of segment i = prefix before it + suffix after it
            segs.append(
                f"concat(substring(__s, 1, ({start}) - 1),"
                f" substring(__s, ({start}) + ({length})))"
            )
        arr = "array(" + ", ".join(segs) + ")"
        # hash the (complement, length) pair to a single 64-bit key: the
        # join then compares 8-byte longs instead of ~len-sized strings
        # and the exploded rows shed the complement text entirely
        # (measured ~25% wall at sf1). A hash collision can only ADD a
        # candidate — the explicit length filter + levenshtein verify
        # below keep the output exact.
        return (
            df.select(F.col(id_col).alias(out_id), F.col(s_col).alias("__s"))
            .select(out_id, "__s", F.posexplode(F.expr(arr)).alias("__seg", "__key"))
            .select(
                out_id,
                "__s",
                "__seg",
                F.xxhash64(F.col("__key"), F.length("__s")).alias("__kh"),
            )
        )

    p = keyed(probes, probe_id, probe_col, "__pid")
    r = keyed(reference, ref_id, ref_col, "__rid")
    # Deduplicate candidates BEFORE scoring: a true pair surfaces once per
    # intact segment (up to n_segments copies), and one distinct shuffle of
    # the candidate rows is measurably cheaper than running the O(len²)
    # levenshtein kernel on every copy (head-to-head at sf0.1: 2.3 s vs
    # 3.6 s score-first).
    cand = (
        p.alias("p")
        .join(
            r.alias("r"),
            (F.col("p.__seg") == F.col("r.__seg"))
            & (F.col("p.__kh") == F.col("r.__kh")),
        )
        .select(
            F.col("p.__pid").alias(probe_id),
            F.col("r.__rid").alias(ref_id),
            F.col("p.__s").alias("__ps"),
            F.col("r.__s").alias("__rs"),
        )
        .dropDuplicates([probe_id, ref_id])
    )
    # Thresholded levenshtein early-exits the O(len^2) DP once the running
    # distance exceeds max_dist (returns -1), so non-matches — the vast
    # majority of candidates — cost O(len * max_dist) instead. The length
    # equality restores the exact same-length substitution contract that
    # the pre-hash join carried as a third equi-key.
    return (
        cand.filter(F.length("__ps") == F.length("__rs"))
        .withColumn("dist", F.levenshtein("__ps", "__rs", max_dist))
        .filter(F.col("dist") >= 0)
        .select(probe_id, ref_id, F.col("dist").cast("int").alias("dist"))
    )


def substitution_clique_components(
    records: DataFrame,
    id_col: str,
    s_col: str,
    n_segments: int,
    driver_edges_max: int = 2_000_000,
) -> DataFrame:
    """(vertex, component) labeling of records under the relation
    "same length ∧ levenshtein ≤ 1" — WITHOUT materializing the pair
    list. For entity-grouping the pairs are consumed only for
    connectivity, and with UNIT segments every complement block is an
    exact clique, so a per-block star (member → block-min) is
    connectivity-equivalent to the full pair set:

      * pigeonhole (as in blocked_substitution_join): a single
        substitution corrupts exactly one segment, so every true pair
        shares ≥1 (segment-idx, complement, length) key — recall 1.0;
      * clique exactness: co-blocked strings have equal length and are
        identical outside one segment of length ≤ 1, hence Hamming
        distance ≤ 1 — EVERY co-blocked pair is a true pair (precision
        1.0 inside a block), no levenshtein verify needed. This is why
        the precondition length(s) ≤ n_segments is REQUIRED (longer
        strings get ≥2-char segments whose blocks are not cliques); it
        is enforced inside the scan via assert_true, costing no extra
        job.

    Replaces the block self-join + pair-dedup shuffle + levenshtein
    kernel of the pair path with ONE shuffle (the block-min window) —
    measured 4.1s → ~2.3s on the sf0.1 ER graph. Singletons produce no
    star edge and are absent from the labeling (callers left-join and
    coalesce, same contract as connected_components over pairs).

    In spill-regime sessions (shuffle partitions ≥ 96, the deployment-
    scale knob) the block-min window's exchange is re-sized from the
    input (guide §2.2: ~128 MB of row bytes per sort task) so the
    exact-key sort stays in memory instead of spilling — result-
    identical, plan-identical below the knob.
    """
    from etl_s3_to_redshift_spark.operators.components import connected_components

    star = _star_frame(records, id_col, s_col, n_segments)
    return connected_components(
        star, src="__id", dst="__bmin", driver_edges_max=driver_edges_max
    )


def _star_frame(
    records: DataFrame, id_col: str, s_col: str, n_segments: int
) -> DataFrame:
    """The (__id, __bmin) per-block star edges substitution_clique_
    components feeds to connected components — split out so tests and
    probes can inspect the star plan (the public function's output
    frame hides it behind the CC regime, e.g. a driver-union-find
    LogicalRDD)."""
    from pyspark.sql import Window

    segs = []
    for start, length in _segment_bounds(n_segments):
        segs.append(
            f"concat(substring(__s, 1, ({start}) - 1),"
            f" substring(__s, ({start}) + ({length})))"
        )
    arr = "array(" + ", ".join(segs) + ")"
    exploded = (
        records.select(F.col(id_col).alias("__id"), F.col(s_col).alias("__s"))
        # unit-segment precondition, checked inside the same projection
        .where(
            F.assert_true(
                F.length("__s") <= F.lit(n_segments),
                F.lit(
                    "substitution_clique_components requires "
                    "length(s) <= n_segments (unit segments); use "
                    "blocked_substitution_join for longer strings"
                ),
            ).isNull()
        )
        # the ACTUAL complement string (not a hash) keys the block: a hash
        # collision would silently merge unrelated components — here the
        # block key proves the clique property outright. TOTAL length must
        # ride the key too: a 0-length segment (strings shorter than
        # n_segments) makes the complement the whole string, which could
        # equal a longer string's complement verbatim.
        .select(
            "__id",
            F.length("__s").alias("__slen"),
            F.posexplode(F.expr(arr)).alias("__seg", "__comp"),
        )
        # Two-level sort key (VERDICT r9 #2): the block-min window sorts
        # ~n_records*n_segments rows, and with a LOW-CARDINALITY leading
        # key (__seg: n_segments values) the 8-byte sort-prefix
        # comparator ties on almost every comparison and falls through
        # to full-record compares against the ~string-length complement.
        # Leading with a 64-bit hash of the WHOLE block key gives
        # near-unique prefixes, so comparisons (and spill merges)
        # resolve in the prefix comparator. Collision-safe by
        # construction: the exact (__seg, __comp, __slen) triple stays
        # in the partition spec, so a hash collision changes nothing
        # about which rows share a block — only sort-comparison order.
        .withColumn("__ch", F.xxhash64("__seg", "__comp", "__slen"))
    )
    # A singleton prefilter (aggregate block sizes on the 8-byte hash,
    # broadcast the multi-member hashes, window only the survivors) was
    # measured NEGATIVE here and deleted: sf10 star-only 38.5 s direct vs
    # 54.3 s prefiltered, sf100 full query 715.3 s vs 1003.6 s
    # (tools/logs/er_prefilter_ab_sf100_sparse.log, OPTIMIZATION_r11 §1).
    # Counting ~830M nearly-unique hashes has nothing to map-side
    # combine, so the histogram degenerates to a sort-spill of its own.
    if _session_spill_regime(records.sparkSession):
        # Scale-adaptive star-exchange sizing (r11, guide §2.2 — size
        # shuffle partitions so the window's external sort stays in
        # memory, ~100–128 MB of row bytes per task, instead of a
        # constant tuned for either local mode or one cluster). At the
        # sf100 protocol's 128 partitions the ~45 GB sort runs ~350 MB
        # per task and spills (GCLocker retry warnings all over the
        # log); re-deriving the count from the input size measured
        # star-only 421 → 363 s (ABBA means, same session —
        # tools/logs/er_star_partitions_sf100.log; full query
        # tools/logs/er_star_sizing_sf100.log). Spill-regime sessions
        # only (shuffle partitions ≥ 96): local runs (partitions =
        # cores) skip the extra count job and keep the r10 plan
        # byte-identical. Only ever RAISES the session's partition
        # count — a deployment that already sized partitions generously
        # is respected. The explicit repartition carries the window's
        # exact partition keys, so the window adds no second exchange
        # on top of it.
        n_rows = records.count() * int(n_segments)
        # unsafe-row footprint: ~48 B fixed (null bitmap, id, seg,
        # slen, hash, string offsets) + the complement bytes (≤ slen ≤
        # n_segments)
        est_bytes = n_rows * (48 + int(n_segments))
        # an int: the spill-regime check above already parsed it
        cur = int(records.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        n_parts = min(
            _STAR_PARTITIONS_MAX,
            max(1, math.ceil(est_bytes / _STAR_PARTITION_BYTES)),
        )
        if n_parts > cur:
            exploded = exploded.repartition(n_parts, "__ch", "__seg", "__comp", "__slen")
    w = Window.partitionBy("__ch", "__seg", "__comp", "__slen")
    return (
        exploded.select("__id", F.min("__id").over(w).alias("__bmin"))
        .filter(F.col("__id") != F.col("__bmin"))
    )
