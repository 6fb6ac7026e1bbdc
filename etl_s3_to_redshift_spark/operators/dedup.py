"""Deduplication operators for training-data pipelines.

Five tiers, all built on DataFrame primitives (no Python in any hot path):

1. ``exact_dedup``            — hash-groupBy on a normalized key.
2. ``jaccard_pairs``          — exact n-gram Jaccard via shingle inverted
                                index (the verify step of fuzzy dedup).
3. ``minhash_signatures`` /
   ``minhash_lsh_pairs``      — MinHash + banded LSH: candidate pairs in
                                sub-quadratic time, then exact verification.
4. ``simhash_signatures`` /
   ``simhash_pairs``          — 64-bit SimHash with block-rotation blocking
                                for Hamming-distance near-dups.
5. ``embedding_dup_pairs``    — cosine near-dups over an embedding column
                                (see operators/similarity.py for search).

Scale design (100 TB): every step is explode → hash-shuffle-on-key →
aggregate; nothing is quadratic except within an LSH bucket (bounded by
banding), and the only full-table joins are equi-joins on hash keys that
AQE can re-plan under skew. Hashes are xxhash64 (JVM intrinsic, seeded) —
no Python, no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from etl_s3_to_redshift_spark.functions.text import normalize_text, shingles, words
from etl_s3_to_redshift_spark.operators.blocking import pairs_within_buckets
from etl_s3_to_redshift_spark.sources.tables import _read_parquet


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Exact dedup: keep the lowest-id row per (normalized) content key,
    with a survivor count. One hash shuffle on the content key; map-side
    partial aggregation collapses per-partition duplicates first.

    Returns (doc_id, content_key, n_copies) — the keeper manifest. At
    100 TB dedup by manifest-join (semi-join on doc_id) rather than
    carrying full text through the shuffle.
    """
    key = normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    return (
        df.select(F.col(id_col), key.alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "content_key", "n_copies")
    )


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition on the id before explode-heavy work: a small input
    (one parquet file → one task) would otherwise run the whole
    shingle/hash pipeline on a single core. The partition count is explicit
    — an advisory ``repartition(col)`` lets AQE coalesce a few MB of
    documents into one partition by *input* size, blind to the 60×
    explode + hash amplification that follows (measured 10× slowdown).
    At lake scale the scan already has thousands of splits and this
    shuffle is noise; it also pre-keys the per-doc aggregations."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(id_col))


def _shingle_sets(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, sh array<string>) distinct shingle set per doc.

    The tokenization is materialized as its own projection BEFORE the
    shingle transform: inlining ``split`` into the transform lambda makes
    Catalyst re-evaluate it per shingle (measured 20× slower)."""
    dw = _spread(df, id_col).select(F.col(id_col), words(F.col(text_col)).alias("__w"))
    return dw.select(F.col(id_col), shingles(F.col("__w"), k).alias("sh"))


def _shingled(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, shingle) exploded inverted-index input; shingles distinct per doc.

    The shingle expression stays INLINE in the explode: exploding a
    materialized array column makes Catalyst's InferFiltersFromGenerate add
    a ``size(arr) > 0`` filter whose pushdown re-substitutes the whole
    tokenize+shingle pipeline below the repartition — computing it twice,
    on the unspread input (measured 10×). A complex generator input skips
    that inference."""
    dw = _spread(df, id_col).select(F.col(id_col), words(F.col(text_col)).alias("__w"))
    return dw.select(F.col(id_col), F.explode(shingles(F.col("__w"), k)).alias("shingle"))


def _drop_hot_shingles(sh: DataFrame, max_df: int | None) -> DataFrame:
    """Stop-shingle cap: remove shingles whose document frequency exceeds
    ``max_df`` before any posting-list self-join. A boilerplate shingle
    shared by 10⁶ docs would otherwise create a 10¹²-pair bucket; such a
    shingle carries no dedup signal (it separates nothing), so dropping
    it is the standard stop-word treatment applied to shingles. The DF
    aggregate is one map-side-combined groupBy on the shingle — far
    cheaper than the join it protects — and the anti-join applies it
    shingle-partitioned."""
    if max_df is None:
        return sh
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via inverted index.

    Candidate generation = self-join on shingle (only pairs sharing ≥1
    shingle are ever materialized — a pair with J ≥ t always shares
    shingles, so this finds every qualifying pair). Then
    J = |∩| / (|A|+|B|−|∩|) from exact counts.

    Quadratic only within a shingle's posting list; at scale run AFTER
    minhash_lsh_pairs to verify candidates instead of standalone, AND set
    ``max_df`` (stop-shingle document-frequency cap, applied by
    ``_drop_hot_shingles`` before the self-join) so one boilerplate
    shingle can't create a quadratic bucket. With the cap, sizes and
    intersections are both computed over the capped shingle space, so
    the score stays a true Jaccard of the reduced sets.
    """
    # sh is consumed twice (sizes + self-join); recompute instead of
    # cache() — an operator-internal cache can never be unpersisted by the
    # caller and would pin executor memory for the session lifetime.
    sh = _drop_hot_shingles(_shingled(df, text_col, id_col, k), max_df)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col(f"a.shingle") == F.col(f"b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    # sizes is one row per doc — corpus-scale, so NO pinned broadcast: AQE
    # replicates it while it fits and shuffle-joins beyond (the pair set is
    # already hashed by id, so these are cheap co-partitioned joins).
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def _sig_cols(num_hashes: int, sh_col: str = "sh") -> list[str]:
    """num_hashes MinHash projections over a per-doc shingle-array column,
    as SQL text for one ``selectExpr``:
    h_i = array_min(transform(sh, s -> xxhash64(i, s))), the seed an INT
    literal. Narrow — no explode, no aggregate; the hashing happens inside
    the row. Text, not Columns: a Column-built ``transform`` costs a few
    Py4J calls per hash to create its lambda variable."""
    return [
        f"array_min(transform(`{sh_col}`, s -> xxhash64({i}, s))) AS h{i}"
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """MinHash signatures: h_i(doc) = min over shingles of
    xxhash64(seed_i, shingle), computed per-row over the doc's shingle
    array (array_min ∘ transform) — all JVM hashing, ZERO shuffles after
    the parallelism spread. The explode → 32-way min-aggregate formulation
    produces bit-identical signatures and near-identical sf0.1 wall time
    (~0.6s vs ~0.7s head-to-head), but it hash-partitions ~60× the rows
    (one per shingle) through an aggregation exchange; the per-row form is
    a narrow map, so it scales with input bytes instead of shingle count.

    Returns (id, h0..h{n-1}).
    """
    sets = _shingle_sets(df, text_col, id_col, k)
    return sets.selectExpr(f"`{id_col}`", *_sig_cols(num_hashes))


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify: bool = True,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, optionally exactly verified.

    bands=8 × rows=4 over 32 hashes → catch probability 1-(1-J⁴)⁸
    (≈0.99 at J=0.8, ≈0.39 at J=0.5); tune bands/num_hashes per threshold.

    Pipeline: shingle sets → per-row signatures → per-band bucket key =
    xxhash64(band hashes) → self-join on (band, bucket) → distinct
    candidate pairs → exact Jaccard verification (join the same shingle
    sets back to each side). Only bucket-mates are ever compared:
    sub-quadratic end-to-end. One shingle computation feeds both the
    signature and the verify branch; only ids+buckets (16 B/row) flow
    through the candidate shuffle, never the shingle arrays.

    Note Spark re-executes the shingle subtree per physical join branch
    (no subplan sharing). Single-node that's a measured wash (scan is
    page-cached, shingling parallelizes), so no operator-internal
    localCheckpoint — it would pin executor storage and break lineage
    recovery. At 100 TB use the staged form: ``stage_minhash`` writes
    (id, sh, h*) once, ``minhash_lsh_pairs_staged`` runs banding + verify
    as column-pruned scans of that table — identical output, shingles
    computed exactly once (pinned in tests).
    """
    sets = _shingle_sets(df, text_col, id_col, k)
    staged = sets.selectExpr(f"`{id_col}`", "sh", *_sig_cols(num_hashes))
    return _lsh_pairs_from(staged, threshold, id_col, num_hashes, bands, verify)


def stage_minhash(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
) -> None:
    """Materialize the MinHash staging table ONCE: (id, shingle set,
    h0..h{n-1}) as parquet at ``path`` (any Hadoop-visible URI — local,
    S3A, HDFS).

    This is the 100 TB form of minhash_lsh_pairs: Spark has no subplan
    sharing, so the inline pipeline physically recomputes the
    tokenize→shingle→hash subtree in all four join branches. Staging pays
    one full computation plus one write, and every downstream branch
    becomes a column-pruned parquet scan (banding reads id+h*, verify
    reads id+sh). Explicit caller-side materialization — not a
    lineage-breaking cache/checkpoint hidden inside the operator; the
    staged table is also the natural incremental seam (append new docs,
    re-run banding)."""
    sets = _shingle_sets(df, text_col, id_col, k)
    sets.selectExpr(f"`{id_col}`", "sh", *_sig_cols(num_hashes)).write.mode(
        "overwrite"
    ).parquet(path)


def minhash_lsh_pairs_staged(
    spark,
    path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    bands: int = 8,
    verify: bool = True,
) -> DataFrame:
    """Banded-LSH candidate + verify pipeline over a ``stage_minhash``
    table: identical output to ``minhash_lsh_pairs`` (same hashes, same
    banding, same exact-Jaccard verify — pinned in tests), but every
    branch reads the staged parquet instead of re-deriving shingles from
    text. ``num_hashes`` is inferred from the staged schema."""
    staged = _read_parquet(spark, path)
    num_hashes = sum(1 for c in staged.columns if c.startswith("h") and c[1:].isdigit())
    return _lsh_pairs_from(staged, threshold, id_col, num_hashes, bands, verify)


def _band_keys(
    sig_frame: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) LSH band keys from a (id, ..., h0..h{n-1})
    frame: bucket = xxhash64 of the band's signature rows. One
    ``selectExpr`` for all bands."""
    rows_per_band = num_hashes // bands
    band_structs = ", ".join(
        f"struct({b} AS band, xxhash64("
        + ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        + ") AS bucket)"
        for b in range(bands)
    )
    return sig_frame.selectExpr(
        f"`{id_col}`", f"explode(array({band_structs})) AS bb"
    ).selectExpr(f"`{id_col}`", "bb.band AS band", "bb.bucket AS bucket")


def _lsh_pairs_from(
    staged: DataFrame,
    threshold: float,
    id_col: str,
    num_hashes: int,
    bands: int,
    verify: bool,
) -> DataFrame:
    """Shared banding + candidate join + exact-Jaccard verify over a
    (id, sh, h0..h{n-1}) frame — the seam between the inline and staged
    MinHash paths."""
    sets = staged.select(F.col(id_col), F.col("sh"))
    banded = _band_keys(staged, id_col, num_hashes, bands)
    # bucket-grouped pair expansion beats the banded self-join here: the
    # signature subtree runs once instead of twice, and minhash buckets
    # are banding-bounded (see operators/blocking.py for the contract)
    cand = pairs_within_buckets(banded, ["band", "bucket"], id_col)
    if not verify:
        return cand
    return _verify_pairs(cand, sets, threshold, id_col)


def _verify_pairs(
    cand: DataFrame, sets: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    a (id, sh) shingle-set frame — ONLY the candidates are scored (the
    whole point of LSH): O(candidates), never O(co-shingle pairs)."""
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    # stage the intersection size in its own projection: referencing the
    # array_intersect expression twice (numerator + union denominator)
    # would inline and execute it twice per candidate — it is the O(|sh|)
    # hot kernel of the verify stage
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size("sh_a").alias("__na"),
            F.size("sh_b").alias("__nb"),
            F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).alias("__ni"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("__ni").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("__ni")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    nbits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash: per-token hash; signature bit b is the sign of
    Σ_tokens (±1 depending on the token's bit b).

    Implemented as explode → one aggregate with nbits conditional sums →
    bit-assembly — no UDF. The explode is pipelined inside the stage and
    map-side partial aggregation collapses to one row per (doc, partition)
    before the exchange, so shuffle volume is docs × 65 longs, NOT tokens.
    Two shuffle-free per-row alternatives were measured and REJECTED at
    sf0.1: 64 ``F.aggregate`` folds over a token-hash array (1.5× slower —
    higher-order functions are interpreted per element, outside
    whole-stage codegen, while this sum-aggregate is fully codegen'd) and
    a 16-lane SWAR-packed fold (at best a tie, plus a 65535-tokens/doc
    lane-overflow cap). Returns (id, simhash long).

    ``token_hash``: ``"xxhash64"`` (default — JVM intrinsic, fastest, no
    cross-engine twin) or ``"md5"`` — the first 15 hex chars of md5
    parsed as a 60-bit int, which DuckDB/Redshift compute identically
    (use nbits=60 with it); slower per token but makes the whole SimHash
    exactly oracle-checkable.
    """
    tok = _spread(df, id_col).select(F.col(id_col), F.explode(words(F.col(text_col))).alias("tok"))
    if token_hash == "md5":
        assert nbits <= 60, "md5-prefix hash carries 60 usable bits"
        h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(F.col("tok"))
    # per-bit set-count instead of ±1 conditionals: sign(Σ±1) > 0 ⇔
    # 2·(set count) > n — pure shifts/masks, no branches in the agg loop
    bit_sums = [
        F.sum(F.shiftright(h, b).bitwiseAND(F.lit(1))).alias(f"b{b}")
        for b in range(nbits)
    ]
    agg = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *bit_sums)
    sig = None
    for b in range(nbits):
        bit = (2 * F.col(f"b{b}") > F.col("__n")).cast("long")
        term = bit * F.lit(1 << b).cast("long") if b < 63 else bit * F.lit(-(1 << 63)).cast("long")
        sig = term if sig is None else (sig + term)
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    blocks: int = 4,
    nbits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius.

    Blocking: split the nbits signature into ``blocks`` equal blocks; by
    pigeonhole, two signatures within Hamming distance < blocks share at
    least one exact block → equi-join per block, then verify the true
    Hamming distance with bit_count(xor). Sub-quadratic; no UDFs. The
    blocking is EXACT for max_hamming < blocks (never misses a qualifying
    pair), so a brute-force all-pairs oracle matches verbatim.
    """
    assert max_hamming < blocks, "pigeonhole requires max_hamming < blocks"
    assert nbits % blocks == 0, "blocks must evenly split the signature"
    sig = simhash_signatures(df, text_col, id_col, nbits, token_hash)
    width = nbits // blocks
    block_cols = [
        F.struct(
            F.lit(i).alias("blk"),
            F.shiftrightunsigned(F.col("simhash"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("key"),
        )
        for i in range(blocks)
    ]
    blocked = sig.select(id_col, "simhash", F.explode(F.array(*block_cols)).alias("bb")).select(
        id_col, "simhash", F.col("bb.blk").alias("blk"), F.col("bb.key").alias("key")
    )
    # Self-join, NOT pairs_within_buckets: measured head-to-head (sf0.1:
    # 3.1s vs 5.1s; sf1: wash) — recomputing the fully-codegen'd signature
    # aggregate per join side is cheaper than the extra collect_set
    # exchange, and the 16-bit key space (vs minhash's 64-bit buckets)
    # makes hot blocks possible, where the self-join lets AQE skew-split.
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_repeated_chunks(
    df: DataFrame,
    chunk_words: int = 15,
    max_freq: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level (paragraph-style) dedup: drop every ``chunk_words``-word
    chunk whose exact text occurs more than ``max_freq`` times across the
    corpus, then reassemble each document from its surviving chunks — the
    C4/RefinedWeb "remove duplicated spans, keep the document" curation
    step, as opposed to whole-document dedup (``exact_dedup``).

    Plan: chunk data-side (sequence+transform+posexplode — no Python),
    count chunk frequency by a 60-bit md5-prefix hash (the frequency join
    shuffles 8-byte keys, never chunk text; md5 keeps the oracle
    portable), filter, reassemble with sort_array(collect_list(struct))
    so chunk order is restored deterministically. Docs whose every chunk
    was dropped (or that were empty) survive with clean_text = ''.

    Scale: two shuffles (frequency agg by hash, reassembly by doc) —
    both linear in chunk count; the only wide rows are the per-doc
    collect_list at reassembly, bounded by the original document length.

    Returns (id, clean_text, n_total, n_kept).
    """
    from etl_s3_to_redshift_spark.functions.text import words

    cw = chunk_words
    # materialize the token array in its own projection: a bare `words(...)`
    # expression referenced from inside the per-chunk lambda is inlined at
    # each use by the analyzer, re-running the split once per chunk —
    # O(tokens x chunks) re-tokenization on long documents (the inlining
    # trap measured at 2.4-5x, see functions/text.word_ngrams)
    staged = df.select(F.col(id_col), words(F.col(text_col)).alias("__w"))
    w = F.col("__w")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), F.greatest(F.ceil(F.size(w) / cw).cast("int"), F.lit(1)) - 1),
        lambda i: F.array_join(F.slice(w, i * cw + 1, cw), " "),
    )
    base = staged.select(F.col(id_col), chunk_arr.alias("__chunks"))
    # posexplode_OUTER: the chunk array is NEVER empty by construction
    # (greatest(..., 1) — empty docs yield one '' chunk), so the inner
    # Generate's inferred size(__chunks)>0 filter can only waste work;
    # filter pushdown inlines the whole chunk build into a pre-scan
    # Filter and re-runs it per doc (the duplicated_window_coverage
    # trap, measured 5x there). Outer explode infers no filter and is
    # row-identical here.
    chunks = base.select(
        id_col, F.posexplode_outer("__chunks").alias("idx", "seg")
    ).withColumn(
        "__h", F.conv(F.substring(F.md5(F.col("seg")), 1, 15), 16, 10).cast("long")
    )
    freq = chunks.groupBy("__h").agg(F.count(F.lit(1)).alias("__freq"))
    kept = chunks.join(freq, "__h").filter(F.col("__freq") <= max_freq)
    clean = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "seg"))), lambda x: x["seg"]
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = base.select(id_col, F.size("__chunks").cast("long").alias("n_total"))
    return totals.join(clean, id_col, "left").select(
        id_col,
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        "n_total",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
    )


def minhash_append_pairs(
    spark,
    path: str,
    new_df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bands: int = 8,
) -> DataFrame:
    """Incremental dedup over a ``stage_minhash`` table: sign the NEW
    batch, append its rows to the staged parquet, and return the exact
    near-dup pairs that INVOLVE a new document (new×old and new×new) —
    the operational 100 TB flow, where each arriving batch is checked
    against the accumulated corpus without ever re-running corpus×corpus
    banding.

    Cost: signature computation over the new batch only, one append
    write, then a band equi-join of the small new side (banded from the
    in-memory signatures — the staged corpus is banded once as the build
    side, never a second time for the probe) against the staged table,
    and exact-Jaccard verify on candidates. Idempotent under retries: ids
    already present in the staged table are dropped from the batch before
    signing, so re-running a batch appends nothing and returns no
    duplicate pairs. After the append the staged table is current for the
    next batch; a full ``minhash_lsh_pairs_staged`` over it equals the
    inline pipeline over the whole corpus (pinned in tests).

    Returns (id_a, id_b, jaccard) with the pair ordered id_a < id_b.
    """
    staged = spark.read.parquet(path)
    num_hashes = sum(1 for c in staged.columns if c.startswith("h") and c[1:].isdigit())
    # retry/idempotency guard: never re-append an id the table already has
    # (a re-run after a downstream failure would otherwise permanently
    # duplicate staged rows AND fan out every future pair join)
    fresh = new_df.join(staged.select(F.col(id_col)), id_col, "left_anti")
    # Pin the batch's id set BEFORE the append executes: `fresh` is a lazy
    # anti-join against `spark.read.parquet(path)`, and re-evaluating it
    # after rows land in `path` only works while Spark's InMemoryFileIndex
    # snapshot in the plan stays stale. If the listing were refreshed
    # (REFRESH TABLE / refreshByPath / catalog-managed path), the re-derived
    # frame would be empty and the batch's pairs silently lost even though
    # the rows appended. localCheckpoint materializes the ids eagerly,
    # cutting the lineage to the pre-append listing.
    new_ids = fresh.select(F.col(id_col)).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    new_sigs = _shingle_sets(fresh, text_col, id_col, k).selectExpr(
        f"`{id_col}`", "sh", *_sig_cols(num_hashes)
    )
    new_sigs.write.mode("append").parquet(path)
    # Re-read AFTER the append: the staged table is now base ∪ new, and
    # reading it back (rather than unioning in-memory lineage) means the
    # verify/build scans are column-pruned parquet reads, same as the
    # staged batch path.
    all_sigs = spark.read.parquet(path)
    banded_all = _band_keys(all_sigs, id_col, num_hashes, bands)
    # probe side: band the staged rows of the NEW ids only (semi-join
    # prunes before the band explode), so probe cost tracks the batch
    banded_new = _band_keys(
        all_sigs.join(new_ids, id_col, "left_semi"), id_col, num_hashes, bands
    )
    cand = (
        banded_new.alias("a")
        .join(
            banded_all.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    sets = all_sigs.select(F.col(id_col), F.col("sh"))
    return _verify_pairs(cand, sets, threshold, id_col)


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric containment dedup: ordered pairs where document A's
    shingle set is (near-)contained in document B's —
    ``C(A→B) = |A ∩ B| / |A| >= threshold``. This is the quote/excerpt
    relation Jaccard misses: a paragraph fully quoted inside a much
    longer page has tiny J but containment 1.0, and containment-aware
    dedup is how a corpus drops the excerpt while keeping the source.

    Returns (id_small, id_big, containment, n_small, n_big): one row per
    ordered pair with the SMALLER shingle set first (ties broken by id),
    so each unordered pair appears once with the direction that can
    actually reach the threshold (C of the larger side is bounded by
    |small|/|large|).

    Scale shape: identical to ``jaccard_pairs`` — inverted-index
    self-join on shingles (only co-shingle pairs materialize), exact
    intersection counts, sizes joined back id-partitioned. Quadratic
    only within a posting list; at scale set ``max_df`` (stop-shingle
    document-frequency cap applied before the self-join) and/or run it
    over MinHash candidates, same as Jaccard. With the cap, sizes and
    intersections are computed over the capped shingle space.
    """
    sh = _drop_hot_shingles(_shingled(df, text_col, id_col, k), max_df)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    joined = inter.join(sa, "id_a").join(sb, "id_b")
    small_first = F.col("n_a") < F.col("n_b")
    tie = (F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))
    id_small = F.when(small_first | tie, F.col("id_a")).otherwise(F.col("id_b"))
    id_big = F.when(small_first | tie, F.col("id_b")).otherwise(F.col("id_a"))
    n_small = F.least("n_a", "n_b")
    n_big = F.greatest("n_a", "n_b")
    return (
        joined.select(
            id_small.alias("id_small"),
            id_big.alias("id_big"),
            F.round(
                F.col("n_inter").cast("double") / n_small.cast("double"), 6
            ).alias("containment"),
            n_small.alias("n_small"),
            n_big.alias("n_big"),
        )
        .filter(F.col("containment") >= threshold)
    )


def duplicated_window_coverage(
    df: DataFrame,
    window_tokens: int = 10,
    max_freq: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication audit at token-window granularity
    (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better" — EXACTSUBSTR): every OVERLAPPING ``window_tokens``-token
    window (stride 1) whose exact text occurs more than ``max_freq``
    times corpus-wide is duplicated; a document's duplicated-substring
    coverage is the fraction of its token positions lying under at
    least one duplicated window. This is the stride-1 complement of
    ``dedup_repeated_chunks`` (non-overlapping chunks, removal): any
    duplicated substring of >= window_tokens tokens is a union of
    duplicated windows, so coverage here == the paper's duplicated-span
    share at window granularity. The paper builds a corpus suffix array
    — inherently sequential; the window-hash form is the standard
    distributed equivalent and what a Spark cluster can shuffle.

    Plan: tokenize once (staged projection — the analyzer-inlining trap
    measured in dedup_repeated_chunks), hash each TOKEN once
    (xxhash64), then key each window by a rotate-XOR fold of its k
    token hashes — windows never materialize as strings at all (the
    string-join+md5 form cost 10 string allocations + one md5 per
    window). Rotate-XOR keeps every step in overflow-free long
    arithmetic (shifts/XOR never raise under ANSI, unlike
    multiply-accumulate polynomial hashes); position sensitivity comes
    from the per-step rotation. Duplicated windows fall out of ONE
    ``count(*) OVER (PARTITION BY window_hash)`` on the exploded
    (doc, start, hash) rows — the round-6 form (checkpoint the window
    arrays DISK_ONLY, groupBy frequencies, join back) paid a
    corpus-sized disk write plus TWO shuffles of the full window frame
    and was the measured sf100 spill driver (23x/decade); the window
    form shuffles the frame ONCE, needs no materialization at all
    (single consumer), and its per-hash frames spill gracefully under
    hot-window skew where a collect_list would OOM. Each doc's
    duplicated window STARTS then become covered-token counts with one
    interval-union pass: starts sorted, each start contributes
    min(window_len, gap to previous start) — a per-document window
    function, never a per-token explode; the per-doc exchange is reused
    by the coverage aggregate. The totals frame never touches windows:
    n_windows == max(n_tokens - k, 0) + 1 for any non-empty doc, by
    construction of stride-1 windows — pure arithmetic off a second
    pruned (id, text) scan. Collision odds are the 64-bit-hash class of
    dedup_repeated_chunks' rationale (the oracle counts by window text;
    ~1e-11 at a 10^6-window corpus).

    Scale: ONE corpus-token-sized shuffle (the hash-partitioned window
    count), one dup-rows-only per-doc shuffle, one broadcastable
    doc-level join. Docs shorter than the window contribute one
    whole-doc window (the dedup_repeated_chunks convention); empty docs
    yield zero windows and coverage 0.

    Returns (id, n_tokens, n_windows, n_dup_windows, dup_coverage).
    """
    from pyspark.sql import Window as W

    k = int(window_tokens)
    # _spread: window construction is O(tokens x k) interpreted
    # higher-order-function work — a one-file input (one task) would
    # serialize it; at lake scale the scan already has thousands of
    # splits and this shuffle is noise
    staged = _spread(df, id_col).select(
        F.col(id_col), words(F.col(text_col)).alias("__w")
    )
    # materialize the token-hash array in its OWN projection: a bare
    # transform(words, xxhash64) referenced from inside the per-window
    # lambda is inlined at each use by the analyzer — O(tokens x windows)
    # re-hashing (the dedup_repeated_chunks inlining trap)
    hashed = staged.select(
        F.col(id_col),
        F.size("__w").cast("long").alias("n_tokens"),
        F.transform(F.col("__w"), lambda t: F.xxhash64(t)).alias("__th"),
    )
    th = F.col("__th")
    n = F.col("n_tokens")

    def rot_xor(acc, x):
        # acc <<< 7 (64-bit rotate) XOR next token hash — overflow-free
        return (
            F.shiftleft(acc, 7)
            .bitwiseOR(F.shiftrightunsigned(acc, 57))
            .bitwiseXOR(x)
        )

    win_arr = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), F.greatest((n - k).cast("int"), F.lit(0))),
            lambda i: F.aggregate(
                F.slice(th, i + 1, k), F.lit(0).cast("long"), rot_xor
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    # posexplode_OUTER, then drop the NULL rows of empty docs: a plain
    # (inner) Generate makes InferFiltersFromGenerate add a
    # size(child)>0 filter, and filter pushdown hoists that BELOW the
    # _spread exchange — inlining the whole tokenize+hash+fold into a
    # pre-exchange Filter that re-runs it over every doc at the scan's
    # parallelism (measured 5x the explode stage at sf1; this is what
    # the round-6 checkpoint was accidentally papering over as an
    # optimizer barrier). The outer variant infers no such filter, and
    # the isNotNull below references a GENERATED column, so it cannot
    # sink past the Generate. Window hashes are never NULL for real
    # windows (xxhash64 fold), so only the empty-doc marker rows drop.
    wins = (
        hashed.select(
            F.col(id_col),
            "n_tokens",
            win_arr.alias("__wins"),
        )
        .select(
            id_col,
            "n_tokens",
            F.posexplode_outer("__wins").alias("s", "__h"),
        )
        .filter(F.col("__h").isNotNull())
    )
    # single consumer -> the O(tokens x k) fold runs exactly once; the
    # hash-partitioned count window replaces {frequency groupBy + join
    # back} with one exchange and zero materialization
    dup = (
        wins.withColumn(
            "__freq", F.count(F.lit(1)).over(W.partitionBy("__h"))
        )
        .filter(F.col("__freq") > max_freq)
        .select(id_col, "n_tokens", "s")
    )
    wdoc = W.partitionBy(id_col).orderBy("s")
    wlen = F.least(F.lit(k).cast("long"), F.col("n_tokens"))
    cov = (
        dup.withColumn("__prev", F.lag("s").over(wdoc))
        .withColumn(
            "__contrib",
            F.when(F.col("__prev").isNull(), wlen).otherwise(
                F.least(wlen, (F.col("s") - F.col("__prev")).cast("long"))
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum("__contrib").alias("__covered"),
        )
    )
    # totals never touch the window build: stride-1 window count is
    # max(n_tokens-k, 0)+1 for n_tokens>0, else 0 — arithmetic over the
    # (reused-exchange) tokenized scan
    nt = F.size("__w").cast("long")
    totals = staged.select(
        F.col(id_col),
        nt.alias("n_tokens"),
        F.when(nt > 0, F.greatest(nt - k, F.lit(0).cast("long")) + 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )
    return (
        totals.join(cov, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_windows",
            F.coalesce(F.col("n_dup_windows"), F.lit(0).cast("long")).alias(
                "n_dup_windows"
            ),
            (
                F.round(
                    F.when(
                        F.col("n_tokens") > 0,
                        F.coalesce(F.col("__covered"), F.lit(0).cast("long")).cast(
                            "double"
                        )
                        / F.col("n_tokens").cast("double"),
                    ).otherwise(F.lit(0.0)),
                    6,
                )
                + F.lit(0.0)
            ).alias("dup_coverage"),
        )
    )


def dedup_lines_keep_first(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide line/paragraph-hash dedup, keep-first (the first step
    of CCNet, Wenzek et al. 2020 — run BEFORE language ID, it strips
    boilerplate headers/footers/cookie banners that repeat across pages
    and would otherwise dominate every downstream signal). Every
    non-blank line is keyed by its normalized text (lowercase, collapsed
    whitespace); only the corpus-wide FIRST occurrence of each key — the
    lexicographically smallest (doc, line index) — survives, and each
    document is reassembled from its surviving lines in original order.

    This is line-granular keep-first dedup, distinct from
    ``dedup_repeated_chunks`` (fixed token windows, drop-all-copies) and
    ``duplicated_window_coverage`` (overlapping-window audit): the unit
    is the natural line, and one canonical copy of repeated content is
    preserved rather than none.

    Plan: one posexplode into (doc, idx, line) occurrences, first-
    occurrence per 60-bit md5-prefix key via min(struct(doc, idx)) — an
    8-byte-key shuffle, never line text (the oracle groups by the text;
    collision odds ~1e-8, the dedup_repeated_chunks rationale) — one
    join back, one per-doc reassembly. All shuffles linear in line
    count.

    Returns (id, n_lines, n_kept, clean_text).
    """
    from etl_s3_to_redshift_spark.functions.text import normalize_text

    lines = F.split(F.col(text_col), "\n")
    # _spread: same one-file/one-task guard as duplicated_window_coverage
    base = _spread(df, id_col).select(F.col(id_col), lines.alias("__lines"))
    occ = (
        base.select(id_col, F.posexplode("__lines").alias("idx", "line"))
        .filter(F.trim(F.col("line")) != "")
        .withColumn(
            "__h",
            F.conv(
                F.substring(F.md5(normalize_text(F.col("line"))), 1, 15), 16, 10
            ).cast("long"),
        )
    )
    occ = occ.select(
        F.col(id_col), "idx", "line", "__h", F.struct(id_col, "idx").alias("__pos")
    )
    firsts = occ.groupBy("__h").agg(F.min("__pos").alias("__first"))
    kept = occ.join(firsts, "__h").filter(F.col("__pos") == F.col("__first"))
    clean = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    totals = base.select(
        id_col,
        F.size(F.filter(F.col("__lines"), lambda l: F.trim(l) != ""))
        .cast("long")
        .alias("n_lines"),
    )
    return totals.join(clean, id_col, "left").select(
        id_col,
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )
