"""Distributed BPE tokenizer training (byte-pair-encoding merges).

The shape that scales: the corpus is scanned ONCE into a word-frequency
table (groupBy word — vocabulary-sized, map-side combined), and every
merge iteration runs over THAT table, never the corpus. Pair counting,
argmax selection, and merge application are all built-in column
expressions — the merge rewrite is an ``F.aggregate`` fold that scans
each word's symbol array left-to-right and fuses adjacent (left, right)
occurrences non-overlapping, exactly the classic BPE apply rule — so no
Python ever touches row data; the only driver round-trip per round is
the bounded top-of-count-table collect (a scalar-class read, same class
as Q11's threshold). For production vocab sizes ``batch_size=m``
selects up to m symbol-disjoint merges per round (batched-greedy BPE,
see ``train_bpe``), cutting driver round-trips ~m×.

Determinism: integer pair counts are exact; the winning pair breaks
ties by (count desc, left asc, right asc); the fold is index-order. The
whole merge table is therefore reproducible bit-for-bit, pinned in
tests against a pure-Python reference BPE on the same word counts.

Lineage: each iteration's word table derives from the previous one;
after ``checkpoint_every`` merges the table is localCheckpoint-ed to
truncate the plan (same pattern as dedup_groups_incremental), keeping
iteration N's analysis cost flat instead of linear in N.

Reference anchor: none — the reference ships load SQL only
(/root/reference/sql_queries.py); this is north-star LLM-pipeline
surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from etl_s3_to_redshift_spark.functions.text import words

_EOW = "</w>"


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) over the corpus — lowercased whitespace tokens. The one
    corpus-sized pass; everything after runs on this table."""
    return (
        docs.select(F.explode(words(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _init_symbols(word: Column) -> Column:
    """Split a word into characters + the end-of-word marker."""
    # split at every inter-character boundary; Spark's split(limit=-1)
    # keeps the trailing empty element the end-of-string boundary makes,
    # so drop empties before appending the marker
    return F.concat(
        F.array_remove(F.split(word, "(?!^)"), ""),
        F.array(F.lit(_EOW)),
    )


def _merge_fold(symbols: Column, left: str, right: str) -> Column:
    """Fuse adjacent (left, right) symbol pairs, left-to-right,
    non-overlapping — as one JVM-side aggregate fold."""
    merged = left + right

    def step(acc: Column, x: Column) -> Column:
        can = (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(left)) & (
            x == F.lit(right)
        )
        return F.when(
            can,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(
        symbols, F.array().cast("array<string>"), step
    )


def _disjoint_groups(
    merges: list[tuple[str, str]]
) -> list[list[tuple[str, str]]]:
    """Split an ORDERED merge list into maximal runs of symbol-disjoint
    merges (the ``select_batch`` rule: a merge joins a run iff none of
    {left, right, left+right} was touched earlier in the run). Within a
    run no merge can consume or produce another's symbols, so applying
    the whole run in ONE left-to-right pass (map lookup per adjacency)
    is exactly equivalent to applying its members sequentially — the
    single-pass collapse that makes deep merge lists affordable
    (vocab-probe r6: 64 chained folds were ~60s/round at a 115k-word
    vocabulary; one batched fold is ~1s)."""
    groups: list[list[tuple[str, str]]] = []
    used: set[str] = set()
    cur: list[tuple[str, str]] = []
    for left, right in merges:
        if {left, right, left + right} & used and cur:
            groups.append(cur)
            cur, used = [], set()
        cur.append((left, right))
        used |= {left, right, left + right}
    if cur:
        groups.append(cur)
    return groups


def _merge_fold_batch(symbols: Column, batch: list[tuple[str, str]]) -> Column:
    """Apply a SYMBOL-DISJOINT merge batch in one fold pass. The merge
    table is a nested literal map left -> (right -> merged) — two exact
    lookups per adjacency, no separator-ambiguous string keys. Exactness:
    disjointness means an element can match at most one (left, right)
    rule and a produced symbol can never be a rule's left/right, so the
    greedy left-to-right scan makes exactly the fusions the sequential
    per-merge folds would."""
    if len(batch) == 1:
        return _merge_fold(symbols, batch[0][0], batch[0][1])
    by_left: dict[str, dict[str, str]] = {}
    for left, right in batch:
        by_left.setdefault(left, {})[right] = left + right
    entries = []
    for left, rights in by_left.items():
        inner = []
        for right, merged in rights.items():
            inner += [F.lit(right), F.lit(merged)]
        entries += [F.lit(left), F.create_map(*inner)]
    M = F.create_map(*entries)

    def step(acc: Column, x: Column) -> Column:
        hit = F.element_at(F.element_at(M, F.element_at(acc, -1)), x)
        return F.when(
            (F.size(acc) > 0) & hit.isNotNull(),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(hit)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(symbols, F.array().cast("array<string>"), step)


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the symbolized vocab: explode
    positions 1..len-1, pair (sym[i], sym[i+1]), weight by word count."""
    pairs = vocab.select(
        "n",
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.size("syms") - 1),
                F.slice(F.col("syms"), 2, F.size("syms") - 1),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right")).agg(
        F.sum("n").alias("pair_n")
    )


def select_batch(candidates: list[tuple[str, str, int]], batch_size: int):
    """Greedy symbol-disjoint batch selection — THE shared definition of
    batched-greedy BPE semantics (the pure-Python test reference replays
    exactly this function, so Spark and reference stay bit-for-bit).

    Scan candidates in (count desc, left asc, right asc) order; select a
    pair iff none of {left, right, left+right} was touched by an earlier
    selection in this batch. Skipped pairs are reconsidered next round
    with fresh counts. With ``batch_size=1`` this degenerates to the
    classic sequential argmax."""
    selected: list[tuple[str, str, int]] = []
    used: set[str] = set()
    for left, right, cnt in candidates:
        if len(selected) >= batch_size:
            break
        if {left, right, left + right} & used:
            continue
        selected.append((left, right, cnt))
        used |= {left, right, left + right}
    return selected


def _train_bpe_rows(
    word_counts: list[tuple[str, int]], n_merges: int, batch_size: int
) -> list[tuple[int, str, str, str, int]]:
    """Driver-local trainer — EXACTLY the distributed algorithm (same
    pair counting, same (count desc, left, right) candidate order, same
    ``select_batch`` rule, same merge application) on a collected
    word-frequency table. Used when the vocabulary fits on the driver;
    pinned equal to the distributed path in tests."""
    vocab = [(list(w) + [_EOW], n) for w, n in word_counts]
    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < n_merges:
        pc: dict[tuple[str, str], int] = {}
        for syms, n in vocab:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + n
        cands = [
            (l, r, c)
            for (l, r), c in sorted(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if c > 0
        ]
        batch = select_batch(cands, min(batch_size, n_merges - len(merges)))
        if not batch:
            break
        for left, right, cnt in batch:
            merges.append((len(merges), left, right, left + right, cnt))
            merged = left + right
            nv = []
            for syms, n in vocab:
                out: list[str] = []
                for s in syms:
                    if out and out[-1] == left and s == right:
                        out[-1] = merged
                    else:
                        out.append(s)
                nv.append((out, n))
            vocab = nv
    return merges


_MERGE_SCHEMA = "merge_rank int, left string, right string, merged string, pair_n long"


def train_bpe(
    docs: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    checkpoint_every: int = 5,
    batch_size: int = 1,
    local_vocab_max: int = 200_000,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the merge table
    (merge_rank, left, right, merged, pair_n) in learned order.

    ``batch_size=1`` (default) is classic sequential BPE: one driver
    round-trip (1-row argmax) per merge — honest but driver-paced for
    production vocab sizes (a 32k vocab = 32k scheduled jobs).
    ``batch_size=m`` switches to BATCHED-GREEDY BPE: each round counts
    pairs once, selects up to m symbol-disjoint merges from the top of
    the count table (``select_batch``), and applies them as m chained
    folds in ONE job — cutting driver round-trips ~m×. Selected merges
    record the round-start count (their counts cannot interact, being
    symbol-disjoint, except through created symbols which selection
    excludes). This is a documented VARIANT of sequential BPE (merge
    order can differ when an interacting pair would have overtaken a
    batch-mate); the test suite pins it bit-for-bit against a
    pure-Python replay of the same batched-greedy rule at several batch
    sizes, and pins batch_size=1 against classic reference BPE.

    ADAPTIVE EXECUTION: training cost is VOCABULARY-bound — the corpus
    is reduced to (word, n) in one scan regardless. When that table has
    ≤ ``local_vocab_max`` rows it is collected and trained driver-side
    with ``_train_bpe_rows`` (the identical algorithm — pinned equal in
    tests), killing n_merges' worth of driver-paced Spark jobs; a
    web-scale vocabulary past the threshold trains distributed. Set
    ``local_vocab_max=0`` to force the distributed path.

    Measured (sf0.1 documents, local[32], r5): sequential 20 merges
    12.4s distributed; batched batch_size=32 trains to FULL vocabulary
    exhaustion (113 merges — the synthetic corpus has 31 distinct
    words, so every word collapses to one symbol) in 10.3s = 0.83× the
    20-merge sequential wall (~7× fewer driver round-trips per merge);
    the local fast path closes the same 16-merge training in ~1s."""
    spark = docs.sparkSession
    # DISK_ONLY lineage cuts throughout: an evicted memory-resident
    # localCheckpoint block is unrecoverable (see components.py), and at
    # web scale the word/vocab frames are vocabulary-sized, not constant.
    wf = word_freq_table(docs, text_col).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    n_words = wf.count()
    if n_words <= local_vocab_max:
        rows = _train_bpe_rows(
            [(r["word"], int(r["n"])) for r in wf.collect()], n_merges, batch_size
        )
        return spark.createDataFrame(rows, _MERGE_SCHEMA)

    vocab = wf.select(_init_symbols(F.col("word")).alias("syms"), "n")
    # right-size the iteration frame: ~50k words per partition (a small
    # vocab collapses to ONE task per job instead of shuffle-partitions
    # empty tasks — the driver loop is job-latency-bound; a web-scale
    # vocab still spreads across the cluster)
    n_parts = max(1, min(int(spark.sparkContext.defaultParallelism), n_words // 50_000 + 1))
    vocab = vocab.coalesce(n_parts).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )

    merges: list[tuple[int, str, str, str, int]] = []
    since_ckpt = 0
    while len(merges) < n_merges:
        want = min(batch_size, n_merges - len(merges))
        # Batched-greedy semantics are defined over the FULL ordered
        # candidate list; collect a shortlist and GROW it whenever greedy
        # conflict-skips exhaust it before filling the batch — the skip
        # rule only depends on already-selected symbols, so a prefix long
        # enough to yield `want` selections is equivalent to the full list.
        counts = _pair_counts(vocab).orderBy(
            F.col("pair_n").desc(), F.col("left").asc(), F.col("right").asc()
        )
        limit = max(4 * want, 16)
        while True:
            top = counts.limit(limit).collect()
            cands = [
                (r["left"], r["right"], int(r["pair_n"])) for r in top if r["pair_n"] > 0
            ]
            batch = select_batch(cands, want)
            if len(batch) >= want or len(top) < limit:
                break  # batch filled, or the shortlist IS the full list
            limit *= 4
        if not batch:
            break
        for left, right, cnt in batch:
            merges.append((len(merges), left, right, left + right, cnt))
        # the batch is symbol-disjoint by construction: ONE single-pass
        # fold applies all of it (vs m chained folds — measured 63s ->
        # ~1.5s per 64-merge round at a 115k-word vocabulary, r6 probe)
        vocab = vocab.select(
            _merge_fold_batch(F.col("syms"), [(l, r) for l, r, _ in batch]).alias(
                "syms"
            ),
            "n",
        )
        since_ckpt += len(batch)
        if since_ckpt >= checkpoint_every:
            vocab = vocab.localCheckpoint(
                eager=True, storageLevel=StorageLevel.DISK_ONLY
            )
            since_ckpt = 0

    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, merged string, pair_n long"
    )


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with a learned merge list: per word, start from
    characters+EOW and apply every merge in learned order — the fold
    expression chained ``len(merges)`` deep INSIDE a transform over the
    word array, so token order is preserved and nothing ever leaves the
    row (zero shuffles, all JVM-side). Cost is corpus-words × merges of
    interpreted higher-order folds — fine for small merge lists; for the
    corpus-scale path use ``apply_bpe_vocab`` (identical output, pinned
    in tests)."""

    def tokenize_word(w: Column) -> Column:
        sym = _init_symbols(w)
        # collapse the ordered merge list into maximal symbol-disjoint
        # runs, each applied as ONE single-pass fold (exact — see
        # _disjoint_groups); a batched-greedy-trained list regroups into
        # ~n_merges/batch_size passes instead of n_merges
        for group in _disjoint_groups(merges):
            sym = _merge_fold_batch(sym, group)
        return sym

    return docs.withColumn(
        out_col,
        F.flatten(F.transform(words(F.lower(F.col(text_col))), tokenize_word)),
    )


def apply_bpe_vocab(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Vocabulary-memoized BPE application — the corpus-scale path.

    The merge fold runs once per DISTINCT word (a vocabulary-sized frame,
    not corpus-words-sized), then tokenized words join back to the
    (doc, position) exploded corpus and reassemble in order. Identical
    output to ``apply_bpe`` (pinned in tests); at 100 TB the fold cost is
    ∝ |vocab| while the corpus pays one posexplode + one size-driven
    equi-join (auto-broadcast while the tokenized vocab fits — the usual
    case: even a 10M-word vocab of short arrays is executor-memory-sized)
    + one per-doc regroup. Documents with no words yield an empty array,
    matching apply_bpe.

    ``id_cols`` defaults to every non-text column (the regroup keys)."""
    if id_cols is None:
        id_cols = [c for c in docs.columns if c != text_col]

    def tokenize_word(w: Column) -> Column:
        sym = _init_symbols(w)
        for group in _disjoint_groups(merges):  # see apply_bpe
            sym = _merge_fold_batch(sym, group)
        return sym

    pos_words = docs.select(
        *id_cols, F.posexplode_outer(words(F.lower(F.col(text_col)))).alias("__pos", "__w")
    )
    vocab = pos_words.select("__w").where(F.col("__w").isNotNull()).distinct()
    vocab_tok = vocab.select("__w", tokenize_word(F.col("__w")).alias("__toks"))
    joined = pos_words.join(vocab_tok, "__w", "left")
    return (
        joined.groupBy(*id_cols)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__toks").isNotNull(),
                                F.struct(F.col("__pos"), F.col("__toks")),
                            )
                        )
                    ),
                    lambda s: s["__toks"],
                )
            ).alias(out_col)
        )
    )


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    group_cols: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Per-group BPE token totals WITHOUT per-document reassembly — the
    measurement path (text_tokenizer_report).

    ``apply_bpe_vocab`` pays a corpus-sized collect_list/array_sort
    regroup to rebuild every document's token array in order; a report
    that only needs token COUNTS can sum ``size(tokenized word)``
    straight off the exploded (group, word) stream instead. The merge
    fold still runs once per DISTINCT word; the corpus pays the explode
    TWICE — ``gw`` is unmaterialized and feeds both the vocab distinct
    (projected to ``__w`` only) and the join probe side, whose differing
    projections defeat exchange reuse — plus one size-driven vocab
    equi-join and one map-side-combined aggregate to #groups rows.
    Two explodes of a narrow projection still beat materializing the
    token-occurrence-sized ``gw`` (a corpus-sized checkpoint, the exact
    write-amplification this rewrite removed; sf100 measured the
    count-only form 467→164 s WITH the double scan). Nothing
    corpus-sized is sorted, collected, or joined back on the doc key.
    Σ_group n_tokens equals Σ_doc size(apply_bpe_vocab(...)[out_col])
    by construction (pinned in tests).

    ``explode_outer`` + the generated-column null filter (not plain
    ``explode``) sidesteps InferFiltersFromGenerate re-running the
    tokenize expression below the exchange — the Generate-filter trap
    measured in dedup_repeated_chunks."""

    def tokenize_word(w: Column) -> Column:
        sym = _init_symbols(w)
        for group in _disjoint_groups(merges):
            sym = _merge_fold_batch(sym, group)
        return sym

    gw = docs.select(
        *group_cols, F.explode_outer(words(F.lower(F.col(text_col)))).alias("__w")
    ).where(F.col("__w").isNotNull())
    vocab = gw.select("__w").distinct()
    vocab_tok = vocab.select(
        "__w", F.size(tokenize_word(F.col("__w"))).cast("long").alias("__ntok")
    )
    return (
        gw.join(vocab_tok, "__w")
        .groupBy(*group_cols)
        .agg(F.sum("__ntok").alias("n_tokens"))
    )
