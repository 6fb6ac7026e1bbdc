"""Tests for the round-6 third/fourth-batch curation operators: the C4
cleaning gate matches a pure-Python rule engine on multi-line fixtures
the driver corpus can't exercise, exact-substring window coverage
matches a brute-force replay on random corpora, CCNet perplexity
buckets respect the per-language tercile contract, SSL-prototypes
pruning matches a numpy replay of the rank-and-drop rule, token-budget
mixture sampling matches a pure-Python apportionment+prefix replay,
line-hash keep-first dedup matches a pure-Python first-occurrence
replay, greedy k-center matches a pure-Python farthest-first replay,
and the tokenizer report equals a classic-BPE pure-Python rollup."""

from __future__ import annotations

import re

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------------------------
# C4 cleaning gate
# ---------------------------------------------------------------------------


def _py_c4(text: str, min_line_words: int = 5, min_sentences: int = 3) -> dict:
    """Pure-Python replay of the documented C4 contract. Spark trim/
    rtrim strip ASCII spaces only, so this replay does too."""
    lns = [l for l in text.split("\n") if l.strip(" ") != ""]

    def line_kept(l: str) -> bool:
        n_words = len([t for t in re.split(r"\s+", l.strip(" ")) if t])
        return (
            re.search(r'[.!?"”]$', l.rstrip(" ")) is not None
            and n_words >= min_line_words
            and "javascript" not in l.lower()
        )

    kept = [l for l in lns if line_kept(l)]
    clean = "\n".join(kept)
    n_sent = len(re.findall(r"[.!?]", clean))
    rule_sent = n_sent >= min_sentences
    rule_lorem = "lorem ipsum" not in text.lower()
    rule_brace = "{" not in text
    return dict(
        n_lines=len(lns),
        n_kept_lines=len(kept),
        n_sentences=n_sent,
        clean_text=clean,
        rule_min_sentences=rule_sent,
        rule_no_lorem_ipsum=rule_lorem,
        rule_no_curly_brace=rule_brace,
        keep=rule_sent and rule_lorem and rule_brace,
    )


C4_DOCS = [
    # clean multi-sentence page: every line ends terminally, 5+ words
    "\n".join(["the quick brown fox jumps over the lazy dog."] * 4),
    # kept lines but only two sentences -> page dropped
    "the first full sentence has enough words here.\n"
    "the second full sentence also has enough words!",
    # short lines dropped (under 5 words) even with punctuation
    "\n".join(["too short a line."] * 6),
    # no terminal punctuation anywhere
    "\n".join(["this line has plenty of words but no ending mark"] * 5),
    # javascript line removed, rest keeps the page
    "please enable javascript to view this site.\n"
    + "\n".join(["a perfectly normal prose sentence sits here."] * 3),
    # lorem ipsum page veto despite clean lines
    "lorem ipsum dolor sit amet, consectetur adipiscing elit.\n"
    + "\n".join(["another good sentence with enough words here."] * 3),
    # curly brace page veto (template/code leak)
    "function f() { return 1; }\n"
    + "\n".join(["a good clean sentence with many words here."] * 3),
    # question/exclamation/closing-quote terminals all count
    'is this a question with enough words?\n'
    'what an exciting line this turned out to be!\n'
    '"a quoted line with five words ends here."',
    # blank lines are not lines; trailing spaces before the terminal
    "a solid sentence with enough words ends here.   \n\n   \n"
    "another solid sentence with enough words ends here.\n"
    "a third solid sentence with enough words ends here.",
    # empty text
    "",
]


def test_c4_rules_match_python_engine(spark):
    from etl_s3_to_redshift_spark.operators.textops import c4_quality_rules

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(C4_DOCS)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in c4_quality_rules(df).collect()}
    assert len(got) == len(C4_DOCS)
    seen_keep = set()
    for i, text in enumerate(C4_DOCS):
        want = _py_c4(text)
        for k, v in want.items():
            assert got[i][k] == v, (i, k, got[i][k], v, text[:60])
        seen_keep.add(want["keep"])
    assert seen_keep == {True, False}


def test_c4_each_rule_fires_somewhere():
    """Each page rule and each line rule is discriminating on the
    fixtures: every rule boolean takes both values, and line filtering
    actually removes lines somewhere while keeping the page."""
    for rule in ("rule_min_sentences", "rule_no_lorem_ipsum", "rule_no_curly_brace"):
        vals = {_py_c4(t)[rule] for t in C4_DOCS}
        assert vals == {True, False}, rule
    partial = [
        _py_c4(t) for t in C4_DOCS if 0 < _py_c4(t)["n_kept_lines"] < _py_c4(t)["n_lines"]
    ]
    assert any(d["keep"] for d in partial)


c4_words = st.lists(
    st.sampled_from(
        ["the", "word.", "line!", "ok?", "javascript", "lorem", "ipsum", "{x}", "a", 'quote."']
    ),
    min_size=0,
    max_size=60,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(ws=c4_words, newline_every=st.integers(min_value=0, max_value=6))
def test_c4_rules_property(spark, ws, newline_every):
    from etl_s3_to_redshift_spark.operators.textops import c4_quality_rules

    parts = []
    for i, w in enumerate(ws):
        parts.append(w)
        parts.append("\n" if newline_every and (i + 1) % newline_every == 0 else " ")
    text = "".join(parts)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = c4_quality_rules(df).collect()[0].asDict()
    want = _py_c4(text)
    for k, v in want.items():
        assert got[k] == v, (k, got[k], v, text[:80])


# ---------------------------------------------------------------------------
# Exact-substring window coverage
# ---------------------------------------------------------------------------


def _py_window_coverage(docs: dict[int, str], k: int, max_freq: int = 1) -> dict:
    """Brute-force replay: overlapping k-token windows, corpus frequency
    by exact text, per-doc covered-position union computed POSITIONALLY
    (set of covered token indices) — independent of the operator's
    gap-sum formulation."""
    toks = {i: [t for t in re.split(r"\s+", s.strip(" ")) if t] for i, s in docs.items()}
    wins: dict[int, list[tuple[int, str]]] = {}
    freq: dict[str, int] = {}
    for i, w in toks.items():
        n = len(w)
        if n == 0:
            wins[i] = []
            continue
        starts = range(max(n - k, 0) + 1)
        wins[i] = [(s, " ".join(w[s : s + k])) for s in starts]
        for _, seg in wins[i]:
            freq[seg] = freq.get(seg, 0) + 1
    out = {}
    for i, w in toks.items():
        n = len(w)
        dup_starts = [s for s, seg in wins[i] if freq[seg] > max_freq]
        covered: set[int] = set()
        for s in dup_starts:
            covered.update(range(s, min(s + k, n)))
        out[i] = dict(
            n_tokens=n,
            n_windows=len(wins[i]),
            n_dup_windows=len(dup_starts),
            dup_coverage=round(len(covered) / n, 6) if n else 0.0,
        )
    return out


def test_window_coverage_planted(spark):
    from etl_s3_to_redshift_spark.operators.dedup import duplicated_window_coverage

    boiler = "alpha beta gamma delta epsilon zeta"  # 6 tokens, k=4 below
    docs = {
        0: boiler + " unique tail zero here now",
        1: boiler + " other ending words entirely different",
        2: "completely fresh text with no shared windows at all",
        3: "",  # empty doc
        4: "short",  # below window size, unique
        5: "short",  # below window size, duplicated whole-doc window
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in duplicated_window_coverage(df, window_tokens=4).collect()
    }
    want = _py_window_coverage(docs, k=4)
    assert len(got) == len(docs)
    for i in docs:
        for key, v in want[i].items():
            assert got[i][key] == v, (i, key, got[i][key], v)
    # the planted boilerplate prefix is flagged on both carriers
    assert got[0]["n_dup_windows"] >= 3 and got[1]["n_dup_windows"] >= 3
    assert got[2]["n_dup_windows"] == 0 and got[2]["dup_coverage"] == 0.0
    assert got[5]["dup_coverage"] == 1.0  # whole-doc window duplicated


tiny_doc = st.lists(
    st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12
).map(" ".join)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(tiny_doc, min_size=1, max_size=6), k=st.integers(2, 4))
def test_window_coverage_matches_bruteforce(spark, texts, k):
    from etl_s3_to_redshift_spark.operators.dedup import duplicated_window_coverage

    docs = dict(enumerate(texts))
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in duplicated_window_coverage(df, window_tokens=k).collect()
    }
    want = _py_window_coverage(docs, k=k)
    assert set(got) == set(want)
    for i in want:
        for key, v in want[i].items():
            assert got[i][key] == v, (i, key, got[i][key], v, docs[i])


# ---------------------------------------------------------------------------
# CCNet perplexity buckets
# ---------------------------------------------------------------------------


def test_perplexity_buckets_contract(spark):
    """Every scoreable doc lands in exactly one bucket; within each
    language, every head score <= every middle score <= every tail
    score, and heads are never more than a third-plus-boundary-ties
    share of the language."""
    import math

    from etl_s3_to_redshift_spark.operators.textops import perplexity_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = perplexity_buckets(docs).collect()
    assert len(rows) > 0
    by_lang: dict[str, dict[str, list[float]]] = {}
    for r in rows:
        assert r["bucket"] in ("head", "middle", "tail")
        assert abs(r["ppl"] - round(math.exp(r["avg_neglogp"]), 6)) < 1e-9
        by_lang.setdefault(r["lang"], {}).setdefault(r["bucket"], []).append(
            r["avg_neglogp"]
        )
    for lang, buckets in by_lang.items():
        head = buckets.get("head", [])
        mid = buckets.get("middle", [])
        tail = buckets.get("tail", [])
        n = len(head) + len(mid) + len(tail)
        if head and mid:
            assert max(head) <= min(mid), lang
        if mid and tail:
            assert max(mid) <= min(tail), lang
        if tail and not mid and head:
            assert max(head) <= min(tail), lang
        # interpolated-percentile split puts ~1/3 in the head modulo ties
        assert len(head) <= n, lang


def test_unigram_logprob_null_text_invariant_under_ansi(spark):
    """A NULL text row contributes no tf rows, so it must not move any
    other document's score — under EITHER ANSI setting. ADVICE r7: the
    raw-scan n_total summed size(split(text)) per row, and with
    spark.sql.ansi.enabled=false legacy size(NULL) returns -1 (not
    NULL), silently subtracting 1 per null row from the model's token
    total. The fix coalesces the TEXT to '' (alpha_words('') is [],
    size 0 under both settings)."""
    from etl_s3_to_redshift_spark.operators.textops import unigram_logprob_scores

    base = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "bb cc")], "doc_id long, text string"
    )
    with_null = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "bb cc"), (3, None)], "doc_id long, text string"
    )
    old = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            want = {
                r["doc_id"]: (r["n_tokens"], r["avg_neglogp"])
                for r in unigram_logprob_scores(base).collect()
            }
            got = {
                r["doc_id"]: (r["n_tokens"], r["avg_neglogp"])
                for r in unigram_logprob_scores(with_null).collect()
            }
            assert set(want) == {1, 2} and got == want, (ansi, got, want)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_bigram_tf_null_text_emits_no_run_row_under_either_ansi(spark):
    """The run-length bigram tf of a NULL-text doc is no row, not a
    (NULL, NULL, tf = -1) run: without ANSI, size(NULL) is -1, which
    must take the empty-doc guard like ANSI's NULL size does (ADVICE
    r11). Empty and one-token docs give no row either."""
    from etl_s3_to_redshift_spark.operators.textops import _bigram_tf

    docs = spark.createDataFrame(
        [(1, "aa bb aa bb"), (2, None), (3, ""), (4, "solo")], "doc_id long, text string"
    )
    old = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            got = sorted(tuple(r) for r in _bigram_tf(docs, "text", "doc_id").collect())
            assert got == [(1, "aa", "bb", 2), (1, "bb", "aa", 1)], (ansi, got)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


_TOKENIZER_TEXTS = [
    None,
    "",
    " ",
    "   \t\n ",
    "  lead and trail  ",
    "\ttab\tsep\t",
    "new\nline\n",
    "abc 123 d4e 2024",
    "Hi, there! ...end.",
    "\u00e4 \u00c4b c\u00e4",
    "a  b",
]


def test_tokenizers_equal_the_lambda_forms_under_either_ansi(spark):
    """``words`` and ``alpha_words`` drop empty tokens with
    ``array_remove``, not a lambda ``filter``; they return exactly what
    the lambda forms return — arrays and sizes, NULL text included."""
    from pyspark.sql import functions as F

    from etl_s3_to_redshift_spark.functions.text import alpha_words, words

    df = spark.createDataFrame(list(enumerate(_TOKENIZER_TEXTS)), "i int, text string")
    t = F.col("text")
    pairs = [
        (words(t), F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != "")),
        (
            alpha_words(t),
            F.filter(F.split(F.lower(t), "[^a-z]+"), lambda x: F.length(x) >= 1),
        ),
    ]
    cols = []
    for j, (new, ref) in enumerate(pairs):
        cols += [
            new.alias(f"n{j}"),
            ref.alias(f"r{j}"),
            F.size(new).alias(f"sn{j}"),
            F.size(ref).alias(f"sr{j}"),
        ]
    old = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            rows = df.select("i", *cols).collect()
            assert len(rows) == len(_TOKENIZER_TEXTS)
            for r in rows:
                for j in range(len(pairs)):
                    assert r[f"n{j}"] == r[f"r{j}"], (ansi, j, r)
                    assert r[f"sn{j}"] == r[f"sr{j}"], (ansi, j, r)
            assert rows[4]["n0"] == ["lead", "and", "trail"]
            assert rows[9]["n1"] == ["b", "c"]  # [^a-z] splits on the umlaut
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_word_ngrams_match_itertools(spark):
    """``word_ngrams(toks, n)`` equals the sliding window of n
    consecutive tokens for n = 1..4 on token arrays shorter than, equal
    to and longer than n; NULL stays NULL."""
    import itertools

    from pyspark.sql import functions as F

    from etl_s3_to_redshift_spark.functions.text import word_ngrams

    docs = [None] + [[f"t{j % 3}" for j in range(m)] for m in range(6)]
    df = spark.createDataFrame(list(enumerate(docs)), "i int, toks array<string>")
    ns = range(1, 5)
    rows = df.select(
        "i", *[word_ngrams(F.col("toks"), n).alias(f"g{n}") for n in ns]
    ).collect()
    for r in rows:
        toks = docs[r["i"]]
        for n in ns:
            if toks is None:
                assert r[f"g{n}"] is None
                continue
            shifted = (itertools.islice(toks, k, None) for k in range(n))
            want = [" ".join(g) for g in zip(*shifted)]
            assert r[f"g{n}"] == want, (toks, n, r[f"g{n}"])


def test_perplexity_buckets_rowcount_matches_scores(spark):
    from etl_s3_to_redshift_spark.operators.textops import (
        perplexity_buckets,
        unigram_logprob_scores,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_scores = unigram_logprob_scores(docs).count()
    assert perplexity_buckets(docs).count() == n_scores


# ---------------------------------------------------------------------------
# SSL-prototypes pruning
# ---------------------------------------------------------------------------


def test_prototype_prune_matches_numpy_replay(spark):
    """On a corpus small enough to replay exactly: cluster assignment
    aside (shared, separately pinned machinery), within every cluster
    the dropped rows are exactly the floor(f*m) highest (rounded cos,
    -id) ranks among non-dirty rows."""
    from etl_s3_to_redshift_spark.operators.similarity import prototype_prune

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows = prototype_prune(emb, drop_fraction=0.3).collect()
    assert len(rows) == emb.count()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    assert len(by_cluster) == 16  # 500 rows -> max(16, 0) clusters
    for cid, members in by_cluster.items():
        m = len(members)
        drop_n = int(np.floor(0.3 * m))
        dropped = [r for r in members if not r["kept"]]
        assert len(dropped) == drop_n, (cid, m, len(dropped))
        # dropped = top-drop_n by (proto_cos desc, id asc), no NULLs
        ranked = sorted(
            members,
            key=lambda r: (
                -(r["proto_cos"] if r["proto_cos"] is not None else -2.0),
                r["vec_id"],
            ),
        )
        want_dropped = {r["vec_id"] for r in ranked[:drop_n]}
        assert {r["vec_id"] for r in dropped} == want_dropped, cid


def test_prototype_prune_dirty_rows_always_kept(spark):
    from etl_s3_to_redshift_spark.operators.similarity import prototype_prune

    data = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),
        (2, [0.98, 0.02, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, None),  # NULL vector
        (5, [1.0]),  # ragged
        (6, [0.0, 0.0, 0.0]),  # zero norm
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in prototype_prune(df, drop_fraction=0.5).collect()}
    assert len(got) == len(data)
    for dirty in (4, 5, 6):
        assert got[dirty]["kept"], dirty
        assert got[dirty]["proto_cos"] is None, dirty
    # with half of each cluster dropped, at least one clean row dropped
    assert any(not got[i]["kept"] for i in (0, 1, 2, 3))


# ---------------------------------------------------------------------------
# Token-budget mixture sampling
# ---------------------------------------------------------------------------


def _py_token_budget(docs, budget, temperature=0.5, seed="tokmix"):
    """docs: list of (doc_id, source, n_tokens). Replays quotas
    (largest-remainder over floor(sqrt(T_g)*1e9) integer weights) and
    the greedy hash-order prefix."""
    import hashlib
    import math

    totals: dict[str, int] = {}
    for _, s, t in docs:
        totals[s] = totals.get(s, 0) + t
    # floor(sqrt(t)*1e9) on IEEE doubles — sqrt is correctly rounded,
    # so the float replay is exact
    w = {s: math.floor(math.sqrt(float(t)) * 1e9) for s, t in totals.items()}
    T = sum(w.values())
    q0 = {s: budget * w[s] // T for s in w}
    rem = {s: budget * w[s] % T for s in w}
    leftover = budget - sum(q0.values())
    order = sorted(w, key=lambda s: (-rem[s], s))
    quota = {
        s: min(q0[s] + (1 if i < leftover else 0), totals[s])
        for i, s in enumerate(order)
    }

    def hk(i):
        return hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8]

    kept = []
    for s in totals:
        cum = 0
        for did, src, t in sorted(
            (d for d in docs if d[1] == s), key=lambda d: (hk(d[0]), d[0])
        ):
            cum += t
            if cum <= quota[s]:
                kept.append((did, s, t, cum, quota[s]))
    return sorted(kept)


def test_token_budget_matches_python_replay(spark):
    from etl_s3_to_redshift_spark.operators.sampling import token_budget_sample

    docs = [
        (i, f"src{i % 3}", 10 + (i * 7) % 50) for i in range(60)
    ] + [(100, "tiny", 5), (101, "tiny", 7)]
    df = spark.createDataFrame(docs, "doc_id long, source string, n_tokens long")
    got = sorted(
        (r["doc_id"], r["source"], r["doc_tokens"], r["cum_tokens"], r["quota"])
        for r in token_budget_sample(df, 400).collect()
    )
    want = _py_token_budget(docs, 400)
    assert got == want
    # delivered tokens never exceed quota, per source
    per_src: dict[str, int] = {}
    for _, s, t, _, q in got:
        per_src[s] = per_src.get(s, 0) + t
        assert per_src[s] <= q


def test_token_budget_saturation_caps_at_source_total(spark):
    from etl_s3_to_redshift_spark.operators.sampling import (
        token_budget_sample,
        token_quotas,
    )

    docs = [(0, "big", 1000), (1, "big", 1000), (2, "small", 3)]
    df = spark.createDataFrame(docs, "doc_id long, source string, n_tokens long")
    q = {r["source"]: r for r in token_quotas(df, 1500).collect()}
    assert q["small"]["quota"] <= 3  # capped at the source's total
    kept = token_budget_sample(df, 1500).collect()
    small = [r for r in kept if r["source"] == "small"]
    assert sum(r["doc_tokens"] for r in small) <= 3


# ---------------------------------------------------------------------------
# Line-hash dedup, keep-first
# ---------------------------------------------------------------------------


def _py_line_dedup(docs: dict[int, str]) -> dict:
    first: dict[str, tuple[int, int]] = {}
    occ = []
    for did in sorted(docs):
        for idx, line in enumerate(docs[did].split("\n")):
            if line.strip(" ") == "":
                continue
            key = re.sub(r"\s+", " ", line.lower()).strip(" ")
            occ.append((did, idx, line, key))
            if key not in first or (did, idx) < first[key]:
                first[key] = (did, idx)
    out = {}
    for did in docs:
        mine = [(idx, line) for d, idx, line, key in occ if d == did]
        kept = [
            (idx, line)
            for d, idx, line, key in occ
            if d == did and first[key] == (did, idx)
        ]
        out[did] = dict(
            n_lines=len(mine),
            n_kept=len(kept),
            clean_text="\n".join(l for _, l in sorted(kept)),
        )
    return out


def test_line_dedup_keep_first_fixtures(spark):
    from etl_s3_to_redshift_spark.operators.dedup import dedup_lines_keep_first

    docs = {
        0: "shared cookie banner line\nunique first content line\nshared footer",
        1: "shared cookie banner line\nunique second content line\nshared footer",
        2: "Shared  Cookie   Banner Line\nnormalization makes this a dup too",
        3: "repeated inside\nrepeated inside\nand one more",
        4: "",
        5: "   \n  ",  # only blank lines
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict() for r in dedup_lines_keep_first(df).collect()
    }
    want = _py_line_dedup(docs)
    assert len(got) == len(docs)
    for i in docs:
        for k, v in want[i].items():
            assert got[i][k] == v, (i, k, got[i][k], v)
    # doc 0 keeps everything (it is first); doc 1 loses banner+footer;
    # doc 2 is a normalized dup of the banner; doc 3 keeps one copy of
    # its internal repeat
    assert got[0]["n_kept"] == 3
    assert got[1]["n_kept"] == 1
    assert got[2]["n_kept"] == 1
    assert got[3]["n_kept"] == 2 and got[3]["n_lines"] == 3
    assert got[5]["n_lines"] == 0 and got[5]["clean_text"] == ""


line_doc = st.lists(
    st.sampled_from(["alpha line", "beta line", "Alpha  LINE", "", "  ", "gamma"]),
    min_size=0,
    max_size=5,
).map("\n".join)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(line_doc, min_size=1, max_size=5))
def test_line_dedup_matches_python_replay(spark, texts):
    from etl_s3_to_redshift_spark.operators.dedup import dedup_lines_keep_first

    docs = dict(enumerate(texts))
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict() for r in dedup_lines_keep_first(df).collect()
    }
    want = _py_line_dedup(docs)
    assert set(got) == set(want)
    for i in want:
        for k, v in want[i].items():
            assert got[i][k] == v, (i, k, got[i][k], v, docs[i])


# ---------------------------------------------------------------------------
# Greedy k-center coreset
# ---------------------------------------------------------------------------


def _py_kcenter(vecs: dict[int, list[float] | None], k: int):
    """Replay: seed = min clean id; each round picks max (rounded dist,
    -id is NOT used — ties break to SMALLER id); assignment updates on
    strict < after rounding; ties keep the earlier center."""
    from decimal import Decimal

    def r6(x):
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), rounding="ROUND_HALF_UP")
        )

    clean_ids = sorted(i for i, v in vecs.items() if v is not None)
    if not clean_ids:
        return {}, {}
    dim = len(vecs[clean_ids[0]])
    ok = {i for i in clean_ids if len(vecs[i]) == dim}
    seed = clean_ids[0]
    centers = [seed]

    def dist(a, b):
        return r6(sum((x - y) ** 2 for x, y in zip(a, b)) ** 0.5)

    mind = {i: dist(vecs[i], vecs[seed]) if i in ok else None for i in vecs if vecs[i] is not None}
    near = {i: 0 if i in ok else None for i in vecs if vecs[i] is not None}
    for rank in range(1, k):
        cands = [(i, d) for i, d in mind.items() if d is not None]
        if not cands:
            break
        far = sorted(cands, key=lambda t: (-t[1], t[0]))[0]
        if far[1] == 0.0:
            break
        cid = far[0]
        centers.append(cid)
        for i in list(mind):
            if mind[i] is None:
                continue
            d = dist(vecs[i], vecs[cid])
            if d < mind[i]:
                mind[i] = d
                near[i] = rank
    return centers, {i: (near.get(i), mind.get(i)) for i in vecs}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.lists(st.integers(-3, 3), min_size=3, max_size=3),
        min_size=1,
        max_size=12,
    ),
    k=st.integers(2, 5),
)
def test_kcenter_matches_python_replay(spark, rows, k):
    from etl_s3_to_redshift_spark.operators.similarity import kcenter_coreset

    vecs = {i: [float(x) for x in v] for i, v in enumerate(rows)}
    df = spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<float>"
    )
    got = {r["vec_id"]: r for r in kcenter_coreset(df, k=k).collect()}
    centers, assign = _py_kcenter(vecs, k)
    got_centers = {i for i, r in got.items() if r["is_center"]}
    assert got_centers == set(centers), (got_centers, centers)
    for i, (nr, d) in assign.items():
        assert got[i]["center_rank"] == nr, (i, got[i], nr)
        if d is None:
            assert got[i]["dist"] is None
        else:
            assert abs(got[i]["dist"] - d) <= 1e-9, (i, got[i]["dist"], d)


def test_kcenter_dirty_rows_never_selected(spark):
    from etl_s3_to_redshift_spark.operators.similarity import kcenter_coreset

    data = [
        (0, [0.0, 0.0, 0.0]),
        (1, [10.0, 0.0, 0.0]),
        (2, [0.0, 10.0, 0.0]),
        (3, None),
        (4, [1.0]),  # ragged
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in kcenter_coreset(df, k=3).collect()}
    assert len(got) == 5  # every row emitted; dirty ones with NULL metrics
    # all clean, mutually distant points become centers
    assert {i for i, r in got.items() if r["is_center"]} == {0, 1, 2}
    for dirty in (3, 4):
        if dirty in got:
            assert not got[dirty]["is_center"]
            assert got[dirty]["center_rank"] is None
    # a NaN or -Inf element makes the row dirty too: it is never a
    # center and carries NULL metrics, not a NaN distance
    for bad in (float("nan"), float("-inf")):
        rows = [(0, [0.0, 0.0]), (1, [bad, 1.0]), (2, [3.0, 4.0]), (3, [1.0, 1.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r["vec_id"]: r for r in kcenter_coreset(df, k=3).collect()}
        assert {i for i, r in got.items() if r["is_center"]} == {0, 2, 3}, (bad, got)
        assert tuple(got[1])[1:] == (None, None, False), (bad, got[1])


def test_kcenter_regimes_bit_identical_over_the_bound(spark, monkeypatch):
    """The driver (numpy farthest-first) and recompute (Spark rounds)
    regimes split on ``incremental_rows_max`` but must pick the same
    centers in the same rank order — the outputs must be row-for-row
    identical, doubles included, so the committed pin holds whichever
    side of the bound a deployment lands on (VERDICT r7 #5). Adversarial
    frames cover dirty rows, the early stop, rounded-distance ties, k
    past the distinct points, k=1, an all-dirty corpus and string ids;
    a NaN/-Inf element makes the row dirty in both regimes, and NULL ids
    must keep the Spark regime."""
    from etl_s3_to_redshift_spark.operators import similarity
    from etl_s3_to_redshift_spark.operators.similarity import kcenter_coreset

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    inc = sorted(tuple(r) for r in kcenter_coreset(emb, k=8).collect())
    rec = sorted(
        tuple(r)
        for r in kcenter_coreset(emb, k=8, incremental_rows_max=0).collect()
    )
    assert inc == rec and len(inc) == 500

    picks = []
    driver = similarity._kcenter_farthest_first

    def spy(*args):
        picks.append(driver(*args))
        return picks[-1]

    monkeypatch.setattr(similarity, "_kcenter_farthest_first", spy)

    def both(rows, k, schema="vec_id long, embedding array<double>"):
        df = spark.createDataFrame(rows, schema)
        picks.clear()
        got = [kcenter_coreset(df, k=k), kcenter_coreset(df, k=k, incremental_rows_max=0)]
        drv, rec = (sorted(repr(tuple(r)) for r in g.collect()) for g in got)
        assert drv == rec and len(drv) == len(rows), (rows, k, drv, rec)
        return picks[0] if picks else None  # None: no clean row, no regime ran

    mixed = [
        (0, [0.0, 0.0, 0.0]),  # seed
        (1, None),
        (2, [1.0]),  # ragged
        (3, [1.0, None, 0.0]),  # NULL element: dirty, never selectable
        (4, [3.0, 4.0, 0.0]),  # 4, 5, 6 and 8 all round to 5.0: id 4 wins
        (5, [0.0, 0.0, 5.0]),
        (6, [0.0, 3.0000001, 4.0]),
        (7, [3.0, 4.0, 0.0]),  # duplicate of 4
        (8, [-5.0, 0.0, 0.0]),
        (9, []),
    ]
    for k in (1, 7):  # 7 > the 5 distinct clean points: early stop
        assert len(both(mixed, k)) == min(k, 5)
    assert len(both([(i, [1.0, 2.0]) for i in range(4)], 3)) == 1  # identical
    assert both([(0, None), (1, [])], 3) is None  # all dirty
    strs = [
        ("b", [0.0, 0.0]),
        ("a", [1.0, 1.0]),
        ("\u00e4", [2.0, 0.0]),
        ("Z", [0.0, 2.0]),
        ("10", [1.0, -1.0]),
        ("9", [-1.0, 1.0]),
    ]
    centers = both(strs, 3, "vec_id string, embedding array<double>")
    assert centers[0][0] == "10"  # binary string order, as Spark sorts
    # the smallest-id non-empty row has a NULL element: it is dirty, so
    # the seed is the next clean row
    centers = both([(0, [1.0, None]), (1, [0.0, 1.0]), (2, [3.0, 4.0])], 2)
    assert [c for c, _ in centers] == [1, 2]
    for bad in (float("nan"), float("-inf")):
        rows = [(0, [0.0, 0.0]), (1, [bad, 1.0])]
        assert [c for c, _ in both(rows, 2)] == [0]  # the driver regime ran
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r["vec_id"]: tuple(r)[1:] for r in kcenter_coreset(df, k=2).collect()}
        assert got[1] == (None, None, False), (bad, got)  # dirty
    picks.clear()
    df = spark.createDataFrame(
        [(None, [0.0, 0.0]), (1, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    kcenter_coreset(df, k=2).collect()
    assert picks == [None]  # a NULL id keeps the Spark regime
    # past the collect byte budget (10 rows x 32 bytes here) the driver
    # regime is never entered
    monkeypatch.setattr(similarity, "_KCENTER_COLLECT_BYTES_MAX", 300)
    picks.clear()
    wide = [(i, [float(i), float(i % 3), 1.0]) for i in range(10)]
    assert both(wide, 4) is None


def test_kcenter_is_center_is_never_null(spark):
    """``is_center`` is a boolean on every row: a NULL-id center (the
    recompute regime's seed, NULL sorting first) is a center, and a row
    that matches no center is False, not NULL."""
    from etl_s3_to_redshift_spark.operators.similarity import kcenter_coreset

    rows = [(None, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [3.0, 4.0])]
    for extra, want in (
        ([], {None: True, 1: True, 2: True}),
        ([(3, [0.0, 0.1]), (4, None)], {None: True, 1: True, 2: True, 3: False, 4: False}),
    ):
        df = spark.createDataFrame(rows + extra, "vec_id long, embedding array<double>")
        got = {r["vec_id"]: r["is_center"] for r in kcenter_coreset(df, k=3).collect()}
        assert got == want


def test_round_half_up_matches_spark_round(spark):
    """The driver regime's HALF_UP helper equals Spark's ``round(x, 6)``
    bit for bit: half-grid doubles at three magnitudes (where the
    decimal string Spark rounds and the binary value disagree), their
    float neighbours, random distances and 0.0."""
    import pandas as pd
    from pyspark.sql import functions as F

    from etl_s3_to_redshift_spark.operators.similarity import _round_half_up

    halves = np.concatenate(
        [(np.arange(lo, lo + 200) + 0.5) * 1e-6 for lo in (0, 10**6 - 100, 10**9 - 100)]
    )
    xs = np.concatenate(
        [
            halves,
            np.nextafter(halves, -np.inf),
            np.nextafter(halves, np.inf),
            np.sqrt(np.random.default_rng(7).uniform(0.0, 16.0, 10_000)),
            [0.0],
        ]
    )
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(xs)), "x": xs}))
    want = (
        df.select("i", F.round("x", 6).alias("r")).toPandas().sort_values("i")["r"]
    ).to_numpy()
    got = _round_half_up(xs, 6, spark)
    assert got.view(np.int64).tolist() == want.view(np.int64).tolist()


def test_kcenter_small_input_build_jobs_do_not_grow_with_k(spark):
    """Under the row bound all k centers come from a fixed set of jobs —
    the seed probe, the vector-free count (two jobs under AQE) and ONE
    collect — not one Spark round per center, and the returned frame is
    lazy."""
    from etl_s3_to_redshift_spark.operators.similarity import kcenter_coreset

    from tests.conftest import SF_ORACLE

    sc = spark.sparkContext
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    jobs = {}
    try:
        for k in (1, 16):
            group = f"kcenter-small-input-build-k{k}"
            sc.setJobGroup(group, "kcenter_coreset build")
            kcenter_coreset(emb, k=k)
            jobs[k] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    assert jobs[16] == jobs[1] <= 4, jobs


def test_kcenter_releases_every_cache_block(spark):
    """kcenter must unpersist its internal caches (the base projection
    AND the incremental mindist chain) before returning (VERDICT r10
    #3): left persisted, a repeat call in the same session — a bench
    rep — silently re-binds to the old blocks via CacheManager
    plan-dedup, so reps 2..n measure a warm cache rep 1 never had."""
    from etl_s3_to_redshift_spark.operators.similarity import kcenter_coreset

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = kcenter_coreset(emb, k=5)
    out.write.format("noop").mode("overwrite").save()
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, f"leaked cache blocks: {after - before}"


# ---------------------------------------------------------------------------
# Tokenizer evaluation report
# ---------------------------------------------------------------------------


def test_tokenizer_report_matches_python_rollup(spark):
    """Train+apply+rollup on a tiny synthetic corpus equals a pure-
    Python replay (classic BPE from test_ops7 + per-slice sums)."""
    from tests.test_ops7 import _ref_bpe

    from etl_s3_to_redshift_spark.operators.bpe import apply_bpe_vocab, train_bpe

    docs = [
        (0, "en", "a", "low lower lowest low"),
        (1, "en", "a", "new newer newest new new"),
        (2, "en", "b", "low new low new"),
        (3, "de", "a", "neu neuer neuestes"),
        (4, "de", "b", ""),  # empty doc: 0 words, 0 tokens
    ]
    df = spark.createDataFrame(docs, "doc_id long, lang string, source string, text string")
    n_merges = 6
    wf = {}
    for _, _, _, t in docs:
        for w in t.lower().split():
            wf[w] = wf.get(w, 0) + 1
    merges = [(l, r) for _, l, r, _, _ in _ref_bpe(list(wf.items()), n_merges)]

    def tok(w):
        syms = list(w) + ["</w>"]
        for l, r in merges:
            out = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            syms = out
        return syms

    want = {}
    for _, lang, src, t in docs:
        ws = t.lower().split()
        g = want.setdefault((lang, src), [0, 0, 0, 0])
        g[0] += 1
        g[1] += len(ws)
        g[2] += sum(len(tok(w)) for w in ws)
        g[3] += sum(len(w) for w in ws)

    trained = [
        (r["left"], r["right"])
        for r in train_bpe(df, n_merges=n_merges).orderBy("merge_rank").collect()
    ]
    assert trained == merges  # identical tokenizer before the rollup
    toked = apply_bpe_vocab(
        df, trained, id_cols=["doc_id", "lang", "source"]
    )
    from pyspark.sql import functions as F

    got = {}
    for r in (
        toked.join(
            df.selectExpr(
                "doc_id",
                "size(filter(split(trim(lower(text)), '\\\\s+'), t -> t != '')) AS nw",
                "aggregate(filter(split(trim(lower(text)), '\\\\s+'), t -> t != ''),"
                " 0L, (a, x) -> a + length(x)) AS nc",
            ),
            "doc_id",
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.sum("nw").alias("nw"),
            F.sum(F.size("bpe_tokens")).alias("nt"),
            F.sum("nc").alias("nc"),
        )
        .collect()
    ):
        got[(r["lang"], r["source"])] = [r["nd"], r["nw"], r["nt"], r["nc"]]
    assert got == want, (got, want)


# ---------------------------------------------------------------------------
# Bitext LSH auto-sized banding
# ---------------------------------------------------------------------------


def test_bitext_ann_auto_planes_matches_fixed_at_small_corpus(spark):
    """n_planes=None derives bands*bits from the larger side; at the
    sf0.01 corpus (1000/side, target 1000/bucket) that is exactly the
    registered fixed-16 geometry, so outputs are identical — and the
    bit rule itself scales the bucket count with the corpus."""
    from pyspark.sql import functions as F

    from etl_s3_to_redshift_spark.operators.similarity import (
        _auto_band_bits,
        bitext_margin_pairs_lsh,
    )

    assert _auto_band_bits(1000) == 4
    assert _auto_band_bits(16_000) == 4
    assert _auto_band_bits(64_000) == 6
    assert _auto_band_bits(1_000_000) == 10
    assert _auto_band_bits(1) == 4

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    side = F.col("label") % 2 == 0
    fixed = sorted(
        tuple(r)
        for r in bitext_margin_pairs_lsh(emb, side, dim=64, n_planes=16).collect()
    )
    auto = sorted(
        tuple(r)
        for r in bitext_margin_pairs_lsh(emb, side, dim=64, n_planes=None).collect()
    )
    assert fixed == auto and len(fixed) > 0
