"""Text analysis over the documents table: token counting, quality
scoring, language-ID features, document fingerprinting.

All native Spark expressions (JVM-side, codegen'd) — each has an exact
ANSI-SQL oracle twin in queries.py. These are the text-pipeline ops a
large-scale training-data build needs on top of the KG engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Tokens: runs of word characters (BPE-ish lower bound: words + digits
# split), matching regexp behavior available in both Spark and DuckDB.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "for"]


def tokens(col: Column) -> Column:
    """array of tokens via regexp scan (JVM regex, no UDF)."""
    return F.regexp_extract_all(col, F.lit(f"({TOKEN_RE})"), 1)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def text_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-scan profile: token and word counts, stopword and
    punctuation ratios, mean word length, the [0,1] quality heuristic
    (long enough, not too punctuation-heavy, reasonable word lengths,
    some stopwords) and an order-independent fingerprint (md5 over the
    sorted distinct lowercase token set).

    PERF (r6): the tokenizer/word/punct regex subtrees are bound to
    columns in their own projections — an inline composition
    re-evaluates each regex up to 4x per row (interpreted higher-order
    functions have no common-subexpression elimination, and
    CollapseProject keeps multi-referenced non-cheap aliases bound
    instead of inlining them)."""
    c = F.col(text_col)
    base = docs.select(
        "doc_id",
        tokens(c).alias("__tk"),
        F.regexp_extract_all(c, F.lit(r"([A-Za-z0-9]+)"), 1).alias("__words"),
        F.size(F.regexp_extract_all(c, F.lit(r"([^A-Za-z0-9\s])"), 1))
        .alias("__np"),
        F.length(c).alias("__len"),
    )
    mid = base.select(
        "doc_id",
        F.size("__tk").alias("__ntk"),
        F.transform(F.col("__tk"), lambda t: F.lower(t)).alias("__tl"),
        F.size("__words").alias("__nw"),
        F.aggregate(F.col("__words"), F.lit(0),
                    lambda acc, w: acc + F.length(w)).alias("__wsum"),
        "__np", "__len",
    )
    pre = mid.select(
        "doc_id", "__ntk", "__nw", "__np", "__len",
        F.size(F.filter(F.col("__tl"), lambda t: t.isin(STOPWORDS)))
        .alias("__nstop"),
        (F.col("__wsum") / F.greatest(F.col("__nw"), F.lit(1)))
        .alias("__mwl"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(F.col("__tl"))),
                           " ")).alias("fingerprint"),
    )
    stop_ratio = F.col("__nstop") / F.greatest(F.col("__ntk"), F.lit(1))
    punct = F.col("__np") / F.greatest(F.col("__len"), F.lit(1))
    mwl = F.col("__mwl")
    len_ok = F.least(F.col("__len") / F.lit(200.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct * 5, F.lit(1.0))
    wl_ok = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    stop_ok = F.least(stop_ratio * 10, F.lit(1.0))
    return pre.select(
        "doc_id",
        F.col("__ntk").alias("n_tokens"),
        F.col("__nw").alias("n_words"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round((len_ok + punct_ok + wl_ok + stop_ok) / 4, 6).alias("quality"),
        "fingerprint",
    )


# language-ID: tiny function-word n-gram heuristic. Scores = hit counts
# of per-language marker words; argmax with deterministic tie-break on
# language code. (The synthetic corpus is English-like word salad — the
# point is the distributed scoring pattern, exercised end-to-end.)
LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "de", "et", "un"],
    "de": ["der", "die", "und", "das", "ein"],
}


def lang_scores(col: Column) -> dict[str, Column]:
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    scores = lang_scores(F.col(text_col))
    pairs = F.array(*[
        F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
        for lang in sorted(LANG_MARKERS)
    ])
    # max score, tie-break by lang code ascending: sort by (-score, lang)
    best = F.array_sort(pairs, lambda a, b:
                        F.when(a["score"] > b["score"], -1)
                        .when(a["score"] < b["score"], 1)
                        .when(a["lang"] < b["lang"], -1)
                        .when(a["lang"] > b["lang"], 1)
                        .otherwise(0))[0]
    return docs.select(
        "doc_id",
        best["lang"].alias("lang_pred"),
        best["score"].cast("int").alias("lang_score"),
    )


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        k: int = 4, w: int = 4) -> DataFrame:
    """MOSS winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
    rolling k-gram fingerprints with window-minimum selection.
    Guarantee: any token run of length ≥ w + k - 1 shared by two
    documents yields at least one shared fingerprint; total selected
    fingerprints ≈ 2/(w+1) of all grams (density bound from the
    paper). The gram hash is the md5 hex STRING and the window picks
    the lexicographic minimum — a total order available identically
    in Spark and ANSI SQL, so the oracle reproduces it bit-for-bit.

    Scale shape: gram derivation is one codegen'd map pass (posexplode
    of a per-row array); the window min shuffles once on doc_id — the
    same partitioning every per-document op in this module uses.
    Output: (doc_id, fp) distinct selected fingerprints."""
    from pyspark.sql import Window

    # token array bound to its own projection: the tokenizer subtree
    # must not ride into the per-position lambda (interpreted HOFs
    # have no common-subexpression elimination — see shingle_table)
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
        .alias("__toks"))
    toks = F.col("__toks")
    n_grams = F.size(toks) - (k - 1)
    # guard: F.sequence(1, 0) yields a DESCENDING [1, 0], not empty —
    # short docs must produce an empty gram array explicitly
    gram_idx = F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)) \
        .otherwise(F.array().cast("array<int>"))
    grams = toked.select(
        "doc_id",
        F.posexplode(
            F.transform(gram_idx,
                        lambda i: F.md5(F.array_join(F.slice(toks, i, k),
                                                     " ")))).alias("pos", "h"),
        F.greatest(n_grams - w, F.lit(0)).alias("max_start"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos") \
        .rowsBetween(Window.currentRow, w - 1)
    return (grams.withColumn("fp", F.min("h").over(win))
            .filter(F.col("pos") <= F.col("max_start"))
            .select("doc_id", "fp").distinct())


def gopher_quality(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   min_words: int = 20, max_words: int = 100000,
                   ) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1,
    adapted to the corpus scale): per-rule booleans + the fused keep
    flag, all as codegen'd expressions over ONE scan — the shape a
    100-TB filter pass needs (no shuffle at all).

    Rules: word count in [min_words, max_words]; mean word length in
    [3, 10]; >= 70% of words contain an alphabetic character; at least
    2 distinct stopwords present (the 'the/and/of' test)."""
    text = F.col(text_col)
    words = F.regexp_extract_all(text, F.lit(r"([A-Za-z0-9]+)"), 1)
    n_words = F.size(words)
    mwl = (F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w))
           / F.greatest(n_words, F.lit(1)))
    alpha_frac = (F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
                  / F.greatest(n_words, F.lit(1)))
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(F.transform(words, lambda w: F.lower(w))),
        F.array(*[F.lit(s) for s in STOPWORDS])))
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
    )
    keep = ((F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words)
            & (F.col("mean_word_len") >= 3)
            & (F.col("mean_word_len") <= 10)
            & (F.col("alpha_word_frac") >= 0.7)
            & (F.col("stop_hits") >= 2))
    return out.withColumn("keep", keep)


def repetition_profile(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher repetition rules: excess duplicate-3-gram fraction
    ((total - distinct) / total 3-grams — each repeat beyond the first
    counts) and the coverage of the single most frequent 2-gram.
    dup_3gram_frac is a pure array expression (zero shuffle);
    top_2gram_frac needs the per-doc 2-gram mode — explode + one
    fused count/max groupBy pair, the standard two-shuffle mode plan
    (never a per-doc collect)."""
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
        .alias("__toks"))
    toks = F.col("__toks")

    def grams(k: int) -> Column:
        n = F.size(toks) - (k - 1)
        idx = F.when(n >= 1, F.sequence(F.lit(1), n)) \
            .otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: F.array_join(
            F.slice(toks, i, k), " "))

    base = toked.select(
        "doc_id",
        F.size(grams(3)).alias("n_3grams"),
        (F.when(F.size(grams(3)) > 0,
                (F.size(grams(3))
                 - F.size(F.array_distinct(grams(3)))).cast("double")
                / F.size(grams(3))).otherwise(F.lit(0.0))
         ).alias("dup_3gram_frac"),
        grams(2).alias("__g2"),
    )
    g2 = (base.select("doc_id", F.explode_outer("__g2").alias("g"))
          .groupBy("doc_id", "g").count()
          .groupBy("doc_id")
          .agg(F.max(F.when(F.col("g").isNotNull(), F.col("count"))
                     .otherwise(F.lit(0))).alias("__top2")))
    return (base.drop("__g2").join(g2, "doc_id")
            .select("doc_id", "n_3grams",
                    F.round("dup_3gram_frac", 6).alias("dup_3gram_frac"),
                    F.round(F.col("__top2").cast("double")
                            / F.greatest(F.col("n_3grams") + 1, F.lit(1)),
                            6).alias("top_2gram_frac")))
