"""Deduplication suite over the documents table.

- exact:          hash-groupBy on full text (md5), canonical = min doc_id
- ngram Jaccard:  word-shingle set similarity with prefix-filter
                  blocking + exact Jaccard verification
- MinHash+LSH:    linking.lsh_pairs, the one signature/band/bucket-join
                  blocker, here over word shingles
- SimHash:        64-bit hyperplane-free sketch from token hashes
- embedding:      cosine near-dup over the embeddings table

Scale notes: every op is shuffle-bounded by (a) a groupBy on a content
hash (exact), or (b) the band-bucket groupBy (minhash), never by an
all-pairs join. Exact Jaccard verification touches only LSH candidate
pairs. At 100 TB the band/bucket cardinality is the tuning knob
(bands × rows trade recall vs candidate volume).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..linking import lsh_pairs
from ..scope import Scope
from .text import tokens


def word_shingles(col: Column, k: int = 1) -> Column:
    """Distinct lowercase word k-shingles (k=1 → vocabulary set).

    PERF: inline column expression — the tokenizer subtree re-evaluates
    once per shingle position inside the interpreted lambda (no CSE in
    HOFs). For document-scale inputs use shingle_table(), which binds
    the token array in its own projection first (measured 17x faster)."""
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    if k == 1:
        return F.array_distinct(toks)
    n = F.size(toks) - (k - 1)
    # guard: F.sequence(1, 0) yields a DESCENDING [1, 0], not empty —
    # short docs must produce an empty shingle set instead
    return F.when(n >= 1, F.array_distinct(
        F.transform(F.sequence(F.lit(1), n),
                    lambda i: F.array_join(F.slice(toks, i, k), " "))),
    ).otherwise(F.slice(toks, 1, 0))  # typed empty array


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, content_hash, canonical_id, group_size): canonical is
    the min doc_id among exact-duplicate texts. One shuffle on the
    content hash; skew-free (hash keys are uniform)."""
    hashed = docs.select("doc_id", F.md5(F.col(text_col)).alias("content_hash"))
    groups = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("group_size"))
    return (hashed.join(groups, on="content_hash")
            .select("doc_id", "content_hash", "canonical_id", "group_size"))


def shingle_table(docs: DataFrame, id_col: str, text_col: str,
                  shingle_k: int) -> DataFrame:
    """(i, sh: array<string>) — the tokenization+shingling pass, split
    out so multi-stage consumers (signatures + exact verify) derive it
    ONCE and persist instead of re-tokenizing the corpus per stage.

    Two projections on purpose: higher-order functions are interpreted
    with NO common-subexpression elimination, so a tokenizer subtree
    referenced inside the per-position shingle lambda re-evaluates
    once per position per row. Binding the token array to a column in
    its own projection (which CollapseProject does not inline into
    lambdas) evaluates the tokenizer once per row — measured 9.5 s →
    0.5 s over 5000 docs at sf0.1."""
    toked = docs.select(
        F.col(id_col).alias("i"),
        F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
        .alias("__toks"))
    n = F.size(F.col("__toks")) - (shingle_k - 1)
    if shingle_k == 1:
        sh = F.array_distinct(F.col("__toks"))
    else:
        sh = F.when(n >= 1, F.array_distinct(
            F.transform(F.sequence(F.lit(1), n),
                        lambda i: F.array_join(
                            F.slice(F.col("__toks"), i, shingle_k), " ")))
        ).otherwise(F.slice(F.col("__toks"), 1, 0))
    return toked.select("i", sh.alias("sh"))


def lsh_candidates(docs: DataFrame, id_col: str, text_col: str,
                   n_bands: int, rows_per_band: int,
                   shingle_k: int = 1,
                   max_bucket_size: int | None = None,
                   shingles: DataFrame | None = None,
                   salt_hot_buckets: bool = False) -> DataFrame:
    """(a, b) candidate pairs sharing ≥1 minhash band bucket: the
    word-shingle table through linking.lsh_pairs.

    Shuffles: one groupBy(id) for signatures, one band-bucket self-join
    (bounded by bucket sizes, never all-pairs).

    ``max_bucket_size`` drops degenerate buckets (empty/boilerplate
    docs whose identical signatures put the whole corpus in one bucket,
    making the per-bucket self-join quadratic). Default None = exact
    LSH recall (oracle-parity configuration); production callers should
    cap (linking.MAX_BUCKET_SIZE is the shared default).

    ``shingles``: optional precomputed shingle_table(docs, ...) —
    pass it (persisted) when the caller also needs the shingle sets."""
    if shingles is None:
        shingles = shingle_table(docs, id_col, text_col, shingle_k)
    return lsh_pairs(shingles, n_bands, rows_per_band, max_bucket_size,
                     salt=salt_hot_buckets)


def prefix_filter_candidates(sh: DataFrame, threshold: float, *,
                             scope: Scope) -> DataFrame:
    """(a, b) candidate pairs for an EXACT Jaccard-join at
    ``threshold`` via prefix filtering (AllPairs/PPJoin family —
    public algorithm; Bayardo et al. 'Scaling Up All Pairs Similarity
    Search', Xiao et al. PPJoin):

    sort every doc's shingles by GLOBAL document frequency (rarest
    first); if J(A,B) ≥ t then |A∩B| ≥ ceil(t·max(|A|,|B|)), and two
    sets with overlap ≥ o sorted by one total order must share a
    token within their first (|X|-o+1) elements — so docs only join
    on their ``|X| - ceil(t·|X|) + 1`` RAREST shingles. Guaranteed
    recall 1.0 (unlike r=1 minhash banding, whose candidate volume
    explodes with corpus size: any pair sharing ONE min-hash
    collides; measured 226k candidates for 256 true pairs at sf0.1).
    Common boilerplate shingles never become join keys unless a doc
    consists almost entirely of them, which bounds bucket sizes by
    token rarity instead of luck.

    Shuffles: one groupBy(shingle) for document frequencies, one
    window sort per doc, one token self-join. All codegen'd.

    PERF (r6, guide §2.4/§5): (a) the per-doc set size rides in from
    F.size on the pre-explode array instead of a second count window
    (same exchange, one window pass less); (b) the ranked-prefix
    relation is materialized ONCE (persist) — it feeds BOTH sides of
    the token self-join, and without sharing the whole explode →
    doc-frequency join → window pipeline executed twice, once per
    join side (the broadcast side rebuilt it from scratch in the
    round-start plan). persist, NOT lazy localCheckpoint: a lazy
    checkpoint plans the whole subtree at construction time — pure
    driver latency (guide §1.2, measured ~0.5 s of the registry
    query's build). The persist goes into the caller's ``scope``."""
    from pyspark.sql import Window

    tok = sh.select("i", F.size("sh").alias("__sz"),
                    F.explode("sh").alias("s"))
    dfreq = tok.groupBy("s").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("i").orderBy("__df", "s")
    ranked = (tok.join(dfreq, on="s")
              .withColumn("__rk", F.row_number().over(w)))
    prefix = scope.persist(ranked.filter(
        F.col("__rk") <= F.col("__sz") - F.ceil(threshold * F.col("__sz"))
        + 1).select("i", "s", "__rk", "__sz"))
    left = prefix.select(F.col("s"), F.col("i").alias("a"),
                         F.col("__rk").alias("__ra"),
                         F.col("__sz").alias("__sa"))
    right = prefix.select(F.col("s"), F.col("i").alias("b"),
                          F.col("__rk").alias("__rb"),
                          F.col("__sz").alias("__sb"))
    # PPJoin length + positional filters, applied per matching token
    # BEFORE the distinct (exact-safe: a true pair always survives via
    # its FIRST shared token in the global order):
    #   length: J ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|)
    #   positional: required overlap o = ceil(t/(1+t)·(|A|+|B|));
    #     common tokens all rank ≥ this one, so achievable overlap is
    #     ≤ min(|A|-ra, |B|-rb)+1 — prune when that can't reach o.
    o = F.ceil(threshold / (1.0 + threshold)
               * (F.col("__sa") + F.col("__sb")))
    ubound = F.least(F.col("__sa") - F.col("__ra"),
                     F.col("__sb") - F.col("__rb")) + 1
    # sizes ride along (functionally dependent on (a, b), so the
    # distinct keeps its cardinality): the caller's exact-verify join
    # needs them and would otherwise re-join the size relation twice
    out = (left.join(right, on="s")
           .filter((F.col("a") < F.col("b"))
                   & (F.least("__sa", "__sb").cast("double")
                      >= threshold * F.greatest("__sa", "__sb"))
                   & (ubound >= o))
           .select("a", "b", F.col("__sa").alias("sza"),
                   F.col("__sb").alias("szb")).distinct())
    return out


def ngram_jaccard_pairs(docs: DataFrame, threshold: float,
                        id_col: str = "doc_id", text_col: str = "text",
                        shingle_k: int = 1,
                        shingles: DataFrame | None = None, *,
                        scope: Scope) -> DataFrame:
    """Near-duplicate pairs by word-shingle Jaccard ≥ threshold —
    EXACT (recall 1.0 vs a brute-force oracle): prefix-filter candidate
    generation, whose volume is bounded by token rarity, then exact
    verification.

    The shingle relation is derived once and persisted — it feeds both
    candidate generation and the exact-verify joins. Callers that share
    it pass ``shingles`` (a persisted shingle_table); when omitted, it
    is persisted into ``scope``, which owns every persist made here."""
    sh_str = shingles if shingles is not None else \
        scope.persist(shingle_table(docs, id_col, text_col, shingle_k))
    # PERF (r6): candidate generation + exact verification run on
    # xxhash64-hashed shingles — the doc-frequency groupBy, the window
    # sort, the token self-join and the per-pair array_intersect all
    # move 8-byte longs instead of ~20-byte shingle strings (measured
    # 2.35s -> 1.67s warm at sf0.1, output multiset-identical). The
    # prefix-filter guarantee holds under ANY consistent total order on
    # tokens, so ordering by (df, hash) instead of (df, string) keeps
    # recall 1.0; Jaccard over hashed sets equals string Jaccard unless
    # xxhash64 collides within one candidate pair's union (~1e-13 at
    # corpus scale — the same collision budget every minhash stage here
    # already accepts).
    sh = sh_str.select("i",
                       F.transform("sh", lambda s: F.xxhash64(s)).alias("sh"))
    # sizes + the length filter come out of the prefix join itself
    cands = prefix_filter_candidates(sh, threshold, scope=scope)
    # Pin the verify stage's parallelism (r6, guide §2.5): the
    # candidate relation is a few MB of (a, b, sizes) ints, so AQE's
    # byte-based partition coalescing folded the whole array-intersect
    # stage onto 2 tasks (measured ~1.5 s wall on 2 of 32 cores) —
    # bytes mispredict cost for CPU-dense array work. An explicit
    # round-robin repartition to the session's shuffle width is exempt
    # from coalescing; it shuffles only the int rows, never the
    # shingle arrays, at any scale.
    n_verify = int(cands.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cands = cands.repartition(n_verify)
    a = sh.select(F.col("i").alias("a"), F.col("sh").alias("sha"))
    b = sh.select(F.col("i").alias("b"), F.col("sh").alias("shb"))
    joined = cands.join(a, on="a").join(b, on="b")
    # |A∪B| = |A|+|B|-|A∩B|: one array op per pair instead of two
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    out = (joined
           .withColumn("__i", inter)
           .withColumn("jaccard", F.col("__i").cast("double")
                       / (F.col("sza") + F.col("szb") - F.col("__i")))
           .filter(F.col("jaccard") >= threshold)
           .select("a", "b", F.round("jaccard", 6).alias("jaccard")))
    return out


def simhash_md5_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash with md5-derived token hashes, emitted as a
    64-char '0'/'1' string — engine-agnostic (md5 exists everywhere) so
    an exact SQL oracle can reproduce it bit-for-bit.

    Arrow-batched pandas UDF: SimHash is the textbook case where the
    per-token inner loop doesn't decompose into single JVM expressions
    cheaply, so it rides the sanctioned slow path (mapInPandas)."""
    import hashlib
    import re as _re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from .text import TOKEN_RE

    tok_re = _re.compile(TOKEN_RE)

    def simhash_one(text: str) -> str:
        counts = np.zeros(64, dtype=np.int64)
        for tok in tok_re.findall(text.lower()):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
            bits = np.array([(h >> j) & 1 for j in range(64)], dtype=np.int64)
            counts += bits * 2 - 1
        return "".join("1" if c > 0 else "0" for c in counts)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("simhash", T.StringType(), False),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "simhash": pdf[text_col].map(simhash_one),
            })

    return docs.select("doc_id", text_col).mapInPandas(gen, schema=schema)


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.95,
                            block_col: str = "label") -> DataFrame:
    """Cosine near-dup pairs, blocked by a coarse key (here the label
    column; at scale an LSH/IVF bucket) so the pair join is per-block
    instead of all-pairs."""
    norm = F.sqrt(F.aggregate(F.col("embedding"), F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x))
    e = emb.select(F.col("vec_id").alias("i"), F.col(block_col).alias("blk"),
                   F.col("embedding").alias("v"), norm.alias("n"))
    a = e.select(F.col("i").alias("a"), "blk", F.col("v").alias("va"),
                 F.col("n").alias("na"))
    b = e.select(F.col("i").alias("b"), "blk", F.col("v").alias("vb"),
                 F.col("n").alias("nb"))
    dot = F.aggregate(F.zip_with(F.col("va"), F.col("vb"),
                                 lambda x, y: x.cast("double") * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return (a.join(b, on="blk").filter(F.col("a") < F.col("b"))
            .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
            .filter(F.col("cosine") >= threshold)
            .select("a", "b", F.round("cosine", 6).alias("cosine")))


def decontaminate(docs: DataFrame, eval_docs: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  shingle_k: int = 5) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word ``shingle_k``-gram with an evaluation/benchmark set
    (the n-gram-overlap rule used to scrub eval leakage from LLM
    training corpora; production uses k=13, synthetic fixtures use
    k=5 because their documents are short).

    Returns (doc_id, n_hit_ngrams, contaminated) for EVERY training
    doc — n_hit_ngrams = distinct shared shingles, contaminated =
    n_hit_ngrams >= 1.

    Scale shape: the eval side is small by construction (benchmarks
    are a few thousand documents against a 100-TB corpus), so its
    distinct shingle set is BROADCAST; the corpus side is one
    explode + broadcast-hash join + one groupBy(doc_id) with map-side
    partial aggregation. The corpus is never shuffled on the shingle
    key.
    """
    from pyspark.sql.functions import broadcast

    corpus_sh = shingle_table(docs, id_col, text_col, shingle_k)
    eval_sh = (shingle_table(eval_docs, id_col, text_col, shingle_k)
               .select(F.explode("sh").alias("g")).distinct())
    hits = (corpus_sh.select("i", F.explode("sh").alias("g"))
            .join(broadcast(eval_sh), on="g", how="inner")
            .groupBy("i").agg(F.count_distinct("g").alias("n_hit_ngrams")))
    return (docs.select(F.col(id_col).alias("i"))
            .join(hits, on="i", how="left")
            .select(F.col("i").alias(id_col),
                    F.coalesce("n_hit_ngrams", F.lit(0))
                    .alias("n_hit_ngrams"))
            .withColumn("contaminated", F.col("n_hit_ngrams") >= 1))
