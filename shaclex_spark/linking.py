"""Entity linking & canonicalization: mention IRIs → stable canonical IRIs.

North-star stage (BASELINE.json): MinHash-LSH blocking + Jaccard
scoring + connected-components canonicalization. All native DataFrame
ops — ``lsh_pairs`` is the package's one MinHash-LSH blocker (explode
+ groupBy-min signatures, hashed bands, hot-bucket cap, per-bucket
self-join), shared with document dedup (functions/dedup.py);
verification by shingle-set Jaccard, and connected components by
alternating large-star/small-star label propagation (the map-reduce
CC algorithm of Kiveris et al., "Connected Components in MapReduce
and Beyond" — public algorithm), a driver loop with localCheckpoint
per round.

Determinism: canonical id = min member id per component (SURVEY.md
§7.3 'canonical IRI assignment must be order-independent').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MENTION_PREFIX = "http://example.org/mention/"
ENTITY_PREFIX = "http://example.org/entity/"

# r=2 rows/band: candidate-recall for true pairs at J≈0.6 is
# 1-(1-J^2)^12 ≈ 0.998; false candidates are removed by the exact
# Jaccard verify stage, so small r costs only candidate volume.
N_HASHES = 24          # minhash signature length
N_BANDS = 12           # bands × rows = N_HASHES (r=2)
SHINGLE_K = 3          # character shingle width
JACCARD_THRESHOLD = 0.55
MAX_CC_ROUNDS = 30


def _shingles(col):
    """Distinct character SHINGLE_K-shingles of a padded string, as
    array<string>."""
    padded = F.concat(F.lit("^"), col, F.lit("$"))
    n = F.greatest(F.length(padded) - (SHINGLE_K - 1), F.lit(1))
    idx = F.sequence(F.lit(1), n)
    return F.array_distinct(
        F.transform(idx, lambda i: padded.substr(i, F.lit(SHINGLE_K))))


MAX_BUCKET_SIZE = 2000  # hot-bucket cap: a degenerate bucket of size s
#                         costs s² pair rows; capping bounds the
#                         per-bucket self-join. True near-dup pairs
#                         share many OTHER bands, so recall loss is
#                         confined to pathological (empty/boilerplate)
#                         content that exact-dedup should eat first.


def _cap_buckets(bands: DataFrame, max_bucket_size: int | None,
                 salt: bool = False) -> DataFrame:
    """Bound the per-bucket self-join cost of (band, bucket) groups
    larger than the cap. Hot buckets are few by definition ⇒ the
    over-cap list (with sizes) is broadcast; the sizes aggregation is
    one map-side-combined shuffle.

    salt=False (drop): over-cap buckets are removed entirely — right
    for degenerate boilerplate (empty docs, templated banners) whose
    members exact-dedup should have eaten first.

    salt=True (split): an over-cap bucket of size s is split into
    ceil(s/cap) hash-salted sub-buckets, so the pair join runs
    per-sub-bucket: cost drops from s² to ~s·cap while every member
    still pairs with ~cap co-members. For a LEGITIMATE large near-dup
    cluster (which shares ALL bands, so dropping would erase it from
    every band) this keeps recall: each band partitions the cluster
    differently (the salt is keyed on the member id AND the bucket
    hash, which differs per band), so the union of within-sub-bucket
    cliques across bands connects the cluster — downstream
    canonicalization needs connectivity, not every individual pair."""
    if not max_bucket_size:
        return bands
    key = [c for c in ("band", "bucket") if c in bands.columns]
    id_col = next(c for c in bands.columns if c not in key)
    hot = (bands.groupBy(*key).agg(F.count("*").alias("__sz"))
           .filter(F.col("__sz") > max_bucket_size))
    if not salt:
        return bands.join(F.broadcast(hot.select(*key)), on=key,
                          how="left_anti")
    joined = bands.join(F.broadcast(hot), on=key, how="left")
    n_sub = F.ceil(F.col("__sz") / F.lit(max_bucket_size))
    salted_bucket = F.when(
        F.col("__sz").isNull(), F.col("bucket")).otherwise(
        # re-key: sub-bucket id folded into the bucket hash; keyed on
        # (member, bucket) so each band splits a cluster differently
        F.xxhash64(F.col("bucket"),
                   F.pmod(F.xxhash64(F.col(id_col), F.col("bucket")), n_sub)))
    return joined.select(*[c for c in bands.columns if c != "bucket"],
                         salted_bucket.alias("bucket"))


def lsh_pairs(shingles: DataFrame, n_bands: int, rows_per_band: int,
              max_bucket_size: int | None, salt: bool) -> DataFrame:
    """The MinHash-LSH blocker: distinct (a, b), a < b, over the ids of
    an (i, sh: array<string>) shingle relation whose signatures share
    any band bucket.

    Signatures: h[j] = min over sh of xxhash64(s, j), as explode +
    groupBy min-aggregates — whole-stage-codegen'd, map-side partial
    aggregation, one shuffle on the id (an inline higher-order-function
    signature is interpreted, with no codegen and no common-
    subexpression elimination). Band b's bucket is
    xxhash64(concat_ws(',', its rows_per_band hashes), b).

    Scale note: the band-bucket self-join is per bucket, never
    all-pairs, and ``max_bucket_size`` caps degenerate buckets (e.g.
    many near-empty strings hashing to one band value) whose s²
    self-join would otherwise re-introduce the quadratic blow-up LSH
    exists to avoid; ``salt`` splits them instead of dropping them
    (see _cap_buckets)."""
    n_hashes = n_bands * rows_per_band
    sh = shingles.select("i", F.explode("sh").alias("s"))
    sig = sh.groupBy("i").agg(*[
        F.min(F.xxhash64(F.col("s"), F.lit(j))).alias(f"h{j}")
        for j in range(n_hashes)])
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.concat_ws(
                ",", *[F.col(f"h{b * rows_per_band + r}").cast("string")
                       for r in range(rows_per_band)]), F.lit(b)).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    bands = sig.select(
        "i", F.explode(F.array(*band_cols)).alias("bb"),
    ).select("i", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    bands = _cap_buckets(bands, max_bucket_size, salt=salt)
    left = bands.select("band", "bucket", F.col("i").alias("a"))
    right = bands.select("band", "bucket", F.col("i").alias("b"))
    return (left.join(right, on=["band", "bucket"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


def candidate_pairs(mentions: DataFrame,
                    max_bucket_size: int | None = MAX_BUCKET_SIZE,
                    salt_hot_buckets: bool = False) -> DataFrame:
    """(a, b) candidate pairs of a one-column (mention) relation: the
    character-shingle sets through lsh_pairs at N_BANDS bands of
    N_HASHES / N_BANDS rows."""
    sh = mentions.select(F.col("mention").alias("i"),
                         _shingles(F.col("mention")).alias("sh"))
    return lsh_pairs(sh, N_BANDS, N_HASHES // N_BANDS, max_bucket_size,
                     salt=salt_hot_buckets)


def jaccard_verify(pairs: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs; keep edges ≥ threshold."""
    withsets = pairs.select(
        "a", "b",
        _shingles(F.col("a")).alias("sa"),
        _shingles(F.col("b")).alias("sb"),
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size(F.array_union(F.col("sa"), F.col("sb")))
    return (withsets
            .withColumn("jaccard", inter / union)
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond', alg. 2): for every node u with neighborhood
    Γ(u), connect each strictly-larger neighbor to m = min(Γ(u) ∪ {u}).
    One symmetrize + one groupBy-min + one join per round."""
    sym = (e.select(F.col("u"), F.col("v"))
           .unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    return (sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"),
                    F.least(F.col("mn"), F.col("u")).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round (alg. 3): orient edges high→low, connect every
    smaller-or-equal neighbor (and u itself) to m = min neighbor."""
    hi_lo = e.select(F.greatest("u", "v").alias("u"),
                     F.least("u", "v").alias("v")).filter(F.col("u") != F.col("v"))
    mins = hi_lo.groupBy("u").agg(F.min("v").alias("mn"))
    to_min = (hi_lo.join(mins, on="u")
              .select(F.col("v").alias("u"), F.col("mn").alias("v")))
    self_to_min = mins.select(F.col("u"), F.col("mn").alias("v"))
    return (to_min.unionByName(self_to_min)
            .filter(F.col("u") != F.col("v"))
            .distinct())


DRIVER_CC_MAX_EDGES = 500_000  # small-graph fast path bound


def _driver_union_find(edge_rows: list, vert_rows: list) -> list[tuple]:
    """Union-find on the driver — EXACTLY the same output as the
    distributed star contraction (components are algorithm-independent
    and the label is the component min either way)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-label as root
    comp: dict[str, str] = {}
    members: dict[str, list] = {}
    for x in vert_rows:
        members.setdefault(find(x), []).append(x)
    out = []
    for root, xs in members.items():
        lo = min(xs + [root])
        for x in xs:
            out.append((x, lo))
    return out


def connected_components(edges: DataFrame, vertices: DataFrame,
                         max_rounds: int = MAX_CC_ROUNDS,
                         return_rounds: bool = False,
                         driver_threshold: int = DRIVER_CC_MAX_EDGES):
    """(node, component) with component = min node id in the component.

    Small graphs (≤ ``driver_threshold`` edges — the common case when
    the mention dimension is a bounded vocabulary) run a driver-side
    union-find: identical output, none of the per-round Spark-job
    latency that dominates a local run (Amdahl's serial fraction).

    Large graphs run alternating large-star/small-star edge contraction
    (Kiveris et al., 'Connected Components in MapReduce and Beyond' —
    public algorithm): converges in O(log n) rounds REGARDLESS of
    component diameter, so a mention chain A~B~C~… (the skew-linked
    shape naive min-label propagation walks one hop per round) finishes
    logarithmically. Driver loop with localCheckpoint per round to cut
    lineage.

    ``return_rounds=True`` additionally returns the number of
    large+small star rounds executed (for convergence tests)."""
    spark = vertices.sparkSession
    v = vertices.select(F.col(vertices.columns[0]).alias("node")).distinct()
    e = (edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct().localCheckpoint(eager=True))
    rounds = 0
    n_edges = e.count()
    if n_edges == 0:
        labels = v.select("node", F.col("node").alias("comp"))
        return (labels, rounds) if return_rounds else labels
    if n_edges <= driver_threshold:
        # cheap vertex-count guard BEFORE any collect: a sparse-edge
        # graph can still carry millions of isolated vertices, and
        # collecting them to test len() would OOM the driver. limit+1
        # short-circuits the count at the threshold.
        n_verts_capped = v.limit(driver_threshold + 1).count()
        if n_verts_capped <= driver_threshold:
            # Arrow transfers (r6): toPandas moves the edge/vertex
            # relations as columnar batches — the row-at-a-time
            # collect() cost several seconds of py4j serialization at
            # the 500k-edge threshold.
            import pandas as pd

            epdf = e.toPandas()
            pairs = list(zip(epdf["u"], epdf["v"]))
            verts = v.toPandas()["node"].tolist()
            labels = spark.createDataFrame(
                pd.DataFrame(_driver_union_find(pairs, verts),
                             columns=["node", "comp"]),
                "node string, comp string")
            return (labels, rounds) if return_rounds else labels
    # order-independent edge-set fingerprint: one tiny agg per round
    # (ANSI-safe bit_xor, no overflow) — convergence = fingerprint+count
    # stable across a large-star/small-star pair.
    def _fp(df: DataFrame) -> tuple:
        row = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x")).collect()[0]
        return (row["n"], row["x"])

    prev = _fp(e)
    for _ in range(max_rounds):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        rounds += 1
        cur = _fp(e)
        if cur == prev:
            break
        prev = cur
    # at convergence the edge set is a union of stars rooted at each
    # component's min: every non-root points directly at the root.
    roots = e.groupBy("u").agg(F.min("v").alias("comp")) \
        .select(F.col("u").alias("node"), "comp")
    labels = (v.join(roots, on="node", how="left")
              .select("node", F.coalesce(F.col("comp"), F.col("node")).alias("comp")))
    return (labels, rounds) if return_rounds else labels


def _driver_link(mentions: list[str]) -> list[tuple]:
    """Driver-side mirror of candidate_pairs→jaccard_verify→CC for a
    small mention vocabulary: vectorized minhash (one crc32 base hash
    per DISTINCT shingle + an affine uint64 hash family applied as one
    numpy broadcast; per-mention minima via minimum.reduceat — the
    per-(mention,shingle,seed) md5 loop this replaces was ~10× slower
    and pure serial time), banded buckets, exact shingle-Jaccard on
    candidates, union-find components. Deterministic across runs and
    processes (crc32 + fixed md5-derived family parameters)."""
    import hashlib
    from zlib import crc32

    import numpy as np

    def shingles(m: str) -> frozenset:
        p = "^" + m + "$"
        return frozenset(p[i:i + SHINGLE_K]
                         for i in range(max(len(p) - SHINGLE_K + 1, 1)))

    sh = {m: shingles(m) for m in mentions}
    r = N_HASHES // N_BANDS
    # shingle vocabulary: hash each distinct shingle ONCE
    vocab: dict[str, int] = {}
    flat: list[int] = []      # shingle ids, grouped by mention
    offsets = [0]
    for m in mentions:
        for s in sh[m]:
            flat.append(vocab.setdefault(s, len(vocab)))
        offsets.append(len(flat))
    base = np.array([crc32(s.encode()) for s in vocab], dtype=np.uint64)
    # affine family over uint64 (wrapping multiply by a fixed odd
    # constant — multiply-shift universal hashing); parameters derived
    # from md5 so the family is process-independent
    A = np.array([int.from_bytes(hashlib.md5(b"A%d" % j).digest()[:8],
                                 "big") | 1 for j in range(N_HASHES)],
                 dtype=np.uint64)
    Bc = np.array([int.from_bytes(hashlib.md5(b"B%d" % j).digest()[:8],
                                  "big") for j in range(N_HASHES)],
                  dtype=np.uint64)
    with np.errstate(over="ignore"):
        hf = base[np.array(flat, dtype=np.int64)]      # (instances,)
        offs = np.array(offsets[:-1], dtype=np.int64)
        sigs = np.empty((len(mentions), N_HASHES), dtype=np.uint64)
        for j in range(N_HASHES):
            sigs[:, j] = np.minimum.reduceat(hf * A[j] + Bc[j], offs) \
                if len(hf) else np.empty(0, dtype=np.uint64)
    buckets: dict[tuple, list] = {}
    for i, m in enumerate(mentions):
        row = sigs[i]
        for b in range(N_BANDS):
            key = (b, row[b * r:(b + 1) * r].tobytes())
            buckets.setdefault(key, []).append(m)
    edges = []
    seen = set()
    for key, ms in buckets.items():
        if len(ms) > MAX_BUCKET_SIZE:
            continue  # hot-bucket cap, mirroring _cap_buckets
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                a, b = sorted((ms[i], ms[j]))
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                inter = len(sh[a] & sh[b])
                union = len(sh[a] | sh[b])
                if union and inter / union >= JACCARD_THRESHOLD:
                    edges.append((a, b))
    return _driver_union_find(edges, mentions)


def extract_mentions(triples: DataFrame) -> DataFrame:
    """Distinct mention strings (prefix stripped) in subj or iri-obj
    position — the linking dimension. One scan + one distinct shuffle."""
    mlen = len(MENTION_PREFIX)
    subj_m = triples.filter(F.col("subj").startswith(MENTION_PREFIX)) \
        .select(F.col("subj").substr(F.lit(mlen + 1), F.lit(10_000)).alias("mention"))
    obj_m = triples.filter((F.col("obj_kind") == "iri")
                           & F.col("obj_value").startswith(MENTION_PREFIX)) \
        .select(F.col("obj_value").substr(F.lit(mlen + 1), F.lit(10_000)).alias("mention"))
    return subj_m.unionByName(obj_m).distinct()


def link_mentions(mentions: DataFrame) -> tuple[DataFrame, list | None]:
    """Link a one-column (mention) relation into a canonical mapping
    (mention_iri, canonical_iri). Returns (mapping, small_pairs) where
    small_pairs is the driver-sized pair list when the vocabulary is
    tiny (enables the literal-map rewrite in apply_mapping), else None.

    Releases its own mention cache before returning (round-3 ADVICE:
    persisted blocks must not accumulate across streaming batches)."""
    # distinct mentions are a dimension ≪ triples but NOT driver-sized
    # at 100 TB: size the path from the observed mention count. The
    # distinct shuffle (the real parallel work: one scan of the triple
    # candidates) happens either way; what differs is how many SERIAL
    # driver barriers follow it — on a local runner each Spark action
    # costs fixed latency that lands straight in Amdahl's serial term.
    spark = mentions.sparkSession

    small_pairs: list[tuple[str, str]] | None = None
    # ONE action decides the path AND fetches the small vocabulary:
    # limit(100_001).collect() — when the distinct-mention relation is
    # driver-sized the rows come back directly (the separate
    # persist+count+collect of earlier rounds cost two extra driver
    # barriers, each fixed stage-launch latency in Amdahl's serial
    # term); when it is not, we fall through to the distributed path
    # having shipped at most 100_001 short strings.
    head = mentions.limit(100_001).toPandas()["mention"]
    if len(head) <= 100_000:
        # small-vocabulary fast path (bounded mention population): pull
        # the mention strings once and run the SAME blocking pipeline
        # (char-shingle minhash → banded buckets → exact-Jaccard verify
        # → connected components) entirely on the driver. Precision is
        # identical (exact verify); recall is equivalent (same band/row
        # geometry). One collect instead of ~7 eager Spark barriers,
        # each of which lands in Amdahl's serial term on a local run.
        rows = head.tolist()
        comp_rows = _driver_link(rows)
        pairs_list = [(MENTION_PREFIX + n, ENTITY_PREFIX + c)
                      for n, c in comp_rows]
        mapping = spark.createDataFrame(
            pairs_list, "mention_iri string, canonical_iri string")
        if len(pairs_list) <= 1000:
            small_pairs = pairs_list
    else:
        # big vocabulary: persist the mention relation (read by the
        # blocking pipeline AND the final component-label join) and
        # size the partitioning from the real count.
        mentions = mentions.persist()
        n_mentions = mentions.count()
        n_parts = max(1, min(int(n_mentions / 100_000) + 1,
                             spark.sparkContext.defaultParallelism * 4))
        big = mentions.coalesce(n_parts) \
            if n_parts < mentions.rdd.getNumPartitions() else mentions
        pairs = candidate_pairs(big)
        edges = jaccard_verify(pairs)
        comps = connected_components(edges, big.select(F.col("mention")))
        # persist: the mapping is read twice by the rewrite joins; the
        # cache prevents re-running CC. Materialize it NOW so the
        # mention cache can be released (CC is already checkpointed;
        # only the final label join still reads the mention relation).
        mapping = comps.select(
            F.concat(F.lit(MENTION_PREFIX), F.col("node")).alias("mention_iri"),
            F.concat(F.lit(ENTITY_PREFIX), F.col("comp")).alias("canonical_iri"),
        ).persist()
        mapping.count()
        mentions.unpersist()
    return mapping, small_pairs


def apply_mapping(triples: DataFrame, mapping: DataFrame,
                  small_pairs: list | None = None) -> DataFrame:
    """Rewrite mention IRIs in subj/obj to their canonical entity IRIs
    using a previously-computed mapping. Non-mention terms pass
    through; extra (provenance) columns are preserved."""
    extra_cols = [c for c in triples.columns
                  if c not in ("subj", "pred", "obj_kind", "obj_value",
                               "obj_dt", "obj_lang")]
    if small_pairs is not None:
        # tiny vocabulary: rewrite via a LITERAL map expression — a
        # pure projection, ZERO joins/stage barriers (each broadcast
        # join was a per-leg serial cost on local runs and a whole
        # exchange at scale). Non-mention IRIs miss the map and
        # coalesce back to themselves, exactly like the left join.
        kv: list = []
        for k, v in small_pairs:
            kv += [F.lit(k), F.lit(v)]
        if not kv:
            return triples
        lookup = F.create_map(*kv)
        out = triples.select(
            F.coalesce(lookup[F.col("subj")], F.col("subj")).alias("subj"),
            F.col("pred"),
            F.col("obj_kind"),
            F.when(F.col("obj_kind") == "iri",
                   F.coalesce(lookup[F.col("obj_value")],
                              F.col("obj_value")))
            .otherwise(F.col("obj_value")).alias("obj_value"),
            F.col("obj_dt"), F.col("obj_lang"), *extra_cols)
        return out

    # no forced broadcast: the mapping is mention-sized (can be huge at
    # 100 TB); AQE broadcasts it automatically whenever it actually
    # fits, and falls back to a shuffle join when it doesn't.
    m1 = (mapping.withColumnRenamed("mention_iri", "subj")
          .withColumnRenamed("canonical_iri", "subj_canon"))
    m2 = (mapping.withColumnRenamed("mention_iri", "obj_value")
          .withColumnRenamed("canonical_iri", "obj_canon"))
    out = (triples
           .join(m1, on="subj", how="left")
           .join(m2, on="obj_value", how="left")
           .select(
               F.coalesce(F.col("subj_canon"), F.col("subj")).alias("subj"),
               F.col("pred"),
               F.col("obj_kind"),
               F.when(F.col("obj_kind") == "iri",
                      F.coalesce(F.col("obj_canon"), F.col("obj_value")))
                .otherwise(F.col("obj_value")).alias("obj_value"),
               F.col("obj_dt"), F.col("obj_lang"),
               *extra_cols,
           ))
    return out


def canonicalize_triples(triples: DataFrame,
                         mentions: DataFrame | None = None
                         ) -> tuple[DataFrame, DataFrame]:
    """Rewrite mention IRIs in subj/obj to canonical entity IRIs.

    Returns (canonical_triples, mapping) where mapping =
    (mention_iri, canonical_iri). The mapping dimension is small
    (distinct mentions ≪ triples) and is broadcast into the rewrite
    joins — per north_star 'broadcast of the shape/schema dictionary'
    applies equally here. Composition of extract_mentions →
    link_mentions → apply_mapping.

    ``mentions``: the one-column (mention) relation of distinct mention
    strings to link; defaults to the triples' own. Late-bound callers
    pass a whole mention dimension (streaming's accumulated mentions,
    batch resume's stored clean-bucket mentions plus the new ones), so
    an entity is named as it would be over all of the input."""
    if mentions is None:
        mentions = extract_mentions(triples)
    mapping, small_pairs = link_mentions(mentions)
    return apply_mapping(triples, mapping, small_pairs), mapping
