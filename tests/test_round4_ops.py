"""Round-4 new operators: as-of join, sequence packing, Gopher
quality + repetition rules. Spark-vs-DuckDB parity is covered by
test_oracle_parity (the @query registry is parametrized there); these
tests pin the operator semantics against independent references
(pandas merge_asof, a local python replay, hand computation).
"""

from __future__ import annotations

import pandas as pd
import pytest


def test_asof_join_matches_pandas_merge_asof(spark):
    """Random interleaved keys/timestamps incl. exact-tie instants must
    reproduce pandas merge_asof(direction='backward') row for row."""
    import numpy as np

    from shaclex_spark.functions.asof import asof_join

    rng = np.random.default_rng(11)
    left = pd.DataFrame({
        "lid": range(60),
        "k": rng.integers(0, 5, 60),
        "ts": rng.integers(0, 50, 60),
    })
    right = pd.DataFrame({
        "rid": range(100, 140),
        "k": rng.integers(0, 5, 40),
        "rts": rng.integers(0, 50, 40),
    })
    # pandas reference: backward as-of on sorted frames; ties on equal
    # (k, rts) deduped to max rid first (same rule as asof_join)
    r_dedup = (right.sort_values(["k", "rts", "rid"])
               .groupby(["k", "rts"], as_index=False).last())
    exp = pd.merge_asof(
        left.sort_values("ts"), r_dedup.sort_values("rts"),
        left_on="ts", right_on="rts", by="k",
        direction="backward").sort_values("lid")

    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(r_dedup)
    got = (asof_join(ldf, rdf, key="k", left_ts="ts", right_ts="rts",
                     right_cols=["rid", "rts"], tiebreak="rid")
           .toPandas().sort_values("lid"))
    for (_, e), (_, g) in zip(exp.iterrows(), got.iterrows()):
        assert e["lid"] == g["lid"]
        if pd.isna(e["rid"]):
            assert pd.isna(g["rid"]), f"lid={e['lid']}"
        else:
            assert g["rid"] == e["rid"], f"lid={e['lid']}"


def test_pack_sequences_invariants_and_replay(spark):
    """Every doc <= capacity appears exactly once; per-bin totals never
    exceed capacity; offsets are the running fill; the whole assignment
    equals a local replay of the documented algorithm."""
    import numpy as np

    from shaclex_spark.functions.packing import pack_sequences

    rng = np.random.default_rng(3)
    lens = rng.integers(5, 120, 200).tolist() + [300, 280]  # 2 dropped
    docs = spark.createDataFrame(
        [(i, int(n)) for i, n in enumerate(lens)],
        "doc_id long, n_tokens long")
    cap, G = 128, 4
    got = pack_sequences(docs, capacity=cap, n_groups=G).toPandas()

    kept = [(i, n) for i, n in enumerate(lens) if n <= cap]
    assert sorted(got["doc_id"]) == sorted(i for i, _ in kept)

    # local replay: rank by (len desc, id), grp = rank % G, next-fit
    order = sorted(kept, key=lambda t: (-t[1], t[0]))
    exp = {}
    state = {g: [0, 0] for g in range(G)}  # grp -> [bin, fill]
    for rank, (i, n) in enumerate(order):
        g = rank % G
        b, fill = state[g]
        if fill + n > cap:
            b, fill = b + 1, 0
        exp[i] = (g, b, fill)
        state[g] = [b, fill + n]
    for _, row in got.iterrows():
        assert exp[row["doc_id"]] == (row["grp"], row["bin"],
                                      row["offset"]), row["doc_id"]

    # bin capacity invariant straight from the output
    merged = got.merge(pd.DataFrame(kept, columns=["doc_id", "n"]),
                       on="doc_id")
    merged["end"] = merged["offset"] + merged["n"]
    assert (merged.groupby(["grp", "bin"])["end"].max() <= cap).all()


def test_gopher_quality_hand_computed(spark):
    from shaclex_spark.functions.text import gopher_quality

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat and looked at the dog for fun "
             "while it is resting in a warm corner of the big house"),
         (2, "x " * 30),                      # 1-char words, no stopwords
         (3, "short text of no use")],        # under min_words
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
    assert got[1]["keep"] is True
    assert got[1]["n_words"] == 25
    assert got[1]["stop_hits"] >= 2
    assert got[2]["keep"] is False            # mean_word_len 1 < 3
    assert got[2]["mean_word_len"] == 1.0
    assert got[3]["keep"] is False            # 5 words < 20
    assert got[3]["n_words"] == 5


def test_repetition_profile_crafted(spark):
    from shaclex_spark.functions.text import repetition_profile

    docs = spark.createDataFrame(
        [(1, "a b a b a b a b"),    # maximally repetitive
         (2, "one two three four five six"),  # all distinct
         (3, "xy")],                # single token: no grams
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_profile(docs).collect()}
    # doc 1: tokens [a,b]*4 → 6 3-grams, only 2 distinct ("a b a","b a b")
    assert got[1]["n_3grams"] == 6
    assert got[1]["dup_3gram_frac"] == pytest.approx(4 / 6, abs=1e-6)
    # 7 2-grams, top ("a b") occurs 4 times → 4/7
    assert got[1]["top_2gram_frac"] == pytest.approx(4 / 7, abs=1e-6)
    assert got[2]["dup_3gram_frac"] == 0.0
    # 5 distinct 2-grams of 5 → top 1/5
    assert got[2]["top_2gram_frac"] == pytest.approx(1 / 5, abs=1e-6)
    assert got[3]["n_3grams"] == 0
    assert got[3]["dup_3gram_frac"] == 0.0
    assert got[3]["top_2gram_frac"] == 0.0


def test_decontaminate_crafted(spark):
    """A doc sharing one 5-gram with the eval set is flagged with the
    exact distinct-shared-shingle count; disjoint docs report 0."""
    from shaclex_spark.functions.dedup import decontaminate

    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [
            # shares two 5-grams (positions 1-5 and 2-6 of eval text)
            (1, "alpha beta gamma delta epsilon zeta eta"),
            # shares zero (4-gram overlap only: one word changed)
            (2, "alpha beta gamma delta XX zeta"),
            # disjoint vocabulary
            (3, "one two three four five six"),
            # shorter than k -> empty shingle set
            (4, "alpha beta"),
        ],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_hit_ngrams"], r["contaminated"])
           for r in decontaminate(docs, eval_docs, shingle_k=5).collect()}
    assert got == {1: (2, True), 2: (0, False),
                   3: (0, False), 4: (0, False)}


def test_decontaminate_plan_broadcasts_eval_side(spark):
    """The eval shingle set must reach the corpus join as a broadcast
    — a shuffle of the 100-TB corpus on the shingle key would be the
    scale bug this operator exists to avoid."""
    from shaclex_spark.functions.dedup import decontaminate

    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        "concat('w', id % 7, ' w', id % 5, ' w', id % 3, "
        "' w', id % 11, ' w', id % 13, ' tail', id) AS text")
    out = decontaminate(docs.filter("doc_id % 10 != 0"),
                        docs.filter("doc_id % 10 = 0"), shingle_k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0]


def test_stratified_sample_deterministic_and_exact(spark):
    """The kept set equals the per-row md5 rule computed independently
    in Python, and is identical across repartitionings (partition- and
    run-independence is the operator's contract)."""
    import hashlib

    from shaclex_spark.functions.sampling import stratified_sample

    rows = [(i, ["en", "zh", "de", "fr"][i % 4]) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 0.25, "zh": 0.75, "de": 0.5}

    def keep(i, lang):
        u = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) / 2**32
        return u < rates.get(lang, 0.1)

    expected = {i for i, lang in rows if keep(i, lang)}
    got1 = {r["doc_id"] for r in
            stratified_sample(df, "lang", rates, "doc_id",
                              default_rate=0.1).collect()}
    got2 = {r["doc_id"] for r in
            stratified_sample(df.repartition(13), "lang", rates,
                              "doc_id", default_rate=0.1).collect()}
    assert got1 == expected
    assert got2 == expected
    # sanity: every stratum that should survive is represented
    assert {lang for i, lang in rows if i in got1} == \
        {"en", "zh", "de", "fr"}


def test_stratified_sample_plan_is_pure_filter(spark):
    """scan -> filter only: no exchange, no join, no aggregate."""
    from shaclex_spark.functions.sampling import stratified_sample

    df = spark.range(100).selectExpr("id AS doc_id",
                                     "CAST(id % 3 AS STRING) AS lang")
    plan = stratified_sample(df, "lang", {"0": 0.5}, "doc_id") \
        ._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "Join", "Aggregate"):
        assert bad not in plan, f"{bad} found in plan:\n{plan}"


def test_dedup_cluster_transitive_chain(spark, scope):
    """Near-dup clustering must be transitive: A~B and B~C put A,B,C
    in ONE cluster with min-id canonical even when A and C are not
    themselves a near-dup pair."""
    from shaclex_spark.functions.dedup import ngram_jaccard_pairs
    from shaclex_spark.linking import connected_components

    base = [f"w{i}" for i in range(30)]
    a = " ".join(base)
    b = " ".join(base[:29] + ["xb"])          # J=0.9375 vs a
    c = " ".join(base[:28] + ["xb", "xc"])    # J=0.9375 vs b, 0.879 vs a
    docs = spark.createDataFrame(
        [(5, a), (9, b), (7, c), (42, "totally different words here")],
        "doc_id long, text string")
    pairs = ngram_jaccard_pairs(docs, threshold=0.9, shingle_k=1,
                                scope=scope)
    got_pairs = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (5, 9) in got_pairs and (7, 9) in got_pairs
    assert (5, 7) not in got_pairs  # chain, not clique

    pad = "%012d"
    edges = spark.createDataFrame(
        [(pad % x, pad % y) for x, y in got_pairs], "a string, b string")
    verts = docs.selectExpr("lpad(CAST(doc_id AS STRING), 12, '0') AS n")
    cc = {int(r["node"]): int(r["comp"])
          for r in connected_components(edges, verts).collect()}
    assert cc == {5: 5, 9: 5, 7: 5, 42: 42}


def test_pii_scrub_crafted(spark):
    """Hand-written PII spans: every kind redacted, counts exact,
    non-PII text untouched, replacement order safe (an email whose
    host looks dotted-quad-ish must not leave an <IP> fragment)."""
    from shaclex_spark.functions.pii import pii_scrub

    docs = spark.createDataFrame([
        (1, "write to jo.doe+x@sub.example.org or 192.168.0.1 today"),
        (2, "card 4111111111111111 exp 12/29"),
        (3, "plain text, no pii at all; v1.2.3 stays"),
        (4, "x@10.0.0.1.example.com then 10.20.30.40"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scrub(docs).collect()}

    assert got[1]["scrubbed"] == "write to <EMAIL> or <IP> today"
    assert (got[1]["n_emails"], got[1]["n_ips"], got[1]["n_numbers"]) \
        == (1, 1, 0)
    assert got[2]["scrubbed"] == "card <NUM> exp 12/29"
    assert got[2]["n_numbers"] == 1
    assert got[3]["scrubbed"] == "plain text, no pii at all; v1.2.3 stays"
    assert (got[3]["n_emails"], got[3]["n_ips"], got[3]["n_numbers"]) \
        == (0, 0, 0)
    # order safety: email runs before IPv4, so the dotted-quad-looking
    # host is consumed by <EMAIL> and only the bare address becomes <IP>
    assert got[4]["scrubbed"] == "<EMAIL> then <IP>"


def test_pii_scrub_plan_is_single_projection(spark):
    """scan -> project only: no exchange, no UDF (BatchEvalPython),
    no join — the scrub must stay inside whole-stage codegen."""
    from shaclex_spark.functions.pii import pii_scrub

    df = spark.range(10).selectExpr("id AS doc_id",
                                    "repeat('a b ', 5) AS text")
    plan = pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "Join", "BatchEvalPython", "ArrowEval"):
        assert bad not in plan, f"{bad} found in plan:\n{plan}"


def test_token_budget_sample_rates_and_determinism(spark):
    """Keep counts track min(1, budget/total) per stratum, the kept
    set is identical across repartitionings, and a stratum under
    budget is kept whole."""
    from shaclex_spark.functions.sampling import hash_unit, \
        token_budget_sample

    rows = [(i, "big" if i < 400 else "small", 10) for i in range(420)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, tokens long")
    out = token_budget_sample(df, "lang", budget=1000.0,
                              id_col="doc_id", tokens_col="tokens")
    kept = {r["doc_id"] for r in out.collect()}
    # 'small' stratum: 20 docs * 10 = 200 tokens < budget -> all kept
    assert {i for i in kept if i >= 400} == set(range(400, 420))
    # 'big' stratum: rate = 1000/4000 = 0.25; md5 gate is uniform-ish
    n_big = sum(1 for i in kept if i < 400)
    assert 60 <= n_big <= 140
    # exact replay of the gate locally
    import hashlib
    exp_big = {i for i in range(400)
               if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
               / 2**32 < 0.25}
    assert {i for i in kept if i < 400} == exp_big
    # partition-independence
    kept2 = {r["doc_id"]
             for r in token_budget_sample(
                 df.repartition(13, "tokens"), "lang", budget=1000.0,
                 id_col="doc_id", tokens_col="tokens").collect()}
    assert kept2 == kept


def test_token_budget_sample_plan_broadcasts_rate_table(spark):
    """The corpus side must NOT shuffle: the rate table (one row per
    stratum) joins back via broadcast."""
    from shaclex_spark.functions.sampling import token_budget_sample

    df = spark.range(100).selectExpr(
        "id AS doc_id", "CAST(id % 3 AS STRING) AS lang",
        "id % 7 AS tokens")
    plan = token_budget_sample(df, "lang", 50.0, "doc_id", "tokens") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_autosize_and_string_ids(spark, monkeypatch):
    """Round-5: n_groups=None auto-sizes from the doc count (bounded
    per-group rows, survives a 10^10-doc corpus), and the output id
    column keeps the input dtype (string/UUID corpora)."""
    from shaclex_spark.functions import packing

    docs = spark.createDataFrame(
        [(f"doc-{i:03d}", 10 + (i % 7)) for i in range(60)],
        "doc_id string, n_tokens long")

    # small corpus, default: historical floor of 8 groups
    out = packing.pack_sequences(docs, capacity=64)
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    pdf = out.toPandas()
    assert sorted(pdf["doc_id"]) == sorted(f"doc-{i:03d}" for i in range(60))
    assert pdf["grp"].nunique() <= 8 and pdf["grp"].max() <= 7

    # shrink the per-group bound: auto-sizer must scale groups with rows
    monkeypatch.setattr(packing, "MAX_GROUP_ROWS", 5)
    out2 = packing.pack_sequences(docs, capacity=64).toPandas()
    assert out2["grp"].max() >= 11  # ceil(60/5) = 12 groups
    assert sorted(out2["doc_id"]) == sorted(pdf["doc_id"])

    # explicit n_groups still honored verbatim
    out3 = packing.pack_sequences(docs, capacity=64, n_groups=3).toPandas()
    assert set(out3["grp"]) <= {0, 1, 2}


def test_asof_join_row_atomic_and_null_keys(spark):
    """Round-5 (advice): the carried right row is atomic — a NULL field
    in the matched right row must stay NULL, never inherit that field
    from an OLDER right row; and NULL join keys never match (DuckDB
    ASOF semantics)."""
    from shaclex_spark.functions.asof import asof_join

    ldf = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 30), (3, None, 20), (4, "b", 5)],
        "lid int, k string, ts int")
    rdf = spark.createDataFrame(
        # k=a: older row has v=7; the LATEST row (rts=25) has v=NULL.
        # k=NULL right rows must never match anything.
        [(100, "a", 1, 7), (101, "a", 25, None), (102, None, 1, 99)],
        "rid int, k string, rts int, v int")
    got = {r["lid"]: (r["rid"], r["v"])
           for r in asof_join(ldf, rdf, key="k", left_ts="ts",
                              right_ts="rts", right_cols=["rid", "v"],
                              tiebreak="rid").collect()}
    assert got[1] == (100, 7)        # only the older row is at/before 10
    assert got[2] == (101, None)     # matched rts=25 row: v stays NULL,
    #                                  NOT inherited from rid=100
    assert got[3] == (None, None)    # NULL left key: no match
    assert got[4] == (None, None)    # no right row at/before ts=5
