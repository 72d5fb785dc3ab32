"""Wide-vocabulary linking probe, run once per traced ``ingest`` run.

The program's own synthesizer knows 16 people, so linking never has
real work in ``ingest``. This generator writes conversations in the
extractor's own sentence templates over N_PEOPLE seeded letters-only
names, each said in three surface variants ("Ann Lee", "ann lee",
"Ann Q. Lee": two distinct mention slugs per person), so the driver
link path sees ≈2 mentions per person, ≈2k in all. The probe times one
extract -> canonicalize -> validate -> report operation, then runs the
distributed linking stages (candidate_pairs -> jaccard_verify ->
connected_components) over the same mentions. Both linkings must reach
pairwise mention->person precision and recall >= 0.95 against the
generator's truth, and each must link exactly the mentions the text
holds: a mangled, dropped or invented name fails the check.
"""

from __future__ import annotations

import random
import re
import string
import time
from collections import Counter

from pyspark.sql import functions as F

N_PEOPLE = 1000
N_CONVS = 1000
COURSES = [f"cs{100 + 7 * i}" for i in range(12)]
TOPICS = ["Programming", "Databases", "Networks", "Algorithms"]
ORGS = [f"org{chr(97 + i)}" for i in range(8)]


def _slug(s: str) -> str:
    return re.sub(r"[^a-z0-9]+", "_", s.lower()).strip("_")


def people(seed: int, n: int) -> list[tuple[str, str, str]]:
    rng = random.Random(seed)
    seen, out = set(), []
    while len(out) < n:
        first = "".join(rng.choices(string.ascii_lowercase,
                                    k=rng.randint(5, 8)))
        last = "".join(rng.choices(string.ascii_lowercase,
                                   k=rng.randint(6, 9)))
        if (first, last) in seen:
            continue
        seen.add((first, last))
        mid = rng.choice(string.ascii_uppercase)
        out.append((f"{first.capitalize()} {last.capitalize()}",
                    f"{first} {last}",
                    f"{first.capitalize()} {mid}. {last.capitalize()}"))
    return out


def transcripts(spark, seed: int, persons):
    """Seeded transcripts (conv_id, turn_idx, role, text, tool, ts),
    and the set of person names their texts say."""
    def h(*cols):
        return F.xxhash64(F.lit(seed), *cols)

    names = spark.createDataFrame(
        [(i, *vs) for i, vs in enumerate(persons)],
        "p long, v0 string, v1 string, v2 string")
    n = F.lit(len(persons))
    turns = spark.range(N_CONVS).select(
        F.format_string("wconv%08d", "id").alias("conv_id"),
        F.col("id").alias("conv_n"),
        F.explode(F.sequence(F.lit(0), F.pmod(h(F.col("id"), F.lit("nt")),
                                              F.lit(17)) + 3))
        .alias("turn_idx"))
    k = h(F.col("conv_n"), F.col("turn_idx"))
    a = F.pmod(F.xxhash64(k, F.lit("a")), n)
    b = F.pmod(a + 1 + F.pmod(F.xxhash64(k, F.lit("b")), n - 1), n)
    base = turns.select(
        "conv_id", "conv_n", "turn_idx",
        F.pmod(F.xxhash64(k, F.lit("tm")), F.lit(6)).alias("tmpl"),
        a.alias("a"), b.alias("b"),
        F.pmod(F.xxhash64(k, F.lit("av")), F.lit(3)).alias("av"),
        F.pmod(F.xxhash64(k, F.lit("bv")), F.lit(3)).alias("bv"),
        F.pmod(F.xxhash64(k, F.lit("c")), F.lit(len(COURSES))).alias("c"),
        F.pmod(F.xxhash64(k, F.lit("t")), F.lit(len(TOPICS))).alias("t"),
        F.pmod(F.xxhash64(k, F.lit("o")), F.lit(len(ORGS))).alias("o"),
        (F.pmod(F.xxhash64(k, F.lit("n")), F.lit(60)) + 18).alias("age"))

    def variant(side):
        nm = F.broadcast(names).select(
            F.col("p").alias(side),
            F.array("v0", "v1", "v2").alias(f"{side}_names"))
        return nm

    base = base.join(variant("a"), "a").join(variant("b"), "b")
    a_disp = F.element_at("a_names", (F.col("av") + 1).cast("int"))
    b_disp = F.element_at("b_names", (F.col("bv") + 1).cast("int"))

    def pick(values, idx):
        return F.element_at(F.array(*[F.lit(v) for v in values]),
                            (F.col(idx) + 1).cast("int"))

    course, topic, org = pick(COURSES, "c"), pick(TOPICS, "t"), \
        pick(ORGS, "o")
    tmpl = F.col("tmpl")
    text = (F.when(tmpl == 0, F.format_string("%s is enrolled in %s.",
                                              a_disp, course))
            .when(tmpl == 1, F.format_string("%s knows %s.", a_disp, b_disp))
            .when(tmpl == 2, F.format_string("%s has subject %s.", course,
                                             topic))
            .when(tmpl == 3, F.format_string("%s is %d years old.", a_disp,
                                             F.col("age")))
            .when(tmpl == 4, F.format_string("%s works at %s.", a_disp, org))
            .otherwise(F.format_string("checking the logs for %s now.",
                                       course)))
    said = base.select(F.when(tmpl.isin(0, 1, 3, 4), a_disp).alias("n")) \
        .union(base.select(F.when(tmpl == 1, b_disp).alias("n")))
    names_said = {r.n for r in said.distinct().collect() if r.n is not None}
    return base.select(
        "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
        F.when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant")).alias("role"),
        text.alias("text"), F.lit("").alias("tool"),
        F.timestamp_seconds(F.lit(1735689600) + F.col("conv_n") * 60
                            + F.col("turn_idx")).alias("ts")), names_said


def pairwise_pr(clusters: dict[str, str], truth: dict[str, int]
                ) -> tuple[float, float]:
    """Pairwise precision/recall of a mention clustering (mention ->
    cluster id) against the true mention -> person map, which must
    hold every clustered mention."""
    def pairs(counter):
        return sum(c * (c - 1) // 2 for c in counter.values())

    pred = pairs(Counter(clusters.values()))
    true = pairs(Counter(truth[m] for m in clusters))
    both = pairs(Counter((c, truth[m]) for m, c in clusters.items()))
    return both / max(pred, 1), both / max(true, 1)


def probe(spark, tracer, seed: int):
    """Returns (layers(trace) -> metrics, check lines, attempted, failed)."""
    from shaclex_spark.extraction import extract_triples
    from shaclex_spark.linking import (MENTION_PREFIX, candidate_pairs,
                                       canonicalize_triples,
                                       connected_components,
                                       extract_mentions, jaccard_verify)
    from shaclex_spark.pipeline import validate_kg

    persons = people(seed, N_PEOPLE)
    truth = {}
    for i, vs in enumerate(persons):
        for v in vs:
            truth[_slug(v)] = i
    src, names_said = transcripts(spark, seed, persons)
    src = src.localCheckpoint(eager=True)
    n_turns = src.count()
    said = {_slug(n) for n in names_said}

    def check(what: str, clusters: dict[str, str]) -> tuple[bool, str]:
        got = set(clusters)
        if got != said:
            return False, (f"{what}: {len(got - said)} mentions not in the "
                           f"text, {len(said - got)} text mentions not "
                           f"linked: FAIL")
        p, r = pairwise_pr(clusters, truth)
        ok = p >= 0.95 and r >= 0.95
        return ok, (f"{what}: all {len(got)} mentions linked; pairwise "
                    f"precision {p:.4f} recall {r:.4f} (>= 0.95): "
                    f"{'ok' if ok else 'FAIL'}")

    lines, attempted, failed = [], 0, 0
    values: dict[str, float] = {}

    attempted += 1
    t0 = time.perf_counter()
    with tracer.span("wide.extraction"):
        cand = extract_triples(src).persist()
        cand.count()
    with tracer.span("wide.linking"):
        canonical, mapping = canonicalize_triples(cand)
        canonical = canonical.persist()
        canonical.count()
    with tracer.span("wide.validation"):
        res = validate_kg(spark, canonical)
        res.conformance.write.format("noop").mode("overwrite").save()
        res.report.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    values["wide_vocab.turns_per_s"] = n_turns / wall
    mp = mapping.toPandas()
    clusters = dict(zip(mp["mention_iri"].str[len(MENTION_PREFIX):],
                        mp["canonical_iri"]))
    values["linking.wide.mentions"] = len(clusters)
    values["linking.wide.entities"] = len(set(clusters.values()))
    ok, line = check("wide_vocab driver-path link", clusters)
    failed += not ok
    lines.append(f"wide_vocab: {n_turns} turns, {len(clusters)} mentions -> "
                 f"{len(set(clusters.values()))} entities for "
                 f"{len({truth[m] for m in said})} people")
    lines.append(line)

    attempted += 1
    mentions = extract_mentions(cand).persist()
    values["linking.distributed.mentions"] = mentions.count()
    t0 = time.perf_counter()
    with tracer.span("dist.pairs"):
        pairs = candidate_pairs(mentions).persist()
        values["linking.distributed.candidate_pairs"] = pairs.count()
    t1 = time.perf_counter()
    with tracer.span("dist.verify"):
        edges = jaccard_verify(pairs).persist()
        edges.count()
    t2 = time.perf_counter()
    with tracer.span("dist.cc"):
        comps = connected_components(edges, mentions, driver_threshold=0)
        cp = comps.toPandas()
    t3 = time.perf_counter()
    values["linking.distributed.pairs_s"] = t1 - t0
    values["linking.distributed.verify_s"] = t2 - t1
    values["linking.distributed.cc_s"] = t3 - t2
    ok, line = check("wide_vocab distributed link",
                     dict(zip(cp["node"], cp["comp"])))
    failed += not ok
    lines.append(f"wide_vocab distributed link: "
                 f"{values['linking.distributed.mentions']:.0f} mentions, "
                 f"{values['linking.distributed.candidate_pairs']:.0f} "
                 f"candidate pairs")
    lines.append(line)
    for df in (cand, canonical, mentions, pairs, edges):
        df.unpersist()

    def layers(trace) -> dict:
        lk = trace.stat("wide.linking")
        return dict(values, **{
            "linking.wide.wall_s": lk["wall_s"],
            "linking.wide.driver_s": lk["driver_s"],
            "linking.wide.jvm_cpu_s": lk.get("jvm_cpu_s", 0.0),
            "linking.wide.jobs": lk.get("jobs", 0.0),
        })

    return layers, lines, attempted, failed
