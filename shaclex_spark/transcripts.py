"""Deterministic synthetic transcript table (input_hint schema) +
its golden triple set.

Everything is generated distributively with native Spark expressions —
`spark.range` + xxhash64-driven choices — so the same code synthesizes
500 turns for pytest and tens of millions for the bench without a
driver-side loop. Seeded: same (n_convs, seed) ⇒ identical rows.

The text templates are designed so the rule-based extractor
(extraction.py) recovers a known triple per turn; the golden triples
are derived from the SAME choice columns, giving exact P/R accounting.
Entity mentions include surface variants (exercises MinHash linking)
and one hot entity appearing in ~30% of person slots (exercises skew
salting). Some conversations have descending ts with in-order turn_idx,
pinning the ordering invariant to turn_idx (FIXTURES.md §1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .model import EX, FOAF_KNOWS, XSD_INTEGER, XSD_STRING

# canonical_slug -> surface variants (exactly 3 each, for flat indexing)
PEOPLE: list[tuple[str, list[str]]] = [
    ("alice_moore", ["Alice Moore", "alice moore", "Alice M. Moore"]),
    ("bob_stone", ["Bob Stone", "bob stone", "Bob R. Stone"]),
    ("carol_reyes", ["Carol Reyes", "carol reyes", "Carol R. Reyes"]),
    ("dave_kim", ["Dave Kim", "dave kim", "Dave J. Kim"]),
    ("erin_walsh", ["Erin Walsh", "erin walsh", "Erin W. Walsh"]),
    ("frank_ito", ["Frank Ito", "frank ito", "Frank K. Ito"]),
    ("grace_chen", ["Grace Chen", "grace chen", "Grace C. Chen"]),
    ("hugo_diaz", ["Hugo Diaz", "hugo diaz", "Hugo A. Diaz"]),
    ("iris_patel", ["Iris Patel", "iris patel", "Iris P. Patel"]),
    ("jack_lund", ["Jack Lund", "jack lund", "Jack T. Lund"]),
    ("kara_voss", ["Kara Voss", "kara voss", "Kara V. Voss"]),
    ("liam_ortiz", ["Liam Ortiz", "liam ortiz", "Liam O. Ortiz"]),
    ("mona_fried", ["Mona Fried", "mona fried", "Mona F. Fried"]),
    ("nate_bloom", ["Nate Bloom", "nate bloom", "Nate B. Bloom"]),
    ("olga_marsh", ["Olga Marsh", "olga marsh", "Olga M. Marsh"]),
    ("pete_quinn", ["Pete Quinn", "pete quinn", "Pete Q. Quinn"]),
]
COURSES = [f"cs{100 + 7 * i}" for i in range(12)]
TOPICS = ["Programming", "Databases", "Networks", "Algorithms", "Statistics",
          "Compilers", "Graphics", "Security"]
ORGS = [f"org{chr(97 + i)}" for i in range(8)]

N_TEMPLATES = 6  # 0..4 carry a triple, 5 is filler


def person_iri(slug: str) -> str:
    return EX + "person/" + slug


def course_iri(c: str) -> str:
    return EX + "course/" + c


def org_iri(o: str) -> str:
    return EX + "org/" + o


def _h(*cols) -> F.Column:
    return F.xxhash64(*cols)


def synth_transcripts(spark: SparkSession, n_convs: int, seed: int = 42
                      ) -> tuple[DataFrame, DataFrame]:
    """Returns (transcripts, golden_triples).

    transcripts: conv_id, turn_idx, role, text, tool, ts
    golden_triples: subj, pred, obj_kind, obj_value, obj_dt, obj_lang,
                    conv_id, turn_idx  (canonical IRIs already)
    """
    s = F.lit(seed)
    conv = spark.range(n_convs).select(
        F.format_string("conv%08d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_n"),
    )
    n_turns = (F.pmod(_h(s, F.col("conv_n"), F.lit("nt")), F.lit(17)) + 4).cast("int")
    turns = conv.select(
        "conv_id", "conv_n", F.explode(F.sequence(F.lit(0), n_turns - 1)).alias("turn_idx")
    )

    k = _h(s, F.col("conv_n"), F.col("turn_idx"))
    n_people = len(PEOPLE)

    # skew: ~30% of person-A slots hit person 0 (the hot entity)
    a_idx = F.when(F.pmod(_h(k, F.lit("skew")), F.lit(10)) < 3, F.lit(0)) \
        .otherwise(F.pmod(_h(k, F.lit("a")), F.lit(n_people)))
    b_idx = F.pmod(_h(k, F.lit("b")), F.lit(n_people))
    # avoid self-knows
    b_idx = F.when(b_idx == a_idx, F.pmod(b_idx + 1, F.lit(n_people))).otherwise(b_idx)
    c_idx = F.pmod(_h(k, F.lit("c")), F.lit(len(COURSES)))
    t_idx = F.pmod(_h(k, F.lit("t")), F.lit(len(TOPICS)))
    o_idx = F.pmod(_h(k, F.lit("o")), F.lit(len(ORGS)))
    age = (F.pmod(_h(k, F.lit("n")), F.lit(60)) + 18).cast("int")
    tmpl = F.pmod(_h(k, F.lit("tm")), F.lit(N_TEMPLATES))
    a_var = F.pmod(_h(k, F.lit("av")), F.lit(3))
    b_var = F.pmod(_h(k, F.lit("bv")), F.lit(3))

    base = turns.select(
        "conv_id", "conv_n", "turn_idx",
        tmpl.alias("tmpl"), a_idx.alias("a_idx"), b_idx.alias("b_idx"),
        c_idx.alias("c_idx"), t_idx.alias("t_idx"), o_idx.alias("o_idx"),
        age.alias("age"), a_var.alias("a_var"), b_var.alias("b_var"),
    )

    variants = F.array(*[F.lit(v) for _, vs in PEOPLE for v in vs])
    slugs = F.array(*[F.lit(slug) for slug, _ in PEOPLE])
    courses = F.array(*[F.lit(c) for c in COURSES])
    topics = F.array(*[F.lit(t) for t in TOPICS])
    orgs = F.array(*[F.lit(o) for o in ORGS])

    a_disp = F.element_at(variants, (F.col("a_idx") * 3 + F.col("a_var") + 1).cast("int"))
    b_disp = F.element_at(variants, (F.col("b_idx") * 3 + F.col("b_var") + 1).cast("int"))
    a_slug = F.element_at(slugs, F.col("a_idx").cast("int") + 1)
    b_slug = F.element_at(slugs, F.col("b_idx").cast("int") + 1)
    course = F.element_at(courses, F.col("c_idx").cast("int") + 1)
    topic = F.element_at(topics, F.col("t_idx").cast("int") + 1)
    org = F.element_at(orgs, F.col("o_idx").cast("int") + 1)

    text = (
        F.when(F.col("tmpl") == 0,
               F.format_string("%s is enrolled in %s.", a_disp, course))
        .when(F.col("tmpl") == 1, F.format_string("%s knows %s.", a_disp, b_disp))
        .when(F.col("tmpl") == 2, F.format_string("%s has subject %s.", course, topic))
        .when(F.col("tmpl") == 3,
              F.format_string("%s is %d years old.", a_disp, F.col("age")))
        .when(F.col("tmpl") == 4, F.format_string("%s works at %s.", a_disp, org))
        .otherwise(F.format_string("checking the logs for %s now.", course))
    )
    role = (
        F.when(F.pmod(_h(F.lit(seed), F.col("conv_n"), F.col("turn_idx"), F.lit("r")),
                      F.lit(10)) == 9, F.lit("tool"))
        .when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )
    tool = F.when(role == "tool", F.lit("search")).otherwise(F.lit(""))
    # ~1/7 conversations get descending timestamps (ordering must come
    # from turn_idx, not ts — FIXTURES.md §1 invariant)
    desc_ts = F.pmod(_h(s, F.col("conv_n"), F.lit("ord")), F.lit(7)) == 0
    ts_off = F.when(desc_ts, (F.lit(1000) - F.col("turn_idx")) * 60) \
        .otherwise(F.col("turn_idx") * 60)
    ts = F.timestamp_seconds(F.lit(1735689600) + F.col("conv_n") % 86400 + ts_off)

    transcripts = base.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )

    # ---- golden triples from the same choice columns -------------------
    def iri(col):
        return col

    subj = (
        F.when(F.col("tmpl").isin(0, 1, 3, 4), F.concat(F.lit(EX + "person/"), a_slug))
        .when(F.col("tmpl") == 2, F.concat(F.lit(EX + "course/"), course))
    )
    pred = (
        F.when(F.col("tmpl") == 0, F.lit(EX + "enrolledIn"))
        .when(F.col("tmpl") == 1, F.lit(FOAF_KNOWS))
        .when(F.col("tmpl") == 2, F.lit(EX + "hasSubject"))
        .when(F.col("tmpl") == 3, F.lit(EX + "age"))
        .when(F.col("tmpl") == 4, F.lit(EX + "worksFor"))
    )
    obj_kind = F.when(F.col("tmpl").isin(2, 3), F.lit("literal")).otherwise(F.lit("iri"))
    obj_value = (
        F.when(F.col("tmpl") == 0, F.concat(F.lit(EX + "course/"), course))
        .when(F.col("tmpl") == 1, F.concat(F.lit(EX + "person/"), b_slug))
        .when(F.col("tmpl") == 2, topic)
        .when(F.col("tmpl") == 3, F.col("age").cast("string"))
        .when(F.col("tmpl") == 4, F.concat(F.lit(EX + "org/"), org))
    )
    obj_dt = (
        F.when(F.col("tmpl") == 2, F.lit(XSD_STRING))
        .when(F.col("tmpl") == 3, F.lit(XSD_INTEGER))
        .otherwise(F.lit(None).cast("string"))
    )
    golden = (
        base.filter(F.col("tmpl") < 5)
        .select(
            subj.alias("subj"), pred.alias("pred"), obj_kind.alias("obj_kind"),
            obj_value.alias("obj_value"), obj_dt.alias("obj_dt"),
            F.lit(None).cast("string").alias("obj_lang"),
            "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
        )
    )
    return transcripts, golden
