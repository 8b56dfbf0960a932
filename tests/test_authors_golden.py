"""Golden triple-set P/R test for the authors stage (BASELINE.json metric)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikidata_to_cidoc_crm_spark import oracle
from wikidata_to_cidoc_crm_spark.model import triples_to_python_set
from wikidata_to_cidoc_crm_spark.plans.authors import authors_stage


def test_authors_full_world_pr(spark, world, dims):
    person_qids = spark.createDataFrame(
        [(p["qid"],) for p in world.persons], "qid string"
    )
    engine = triples_to_python_set(
        authors_stage(spark, person_qids, dims["wd_statements"], dims["wd_labels"])
    )
    golden = oracle.authors_triples(world)
    p, r = oracle.precision_recall(engine, golden)
    extra = list(engine - golden)[:5]
    missing = list(golden - engine)[:5]
    assert p >= 0.95 and r >= 0.95, (p, r, extra, missing)
    # fixtures are exact-spec'd: expect perfect parity
    assert p == 1.0 and r == 1.0, (extra, missing)


def test_authors_full_world_without_dedupe(spark, world, dims):
    """dedupe=False (the raw emission, deduplicated later by merge) must
    carry exactly the golden triple set once duplicates are dropped."""
    person_qids = spark.createDataFrame(
        [(p["qid"],) for p in world.persons], "qid string"
    )
    raw = authors_stage(spark, person_qids, dims["wd_statements"],
                        dims["wd_labels"], dedupe=False)
    engine = triples_to_python_set(raw)  # the distinct set
    golden = oracle.authors_triples(world)
    assert engine == golden, (sorted(engine - golden)[:5],
                              sorted(golden - engine)[:5])
    assert raw.count() >= len(golden)


def test_authors_subset_qids(spark, world, dims):
    subset = {p["qid"] for p in world.persons[:7]}
    person_qids = spark.createDataFrame([(q,) for q in sorted(subset)], "qid string")
    engine = triples_to_python_set(
        authors_stage(spark, person_qids, dims["wd_statements"], dims["wd_labels"])
    )
    golden = oracle.authors_triples(world, subset)
    assert engine == golden


def test_authors_unknown_label_fallback(spark, world, dims):
    # a QID with no label row → "Unknown (Q…)" (authors.py:273-275)
    person_qids = spark.createDataFrame([("Q99999",)], "qid string")
    out = authors_stage(
        spark, person_qids, dims["wd_statements"], dims["wd_labels"],
        include_header=False,
    )
    lbl = (
        out.filter(
            (F.col("pred") == "http://www.w3.org/2000/01/rdf-schema#label")
            & (F.col("subj") == "https://sappho-digital.com/person/Q99999")
        )
        .select("obj")
        .collect()
    )
    assert [r["obj"] for r in lbl] == ["Unknown (Q99999)"]
