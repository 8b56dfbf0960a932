"""Golden P/R tests for merge (A6/U1/U5) and map_and_align (J10-J17)."""

from __future__ import annotations

import pytest

from wikidata_to_cidoc_crm_spark import oracle, oracle_align, oracle_relations
from wikidata_to_cidoc_crm_spark.model import triples_to_python_set
from wikidata_to_cidoc_crm_spark.plans.align import align_stage
from wikidata_to_cidoc_crm_spark.plans.authors import authors_stage
from wikidata_to_cidoc_crm_spark.plans.merge import merge_stage
from wikidata_to_cidoc_crm_spark.plans.relations import relations_stage
from wikidata_to_cidoc_crm_spark.plans.works import works_stage


@pytest.fixture(scope="module")
def stage_outputs(spark, world, dims):
    person_qids = spark.createDataFrame(
        [(p["qid"],) for p in world.persons], "qid string")
    work_qids = spark.createDataFrame(
        [(w["qid"],) for w in world.works], "qid string")
    a = authors_stage(spark, person_qids, dims["wd_statements"], dims["wd_labels"])
    w = works_stage(spark, work_qids, dims["wd_statements"], dims["wd_labels"])
    r = relations_stage(spark, work_qids, dims["wd_statements"], dims["wd_labels"],
                        dims["wd_subclass_closure"], dims["wd_property_closure"])
    # stage-table stand-ins (the pipeline checkpoints stage outputs too)
    return (a.localCheckpoint(eager=True), w.localCheckpoint(eager=True),
            r.localCheckpoint(eager=True))


@pytest.fixture(scope="module")
def golden_parts(world):
    person_qids = {p["qid"] for p in world.persons}
    work_qids = {w["qid"] for w in world.works}
    return (
        oracle.authors_triples(world, person_qids),
        oracle.works_triples(world, work_qids),
        oracle_relations.relations_triples(world, work_qids),
    )


def test_merge_golden(spark, world, dims, stage_outputs, golden_parts):
    merged = merge_stage(spark, list(stage_outputs))
    engine = triples_to_python_set(merged)
    golden = oracle.merge_triples(*golden_parts)
    p, r = oracle.precision_recall(engine, golden)
    assert p == 1.0 and r == 1.0, (
        p, r, sorted(engine - golden)[:8], sorted(golden - engine)[:8])


@pytest.mark.parametrize("assume_distinct", [True, False],
                         ids=["delta-dedup", "full-dedup"])
def test_align_golden(spark, world, dims, stage_outputs, golden_parts,
                      assume_distinct):
    """Both assembly paths: the delta dedup the pipeline uses, and the
    full-graph dedup + whole-output CURIE normalization that ``cli
    map-align`` uses for arbitrary input graphs."""
    merged = merge_stage(spark, list(stage_outputs)).localCheckpoint(eager=True)
    aligned = align_stage(spark, merged, dims["wd_external_ids"],
                          assume_distinct=assume_distinct)
    engine = triples_to_python_set(aligned)
    golden_merged = oracle.merge_triples(*golden_parts)
    golden = oracle_align.align_triples(golden_merged, world.external_ids)
    p, r = oracle.precision_recall(engine, golden)
    extra = sorted(engine - golden)[:8]
    missing = sorted(golden - engine)[:8]
    assert p >= 0.95 and r >= 0.95, (p, r, len(engine), len(golden), extra, missing)
    assert p == 1.0 and r == 1.0, (extra, missing)
