"""Shape and guard checks for the SQL-compiled stages (plans/sql_stages.py
helpers and the stage modules that use them). The golden-parity tests pin
the emitted triple sets; this module pins the plan shape of the rule
fan-out and the cleanup of the relations stage's plan pool."""

from __future__ import annotations

import threading

import pytest

from wikidata_to_cidoc_crm_spark.model import triples_to_python_set


def _plan(df, mode: str = "simple") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _qids(spark, world, key):
    rows = world.persons if key == "persons" else world.works
    return spark.createDataFrame([(r["qid"],) for r in rows], "qid string")


def test_emit_inline_sql_is_shuffle_free(spark, dims):
    """The rule fan-out alone is a pure Project + Generate inside
    whole-stage codegen: it shuffles nothing (SURVEY §2.2 P13)."""
    from pyspark.sql import functions as F

    from wikidata_to_cidoc_crm_spark.functions.uris import mint
    from wikidata_to_cidoc_crm_spark.model import Rule
    from wikidata_to_cidoc_crm_spark.plans.sql_stages import _emit_inline_sql

    emit = _emit_inline_sql(spark, [
        Rule(mint("person", "qid"), "p:x", F.col("label"), obj_is_iri=False),
        Rule(mint("person", "qid"), "p:y", F.col("lang"), obj_is_iri=False),
    ], "test:fanout")
    out = spark.sql(f"SELECT {emit} FROM {{w}}", w=dims["wd_labels"])
    plan = _plan(out)
    assert "Exchange" not in plan  # pure Project+Generate, no shuffle
    assert "Generate inline" in plan
    # '*(n)' prefixes mark whole-stage-codegen spans in simpleString
    assert "*(" in plan
    assert out.count() == 2 * dims["wd_labels"].count()


def test_emission_sql_is_fanout_generate(spark, dims, world):
    """The SQL emission keeps the P13 shape: one Generate (inline) per
    source, no shuffle introduced by the fan-out itself."""
    from wikidata_to_cidoc_crm_spark.plans.authors import authors_stage

    pq = _qids(spark, world, "persons")
    df = authors_stage(spark, pq, dims["wd_statements"], dims["wd_labels"],
                       dedupe=False)
    assert "Generate inline" in _plan(df)


def test_triples_to_python_set_guard_raises(spark):
    """model.triples_to_python_set must refuse production-scale collects
    (round-4/5 advice item: row-count gate like linking.py's)."""
    from pyspark.sql import functions as F

    big = spark.range(10).select(
        F.col("id").cast("string").alias("subj"), F.lit("p").alias("pred"),
        F.lit("o").alias("obj"), F.lit(True).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("dtype"))
    with pytest.raises(ValueError, match="refusing to collect"):
        triples_to_python_set(big, max_rows=5)
    assert len(triples_to_python_set(big, max_rows=100)) == 10


def test_relations_plan_pool_joined_when_a_block_build_fails(
        spark, dims, world, monkeypatch):
    """A block build that raises on the relations stage's plan pool must
    surface from relations_stage and leave no ``relsql-plan`` thread
    alive — an orphaned build would keep planning checkpoints inside
    lazy_checkpoint's session-wide AQE-off window."""
    from wikidata_to_cidoc_crm_spark.plans import relations as relmod

    real = relmod.lazy_checkpoint

    def failing_on_pool(df):
        if threading.current_thread().name.startswith("relsql-plan"):
            raise RuntimeError("block build failed")
        return real(df)

    monkeypatch.setattr(relmod, "lazy_checkpoint", failing_on_pool)
    wq = _qids(spark, world, "works")
    with pytest.raises(RuntimeError, match="block build failed"):
        relmod.relations_stage(
            spark, wq, dims["wd_statements"], dims["wd_labels"],
            dims["wd_subclass_closure"], dims["wd_property_closure"])
    alive = [t.name for t in threading.enumerate()
             if t.name.startswith("relsql-plan")]
    assert alive == []
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
