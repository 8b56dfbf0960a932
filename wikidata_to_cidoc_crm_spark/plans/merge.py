"""Merge stage — deduplicating union of the authors/works/relations graphs.

Behavioral spec: ``/root/reference/src/wiki2crm/merge.py:34-77``.
* union with set semantics (U1),
* one rdfs:label per subject, lang-tagged preferred (A6) — the reference
  keeps the "first encountered" label (rdflib iteration order); the engine
  fixes a deterministic order: lang-tagged first, then (lang, obj, dtype)
  ascending (SURVEY §4.4.6),
* ontology-node rewrite (U5): drop every triple whose subject is typed
  owl:Ontology, then add the merged header.

Scale notes: the label dedup is a single window over subjects filtered to
label triples only (tiny fraction); the anti-join against ontology subjects
broadcasts (constant-sized set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..model import ECRM, INTRO, LRMOO_ONTO, OWL, RDF_TYPE, RDFS_LABEL, SAPPHO
from ..session import lazy_checkpoint
from .sql_stages import _const_values_sql


def merge_stage(spark: SparkSession, graphs: list[DataFrame]) -> DataFrame:
    """Deduplicating union: one query for union → full-key DISTINCT →
    label-window dedup, a lazy checkpoint, then one query for the
    ontology-node rewrite.

    Exchange strategy: the dedup shuffles on the full 6-tuple key (uniform
    by construction, skew-immune), then ONLY the label fraction
    re-shuffles by subj for the window — a second, but small, exchange.
    The alternative — one full-graph exchange hash-partitioned by subj,
    serving both the dedup and the window — sends ALL distinct triples of
    a hub subject to one reducer. Measured (20M uniform + 4M-triple hub
    subject, local[16], best-of-2, AQE + skew-join on): uniform 4.79 s
    full-key vs 4.98 s subj-partitioned (noise-level); skewed 4.71 s vs
    10.54 s (full-key 2.2x faster — AQE cannot split the hub partition
    because the window/dedup require key co-location; BENCH/SKEW.md).
    Hub subjects are guaranteed in web-scale graphs, so full-key is the
    one strategy."""
    n = len(graphs)
    union = "\nUNION ALL\n".join(
        f"SELECT subj, pred, obj, obj_is_iri, lang, dtype FROM {{g{i}}}"
        for i in range(n))
    q1 = f"""
WITH g AS (SELECT DISTINCT * FROM (
{union}
)),
lbl AS (
  SELECT subj, pred, obj, obj_is_iri, lang, dtype FROM (
    SELECT *, row_number() OVER (
      PARTITION BY subj
      ORDER BY (lang IS NULL) ASC, coalesce(lang, '') ASC, obj ASC,
               coalesce(dtype, '') ASC, obj_is_iri ASC) AS _rn
    FROM g WHERE pred = '{RDFS_LABEL}'
  ) WHERE _rn = 1
)
SELECT * FROM g WHERE pred <> '{RDFS_LABEL}'
UNION ALL
SELECT * FROM lbl"""
    ck = spark.sql(q1, **{f"g{i}": df for i, df in enumerate(graphs)}) \
        .transform(lazy_checkpoint)

    onto = SAPPHO + "ontology/all"
    header = _const_values_sql([
        (onto, RDF_TYPE, OWL + "Ontology"),
        (onto, OWL + "imports", ECRM),
        (onto, OWL + "imports", LRMOO_ONTO),
        (onto, OWL + "imports", INTRO),
    ])
    q2 = f"""
SELECT /*+ BROADCAST(o) */ k.subj, k.pred, k.obj, k.obj_is_iri, k.lang, k.dtype
FROM {{ck}} k
LEFT ANTI JOIN (
  SELECT DISTINCT subj FROM {{ck2}}
  WHERE pred = '{RDF_TYPE}' AND obj = '{OWL + "Ontology"}'
) o ON k.subj = o.subj
UNION ALL
{header}"""
    return spark.sql(q2, ck=ck, ck2=ck)

