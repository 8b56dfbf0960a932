"""Shared SQL emission helpers for the mapping and merge stages.

Each stage (``plans/authors.py``, ``plans/works.py``, ``plans/relations.py``,
``plans/merge.py``) is compiled to a handful of ``spark.sql`` strings, one
per plan fragment. Why (BENCH/PLANCOST.md): the classic DataFrame API
analyzes eagerly — every ``.select``/``.join``/``.withColumn`` creates a JVM
Dataset and re-resolves its whole subtree, so a stage built from ~200
incremental ops pays ~700 Catalyst analyses plus thousands of py4j
round-trips (~32 s for the relations stage alone at sf0.1). A SQL string
costs ONE parse+analysis; broadcast hints, the salted pair join and the
first-partner window are spelled out in the SQL.

Single source of truth: the triple-emission ``Rule`` tables stay in the
stage modules; their Column expressions are converted to SQL text through
the session's ColumnNode→Expression converter (classic mode) by
:func:`_emit_inline_sql`. The golden-parity pytests pin the emitted triple
sets against the reference oracles.
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

_compile_lock = threading.Lock()
_EMIT_CACHE: dict[str, str] = {}


def _col_sql(spark: SparkSession, col) -> str:
    """Unresolved Column → parseable SQL text (classic-mode converter).

    Spark's FunctionRegistry registers operators under function names
    (``and``, ``>``, ``isnotnull`` …), so ``Expression.sql()`` output
    round-trips through the parser; the golden-parity tests pin the
    round-trip through the full stage outputs."""
    return spark._jsparkSession.converter().apply(col._jc.node()).sql()


def _emit_inline_sql(spark: SparkSession, rules, cache_key: str) -> str:
    """Compile a Rule table to ``inline(array_compact(array(CASE …)))``: one
    candidate struct per rule and input row, null (rule condition or
    subj/obj nullability failed) structs pruned, the rest generated as
    rows — a narrow Project + Generate that shuffles nothing. Cached per
    rule table: the py4j conversion costs ~0.5 s for a 90-rule list and
    the tables are static."""
    with _compile_lock:
        if cache_key in _EMIT_CACHE:
            return _EMIT_CACHE[cache_key]
        structs = []
        for r in rules:
            subj = F.lit(r.subj) if isinstance(r.subj, str) else r.subj
            obj = F.lit(r.obj) if isinstance(r.obj, str) else r.obj
            cond = subj.isNotNull() & obj.isNotNull()
            if r.cond is not None:
                cond = cond & r.cond
            if r.lang is None:
                langc = F.lit(None).cast("string")
            elif isinstance(r.lang, str):
                langc = F.lit(r.lang)
            else:
                langc = r.lang.cast("string")
            structs.append(F.when(cond, F.struct(
                subj.cast("string").alias("subj"),
                F.lit(r.pred).alias("pred"),
                obj.cast("string").alias("obj"),
                F.lit(bool(r.obj_is_iri)).alias("obj_is_iri"),
                langc.alias("lang"),
                F.lit(r.dtype).cast("string").alias("dtype"),
            )))
        arr = F.array_compact(F.array(*structs))
        sql = f"inline({_col_sql(spark, arr)})"
        _EMIT_CACHE[cache_key] = sql
        return sql


def _q(s) -> str:
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _const_values_sql(triples) -> str:
    """Constant triple block as a VALUES select (model-order tuples:
    (s, p, o[, is_iri[, lang[, dtype]]]), IRI objects by default)."""
    rows = []
    for t in triples:
        s, p, o = t[0], t[1], t[2]
        is_iri = t[3] if len(t) > 3 else True
        lang = t[4] if len(t) > 4 else None
        dtype = t[5] if len(t) > 5 else None
        rows.append(
            f"({_q(s)},{_q(p)},{_q(o)},{'true' if is_iri else 'false'},"
            f"{'NULL' if lang is None else _q(lang)},"
            f"{'NULL' if dtype is None else _q(dtype)})")
    return ("SELECT subj, pred, obj, obj_is_iri, CAST(lang AS STRING) AS lang, "
            "CAST(dtype AS STRING) AS dtype FROM (VALUES "
            + ",\n ".join(rows)
            + ") AS hdr(subj, pred, obj, obj_is_iri, lang, dtype)")


def _wrap(emission_sql: str, header_sql: str | None, dedupe: bool) -> str:
    """Emission ∪ header, optionally DISTINCT over the full triple key
    (set semantics of the reference's rdflib Graph)."""
    body = emission_sql
    if header_sql:
        body = f"{body}\nUNION ALL\n{header_sql}"
    sel = "SELECT DISTINCT" if dedupe else "SELECT"
    return (f"{sel} subj, pred, obj, obj_is_iri, lang, dtype FROM (\n"
            f"{body}\n) __triples")

