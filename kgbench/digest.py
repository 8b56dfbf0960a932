"""Order-independent triple-set digests and the DuckDB-twin reference.

A digest is the sha256 of the sorted, distinct, normalised triple rows plus
the row counts, so two graphs agree exactly when they hold the same triples
and the same number of rows. The reference digest runs
``pipeline_sql.pipeline_sql(make_world_scaled(ws))`` on DuckDB over the
same ``documents.parquet`` the Spark build reads.
"""

from __future__ import annotations

import hashlib

COLUMNS = ("subj", "pred", "obj", "obj_is_iri", "lang", "dtype")


def digest(rows) -> dict:
    """``rows``: iterable of tuples in :data:`COLUMNS` order."""
    n = 0
    lines = set()
    for s, p, o, is_iri, lang, dtype in rows:
        n += 1
        lines.add("\x1f".join((s or "", p or "", o or "", "1" if is_iri else "0",
                               lang or "", dtype or "")))
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": n, "distinct": len(lines), "sha256": h.hexdigest()}


def spark_digest(df) -> dict:
    return digest(tuple(r) for r in df.select(*COLUMNS).collect())


def twin_digest(documents_parquet: str, world_scale: int, threads: int) -> dict:
    """Digest of the DuckDB twin of ``run_pipeline`` (three mentions per
    document, the twin's fixed setting)."""
    import duckdb

    from wikidata_to_cidoc_crm_spark.fixtures import make_world_scaled
    from wikidata_to_cidoc_crm_spark.pipeline_sql import pipeline_sql

    sql = pipeline_sql(make_world_scaled(world_scale))
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        con.execute("SET enable_progress_bar = false")
        path = documents_parquet.replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        res = con.sql(f"SELECT {', '.join(COLUMNS)} FROM ({sql}) q")
        return digest(res.fetchall())
    finally:
        con.close()
