"""Mapping stages compiled to ANSI SQL — DuckDB twins of authors_stage and
works_stage (driver-contract oracles for ``kg_authors`` / ``kg_works``).

The Spark stages and this module consume the SAME logical inputs — the
fixture world's person/work QID lists, ``wd_statements`` and ``wd_labels``
— but compute the triple set along independent paths: the stages build a
Catalyst plan (pivot → broadcast label joins → rule fan-out →
dropDuplicates, plans/authors.py / plans/works.py); this module embeds the
input tables as VALUES and re-derives the whole emission in SQL
(conditional-aggregation pivot → label-service LEFT JOINs → one SELECT per
reference ``g.add`` site → UNION ALL → DISTINCT), which DuckDB executes.

Reference behavioral spec per block:
  authors — /root/reference/src/wiki2crm/authors.py:254-363 (process_authors)
  works   — /root/reference/src/wiki2crm/works.py:333-554 (process + optionals
            works.py:251-269, fetch_label works.py:285-305)
Header constants come from ``plans.constants`` (the constant lists ARE the
spec — same status as align_spec's transcribed SKOS tables).
"""

from __future__ import annotations

from .fixtures import World
from .model import (
    ECRM,
    INTRO,
    LRMOO,
    OWL_SAMEAS,
    PROV_DERIVED,
    RDF_TYPE,
    RDFS_LABEL,
    RDFS_SEEALSO,
    SAPPHO,
    WD,
    XSD,
)
from .plans.constants import works_header_triples
from .oracle import authors_header_triples

XSD_DATE = XSD + "date"
XSD_GYEAR = XSD + "gYear"
ID_TYPE = SAPPHO + "id_type/wikidata"
GENDER_TYPE = SAPPHO + "gender_type/wikidata"
GENRE_TYPE = SAPPHO + "genre_type/wikidata"


def _q(s: str) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def _values(rows: list[tuple], cols: list[str]) -> str:
    """VALUES table where every column is VARCHAR (NULLs allowed)."""
    txt = ",\n    ".join(
        "(" + ",".join("NULL" if v is None else _q(v) for v in r) + ")"
        for r in rows
    )
    casts = ", ".join(f"CAST({c} AS VARCHAR) AS {c}" for c in cols)
    return (f"SELECT {casts} FROM (VALUES\n    {txt}\n  ) "
            f"raw({', '.join(cols)})")


def _mint(kind: str, key_expr: str) -> str:
    """https://sappho-digital.com/{kind}/{key} — NULL-propagating ||."""
    return f"{_q(SAPPHO + kind + '/')} || {key_expr}"


def _wd(key_expr: str) -> str:
    return f"{_q(WD)} || {key_expr}"


class _T:
    """One triple template ≙ one reference ``g.add`` site."""

    __slots__ = ("subj", "pred", "obj", "is_iri", "lang", "dtype", "cond")

    def __init__(self, subj: str, pred: str, obj: str, is_iri: bool = True,
                 lang: str | None = None, lang_expr: str | None = None,
                 dtype: str | None = None, cond: str | None = None):
        self.subj, self.pred, self.obj = subj, pred, obj
        self.is_iri = is_iri
        self.lang = lang_expr if lang_expr is not None else (
            "NULL" if lang is None else _q(lang))
        self.dtype = "NULL" if dtype is None else _q(dtype)
        self.cond = cond

    def sql(self, src: str) -> str:
        where = f"({self.subj}) IS NOT NULL AND ({self.obj}) IS NOT NULL"
        if self.cond:
            where += f" AND ({self.cond})"
        return (
            f"SELECT {self.subj} AS subj, {_q(self.pred)} AS pred, "
            f"{self.obj} AS obj, {'TRUE' if self.is_iri else 'FALSE'} AS obj_is_iri, "
            f"CAST({self.lang} AS VARCHAR) AS lang, "
            f"CAST({self.dtype} AS VARCHAR) AS dtype FROM {src} WHERE {where}"
        )


def _header_sql(triples) -> str:
    """Constant header triples (all IRIs, no lang/dtype) as one SELECT."""
    rows = sorted((t[0], t[1], t[2]) for t in triples)
    vals = ",\n    ".join(f"({_q(s)},{_q(p)},{_q(o)})" for s, p, o in rows)
    return (
        "SELECT subj, pred, obj, TRUE AS obj_is_iri, "
        "CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS dtype "
        f"FROM (VALUES\n    {vals}\n  ) hdr(subj, pred, obj)"
    )


def _event_templates(kind: str, date_col: str, place_col: str,
                     place_label: str, cls: str, inverse_prop: str,
                     direct_prop: str) -> list[_T]:
    """Birth/death block (authors.py:299-335): the event node exists iff a
    date OR a place is present; timespan/place legs null-propagate."""
    person = _mint("person", "qid")
    event = _mint(kind, "qid")
    has_event = f"{date_col} IS NOT NULL OR {place_col} IS NOT NULL"
    ts = _mint("timespan", f"replace({date_col}, '-', '')")
    place = _mint("place", place_col)
    return [
        _T(person, ECRM + inverse_prop, event, cond=has_event),
        _T(event, ECRM + direct_prop, person, cond=has_event),
        _T(event, RDF_TYPE, _q(ECRM + cls), cond=has_event),
        _T(event, RDFS_LABEL, f"{_q(kind.capitalize() + ' of ')} || label",
           is_iri=False, lang="en", cond=has_event),
        _T(event, PROV_DERIVED, _wd("qid"), cond=has_event),
        _T(ts, RDF_TYPE, _q(ECRM + "E52_Time-Span")),
        _T(ts, RDFS_LABEL, date_col, is_iri=False, dtype=XSD_DATE),
        _T(event, ECRM + "P4_has_time-span", ts),
        _T(ts, ECRM + "P4i_is_time-span_of", event),
        _T(event, ECRM + "P7_took_place_at", place),
        _T(place, ECRM + "P7i_witnessed", event),
        _T(place, RDF_TYPE, _q(ECRM + "E53_Place")),
        _T(place, OWL_SAMEAS, _wd(place_col)),
        _T(place, RDFS_LABEL, place_label, is_iri=False, lang="en"),
    ]


def authors_sql(world: World, qids_from: str | None = None) -> str:
    """authors_stage twin: persons' statements pivoted per QID (min = the
    deterministic first-binding rule, SURVEY §2.4 A5), en-label service,
    then the authors.py:254-363 emission surface."""
    person = _mint("person", "qid")
    identifier = _mint("identifier", "qid")
    id_type = _q(ID_TYPE)
    gender = _mint("gender", "gender_qid")
    gtype = _q(GENDER_TYPE)
    visual = _mint("visual_item", "qid")
    has_gender = "gender_qid IS NOT NULL AND gender_label IS NOT NULL"
    has_image = "image_url IS NOT NULL"

    templates = [
        # person core (authors.py:281-293)
        _T(person, RDF_TYPE, _q(ECRM + "E21_Person")),
        _T(person, OWL_SAMEAS, _wd("qid")),
        _T(person, RDFS_LABEL, "label", is_iri=False, lang="en"),
        _T(person, ECRM + "P1_is_identified_by", identifier),
        _T(identifier, ECRM + "P1i_identifies", person),
        _T(identifier, RDF_TYPE, _q(ECRM + "E42_Identifier")),
        _T(identifier, RDFS_LABEL, "qid", is_iri=False),
        _T(identifier, ECRM + "P2_has_type", id_type),
        _T(id_type, ECRM + "P2i_is_type_of", identifier),
        _T(id_type, RDF_TYPE, _q(ECRM + "E55_Type")),
        _T(id_type, RDFS_LABEL, _q("Wikidata ID"), is_iri=False, lang="en"),
    ]
    templates += _event_templates(
        "birth", "birth_date", "birth_place_qid", "birth_place_label",
        "E67_Birth", "P98i_was_born", "P98_brought_into_life")
    templates += _event_templates(
        "death", "death_date", "death_place_qid", "death_place_label",
        "E69_Death", "P100i_died_in", "P100_was_death_of")
    templates += [
        # gender block (authors.py:337-355) — needs gender AND genderLabel
        _T(gender, RDF_TYPE, _q(ECRM + "E55_Type"), cond=has_gender),
        _T(gender, RDFS_LABEL, "gender_label", is_iri=False, lang="en",
           cond=has_gender),
        _T(gender, OWL_SAMEAS, _wd("gender_qid"), cond=has_gender),
        _T(gender, ECRM + "P2_has_type", gtype, cond=has_gender),
        _T(gtype, ECRM + "P2i_is_type_of", gender, cond=has_gender),
        _T(gtype, RDF_TYPE, _q(ECRM + "E55_Type"), cond=has_gender),
        _T(gtype, RDFS_LABEL, _q("Wikidata Gender"), is_iri=False, lang="en",
           cond=has_gender),
        _T(person, ECRM + "P2_has_type", gender, cond=has_gender),
        _T(gender, ECRM + "P2i_is_type_of", person, cond=has_gender),
        # image block (authors.py:357-363, intended semantics SURVEY §4.4.1)
        _T(visual, RDF_TYPE, _q(ECRM + "E36_Visual_Item"), cond=has_image),
        _T(visual, RDFS_LABEL, f"{_q('Visual representation of ')} || label",
           is_iri=False, lang="en", cond=has_image),
        _T(visual, ECRM + "P138_represents", person, cond=has_image),
        _T(person, ECRM + "P138i_has_representation", visual, cond=has_image),
        _T(visual, RDFS_SEEALSO, "image_url", cond=has_image),
        _T(visual, PROV_DERIVED, _wd("qid"), cond=has_image),
    ]
    body = "\n  UNION ALL\n  ".join(t.sql("wide") for t in templates)
    stmt_rows = [(s[0], s[1], s[2]) for s in world.statements]
    label_rows = list(world.labels)
    qid_rows = [(p["qid"],) for p in world.persons]
    qids_body = qids_from or _values(qid_rows, ["qid"])
    return f"""WITH person_qids AS MATERIALIZED (
  {qids_body}
),
statements AS MATERIALIZED (
  {_values(stmt_rows, ["subject_qid", "pid", "object_value"])}
),
labels AS MATERIALIZED (
  {_values(label_rows, ["qid", "lang", "label"])}
),
piv AS (
  SELECT subject_qid AS qid,
         min(CASE WHEN pid = 'P21' THEN object_value END) AS gender_qid,
         min(CASE WHEN pid = 'P19' THEN object_value END) AS birth_place_qid,
         min(CASE WHEN pid = 'P20' THEN object_value END) AS death_place_qid,
         min(CASE WHEN pid = 'P569' THEN object_value END) AS p569,
         min(CASE WHEN pid = 'P570' THEN object_value END) AS p570,
         min(CASE WHEN pid = 'P18' THEN object_value END) AS image_url
  FROM statements
  WHERE subject_qid IN (SELECT qid FROM person_qids)
  GROUP BY subject_qid
),
lab_en AS (SELECT qid, label FROM labels WHERE lang = 'en'),
wide AS MATERIALIZED (
  SELECT p.qid,
         coalesce(le.label, 'Unknown (' || p.qid || ')') AS label,
         piv.gender_qid, lg.label AS gender_label,
         -- DuckDB split_part(NULL) is '' not NULL — guard to match
         -- Spark's NULL-propagating substring_index (plans/authors.py)
         CASE WHEN piv.p569 IS NOT NULL
              THEN split_part(piv.p569, 'T', 1) END AS birth_date,
         CASE WHEN piv.p570 IS NOT NULL
              THEN split_part(piv.p570, 'T', 1) END AS death_date,
         piv.birth_place_qid, lbp.label AS birth_place_label,
         piv.death_place_qid, ldp.label AS death_place_label,
         piv.image_url
  FROM person_qids p
  LEFT JOIN piv ON piv.qid = p.qid
  LEFT JOIN lab_en le ON le.qid = p.qid
  LEFT JOIN lab_en lg ON lg.qid = piv.gender_qid
  LEFT JOIN lab_en lbp ON lbp.qid = piv.birth_place_qid
  LEFT JOIN lab_en ldp ON ldp.qid = piv.death_place_qid
)
SELECT DISTINCT subj, pred, obj, obj_is_iri, lang, dtype FROM (
  {body}
  UNION ALL
  {_header_sql(authors_header_triples())}
) t"""


def works_sql(world: World, qids_from: str | None = None) -> str:
    """works_stage twin: per-property LEFT-JOIN slices (reference binding-row
    multiplicity), MIN(P577), P571∪P2754 union, the en→de→QID label service,
    the de-or-Untitled fetch_label, then the works.py:333-554 emission
    surface (including the works.py:403 title self-loop and the
    works.py:398 /wiki/ sameAs oddity)."""
    work = _mint("work", "qid")
    expr = _mint("expression", "qid")
    wd_uri = _wd("qid")
    wc = _mint("work_creation", "qid")
    author = _mint("person", "author_qid")
    ident = _mint("identifier", "qid")
    id_type = _q(ID_TYPE)
    title = _mint("title/expression", "qid")
    genre = _mint("genre", "genre_qid")
    gtype = _q(GENRE_TYPE)
    has_genre = "genre_qid IS NOT NULL"
    ec = _mint("expression_creation", "qid")
    cts = _mint("timespan", "creation_year")
    manif = _mint("manifestation", "qid")
    mtitle = _mint("title/manifestation", "qid")
    mtstr = _mint("title_string/manifestation", "qid")
    mc = _mint("manifestation_creation", "qid")
    publisher = _mint("publisher", "publisher_qid")
    pts = _mint("timespan", "pub_year")
    pplace = _mint("place", "pub_place_qid")
    editor = _mint("person", "editor_qid")
    eid = _mint("identifier", "editor_qid")
    ip = _mint("item_production", "qid")
    item = _mint("item", "qid")
    digital = _mint("digital", "qid")
    has_digital = "digital_copy IS NOT NULL"

    def lbl(prefix: str) -> str:
        return f"{_q(prefix)} || label"

    templates = [
        # work core + work creation (works.py:361-372)
        _T(work, RDF_TYPE, _q(LRMOO + "F1_Work")),
        _T(work, RDFS_LABEL, lbl("Work of "), is_iri=False, lang="en"),
        _T(work, LRMOO + "R3_is_realised_in", expr),
        _T(expr, LRMOO + "R3i_realises", work),
        _T(wc, RDF_TYPE, _q(LRMOO + "F27_Work_Creation")),
        _T(wc, RDFS_LABEL, lbl("Work creation of "), is_iri=False, lang="en"),
        _T(wc, LRMOO + "R16_created", work),
        _T(work, LRMOO + "R16i_was_created_by", wc),
        _T(wc, PROV_DERIVED, wd_uri),
        # author block (works.py:374-382)
        _T(wc, ECRM + "P14_carried_out_by", author),
        _T(author, ECRM + "P14i_performed", wc),
        _T(author, RDF_TYPE, _q(ECRM + "E21_Person")),
        _T(author, RDFS_LABEL, "author_label", is_iri=False),  # no lang tag
        _T(author, OWL_SAMEAS, _wd("author_qid")),
        # expression + identifier + title (works.py:385-403, 421-422)
        _T(expr, RDF_TYPE, _q(LRMOO + "F2_Expression")),
        _T(expr, RDFS_LABEL, lbl("Expression of "), is_iri=False, lang="en"),
        _T(expr, ECRM + "P1_is_identified_by", ident),
        _T(ident, ECRM + "P1i_identifies", expr),
        _T(ident, RDF_TYPE, _q(ECRM + "E42_Identifier")),
        _T(ident, RDFS_LABEL, "qid", is_iri=False),
        _T(ident, ECRM + "P2_has_type", id_type),
        _T(id_type, ECRM + "P2i_is_type_of", ident),
        _T(id_type, RDF_TYPE, _q(ECRM + "E55_Type")),
        _T(id_type, RDFS_LABEL, _q("Wikidata ID"), is_iri=False, lang="en"),
        _T(id_type, OWL_SAMEAS, _q("http://www.wikidata.org/wiki/Q43649390")),
        _T(expr, ECRM + "P102_has_title", title),
        _T(title, ECRM + "P102i_is_title_of", expr),
        _T(title, RDF_TYPE, _q(ECRM + "E35_Title")),
        _T(title, ECRM + "P190i_is_content_of", title),  # works.py:403 self-loop
        _T(expr, OWL_SAMEAS, wd_uri),
        _T(expr, PROV_DERIVED, wd_uri),
        # genre block (works.py:405-419)
        _T(genre, RDF_TYPE, _q(ECRM + "E55_Type")),
        _T(genre, RDFS_LABEL, "genre_label", is_iri=False, lang="en"),
        _T(genre, OWL_SAMEAS, _wd("genre_qid")),
        _T(genre, ECRM + "P2_has_type", gtype),
        _T(gtype, ECRM + "P2i_is_type_of", genre),
        _T(gtype, RDF_TYPE, _q(ECRM + "E55_Type"), cond=has_genre),
        _T(gtype, RDFS_LABEL, _q("Wikidata Genre"), is_iri=False, lang="en",
           cond=has_genre),
        _T(expr, ECRM + "P2_has_type", genre),
        _T(genre, ECRM + "P2i_is_type_of", expr),
        # expression creation (works.py:425-436)
        _T(ec, RDF_TYPE, _q(LRMOO + "F28_Expression_Creation")),
        _T(ec, RDFS_LABEL, lbl("Expression creation of "), is_iri=False,
           lang="en"),
        _T(ec, LRMOO + "R17_created", expr),
        _T(expr, LRMOO + "R17i_was_created_by", ec),
        _T(ec, LRMOO + "R19_created_a_realisation_of", work),
        _T(work, LRMOO + "R19i_was_realised_through", ec),
        _T(ec, PROV_DERIVED, wd_uri),
        _T(ec, ECRM + "P14_carried_out_by", author),  # direct only, works.py:435
        # creation timespan (works.py:437-446)
        _T(cts, RDF_TYPE, _q(ECRM + "E52_Time-Span")),
        _T(cts, RDFS_LABEL, "creation_year", is_iri=False, dtype=XSD_GYEAR),
        _T(ec, ECRM + "P4_has_time-span", cts),
        _T(cts, ECRM + "P4i_is_time-span_of", ec),
        # manifestation + its title (works.py:449-467)
        _T(manif, RDF_TYPE, _q(LRMOO + "F3_Manifestation")),
        _T(manif, RDFS_LABEL, lbl("Manifestation of "), is_iri=False,
           lang="en"),
        _T(manif, LRMOO + "R4_embodies", expr),
        _T(expr, LRMOO + "R4i_is_embodied_in", manif),
        _T(manif, ECRM + "P102_has_title", mtitle),
        _T(mtitle, ECRM + "P102i_is_title_of", manif),
        _T(mtitle, RDF_TYPE, _q(ECRM + "E35_Title")),
        _T(mtitle, ECRM + "P190_has_symbolic_content", mtstr),
        _T(mtitle, RDFS_LABEL, "manif_label", is_iri=False,
           lang_expr="manif_lang"),
        # manifestation creation (works.py:470-479)
        _T(mc, RDF_TYPE, _q(LRMOO + "F30_Manifestation_Creation")),
        _T(mc, RDFS_LABEL, lbl("Manifestation creation of "), is_iri=False,
           lang="en"),
        _T(mc, LRMOO + "R24_created", manif),
        _T(manif, LRMOO + "R24i_was_created_through", mc),
        _T(mc, PROV_DERIVED, wd_uri),
        _T(mc, ECRM + "P14_carried_out_by", author),
        _T(author, ECRM + "P14i_performed", mc),
        # publisher (works.py:481-490)
        _T(publisher, RDF_TYPE, _q(ECRM + "E74_Group")),
        _T(publisher, RDFS_LABEL, "publisher_label", is_iri=False, lang="en"),
        _T(publisher, OWL_SAMEAS, _wd("publisher_qid")),
        _T(mc, ECRM + "P14_carried_out_by", publisher),
        _T(publisher, ECRM + "P14i_performed", mc),
        # publication timespan (works.py:492-501)
        _T(pts, RDF_TYPE, _q(ECRM + "E52_Time-Span")),
        _T(pts, RDFS_LABEL, "pub_year", is_iri=False, dtype=XSD_GYEAR),
        _T(mc, ECRM + "P4_has_time-span", pts),
        _T(pts, ECRM + "P4i_is_time-span_of", mc),
        # publication place (works.py:503-512)
        _T(pplace, RDF_TYPE, _q(ECRM + "E53_Place")),
        _T(pplace, RDFS_LABEL, "pub_place_label", is_iri=False, lang="en"),
        _T(pplace, OWL_SAMEAS, _wd("pub_place_qid")),
        _T(mc, ECRM + "P7_took_place_at", pplace),
        _T(pplace, ECRM + "P7i_witnessed", mc),
        # editor (works.py:514-530)
        _T(editor, RDF_TYPE, _q(ECRM + "E21_Person")),
        _T(editor, RDFS_LABEL, "editor_label", is_iri=False),  # no lang tag
        _T(editor, OWL_SAMEAS, _wd("editor_qid")),
        _T(editor, ECRM + "P1_is_identified_by", eid),
        _T(eid, ECRM + "P1i_identifies", editor),
        _T(eid, RDF_TYPE, _q(ECRM + "E42_Identifier")),
        _T(eid, RDFS_LABEL, "editor_qid", is_iri=False),
        _T(eid, ECRM + "P2_has_type", id_type),
        _T(id_type, ECRM + "P2i_is_type_of", eid),
        _T(mc, ECRM + "P14_carried_out_by", editor),
        _T(editor, ECRM + "P14i_performed", mc),
        # item production + item (works.py:532-546)
        _T(ip, RDF_TYPE, _q(LRMOO + "F32_Item_Production_Event")),
        _T(ip, RDFS_LABEL, lbl("Item production event of "), is_iri=False,
           lang="en"),
        _T(ip, LRMOO + "R27_materialized", manif),
        _T(manif, LRMOO + "R27i_was_materialized_by", ip),
        _T(ip, LRMOO + "R28_produced", item),
        _T(item, LRMOO + "R28i_was_produced_by", ip),
        _T(item, RDF_TYPE, _q(LRMOO + "F5_Item")),
        _T(item, RDFS_LABEL, lbl("Item of "), is_iri=False, lang="en"),
        _T(item, LRMOO + "R7_exemplifies", manif),
        _T(manif, LRMOO + "R7i_is_exemplified_by", item),
        # digital copy (works.py:548-554)
        _T(digital, RDF_TYPE, _q(ECRM + "E73_Information_Object"),
           cond=has_digital),
        _T(digital, RDFS_LABEL, lbl("Digital copy of "), is_iri=False,
           lang="en", cond=has_digital),
        _T(digital, ECRM + "P138_represents", expr, cond=has_digital),
        _T(expr, ECRM + "P138i_has_representation", digital, cond=has_digital),
        _T(digital, RDFS_SEEALSO, "digital_copy", cond=has_digital),
    ]
    body = "\n  UNION ALL\n  ".join(t.sql("wide2") for t in templates)

    slices = "\n".join(
        f"sl_{pid} AS (SELECT subject_qid AS qid, object_value AS v "
        f"FROM stmts WHERE pid = '{pid}'),"
        for pid in ["P136", "P50", "P291", "P123", "P953", "P98",
                    "P1433", "P361"])
    svc_joins = "\n".join(
        f"  LEFT JOIN svc s{i} ON s{i}.qid = {key}"
        for i, key in enumerate([
            "w.qid", "g.v", "a.v", "pp.v", "pb.v", "ed.v"]))
    stmt_rows = [(s[0], s[1], s[2], s[4]) for s in world.statements]
    label_rows = list(world.labels)
    qid_rows = [(wk["qid"],) for wk in world.works]
    qids_body = qids_from or _values(qid_rows, ["qid"])
    return f"""WITH work_qids AS MATERIALIZED (
  {qids_body}
),
statements AS MATERIALIZED (
  {_values(stmt_rows, ["subject_qid", "pid", "object_value", "object_lang"])}
),
labels AS MATERIALIZED (
  {_values(label_rows, ["qid", "lang", "label"])}
),
stmts AS (SELECT * FROM statements
          WHERE subject_qid IN (SELECT qid FROM work_qids)),
title_de AS (SELECT subject_qid AS qid, object_value AS v FROM statements
             WHERE pid = 'P1476' AND object_lang = 'de'),
title_en AS (SELECT subject_qid AS qid, object_value AS v FROM statements
             WHERE pid = 'P1476' AND object_lang = 'en'),
{slices}
pub AS (SELECT subject_qid AS qid, min(object_value) AS pub_date_raw
        FROM stmts WHERE pid = 'P577' GROUP BY subject_qid),
creation AS (SELECT subject_qid AS qid, object_value AS creation_date_raw
             FROM stmts WHERE pid IN ('P571', 'P2754')),
svc AS (SELECT qid,
               min(CASE WHEN lang = 'en' THEN label END) AS len,
               min(CASE WHEN lang = 'de' THEN label END) AS lde
        FROM labels GROUP BY qid),
dl AS (SELECT qid, label FROM labels WHERE lang = 'de'),
wide AS MATERIALIZED (
  SELECT w.qid,
         td.v AS title_de, te.v AS title_en,
         g.v AS genre_qid, a.v AS author_qid, pp.v AS pub_place_qid,
         pb.v AS publisher_qid, dc.v AS digital_copy, ed.v AS editor_qid,
         pi.v AS published_in, po.v AS part_of,
         pub.pub_date_raw, cr.creation_date_raw,
         coalesce(s0.len, s0.lde, w.qid) AS work_label,
         coalesce(s1.len, s1.lde, g.v) AS genre_label,
         coalesce(s2.len, s2.lde, a.v) AS author_label,
         coalesce(s3.len, s3.lde, pp.v) AS pub_place_label,
         coalesce(s4.len, s4.lde, pb.v) AS publisher_label,
         coalesce(s5.len, s5.lde, ed.v) AS editor_label,
         d1.label AS published_in_de, d2.label AS part_of_de
  FROM work_qids w
  LEFT JOIN title_de td ON td.qid = w.qid
  LEFT JOIN title_en te ON te.qid = w.qid
  LEFT JOIN sl_P136 g ON g.qid = w.qid
  LEFT JOIN sl_P50 a ON a.qid = w.qid
  LEFT JOIN sl_P291 pp ON pp.qid = w.qid
  LEFT JOIN sl_P123 pb ON pb.qid = w.qid
  LEFT JOIN sl_P953 dc ON dc.qid = w.qid
  LEFT JOIN sl_P98 ed ON ed.qid = w.qid
  LEFT JOIN sl_P1433 pi ON pi.qid = w.qid
  LEFT JOIN sl_P361 po ON po.qid = w.qid
  LEFT JOIN pub ON pub.qid = w.qid
  LEFT JOIN creation cr ON cr.qid = w.qid
{svc_joins}
  LEFT JOIN dl d1 ON d1.qid = pi.v
  LEFT JOIN dl d2 ON d2.qid = po.v
),
wide1 AS (
  SELECT *,
         coalesce(title_de, title_en, work_label, 'Untitled') AS label,
         CASE WHEN title_de IS NOT NULL THEN 'de'
              WHEN title_en IS NOT NULL THEN 'en'
              WHEN work_label IS NOT NULL THEN 'de'
              ELSE 'en' END AS label_lang,
         substr(creation_date_raw, 1, 4) AS creation_year,
         substr(pub_date_raw, 1, 4) AS pub_year
  FROM wide
),
wide2 AS MATERIALIZED (
  SELECT *,
         CASE WHEN published_in IS NOT NULL
                THEN coalesce(published_in_de, 'Untitled')
              WHEN part_of IS NOT NULL
                THEN coalesce(part_of_de, 'Untitled')
              ELSE label END AS manif_label,
         CASE WHEN published_in IS NOT NULL
                THEN (CASE WHEN published_in_de IS NOT NULL
                           THEN 'de' ELSE 'en' END)
              WHEN part_of IS NOT NULL
                THEN (CASE WHEN part_of_de IS NOT NULL
                           THEN 'de' ELSE 'en' END)
              ELSE label_lang END AS manif_lang
  FROM wide1
)
SELECT DISTINCT subj, pred, obj, obj_is_iri, lang, dtype FROM (
  {body}
  UNION ALL
  {_header_sql(works_header_triples())}
) t"""


# --- relations stage twin -------------------------------------------------

def _const6_sql(triples) -> str:
    """Constant triples with full 6-tuple identity as one SELECT."""
    rows = sorted(
        (t[0], t[1], t[2], t[5], t[3], t[4]) for t in triples
    )  # oracle order: (s, p, o, lang, dtype, is_iri) → (s,p,o,is_iri,lang,dtype)
    vals = ",\n    ".join(
        "(" + ",".join([
            _q(s), _q(p), _q(o), "TRUE" if ii else "FALSE",
            "NULL" if lang is None else _q(lang),
            "NULL" if dt is None else _q(dt),
        ]) + ")"
        for s, p, o, ii, lang, dt in rows)
    return (
        "SELECT subj, pred, obj, obj_is_iri, "
        "CAST(lang AS VARCHAR) AS lang, CAST(dtype AS VARCHAR) AS dtype "
        f"FROM (VALUES\n    {vals}\n  ) c6(subj, pred, obj, obj_is_iri, lang, dtype)"
    )


def relations_sql(world: World, qids_from: str | None = None) -> str:
    """relations_stage twin — relations.py:299-877's nine processors
    re-derived in SQL over the embedded fixture inputs.

    Order-dependent reference semantics and their SQL equivalents:

    * first-partner-wins actualization links (add_actualization's guard,
      relations.py:236-264): for target t with qualifying works S, the act
      for (t, w) binds the relation of w's FIRST pair in the reference's
      ``combinations(sorted(S), 2)`` iteration — that partner is exactly
      ``min(S \\ {w})``, computed with a grouped self-join.
    * citation direction (relations.py:779-784 seen-set): the winner per
      undirected pair is the lexicographically smallest directed (src, tgt)
      in the sorted directed list — ``min_by`` per unordered key.
    * interpretation-tid claims (add_interpretation guards): claim-order
      ambiguity only matters when two creation sites share a tid with
      DIFFERENT labels/derivations; the fixture world has zero such
      collisions (every tid claimed once) and tests/test_map_sql.py pins
      exact parity vs the pure-Python oracle, so any future fixture that
      introduced a collision would fail loudly there.
    """
    E = ECRM
    I = INTRO
    ID = _q(ID_TYPE)
    lab_t = "coalesce(lt.len, lt.lde, a.t)"   # label(tgt) with lab join lt
    lab_w = "coalesce(lw.len, lw.lde, a.w)"   # label(w) with lab join lw

    # --- per-family edge definitions (base pids + optional type filter) ---
    def typed(alias: str, classes: tuple[str, ...]) -> str:
        inlist = ", ".join(_q(c) for c in classes)
        return (f"EXISTS (SELECT 1 FROM types ty WHERE ty.q = {alias}.o "
                f"AND ty.a IN ({inlist}))")

    fam_edges = {
        "plot": f"""SELECT DISTINCT b.s AS w, b.o AS t FROM by_base b
      WHERE b.base = 'P921' AND {typed('b', ('Q42109240',))}""",
        "topic": f"""SELECT DISTINCT b.s AS w, b.o AS t FROM by_base b
      WHERE b.base = 'P921' AND {typed('b', ('Q26256810',))}""",
        "motif": """SELECT DISTINCT b.s AS w, b.o AS t FROM by_base b
      WHERE b.base = 'P6962'""",
        "person_ref": f"""SELECT DISTINCT b.s AS w, b.o AS t FROM by_base b
      WHERE b.base IN ('P180', 'P921', 'P527') AND {typed('b', ('Q5',))}""",
        "place_ref": f"""SELECT DISTINCT b.s AS w, b.o AS t FROM by_base b
      WHERE b.base = 'P921' AND {typed('b', ('Q2221906',))}""",
        "character": f"""SELECT DISTINCT b.s AS w, b.o AS t FROM by_base b
      WHERE b.base = 'P674'
      UNION
      SELECT DISTINCT b.s AS w, b.o AS t FROM by_base b
      WHERE b.base IN ('P180', 'P921')
        AND {typed('b', ('Q3658341', 'Q15632617'))}""",
    }
    pair_fams = list(fam_edges)  # the ≥2-works pairing families (2, 4-8)

    fam_cte = "\n".join(
        f"""ed_{f} AS ({q}),
grp_{f} AS (SELECT t FROM ed_{f} GROUP BY t HAVING count(*) >= 2),
wk_{f} AS (SELECT e.t, e.w FROM ed_{f} e
           WHERE e.t IN (SELECT t FROM grp_{f})),
pr_{f} AS (SELECT a.t, a.w AS w1, b.w AS w2 FROM wk_{f} a
           JOIN wk_{f} b ON a.t = b.t AND a.w < b.w),
fp_{f} AS (SELECT e.t, e.w, min(o.w) AS p FROM wk_{f} e
           JOIN wk_{f} o ON o.t = e.t AND o.w <> e.w GROUP BY e.t, e.w),"""
        for f, q in fam_edges.items())

    # acts_all: one row per actualization with everything its 19 triple
    # templates need. ra/rb = the first-pair relation endpoints.
    strip_ref = ("CASE WHEN albl LIKE 'Reference to %' "
                 "THEN substr(albl, 14) ELSE albl END")
    act_selects = []
    for f, typ, albl, fpath, p67 in [
        ("plot", "plot", f"{lab_t} || ' in ' || {lab_w}", "feature/plot", "NULL"),
        ("topic", "topic", f"{lab_t} || ' in ' || {lab_w}", "feature/topic", "NULL"),
        ("motif", "motif", f"{lab_t} || ' in ' || {lab_w}", "feature/motif", "NULL"),
        ("person_ref", "person_ref",
         f"'Reference to ' || {lab_t} || ' in ' || {lab_w}",
         "feature/person_ref", f"{_q(SAPPHO + 'person/')} || a.t"),
        ("place_ref", "place_ref",
         f"'Reference to ' || {lab_t} || ' in ' || {lab_w}",
         "feature/place_ref", f"{_q(SAPPHO + 'place/')} || a.t"),
        ("character", "character", f"{lab_t} || ' in ' || {lab_w}",
         "feature/character",
         f"CASE WHEN EXISTS (SELECT 1 FROM types ty WHERE ty.q = a.t "
         f"AND ty.a = 'Q5') THEN {_q(SAPPHO + 'person/')} || a.t END"),
    ]:
        act_selects.append(f"""SELECT '{typ}' AS typ, a.t, a.w,
        {albl} AS albl,
        {_q(SAPPHO + fpath + '/')} || a.t AS feat,
        least(a.w, a.p) AS ra, greatest(a.w, a.p) AS rb,
        {p67} AS p67
      FROM fp_{f} a
      LEFT JOIN lab lt ON lt.qid = a.t LEFT JOIN lab lw ON lw.qid = a.w""")
    # work_ref (relations.py:616-669): no ≥2 gate, act per (tgt, src),
    # bound to its own pair's relation; p67 → the target's expression
    act_selects.append(f"""SELECT 'work_ref' AS typ, a.t, a.w,
        'Reference to ' || {lab_t} || ' in ' || {lab_w} AS albl,
        {_q(SAPPHO + 'feature/work_ref/')} || a.t AS feat,
        least(a.w, a.t) AS ra, greatest(a.w, a.t) AS rb,
        {_q(SAPPHO + 'expression/')} || a.t AS p67
      FROM wr_pairs a
      LEFT JOIN lab lt ON lt.qid = a.t LEFT JOIN lab lw ON lw.qid = a.w""")
    acts_all = "\n      UNION ALL\n      ".join(act_selects)

    # every (undirected) intertextual relation, from all nine processors
    rel_sources = ["SELECT w1 AS ra, w2 AS rb FROM int31_pairs",
                   "SELECT least(src, tgt), greatest(src, tgt) FROM cite_pairs",
                   "SELECT least(t, w), greatest(t, w) FROM wr_pairs"]
    rel_sources += [f"SELECT w1, w2 FROM pr_{f}" for f in pair_fams]
    rels_union = "\n      UNION\n      ".join(rel_sources)

    # R22 similarity links: feature ↔ relation per qualifying pair
    r22_sources = [
        f"SELECT {_q(SAPPHO + 'feature/plot/')} || t AS feat, "
        f"{_q(SAPPHO + 'relation/')} || w1 || '_' || w2 AS rel FROM pr_plot",
        f"SELECT {_q(SAPPHO + 'feature/topic/')} || t, "
        f"{_q(SAPPHO + 'relation/')} || w1 || '_' || w2 FROM pr_topic",
        f"SELECT {_q(SAPPHO + 'feature/motif/')} || t, "
        f"{_q(SAPPHO + 'relation/')} || w1 || '_' || w2 FROM pr_motif",
        f"SELECT {_q(SAPPHO + 'feature/person_ref/')} || t, "
        f"{_q(SAPPHO + 'relation/')} || w1 || '_' || w2 FROM pr_person_ref",
        f"SELECT {_q(SAPPHO + 'feature/place_ref/')} || t, "
        f"{_q(SAPPHO + 'relation/')} || w1 || '_' || w2 FROM pr_place_ref",
        f"SELECT {_q(SAPPHO + 'feature/character/')} || t, "
        f"{_q(SAPPHO + 'relation/')} || w1 || '_' || w2 FROM pr_character",
        f"SELECT {_q(SAPPHO + 'feature/work_ref/')} || t, "
        f"{_q(SAPPHO + 'relation/')} || least(t, w) || '_' || greatest(t, w) "
        "FROM wr_pairs",
    ]
    r22_union = "\n      UNION\n      ".join(r22_sources)

    # expressions ensured across processors
    expr_sources = [
        "SELECT w1 AS q FROM int31_pairs", "SELECT w2 FROM int31_pairs",
        "SELECT src FROM cite_pairs", "SELECT tgt FROM cite_pairs",
        "SELECT t FROM wr_targets", "SELECT w FROM wr_srcs",
    ] + [f"SELECT w FROM wk_{f}" for f in pair_fams]
    exprs_union = "\n      UNION\n      ".join(expr_sources)

    # entity nodes with identifiers: typed features, persons, places
    ident_entities = []  # (entity_expr, qid_expr, src_cte)
    feat_nodes = []
    for f, cls, lbl_expr in [
        ("plot", I + "INT_Plot", "l || ' (plot)'"),
        ("topic", I + "INT_Topic", "l || ' (topic)'"),
        ("motif", I + "INT_Motif", "l || ' (motif)'"),
        ("character", I + "INT_Character", "l"),
    ]:
        feat_nodes.append(
            f"SELECT {_q(SAPPHO + 'feature/' + f + '/')} || t AS node, t AS q, "
            f"{_q(cls)} AS cls, {lbl_expr} AS lbl, "
            f"TRUE AS same_as, TRUE AS with_id FROM "
            f"(SELECT t, coalesce(lt.len, lt.lde, g.t) AS l FROM grp_{f} g "
            f"LEFT JOIN lab lt ON lt.qid = g.t) s")
    # INT18 reference features (hand-built: no sameAs, no identifier)
    feat_nodes.append(
        f"SELECT {_q(SAPPHO + 'feature/person_ref/')} || t, t, "
        f"{_q(I + 'INT18_Reference')}, 'Reference to ' || l || ' (person)', "
        "FALSE, FALSE FROM "
        "(SELECT t, coalesce(lt.len, lt.lde, g.t) AS l FROM grp_person_ref g "
        "LEFT JOIN lab lt ON lt.qid = g.t"
        " UNION SELECT t, coalesce(lt.len, lt.lde, g.t) FROM char_persons g "
        "LEFT JOIN lab lt ON lt.qid = g.t) s")
    feat_nodes.append(
        f"SELECT {_q(SAPPHO + 'feature/place_ref/')} || t, t, "
        f"{_q(I + 'INT18_Reference')}, 'Reference to ' || l || ' (place)', "
        "FALSE, FALSE FROM "
        "(SELECT t, coalesce(lt.len, lt.lde, g.t) AS l FROM grp_place_ref g "
        "LEFT JOIN lab lt ON lt.qid = g.t) s")
    feat_nodes.append(
        f"SELECT {_q(SAPPHO + 'feature/work_ref/')} || t, t, "
        f"{_q(I + 'INT18_Reference')}, 'Reference to ' || l || ' (expression)', "
        "FALSE, FALSE FROM "
        "(SELECT t, coalesce(lt.len, lt.lde, g.t) AS l FROM wr_targets g "
        "LEFT JOIN lab lt ON lt.qid = g.t) s")
    feats_union = "\n      UNION\n      ".join(feat_nodes)

    hdr = _const6_sql(
        __import__("wikidata_to_cidoc_crm_spark.oracle_relations",
                   fromlist=["x"]).relations_header_triples()
        | __import__("wikidata_to_cidoc_crm_spark.oracle_relations",
                     fromlist=["x"]).relations_alignment_triples())

    stmt_rows = [(s[0], s[1], s[2]) for s in world.statements]
    label_rows = list(world.labels)
    qid_rows = [(wk["qid"],) for wk in world.works]
    pc_rows = list(world.property_closure)
    sc_rows = list(world.subclass_closure)
    qids_body = qids_from or _values(qid_rows, ["qid"])

    return f"""WITH works_set AS MATERIALIZED (
  {qids_body}
),
statements AS MATERIALIZED (
  {_values(stmt_rows, ["subject_qid", "pid", "object_value"])}
),
labels AS MATERIALIZED (
  {_values(label_rows, ["qid", "lang", "label"])}
),
property_closure AS MATERIALIZED (
  {_values(pc_rows, ["pid", "base"])}
),
subclass_closure AS MATERIALIZED (
  {_values(sc_rows, ["q", "anc"])}
),
lab AS MATERIALIZED (SELECT qid,
        min(CASE WHEN lang = 'en' THEN label END) AS len,
        min(CASE WHEN lang = 'de' THEN label END) AS lde
      FROM labels GROUP BY qid),
by_base AS MATERIALIZED (
  SELECT pc.base, st.subject_qid AS s, st.object_value AS o
  FROM statements st JOIN property_closure pc ON pc.pid = st.pid
  WHERE st.subject_qid IN (SELECT qid FROM works_set)),
types AS MATERIALIZED (
  SELECT st.subject_qid AS q, coalesce(sc.anc, st.object_value) AS a
  FROM statements st LEFT JOIN subclass_closure sc ON sc.q = st.object_value
  WHERE st.pid = 'P31'),
{fam_cte}
char_persons AS (SELECT t FROM grp_character g WHERE EXISTS
  (SELECT 1 FROM types ty WHERE ty.q = g.t AND ty.a = 'Q5')),
int31_pairs AS (
  SELECT DISTINCT least(p.a, p.b) AS w1, greatest(p.a, p.b) AS w2 FROM (
    SELECT b.s AS a, b.o AS b FROM by_base b WHERE b.base = 'P4969'
      AND b.o IN (SELECT qid FROM works_set) AND b.s <> b.o
    UNION ALL
    SELECT b.o, b.s FROM by_base b WHERE b.base IN ('P144','P5059','P941')
      AND b.o IN (SELECT qid FROM works_set) AND b.s <> b.o
  ) p),
cite_directed AS (
  SELECT DISTINCT b.o AS src, b.s AS tgt FROM by_base b
  WHERE b.base IN ('P2860', 'P6166')
    AND b.o IN (SELECT qid FROM works_set) AND b.s <> b.o),
cite_pairs AS (
  SELECT min(src) AS src,
         CASE WHEN min(src) = least(src, tgt) THEN max(tgt) ELSE min(tgt) END AS tgt
  FROM cite_directed GROUP BY least(src, tgt), greatest(src, tgt)),
wr_edges AS (
  SELECT DISTINCT b.s AS w, b.o AS t FROM by_base b WHERE b.base = 'P921'
    AND b.o LIKE 'Q%' AND b.o IN (SELECT qid FROM works_set)),
wr_targets AS (SELECT DISTINCT t FROM wr_edges),
wr_srcs AS (SELECT DISTINCT w FROM wr_edges),
wr_pairs AS (SELECT t, w FROM wr_edges WHERE w <> t),
acts_all AS MATERIALIZED (
  SELECT *, {_q(SAPPHO + 'actualization/')} || typ || '/' || t || '_' || w AS act,
         {_q(SAPPHO + 'relation/')} || ra || '_' || rb AS rel,
         {_q(SAPPHO + 'expression/')} || w AS expr,
         {_q(SAPPHO + 'feature/interpretation/')} || t || '_' || w AS ifeat,
         {_q(SAPPHO + 'actualization/interpretation/')} || t || '_' || w AS iact
  FROM (
      {acts_all}
  ) raw),
rels_all AS MATERIALIZED (
  SELECT ra, rb, {_q(SAPPHO + 'relation/')} || ra || '_' || rb AS rel,
         CASE WHEN lower(la0) <= lower(lb0) THEN la0 ELSE lb0 END AS la,
         CASE WHEN lower(la0) <= lower(lb0) THEN lb0 ELSE la0 END AS lb,
         {_q(SAPPHO + 'feature/interpretation/')} || ra || '_' || rb AS ifeat,
         {_q(SAPPHO + 'actualization/interpretation/')} || ra || '_' || rb AS iact
  FROM (
    SELECT u.ra, u.rb,
           coalesce(l1.len, l1.lde, u.ra) AS la0,
           coalesce(l2.len, l2.lde, u.rb) AS lb0
    FROM (
      {rels_union}
    ) u(ra, rb)
    LEFT JOIN lab l1 ON l1.qid = u.ra LEFT JOIN lab l2 ON l2.qid = u.rb
  ) z),
exprs AS MATERIALIZED (
  SELECT q, {_q(SAPPHO + 'expression/')} || q AS e,
         coalesce(l.len, l.lde, q) AS lbl
  FROM ({exprs_union}) u(q) LEFT JOIN lab l ON l.qid = u.q),
feats AS MATERIALIZED (
  {feats_union}
),
ident_nodes AS MATERIALIZED (
  -- add_identifier targets: typed features + persons + places
  SELECT node AS e, q FROM feats WHERE with_id
  UNION
  SELECT {_q(SAPPHO + 'person/')} || t, t FROM grp_person_ref
  UNION
  SELECT {_q(SAPPHO + 'person/')} || t, t FROM char_persons
  UNION
  SELECT {_q(SAPPHO + 'place/')} || t, t FROM grp_place_ref),
person_nodes AS (
  SELECT t FROM grp_person_ref UNION SELECT t FROM char_persons),
r22 AS (
  {r22_union}
),
tps AS (
  -- text passages (relations.py:786-818): both hosts of each winner pair
  SELECT host, other, tgt,
         {_q(SAPPHO + 'textpassage/')} || host || '_' || other AS tp,
         {_q(SAPPHO + 'expression/')} || host AS hexpr,
         {_q(SAPPHO + 'relation/')} || least(src, tgt) || '_' ||
             greatest(src, tgt) AS rel,
         coalesce(l.len, l.lde, host) AS hlbl
  FROM (
    SELECT tgt AS host, src AS other, src, tgt FROM cite_pairs
    UNION ALL
    SELECT src, tgt, src, tgt FROM cite_pairs
  ) h LEFT JOIN lab l ON l.qid = h.host)
SELECT DISTINCT subj, pred, obj, obj_is_iri, lang, dtype FROM (
  -- actualization surface (add_actualization, relations.py:236-264)
  SELECT act AS subj, {_q(RDF_TYPE)} AS pred,
         {_q(I + 'INT2_ActualizationOfFeature')} AS obj, TRUE AS obj_is_iri,
         CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS dtype
  FROM acts_all
  UNION ALL SELECT act, {_q(RDFS_LABEL)}, albl, FALSE, 'en', NULL FROM acts_all
  UNION ALL SELECT feat, {_q(I + 'R17i_featureIsActualizedIn')}, act, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT act, {_q(I + 'R17_actualizesFeature')}, feat, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT act, {_q(I + 'R18i_actualizationFoundOn')}, expr, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT expr, {_q(I + 'R18_showsActualization')}, act, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT act, {_q(I + 'R24i_isRelatedEntity')}, rel, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT rel, {_q(I + 'R24_hasRelatedEntity')}, act, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT expr, {_q(I + 'R24i_isRelatedEntity')}, rel, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT rel, {_q(I + 'R24_hasRelatedEntity')}, expr, TRUE, NULL, NULL FROM acts_all
  -- act interpretations (add_interpretation via add_actualization)
  UNION ALL SELECT ifeat, {_q(RDF_TYPE)}, {_q(I + 'INT_Interpretation')}, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT ifeat, {_q(RDFS_LABEL)}, 'Interpretation of ' || {strip_ref}, FALSE, 'en', NULL FROM acts_all
  UNION ALL SELECT iact, {_q(RDF_TYPE)}, {_q(I + 'INT2_ActualizationOfFeature')}, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT iact, {_q(RDFS_LABEL)}, 'Interpretation of ' || {strip_ref}, FALSE, 'en', NULL FROM acts_all
  UNION ALL SELECT iact, {_q(PROV_DERIVED)}, {_q(WD)} || w, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT ifeat, {_q(I + 'R17i_featureIsActualizedIn')}, iact, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT iact, {_q(I + 'R17_actualizesFeature')}, ifeat, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT iact, {_q(I + 'R21_identifies')}, act, TRUE, NULL, NULL FROM acts_all
  UNION ALL SELECT act, {_q(I + 'R21i_isIdentifiedBy')}, iact, TRUE, NULL, NULL FROM acts_all
  -- P67 links (person/place refs, person-characters, work refs)
  UNION ALL SELECT act, {_q(E + 'P67_refers_to')}, p67, TRUE, NULL, NULL FROM acts_all WHERE p67 IS NOT NULL
  UNION ALL SELECT p67, {_q(E + 'P67i_is_referred_to_by')}, act, TRUE, NULL, NULL FROM acts_all WHERE p67 IS NOT NULL
  -- intertextual relations (get_or_create_rel, relations.py:146-163)
  UNION ALL SELECT rel, {_q(RDF_TYPE)}, {_q(I + 'INT31_IntertextualRelation')}, TRUE, NULL, NULL FROM rels_all
  UNION ALL SELECT rel, {_q(RDFS_LABEL)}, 'Intertextual relation between ' || la || ' and ' || lb, FALSE, 'en', NULL FROM rels_all
  UNION ALL SELECT ifeat, {_q(RDF_TYPE)}, {_q(I + 'INT_Interpretation')}, TRUE, NULL, NULL FROM rels_all
  UNION ALL SELECT ifeat, {_q(RDFS_LABEL)}, 'Interpretation of intertextual relation between ' || la || ' and ' || lb, FALSE, 'en', NULL FROM rels_all
  UNION ALL SELECT iact, {_q(RDF_TYPE)}, {_q(I + 'INT2_ActualizationOfFeature')}, TRUE, NULL, NULL FROM rels_all
  UNION ALL SELECT iact, {_q(RDFS_LABEL)}, 'Interpretation of intertextual relation between ' || la || ' and ' || lb, FALSE, 'en', NULL FROM rels_all
  UNION ALL SELECT iact, {_q(PROV_DERIVED)}, {_q(WD)} || ra, TRUE, NULL, NULL FROM rels_all
  UNION ALL SELECT iact, {_q(PROV_DERIVED)}, {_q(WD)} || rb, TRUE, NULL, NULL FROM rels_all
  UNION ALL SELECT ifeat, {_q(I + 'R17i_featureIsActualizedIn')}, iact, TRUE, NULL, NULL FROM rels_all
  UNION ALL SELECT iact, {_q(I + 'R17_actualizesFeature')}, ifeat, TRUE, NULL, NULL FROM rels_all
  UNION ALL SELECT iact, {_q(I + 'R21_identifies')}, rel, TRUE, NULL, NULL FROM rels_all
  UNION ALL SELECT rel, {_q(I + 'R21i_isIdentifiedBy')}, iact, TRUE, NULL, NULL FROM rels_all
  -- R22 similarity links
  UNION ALL SELECT feat, {_q(I + 'R22_providesSimilarityForRelation')}, rel, TRUE, NULL, NULL FROM r22
  UNION ALL SELECT rel, {_q(I + 'R22i_relationIsBasedOnSimilarity')}, feat, TRUE, NULL, NULL FROM r22
  -- expressions (ensure_expression, relations.py:95-102)
  UNION ALL SELECT e, {_q(RDF_TYPE)}, {_q(LRMOO + 'F2_Expression')}, TRUE, NULL, NULL FROM exprs
  UNION ALL SELECT e, {_q(RDFS_LABEL)}, 'Expression of ' || lbl, FALSE, 'en', NULL FROM exprs
  UNION ALL SELECT e, {_q(OWL_SAMEAS)}, {_q(WD)} || q, TRUE, NULL, NULL FROM exprs
  -- feature nodes
  UNION ALL SELECT node, {_q(RDF_TYPE)}, cls, TRUE, NULL, NULL FROM feats
  UNION ALL SELECT node, {_q(RDFS_LABEL)}, lbl, FALSE, 'en', NULL FROM feats
  UNION ALL SELECT node, {_q(OWL_SAMEAS)}, {_q(WD)} || q, TRUE, NULL, NULL FROM feats WHERE same_as
  -- person nodes (families 6 and 8)
  UNION ALL SELECT {_q(SAPPHO + 'person/')} || t, {_q(RDF_TYPE)}, {_q(E + 'E21_Person')}, TRUE, NULL, NULL FROM person_nodes
  UNION ALL SELECT {_q(SAPPHO + 'person/')} || p.t, {_q(RDFS_LABEL)}, coalesce(l.len, l.lde, p.t), FALSE, 'en', NULL FROM person_nodes p LEFT JOIN lab l ON l.qid = p.t
  UNION ALL SELECT {_q(SAPPHO + 'person/')} || t, {_q(OWL_SAMEAS)}, {_q(WD)} || t, TRUE, NULL, NULL FROM person_nodes
  -- place nodes (family 7)
  UNION ALL SELECT {_q(SAPPHO + 'place/')} || t, {_q(RDF_TYPE)}, {_q(E + 'E53_Place')}, TRUE, NULL, NULL FROM grp_place_ref
  UNION ALL SELECT {_q(SAPPHO + 'place/')} || p.t, {_q(RDFS_LABEL)}, coalesce(l.len, l.lde, p.t), FALSE, 'en', NULL FROM grp_place_ref p LEFT JOIN lab l ON l.qid = p.t
  UNION ALL SELECT {_q(SAPPHO + 'place/')} || t, {_q(OWL_SAMEAS)}, {_q(WD)} || t, TRUE, NULL, NULL FROM grp_place_ref
  -- identifiers (add_identifier, relations.py:84-93)
  UNION ALL SELECT {_q(SAPPHO + 'identifier/')} || q, {_q(RDF_TYPE)}, {_q(E + 'E42_Identifier')}, TRUE, NULL, NULL FROM ident_nodes
  UNION ALL SELECT {_q(SAPPHO + 'identifier/')} || q, {_q(RDFS_LABEL)}, q, FALSE, 'en', NULL FROM ident_nodes
  UNION ALL SELECT {_q(SAPPHO + 'identifier/')} || q, {_q(E + 'P2_has_type')}, {ID}, TRUE, NULL, NULL FROM ident_nodes
  UNION ALL SELECT {ID}, {_q(E + 'P2i_is_type_of')}, {_q(SAPPHO + 'identifier/')} || q, TRUE, NULL, NULL FROM ident_nodes
  UNION ALL SELECT {_q(SAPPHO + 'identifier/')} || q, {_q(PROV_DERIVED)}, {_q(WD)} || q, TRUE, NULL, NULL FROM ident_nodes
  UNION ALL SELECT e, {_q(E + 'P1_is_identified_by')}, {_q(SAPPHO + 'identifier/')} || q, TRUE, NULL, NULL FROM ident_nodes
  UNION ALL SELECT {_q(SAPPHO + 'identifier/')} || q, {_q(E + 'P1i_identifies')}, e, TRUE, NULL, NULL FROM ident_nodes
  -- text passages
  UNION ALL SELECT tp, {_q(RDF_TYPE)}, {_q(I + 'INT21_TextPassage')}, TRUE, NULL, NULL FROM tps
  UNION ALL SELECT tp, {_q(RDFS_LABEL)}, 'Text passage in ' || hlbl, FALSE, 'en', NULL FROM tps
  UNION ALL SELECT tp, {_q(PROV_DERIVED)}, {_q(WD)} || tgt, TRUE, NULL, NULL FROM tps
  UNION ALL SELECT hexpr, {_q(I + 'R30_hasTextPassage')}, tp, TRUE, NULL, NULL FROM tps
  UNION ALL SELECT tp, {_q(I + 'R30i_isTextPassageOf')}, hexpr, TRUE, NULL, NULL FROM tps
  UNION ALL SELECT rel, {_q(I + 'R24_hasRelatedEntity')}, tp, TRUE, NULL, NULL FROM tps
  UNION ALL SELECT tp, {_q(I + 'R24i_isRelatedEntity')}, rel, TRUE, NULL, NULL FROM tps
  -- header + alignment constants
  UNION ALL {hdr}
) t"""


# --- mention-detection twin (moved from __spark_entry__) ---

def mentions_sql(world: World) -> str:
    """SQL twin of linking.detect_mentions over the interleaved corpus.

    The corpus text spans are re-derived from `documents` (the md5-conv
    selection hashes in fixtures.interleaved_corpus are ANSI-replicable);
    the (deterministic, sf-independent) fixture dictionary is embedded as
    VALUES with the SAME token-tuple normalization as the Python matcher.
    Leftmost-longest greedy matching = per-position longest candidate +
    a recursive CTE consuming tokens left to right; the final window
    mirrors detect_mentions' best-score/min-surface dedup.
    """
    import re as _re

    # replicate linking.build_surface_table
    table: dict[str, tuple[str, float]] = {}

    def put(surface, qid, score):
        if not surface:
            return
        cur = table.get(surface)
        if cur is None or score > cur[1] or (score == cur[1] and qid < cur[0]):
            table[surface] = (qid, score)

    for e in world.entities:
        put(e["label_en"], e["qid"], 1.0)
        put(e["label_de"], e["qid"], 0.9)
        for a in e["aliases"] or []:
            put(a, e["qid"], 0.7)
    # replicate the matcher's token-tuple table (first surface in sorted
    # order wins for identical token tuples)
    ttable: dict[tuple, tuple] = {}
    for srf in sorted(table):
        qid, sc = table[srf]
        toks = tuple(t for t in _re.split(r"\W+", srf) if t)
        if toks and toks not in ttable:
            ttable[toks] = (srf, qid, sc)
    # (qid, label_en) = the TOTAL order fixtures.interleaved_corpus uses
    # for ent_idx (qid alone ties on label-variant entities)
    ents_sorted = sorted(world.entities, key=lambda e: (e["qid"], e["label_en"]))
    n_ent = len(ents_sorted)

    def q(v: str) -> str:
        return "'" + v.replace("'", "''") + "'"

    dict_rows = ",\n        ".join(
        "([" + ",".join(q(t) for t in toks) + "], "
        + str(len(toks)) + ", " + q(toks[0]) + ", "
        + q(srf) + ", " + q(qid) + ", " + repr(sc) + ")"
        for toks, (srf, qid, sc) in sorted(ttable.items()))
    ent_rows = ",\n        ".join(
        f"({i}, {q(e['label_en'])})" for i, e in enumerate(ents_sorted))
    return f"""
        WITH dict(toks, L, first_tok, surface, qid, score) AS (
          VALUES {dict_rows}
        ), ents(ent_idx, label_en) AS (
          VALUES {ent_rows}
        ), base AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS span_offset,
                 substr(text, 1, 400) AS text
          FROM documents
        ), ment AS (
          SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
                 CAST(2*i.i + 1 AS INTEGER) AS span_offset,
                 'In this passage ' || e.label_en || ' is discussed at length.' AS text
          FROM documents d
          CROSS JOIN (SELECT unnest(range(0, 3)) AS i) i
          JOIN ents e
            ON e.ent_idx = CAST('0x' || substr(md5(
                 CAST(d.doc_id AS VARCHAR) || '_' || CAST(i.i AS VARCHAR)), 1, 6)
                 AS BIGINT) % {n_ent}
        ), spans AS (
          SELECT doc_id, span_offset,
                 list_filter(regexp_split_to_array(
                   text, '[^\\p{{L}}\\p{{N}}_]+'), x -> x != '') AS toks
          FROM (SELECT * FROM base UNION ALL SELECT * FROM ment)
        ), pos AS (
          SELECT doc_id, span_offset, toks, unnest(range(1, len(toks) + 1)) AS p
          FROM spans
        ), cand AS (
          SELECT s.doc_id, s.span_offset, s.p, d.L, d.surface, d.qid, d.score
          FROM pos s JOIN dict d
            ON s.toks[s.p] = d.first_tok
           AND s.p + d.L - 1 <= len(s.toks)
           AND s.toks[s.p : s.p + d.L - 1] = d.toks
        ), best AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (
              PARTITION BY doc_id, span_offset, p ORDER BY L DESC) AS rn
            FROM cand) WHERE rn = 1
        ), pick AS (
          WITH RECURSIVE g AS (
            SELECT doc_id, span_offset, p, L, surface, qid, score
            FROM best b
            WHERE p = (SELECT min(p) FROM best b2
                       WHERE b2.doc_id = b.doc_id
                         AND b2.span_offset = b.span_offset)
            UNION ALL
            SELECT b.doc_id, b.span_offset, b.p, b.L, b.surface, b.qid, b.score
            FROM g JOIN best b
              ON b.doc_id = g.doc_id AND b.span_offset = g.span_offset
             AND b.p = (SELECT min(b2.p) FROM best b2
                        WHERE b2.doc_id = g.doc_id
                          AND b2.span_offset = g.span_offset
                          AND b2.p >= g.p + g.L)
          ) SELECT * FROM g
        )
        SELECT doc_id, CAST(span_offset AS INTEGER) AS span_offset, surface,
               qid, CAST(score AS DOUBLE) AS score
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id, span_offset, qid
            ORDER BY score DESC, surface) AS rn
          FROM pick) WHERE rn = 1
    """
