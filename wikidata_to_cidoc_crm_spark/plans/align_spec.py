"""Constant data for the map_and_align stage.

Transcribes the reference's conditional SKOS alignment blocks
(map_and_align.py:294-576) and derived-property definition blocks
(map_and_align.py:580-991) as data tables shared by the Spark plan and the
pure-Python oracle. Blank nodes (owl:propertyChainAxiom lists and inline
inverse terms) are **skolemized** to deterministic IRIs under
``https://sappho-digital.com/genid/…`` — a documented divergence: triple-set
comparison needs stable node identities, and skolem IRIs are the standard
RDF 1.1 answer.
"""

from __future__ import annotations

from ..model import ECRM, EFRBROO, FRBROO, INTRO, LRMOO, OWL, PROV, RDF, RDFS, SAPPHO, SKOS

SAPPHO_PROP = SAPPHO + "property/"
BIBO = "http://purl.org/ontology/bibo/"
CITO = "http://purl.org/spar/cito/"
DC = "http://purl.org/dc/terms/"
DOCO = "http://purl.org/spar/doco/"
FABIO = "http://purl.org/spar/fabio/"
FOAF = "http://xmlns.com/foaf/0.1/"
GOLEM = "https://ontology.golemlab.eu/"
DRACOR = "http://dracor.org/ontology#"
INTERTEXT_AB = "https://intertextuality.org/abstract#"
INTERTEXT_TX = "https://intertextuality.org/extensions/text#"
INTERTEXT_AF = "https://intertextuality.org/extensions/artifacts#"
INTERTEXT_MT = "https://intertextuality.org/extensions/motifs#"
MIMOTEXT = "http://data.mimotext.uni-trier.de/entity/"
POSTDATA_CORE = "http://postdata.linhd.uned.es/ontology/postdata-core#"
POSTDATA_ANALYSIS = "http://postdata.linhd.uned.es/ontology/postdata-poeticAnalysis#"
SCHEMA = "https://schema.org/"
URW = "https://purl.archive.org/urwriters#"
URB = "https://purl.archive.org/urbooks#"

CLOSE, BROAD, NARROW = SKOS + "closeMatch", SKOS + "broadMatch", SKOS + "narrowMatch"
RDF_TYPE = RDF + "type"
RDF_FIRST, RDF_REST, RDF_NIL = RDF + "first", RDF + "rest", RDF + "nil"
OBJ_PROP = OWL + "ObjectProperty"
CHAIN = OWL + "propertyChainAxiom"
INV = OWL + "inverseOf"
LABEL, COMMENT, DOMAIN, RANGE = RDFS + "label", RDFS + "comment", RDFS + "domain", RDFS + "range"

E = ECRM
L = LRMOO
I = INTRO  # noqa: E741


# 6-tuple layout (s, p, o, obj_is_iri, lang, dtype) — plans/constants format
def _t(s, p, o):
    return (s, p, o, True, None, None)


def _lit(s, p, o, lang="en"):
    return (s, p, o, False, lang, None)


# --- conditional SKOS blocks (map_and_align.py:296-576) ---
# (cond_kind, cond_value, [triples]); cond_kind: 'class' → any instance of
# the class in the input graph, 'pred' → any triple with the predicate
SKOS_BLOCKS: list[tuple[str, str, list[tuple]]] = [
    ("class", E + "E21_Person", [  # :297-304
        _t(DRACOR + "author", BROAD, E + "E21_Person"),
        _t(E + "E21_Person", BROAD, FOAF + "Agent"),
        _t(MIMOTEXT + "Q11", BROAD, E + "E21_Person"),
        _t(MIMOTEXT + "Q10", CLOSE, E + "E21_Person"),
        _t(POSTDATA_CORE + "Person", CLOSE, E + "E21_Person"),
        _t(URW + "Agent", NARROW, E + "E21_Person"),
        _t(URW + "Person", CLOSE, E + "E21_Person"),
    ]),
    ("class", E + "E35_Title", [_t(DOCO + "Title", CLOSE, E + "E35_Title")]),  # :307
    ("class", E + "E74_Group", [  # :311
        _t(E + "E74_Group", BROAD, FOAF + "Agent"),
        _t(POSTDATA_CORE + "Organisation", BROAD, E + "E74_Group"),
        _t(POSTDATA_CORE + "Organization", BROAD, E + "E74_Group"),
        _t(URW + "Organization", BROAD, E + "E74_Group"),
        _t(URW + "Publisher", BROAD, E + "E74_Group"),
    ]),
    ("class", E + "E52_Time-Span", [_t(DC + "PeriodOfTime", CLOSE, E + "E52_Time-Span")]),  # :319
    ("class", E + "E53_Place", [  # :323
        _t(DC + "Location", CLOSE, E + "E53_Place"),
        _t(MIMOTEXT + "Q26", CLOSE, E + "E53_Place"),
        _t(POSTDATA_CORE + "Place", CLOSE, E + "E53_Place"),
        _t(URW + "Place", CLOSE, E + "E53_Place"),
    ]),
    ("class", E + "E55_Type", [  # :331
        _t(DRACOR + "genre", BROAD, E + "E55_Type"),
        _t(INTERTEXT_TX + "TextGenre", BROAD, E + "E55_Type"),
        _t(MIMOTEXT + "Q33", BROAD, E + "E55_Type"),
    ]),
    ("class", E + "E73_Information_Object",
     [_t(FABIO + "DigitalItem", BROAD, E + "E73_Information_Object")]),  # :337
    ("class", L + "F1_Work", [  # :341
        _t(FABIO + "Work", CLOSE, L + "F1_Work"),
        _t(FABIO + "LiteraryArtisticWork", BROAD, L + "F1_Work"),
        _t(POSTDATA_CORE + "PoeticWork", BROAD, L + "F1_Work"),
        _t(URB + "Work", CLOSE, L + "F1_Work"),
    ]),
    ("class", L + "F2_Expression", [  # :348
        _t(FOAF + "Document", BROAD, L + "F2_Expression"),
        _t(BIBO + "Manuscript", BROAD, L + "F2_Expression"),
        _t(DRACOR + "play", BROAD, L + "F2_Expression"),
        _t(FABIO + "Expression", CLOSE, L + "F2_Expression"),
        _t(INTERTEXT_TX + "Text", BROAD, L + "F2_Expression"),
        _t(INTERTEXT_TX + "SingleText", BROAD, L + "F2_Expression"),
        _t(INTERTEXT_AF + "Work", BROAD, L + "F2_Expression"),
        _t(INTERTEXT_AB + "Reference", BROAD, L + "F2_Expression"),
        _t(MIMOTEXT + "Q2", BROAD, L + "F2_Expression"),
        _t(POSTDATA_ANALYSIS + "Intertextuality", BROAD, L + "F2_Expression"),
        _t(URB + "Expression", CLOSE, L + "F2_Expression"),
    ]),
    ("class", L + "F3_Manifestation", [  # :362
        _t(BIBO + "Book", BROAD, L + "F3_Manifestation"),
        _t(DC + "BibliographicResource", BROAD, L + "F3_Manifestation"),
        _t(FABIO + "Manifestation", CLOSE, L + "F3_Manifestation"),
        _t(FOAF + "Document", BROAD, L + "F3_Manifestation"),
        _t(POSTDATA_CORE + "Redaction", BROAD, L + "F3_Manifestation"),
        _t(URB + "Manifestation", CLOSE, L + "F3_Manifestation"),
    ]),
    ("class", L + "F5_Item", [  # :371
        _t(FABIO + "Item", CLOSE, L + "F5_Item"),
        _t(FOAF + "Document", NARROW, L + "F5_Item"),
    ]),
    ("class", I + "INT1_Segment", [  # :376
        _t(INTERTEXT_AF + "Segment", BROAD, I + "INT1_Segment"),
        _t(POSTDATA_CORE + "TextUnit", BROAD, I + "INT1_Segment"),
    ]),
    ("class", I + "INT2_ActualizationOfFeature", [  # :381
        _t(FRBROO + "F38_Character", BROAD, I + "INT2_ActualizationOfFeature"),
        _t(EFRBROO + "F38_Character", BROAD, I + "INT2_ActualizationOfFeature"),
        _t(DRACOR + "character", BROAD, I + "INT2_ActualizationOfFeature"),
        _t(GOLEM + "G1_Character", BROAD, I + "INT2_ActualizationOfFeature"),
        _t(GOLEM + "G7_Narrative_Sequence", BROAD, I + "INT2_ActualizationOfFeature"),
    ]),
    ("class", I + "INT4_Feature", [  # :389
        _t(I + "INT4_Feature", BROAD, INTERTEXT_AB + "Mediator"),
        _t(GOLEM + "G9_Narrative_Unit", BROAD, I + "INT4_Feature"),
    ]),
    ("class", I + "INT6_Architext",
     [_t(INTERTEXT_AF + "System", BROAD, I + "INT6_Architext")]),  # :394
    ("class", I + "INT11_TypeOfInterrelation",
     [_t(INTERTEXT_AB + "IntertexualSpecification", CLOSE, I + "INT11_TypeOfInterrelation")]),  # :398
    ("class", I + "INT21_TextPassage", [  # :402
        _t(I + "INT21_TextPassage", BROAD, DOCO + "Part"),
        _t(I + "INT21_TextPassage", BROAD, DOCO + "BackMatter"),
        _t(I + "INT21_TextPassage", BROAD, DOCO + "BodyMatter"),
        _t(I + "INT21_TextPassage", BROAD, DOCO + "CaptionedBox"),
        _t(I + "INT21_TextPassage", BROAD, DOCO + "Chapter"),
        _t(I + "INT21_TextPassage", BROAD, DOCO + "ComplexRunInQuotation"),
        _t(I + "INT21_TextPassage", BROAD, DOCO + "Footnote"),
        _t(I + "INT21_TextPassage", BROAD, DOCO + "Formula"),
        _t(I + "INT21_TextPassage", BROAD, DOCO + "FormulaBox"),
        _t(I + "INT21_TextPassage", BROAD, DOCO + "FrontMatter"),
        _t(I + "INT21_TextPassage", BROAD, DOCO + "List"),
        _t(I + "INT21_TextPassage", BROAD, DOCO + "Section"),
        _t(I + "INT21_TextPassage", BROAD, DOCO + "Table"),
        _t(I + "INT21_TextPassage", BROAD, INTERTEXT_AB + "Mediator"),
        _t(BIBO + "Quote", BROAD, I + "INT21_TextPassage"),
        _t(FABIO + "Quotation", BROAD, I + "INT21_TextPassage"),
        _t(INTERTEXT_TX + "TextSegment", CLOSE, I + "INT21_TextPassage"),
        _t(POSTDATA_CORE + "TextUnit", CLOSE, I + "INT21_TextPassage"),
    ]),
    ("class", I + "INT31_IntertextualRelation", [  # :423
        _t(INTERTEXT_AB + "IntertexualRelation", CLOSE, I + "INT31_IntertextualRelation"),
        _t(URW + "EntityInfluence", NARROW, I + "INT31_IntertextualRelation"),
        _t(URB + "Reception", NARROW, I + "INT31_IntertextualRelation"),
    ]),
    ("class", I + "INT_Character", [  # :429
        _t(GOLEM + "G0_Character-Stoff", CLOSE, I + "INT_Character"),
        _t(FRBROO + "F38_Character", BROAD, I + "INT_Character"),
        _t(EFRBROO + "F38_Character", BROAD, I + "INT_Character"),
        _t(DRACOR + "character", BROAD, I + "INT_Character"),
    ]),
    ("class", I + "INT_Plot",
     [_t(GOLEM + "G14_Narrative_Stoff", CLOSE, I + "INT_Plot")]),  # :436
    ("class", I + "INT_Motif",
     [_t(I + "INT_Motif", BROAD, INTERTEXT_MT + "Motive")]),  # :440
    ("class", I + "INT_Topic",
     [_t(MIMOTEXT + "Q20", CLOSE, I + "INT_Topic")]),  # :444
    # properties (map_and_align.py:448-576)
    ("pred", E + "P1_is_identified_by", [
        _t(DC + "identifier", CLOSE, E + "P1_is_identified_by"),
        _t(URW + "hasIdentifier", CLOSE, E + "P1_is_identified_by"),
    ]),
    ("pred", E + "P2_has_type", [
        _t(DC + "type", CLOSE, E + "P2_has_type"),
        _t(DRACOR + "has_genre", BROAD, E + "P2_has_type"),
        _t(FOAF + "gender", BROAD, E + "P2_has_type"),
        _t(MIMOTEXT + "P12", BROAD, E + "P2_has_type"),
        _t(POSTDATA_CORE + "gender", BROAD, E + "P2_has_type"),
        _t(POSTDATA_CORE + "genre", BROAD, E + "P2_has_type"),
        _t(SCHEMA + "genre", BROAD, E + "P2_has_type"),
        _t(URW + "gender", BROAD, E + "P2_has_type"),
    ]),
    ("pred", E + "P4_has_time-span", [
        _t(DC + "date", CLOSE, E + "P4_has_time-span"),
        _t(DC + "created", BROAD, E + "P4_has_time-span"),
        _t(DC + "dateCopyrighted", BROAD, E + "P4_has_time-span"),
        _t(DRACOR + "printYear", BROAD, E + "P4_has_time-span"),
        _t(DRACOR + "writtenYear", BROAD, E + "P4_has_time-span"),
        _t(MIMOTEXT + "P9", BROAD, E + "P4_has_time-span"),
        _t(POSTDATA_CORE + "date", CLOSE, E + "P4_has_time-span"),
        _t(POSTDATA_CORE + "birthDate", BROAD, E + "P4_has_time-span"),
        _t(POSTDATA_CORE + "deathDate", BROAD, E + "P4_has_time-span"),
        _t(SCHEMA + "dateCreated", BROAD, E + "P4_has_time-span"),
        _t(SCHEMA + "datePublished", BROAD, E + "P4_has_time-span"),
        _t(URW + "wasPublishedWhen", BROAD, E + "P4_has_time-span"),
        _t(URB + "date", CLOSE, E + "P4_has_time-span"),
    ]),
    ("pred", E + "P7_took_place_at", [
        _t(FABIO + "hasPlaceOfPublication", BROAD, E + "P7_took_place_at"),
        _t(MIMOTEXT + "P10", BROAD, E + "P7_took_place_at"),
        _t(POSTDATA_CORE + "birthPlace", BROAD, E + "P7_took_place_at"),
        _t(POSTDATA_CORE + "deathPlace", BROAD, E + "P7_took_place_at"),
        _t(SCHEMA + "locationCreated", BROAD, E + "P7_took_place_at"),
        _t(URW + "wasPublishedWhere", BROAD, E + "P7_took_place_at"),
    ]),
    ("pred", E + "P7i_witnessed", [
        _t(POSTDATA_CORE + "birthPlaceOf", BROAD, E + "P7i_witnessed"),
        _t(POSTDATA_CORE + "deathPlaceOf", BROAD, E + "P7i_witnessed"),
    ]),
    ("pred", E + "P14_carried_out_by", [
        _t(BIBO + "editor", BROAD, E + "P14_carried_out_by"),
        _t(DRACOR + "has_author", BROAD, E + "P14_carried_out_by"),
        _t(FOAF + "maker", BROAD, E + "P14_carried_out_by"),
        _t(MIMOTEXT + "P5", BROAD, E + "P14_carried_out_by"),
        _t(POSTDATA_CORE + "hasCreator", BROAD, E + "P14_carried_out_by"),
        _t(POSTDATA_CORE + "hasEditor", BROAD, E + "P14_carried_out_by"),
        _t(SCHEMA + "author", BROAD, E + "P14_carried_out_by"),
        _t(SCHEMA + "creator", BROAD, E + "P14_carried_out_by"),
        _t(URW + "wasPublishedBy", BROAD, E + "P14_carried_out_by"),
    ]),
    ("pred", E + "P14i_performed", [
        _t(DC + "creator", BROAD, E + "P14i_performed"),
        _t(DC + "publisher", BROAD, E + "P14i_performed"),
        _t(FOAF + "made", BROAD, E + "P14i_performed"),
        _t(MIMOTEXT + "P7", BROAD, E + "P14i_performed"),
        _t(POSTDATA_CORE + "isCreatorOf", BROAD, E + "P14i_performed"),
        _t(POSTDATA_CORE + "editorOf", BROAD, E + "P14i_performed"),
    ]),
    ("pred", E + "P102_has_title", [
        _t(DC + "title", CLOSE, E + "P102_has_title"),
        _t(MIMOTEXT + "P4", CLOSE, E + "P102_has_title"),
    ]),
    ("pred", E + "P131_is_identified_by", [
        _t(FOAF + "name", CLOSE, E + "P131_is_identified_by"),
        _t(MIMOTEXT + "P8", CLOSE, E + "P131_is_identified_by"),
    ]),
    ("pred", E + "P138i_has_representation", [
        _t(FOAF + "img", BROAD, E + "P138i_has_representation"),
        _t(MIMOTEXT + "P21", BROAD, E + "P138i_has_representation"),
    ]),
    ("pred", L + "R3_realises",
     [_t(URB + "realization", CLOSE, L + "R3_realises")]),  # never fires: data uses R3i_realises
    ("pred", L + "R3_is_realised_in",
     [_t(URB + "realizationOf", CLOSE, L + "R3_is_realised_in")]),
    ("pred", L + "R4_embodies",
     [_t(URB + "embodimentOf", CLOSE, L + "R4_embodies")]),
    ("pred", L + "R4i_is_embodied_in",
     [_t(URB + "embodiment", CLOSE, L + "R4i_is_embodied_in")]),
    ("pred", I + "R12i_isReferredToEntity",
     [_t(I + "R12i_isReferredToEntity", CLOSE, INTERTEXT_AB + "there")]),
    ("pred", I + "R13i_isReferringEntity",
     [_t(I + "R13i_isReferringEntity", CLOSE, INTERTEXT_AB + "here")]),
    ("pred", I + "R19i_isTypeOf", [
        _t(INTERTEXT_AB + "specifiedBy", BROAD, I + "R19i_isTypeOf"),
        _t(POSTDATA_ANALYSIS + "typeOfIntertextuality", BROAD, I + "R19i_isTypeOf"),
    ]),
    ("pred", I + "R22i_relationIsBasedOnSimilarity",
     [_t(I + "R22i_relationIsBasedOnSimilarity", BROAD, INTERTEXT_AB + "mediatedBy")]),
    ("pred", I + "R24_hasRelatedEntity",
     [_t(I + "R24_hasRelatedEntity", BROAD, INTERTEXT_AB + "mediatedBy")]),
    ("pred", I + "R30_hasTextPassage", [
        _t(I + "R30_hasTextPassage", BROAD, DC + "hasPart"),
        _t(POSTDATA_CORE + "hasTextUnit", NARROW, I + "R30_hasTextPassage"),
    ]),
    ("pred", PROV + "wasDerivedFrom", [
        _t(DC + "source", CLOSE, PROV + "wasDerivedFrom"),
        _t(MIMOTEXT + "P17", BROAD, PROV + "wasDerivedFrom"),
    ]),
]


def chain_triples(prop: str, local: str, elems: list) -> list[tuple]:
    """rdf:List for owl:propertyChainAxiom with skolemized nodes.

    ``elems`` items are IRIs or ("inv", IRI) for inline owl:inverseOf terms
    (map_and_align.py:735-737, 793-795).
    """
    base = f"{SAPPHO}genid/{local}/chain"
    out = [(_t(prop, CHAIN, f"{base}/0"))]
    resolved = []
    for i, e in enumerate(elems):
        if isinstance(e, tuple) and e[0] == "inv":
            inv_node = f"{SAPPHO}genid/{local}/inv{i}"
            out.append(_t(inv_node, INV, e[1]))
            resolved.append(inv_node)
        else:
            resolved.append(e)
    for i, e in enumerate(resolved):
        node = f"{base}/{i}"
        out.append(_t(node, RDF_FIRST, e))
        nxt = f"{base}/{i + 1}" if i + 1 < len(resolved) else RDF_NIL
        out.append(_t(node, RDF_REST, nxt))
    return out


SP = SAPPHO_PROP

# --- derived-property definition blocks (constants; materialization is
#     computed by the plan/oracle). cond encodes the reference's guard. ---
def _objprop(local: str, comment: str) -> list[tuple]:
    p = SP + local
    return [
        _t(p, RDF_TYPE, OBJ_PROP),
        _lit(p, LABEL, local),
        _lit(p, COMMENT, comment),
    ]


HAS_MANIFESTATION_DEF = (
    _objprop("has_manifestation", "A F1_Work has a F3_Manifestation.")
    + [
        _t(SP + "has_manifestation", CLOSE, FABIO + "hasManifestation"),
        _t(SP + "has_manifestation", CLOSE, POSTDATA_CORE + "isRealisedThrough"),
        _t(POSTDATA_CORE + "isRealisedThrough", INV, POSTDATA_CORE + "realises"),
        _t(SP + "has_manifestation", CLOSE, URB + "manifestation"),
        _t(SP + "has_manifestation", DOMAIN, L + "F1_Work"),
        _t(SP + "has_manifestation", RANGE, L + "F3_Manifestation"),
    ]
    + chain_triples(SP + "has_manifestation", "has_manifestation",
                    [L + "R3_is_realised_in", L + "R4i_is_embodied_in"])
)

HAS_PORTRAYAL_DEF = (
    _objprop("has_portrayal", "A F1_Work has a F5_Item.")
    + [
        _t(SP + "has_portrayal", CLOSE, FABIO + "hasPortrayal"),
        _t(SP + "has_portrayal", DOMAIN, L + "F1_Work"),
        _t(SP + "has_portrayal", RANGE, L + "F5_Item"),
    ]
    + chain_triples(SP + "has_portrayal", "has_portrayal",
                    [L + "R3_is_realised_in", L + "R4i_is_embodied_in",
                     L + "R7i_is_exemplified_by"])
)

HAS_REPRESENTATION_DEF = (
    _objprop("has_representation", "A F2_Expression has a F5_Item.")
    + [
        _t(SP + "has_representation", CLOSE, FABIO + "hasRepresentation"),
        _t(SP + "has_representation", DOMAIN, L + "F2_Expression"),
        _t(SP + "has_representation", RANGE, L + "F5_Item"),
    ]
    + chain_triples(SP + "has_representation", "has_representation",
                    [L + "R4i_is_embodied_in", L + "R7i_is_exemplified_by"])
)

ABOUT_DEF = (
    _objprop("about", "Link from a F2_Expression to an INT_Topic.")
    + chain_triples(SP + "about", "about",
                    [I + "R18_showsActualization", I + "R17_actualizesFeature"])
    + [
        _t(SP + "about", CLOSE, DC + "subject"),
        _t(SP + "about", CLOSE, FOAF + "topic"),
        _t(SP + "about", CLOSE, MIMOTEXT + "P36"),
        _t(SP + "about", CLOSE, SCHEMA + "about"),
        _t(SP + "about", DOMAIN, L + "F2_Expression"),
        _t(SP + "about", RANGE, I + "INT_Topic"),
    ]
)

EXPR_RELATION_DEF = (
    _objprop("expr_relation", "A relation between two F2_Expressions.")
    + chain_triples(SP + "expr_relation", "expr_relation",
                    [("inv", I + "R18i_actualizationFoundOn"),
                     I + "R24i_isRelatedEntity",
                     I + "R24_hasRelatedEntity",
                     I + "R18i_actualizationFoundOn"])
    + [
        _t(SP + "expr_relation", RDF_TYPE, OWL + "SymmetricProperty"),
        _t(SP + "expr_relation", CLOSE, DC + "relation"),
        _t(SP + "expr_relation", CLOSE, MIMOTEXT + "P34"),
        _t(SP + "expr_relation", NARROW, POSTDATA_ANALYSIS + "hasDerivedWork"),
        _t(SP + "expr_relation", NARROW, POSTDATA_ANALYSIS + "isDerivedFrom"),
        _t(SP + "expr_relation", CLOSE, POSTDATA_ANALYSIS + "hasRelationsWith"),
        _t(SP + "expr_relation", CLOSE, POSTDATA_ANALYSIS + "isRelatedWith"),
        _t(SP + "expr_relation", NARROW, POSTDATA_ANALYSIS + "isRelatedContemporaneouslyWith"),
        _t(SP + "expr_relation", NARROW, POSTDATA_ANALYSIS + "hasContemporaryRelation"),
        _t(SP + "expr_relation", NARROW, POSTDATA_ANALYSIS + "usesAsSource"),
        _t(SP + "expr_relation", NARROW, POSTDATA_ANALYSIS + "isSource"),
        _t(SP + "expr_relation", NARROW, URW + "influenced"),
        _t(SP + "expr_relation", NARROW, URW + "influencedBy"),
        _t(SP + "expr_relation", DOMAIN, L + "F2_Expression"),
        _t(SP + "expr_relation", RANGE, L + "F2_Expression"),
    ]
)

POSSIBLY_CITES_DEF = (
    _objprop("expr_possibly_cites", "A F2_Expression possibly cites a F2_Expression.")
    + [
        _t(SP + "expr_possibly_cites", DOMAIN, L + "F2_Expression"),
        _t(SP + "expr_possibly_cites", RANGE, L + "F2_Expression"),
    ]
    + chain_triples(SP + "expr_possibly_cites", "expr_possibly_cites",
                    [I + "R30_hasTextPassage",
                     ("inv", I + "R24_hasRelatedEntity"),
                     I + "R24_hasRelatedEntity",
                     ("inv", I + "R30i_isTextPassageOf")])
    + _objprop("expr_possibly_cited_by",
               "A F2_Expression is possibly cited by a F2_Expression.")
    + [
        _t(SP + "expr_possibly_cited_by", INV, SP + "expr_possibly_cites"),
        _t(SP + "expr_possibly_cited_by", DOMAIN, L + "F2_Expression"),
        _t(SP + "expr_possibly_cited_by", RANGE, L + "F2_Expression"),
        _t(L + "R76_is_derivative_of", BROAD, SP + "expr_possibly_cites"),
        _t(L + "R76i_has_derivative", BROAD, SP + "expr_possibly_cited_by"),
        _t(BIBO + "cites", BROAD, SP + "expr_possibly_cites"),
        _t(BIBO + "citedBy", BROAD, SP + "expr_possibly_cited_by"),
        _t(CITO + "cites", BROAD, SP + "expr_possibly_cites"),
        _t(CITO + "isCitedBy", BROAD, SP + "expr_possibly_cited_by"),
        _t(SCHEMA + "citation", BROAD, SP + "expr_possibly_cites"),
    ]
    + _objprop("tp_possibly_cites", "A F2_Expression possibly cites an INT21_TextPassage.")
    + [
        _t(SP + "tp_possibly_cites", DOMAIN, L + "F2_Expression"),
        _t(SP + "tp_possibly_cites", RANGE, I + "INT21_TextPassage"),
    ]
    + _objprop("tp_possibly_cited_by",
               "An INT21_TextPassage is possibly cited by a F2_Expression.")
    + [
        _t(SP + "tp_possibly_cited_by", DOMAIN, I + "INT21_TextPassage"),
        _t(SP + "tp_possibly_cited_by", RANGE, L + "F2_Expression"),
        _t(SP + "tp_possibly_cited_by", INV, SP + "tp_possibly_cites"),
        _t(L + "R75_incorporates", BROAD, SP + "tp_possibly_cites"),
        _t(L + "R75i_is_incorporated_in", BROAD, SP + "tp_possibly_cited_by"),
    ]
    + chain_triples(SP + "tp_possibly_cites", "tp_possibly_cites",
                    [I + "R30_hasTextPassage"])
    + [
        _t(CITO + "hasCitedEntity", BROAD, SP + "tp_possibly_cites"),
        _t(CITO + "hasCitingEntity", BROAD, SP + "tp_possibly_cited_by"),
    ]
)

EXPR_REFERENCES_DEF = (
    _objprop("expr_references",
             "A F2_Expression references an E21_Person, an E53_Place or a F2_Expression.")
    + chain_triples(SP + "expr_references", "expr_references",
                    [I + "R18_showsActualization", E + "P67_refers_to"])
    + [
        _t(SP + "expr_references", DOMAIN, L + "F2_Expression"),
        _t(SP + "expr_references", RANGE, E + "E21_Person"),
        _t(SP + "expr_references", RANGE, E + "E53_Place"),
        _t(SP + "expr_references", RANGE, L + "F2_Expression"),
    ]
    + _objprop("referenced_by_expr",
               "An E21_Person, an E53_Place or a F2_Expression is referenced by a F2_Expression.")
    + [
        _t(SP + "referenced_by_expr", INV, SP + "expr_references"),
        _t(SP + "referenced_by_expr", DOMAIN, E + "E21_Person"),
        _t(SP + "referenced_by_expr", DOMAIN, E + "E53_Place"),
        _t(SP + "referenced_by_expr", DOMAIN, L + "F2_Expression"),
        _t(SP + "referenced_by_expr", RANGE, L + "F2_Expression"),
        _t(SP + "expr_references", CLOSE, DC + "references"),
        _t(DC + "isReferencedBy", INV, DC + "references"),
        _t(SP + "expr_references", CLOSE, POSTDATA_ANALYSIS + "reference"),
        _t(SP + "expr_references", NARROW, MIMOTEXT + "P50"),
        _t(MIMOTEXT + "P51", INV, MIMOTEXT + "P50"),
        _t(POSTDATA_CORE + "mentions", BROAD, SP + "expr_references"),
        _t(POSTDATA_CORE + "isMentionedIn", INV, POSTDATA_CORE + "mentions"),
        _t(SCHEMA + "mentions", BROAD, SP + "expr_references"),
    ]
)

HAS_CHARACTER_DEF = (
    _objprop("has_character", "has_character")[0:2]
    + [
        _t(SP + "has_character", CLOSE, GOLEM + "GP1i_has_character"),
        _t(SP + "has_character", DOMAIN, L + "F2_Expression"),
        _t(SP + "has_character", RANGE, I + "INT2_ActualizationOfFeature"),
    ]
    + _objprop("is_character_in", "is_character_in")[0:2]
    + [
        _t(SP + "is_character_in", CLOSE, GOLEM + "GP1i_is_character_in"),
        _t(SP + "is_character_in", DOMAIN, I + "INT2_ActualizationOfFeature"),
        _t(SP + "is_character_in", RANGE, L + "F2_Expression"),
        _t(POSTDATA_CORE + "characterIn", CLOSE, SP + "is_character_in"),
        _t(POSTDATA_CORE + "hasCharacter", CLOSE, SP + "has_character"),
        _t(SCHEMA + "character", CLOSE, SP + "has_character"),
    ]
)

# external-id URL templates (map_and_align.py:167-176)
EXTERNAL_ID_TEMPLATES = {
    "schema": "{v}",
    "dbpedia": "{v}",
    "gnd": "http://d-nb.info/gnd/{v}",
    "viaf": "http://viaf.org/viaf/{v}",
    "geonames": "http://sws.geonames.org/{v}/",
    "goodreads": "https://www.goodreads.com/work/{v}",
}
