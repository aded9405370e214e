"""The sparql_read query mix and its DuckDB oracle.

Each shape is a SPARQL text for ``sparql.sparql_query`` and hand-written
DuckDB SQL over the same parquet ``triples`` table with SPARQL semantics:
the default graph is the set of distinct (subj, pred, obj) triples, a
basic graph pattern is a bag of joined solutions, OPTIONAL is a left
join, a UNION branch that leaves a variable unbound joins every solution
of the other side (section 18.2 compatibility), and a ``+`` path yields
each reachable node once.
"""

from __future__ import annotations

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
SEE_ALSO = "http://www.w3.org/2000/01/rdf-schema#seeAlso"
SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
CREATED = "http://purl.org/dc/terms/created"
XSD_DATETIME = "http://www.w3.org/2001/XMLSchema#dateTime"
SCHEMA = "https://schema.org/"
DATA = "http://data.example.org/"
EX_PERSON = "http://example.org/Person"

PREFIXES = f"""PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
PREFIX dct: <http://purl.org/dc/terms/>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
PREFIX schema: <{SCHEMA}>
PREFIX ex: <{DATA}>
"""

# shapes with a known, reported program defect, and why; the shape's
# ``defect_sql`` gives the wrong answer the program returns today. That
# exact answer counts in failed_op_ratio but not in `correct`; any other
# wrong answer, or an exception, is a failed operation
KNOWN_DEFECTS = {
    "union_unbound": "UNION with a branch-unbound variable loses solutions "
                     "(ROADMAP, fix first)",
}


def shapes(chain_start: int) -> list[dict]:
    """(name, sparql, term_mode, sql[, defect_sql]) for each shape of the mix.

    ``chain_start`` is an entity that heads a seeAlso chain in the corpus.
    In the SQL, ``T`` is the distinct plain (subj, pred, obj) relation and
    ``F`` the distinct full triples (kind, lexical form, lang, datatype).
    """
    start = f"{DATA}e{chain_start}"
    return [
        {
            "name": "bgp_chain", "term_mode": False,
            "sparql": "SELECT ?a ?c ?l WHERE { ?a rdf:type ex:Kind3 . "
                      "?a rdfs:seeAlso ?b . ?b rdfs:seeAlso ?c . ?c rdfs:label ?l }",
            "sql": f"""SELECT t1.subj, t3.obj, t4.obj FROM T t1
                JOIN T t2 ON t2.subj = t1.subj JOIN T t3 ON t3.subj = t2.obj
                JOIN T t4 ON t4.subj = t3.obj
                WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{DATA}Kind3'
                  AND t2.pred = '{SEE_ALSO}' AND t3.pred = '{SEE_ALSO}'
                  AND t4.pred = '{LABEL}'""",
        },
        {
            "name": "optional", "term_mode": False,
            "sparql": "SELECT ?e ?n WHERE { ?e rdf:type ex:Kind5 . "
                      "OPTIONAL { ?e rdfs:seeAlso ?n } }",
            "sql": f"""SELECT t1.subj, t2.obj FROM T t1
                LEFT JOIN T t2 ON t2.subj = t1.subj AND t2.pred = '{SEE_ALSO}'
                WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{DATA}Kind5'""",
        },
        {
            "name": "union", "term_mode": False,
            "sparql": "SELECT ?x ?l WHERE { { ?x rdf:type ex:Kind7 . ?x rdfs:label ?l } "
                      "UNION { ?x rdf:type schema:Organization . ?x schema:name ?l } }",
            "sql": f"""SELECT t1.subj, t2.obj FROM T t1 JOIN T t2 ON t2.subj = t1.subj
                WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{DATA}Kind7'
                  AND t2.pred = '{LABEL}'
                UNION ALL
                SELECT t1.subj, t2.obj FROM T t1 JOIN T t2 ON t2.subj = t1.subj
                WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{SCHEMA}Organization'
                  AND t2.pred = '{SCHEMA}name'""",
        },
        {
            # the second branch binds only ?v, so each of its solutions is
            # compatible with every person; the constant keeps it small
            "name": "union_unbound", "term_mode": False,
            "sparql": "SELECT ?s ?v WHERE { ?s rdf:type schema:Person . "
                      f"{{ ?s schema:name ?v }} UNION {{ <{EX_PERSON}> rdfs:label ?v }} }}",
            "sql": f"""SELECT p.subj, u.v FROM
                (SELECT subj FROM T WHERE pred = '{RDF_TYPE}' AND obj = '{SCHEMA}Person') p
                JOIN (SELECT subj AS s, obj AS v FROM T WHERE pred = '{SCHEMA}name'
                      UNION ALL
                      SELECT NULL, obj FROM T WHERE subj = '{EX_PERSON}' AND pred = '{LABEL}') u
                ON u.s IS NULL OR u.s = p.subj""",
            # today's answer: the branch that leaves ?s unbound adds nothing
            "defect_sql": f"""SELECT t1.subj, t2.obj FROM T t1 JOIN T t2 ON t2.subj = t1.subj
                WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{SCHEMA}Person'
                  AND t2.pred = '{SCHEMA}name'""",
        },
        {
            "name": "group_count", "term_mode": False,
            "sparql": "SELECT ?k (COUNT(?e) AS ?n) WHERE { ?e rdf:type ?k . "
                      "?e rdfs:subClassOf <http://data.example.org/base> } GROUP BY ?k",
            "sql": f"""SELECT t1.obj, COUNT(*) FROM T t1 JOIN T t2 ON t2.subj = t1.subj
                WHERE t1.pred = '{RDF_TYPE}' AND t2.pred = '{SUBCLASS}'
                  AND t2.obj = '{DATA}base' GROUP BY t1.obj""",
        },
        {
            "name": "path_plus", "term_mode": False,
            "sparql": f"SELECT ?o WHERE {{ <{start}> rdfs:seeAlso+ ?o }}",
            "sql": f"""WITH RECURSIVE r(o) AS (
                    SELECT obj FROM T WHERE subj = '{start}' AND pred = '{SEE_ALSO}'
                    UNION
                    SELECT t.obj FROM r JOIN T t ON t.subj = r.o AND t.pred = '{SEE_ALSO}')
                SELECT o FROM r""",
        },
        {
            "name": "term_filter", "term_mode": True,
            "sparql": "SELECT ?s ?l ?d WHERE { ?s rdf:type ex:Kind9 . ?s rdfs:label ?l . "
                      "?s dct:created ?d . "
                      'FILTER(LANG(?l) = "en" && DATATYPE(?d) = xsd:dateTime) }',
            "sql": f"""SELECT '<' || t1.subj || '>',
                    '"' || t2.obj_value || '"@' || t2.obj_lang,
                    '"' || t3.obj_value || '"^^<' || t3.obj_datatype || '>'
                FROM F t1 JOIN F t2 ON t2.subj = t1.subj JOIN F t3 ON t3.subj = t1.subj
                WHERE t1.pred = '{RDF_TYPE}' AND t1.obj_kind = 'iri'
                  AND t1.obj_value = '{DATA}Kind9'
                  AND t2.pred = '{LABEL}' AND t2.obj_kind = 'literal' AND t2.obj_lang = 'en'
                  AND t3.pred = '{CREATED}' AND t3.obj_kind = 'literal'
                  AND t3.obj_datatype = '{XSD_DATETIME}'""",
        },
        {
            "name": "ask", "term_mode": False,
            "sparql": "ASK { ?e rdf:type ex:Kind2 . ?e rdfs:seeAlso ?n . ?n rdf:type ex:Kind2 }",
            "sql": f"""SELECT EXISTS (SELECT 1 FROM T t1
                JOIN T t2 ON t2.subj = t1.subj JOIN T t3 ON t3.subj = t2.obj
                WHERE t1.pred = '{RDF_TYPE}' AND t1.obj = '{DATA}Kind2'
                  AND t2.pred = '{SEE_ALSO}' AND t3.pred = '{RDF_TYPE}'
                  AND t3.obj = '{DATA}Kind2')""",
        },
    ]


def normalize(rows) -> list[tuple]:
    """Order-free comparable form of a result bag."""
    out = [tuple(None if v is None else (v if isinstance(v, (bool, int)) else str(v))
                 for v in r) for r in rows]
    return sorted(out, key=lambda r: tuple((v is None, str(v)) for v in r))


def oracle_answers(triples: str, mix: list[dict]) -> tuple[dict, dict]:
    """From DuckDB over ``triples``, a table expression reading the parquet
    triples table: every shape's expected answer, and the known wrong
    answer of each shape that has one."""
    import duckdb

    with duckdb.connect() as con:
        con.execute("SET threads TO 2")
        con.execute(f"""CREATE TEMP TABLE F AS SELECT DISTINCT subj, pred, obj_kind,
            obj_value, obj_lang, obj_datatype FROM {triples}""")
        con.execute("CREATE TEMP TABLE T AS SELECT DISTINCT subj, pred, obj_value AS obj FROM F")
        return tuple({q["name"]: normalize(con.execute(q[key]).fetchall())
                      for q in mix if key in q} for key in ("sql", "defect_sql"))
