"""N-Triples sink (sinks.write_ntriples): the line-oriented, fully
distributed graph export — pure-codegen serialization, plain text write."""

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from openapi_to_rdf_spark.sinks import write_ntriples  # noqa: E402
from openapi_to_rdf_spark.triplecore.terms import (  # noqa: E402
    bnode, iri, typed_literal,
)


def _row_to_triple(rec) -> tuple:
    """A triple-table row as the parser's term tuple."""
    s = bnode(rec.s[2:]) if rec.s.startswith("_:") else iri(rec.s)
    if rec.o_kind == "iri":
        o = iri(rec.o)
    elif rec.o_kind == "bnode":
        o = bnode(rec.o[2:] if rec.o.startswith("_:") else rec.o)
    else:
        o = typed_literal(rec.o, rec.o_datatype
                          or "http://www.w3.org/2001/XMLSchema#string")
    return s, iri(rec.p), o


def _read_parts(path):
    return "\n".join(p.read_text() for p in sorted(pathlib.Path(path).glob("part-*")))


def test_ntriples_roundtrip_converted_spec(spark, tmp_path):
    from openapi_to_rdf_spark.convert.shacl import convert_shacl
    from openapi_to_rdf_spark.operators.extract import convert_specs_df
    from openapi_to_rdf_spark.triplecore.canon import canonicalize_bnodes
    from openapi_to_rdf_spark.triplecore.turtle import parse_turtle

    src = pathlib.Path("/root/reference/assets/MnS-Rel-19-OpenAPI/OpenAPI/"
                       "TS28623_ComDefs.yaml")
    specs = spark.createDataFrame([(src.name, src.read_text())],
                                  ["path", "content"])
    triples = convert_specs_df(specs)
    conv = convert_shacl(src.name, src.read_text())
    for gname, expected in [("rdf", conv.rdf), ("shacl", conv.sh)]:
        out = str(tmp_path / gname)
        write_ntriples(triples.filter(f"graph = '{gname}'"), out)
        parsed = parse_turtle(_read_parts(out))
        assert canonicalize_bnodes(parsed) == canonicalize_bnodes(expected)


def test_ntriples_literal_escaping(spark, tmp_path):
    from openapi_to_rdf_spark.triplecore.turtle import parse_turtle

    xsd = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        ("f", "kg", "http://x/s", "http://x/p", 'say "hi"\nback\\slash\ttab',
         "literal", xsd + "string"),
        ("f", "kg", "http://x/s", "http://x/q", "42", "literal",
         xsd + "integer"),
        ("f", "kg", "http://x/s", "http://x/r", "http://x/o", "iri", None),
        ("f", "kg", "_:b0", "http://x/r", "b1", "bnode", None),
    ]
    df = spark.createDataFrame(
        rows, "file string, graph string, s string, p string, o string, "
              "o_kind string, o_datatype string")
    out = str(tmp_path / "nt")
    write_ntriples(df, out)
    parsed = parse_turtle(_read_parts(out))
    expected = {_row_to_triple(r) for r in df.toPandas().itertuples()}

    # the parser renames bnode labels (named_*) — compare modulo that, the
    # same discipline canonicalize_bnodes applies
    def norm(t):
        return tuple(("b",) if term[0] == "b" else term for term in t)

    assert {norm(t) for t in parsed} == {norm(t) for t in expected}
    # escaping is reversible: the nasty literal survives byte-for-byte
    assert ('say "hi"\nback\\slash\ttab'
            in {t[2][1] for t in parsed if t[2][0] == "l"})


def test_ntriples_plan_is_pure_projection(spark):
    from openapi_to_rdf_spark.sinks import ntriples_line

    df = spark.createDataFrame(
        [("f", "kg", "http://x/s", "http://x/p", "v", "literal", None)],
        "file string, graph string, s string, p string, o string, "
        "o_kind string, o_datatype string")
    plan = df.select(ntriples_line())._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_nquads_wide_schema_and_graph_minting(spark, tmp_path):
    """write_nquads over the store's wide schema: graph labels that are
    not absolute IRIs mint under urn:graph:, literals keep datatype."""
    from openapi_to_rdf_spark.sinks import write_nquads

    df = spark.createDataFrame(
        [("kg", "http://x/s1", "http://x/p", "http://x/o", "iri", None),
         ("entail", "http://x/s2", "http://x/p", "42", "literal",
          "http://www.w3.org/2001/XMLSchema#integer"),
         ("http://g/already-iri", "http://x/s3", "http://x/p", "hi",
          "literal", None)],
        ["g", "s", "p", "o", "o_kind", "o_datatype"])
    write_nquads(df, str(tmp_path / "nq"))
    lines = {l for l in _read_parts(tmp_path / "nq").splitlines() if l}
    assert lines == {
        "<http://x/s1> <http://x/p> <http://x/o> <urn:graph:kg> .",
        '<http://x/s2> <http://x/p> "42"^^<http://www.w3.org/2001/'
        'XMLSchema#integer> <urn:graph:entail> .',
        '<http://x/s3> <http://x/p> "hi" <http://g/already-iri> .',
    }


def test_nquads_bare_quads_heuristic_kind(spark, tmp_path):
    """Bare (g,s,p,o) frames (operators/quads shape): object kind falls
    back to the IRI-scheme heuristic, datatype omitted."""
    from openapi_to_rdf_spark.sinks import write_nquads

    df = spark.createDataFrame(
        [("g1", "http://x/s", "http://x/p", "http://x/o"),
         ("g1", "http://x/s", "http://x/q", "plain text")],
        ["g", "s", "p", "o"])
    write_nquads(df, str(tmp_path / "nq"))
    lines = {l for l in _read_parts(tmp_path / "nq").splitlines() if l}
    assert lines == {
        "<http://x/s> <http://x/p> <http://x/o> <urn:graph:g1> .",
        '<http://x/s> <http://x/q> "plain text" <urn:graph:g1> .',
    }
