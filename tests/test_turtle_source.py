"""Distributed Turtle source (sources/turtle_source.py): golden-file
ingest, sink round-trip, per-file error quarantine."""

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from openapi_to_rdf_spark.sources.turtle_source import read_turtle  # noqa: E402

GOLDEN_RDF = pathlib.Path("/root/reference/output/rdf")


def _to_term_set(rows):
    """Wide rows -> parser-style term tuples for canonical comparison."""
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"
    out = set()
    for r in rows:
        s = ("b", r.s[2:]) if r.s.startswith("_:") else ("i", r.s)
        if r.o_kind == "iri":
            o = ("i", r.o)
        elif r.o_kind == "bnode":
            o = ("b", r.o[2:])
        else:
            o = ("l", r.o, r.o_datatype or xsd_string)
        out.add((s, ("i", r.p), o))
    return out


def test_golden_files_match_driver_parser(spark):
    """Reading reference goldens distributed == parsing them driver-side."""
    from openapi_to_rdf_spark.triplecore.canon import canonicalize_bnodes
    from openapi_to_rdf_spark.triplecore.turtle import parse_turtle

    sample = sorted(GOLDEN_RDF.glob("*.ttl"))[:3]
    assert sample, "reference goldens missing"
    got = read_turtle(spark, str(GOLDEN_RDF)).collect()
    by_file = {}
    for r in got:
        by_file.setdefault(r.file, []).append(r)
    for path in sample:
        want = canonicalize_bnodes(parse_turtle(path.read_text()))
        have = canonicalize_bnodes(_to_term_set(by_file[path.name]))
        assert have == want, path.name


def test_sink_roundtrip(spark, tmp_path):
    """convert -> Turtle files -> read_turtle is the identity on the
    canonicalized triple set."""
    from openapi_to_rdf_spark.operators.extract import convert_specs_to_turtle
    from openapi_to_rdf_spark.triplecore.canon import canonicalize_bnodes
    from openapi_to_rdf_spark.convert.shacl import convert_shacl

    src = pathlib.Path("/root/reference/assets/MnS-Rel-19-OpenAPI/OpenAPI/"
                       "TS28623_ComDefs.yaml")
    convert_specs_to_turtle(spark.sparkContext, [str(src)], str(tmp_path))
    conv = convert_shacl(src.name, src.read_text())
    back = read_turtle(spark, str(tmp_path / "rdf")).collect()
    assert (canonicalize_bnodes(_to_term_set(back))
            == canonicalize_bnodes(conv.rdf))


def test_error_quarantine(spark, tmp_path):
    good = tmp_path / "good.ttl"
    bad = tmp_path / "bad.ttl"
    good.write_text('<urn:s> <urn:p> "v" .\n')
    bad.write_text("@prefix broken <<<\n")
    triples, errs = read_turtle(spark, str(tmp_path), errors=True)
    assert {(r.s, r.p, r.o) for r in triples.collect()} == {
        ("urn:s", "urn:p", "v")}
    e = errs.collect()
    assert len(e) == 1 and e[0].file == "bad.ttl" and e[0].error
