"""`cli convert` end to end on inline specs (no reference corpus needed):
status lines, exit code, byte-exact Turtle in the reference layout, empty
graphs, OWL mode, one conversion per file, a cold process that builds no
SparkSession; plus the size packing that spreads the files over tasks and
the libyaml-backed YAML loader."""

import json
import os
import pathlib
import subprocess
import sys

import pytest
import yaml

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

NORMAL = """openapi: 3.0.1
components:
  schemas:
    Cell-Info:
      type: object
      description: A cell
      properties:
        id: {type: integer}
        name: {type: string}
        peer: {$ref: '#/components/schemas/Peer'}
    Peer:
      type: object
      properties:
        addr: {type: string}
"""
# a top-level scalar schema: one RDF triple, an empty SHACL graph
SCALAR = """openapi: 3.0.1
components:
  schemas:
    Name:
      type: string
"""
# no components at all: both graphs empty
NO_COMPONENTS = """openapi: 3.0.1
info: {title: t, version: '1'}
paths: {}
"""
SPECS = {
    "TS1-normal.yaml": NORMAL,
    "TS2-scalar.yaml": SCALAR,
    "TS3-nocomp.yaml": NO_COMPONENTS,
    "TS4-empty.yaml": "",
    "TS5-invalid.yaml": "a: [b\n",
}
GOOD = ["TS1-normal.yaml", "TS2-scalar.yaml", "TS3-nocomp.yaml"]


@pytest.fixture
def spec_dir(tmp_path):
    d = tmp_path / "specs"
    d.mkdir()
    for name, text in SPECS.items():
        (d / name).write_text(text, encoding="utf-8")
    return d


def _run(spec_dir, out, trace, monkeypatch, capsys, *extra):
    from openapi_to_rdf_spark.cli import main

    trace.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_CONVERT_TRACE", str(trace))
    rc = main(["convert", str(spec_dir), "--output-dir", str(out), *extra])
    traced = sorted(line for f in trace.glob("*.log")
                    for line in f.read_text().splitlines())
    return rc, capsys.readouterr(), traced


def test_cli_convert_shacl_layout_and_status(spark, spec_dir, tmp_path,
                                             monkeypatch, capsys):
    from openapi_to_rdf_spark.convert.shacl import convert_shacl
    from openapi_to_rdf_spark.triplecore.turtle import serialize_turtle

    out = tmp_path / "out"
    rc, cap, traced = _run(spec_dir, out, tmp_path / "trace", monkeypatch,
                           capsys)
    assert rc == 1
    # every file, the failing ones included, is converted exactly once
    assert traced == sorted(SPECS)

    convs = {n: convert_shacl(n, SPECS[n]) for n in GOOD}
    ok_lines = [ln for ln in cap.out.splitlines() if "✓" in ln]
    assert ok_lines == [
        f"  ✓ {n}: {len(c.rdf)} rdf + {len(c.sh)} shacl triples"
        for n, c in convs.items()]
    bad_lines = [ln for ln in cap.err.splitlines() if "✗" in ln]
    assert bad_lines[0] == ("  ✗ TS4-empty.yaml: ValueError: "
                            "YAML file is empty: TS4-empty.yaml")
    assert bad_lines[1].startswith("  ✗ TS5-invalid.yaml: ParserError: ")
    assert len(bad_lines) == 2
    assert f"3 succeeded, 2 failed; 6 Turtle files → {out}" in cap.out

    written = sorted(str(p.relative_to(out)) for p in out.rglob("*.ttl"))
    assert written == sorted(
        f"{sub}/{n[:-5].replace('-', '_')}_{sub}.ttl"
        for n in GOOD for sub in ("rdf", "shacl"))
    for n, conv in convs.items():
        stem = n[:-5].replace("-", "_")
        for sub, triples in (("rdf", conv.rdf), ("shacl", conv.sh)):
            text = (out / sub / f"{stem}_{sub}.ttl").read_text(encoding="utf-8")
            assert text == serialize_turtle(triples), (n, sub)
    # empty graphs still get their 1-byte file
    assert convs["TS2-scalar.yaml"].rdf and not convs["TS2-scalar.yaml"].sh
    assert (out / "shacl" / "TS2_scalar_shacl.ttl").read_bytes() == b"\n"
    assert (out / "rdf" / "TS3_nocomp_rdf.ttl").read_bytes() == b"\n"


def test_cli_convert_owl_layout(spark, spec_dir, tmp_path, monkeypatch,
                                capsys):
    from openapi_to_rdf_spark.convert.owl import convert_owl
    from openapi_to_rdf_spark.convert.shacl import DEFAULT_PREFIX
    from openapi_to_rdf_spark.triplecore.turtle import serialize_turtle

    out = tmp_path / "out"
    rc, cap, traced = _run(spec_dir, out, tmp_path / "trace", monkeypatch,
                           capsys, "--format", "owl", "--parallelism", "2")
    assert rc == 1
    assert traced == sorted(SPECS)
    # the OWL converter accepts an empty file; only the invalid YAML fails
    good = [n for n in SPECS if n != "TS5-invalid.yaml"]
    assert f"4 succeeded, 1 failed; 4 Turtle files → {out}" in cap.out
    assert "  ✗ TS5-invalid.yaml: ParserError: " in cap.err
    assert sorted(p.name for p in out.rglob("*.ttl")) == sorted(
        n[:-5].replace("-", "_") + ".ttl" for n in good)
    for n in good:
        g = convert_owl(n, SPECS[n], f"{DEFAULT_PREFIX}rdf/").g
        assert f"  ✓ {n}: {len(g)} rdf + 0 shacl triples" in cap.out
        text = (out / f"{n[:-5].replace('-', '_')}.ttl").read_text(encoding="utf-8")
        assert text == serialize_turtle(g)


def test_cli_convert_colliding_outputs_last_wins(spark, tmp_path, capsys):
    """Inputs that map to one output path (same basename in two dirs, or
    '-' vs '_') are written in input order by one task: the last one wins,
    as in the reference's sequential loop, and the summary counts each
    output file once."""
    from openapi_to_rdf_spark.cli import main
    from openapi_to_rdf_spark.convert.shacl import convert_shacl
    from openapi_to_rdf_spark.triplecore.turtle import serialize_turtle

    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    # input order: a/TS-y.yaml, a/TS_y.yaml, a/x.yaml, b/x.yaml
    for path, text in ((a / "TS-y.yaml", NORMAL), (a / "TS_y.yaml", SCALAR),
                       (a / "x.yaml", NORMAL), (b / "x.yaml", SCALAR)):
        path.write_text(text, encoding="utf-8")
    out = tmp_path / "out"
    rc = main(["convert", str(a), str(b), "--output-dir", str(out),
               "--parallelism", "4"])
    cap = capsys.readouterr()
    assert rc == 0
    assert f"4 succeeded, 0 failed; 4 Turtle files → {out}" in cap.out
    for stem, winner in (("TS_y", "TS_y.yaml"), ("x", "x.yaml")):
        conv = convert_shacl(winner, SCALAR)
        for sub, triples in (("rdf", conv.rdf), ("shacl", conv.sh)):
            text = (out / sub / f"{stem}_{sub}.ttl").read_text(encoding="utf-8")
            assert text == serialize_turtle(triples), (stem, sub)


def test_pack_by_size_keeps_equal_keys_together(tmp_path):
    from openapi_to_rdf_spark.sources.specs import pack_by_size

    paths = []
    for i, sz in enumerate([5, 9, 1, 7]):
        p = tmp_path / f"f{i}.yaml"
        p.write_bytes(b"x" * sz)
        paths.append(str(p))
    # f0 and f2 share a key: one unit, in input order
    groups = pack_by_size(paths, 4,
                          key=lambda p: "f0+f2" if p[-6] in "02" else p)
    assert len(groups) == 3 and all(groups)
    assert [paths[0], paths[2]] in groups


def test_pack_by_size_balances_largest_first(tmp_path):
    from openapi_to_rdf_spark.sources.specs import pack_by_size

    sizes = [0, 0, 1, 3, 7, 7, 20, 50, 51, 300, 2, 0]
    paths = []
    for i, sz in enumerate(sizes):
        p = tmp_path / f"f{i}.yaml"
        p.write_bytes(b"x" * sz)
        paths.append(str(p))
    total, largest = sum(sizes), max(sizes)
    for n in range(1, len(paths) + 1):
        groups = pack_by_size(paths, n)
        assert len(groups) == n
        assert all(groups), (n, groups)
        assert sorted(p for g in groups for p in g) == sorted(paths)
        loads = [sum(sizes[paths.index(p)] for p in g) for g in groups]
        assert max(loads) <= total / n + largest, (n, loads)
    # largest first: with two groups the 300-byte file sits alone
    assert [paths[9]] in pack_by_size(paths, 2)


def test_load_yaml_matches_safe_load(tmp_path):
    from openapi_to_rdf_spark.convert.shacl import load_yaml
    from perfbench.gen import write_specs

    def outcome(load, text):
        try:
            return "ok", load(text)
        except yaml.YAMLError as e:
            return type(e).__name__, str(e)

    corpus = tmp_path / "corpus"
    write_specs(corpus, 12, 3)
    texts = list(SPECS.values()) + [
        p.read_text(encoding="utf-8") for p in sorted(corpus.glob("*.yaml"))]
    # invalid YAML, and text that libyaml alone accepts or reads otherwise
    edge = ["a: b: c\n", "k: 'open\n", "- a\nb: c\n", "x: \x07\n",
            "a: b\tc\n", "a:\n\t- b\n", "a: 1\n\ufeff", "a: !\n",
            "? !\n: 1\n", "[! , a]\n", "%YAML 1.3\n--- a\n"]
    outcomes = [(outcome(yaml.safe_load, t), outcome(load_yaml, t))
                for t in texts + edge]
    assert all(want == got for want, got in outcomes)
    # TS5-invalid, the corpus's invalid file and seven of the edge texts
    assert sum(want[0] != "ok" for want, _ in outcomes) == 9


# a cold `cli convert` process; reports what it left behind as JSON
_COLD_CONVERT = """
import json, sys
from pyspark import SparkContext
from pyspark.sql import SparkSession
from openapi_to_rdf_spark.cli import main

rc = main(["convert", sys.argv[1], "--output-dir", sys.argv[2], "--cores", "2"])
print(json.dumps({
    "rc": rc,
    "no_session": SparkSession._instantiatedSession is None,
    "conf": dict(SparkContext._active_spark_context.getConf().getAll()),
}))
"""


@pytest.fixture(scope="module")
def cold_convert(tmp_path_factory):
    d = tmp_path_factory.mktemp("cold")
    specs = d / "specs"
    specs.mkdir()
    for name, text in SPECS.items():
        (specs / name).write_text(text, encoding="utf-8")
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(filter(None, [
                   str(REPO), os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, "-c", _COLD_CONVERT, str(specs), str(d / "out")],
        cwd=d, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.splitlines()[-1])
    return report, proc.stdout, proc.stderr


def test_cli_convert_builds_no_spark_session(cold_convert):
    from openapi_to_rdf_spark.convert.shacl import convert_shacl

    report, out, err = cold_convert
    assert report["rc"] == 1
    assert report["no_session"]
    assert [ln for ln in out.splitlines() if "✓" in ln] == [
        f"  ✓ {n}: {len(c.rdf)} rdf + {len(c.sh)} shacl triples"
        for n, c in ((n, convert_shacl(n, SPECS[n])) for n in GOOD)]
    bad = [ln[ln.index("✗"):] for ln in err.splitlines() if "✗" in ln]
    assert bad[0] == ("✗ TS4-empty.yaml: ValueError: "
                      "YAML file is empty: TS4-empty.yaml")
    assert bad[1].startswith("✗ TS5-invalid.yaml: ParserError: ")
    assert len(bad) == 2


def test_cli_convert_context_has_engine_conf(cold_convert):
    from openapi_to_rdf_spark.session import spark_conf

    conf = cold_convert[0]["conf"]
    want = spark_conf(app_name="openapi-to-rdf-convert", cores=2)
    assert {k: conf.get(k) for k in want} == want


def test_get_context_reuses_running_context(spark):
    from openapi_to_rdf_spark.session import get_context

    assert get_context(app_name="other", cores=1) is spark.sparkContext
