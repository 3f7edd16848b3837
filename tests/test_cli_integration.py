"""End-to-end CLI integration: convert the full 38-spec corpus through the
distributed path (spec source → mapInPandas converter → Turtle sink) and
compare every output file against the reference goldens as bnode-canonical
triple sets. This is the whole-system parity gate; the pure-function gate is
tests/test_convert_golden.py."""

import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from conftest import FIXTURE_DIR, GOLDEN_RDF, GOLDEN_SHACL, fixture_names  # noqa: E402


@pytest.mark.skipif(not FIXTURE_DIR.exists(), reason="reference unavailable")
def test_cli_convert_full_corpus_matches_goldens(spark, tmp_path, monkeypatch):
    from openapi_to_rdf_spark.cli import main
    from openapi_to_rdf_spark.triplecore.canon import canonicalize_bnodes
    from openapi_to_rdf_spark.triplecore.turtle import parse_turtle

    # instrument the single-pass property: workers append one trace line per
    # converted file (env is inherited by local-mode Python workers)
    trace = tmp_path / "trace"
    trace.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_CONVERT_TRACE", str(trace))

    out = tmp_path / "out"
    rc = main(["convert", str(FIXTURE_DIR), "--output-dir", str(out)])
    assert rc == 0

    stems = fixture_names()
    assert len(stems) == 38

    # exactly ONE conversion per file across all workers (VERDICT r1 #4:
    # the old separate triples/status stages converted everything twice)
    traced = sorted(line for f in trace.glob("*.log")
                    for line in f.read_text().splitlines())
    assert len(traced) == 38, f"expected 38 conversions, saw {len(traced)}"
    assert sorted(set(traced)) == sorted(s + ".yaml" for s in stems)

    for stem in stems:
        fstem = stem.replace("-", "_")
        for sub, golden_dir, suffix in [("rdf", GOLDEN_RDF, "_rdf"),
                                        ("shacl", GOLDEN_SHACL, "_shacl")]:
            ours_path = out / sub / f"{fstem}{suffix}.ttl"
            golden_path = golden_dir / f"{fstem}{suffix}.ttl"
            assert ours_path.exists(), f"missing output {ours_path}"
            ours = canonicalize_bnodes(parse_turtle(ours_path.read_text()))
            golden = canonicalize_bnodes(parse_turtle(golden_path.read_text()))
            assert ours == golden, f"triple mismatch for {fstem} {sub}"


def test_cli_kg_spec_rules_flag(spark, tmp_path, capsys):
    """`kg --spec`: converted-spec shapes are enforced end to end from the
    CLI — a spec typing surfaceForm as date-time quarantines every
    AlarmRecord entity."""
    from openapi_to_rdf_spark.cli import main

    spec = tmp_path / "vocab.yaml"
    spec.write_text("""
openapi: 3.0.1
components:
  schemas:
    AlarmRecord:
      type: object
      properties:
        surfaceForm:
          type: string
          format: date-time
""")
    rc = main(["kg", "--workdir", str(tmp_path / "wd"), "--n-convs", "40",
               "--seed", "5", "--spec", str(spec)])
    assert rc == 0
    out = capsys.readouterr().out
    viol_line = [ln for ln in out.splitlines() if ln.strip().startswith("violations")][0]
    assert "datatypeMismatch" in viol_line


def test_cli_kg_spec_converts_each_spec_once(spark, tmp_path, monkeypatch,
                                             capsys):
    """`kg --spec` converts each spec file exactly once: the fingerprint
    collect and the violations stage read materialized rules instead of
    re-running the conversion in Python workers."""
    from openapi_to_rdf_spark.cli import main

    trace = tmp_path / "trace"
    trace.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_CONVERT_TRACE", str(trace))
    specs = tmp_path / "specs"
    specs.mkdir()
    (specs / "vocab.yaml").write_text("""
openapi: 3.0.1
components:
  schemas:
    AlarmRecord:
      type: object
      properties:
        surfaceForm:
          type: string
          format: date-time
""")
    (specs / "cells.yaml").write_text("""
openapi: 3.0.1
components:
  schemas:
    CellRecord:
      type: object
      properties:
        cellId:
          type: integer
""")
    rc = main(["kg", "--workdir", str(tmp_path / "wd"), "--n-convs", "20",
               "--seed", "5", "--spec", str(specs)])
    assert rc == 0
    assert "violations" in capsys.readouterr().out
    traced = sorted(line for f in trace.glob("*.log")
                    for line in f.read_text().splitlines())
    assert traced == ["cells.yaml", "vocab.yaml"]


def test_cli_kg_registry_flag(spark, tmp_path, capsys):
    """`kg --registry`: the links stage runs from the CLI against a parquet
    authority table and reports linksTo/linkScore counts."""
    from openapi_to_rdf_spark.cli import main
    from openapi_to_rdf_spark.sources.transcripts import entity_registry_df

    reg_path = tmp_path / "registry.parquet"
    entity_registry_df(spark).write.parquet(str(reg_path))

    rc = main(["kg", "--workdir", str(tmp_path / "wd"), "--n-convs", "40",
               "--seed", "5", "--registry", str(reg_path)])
    assert rc == 0
    out = capsys.readouterr().out
    link_line = [ln for ln in out.splitlines()
                 if ln.strip().startswith("links")][0]
    assert "linksTo=" in link_line and "linkScore=" in link_line
