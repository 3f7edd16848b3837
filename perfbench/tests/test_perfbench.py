"""Tests of the benchmark's own code: generators, event-log attribution and
the metric registry.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import re
import shutil
import sys

import pytest

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import eventlog, gen, run  # noqa: E402

DATA = HERE / "data"
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _digests(d: pathlib.Path) -> dict:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(d.iterdir())}


def test_specs_same_seed_byte_identical(tmp_path):
    a = gen.write_specs(tmp_path / "a", 12, seed=7)
    b = gen.write_specs(tmp_path / "b", 12, seed=7)
    c = gen.write_specs(tmp_path / "c", 12, seed=8)
    assert a == b
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")
    # every hostile file is present with its expected status
    assert {n: ok for n, ok in a.items() if n in gen.HOSTILE} == {
        n: ok for n, (_, ok) in gen.HOSTILE.items()}


def test_specs_cover_every_construct_class(tmp_path):
    gen.write_specs(tmp_path, 6, seed=3)
    text = (tmp_path / "TS90001_Gen1Nrm.yaml").read_text()
    for kind in gen.KINDS:
        assert kind.title().replace("_", "") in text, kind


def test_specs_convert_as_expected(tmp_path):
    from openapi_to_rdf_spark.convert.shacl import convert_shacl

    expected = gen.write_specs(tmp_path, 3, seed=5)
    for name, ok in expected.items():
        try:
            convert_shacl(name, (tmp_path / name).read_text())
            converted = True
        except Exception:  # noqa: BLE001 — the hostile files must raise
            converted = False
        assert converted == ok, name


def test_entity_keys_stay_below_merge_threshold():
    """Distinct entities never reach the 0.9 shingle Jaccard that merges
    alias spellings, so the numeric id is exact ground truth."""
    def grams(key):
        t = re.sub("[^a-z0-9]", "", key)
        return {t[i:i + 3] for i in range(len(t) - 2)}

    ids = range(0, gen.MAX_POOL, 7)
    by_pair: dict = {}
    for i in ids:
        w = gen.entity_key(i).split("-")
        for a, b in ((0, 1), (0, 2), (1, 2)):
            by_pair.setdefault((a, b, w[a], w[b]), []).append(i)
    worst = 0.0
    for group in by_pair.values():
        g = [grams(gen.entity_key(i)) for i in group]
        for x in range(len(g)):
            for y in range(x + 1, len(g)):
                worst = max(worst, len(g[x] & g[y]) / len(g[x] | g[y]))
    assert worst < 0.9
    assert all(gen.entity_id_of(gen.entity_key(i, s)) == i
               for i in (0, 42, gen.MAX_POOL - 1) for s in gen.SEPARATORS)


@pytest.fixture(scope="module")
def spark():
    from openapi_to_rdf_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cores=2)
    yield s
    s.stop()


def test_transcripts_same_seed_byte_identical(spark, tmp_path):
    turns_a = gen.write_transcripts(spark, tmp_path / "a", 60, 500, seed=3, files=3)
    turns_b = gen.write_transcripts(spark, tmp_path / "b", 60, 500, seed=3, files=3)
    gen.write_transcripts(spark, tmp_path / "c", 60, 500, seed=4, files=3)
    assert turns_a == turns_b > 60
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")
    rows = spark.read.parquet(str(tmp_path / "a")).collect()
    keys = [k for r in rows for k in re.findall(r"#([a-z._-]+\d{6})", r.text)]
    assert keys and all(gen.entity_id_of(k) < 500 for k in keys)
    assert any(p in r.text for r in rows for p in gen.PRONOUN_PHRASES)


def _recorded(tmp_path) -> pathlib.Path:
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    shutil.copy(DATA / "eventlog_kg_small.jsonl", d / "events_1_local-1")
    (d / "appstatus_local-1").write_text("")
    return d


def test_attribution_on_recorded_log(tmp_path):
    log = eventlog.load(_recorded(tmp_path))
    commits = [tuple(c) for c in json.loads((DATA / "commits_kg_small.json").read_text())]
    stages, after = eventlog.attribute(log, commits)
    assert [s.name for s in stages] == [c[0] for c in commits]
    # each stage's write lands in that stage, and spans tile the run
    for s in stages:
        writes = [u for u in s.units if u.is_write]
        assert writes and all(f"/{s.name}/snap-" in u.plan for u in writes), s.name
    assert sum(s.span_s for s in stages) == pytest.approx(commits[-1][1] - log.app_start)
    assert sum(len(s.units) for s in stages) + len(after) == len(log.units)
    by_name = {s.name: s for s in stages}
    # canonicalization runs the MinHash pandas UDF; extraction is JVM-only
    assert by_name["canonical_map"].total("py_s") > 0
    assert by_name["canonical_map"].total("py_bytes") > 0
    assert by_name["extract"].total("py_s") == 0
    assert all(s.total("cpu_s") > 0 for s in stages)
    assert sum(s.total("shuffle_bytes") for s in stages) > 0


def test_compressed_log_is_refused(tmp_path):
    d = tmp_path / "eventlog_v2_local-2"
    d.mkdir()
    (d / "events_1_local-2.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        eventlog.load(d)


def test_count_nodes_reads_final_plan_only():
    plan = ("AdaptiveSparkPlan (9)\n+- == Final Plan ==\n"
            "   BroadcastHashJoin Inner BuildRight (5)\n"
            "   :- * Scan parquet  (1)\n"
            "+- == Initial Plan ==\n   SortMergeJoin Inner (8)\n\n"
            "(1) Scan parquet\n")
    assert eventlog.count_nodes(plan, "BroadcastHashJoin") == 1
    assert eventlog.count_nodes(plan, "SortMergeJoin") == 0


def test_tail_percentile():
    assert run.tail([float(i) for i in range(1, 101)]) == (90.0, 90)
    assert run.tail([1.0, 5.0, 3.0]) == (5.0, 100)


def test_metric_names_and_units_match_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    for name, unit in {**e2e, **layers}.items():
        assert NAME_RE.fullmatch(name), name
        assert UNIT_RE.fullmatch(unit), (name, unit)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert e2e.keys().isdisjoint(layers)
