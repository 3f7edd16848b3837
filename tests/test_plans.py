"""Physical-plan assertions: the optimizer properties the engine relies on
at 100 TB (broadcast joins, parquet pushdown, no Python in JVM-only paths).
These catch silent plan regressions that row-count tests never would."""

import pathlib
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_extraction_is_jvm_only_with_broadcast_vocab(spark):
    from openapi_to_rdf_spark.operators.extract import extract_transcript_triples
    from openapi_to_rdf_spark.sources.transcripts import (
        class_vocab_df, synth_transcripts,
    )

    plan = _plan(extract_transcript_triples(synth_transcripts(spark, 10),
                                            class_vocab_df(spark)))
    assert "BroadcastHashJoin" in plan          # vocab dim is broadcast
    assert "SortMergeJoin" not in plan          # never shuffles the dim join
    assert "EvalPython" not in plan             # no Python UDFs in this path


def test_parquet_filter_and_column_pushdown(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("lang") == "de").select("doc_id", "n_chars")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,de)]" in plan
    # column pruning: text (the wide column) must NOT be read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema
    assert "doc_id" in read_schema and "n_chars" in read_schema


def test_cosine_topk_broadcasts_queries_not_corpus(spark):
    from openapi_to_rdf_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = (emb.filter("vec_id < 2")
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("vector")))
    plan = _plan(cosine_topk(emb, q, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan       # corpus is never shuffled NxM


def test_shape_validation_broadcasts_rules(spark):
    from openapi_to_rdf_spark.operators.extract import (
        KG_NS, extract_transcript_triples,
    )
    from openapi_to_rdf_spark.operators.shapes import (
        kg_shape_rules, validate_triples,
    )
    from openapi_to_rdf_spark.sources.transcripts import synth_transcripts

    triples = extract_transcript_triples(synth_transcripts(spark, 10))
    plan = _plan(validate_triples(triples, kg_shape_rules(spark, KG_NS)))
    assert "BroadcastHashJoin" in plan


def test_embedding_guard_routes_to_lsh(spark):
    """Above max_exact_rows the auto-routed plan must be the bucketed
    equi-join — no O(n^2) product node anywhere (VERDICT r1 #3)."""
    from openapi_to_rdf_spark.operators.dedup import embedding_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    routed = embedding_dup_pairs(emb, threshold=0.95, max_exact_rows=100,
                                 dim=64)
    plan = _plan(routed)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the bucket join is an EQUI-join (any hash/sort implementation —
    # Catalyst broadcasts at this scale, shuffles at real scale)
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)

    # under the threshold the exact product (the oracle shape) is kept
    exact_plan = _plan(embedding_dup_pairs(emb, threshold=0.95,
                                           max_exact_rows=10_000))
    assert ("BroadcastNestedLoopJoin" in exact_plan
            or "CartesianProduct" in exact_plan)


def test_pricing_summary_partial_aggregation(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["pricing_summary"](spark, SF))
    # partial (map-side) then final aggregate — one exchange on the group key
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters" in plan


def test_shipping_priority_broadcasts_dim_and_pushes_filters(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["shipping_priority"](spark, SF))
    # BUILDING filter reaches the customer parquet scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    # date filters reach the fact scans (pushed as timestamp predicates)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
    # filtered customer dim is broadcast, never sort-merge-shuffled
    assert "BroadcastHashJoin" in plan


def test_gopher_rules_is_one_shuffle_free_projection(spark):
    from openapi_to_rdf_spark.operators.lm_quality import gopher_rules

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(gopher_rules(docs))
    assert "Exchange" not in plan               # zero shuffles
    assert "EvalPython" not in plan             # zero Python


def test_chunk_documents_is_shuffle_free(spark):
    from openapi_to_rdf_spark.operators.packing import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(chunk_documents(docs, 40, overlap=10))
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_owl_alias_emission_broadcasts_alias_map(spark):
    from openapi_to_rdf_spark.operators.entailment import owl_prp_entail

    rows = [("contains", "owl:inverseOf", "within"),
            ("a", "within", "b")]
    plan = _plan(owl_prp_entail(
        spark.createDataFrame(rows, ["s", "p", "o"])))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _remap_fixture(spark):
    E = "http://ex/entity#"
    triples = spark.createDataFrame(
        [("f", "g", f"{E}a", "p", "iri", f"{E}b", None),
         ("f", "g", f"{E}b", "p", "iri", f"{E}c", None),
         ("f", "g", "http://ex/doc#1", "p", "literal", "x", None)],
        "file string, graph string, s string, p string, o_kind string, "
        "o string, o_datatype string")
    ent_map = spark.createDataFrame(
        [(f"{E}a", f"{E}a"), (f"{E}b", f"{E}a"), (f"{E}c", f"{E}c")],
        "ent string, canonical string")
    return triples, ent_map, E


def test_remap_broadcasts_changed_map_no_fact_shuffle(spark):
    """r5: the moved-alias map is materialized once and broadcast-pinned,
    so the fact side joins with ZERO exchanges — the only shuffle in the
    whole remap is the remapped-partition dedup. At 10^12 triples this is
    the difference between shuffling the fact table twice and never."""
    from openapi_to_rdf_spark.operators.canonicalize import remap_triples

    import re

    triples, ent_map, E = _remap_fixture(spark)
    plan = _plan(remap_triples(triples, ent_map, E))
    # formatted explain prints each node once in the tree and once in the
    # detail section — count the detail headers, one per physical node
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert nodes.count("BroadcastHashJoin") == 2   # s side + o side
    assert "SortMergeJoin" not in plan
    # exactly one non-broadcast exchange: the dedup of the remapped
    # partition (broadcast exchanges are the map shipping, not a shuffle)
    assert nodes.count("Exchange") == 1, plan


def test_remap_broadcast_estimate_counts_utf8_bytes(spark):
    """The broadcast-size estimate uses each id's UTF-8 byte width: for
    non-ASCII IRIs that exceeds the character width the cap would
    otherwise be checked against."""
    from openapi_to_rdf_spark.operators.canonicalize import (
        _PY_MAP_ROW_OVERHEAD, _map_broadcast_bytes,
    )

    E = "http://ericsson.com/models/3gpp/entity#"
    pairs = [(f"{E}zelle-\u00e9\u00e8-{i}", f"{E}\u5c0f\u533a-{i}")
             for i in range(5)]
    changed = spark.createDataFrame(pairs, "ent string, canonical string")
    byte_w = sum(len(a.encode()) + len(b.encode()) for a, b in pairs) / len(pairs)
    char_w = sum(len(a) + len(b) for a, b in pairs) / len(pairs)
    assert byte_w > char_w
    assert _map_broadcast_bytes(changed) == pytest.approx(
        len(pairs) * (byte_w + _PY_MAP_ROW_OVERHEAD))


def test_remap_oversized_map_falls_back_without_broadcast_pin(spark, monkeypatch):
    """The broadcast pin is size-guarded: a map estimated over the cap is
    left to the planner (no forced driver-side hash relation) and the
    result is unchanged."""
    from openapi_to_rdf_spark.operators import canonicalize as cz

    triples, ent_map, E = _remap_fixture(spark)
    want = {tuple(r) for r in cz.remap_triples(triples, ent_map, E).collect()}
    monkeypatch.setattr(cz, "REMAP_BROADCAST_BYTES", 0)
    got_df = cz.remap_triples(triples, ent_map, E)
    got = {tuple(r) for r in got_df.collect()}
    assert got == want
    s_canon = f"{E}a"
    assert sum(1 for r in got if r[2] == s_canon) == 2   # a and b remapped
