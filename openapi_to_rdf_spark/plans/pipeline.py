"""The transcript → knowledge-graph pipeline (north_star), checkpoint-resumable.

Stage DAG (each stage committed as a snapshot via plans.snapshot, with a
fingerprint chained from its upstream stage + params, so a killed run resumes
at the first uncommitted stage and recomputes nothing before it):

    transcripts ──► extract ──► entities ──► canonical_map ──► graph
                         └──────────────────────────────────────┼► violations
                                                 registry ──────┴► links

- transcripts: deterministic synthetic table (sources.transcripts) or any
  DataFrame with the input_hint schema (conv_id, turn_idx, role, text, tool, ts)
- extract:     mention detection + typed triple emission (operators.extract)
- entities:    distinct entity IRIs + surface forms (projection of extract)
- canonical_map: MinHash-LSH + exact-Jaccard + connected components
- graph:       triples remapped through the canonical map, materialized as a
               predicate-partitioned table (vertical partitioning — the
               subject/predicate/object layout RDF stores use; partition
               pruning makes single-predicate scans at 10^12 scale cheap)
- violations:  SHACL-rule quarantine (operators.shapes)
- coref:       (optional, coref=True / --coref) pronoun references recovered
               by recency (operators.coref), remapped through the canonical
               map so an alias-spelling antecedent lands on the canonical
               entity; materialized as graph='kg_coref' mentions triples
- links:       (optional, when a registry is given) entity-link scoring of
               each canonical entity's surface forms against the authority
               registry (operators.linker) → kg:linksTo/kg:linkScore triples
- provenance:  (optional, when a tool-result table is given /
               --tool-results) interval join of tool invocations to
               results (streaming.joins run in batch mode) →
               kg#producedResult / kg#resultStatus triples
- entailed:    (optional, entail=True / --entail) RDFS closure delta over
               the graph ∪ the KG vocabulary schema (operators.entailment
               with full-IRI predicate names)
- consistency: (optional, consistency=True / --consistency) OWL 2 RL
               contradiction report (operators.entailment.owl_consistency)
               over the graph ∪ pairwise-disjointness declarations for the
               KG vocabulary's top classes — an extraction-invariant
               safety net (no subject may be typed Conversation AND Turn
               AND/OR Entity); expected empty on healthy runs

Every stage stays DataFrame/SQL + Arrow-vectorized UDFs (input_hint: no
per-row Python).
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.canonicalize import canonical_entity_map, remap_triples
from ..operators.extract import ENT_NS, KG_NS, extract_transcript_triples
from ..operators.shapes import kg_shape_rules, validate_triples
from ..sources.transcripts import class_vocab_df, synth_transcripts
from .snapshot import fingerprint, materialize, read_manifest

TRIPLE_KEY = ["file", "graph", "s", "p", "o_kind", "o", "o_datatype"]


def run_pipeline(spark: SparkSession, workdir: str | pathlib.Path,
                 n_convs: int = 1000, seed: int = 42,
                 transcripts: DataFrame | None = None,
                 input_fp: str | None = None,
                 jaccard_threshold: float = 0.9,
                 spec_rules: DataFrame | None = None,
                 registry: DataFrame | None = None,
                 registry_ns: str = "http://ericsson.com/models/3gpp/registry#",
                 coref: bool = False,
                 entail: bool = False,
                 consistency: bool = False,
                 tool_results: DataFrame | None = None,
                 ) -> dict:
    """Run (or resume) the full pipeline; returns per-stage manifests.

    ``spec_rules``: extra shape rules (same layout as operators.shapes
    rules, e.g. shape_rules_from_shacl over a CONVERTED OpenAPI spec,
    aligned via align_rules_to_namespace) enforced in the violations stage
    alongside the built-in kg rules — the shapes-as-rules loop closed from
    real specs, not just the hand dictionary.

    ``registry``: optional authority table (entity_id, name, class_name,
    prior — operators.linker layout). When given, a ``links`` stage scores
    every canonical entity's surface forms against it and materializes
    kg:linksTo/kg:linkScore triples (north_star "entity-link scoring"). A
    first run's canonical map lifts into a registry via
    linker.registry_from_canonical_map, closing the canonicalize→link loop
    for incremental corpora."""
    wd = pathlib.Path(workdir)
    manifests: dict[str, dict] = {}

    def stage(name, fp, thunk, partition_by=None, count_by=None,
              stats_cols=None):
        df = materialize(thunk, spark, wd / name, fp,
                         partition_by=partition_by, count_by=count_by,
                         stats_cols=stats_cols)
        manifests[name] = read_manifest(wd / name, fp)
        return df

    # -- transcripts ---------------------------------------------------------
    if transcripts is None:
        fp_t = fingerprint("transcripts", n_convs, seed)
        turns = stage("transcripts", fp_t,
                      lambda: synth_transcripts(spark, n_convs, seed))
    else:
        # default external fingerprint mixes in the row count (one metadata
        # action) — schema alone would resume over changed data
        fp_t = input_fp or fingerprint("transcripts-external",
                                       str(transcripts.schema),
                                       transcripts.count())
        # enforce the turn-uniqueness precondition at ingest: downstream
        # emission branches dedup on narrow keys and remap_triples skips a
        # global dedup, so duplicate (conv_id, turn_idx) rows in an external
        # table would otherwise leak duplicate triples (bag, not set,
        # semantics) into the graph (ADVICE r1)
        ext = transcripts.dropDuplicates(["conv_id", "turn_idx"])
        turns = stage("transcripts", fp_t, lambda: ext)

    # -- extract -------------------------------------------------------------
    fp_e = fingerprint(fp_t, "extract", "v1")
    triples = stage(
        "extract", fp_e,
        lambda: extract_transcript_triples(turns, class_vocab_df(spark)),
        count_by=["graph"])

    # -- entities (projection; tiny vs the triple table) ---------------------
    fp_ent = fingerprint(fp_e, "entities")
    entities = stage(
        "entities", fp_ent,
        lambda: (triples
                 .filter((F.col("p") == KG_NS + "surfaceForm"))
                 .select(F.col("s").alias("ent"), F.col("o").alias("surface"))
                 .dropDuplicates(["ent"])))

    # -- canonical map -------------------------------------------------------
    fp_c = fingerprint(fp_ent, "canonical_map", jaccard_threshold)
    cmap = stage(
        "canonical_map", fp_c,
        lambda: canonical_entity_map(entities, threshold=jaccard_threshold))

    # -- final graph table (vertical predicate partitioning) -----------------
    fp_g = fingerprint(fp_e, fp_c, "graph")
    graph = stage(
        "graph", fp_g,
        lambda: (remap_triples(triples, cmap, ENT_NS)
                 .withColumn("pred", F.regexp_extract("p", r"([A-Za-z0-9_]+)$", 1))),
        partition_by=["pred"], count_by=["pred"],
        # ANALYZE-on-write: per-predicate planner statistics travel in the
        # graph manifest for bgp.stats_from_manifest / bgp_query_optimized
        stats_cols=("p", "s", "o"))

    # -- violations quarantine ----------------------------------------------
    rules = kg_shape_rules(spark, KG_NS)
    rules_fp_part = "base"
    if spec_rules is not None:
        # materialized once for both the fingerprint collect below and the
        # violations stage, which would otherwise re-derive the rules (and
        # re-convert their specs) on every execution
        spec_rules = spec_rules.localCheckpoint()
        # converted-spec rules may carry newer facet columns (value_class,
        # min/max_inclusive) the hand-written kg rules predate
        rules = rules.unionByName(spec_rules, allowMissingColumns=True)
        # rules are a broadcast-tiny dim: fingerprint their content so a
        # changed spec invalidates (only) the violations stage on resume
        rules_fp_part = fingerprint(
            "spec-rules", str(sorted(map(str, spec_rules.collect()))))
    fp_v = fingerprint(fp_g, "violations", rules_fp_part)
    stage("violations", fp_v,
          lambda: validate_triples(graph, rules),
          count_by=["violation"])

    # -- tool-result provenance (optional) ------------------------------------
    if tool_results is not None:
        from ..operators.extract import TURN_NS
        from ..streaming.joins import (
            provenance_triples, tool_result_provenance,
        )

        # metadata-only fingerprint, same convention as the registry stage
        fp_p = fingerprint(fp_t, "provenance", str(tool_results.schema),
                           tool_results.count())

        def _prov_triples():
            prov = tool_result_provenance(turns, tool_results)
            return (provenance_triples(
                prov, kg_ns=KG_NS, turn_ns=TURN_NS,
                result_ns="http://ericsson.com/models/3gpp/result#")
                    .select(F.lit("provenance").alias("file"),
                            F.lit("kg").alias("graph"),
                            "s", "p",
                            F.when(F.col("p").endswith("resultStatus"),
                                   "literal").otherwise("iri")
                            .alias("o_kind"),
                            "o",
                            F.lit(None).cast("string").alias("o_datatype"))
                    .withColumn("pred", F.regexp_extract(
                        "p", r"([A-Za-z0-9_]+)$", 1)))

        stage("provenance", fp_p, _prov_triples,
              partition_by=["pred"], count_by=["pred"])

    # -- RDFS entailment materialization (optional) ---------------------------
    if entail:
        from ..operators.entailment import rdfs_entail
        from ..operators.extract import kg_schema_triples

        rdf_type ="http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        rdfs = "http://www.w3.org/2000/01/rdf-schema#"
        fp_en = fingerprint(fp_g, "entail", "v1")

        def _entailed():
            # schema = the KG vocabulary's own RDFS facts (broadcast-tiny);
            # rdfs_entail broadcasts its closures, so the graph side is
            # scanned, never shuffled, for the reasoning
            schema = kg_schema_triples(class_vocab_df(spark))
            closed = rdfs_entail(
                graph.select("s", "p", "o").unionByName(schema),
                type_pred=rdf_type,
                sco=rdfs + "subClassOf", spo=rdfs + "subPropertyOf",
                dom=rdfs + "domain", rng=rdfs + "range")
            # the snapshot holds the DELTA vs the asserted graph (derived
            # triples + the vocabulary itself): graph ∪ entailed = the
            # closed graph a SPARQL endpoint answers over. Derived objects
            # are all IRIs (type lifts and spo-derived edge mirrors).
            delta = closed.join(
                graph.select("s", "p", "o").dropDuplicates(),
                ["s", "p", "o"], "left_anti")
            return (delta.select(
                F.lit("entail").alias("file"), F.lit("kg").alias("graph"),
                "s", "p", F.lit("iri").alias("o_kind"), "o",
                F.lit(None).cast("string").alias("o_datatype"))
                .withColumn("pred", F.regexp_extract(
                    "p", r"([A-Za-z0-9_]+)$", 1)))

        stage("entailed", fp_en, _entailed,
              partition_by=["pred"], count_by=["pred"])

    # -- OWL consistency report (optional) ------------------------------------
    if consistency:
        from ..operators.entailment import owl_consistency

        rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        fp_cs = fingerprint(fp_g, "consistency", "v1")

        def _consistency():
            # pairwise disjointness over the vocabulary's top classes —
            # broadcast-tiny declarations; instance work is one type
            # self-join (see owl_consistency's scale notes). The compact
            # "owl:disjointWith" spelling is the declaration predicate
            # owl_consistency matches on; class terms stay full-IRI.
            classes = [KG_NS + "Conversation", KG_NS + "Turn",
                       KG_NS + "Entity"]
            decls = spark.createDataFrame(
                [(a, "owl:disjointWith", b)
                 for i, a in enumerate(classes)
                 for b in classes[i + 1:]], ["s", "p", "o"])
            return owl_consistency(
                graph.select("s", "p", "o").unionByName(decls),
                type_pred=rdf_type)

        stage("consistency", fp_cs, _consistency, count_by=["rule"])

    # -- coref recovery (optional): pronoun turns -> kg#mentions -------------
    if coref:
        from ..operators.coref import coref_triples, resolve_anaphora

        # chained from transcripts (its input) AND the canonical map:
        # recovered references name entities by surface key, so they are
        # remapped exactly like extraction's mention edges — a pronoun
        # resolved to an alias spelling lands on the canonical entity
        # no pred partitioning: coref emits ONE predicate (kg#mentions), and
        # an empty recovery set under partition_by would write zero
        # directories (unreadable snapshot) — e.g. pronoun-free corpora
        fp_cf = fingerprint(fp_t, fp_c, "coref", "v1")
        stage("coref", fp_cf,
              lambda: remap_triples(
                  coref_triples(resolve_anaphora(turns), ENT_NS),
                  cmap, ENT_NS),
              count_by=["graph"])

    # -- entity links against the authority registry (optional) --------------
    if registry is not None:
        from pyspark.sql import Window

        from ..operators.linker import link_entities

        # registry fingerprint: schema + row count (metadata-only), matching
        # the external-transcripts convention
        fp_l = fingerprint(fp_g, "links", str(registry.schema), registry.count())

        def _link_triples():
            # one surface row per (canonical entity, alias spelling) — tiny
            # vs the triple table, same projection the entities stage uses
            surfaces = (graph.filter(F.col("p") == KG_NS + "surfaceForm")
                        .select(F.col("s").alias("ent"),
                                F.col("o").alias("m_key"))
                        .dropDuplicates(["ent", "m_key"]))
            linked = link_entities(surfaces, registry, class_col=None)
            # best-scoring alias decides the entity's link (deterministic)
            w = Window.partitionBy("ent").orderBy(
                F.col("score").desc(), F.col("entity_id").asc())
            best = (linked.filter(F.col("entity_id").isNotNull())
                    .withColumn("rk", F.row_number().over(w))
                    .filter(F.col("rk") == 1))
            xsd = "http://www.w3.org/2001/XMLSchema#"
            link_edge = best.select(
                F.lit("linker").alias("file"), F.lit("kg").alias("graph"),
                F.col("ent").alias("s"), F.lit(KG_NS + "linksTo").alias("p"),
                F.lit("iri").alias("o_kind"),
                F.concat(F.lit(registry_ns),
                         F.col("entity_id").cast("string")).alias("o"),
                F.lit(None).cast("string").alias("o_datatype"))
            score_edge = best.select(
                F.lit("linker").alias("file"), F.lit("kg").alias("graph"),
                F.col("ent").alias("s"), F.lit(KG_NS + "linkScore").alias("p"),
                F.lit("literal").alias("o_kind"),
                F.format_number(F.col("score"), 6).alias("o"),
                F.lit(xsd + "decimal").alias("o_datatype"))
            return (link_edge.unionByName(score_edge)
                    .withColumn("pred", F.regexp_extract(
                        "p", r"([A-Za-z0-9_]+)$", 1)))

        stage("links", fp_l, _link_triples,
              partition_by=["pred"], count_by=["pred"])

    return manifests
