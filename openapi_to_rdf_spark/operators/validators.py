"""The reference's own test queries re-expressed as DataFrame queries.

Reference tests/ run SPARQL validators over the converted graphs
(tests/test_completeness.py:37-74,121-148 — schema↔class and
property↔rdf:Property coverage; tests/test_semantic_correctness.py:49-104 —
every property has domain+range, every class has a NodeShape with matching
sh:targetClass). Here the same checks are anti-joins/aggregations over the
triple DataFrame, so they run distributed over any corpus size.

A user of the reference can run the equivalent of its whole test suite with
``completeness_report`` + ``semantic_report``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
SH = "http://www.w3.org/ns/shacl#"


def _local(col):
    return F.regexp_extract(col, r"([^#/]+)$", 1)


def completeness_report(triples: DataFrame, schemas: DataFrame) -> DataFrame:
    """Schema↔class coverage per file (reference test_completeness.py:37-74).

    schemas: (file, schema_name) — the YAML side, e.g. from the parsed specs.
    Names are normalized dash→underscore like the converter
    (format_name, shacl_converter.py:940-943).
    """
    classes = (triples.filter((F.col("graph") == "rdf")
                              & (F.col("p") == RDF + "type")
                              & (F.col("o") == RDFS + "Class"))
               .select("file", _local(F.col("s")).alias("name"))
               .withColumn("converted", F.lit(True)))
    expected = schemas.select(
        "file", F.regexp_replace("schema_name", "-", "_").alias("name"))
    joined = expected.join(classes, ["file", "name"], "left")
    return (joined.groupBy("file")
            .agg(F.count(F.lit(1)).alias("n_schemas"),
                 F.count("converted").alias("n_converted"),
                 F.sort_array(F.collect_list(
                     F.when(F.col("converted").isNull(), F.col("name"))))
                 .alias("missing"))
            .withColumn("coverage_pct",
                        F.round(F.col("n_converted") * 100.0 / F.col("n_schemas"), 2)))


def semantic_report(triples: DataFrame) -> DataFrame:
    """W3C-compliance checks (reference test_semantic_correctness.py:49-104):
    properties lacking rdfs:domain or rdfs:range; classes lacking a NodeShape
    with matching sh:targetClass. Returns one row per violation."""
    rdf_g = triples.filter(F.col("graph") == "rdf")
    shacl_g = triples.filter(F.col("graph") == "shacl")

    props = (rdf_g.filter((F.col("p") == RDF + "type") & (F.col("o") == RDF + "Property"))
             .select("file", F.col("s").alias("iri")))
    domains = rdf_g.filter(F.col("p") == RDFS + "domain") \
        .select("file", F.col("s").alias("iri")).distinct()
    ranges = rdf_g.filter(F.col("p") == RDFS + "range") \
        .select("file", F.col("s").alias("iri")).distinct()

    no_domain = (props.join(domains, ["file", "iri"], "left_anti")
                 .select("file", "iri", F.lit("property_without_domain").alias("issue")))
    no_range = (props.join(ranges, ["file", "iri"], "left_anti")
                .select("file", "iri", F.lit("property_without_range").alias("issue")))

    classes = (rdf_g.filter((F.col("p") == RDF + "type") & (F.col("o") == RDFS + "Class"))
               .select("file", F.col("s").alias("iri")))
    targeted = (shacl_g.filter(F.col("p") == SH + "targetClass")
                .select("file", F.col("o").alias("iri")).distinct())
    no_shape = (classes.join(targeted, ["file", "iri"], "left_anti")
                .select("file", "iri", F.lit("class_without_nodeshape").alias("issue")))

    return no_domain.unionByName(no_range).unionByName(no_shape)


# the reference's whitelist (tests/test_shacl_syntax.py:84-91) — note it
# holds sh:or / sh:and WITHOUT the trailing underscore, so the converter's
# emitted sh:or_ (quirk §2.5.1) is flagged, reproducing the reference's own
# warning about its own output
_SHACL_VALID_PROPS = [SH + n for n in [
    "targetClass", "targetNode", "targetSubjectsOf", "targetObjectsOf",
    "property", "path", "datatype", "class", "node", "minCount",
    "maxCount", "minLength", "maxLength", "pattern", "minInclusive",
    "maxInclusive", "in", "or", "xone", "and",
    "zeroOrMorePath", "zeroOrOnePath", "oneOrMorePath", "alternativePath",
    "inversePath", "hasValue", "equals", "disjoint", "lessThan",
    "lessThanOrEquals",
]]


def syntax_report(triples: DataFrame) -> DataFrame:
    """SHACL-syntax checks (reference tests/test_shacl_syntax.py:38-102)
    re-expressed over the triple table -> (file, severity, issue, detail).

    - invalid_anonymous_id / quoted_bnode_id (errors, ref :38-64): a leaked
      rdflib-style bnode label serialized as a quoted LITERAL. In the triple
      table that is a literal object matching the same regexes the reference
      greps the Turtle text for. Our deterministic bnode ids make this
      structurally impossible — the check proves it stays that way. NB the
      reference's quoted-bnode regex ("[N_][a-zA-Z0-9_]{20,}") FALSE-
      POSITIVES on legitimate long enum literals (e.g. the goldens' own
      "NE_HARDWARE_ERROR_DELECTED"), so its own output fails its own check;
      reproduced faithfully, and the parity test asserts the false-positive
      sets are identical between our output and the goldens.
    - shacl_namespace_not_found (error, ref :69-76): a shacl graph using no
      sh: predicate at all.
    - no_nodeshapes_with_targetclass (warning, ref :79-81).
    - potentially_invalid_shacl_property (warning, ref :84-102): sh:*
      predicates outside the whitelist — INCLUDING the reference's
      substring loophole (a local name contained in any whitelisted URI is
      let through), so results match the reference check exactly; sh:or_
      gets warned, as the reference's own test warns about its own output.

    The reference's _check_namespace_usage (:104-123) is vacuous as written
    (rdflib terms carry no ``.prefix`` attribute, so used_prefixes is always
    empty); its real content — the file parses with declared prefixes — is
    subsumed by our Turtle parser raising on undeclared prefixes, which the
    sink round-trip test exercises.
    """
    shacl_g = triples.filter(F.col("graph") == "shacl")

    def issue(df, severity, name, detail_col):
        return df.select("file", F.lit(severity).alias("severity"),
                         F.lit(name).alias("issue"), detail_col.alias("detail"))

    leaked = issue(
        shacl_g.filter((F.col("o_kind") == "literal")
                       & F.col("o").rlike(r"^N[a-f0-9]{32}$")),
        "error", "invalid_anonymous_id", F.col("o"))
    quoted = issue(
        shacl_g.filter((F.col("o_kind") == "literal")
                       & F.col("o").rlike(r"^[N_][a-zA-Z0-9_]{20,}$")),
        "error", "quoted_bnode_id", F.col("o"))

    files = shacl_g.select("file").distinct()
    with_sh = (shacl_g.filter(F.col("p").startswith(SH))
               .select("file").distinct())
    no_ns = issue(files.join(with_sh, "file", "left_anti"),
                  "error", "shacl_namespace_not_found", F.lit(None).cast("string"))

    with_tc = (shacl_g.filter(F.col("p") == SH + "targetClass")
               .select("file").distinct())
    no_tc = issue(files.join(with_tc, "file", "left_anti"),
                  "warning", "no_nodeshapes_with_targetclass",
                  F.lit(None).cast("string"))

    valid_arr = F.array(*[F.lit(u) for u in _SHACL_VALID_PROPS])
    sh_preds = (shacl_g.filter(F.col("p").startswith(SH))
                .select("file", "p").distinct()
                .withColumn("local", _local(F.col("p"))))
    invalid = issue(
        sh_preds.filter(~F.col("p").isin(_SHACL_VALID_PROPS)
                        # the reference's substring loophole, reproduced
                        & ~F.exists(valid_arr,
                                    lambda v: v.contains(F.col("local")))),
        "warning", "potentially_invalid_shacl_property", F.col("p"))

    return (leaked.unionByName(quoted).unionByName(no_ns)
            .unionByName(no_tc).unionByName(invalid))


def spec_inventory(specs: DataFrame) -> DataFrame:
    """YAML-side ground truth for the coverage checks, one row per schema:
    (file, schema_name, has_description, properties array<string>) —
    parsed executor-side in Arrow batches, mirroring reference
    tests/test_completeness.py:41-60's yaml walks."""
    from pyspark.sql.types import (
        ArrayType, BooleanType, StringType, StructField, StructType,
    )

    from ..convert.shacl import load_yaml

    schema = StructType([
        StructField("file", StringType(), False),
        StructField("schema_name", StringType(), False),
        StructField("has_description", BooleanType(), False),
        StructField("properties", ArrayType(StringType()), False),
    ])

    def run(batches):
        import pathlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                fname = pathlib.Path(path).name
                try:
                    data = load_yaml(content) or {}
                except Exception:
                    continue
                schemas = (data.get("components") or {}).get("schemas") or {}
                for name, sdef in schemas.items():
                    if not isinstance(sdef, dict):
                        sdef = {}
                    rows.append((fname, name, "description" in sdef,
                                 list((sdef.get("properties") or {}).keys())))
            yield pd.DataFrame(rows, columns=["file", "schema_name",
                                              "has_description",
                                              "properties"])

    return specs.mapInPandas(run, schema)


def coverage_scores(triples: DataFrame, inventory: DataFrame) -> DataFrame:
    """The reference run_tests.py summary, distributed: per file —
    schema coverage (yaml schemas ↔ rdfs:Class, SET semantics after
    dash→underscore normalization), property coverage (union of yaml
    property names ↔ rdf:Property), description preservation (schemas
    WITH a description ↔ a commented class of the same local name), the
    equal-weight overall score and the reference's grade bands
    (tests/run_tests.py:60-85). Anti-join arithmetic only — runs over
    any corpus size."""
    norm = lambda c: F.regexp_replace(c, "-", "_")  # noqa: E731
    rdf_g = triples.filter(F.col("graph") == "rdf")

    classes = (rdf_g.filter((F.col("p") == RDF + "type")
                            & (F.col("o") == RDFS + "Class"))
               .select("file", _local(F.col("s")).alias("name"))
               .dropDuplicates())
    rdf_props = (rdf_g.filter((F.col("p") == RDF + "type")
                              & (F.col("o") == RDF + "Property"))
                 .select("file", _local(F.col("s")).alias("name"))
                 .dropDuplicates())
    commented = (rdf_g.filter(F.col("p") == RDFS + "comment")
                 .select("file", _local(F.col("s")).alias("name"))
                 .dropDuplicates())

    y_schemas = (inventory.select("file", norm(F.col("schema_name"))
                                  .alias("name")).dropDuplicates())
    y_props = (inventory.select("file", F.explode("properties").alias("p"))
               .select("file", norm(F.col("p")).alias("name"))
               .dropDuplicates())
    y_desc = (inventory.filter(F.col("has_description"))
              .select("file", norm(F.col("schema_name")).alias("name"))
              .dropDuplicates())

    def cov(expected, present, out):
        hit = (expected.join(present, ["file", "name"], "left_semi")
               .groupBy("file").agg(F.count(F.lit(1)).alias("n_hit")))
        tot = expected.groupBy("file").agg(F.count(F.lit(1)).alias("n"))
        return (tot.join(hit, "file", "left")
                .select("file",
                        (F.coalesce("n_hit", F.lit(0)) * 100.0 / F.col("n"))
                        .alias(out)))

    files = triples.select("file").dropDuplicates()
    out = (files
           .join(cov(y_schemas, classes, "schema_pct"), "file", "left")
           .join(cov(y_props, rdf_props, "property_pct"), "file", "left")
           .join(cov(y_desc, commented, "description_pct"), "file", "left")
           # zero-denominator branches mirror the reference exactly
           # (test_completeness.py): no schemas → 0, no properties → 0,
           # no descriptions → 100
           .fillna({"schema_pct": 0.0, "property_pct": 0.0,
                    "description_pct": 100.0}))
    overall = (F.col("schema_pct") + F.col("property_pct")
               + F.col("description_pct")) / 3
    grade = (F.when(overall >= 95, "EXCELLENT")
             .when(overall >= 85, "GOOD")
             .when(overall >= 70, "FAIR").otherwise("POOR"))
    return (out.withColumn("overall_pct", F.round(overall, 1))
            .withColumn("grade", grade)
            .select("file", F.round("schema_pct", 1).alias("schema_pct"),
                    F.round("property_pct", 1).alias("property_pct"),
                    F.round("description_pct", 1).alias("description_pct"),
                    "overall_pct", "grade"))
