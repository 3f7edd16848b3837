"""Distributed triple exports: N-Triples, N-Quads and line-delimited
JSON-LD, each a plain text sink with one part-file per partition.

The reference's per-spec Turtle layout is written by ``cli convert`` itself
(operators.extract.convert_specs_to_turtle), where each spec is converted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ntriples_line(s=None, p=None, o=None, o_kind=None, o_datatype=None,
                  graph=None):
    """One N-Triples line per triple row as a PURE JVM expression.

    N-Triples is the line-oriented RDF syntax — no prefixes, no per-file
    state — which makes it the 100 TB graph export: serialization is a
    codegen projection and the write is a plain distributed text sink, vs
    the per-spec Turtle files ``cli convert`` writes, which exist for
    byte-parity with the reference layout, not for scale.

    Literal escaping follows the N-Triples grammar (backslash first, then
    quote/LF/CR/TAB); xsd:string literals are emitted plain (the parser maps
    both spellings to the same term). IRIs are emitted verbatim — this
    engine's IRIs are mint-controlled (no <>-escaping needed).
    """
    from pyspark.sql import functions as F

    s, p, o = F.col(s or "s"), F.col(p or "p"), F.col(o or "o")
    kind = F.col(o_kind or "o_kind")
    dt = F.col(o_datatype or "o_datatype")
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"

    def esc(c):
        c = F.regexp_replace(c, r"\\", r"\\\\")
        c = F.regexp_replace(c, '"', '\\\\"')
        c = F.regexp_replace(c, "\n", r"\\n")
        c = F.regexp_replace(c, "\r", r"\\r")
        return F.regexp_replace(c, "\t", r"\\t")

    subj = F.when(s.startswith("_:"), s).otherwise(F.concat(F.lit("<"), s, F.lit(">")))
    lit = F.concat(F.lit('"'), esc(o), F.lit('"'),
                   F.when(F.coalesce(dt, F.lit(xsd_string)) == xsd_string, F.lit(""))
                   .otherwise(F.concat(F.lit("^^<"), dt, F.lit(">"))))
    obj = (F.when(kind == "iri", F.concat(F.lit("<"), o, F.lit(">")))
           .when(kind == "bnode",
                 F.when(o.startswith("_:"), o).otherwise(F.concat(F.lit("_:"), o)))
           .otherwise(lit))
    if graph is not None:           # N-Quads: graph term before the dot
        return F.concat(subj, F.lit(" <"), p, F.lit("> "), obj,
                        F.lit(" "), graph, F.lit(" ."))
    return F.concat(subj, F.lit(" <"), p, F.lit("> "), obj, F.lit(" ."))


def write_ntriples(triples: DataFrame, output_path: str,
                   mode: str = "overwrite",
                   partitions: int | None = None) -> None:
    """Distributed N-Triples export: one text part-file per partition under
    ``output_path`` (the standard massive-graph layout — consumers cat or
    parallel-read the parts). No shuffle unless ``partitions`` asks for a
    specific output file count."""
    out = triples.select(ntriples_line().alias("value"))
    if partitions is not None:
        out = out.repartition(partitions)
    out.write.mode(mode).text(output_path)


def write_nquads(quads: DataFrame, output_path: str, g_col: str = "g",
                 graph_base: str = "urn:graph:", mode: str = "overwrite",
                 partitions: int | None = None) -> None:
    """Distributed N-Quads export — the dataset twin of
    :func:`write_ntriples`: same pure-codegen line projection with the
    graph label as the fourth term, so named-graph provenance survives
    the export. Works over both the wide store schema (o_kind /
    o_datatype present — the pipeline's ``graph`` column names the
    subgraph) and bare (g, s, p, o) frames from operators/quads, where
    object kind falls back to the IRI-scheme heuristic. Graph labels
    that are not absolute IRIs are minted under ``graph_base`` (the
    N-Quads grammar requires an IRI/bnode graph term)."""
    from pyspark.sql import functions as F

    df = quads
    if "o_kind" not in df.columns:
        df = df.withColumn(
            "o_kind", F.when(F.col("o").rlike("^[a-z][a-z0-9+.-]*://"),
                             "iri").otherwise("literal"))
    if "o_datatype" not in df.columns:
        df = df.withColumn("o_datatype", F.lit(None).cast("string"))
    g = F.col(g_col)
    gterm = F.concat(
        F.lit("<"),
        F.when(g.rlike("^[a-z][a-z0-9+.-]*:"), g)
        .otherwise(F.concat(F.lit(graph_base), g)),
        F.lit(">"))
    out = df.select(ntriples_line(graph=gterm).alias("value"))
    if partitions is not None:
        out = out.repartition(partitions)
    out.write.mode(mode).text(output_path)


def jsonld_node_lines(triples: DataFrame) -> DataFrame:
    """Triple table -> one flattened-JSON-LD node object per subject, as a
    one-column ('value') DataFrame of JSON lines (the dialect
    sources/jsonld.py parses; see its docstring).

    Deterministic: predicates and value arrays are sorted, so the same
    graph always serializes to the same line set. ONE shuffle (groupBy
    subject — the graph's natural clustering key); the JSON assembly is
    pure codegen: `collect_set` of (predicate, value-object) structs,
    a linear `aggregate` fold that groups the SORTED list by predicate
    (accumulator copies are bounded by the per-subject predicate count —
    vocabulary-sized, not corpus-sized), then `to_json` over
    `map_from_entries`. Null struct fields are omitted by Spark's JSON
    generator, giving clean {"@id"} vs {"@value","@type"} objects."""
    from pyspark.sql import functions as F

    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

    t = triples.select("s", "p", "o_kind", "o", "o_datatype")
    is_type = (F.col("p") == RDF_TYPE) & (F.col("o_kind") == "iri")

    # value objects for non-type triples; field order (@id, @value, @type)
    vid = F.when(F.col("o_kind") == "iri", F.col("o")).when(
        F.col("o_kind") == "bnode", F.concat(F.lit("_:"), F.col("o")))
    vval = F.when(F.col("o_kind") == "literal", F.col("o"))
    vdt = F.when((F.col("o_kind") == "literal")
                 & F.col("o_datatype").isNotNull()
                 & (F.col("o_datatype") != XSD_STRING),
                 F.col("o_datatype"))
    vobj = F.struct(vid.alias("@id"), vval.alias("@value"),
                    vdt.alias("@type"))

    node = (t.groupBy("s").agg(
        F.sort_array(F.collect_set(
            F.when(is_type, F.col("o")))).alias("types"),
        F.sort_array(F.collect_set(F.when(
            ~is_type, F.struct(F.col("p").alias("k"),
                               vobj.alias("v"))))).alias("pvs")))

    # fold the sorted (k, v) list into predicate -> [v...] entries; the
    # list is sorted by (k, v), so grouping is one linear pass.
    # try_element_at: NULL (not an ANSI error) when the accumulator is
    # still empty — null-safe false routes to the "new key" branch.
    acc_t = ("array<struct<key string, "
             "vals array<struct<`@id` string, `@value` string, "
             "`@type` string>>>>")
    entries = F.filter(
        F.aggregate(
            "pvs",
            F.array().cast(acc_t),
            lambda acc, x: F.when(
                F.try_element_at(acc, F.lit(-1)).getField("key")
                .eqNullSafe(x["k"]),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.struct(
                        x["k"].alias("key"),
                        F.concat(F.element_at(acc, -1).getField("vals"),
                                 F.array(x["v"])).alias("vals"))))
            ).otherwise(
                F.concat(acc, F.array(F.struct(
                    x["k"].alias("key"),
                    F.array(x["v"]).alias("vals")))))),
        lambda e: e.getField("key").isNotNull())

    # assemble {"@id": ...} + optional @type member + predicate members by
    # string-merging the to_json fragments (dynamic keys rule out one
    # static struct; every piece is still escaped by the JSON generator)
    id_json = F.to_json(F.struct(F.col("s").alias("@id")))
    nn_types = F.filter("types", lambda x: x.isNotNull())
    types_json = F.when(
        F.size(nn_types) > 0,
        F.to_json(F.struct(nn_types.alias("@type"))))
    preds_json = F.when(F.size(entries) > 0,
                        F.to_json(F.map_from_entries(entries)))

    line = F.concat(
        F.expr("substring(idj, 1, length(idj) - 1)"),
        F.coalesce(F.concat(F.lit(","), F.expr(
            "substring(tj, 2, length(tj) - 2)")), F.lit("")),
        F.coalesce(F.concat(F.lit(","), F.expr(
            "substring(pj, 2, length(pj) - 2)")), F.lit("")),
        F.lit("}"))
    return (node.select(id_json.alias("idj"), types_json.alias("tj"),
                        preds_json.alias("pj"))
            .select(line.alias("value")))


def write_jsonld(triples: DataFrame, output_path: str,
                 mode: str = "overwrite",
                 partitions: int | None = None) -> None:
    """Distributed line-delimited flattened JSON-LD export — one node
    object per line, one text part-file per partition (same layout
    contract as write_ntriples)."""
    out = jsonld_node_lines(triples)
    if partitions is not None:
        out = out.repartition(partitions)
    out.write.mode(mode).text(output_path)
