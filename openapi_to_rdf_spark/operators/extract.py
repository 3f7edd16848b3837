"""Distributed triple extraction stages.

Two extractors share the triple-table schema:

1. ``convert_specs_df`` — the reference converter (convert/shacl.py pure
   function) run inside ``mapInPandas``: one Arrow batch of (path, content)
   rows in, exploded triples out. ``convert_specs_to_turtle`` is the
   ``cli convert`` path: the same per-file conversion (``_spec_converter``)
   as one RDD job on the SparkContext, with no SQL engine or Arrow; the
   Turtle is written where the triples are made and only one status tuple
   per file leaves the worker; a failing file becomes an ``error`` row
   instead of aborting the job (reference main.py:56-77).

2. ``extract_transcript_triples`` — the transcript triple factory
   (BASELINE.json north_star): batched mention detection over conversation
   turns with vectorized pandas regex, emitting (subj, pred, obj) triples
   typed against the converted vocabulary. No per-row Python UDFs anywhere.

Triple-table layout (SURVEY.md section 1.2): bnode subjects/objects are
encoded ``_:file-scoped-label``; ``o_kind`` in {iri,bnode,literal};
``o_datatype`` is the XSD datatype URI for literals, null otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

TRIPLES_SCHEMA = StructType([
    StructField("file", StringType(), False),
    StructField("graph", StringType(), False),   # 'rdf' | 'shacl' | 'owl'
    StructField("s", StringType(), False),
    StructField("p", StringType(), False),
    StructField("o_kind", StringType(), False),  # iri | bnode | literal
    StructField("o", StringType(), False),       # IRI / bnode label / lexical
    StructField("o_datatype", StringType(), True),
])

STATUS_SCHEMA = StructType([
    StructField("path", StringType(), False),
    StructField("file", StringType(), False),
    StructField("status", StringType(), False),  # 'ok' | 'error'
    StructField("error", StringType(), True),
    StructField("rdf_triples", LongType(), False),
    StructField("shacl_triples", LongType(), False),
])


def _term_to_cols(term: tuple) -> tuple[str, str, str | None]:
    kind = {"i": "iri", "b": "bnode", "l": "literal"}[term[0]]
    if term[0] == "l":
        return kind, term[1], term[2]
    return kind, term[1], None


def _subj_to_str(term: tuple) -> str:
    return term[1] if term[0] == "i" else "_:" + term[1]


def _spec_converter(base_namespace: str | None = None,
                    prefix: str | None = None, fmt: str = "shacl"):
    """The per-file conversion every spec path shares: returns
    ``convert(fname, content) -> {graph: triple set}`` (graphs 'rdf' and
    'shacl', or 'owl' alone), raising on a spec the converter rejects.

    Set env SPARK_GRAFT_CONVERT_TRACE to a writable directory to record one
    line per conversion attempt per worker (test instrumentation for the
    convert-each-file-once property across executor processes). It is read
    here, on the driver: already-running worker processes would not see an
    env var set after session start.
    """
    import os

    from ..convert.owl import convert_owl
    from ..convert.shacl import DEFAULT_PREFIX, convert_shacl

    use_prefix = prefix or DEFAULT_PREFIX
    trace_dir = os.environ.get("SPARK_GRAFT_CONVERT_TRACE")

    def convert(fname: str, content: str) -> dict[str, set]:
        if trace_dir:
            with open(os.path.join(trace_dir, f"{os.getpid()}.log"),
                      "a", encoding="utf-8") as fh:
                fh.write(fname + "\n")
        if fmt == "owl":
            conv = convert_owl(fname, content, base_namespace or f"{use_prefix}rdf/")
            return {"owl": conv.g}
        conv = convert_shacl(fname, content, base_namespace, use_prefix)
        return {"rdf": conv.rdf, "shacl": conv.sh}

    return convert


def convert_specs_df(specs: DataFrame, base_namespace: str | None = None,
                     prefix: str | None = None, fmt: str = "shacl") -> DataFrame:
    """(path, content[, read_error]) -> exploded triple DataFrame.

    The conversion itself is the proven pure function; Spark's only job here
    is partition parallelism + Arrow batching. Files the converter rejects
    contribute no rows (``convert_specs_to_turtle`` reports them).
    """
    convert = _spec_converter(base_namespace, prefix, fmt)

    def run(iterator):
        import pandas as pd
        import posixpath

        cols = [f.name for f in TRIPLES_SCHEMA.fields]
        for pdf in iterator:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                if content is None:
                    continue
                fname = posixpath.basename(path)
                try:
                    graphs = convert(fname, content)
                except Exception:
                    continue
                for gname, triples in graphs.items():
                    for s, p, o in triples:
                        ok, ov, odt = _term_to_cols(o)
                        rows.append((fname, gname, _subj_to_str(s), p[1], ok, ov, odt))
            yield pd.DataFrame(rows, columns=cols)

    return specs.mapInPandas(run, TRIPLES_SCHEMA)


# reference output layout (shacl_converter.py:945-975, rdf_converter.py:381-387):
# SHACL mode writes rdf/<stem>_rdf.ttl + shacl/<stem>_shacl.ttl, OWL mode <stem>.ttl
_TURTLE_LAYOUT = {"rdf": ("rdf", "_rdf"), "shacl": ("shacl", "_shacl"),
                  "owl": ("", "")}


def _out_stem(fname: str) -> str:
    return fname.rsplit(".", 1)[0].replace("-", "_")


def turtle_path(output_dir: str, fname: str, graph: str) -> str:
    """Output path of spec ``fname``'s ``graph`` in the reference layout."""
    import os

    sub, suffix = _TURTLE_LAYOUT[graph]
    return os.path.join(output_dir, sub, f"{_out_stem(fname)}{suffix}.ttl")


def convert_specs_to_turtle(sc, paths: list[str], output_dir: str,
                            base_namespace: str | None = None,
                            prefix: str | None = None, fmt: str = "shacl",
                            parallelism: int | None = None) -> list:
    """Convert spec files straight to the reference Turtle layout in ONE
    RDD job on the SparkContext ``sc``; returns one ``Row`` per path with
    the STATUS_SCHEMA fields, in ``paths`` order.

    The driver packs the files onto ``n`` groups by size (largest first) and
    runs ``sc.parallelize(range(n), n).flatMap``: one group per task, no
    shuffle, and no SQL engine or Arrow batches, as the job does no
    relational work. Each task reads, converts, serializes and writes its
    files in one Python pass, so triples never leave the worker. Every graph
    of a converted file is written, an empty one as a 1-byte file holding a
    newline (the reference serializes unconditionally,
    shacl_converter.py:945-975). Files whose outputs share a path
    (``a/x.yaml`` and ``b/x.yaml``, or ``TS-x.yaml`` and ``TS_x.yaml``) are
    written by one task in input order, so the last one wins as in the
    reference's sequential loop. Unreadable or rejected specs become
    ``error`` rows (per-file isolation, reference main.py:56-77); a failed
    output write fails the job.
    """
    import os

    from pyspark.sql import Row

    from ..sources.specs import pack_by_size
    from ..triplecore.turtle import serialize_turtle

    if not paths:
        raise ValueError("No YAML files found to process.")
    groups = pack_by_size(paths, parallelism or sc.defaultParallelism,
                          key=lambda p: _out_stem(os.path.basename(p)))
    n = len(groups)
    convert = _spec_converter(base_namespace, prefix, fmt)

    def convert_file(path: str) -> tuple:
        fname = os.path.basename(path)
        try:
            with open(path, encoding="utf-8") as fh:
                graphs = convert(fname, fh.read())
        except Exception as e:  # unreadable or rejected: this file only
            return (path, fname, "error", f"{type(e).__name__}: {e}", 0, 0)
        for gname, triples in graphs.items():
            out_path = turtle_path(output_dir, fname, gname)
            os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
            with open(out_path, "w", encoding="utf-8") as fh:
                fh.write(serialize_turtle(triples))
        # OWL mode's single graph reports as rdf_triples, shacl_triples 0
        counts = [len(t) for t in graphs.values()] + [0]
        return (path, fname, "ok", None, counts[0], counts[1])

    status = sc.parallelize(range(n), n).flatMap(
        lambda gid: [convert_file(p) for p in groups[gid]]).collect()
    order = {p: i for i, p in enumerate(paths)}
    row = Row(*STATUS_SCHEMA.fieldNames())
    return [row(*t) for t in sorted(status, key=lambda t: order[t[0]])]


# --------------------------------------------------------------------------
# Transcript triple factory (the graft axis)
# --------------------------------------------------------------------------

KG_NS = "http://ericsson.com/models/3gpp/kg#"
ENT_NS = "http://ericsson.com/models/3gpp/entity#"
TURN_NS = "http://ericsson.com/models/3gpp/turn#"
CONV_NS = "http://ericsson.com/models/3gpp/conv#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"


def kg_schema_triples(class_vocab: DataFrame) -> DataFrame:
    """The KG vocabulary's own RDFS schema as (s, p, o) triples: every
    mention class is a subclass of ``kg#Entity``, ``kg#mentions`` is a
    subproperty of ``kg#relatedTo``, and the structural predicates carry
    domain/range facts. This is what the pipeline's optional ``entailed``
    stage forward-chains over the materialized graph (entailment.
    rdfs_entail with full-IRI predicate names) — the reasoning layer the
    converted vocabulary exists to feed, closed over transcript data."""
    spark = class_vocab.sparkSession
    fixed = spark.createDataFrame([
        (KG_NS + "mentions", RDFS_NS + "subPropertyOf", KG_NS + "relatedTo"),
        (KG_NS + "hasTurn", RDFS_NS + "domain", KG_NS + "Conversation"),
        (KG_NS + "hasTurn", RDFS_NS + "range", KG_NS + "Turn"),
        (KG_NS + "mentions", RDFS_NS + "domain", KG_NS + "Turn"),
        (KG_NS + "mentions", RDFS_NS + "range", KG_NS + "Entity"),
    ], ["s", "p", "o"])
    sco = class_vocab.select(
        F.col("class_iri").alias("s"),
        F.lit(RDFS_NS + "subClassOf").alias("p"),
        F.lit(KG_NS + "Entity").alias("o"))
    return fixed.unionByName(sco)

# surface mention syntax embedded by the synthetic generator AND matched by
# the extractor: "ClassName#entity-key". The pattern is anchored on the
# class-vocabulary token so extraction has schema-typed ground truth.
MENTION_RE = r"([A-Z][A-Za-z0-9_]+)#([a-z0-9][a-z0-9_.-]{0,40}[a-z0-9])"


def extract_transcript_triples(turns: DataFrame, class_vocab: DataFrame | None = None,
                               within_watermark: bool = False) -> DataFrame:
    """Turns (conv_id, turn_idx, role, text, tool, ts) -> typed triples.

    All heavy lifting is JVM-side: ``regexp_extract_all`` tokenizes mentions,
    ``explode`` fans them out, and typing joins against the (broadcast) class
    vocabulary. Per-turn text is consumed exactly as stored — the stable
    (conv_id, turn_idx) ordering invariant holds because nothing here
    reorders or mutates ``text`` (BASELINE.json input_hint).

    Returns the triple table with graph='kg'. Mentions whose class token is
    not in the vocabulary are typed rdfs:Resource (open-world default).

    ``within_watermark=True`` (streaming callers, see streaming.ingest):
    every dedup becomes ``dropDuplicatesWithinWatermark`` so state is evicted
    as event time advances — plain ``dropDuplicates`` on keys that exclude
    the event-time column would grow state without bound in a continuous
    query (ADVICE r1). Duplicate keys recurring AFTER watermark eviction
    re-emit; global set semantics land in the downstream snapshot merge.
    Requires ``withWatermark`` already applied to ``turns``.
    """

    def dd(df: DataFrame, keys: list[str]) -> DataFrame:
        if within_watermark:
            return df.dropDuplicatesWithinWatermark(keys)
        return df.dropDuplicates(keys)
    mentions = (
        turns
        .select(
            "conv_id", "turn_idx", "role", "tool", "ts",
            F.expr(f"regexp_extract_all(text, '{MENTION_RE}', 0)").alias("raw_mentions"),
        )
        .withColumn("mention", F.explode_outer("raw_mentions"))
        # the match is Class#key with '#' excluded from both sides, so a
        # plain split replaces two more regex evaluations per mention
        .withColumn("_parts", F.split("mention", "#", 2))
        .withColumn("m_class", F.element_at("_parts", 1))
        .withColumn("m_key", F.element_at("_parts", 2))
        .drop("_parts")
    )

    turn_iri = F.concat(F.lit(TURN_NS), F.col("conv_id"), F.lit("/"),
                        F.col("turn_idx").cast("string"))
    conv_iri = F.concat(F.lit(CONV_NS), F.col("conv_id"))
    # entity IRI from the RAW surface key (charset is already IRI-safe):
    # alias spellings stay distinct here — canonicalization unifies them later
    ent_iri = F.concat(F.lit(ENT_NS), F.col("m_key"))

    def t(s, p, o_kind, o, o_datatype=None):
        return F.struct(
            s.alias("s"), F.lit(p).alias("p"), F.lit(o_kind).alias("o_kind"),
            o.alias("o"),
            (F.lit(o_datatype) if o_datatype else F.lit(None).cast("string")).alias("o_datatype"),
        )

    xsd = "http://www.w3.org/2001/XMLSchema#"
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    per_turn = (
        turns.select(
            "conv_id", "turn_idx", "role", "tool", "ts",
            F.array(
                t(F.concat(F.lit(CONV_NS), F.col("conv_id")), KG_NS + "hasTurn", "iri",
                  F.concat(F.lit(TURN_NS), F.col("conv_id"), F.lit("/"),
                           F.col("turn_idx").cast("string"))),
                # turn nodes are explicitly typed so class-scoped SHACL rules
                # (sh:targetClass kg:Turn) have focus nodes to enumerate —
                # without types, minCount-for-absent-property can never fire
                # (ADVICE r1 on shapes.validate_triples)
                t(F.concat(F.lit(TURN_NS), F.col("conv_id"), F.lit("/"),
                           F.col("turn_idx").cast("string")), rdf_type, "iri",
                  F.lit(KG_NS + "Turn")),
                t(F.concat(F.lit(TURN_NS), F.col("conv_id"), F.lit("/"),
                           F.col("turn_idx").cast("string")), KG_NS + "role", "literal",
                  F.col("role"), xsd + "string"),
                t(F.concat(F.lit(TURN_NS), F.col("conv_id"), F.lit("/"),
                           F.col("turn_idx").cast("string")), KG_NS + "atTime", "literal",
                  F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"), xsd + "dateTime"),
            ).alias("triples"),
        )
        .select("conv_id", F.explode("triples").alias("tr"))
        .select(F.col("conv_id").alias("file"), F.lit("kg").alias("graph"),
                F.col("tr.s").alias("s"), F.col("tr.p").alias("p"),
                F.col("tr.o_kind").alias("o_kind"), F.col("tr.o").alias("o"),
                F.col("tr.o_datatype").alias("o_datatype"))
    )

    # conversation nodes typed once each (narrow-key dedup before minting);
    # rdf:type spans three branches but their subject namespaces are disjoint
    # (conv#/turn#/entity#), preserving the no-global-dedup invariant
    conv_types = (
        dd(turns.select("conv_id", "ts") if within_watermark
           else turns.select("conv_id"), ["conv_id"])
        .select(F.col("conv_id").alias("file"), F.lit("kg").alias("graph"),
                F.concat(F.lit(CONV_NS), F.col("conv_id")).alias("s"),
                F.lit(rdf_type).alias("p"), F.lit("iri").alias("o_kind"),
                F.lit(KG_NS + "Conversation").alias("o"),
                F.lit(None).cast("string").alias("o_datatype"))
    )

    mention_rows = mentions.filter(F.col("mention").isNotNull())

    # dedup happens on NARROW key columns BEFORE URI strings are minted —
    # the wide 7-column global dropDuplicates this replaces was the dominant
    # shuffle (full triple rows); the three emission branches produce
    # disjoint predicates so no global dedup is needed afterwards. ts rides
    # along (8 bytes) so the streaming variant can evict state by watermark.
    turn_mentions = dd(mention_rows, ["conv_id", "turn_idx", "m_key"])
    entity_rows = dd(mention_rows.select("m_class", "m_key", "ts")
                     if within_watermark
                     else mention_rows.select("m_class", "m_key"),
                     ["m_class", "m_key"])

    if class_vocab is not None:
        # broadcast dictionary join: class token -> class IRI (small dim table)
        entity_rows = entity_rows.join(
            F.broadcast(class_vocab.select(F.col("class_name").alias("m_class"),
                                           F.col("class_iri"))),
            on="m_class", how="left")
    else:
        entity_rows = entity_rows.withColumn("class_iri", F.lit(None).cast("string"))
    entity_rows = entity_rows.withColumn(
        "class_iri",
        F.coalesce("class_iri", F.lit("http://www.w3.org/2000/01/rdf-schema#Resource")))

    def as_triples(df, conv_col, triples_col):
        return (df.select(conv_col.alias("file"), F.explode(triples_col).alias("tr"))
                .select("file", F.lit("kg").alias("graph"),
                        F.col("tr.s").alias("s"), F.col("tr.p").alias("p"),
                        F.col("tr.o_kind").alias("o_kind"), F.col("tr.o").alias("o"),
                        F.col("tr.o_datatype").alias("o_datatype")))

    mention_triples = as_triples(
        turn_mentions, F.col("conv_id"),
        F.array(t(turn_iri, KG_NS + "mentions", "iri", ent_iri)))

    # entity-level facts carry no conversation provenance: file='entities'
    # (they are global assertions deduplicated across the whole corpus).
    # type is per (class, key); surfaceForm per key alone (a key mentioned
    # under two classes still has ONE surface form).
    type_triples = as_triples(
        entity_rows, F.lit("entities"),
        F.array(t(ent_iri, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                  "iri", F.col("class_iri"))))
    surface_triples = as_triples(
        dd(entity_rows.select("m_key", "ts") if within_watermark
           else entity_rows.select("m_key"), ["m_key"]), F.lit("entities"),
        F.array(t(ent_iri, KG_NS + "surfaceForm", "literal", F.col("m_key"),
                  xsd + "string")))

    return (per_turn.unionByName(conv_types).unionByName(mention_triples)
            .unionByName(type_triples).unionByName(surface_triples))
