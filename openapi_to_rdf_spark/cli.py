"""spark-submit entrypoint.

The two main subcommands (also: validate, stream, query, update):

- ``convert`` — the reference CLI re-expressed (reference main.py:89-145):
  positional YAML files/dirs, --base-namespace, --format {shacl,owl},
  --namespace-prefix, plus Spark-era flags --parallelism and --output-dir.
  One RDD job on a bare SparkContext (no SparkSession, no SQL engine): the
  files are packed onto --parallelism tasks by size, and each task reads,
  converts and writes its files' Turtle in one Python pass
  (operators.extract.convert_specs_to_turtle). Per-file ✓/✗ summary in
  input order and exit code 1 on any failure (main.py:79-86), from the
  status rows the tasks return.

- ``kg`` — the transcript→knowledge-graph pipeline (checkpoint-resumable;
  plans.pipeline). --workdir is the snapshot root: re-running with the same
  inputs resumes at the first uncommitted stage.

Run as:  spark-submit --py-files openapi_to_rdf_spark.zip -m ... or
         python -m openapi_to_rdf_spark.cli <subcommand> ...
(in local mode the module builds its own session or context; under
spark-submit the existing context/conf is reused by getOrCreate).
"""

from __future__ import annotations

import argparse
import re
import sys

VERSION = "0.1.0"


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="openapi-to-rdf-spark")
    p.add_argument("--version", action="version", version=f"%(prog)s {VERSION}")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("convert", help="convert OpenAPI YAML specs to RDF/SHACL Turtle")
    c.add_argument("input", nargs="+", help="YAML files or directories")
    c.add_argument("--base-namespace", default=None)
    c.add_argument("--format", choices=["shacl", "owl"], default="shacl")
    c.add_argument("--namespace-prefix", default=None,
                   help="base URI prefix (default mirrors the reference)")
    c.add_argument("--output-dir", default="output")
    c.add_argument("--parallelism", type=int, default=None)
    c.add_argument("--cores", type=int, default=None)

    v = sub.add_parser("validate", help="run the reference test-suite "
                                         "equivalent (completeness / "
                                         "semantic / syntax validators + "
                                         "run_tests.py coverage scores) "
                                         "over converted specs")
    v.add_argument("input", nargs="+", help="YAML files or directories")
    v.add_argument("--cores", type=int, default=None)

    k = sub.add_parser("kg", help="run the transcript→KG pipeline")
    k.add_argument("--workdir", required=True, help="snapshot/checkpoint root")
    k.add_argument("--n-convs", type=int, default=10_000)
    k.add_argument("--seed", type=int, default=42)
    k.add_argument("--input-table", default=None,
                   help="path of a transcript table (conv_id, turn_idx, "
                        "role, text, tool, ts); default: deterministic synthetic")
    k.add_argument("--input-format", choices=["parquet", "csv", "json"],
                   default="parquet")
    k.add_argument("--jaccard-threshold", type=float, default=0.9)
    k.add_argument("--spec", nargs="*", default=None,
                   help="OpenAPI YAML files/dirs; their converted SHACL "
                        "shapes are aligned into the kg vocabulary and "
                        "enforced in the violations stage")
    k.add_argument("--registry", default=None,
                   help="parquet authority table (entity_id, name, "
                        "class_name, prior); adds the links stage — every "
                        "canonical entity scored + linked against it "
                        "(operators.linker)")
    k.add_argument("--coref", action="store_true",
                   help="recover pronoun references (operators.coref) as a "
                        "kg_coref snapshot stage")
    k.add_argument("--tool-results", default=None, metavar="PARQUET",
                   help="tool-result events table (conv_id, tool, "
                        "result_id, status, ts): adds a 'provenance' "
                        "stage joining invocations to results within the "
                        "interval bound and materializing "
                        "kg#producedResult/resultStatus triples")
    k.add_argument("--entail", action="store_true",
                   help="materialize the RDFS closure delta over the graph "
                        "(kg vocabulary schema + forward chaining) as an "
                        "'entailed' snapshot stage")
    k.add_argument("--consistency", action="store_true",
                   help="run the OWL 2 RL contradiction report over the "
                        "final graph (class-disjointness safety net) as a "
                        "'consistency' snapshot stage")
    k.add_argument("--export-ntriples", default=None, metavar="DIR",
                   help="also export the final graph as distributed "
                        "N-Triples part files under DIR")
    k.add_argument("--export-nquads", default=None, metavar="DIR",
                   help="also export the final graph as distributed "
                        "N-Quads part files under DIR, with the store's "
                        "subgraph column as the named-graph term")
    k.add_argument("--export-jsonld", default=None, metavar="DIR",
                   help="also export the final graph as line-delimited "
                        "flattened JSON-LD part files under DIR (one node "
                        "object per line)")
    k.add_argument("--cores", type=int, default=None)

    s = sub.add_parser("stream", help="continuous ingest: transcript parquet "
                                      "dir → triple batches (+ incremental "
                                      "canonical map)")
    s.add_argument("--input-dir", required=True,
                   help="directory where transcript parquet files arrive")
    s.add_argument("--output-dir", required=True,
                   help="triple batches + streaming checkpoint root")
    s.add_argument("--canonicalize", action="store_true",
                   help="also maintain the incremental canonical entity map")
    s.add_argument("--compact", action="store_true",
                   help="after draining, rewrite all batches through the "
                        "current canonical map into a predicate-partitioned "
                        "graph snapshot (implies --canonicalize)")
    s.add_argument("--follow", action="store_true",
                   help="keep running for new files (default: availableNow "
                        "— drain what exists, then exit)")
    s.add_argument("--construct", default=None, metavar="SPARQL",
                   help="a SPARQL CONSTRUCT run over each batch's triples; "
                        "derived triples commit under derived/ (batch-local "
                        "semantics — conversation-contained rules are exact)")
    s.add_argument("--cores", type=int, default=None)
    q = sub.add_parser("query", help="SPARQL over a materialized kg "
                                    "workdir graph (statistics-ordered)")
    q.add_argument("--workdir", required=True,
                   help="the kg pipeline workdir (reads graph/ LATEST)")
    q.add_argument("patterns",
                   help="a full SPARQL query (anything starting with "
                        "PREFIX/BASE/SELECT/ASK/CONSTRUCT/DESCRIBE — "
                        "sparql.py's SPARQL 1.1 surface, kg: predeclared) "
                        "OR shorthand dot-separated triple patterns; ?x "
                        "marks variables, kg: expands to the KG namespace "
                        "— e.g. \"?t kg:role user . ?t kg:atTime ?ts\"")
    q.add_argument("--select", default=None,
                   help="comma-separated variables to project")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--distinct", action="store_true")
    q.add_argument("--filter", action="append", dest="filters",
                   metavar="COND",
                   help="SPARQL FILTER as a SQL condition over the bound "
                        "variables (repeatable), e.g. \"role = 'user'\"")
    q.add_argument("--bind", action="append", dest="binds",
                   metavar="VAR=EXPR",
                   help="SPARQL BIND: computed variable from a SQL "
                        "expression over bound variables (repeatable)")
    q.add_argument("--explain", action="store_true",
                   help="print the optimized physical plan instead of rows")
    q.add_argument("--as-of", dest="as_of", default=None,
                   metavar="ISO_TS",
                   help="time travel: query the graph snapshot committed "
                        "at or before this ISO-8601 UTC timestamp "
                        "(snapshot history chain) instead of LATEST")
    q.add_argument("--format", choices=["table", "csv", "json"],
                   default="table",
                   help="output format: aligned table (default), CSV, or "
                        "W3C SPARQL 1.1 Results JSON")
    q.add_argument("--cores", type=int, default=None)

    u = sub.add_parser("update", help="apply a SPARQL 1.1 Update request "
                                      "to the workdir graph and commit the "
                                      "result as a NEW snapshot (the old "
                                      "one stays readable by fingerprint)")
    u.add_argument("--workdir", required=True,
                   help="the kg pipeline workdir (reads graph/ LATEST, "
                        "writes the updated graph/ snapshot)")
    u.add_argument("request",
                   help="SPARQL Update text: DELETE/INSERT .. WHERE, "
                        "DELETE WHERE, INSERT DATA, DELETE DATA, "
                        "';'-separated sequences (kg: predeclared)")
    u.add_argument("--cores", type=int, default=None)
    return p


def cmd_convert(args) -> int:
    from .operators.extract import convert_specs_to_turtle, turtle_path
    from .session import get_context
    from .sources.specs import expand_yaml_paths

    sc = get_context(app_name="openapi-to-rdf-convert", cores=args.cores)
    status = convert_specs_to_turtle(
        sc, expand_yaml_paths(args.input), args.output_dir,
        base_namespace=args.base_namespace, prefix=args.namespace_prefix,
        fmt=args.format, parallelism=args.parallelism)

    ok = [r for r in status if r.status == "ok"]
    bad = [r for r in status if r.status != "ok"]
    for r in ok:
        print(f"  ✓ {r.file}: {r.rdf_triples} rdf + {r.shacl_triples} shacl triples")
    for r in bad:
        print(f"  ✗ {r.file}: {r.error}", file=sys.stderr)
    # every converted file writes all its graphs, empty ones included;
    # files sharing an output path count once
    graphs = ("owl",) if args.format == "owl" else ("rdf", "shacl")
    n_files = len({turtle_path(args.output_dir, r.file, g)
                   for r in ok for g in graphs})
    print(f"\n{len(ok)} succeeded, {len(bad)} failed; "
          f"{n_files} Turtle files → {args.output_dir}")
    return 1 if bad else 0


def cmd_validate(args) -> int:
    """Reference tests/run_tests.py re-expressed: convert, run the three
    validator reports + coverage scores, print per-file summary + grade.
    Exit 1 if any file grades below EXCELLENT (the reference's 95% bar)."""
    from pyspark.sql import functions as F

    from .operators.extract import convert_specs_df
    from .operators.validators import (
        coverage_scores, semantic_report, spec_inventory, syntax_report,
    )
    from .session import get_spark
    from .sources.specs import spec_paths_df, with_content

    spark = get_spark(app_name="openapi-validate", cores=args.cores)
    specs = with_content(spec_paths_df(spark, args.input)).localCheckpoint()
    triples = convert_specs_df(specs).localCheckpoint()
    inventory = spec_inventory(specs)

    scores = {r.file: r for r in coverage_scores(triples, inventory).collect()}
    sem = (semantic_report(triples).groupBy("file")
           .agg(F.count(F.lit(1)).alias("n")).collect())
    syn = (syntax_report(triples)
           .filter(F.col("severity") == "error").groupBy("file")
           .agg(F.count(F.lit(1)).alias("n")).collect())
    sem_by, syn_by = ({r.file: r.n for r in rows} for rows in (sem, syn))

    worst_ok = True
    for fname in sorted(scores):
        r = scores[fname]
        print(f"  {fname}: schema {r.schema_pct}%  property "
              f"{r.property_pct}%  description {r.description_pct}%  "
              f"overall {r.overall_pct}% [{r.grade}]  "
              f"semantic-issues {sem_by.get(fname, 0)}  "
              f"syntax-errors {syn_by.get(fname, 0)}")
        if r.grade != "EXCELLENT":
            worst_ok = False
    n = len(scores)
    print(f"{n} file(s) validated; "
          f"{'all EXCELLENT' if worst_ok else 'some grades below EXCELLENT'}")
    return 0


def cmd_kg(args) -> int:
    from .plans.pipeline import run_pipeline
    from .session import get_spark

    spark = get_spark(app_name="kg-pipeline", cores=args.cores)

    spec_rules = None
    if args.spec:
        from pyspark.sql import functions as F

        from .operators.extract import KG_NS, convert_specs_df
        from .operators.shapes import (
            align_rules_to_namespace, resolve_scalar_aliases,
            shape_rules_from_shacl,
        )
        from .sources.specs import spec_paths_df, with_content

        specs = with_content(spec_paths_df(spark, args.spec))
        # materialized once: the rule derivation below reads the shapes
        # through several joins, and each read would re-run the conversion
        shacl = (convert_specs_df(specs).filter(F.col("graph") == "shacl")
                 .localCheckpoint())
        # scalar-alias sh:class rules become datatype-set rules BEFORE
        # namespace alignment, so alias literals aren't flagged as
        # missing class instances
        spec_rules = align_rules_to_namespace(
            resolve_scalar_aliases(shape_rules_from_shacl(shacl), shacl),
            KG_NS)

    transcripts, input_fp = None, None
    if args.input_table:
        from .plans.snapshot import fingerprint
        from .sources.transcripts import read_transcript_table

        transcripts = read_transcript_table(spark, args.input_table,
                                            args.input_format)
        # fingerprint = path + row count (metadata-only): same-path
        # in-place edits that keep the row count need a fresh workdir,
        # documented; schema alone would silently resume over new data
        input_fp = fingerprint("external", args.input_table, transcripts.count())
    registry = spark.read.parquet(args.registry) if args.registry else None
    tool_results = (spark.read.parquet(args.tool_results)
                    if args.tool_results else None)
    manifests = run_pipeline(
        spark, args.workdir, n_convs=args.n_convs, seed=args.seed,
        transcripts=transcripts, input_fp=input_fp,
        jaccard_threshold=args.jaccard_threshold, spec_rules=spec_rules,
        registry=registry, coref=args.coref, entail=args.entail,
        consistency=args.consistency, tool_results=tool_results)
    for name, m in manifests.items():
        extra = ""
        if m["metrics"].get("counts"):
            top = sorted(m["metrics"]["counts"].items())[:4]
            extra = " (" + ", ".join(f"{k}={v}" for k, v in top) + ")"
        print(f"  {name}: {m['metrics']['rows']} rows, snap {m['fingerprint']}{extra}")
    if args.export_ntriples:
        import pathlib

        from .plans.snapshot import read_snapshot
        from .sinks import write_ntriples

        graph = read_snapshot(spark, pathlib.Path(args.workdir) / "graph")
        write_ntriples(graph, args.export_ntriples)
        print(f"  ntriples: exported to {args.export_ntriples}")
    if args.export_nquads:
        import pathlib

        from .plans.snapshot import read_snapshot
        from .sinks import write_nquads

        graph = read_snapshot(spark, pathlib.Path(args.workdir) / "graph")
        write_nquads(graph, args.export_nquads, g_col="graph")
        print(f"  nquads: exported to {args.export_nquads}")
    if args.export_jsonld:
        import pathlib

        from .plans.snapshot import read_snapshot
        from .sinks import write_jsonld

        graph = read_snapshot(spark, pathlib.Path(args.workdir) / "graph")
        write_jsonld(graph, args.export_jsonld)
        print(f"  jsonld: exported to {args.export_jsonld}")
    return 0


def cmd_stream(args) -> int:
    import pathlib

    from .session import get_spark
    from .sources.transcripts import TRANSCRIPT_SCHEMA, class_vocab_df
    from .streaming.incremental import (
        read_canonical_map, start_incremental_canonicalization,
    )
    from .streaming.ingest import read_stream_triples, start_stream_pipeline

    spark = get_spark(app_name="kg-stream", cores=args.cores)
    vocab = class_vocab_df(spark)

    def source():
        return (spark.readStream.schema(TRANSCRIPT_SCHEMA)
                .option("recursiveFileLookup", "true")
                .parquet(args.input_dir))

    canonicalize = args.canonicalize or args.compact
    once = not args.follow
    queries = [start_stream_pipeline(source(), args.output_dir, vocab,
                                     trigger_once=once,
                                     construct=args.construct)]
    canon_dir = str(pathlib.Path(args.output_dir) / "canonical_state")
    if canonicalize:
        queries.append(start_incremental_canonicalization(
            source(), canon_dir, vocab, trigger_once=once))
    for q in queries:
        q.awaitTermination()

    n = read_stream_triples(spark, args.output_dir).count()
    print(f"  triples committed: {n}")
    if canonicalize:
        cmap = read_canonical_map(spark, canon_dir)
        merged = cmap.filter("ent != canonical").count()
        print(f"  canonical map: {cmap.count()} entities, {merged} merged")
    if args.compact:
        from .streaming.incremental import compact_graph

        man = compact_graph(spark, args.output_dir, canon_dir,
                            str(pathlib.Path(args.output_dir) / "compacted"))
        print(f"  compacted graph: {man['metrics']['rows']} rows, "
              f"snap {man['fingerprint']}")
    return 0


def cmd_query(args) -> int:
    from .operators.bgp import bgp_query_optimized, stats_from_manifest
    from .operators.extract import KG_NS
    from .plans.snapshot import read_manifest, read_snapshot
    from .session import get_spark

    spark = get_spark(app_name="kg-query", cores=args.cores)
    wd = args.workdir.rstrip("/") + "/graph"
    if getattr(args, "as_of", None):
        from .plans.snapshot import read_snapshot_asof, snapshot_history

        graph = read_snapshot_asof(spark, wd, args.as_of)
        asof_fp = next(m["fingerprint"] for m in snapshot_history(wd)
                       if m["committed_at"] <= args.as_of)
        man = read_manifest(wd, asof_fp)
    else:
        graph = read_snapshot(spark, wd)
        man = read_manifest(wd)
    try:
        stats = stats_from_manifest(man)
    except ValueError:
        stats = None  # pre-statistics snapshot: optimizer scans once

    if re.match(r"\s*(PREFIX|BASE|SELECT|ASK|CONSTRUCT|DESCRIBE)\b",
                args.patterns, re.IGNORECASE):
        from .sparql import sparql_query

        # GRAPH queries read the store's subgraph column (kg / entail /
        # kg_coref / linker — the pipeline's per-stage named graphs) as
        # the SPARQL dataset's graph term
        if re.search(r"\bGRAPH\b", args.patterns, re.IGNORECASE) \
                and "graph" in graph.columns:
            graph = graph.withColumnRenamed("graph", "g")
        out = sparql_query(graph, args.patterns, stats=stats)
        if args.explain:
            out.explain("formatted")
            return 0
        return _print_result(out, args)

    def term(tok):
        return KG_NS + tok[3:] if tok.startswith("kg:") else tok

    def pred(tok):
        # property-path suffixes on the predicate position: p+ / p* ;
        # ^p inverts (compose: ^p+ = inverse then closure)
        inv = tok.startswith("^")
        if inv:
            tok = tok[1:]
        out = (("+", term(tok[:-1])) if tok.endswith("+")
               else ("*", term(tok[:-1])) if tok.endswith("*")
               else term(tok))
        return ("inv", out) if inv else out

    patterns = []
    for pat in args.patterns.split("."):
        toks = pat.split()
        if len(toks) != 3:
            print(f"bad pattern: {pat.strip()!r} (need 3 terms)")
            return 2
        patterns.append((term(toks[0]), pred(toks[1]), term(toks[2])))
    select = ([v if v.startswith("?") else "?" + v
               for v in args.select.split(",")] if args.select else None)
    binds = {}
    for b in args.binds or []:
        if "=" not in b:
            print(f"bad --bind {b!r} (need VAR=EXPR)")
            return 2
        var, expr = b.split("=", 1)
        binds[var.strip()] = expr
    out = bgp_query_optimized(graph, patterns, stats=stats, select=select,
                              distinct=args.distinct,
                              filters=args.filters, bind=binds or None)
    if args.explain:
        out.explain("formatted")
        return 0
    return _print_result(out, args)


def _print_result(out, args) -> int:
    """Shared query-result printer: table (default), SPARQL 1.1 Results
    JSON, or CSV to stdout — all bounded by --limit."""
    fmt = getattr(args, "format", "table")
    if fmt == "json":
        from .sparql import sparql_results_json

        print(sparql_results_json(out, limit=args.limit))
        return 0
    rows = out.limit(args.limit).collect()
    cols = out.columns
    if fmt == "csv":
        import csv
        import sys as _sys

        w = csv.writer(_sys.stdout)
        w.writerow(cols)
        for r in rows:
            w.writerow(["" if r[c] is None else r[c] for c in cols])
        return 0
    print("\t".join(cols))
    for r in rows:
        print("\t".join(str(r[c]) for c in cols))
    print(f"({len(rows)} row(s) shown, limit {args.limit})")
    return 0


def cmd_update(args) -> int:
    from pyspark.sql import functions as F

    from .plans.snapshot import (fingerprint, read_manifest, read_snapshot,
                                 write_snapshot)
    from .session import get_spark
    from .sparql import sparql_update

    spark = get_spark(app_name="kg-update", cores=args.cores)
    wd = args.workdir.rstrip("/") + "/graph"
    graph = read_snapshot(spark, wd)
    prev_fp = read_manifest(wd)["fingerprint"]

    spo = graph.select("s", "p", "o")
    new_spo = sparql_update(spo, args.request)
    # survivors keep their lineage metadata (two probe-side joins of the
    # graph, never a graph-sized build); inserted triples get synthesized
    # update provenance and the heuristic iri/literal object kind
    kept = graph.join(new_spo, ["s", "p", "o"], "left_semi")
    added = (new_spo.join(spo, ["s", "p", "o"], "left_anti")
             .withColumn("file", F.lit("update"))
             .withColumn("graph", F.lit("kg"))
             .withColumn("o_kind", F.when(F.col("o").rlike("^[a-z][a-z0-9+.-]*://"),
                                          "iri").otherwise("literal"))
             .withColumn("o_datatype", F.lit(None).cast("string"))
             .withColumn("pred", F.regexp_extract("p",
                                                  r"([A-Za-z0-9_]+)$", 1))
             .select(*graph.columns))
    updated = kept.unionByName(added)
    fp = fingerprint(prev_fp, "update", args.request)
    man = write_snapshot(updated, wd, fp, partition_by=["pred"],
                         count_by=["pred"], stats_cols=("p", "s", "o"))
    print(f"graph updated: {man['metrics']['rows']} rows, "
          f"snap {man['fingerprint']} (previous {prev_fp})")
    return 0


def main(argv=None) -> int:
    args = _build_parser().parse_args(argv)
    return {"convert": cmd_convert, "kg": cmd_kg,
            "validate": cmd_validate,
            "stream": cmd_stream,
            "query": cmd_query,
            "update": cmd_update}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
