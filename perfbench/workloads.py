"""The workloads. Each returns a :class:`Result`; checks that fail are
collected in ``Result.failures`` and make the run incorrect.

Subprocess workloads (``kg_build``, ``spec_convert``) run the CLI as a user
would, one cold process at a time, and start no Spark session of their own
while a child runs. The in-process workload (``kg_stream``) holds one
session for the whole run.
"""

from __future__ import annotations

import json
import os
import pathlib
import random
import statistics
import sys
import time
from dataclasses import dataclass, field, replace

from . import eventlog, gen
from .host import clean_dir, nproc, run_group, stop_spark

KG = "http://ericsson.com/models/3gpp/kg#"
TURN = "http://ericsson.com/models/3gpp/turn#"
PIPELINE_STAGES = ["transcripts", "extract", "entities", "canonical_map",
                   "graph", "violations", "entailed", "consistency", "coref"]
SETUP_REPS = 5
CLI_TIMEOUT = 150

# Input sizes: a run of any workload takes under a minute on a 4-core host.
KG_BUILD = {"n_convs": 2000, "pool": 8000, "files": 8}
KG_STREAM = {"convs_per_file": 75, "files": 16, "pool": 1500}
SPEC_CONVERT = {"files": 40, "min_procs": 2}


@dataclass
class Result:
    setup_s: list
    work_per_s: float
    ops_ms: list
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    # wall of the workload's main operation; on a traced run, the traced
    # operation and the same operation run untraced in the same invocation
    main_wall: float = 0.0
    untraced_wall: float = 0.0
    table: list = field(default_factory=list)

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self.failures.append(message)


@dataclass
class Ctx:
    root: pathlib.Path      # checkout root
    work: pathlib.Path      # this run's work dir (cleaned per run)
    seed: int
    seconds: float
    trace: bool

    @property
    def cores(self) -> int:
        return nproc()

    def env(self, log_dir: pathlib.Path | None = None) -> dict:
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            [str(self.root)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
        env["SPARK_LOCAL_DIRS"] = str(self.root / ".perfbench" / "spark-local")
        env.pop("PYSPARK_SUBMIT_ARGS", None)
        if log_dir is not None:
            log_dir.mkdir(parents=True, exist_ok=True)
            env["PYSPARK_SUBMIT_ARGS"] = " ".join(
                f"--conf {k}={v}" for k, v in event_log_conf(log_dir).items()
            ) + " pyspark-shell"
        return env

    def cli(self, args: list, log: str | None = None):
        """One cold CLI process; returns (completed, wall s, spawn epoch)."""
        log_dir = self.work / "eventlog" / log if (self.trace and log) else None
        os.sync()
        return run_group([sys.executable, "-m", "openapi_to_rdf_spark.cli",
                          *map(str, args)], self.root, self.env(log_dir),
                         CLI_TIMEOUT)

    def spark(self, app: str, log: str | None = None):
        from openapi_to_rdf_spark.session import get_spark

        os.environ["SPARK_LOCAL_DIRS"] = self.env()["SPARK_LOCAL_DIRS"]
        conf = None
        if self.trace and log:
            d = self.work / "eventlog" / log
            d.mkdir(parents=True, exist_ok=True)
            conf = event_log_conf(d)
        return get_spark(app_name=app, cores=self.cores, extra_conf=conf)


def event_log_conf(log_dir: pathlib.Path) -> dict:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.resolve().as_uri(),
            "spark.eventLog.compress": "false"}


def _latest(table: pathlib.Path) -> pathlib.Path:
    return table / (table / "LATEST").read_text().strip()


def _manifest(table: pathlib.Path) -> dict:
    return json.loads((_latest(table) / "manifest.json").read_text())


def _read_parquet(path: pathlib.Path) -> dict:
    """A parquet directory as columns, read without Spark."""
    import pyarrow.parquet as pq

    return pq.read_table(path, partitioning=None).to_pydict()


def check_alias_groups(res: Result, pairs, what: str) -> None:
    """The map must merge exactly the generator's alias groups: every
    canonical class holds one numeric id, and every id one canonical."""
    ids_of, canon_of = {}, {}
    n = 0
    for ent, canon in pairs:
        n += 1
        i = gen.entity_id_of(ent.rsplit("#", 1)[-1])
        ids_of.setdefault(canon, set()).add(i)
        canon_of.setdefault(i, set()).add(canon)
    over = sum(1 for v in ids_of.values() if len(v) > 1)
    under = sum(1 for v in canon_of.values() if len(v) > 1)
    res.check(n > 0 and over == 0 and under == 0,
              f"{what}: {over} canonical classes merge distinct ids, "
              f"{under} ids split over several canonicals ({n} entities)")


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- kg_build -----------------------------------------------------------------

def kg_build(ctx: Ctx) -> Result:
    p = KG_BUILD
    inp, wd = ctx.work / "transcripts", ctx.work / "kg"
    # the generator's JVM has exited before the first CLI process starts
    spark = ctx.spark("perfbench-gen")
    try:
        setup = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            turns = gen.write_transcripts(spark, inp, p["n_convs"], p["pool"],
                                          ctx.seed, p["files"])
            setup.append(time.perf_counter() - t0)
    finally:
        stop_spark(spark)

    def kg_args(workdir):
        return ["kg", "--workdir", workdir, "--input-table", inp,
                "--coref", "--entail", "--consistency", "--cores", ctx.cores]

    procs = []
    if ctx.trace:  # the same cold build untraced, for trace.overhead_s
        base, t_base, _ = ctx.cli(kg_args(ctx.work / "kg-untraced"))
        procs.append(("cli kg untraced", base))
    build, t_build, spawn = ctx.cli(kg_args(wd), log="build")
    resume, t_resume, _ = ctx.cli(kg_args(wd), log="resume")
    procs += [("cli kg", build), ("cli kg resume", resume)]
    res = Result(setup_s=setup, work_per_s=turns / t_build, ops_ms=[],
                 attempted=len(procs), main_wall=t_build,
                 untraced_wall=t_base if ctx.trace else 0.0)
    for name, r in procs:
        if r.returncode != 0:
            res.failed += 1
            res.check(False, f"{name} exited {r.returncode}: {r.stderr[-2000:]}")
    if build.returncode != 0:
        return res

    # the two hottest entities (ids 0 and 1, the head of the Zipf-like
    # draw), spelled as the committed canonical map spells them
    cmap = _read_parquet(_latest(wd / "canonical_map") / "data")
    canon = dict(zip(cmap["ent"], cmap["canonical"]))
    mentions = _read_parquet(_latest(wd / "graph") / "data" / "pred=mentions")
    for ent_id in range(COLD_QUERIES):
        hot = next(c for e, c in canon.items() if gen.entity_id_of(e) == ent_id)
        q, t_query, _ = ctx.cli(["query", "--workdir", wd, sparql_text("point", hot, ""),
                                 "--format", "json", "--limit", "100000",
                                 "--cores", ctx.cores], log=f"query{ent_id}")
        res.ops_ms.append(t_query * 1000)
        res.attempted += 1
        if q.returncode != 0:
            res.failed += 1
            res.check(False, f"cli query exited {q.returncode}: {q.stderr[-2000:]}")
            continue
        got = _rows(q.stdout, "point")
        want = sorted((s,) for s, o in zip(mentions["s"], mentions["o"]) if o == hot)
        res.check(got == want and len(want) > 0,
                  f"cli query over {hot} returned {len(got)} turns, graph has {len(want)}")

    # output checks
    counts = _manifest(wd / "graph")["metrics"]["counts"]
    for pred in ("atTime", "hasTurn", "role"):
        res.check(counts.get(pred) == turns,
                  f"graph {pred} count {counts.get(pred)} != {turns} turns")
    for stage in ("violations", "consistency"):
        rows = _manifest(wd / stage)["metrics"]["rows"]
        res.check(rows == 0, f"{stage} has {rows} rows, expected 0")
    res.check(_manifest(wd / "coref")["metrics"]["rows"] > 0,
              "coref recovered no references")
    check_alias_groups(res, canon.items(), "kg_build canonical map")
    res.check(resume.stdout == build.stdout,
              "no-op resume reported other snapshots than the build")

    if ctx.trace:
        res.layers["pipeline.resume_s"] = t_resume
        res.layers.update(build_layers(ctx, wd, t_build, spawn, res))
        res.layers.update(probes(ctx, wd, res))
    return res


def build_layers(ctx: Ctx, wd: pathlib.Path, wall: float, spawn: float,
                 res: Result) -> dict:
    """Stage x layer table of the cold build from its event log."""
    log = eventlog.load(ctx.work / "eventlog" / "build")
    commits = [(s, (_latest(wd / s) / "manifest.json").stat().st_mtime)
               for s in PIPELINE_STAGES if (wd / s / "LATEST").exists()]
    stages, after = eventlog.attribute(log, commits)
    out: dict = {}
    res.table.append(f"{'stage':14s} {'span_s':>7s} {'run_s':>7s} {'cpu_s':>7s} "
                     f"{'gc_s':>6s} {'shuf_mb':>8s} {'spill_mb':>8s} {'py_s':>6s} "
                     f"{'units':>5s}")
    write_s = readback_s = stats_s = 0.0
    for s in stages:
        row = {"span_s": s.span_s, "run_s": s.total("run_s"), "cpu_s": s.total("cpu_s"),
               "gc_s": s.total("gc_s"),
               "shuffle_mb": s.total("shuffle_bytes") / 1e6,
               "spill_mb": s.total("spill_bytes") / 1e6,
               "py_s": s.total("py_s")}
        out.update({f"{s.name}.{k}": v for k, v in row.items()})
        res.table.append(f"{s.name:14s} {row['span_s']:7.2f} {row['run_s']:7.2f} "
                         f"{row['cpu_s']:7.2f} "
                         f"{row['gc_s']:6.2f} {row['shuffle_mb']:8.2f} "
                         f"{row['spill_mb']:8.2f} {row['py_s']:6.2f} {len(s.units):5d}")
        for u in s.units:
            dur = u.end - u.start
            if u.is_write:
                write_s += dur
            elif f"/{s.name}/snap-" in u.plan:
                if s.name == "graph" and ("Expand" in u.plan or "count(distinct" in u.plan):
                    stats_s += dur
                else:
                    readback_s += dur
    canon = next((s for s in stages if s.name == "canonical_map"), None)
    if canon:
        out["canonicalize.py_mb"] = canon.total("py_bytes") / 1e6
    # session start: spawn to ApplicationStart; session stop:
    # ApplicationEnd to process exit (JVM and interpreter teardown)
    session_start = log.app_start - spawn
    session_stop = spawn + wall - log.app_end if log.app_end else 0.0
    spans = commits[-1][1] - log.app_start if commits else 0.0
    out["session.start_s"] = session_start
    out["session.stop_s"] = session_stop
    out["pipeline.unattributed_s"] = wall - spans - session_start - session_stop
    out["pipeline.attributed_share"] = (spans + session_start + session_stop) / wall
    out["snapshot.write_s"] = write_s
    out["snapshot.readback_s"] = readback_s
    out["snapshot.stats_s"] = stats_s
    rows = nbytes = 0
    for s in PIPELINE_STAGES:
        if (wd / s / "LATEST").exists():
            snap = _latest(wd / s)
            rows += _manifest(wd / s)["metrics"]["rows"]
            nbytes += sum(f.stat().st_size for f in (snap / "data").rglob("*.parquet"))
    out["snapshot.bytes_per_row"] = nbytes / rows if rows else 0.0
    res.table.append(f"session.start_s {session_start:.2f}  stage spans {spans:.2f}  "
                     f"session.stop_s {session_stop:.2f}  unattributed "
                     f"{out['pipeline.unattributed_s']:.2f} ({len(after)} units "
                     f"after the last commit)  process wall {wall:.2f}  "
                     f"attributed {out['pipeline.attributed_share']:.1%}")
    return out


# -- probes of the traced kg_build run ----------------------------------------

PREFIX = f"PREFIX kg: <{KG}> "
QUERY_CLASSES = ["point", "star", "path2", "topk", "proppath",
                 "optional_filter", "ask"]
PROBE_PASSES = 3
# cold ``cli query`` processes per kg_build run, each a point lookup of one
# of the hottest entities: alike operations, so their median is steady
COLD_QUERIES = 2


def sparql_text(cls: str, ent: str, conv: str) -> str:
    first = f"{TURN}{conv.rsplit('#', 1)[-1]}/0"
    return PREFIX + {
        "point": f"SELECT ?t WHERE {{ ?t kg:mentions <{ent}> }}",
        "star": (f"SELECT ?t ?r ?ts WHERE {{ ?t kg:mentions <{ent}> . "
                 f"?t kg:role ?r . ?t kg:atTime ?ts }}"),
        "path2": f"SELECT ?c ?t WHERE {{ ?c kg:hasTurn ?t . ?t kg:mentions <{ent}> }}",
        "topk": ("SELECT ?e (COUNT(?t) AS ?n) WHERE { ?t kg:mentions ?e } "
                 "GROUP BY ?e ORDER BY DESC(?n) ?e LIMIT 10"),
        "proppath": f"SELECT DISTINCT ?c WHERE {{ ?c kg:hasTurn/kg:mentions <{ent}> }}",
        "optional_filter": (f"SELECT ?t ?e WHERE {{ <{conv}> kg:hasTurn ?t . "
                            f"OPTIONAL {{ ?t kg:mentions ?e }} FILTER(?t != <{first}>) }}"),
        "ask": f"ASK {{ ?t kg:mentions <{ent}> . ?t kg:role \"assistant\" }}",
    }[cls]


def sql_answer(g, cls: str, ent: str, conv: str):
    """The same question as an independent DataFrame formulation over the
    graph snapshot's (s, p, o) columns: sorted rows, ordered rows for
    ``topk``, a bool for ``ask``."""
    from pyspark.sql import functions as F

    def pred(name, s, o):
        return g.filter(F.col("p") == KG + name).select(F.col("s").alias(s),
                                                         F.col("o").alias(o))
    men = pred("mentions", "t", "e")
    hit = men.filter(F.col("e") == ent)
    if cls == "ask":
        return (hit.join(pred("role", "t", "r").filter(F.col("r") == "assistant"), "t")
                .limit(1).count() > 0)
    if cls == "point":
        df = hit.select("t")
    elif cls == "star":
        df = (hit.join(pred("role", "t", "r"), "t")
              .join(pred("atTime", "t", "ts"), "t").select("t", "r", "ts"))
    elif cls == "path2":
        df = pred("hasTurn", "c", "t").join(hit, "t").select("c", "t")
    elif cls == "proppath":
        df = pred("hasTurn", "c", "t").join(hit, "t").select("c").distinct()
    elif cls == "optional_filter":
        first = f"{TURN}{conv.rsplit('#', 1)[-1]}/0"
        df = (pred("hasTurn", "c", "t").filter(F.col("c") == conv)
              .join(men, "t", "left").filter(F.col("t") != first).select("t", "e"))
    else:  # topk
        top = (men.groupBy("e").agg(F.count("*").alias("n"))
               .orderBy(F.desc("n"), "e").limit(10).collect())
        return [(r.e, str(r.n)) for r in top]
    return sorted(tuple(r) for r in df.collect())


def _rows(result_json: str, cls: str):
    doc = json.loads(result_json)
    if "boolean" in doc:
        return doc["boolean"]
    cols = doc["head"]["vars"]
    rows = [tuple(b.get(c, {}).get("value") for c in cols)
            for b in doc["results"]["bindings"]]
    return rows if cls == "topk" else sorted(rows, key=repr)


def probes(ctx: Ctx, wd: pathlib.Path, res: Result) -> dict:
    """Timed calls into public functions over the committed snapshots, in
    one warm session with its own event log:

    - canonicalize: ``lsh_candidate_pairs`` + ``verify_pairs`` over the
      entities snapshot, with the banding ``canonical_entity_map`` uses at
      threshold 0.9;
    - sparql: every query class over a hot and a cold entity, checked once
      against an independent Spark SQL formulation, then timed
      ``PROBE_PASSES`` times split into ``parse_query``, ``sparql_query``
      and ``sparql_results_json``."""
    from pyspark.sql import functions as F

    from openapi_to_rdf_spark.operators.bgp import stats_from_manifest
    from openapi_to_rdf_spark.operators.canonicalize import (
        lsh_candidate_pairs, nonempty_normalized, verify_pairs,
    )
    from openapi_to_rdf_spark.plans.snapshot import read_snapshot
    from openapi_to_rdf_spark.sparql import (
        parse_query, sparql_query, sparql_results_json,
    )

    spark = ctx.spark("perfbench-probes", log="probe")
    out: dict = {}
    try:
        ents = nonempty_normalized(read_snapshot(spark, wd / "entities"),
                                   "surface").cache()
        ents.count()
        t0 = time.perf_counter()
        pairs = lsh_candidate_pairs(ents, "ent", "surface", k=32, bands=4,
                                    shingle=3).cache()
        n_pairs = pairs.count()
        t1 = time.perf_counter()
        n_edges = verify_pairs(pairs, ents, "ent", "surface",
                               threshold=0.9, shingle=3).count()
        t2 = time.perf_counter()
        out.update({"canonicalize.candidates": float(n_pairs),
                    "canonicalize.verify_yield": n_edges / n_pairs if n_pairs else 0.0,
                    "canonicalize.lsh_s": t1 - t0, "canonicalize.verify_s": t2 - t1})

        graph = read_snapshot(spark, wd / "graph")
        stats = stats_from_manifest(_manifest(wd / "graph"))
        counts = (graph.filter(F.col("p") == KG + "mentions").groupBy("o")
                  .count().orderBy(F.desc("count"), "o").collect())
        rng = random.Random(ctx.seed)
        hot = counts[0].o
        cold = rng.choice(sorted(r.o for r in counts if r["count"] == 1))
        conv = rng.choice([r.s for r in graph.filter(F.col("p") == KG + "hasTurn")
                           .select("s").distinct().orderBy("s").limit(100).collect()])
        cases = [(cls, ent) for cls in QUERY_CLASSES for ent in (hot, cold)]
        for cls, ent in cases:
            got = _rows(sparql_results_json(sparql_query(graph, sparql_text(cls, ent, conv),
                                                         stats=stats), limit=None), cls)
            want = sql_answer(graph, cls, ent, conv)
            res.check(got == want, f"SPARQL {cls} over {ent}: {str(got)[:200]} "
                      f"!= Spark SQL {str(want)[:200]}")
        splits, windows, n_rows = [], [], 0
        for _ in range(PROBE_PASSES):
            for cls, ent in cases:
                text = sparql_text(cls, ent, conv)
                w0 = time.time()
                t0 = time.perf_counter()
                parse_query(text)
                t1 = time.perf_counter()
                df = sparql_query(graph, text, stats=stats)
                t2 = time.perf_counter()
                doc = json.loads(sparql_results_json(df, limit=None))
                t3 = time.perf_counter()
                windows.append((w0, time.time()))
                splits.append((t1 - t0, t2 - t1, t3 - t2))
                n_rows += 1 if "boolean" in doc else len(doc["results"]["bindings"])
    finally:
        stop_spark(spark)

    log = eventlog.load(ctx.work / "eventlog" / "probe")
    units = [u for u in log.units if any(a <= u.start <= b for a, b in windows)]
    n = len(splits)
    out.update({
        "sparql.parse_ms": median([s[0] for s in splits]) * 1000,
        "sparql.plan_ms": median([s[1] for s in splits]) * 1000,
        "sparql.exec_ms": median([s[2] for s in splits]) * 1000,
        "bgp.smj_per_query": sum(eventlog.count_nodes(u.final_plan, "SortMergeJoin")
                                 for u in units) / n,
        "bgp.bhj_per_query": sum(eventlog.count_nodes(u.final_plan, "BroadcastHashJoin")
                                 for u in units) / n,
        "snapshot.files_read_per_query": sum(u.metric("number of files read")
                                             for u in units) / n,
        "sparql.rows_scanned_per_row": sum(u.metric("number of output rows", ("Scan",))
                                           for u in units) / max(n_rows, 1),
    })
    res.table.append(f"sparql probe: {n} queries, {len(units)} SQL executions, "
                     f"{n_rows} result rows; canonicalize probe: {n_pairs} "
                     f"candidate pairs, {n_edges} verified")
    return out


# -- kg_stream ----------------------------------------------------------------

def kg_stream(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from openapi_to_rdf_spark.operators.canonicalize import canonical_entity_map
    from openapi_to_rdf_spark.operators.extract import extract_transcript_triples
    from openapi_to_rdf_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA, class_vocab_df,
    )
    from openapi_to_rdf_spark.streaming.incremental import (
        batch_entities, compact_graph, read_canonical_map,
        start_incremental_canonicalization,
    )
    from openapi_to_rdf_spark.streaming.ingest import (
        read_stream_triples, start_stream_pipeline,
    )

    # the same run untraced, in a session of its own, for trace.overhead_s
    base = (kg_stream(replace(ctx, trace=False, work=ctx.work / "untraced"))
            if ctx.trace else None)
    p = KG_STREAM
    inp, out = ctx.work / "incoming", ctx.work / "stream"
    canon_dir = out / "canonical_state"
    t0 = time.perf_counter()
    spark = ctx.spark("perfbench-kg-stream", log="session")
    session_start = time.perf_counter() - t0
    try:
        setup = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            turns = gen.write_transcripts(spark, inp, p["convs_per_file"] * p["files"],
                                          p["pool"], ctx.seed, p["files"])
            setup.append(time.perf_counter() - t0)
        vocab = class_vocab_df(spark)

        def source():
            return (spark.readStream.schema(TRANSCRIPT_SCHEMA)
                    .option("maxFilesPerTrigger", 1).parquet(str(inp)))

        os.sync()
        t0 = time.perf_counter()
        ingest = start_stream_pipeline(source(), str(out), vocab, trigger_once=True)
        canon = start_incremental_canonicalization(source(), str(canon_dir), vocab,
                                                   trigger_once=True)
        for q in (ingest, canon):
            q.awaitTermination(max(CLI_TIMEOUT - (time.perf_counter() - t0), 1))
        drain = time.perf_counter() - t0
        t1 = time.perf_counter()
        man = compact_graph(spark, str(out), str(canon_dir), str(ctx.work / "compacted"))
        compact = time.perf_counter() - t1

        res = Result(setup_s=setup, work_per_s=turns / (drain + compact), ops_ms=[],
                     main_wall=drain + compact,
                     untraced_wall=base.main_wall if base else 0.0,
                     failures=list(base.failures) if base else [])
        progress = {}
        for name, q in (("ingest", ingest), ("canonicalize", canon)):
            batches = [pr for pr in q.recentProgress if pr["numInputRows"] > 0]
            progress[name] = batches
            res.attempted += len(batches)
            if q.isActive or q.exception() is not None:
                res.failed += 1
                res.check(False, f"{name} query did not finish: {q.exception()}")
            res.check(len(batches) == p["files"],
                      f"{name} ran {len(batches)} batches for {p['files']} files")
        res.ops_ms = [float(pr["durationMs"]["triggerExecution"])
                      for pr in progress["canonicalize"]]

        # checks: incremental map == batch map; stream triples == batch
        # extraction; compacted graph has one atTime per turn
        full = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(str(inp))
        inc = {(r.ent, r.canonical) for r in read_canonical_map(spark, str(canon_dir)).collect()}
        batch = {(r.ent, r.canonical) for r in
                 canonical_entity_map(batch_entities(full, vocab), threshold=0.9).collect()}
        res.check(inc == batch and len(inc) > 0,
                  f"incremental map differs from canonical_entity_map on "
                  f"{len(inc ^ batch)} of {len(batch)} entities")
        check_alias_groups(res, inc, "kg_stream incremental map")
        streamed = read_stream_triples(spark, str(out)).select("s", "p", "o").distinct().cache()
        batch_tr = extract_transcript_triples(full, vocab).select("s", "p", "o").distinct().cache()
        diff = streamed.exceptAll(batch_tr).count() + batch_tr.exceptAll(streamed).count()
        res.check(diff == 0, f"streamed triples differ from batch extraction by {diff}")
        at = man["metrics"]["counts"].get("atTime")
        res.check(at == turns, f"compacted graph atTime {at} != {turns} turns")

        if ctx.trace:
            ing = progress["ingest"]
            walls = res.ops_ms
            quarter = max(len(walls) // 4, 1)
            ents = _read_parquet(canon_dir / "entities")
            state_bytes = sum(f.stat().st_size for sub in ("entities", "bands", "edges", "canonical")
                              for f in (canon_dir / sub).rglob("*") if f.is_file())
            res.layers.update({
                "session.start_s": session_start,
                "ingest.add_batch_ms": median([pr["durationMs"].get("addBatch", 0) for pr in ing]),
                "ingest.wal_ms": median([pr["durationMs"].get("walCommit", 0) for pr in ing]),
                "incremental.state_mb": state_bytes / 1e6,
                "incremental.new_entities_per_batch": len(ents.get("ent", [])) / max(len(walls), 1),
                "incremental.batch_growth": median(walls[-quarter:]) / median(walls[:quarter]),
                "incremental.compact_s": compact,
            })
            res.table.append(f"drain {drain:.2f}s compact {compact:.2f}s "
                             f"canon batches ms {[round(w) for w in walls]}")
    finally:
        stop_spark(spark)
    if ctx.trace:  # the event log is complete once the session has stopped
        log = eventlog.load(ctx.work / "eventlog" / "session")
        res.layers["incremental.py_s"] = (sum(u.py_s for u in log.units)
                                          / max(len(res.ops_ms), 1))
    return res


# -- spec_convert -------------------------------------------------------------

def spec_convert(ctx: Ctx) -> Result:
    from openapi_to_rdf_spark.convert.shacl import convert_shacl
    from openapi_to_rdf_spark.triplecore.canon import canonicalize_bnodes
    from openapi_to_rdf_spark.triplecore.turtle import parse_turtle

    specs, out = ctx.work / "specs", ctx.work / "out"
    setup = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        expected = gen.write_specs(specs, SPEC_CONVERT["files"], ctx.seed)
        setup.append(time.perf_counter() - t0)
    res = Result(setup_s=setup, work_per_s=0.0, ops_ms=[])
    rates, spawns, walls = [], [], []
    t_start = time.perf_counter()
    while (time.perf_counter() - t_start < ctx.seconds
           or len(walls) < SPEC_CONVERT["min_procs"]):
        clean_dir(out)
        r, wall, spawn = ctx.cli(["convert", specs, "--output-dir", out,
                                  "--cores", ctx.cores],
                                 log=None if walls else "convert")
        walls.append(wall)
        spawns.append(spawn)
        res.attempted += 1 + len(expected)
        status, triples = {}, 0
        for line in (r.stdout + r.stderr).splitlines():
            line = line.strip()
            if line[:2] in ("✓ ", "✗ "):
                name = line[2:].split(":", 1)[0]
                status[name] = line.startswith("✓")
                if status[name]:
                    bits = line.split(": ", 1)[1].split()
                    triples += int(bits[0]) + int(bits[3])
        if r.returncode not in (0, 1) or not status:
            res.failed += 1
            res.check(False, f"cli convert exited {r.returncode}: {r.stderr[-2000:]}")
            break
        wrong = sorted(n for n, ok in expected.items() if status.get(n) != ok)
        res.failed += sum(1 for n in wrong if expected[n])
        res.check(not wrong, f"unexpected convert status for {wrong}")
        rates.append(triples / wall)
    res.ops_ms = [w * 1000 for w in walls]
    res.work_per_s = median(rates)
    # on a traced run only the first process is traced
    res.main_wall = walls[0] if ctx.trace else median(walls)
    res.untraced_wall = median(walls[1:])

    # Turtle written by the last process parses back to what the converter
    # produces in-process: the largest spec, a mid-size one, a hostile one
    for name in ("TS90001_Gen1Nrm.yaml", "TS90002_Gen2Nrm.yaml", "TS99993_BadRef.yaml"):
        conv = convert_shacl(name, (specs / name).read_text(encoding="utf-8"))
        stem = name.rsplit(".", 1)[0].replace("-", "_")
        for sub, triples in (("rdf", conv.rdf), ("shacl", conv.sh)):
            path = out / sub / f"{stem}_{sub}.ttl"
            ok = path.exists() and (canonicalize_bnodes(parse_turtle(path.read_text(encoding="utf-8")))
                                    == canonicalize_bnodes(triples))
            res.check(ok, f"{path.name} does not round-trip to convert_shacl output")

    if ctx.trace:
        # the Turtle sink is the one FlatMapGroupsInPandas node; every
        # other Python node reads or converts specs
        log = eventlog.load(ctx.work / "eventlog" / "convert")
        sink = ("FlatMapGroupsInPandas",)
        py_s = sum(u.metric(eventlog.PY_TIME) for u in log.units) / 1000
        sink_py_s = sum(u.metric(eventlog.PY_TIME, sink) for u in log.units) / 1000
        res.layers.update({
            "session.start_s": log.app_start - spawns[0],
            "convert.py_s": py_s - sink_py_s,
            "convert.py_out_mb": sum(u.metric(eventlog.PY_RECV) - u.metric(eventlog.PY_RECV, sink)
                                     for u in log.units) / 1e6,
            "convert.task_skew": eventlog.task_skew(
                [u for u in log.units if "MapInPandas" in u.plan]),
            "sinks.py_s": sink_py_s,
            "sinks.shuffle_mb": sum(u.shuffle_bytes for u in log.units
                                    if "FlatMapGroupsInPandas" in u.plan) / 1e6,
        })
    return res
