"""The benchmark's one command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

``--workload all`` runs every workload in turn, each in its own process.
Run from the root of a checkout of the repository. It generates the inputs
from the seed under ``.perfbench/`` in the checkout, runs the workload,
checks its outputs, and prints the metrics; the last stdout line is one JSON
object. Exit code 0 when every check passed, 1 when a check failed, 2 when
the checkout holds no ``openapi_to_rdf_spark`` package or pyspark is absent.

End-to-end metrics, reported by every workload:

- ``setup_s``: median of the set-ups in the run (input generation).
- ``work_per_s``: kg_build, input turns over the wall of the cold ``cli kg``
  process; kg_stream, turns over the drain plus compaction wall;
  spec_convert, triples written over the wall of a cold ``cli convert``
  process (median over the processes).
- ``op_p50_ms`` / ``op_tail_ms``: latency of one operation: kg_build, a cold
  ``cli query`` process (a point lookup; the no-op resume's wall is the
  per-layer ``pipeline.resume_s``);
  kg_stream, a canonicalization micro-batch (``triggerExecution``);
  spec_convert, a cold ``cli convert`` process. The tail is the highest
  percentile with ten samples beyond it, or the maximum when no percentile
  from the median up has (the percentile used is printed). No workload
  has enough operations in a run for a percentile (kg_build 2 queries,
  kg_stream 16 batches, spec_convert 2-3 processes), so the tail is the
  maximum: the slower cold query, the cold first micro-batch, the slowest
  convert process.

``trace.overhead_s`` (per-layer) is the traced main operation's wall minus
the same operation's wall untraced, both from the same invocation and seed.

Failures are the JSON's ``attempted`` / ``failed`` counts (an operation is a
process, a micro-batch or a spec file); expected failures, such as a
hostile spec file that must be rejected, do not count.
"""

from __future__ import annotations

import argparse
import json
import math
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent

# name -> unit. Every workload reports every metric: the end-to-end ones
# on untraced runs, the per-layer ones on traced runs (0 where the workload
# does not exercise the layer).
END_TO_END = {"setup_s": "s", "work_per_s": "1/s", "op_p50_ms": "ms",
              "op_tail_ms": "ms"}
STAGE_FIELDS = {"span_s": "s", "run_s": "s", "cpu_s": "s", "gc_s": "s",
                "shuffle_mb": "MB", "spill_mb": "MB", "py_s": "s"}
PER_LAYER = {
    **{f"{stage}.{f}": unit
       for stage in ("transcripts", "extract", "entities", "canonical_map",
                     "graph", "violations", "entailed", "consistency", "coref")
       for f, unit in STAGE_FIELDS.items()},
    "canonicalize.py_mb": "MB", "canonicalize.candidates": "count",
    "canonicalize.verify_yield": "ratio", "canonicalize.lsh_s": "s",
    "canonicalize.verify_s": "s",
    "session.start_s": "s", "session.stop_s": "s",
    "pipeline.unattributed_s": "s",
    "pipeline.attributed_share": "ratio", "pipeline.resume_s": "s",
    "snapshot.write_s": "s", "snapshot.readback_s": "s",
    "snapshot.stats_s": "s", "snapshot.bytes_per_row": "B",
    "sparql.parse_ms": "ms", "sparql.plan_ms": "ms", "sparql.exec_ms": "ms",
    "bgp.smj_per_query": "count", "bgp.bhj_per_query": "count",
    "snapshot.files_read_per_query": "count",
    "sparql.rows_scanned_per_row": "ratio",
    "ingest.add_batch_ms": "ms", "ingest.wal_ms": "ms",
    "incremental.state_mb": "MB", "incremental.new_entities_per_batch": "count",
    "incremental.batch_growth": "ratio", "incremental.compact_s": "s",
    "incremental.py_s": "s",
    "convert.py_s": "s", "convert.py_out_mb": "MB", "convert.task_skew": "ratio",
    "sinks.py_s": "s", "sinks.shuffle_mb": "MB",
    "peak_rss_mb": "MB", "trace.overhead_s": "s", "host.steal_frac": "ratio",
}
WORKLOADS = ("kg_build", "kg_stream", "spec_convert")


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest whole percentile with at least ten
    samples above it, by nearest rank; the maximum when the sample is too
    small for any percentile from the median up to leave ten beyond it."""
    xs = sorted(values)
    n = len(xs)
    pct = math.floor(100 * (1 - 10 / n)) if n else 100
    if pct < 50:
        return xs[-1], 100
    return xs[max(math.ceil(pct / 100 * n) - 1, 0)], pct


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":  # each workload in its own process, in turn
        import subprocess

        rcs = [subprocess.run([sys.executable, __file__, "--workload", w,
                               "--seed", str(args.seed), "--seconds", str(args.seconds),
                               "--trace", str(args.trace)]).returncode
               for w in WORKLOADS]
        return max(rcs)

    if not (ROOT / "openapi_to_rdf_spark" / "__init__.py").is_file():
        print(f"perfbench: no openapi_to_rdf_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    try:
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    from perfbench import host, workloads

    state = ROOT / ".perfbench"
    work = state / "work" / args.workload
    host.clean_dir(work)
    host.clean_dir(state / "spark-local")
    watch = host.HostWatch()
    ctx = workloads.Ctx(ROOT, work, args.seed, args.seconds, bool(args.trace))
    t0 = time.perf_counter()
    with host.RssSampler() as rss:
        res = getattr(workloads, args.workload)(ctx)
    elapsed = time.perf_counter() - t0
    info = watch.finish()

    p50 = workloads.median(res.ops_ms)
    tail_ms, tail_pct = tail(res.ops_ms) if res.ops_ms else (0.0, 100)
    if ctx.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update(res.layers)
        layers["peak_rss_mb"] = rss.peak / 1e6
        layers["host.steal_frac"] = info["steal_frac"]
        layers["trace.overhead_s"] = res.main_wall - res.untraced_wall
        values, units = layers, PER_LAYER
    else:
        values = {"setup_s": workloads.median(res.setup_s),
                  "work_per_s": res.work_per_s, "op_p50_ms": p50,
                  "op_tail_ms": tail_ms}
        units = END_TO_END

    for line in res.table:
        print(line)
    print(f"host: {json.dumps(info)}")
    print(f"{args.workload}: setup {[round(s, 3) for s in res.setup_s]} s, "
          f"{len(res.ops_ms)} ops, p50 {p50:.1f} ms, p{tail_pct} {tail_ms:.1f} ms, "
          f"work {res.work_per_s:.2f}/s, peak rss {rss.peak / 1e6:.0f} MB, "
          f"run {elapsed:.1f} s")
    for f in res.failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    (state / f"report-{args.workload}-{'trace' if ctx.trace else 'e2e'}.json").write_text(
        json.dumps({"args": vars(args), "host": info, "setup_s": res.setup_s,
                    "ops_ms": res.ops_ms, "tail_pct": tail_pct,
                    "failures": res.failures, "metrics": values,
                    "table": res.table}, indent=1))
    print(json.dumps({
        "correct": not res.failures,
        "attempted": max(res.attempted, 1),
        "failed": res.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if not res.failures else 1


if __name__ == "__main__":
    sys.exit(main())
