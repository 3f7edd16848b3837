"""End-to-end benchmark of the KG factory, driven from outside the package.

One command runs one workload on inputs generated from a seed::

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads (see ``BENCHMARK.json`` for sizes and reasons):

- ``kg_build``: a cold ``cli kg`` process over a generated transcript table,
  then a cold no-op resume and two cold ``cli query`` processes.
- ``kg_stream``: a backlog of transcript files drained one file per trigger
  by the ingest and incremental-canonicalization queries, then compacted.
- ``spec_convert``: cold ``cli convert`` processes over a generated spec
  corpus with a few hostile files.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` repeats the
workload once with Spark's event log on and prints per-layer metrics read
from the event log (``perfbench.eventlog``) and from timers the benchmark
places around calls into public functions. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""
