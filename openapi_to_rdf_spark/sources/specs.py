"""Spec-file source: YAML paths -> DataFrame[path, content].

Mirrors the reference CLI's input handling (main.py:19-47): file-or-recursive-
directory expansion, *.yaml filter, order-preserving dedup — expressed as a
driver-side listing. ``spec_paths_df`` feeds it to ``spark.createDataFrame``
so the path table partitions across executors; ``pack_by_size`` instead
balances it onto a fixed task count for ``cli convert``. File CONTENT is read
executor-side either way, keeping the driver out of the data path.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

PATHS_SCHEMA = StructType([StructField("path", StringType(), False)])


def expand_yaml_paths(inputs: list[str]) -> list[str]:
    """File-or-dir expansion with order-preserving dedup (main.py:19-47)."""
    out: list[str] = []
    for item in inputs:
        p = pathlib.Path(item)
        if not p.exists():
            raise FileNotFoundError(f"Input path does not exist: {item}")
        if p.is_dir():
            out.extend(str(f) for f in sorted(p.rglob("*.yaml")))
        elif p.is_file() and item.endswith(".yaml"):
            out.append(item)
        else:
            raise ValueError(f"Invalid input: {item} must be a YAML file or directory")
    return list(dict.fromkeys(out))


def pack_by_size(paths: list[str], n: int, key=None) -> list[list[str]]:
    """Spread files over at most ``n`` groups by size, largest first, each
    onto the currently lightest group (ties: fewer files, then lower index).
    Paths with equal ``key(path)`` form one unit that stays in one group, in
    input order. Returns ``min(n, #units)`` groups, none empty; the heaviest
    carries at most ``total / n`` plus the largest unit. An unstattable file
    counts as empty; its read error surfaces where it is converted."""
    import heapq
    import os

    def size(p: str) -> int:
        try:
            return os.path.getsize(p)
        except OSError:
            return 0

    units: dict[str, list[str]] = {}
    for p in paths:
        units.setdefault(key(p) if key else p, []).append(p)
    n = min(n, len(units))
    groups: list[list[str]] = [[] for _ in range(n)]
    heap = [(0, 0, i) for i in range(n)]
    for sz, unit in sorted(((sum(map(size, u)), u) for u in units.values()),
                           key=lambda t: -t[0]):
        load, count, i = heapq.heappop(heap)
        groups[i].extend(unit)
        heapq.heappush(heap, (load + sz, count + len(unit), i))
    return groups


def spec_paths_df(spark: SparkSession, inputs: list[str]) -> DataFrame:
    paths = expand_yaml_paths(inputs)
    if not paths:
        raise ValueError("No YAML files found to process.")
    num = min(len(paths), spark.sparkContext.defaultParallelism)
    return spark.createDataFrame([(p,) for p in paths], PATHS_SCHEMA).repartition(num)


def with_content(df: DataFrame) -> DataFrame:
    """Attach file content executor-side (Arrow-batched, no per-row Python UDF
    in the Spark sense — one pandas call per batch)."""
    from pyspark.sql.types import StructType, StructField, StringType

    schema = StructType([
        StructField("path", StringType(), False),
        StructField("content", StringType(), True),
        StructField("read_error", StringType(), True),
    ])

    def read_batches(iterator):
        import pandas as pd

        for pdf in iterator:
            contents, errors = [], []
            for p in pdf["path"]:
                try:
                    contents.append(pathlib.Path(p).read_text(encoding="utf-8"))
                    errors.append(None)
                except Exception as e:  # per-file isolation (main.py:56-77)
                    contents.append(None)
                    errors.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame({"path": pdf["path"], "content": contents,
                                "read_error": errors})

    return df.mapInPandas(read_batches, schema)
