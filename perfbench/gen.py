"""Seeded input generators: transcript tables and an OpenAPI spec corpus.

Every output is a pure function of its parameters and the seed, so the same
seed gives byte-identical files. The transcripts are generated on the JVM
side (``spark.range`` + ``xxhash64``), the specs in plain Python.
"""

from __future__ import annotations

import os
import pathlib
import random
import shutil

import yaml

# Words and separators that spell an entity: alias spellings of one entity
# differ only in the separator, so they normalize to the same string. The
# three words are the id's base-24 digits, so two entities of a pool of at
# most 24**3 differ in a whole word and stay far below the 0.9 Jaccard
# threshold. The zero-padded id that ends every spelling is ground truth.
WORDS = [
    "alpha", "bravo", "cedar", "delta", "ember", "falcon", "gamma", "harbor",
    "indigo", "juno", "kappa", "lumen", "mesa", "nimbus", "onyx", "pylon",
    "quartz", "raven", "sigma", "topaz", "umber", "vertex", "willow", "zephyr",
]
SEPARATORS = ["-", "_", "."]
MAX_POOL = 24 ** 3
PRONOUN_PHRASES = [" then restart it", " and check that one", " compare them",
                   " keep this one"]
ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "query_nrm", "fetch_alarms", "none"]
HOT_SHARE_PCT = 40      # mentions drawn from the Zipf-like head
PRONOUN_SHARE_PCT = 25  # turns that refer back with a pronoun


def entity_key(ent_id: int, sep: str = "-") -> str:
    """The generator's spelling of entity ``ent_id`` (driver-side twin of
    the JVM expression in :func:`transcripts_df`)."""
    n = len(WORDS)
    w1, w2, w3 = (WORDS[(ent_id // n ** k) % n] for k in range(3))
    return f"{w1}{sep}{w2}{sep}{w3}{sep}{ent_id:06d}"


def entity_id_of(key: str) -> int:
    """Ground truth: the numeric id that ends every alias spelling."""
    return int(key[-6:])


def transcripts_df(spark, n_convs: int, pool: int, seed: int,
                   partitions: int):
    """(conv_id, turn_idx, role, text, tool, ts) with 2-8 turns per
    conversation, 0-2 entity mentions per turn and pronoun turns.

    Mentions come ``HOT_SHARE_PCT`` % from a log-uniform (Zipf-like) draw
    over the pool, so a few entities are hot, and otherwise uniformly from
    the pool. Each mention spells its entity with one of three separators.
    ``partitions`` fixes the row layout, so a write of the frame gives one
    file per partition with the same bytes on every run."""
    import math

    from pyspark.sql import functions as F

    if not 0 < pool <= MAX_POOL:
        raise ValueError(f"entity pool must be in 1..{MAX_POOL}, got {pool}")

    from openapi_to_rdf_spark.sources.transcripts import CLASS_TOKENS

    def h(*cols):
        return F.xxhash64(*cols, F.lit(seed))

    conv = spark.range(0, n_convs, 1, partitions).select(
        F.format_string("c%09d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_n"),
        (F.pmod(h(F.col("id")), F.lit(7)) + 2).cast("int").alias("n_turns"))
    turns = conv.select(
        "conv_id", "conv_n",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"))

    def hs(salt):
        return h(F.col("conv_n"), F.col("turn_idx"), F.lit(salt))

    def pick(values, salt):
        return F.element_at(F.array(*[F.lit(v) for v in values]),
                            (F.pmod(hs(salt), F.lit(len(values))) + 1).cast("int"))

    words = F.array(*[F.lit(w) for w in WORDS])

    def mention(salt):
        u = F.pmod(hs(salt + "z"), F.lit(1 << 20)) / float(1 << 20)
        zipf = F.floor(F.exp(u * math.log(pool))) - 1
        uniform = F.pmod(hs(salt + "u"), F.lit(pool))
        ent = F.when(F.pmod(hs(salt + "h"), F.lit(100)) < HOT_SHARE_PCT,
                     zipf).otherwise(uniform).cast("int")
        sep = pick(SEPARATORS, salt + "s")
        n = len(WORDS)
        w1, w2, w3 = (F.element_at(words, (F.pmod(F.floor(ent / n ** k), F.lit(n))
                                           + 1).cast("int")) for k in range(3))
        key = F.concat(w1, sep, w2, sep, w3, sep, F.format_string("%06d", ent))
        return F.concat(pick(CLASS_TOKENS, salt + "c"), F.lit("#"), key)

    n_mentions = F.pmod(hs("n"), F.lit(3))
    pronoun = F.when(F.pmod(hs("p"), F.lit(100)) < PRONOUN_SHARE_PCT,
                     pick(PRONOUN_PHRASES, "pp")).otherwise(F.lit(""))
    text = F.concat(
        F.lit("turn "), F.col("turn_idx").cast("string"),
        F.lit(" of conversation "), F.col("conv_id"),
        F.when(n_mentions >= 1, F.concat(F.lit(" discussing "), mention("m1")))
        .otherwise(F.lit("")),
        F.when(n_mentions >= 2, F.concat(F.lit(" linked to "), mention("m2")))
        .otherwise(F.lit("")),
        pronoun,
        F.lit(" value="), F.pmod(hs("v"), F.lit(1000)).cast("string"))
    role = F.element_at(F.array(*[F.lit(r) for r in ROLES]),
                        (F.pmod(F.col("turn_idx"), F.lit(3)) + 1).cast("int"))
    tool = F.when(role == "tool", pick(TOOLS, "t")).otherwise(
        F.lit(None).cast("string"))
    ts = F.timestamp_seconds(F.lit(1767225600) + F.col("conv_n") * 60
                             + F.col("turn_idx") * 7)
    return turns.select("conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
                        role.alias("role"), text.alias("text"),
                        tool.alias("tool"), ts.alias("ts"))


def write_transcripts(spark, out: str | pathlib.Path, n_convs: int, pool: int,
                      seed: int, files: int) -> int:
    """Write the table as ``files`` parquet files ``t0000.parquet``, ... in
    conversation order (each file holds whole conversations) and return the
    number of turns. File mtimes follow the file order, so a streaming file
    source takes them in that order."""
    out = pathlib.Path(out)
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    df = transcripts_df(spark, n_convs, pool, seed, files)
    df.write.option("compression", "snappy").parquet(str(tmp))
    out.mkdir(parents=True)
    parts = sorted(tmp.glob("part-*.parquet"))
    if len(parts) != files:
        raise RuntimeError(f"expected {files} part files, got {len(parts)}")
    base = 1767225600
    for i, p in enumerate(parts):
        dst = out / f"t{i:04d}.parquet"
        shutil.move(str(p), dst)
        os.utime(dst, (base + i, base + i))
    shutil.rmtree(tmp)
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in sorted(out.glob("*.parquet")))


# -- OpenAPI spec corpus ------------------------------------------------------

# Construct classes of FIXTURES.md section 4, one generator each.
KINDS = ["enum", "string_fmt", "string_pattern", "number", "integer",
         "boolean", "object", "allof", "anyof_mixed", "anyof_refs", "oneof",
         "ref_alias", "typeless", "ignored", "array"]
FORMATS = ["date-time", "full-time", "date-month", "date-mday", "uuid",
           "date", "int32"]
COMMON_FILE = "TS90000_CommonDefs.yaml"
MAX_SCHEMAS = 324

# Hostile files and whether the converter accepts them (True = ✓).
HOSTILE = {
    "TS99990_InvalidYaml.yaml": ("openapi: 3.0.1\ncomponents: [unclosed\n"
                                 "  schemas: {a: b\n", False),
    "TS99991_Empty.yaml": ("", False),
    "TS99992_NoComponents.yaml": ("openapi: 3.0.1\ninfo:\n  title: none\n"
                                  "  version: '1'\npaths: {}\n", True),
    "TS99993_BadRef.yaml": ("openapi: 3.0.1\ninfo:\n  title: badref\n"
                            "  version: '1'\npaths: {}\ncomponents:\n"
                            "  schemas:\n    Dangling:\n      type: object\n"
                            "      properties:\n        target:\n"
                            "          $ref: '#/components/schemas/Missing'\n",
                            True),
}


def _schema(kind: str, names: list[str], rng: random.Random) -> dict:
    """One schema of construct class ``kind``; ``names`` are the schemas
    already defined in the same file (internal ``$ref`` targets). The seed
    picks reference targets, formats and bounds, never how many triples a
    schema converts to, so every seed gives the same amount of work."""
    def ref():
        return {"$ref": f"#/components/schemas/{rng.choice(names)}"}

    ext = {"$ref": f"{COMMON_FILE}#/components/schemas/Common{rng.randrange(4)}"}
    if kind == "enum":
        return {"type": "string", "enum": [f"V{rng.randrange(100)}x{j}" for j in range(4)]
                + [None]}
    if kind == "string_fmt":
        return {"type": "string", "format": rng.choice(FORMATS)}
    if kind == "string_pattern":
        return {"type": "string", "pattern": "^[A-Z]{2}[0-9]{1,6}$",
                "minLength": 3, "maxLength": rng.randint(8, 64)}
    if kind == "number":
        return {"type": "number", "format": rng.choice(["float", "double"]),
                "minimum": 0, "maximum": rng.randint(10, 1000)}
    if kind == "integer":
        return {"type": "integer", "format": "int32", "minimum": 0,
                "maximum": rng.randint(10, 65535)}
    if kind == "boolean":
        return {"type": "boolean"}
    if kind == "array":
        return {"type": "array", "items": ref(), "minItems": 1,
                "maxItems": rng.randint(2, 16)}
    if kind == "object":
        props = {
            "label": {"type": "string", "maxLength": 64},
            "link": ref(),
            "enabled": {"type": "boolean"},
            "members": {"type": "array", "items": ref(), "minItems": 1},
            "tags": {"type": "array", "items": {"type": "string", "maxLength": 16}},
            "nested": {"type": "object", "properties": {
                "depth": {"type": "integer", "minimum": 0},
                "inner": {"type": "object", "properties": {"leaf": ref()}}}},
            "external": dict(ext),
            "note": {"type": "string", "nullable": True},
        }
        return {"type": "object", "required": ["label", "link"], "properties": props}
    if kind == "allof":
        return {"allOf": [dict(ext), {"type": "object", "properties": {
            "extra": {"type": "string"}, "parent": ref()}}]}
    if kind == "anyof_mixed":
        return {"anyOf": [{"type": "string"}, {"type": "integer"},
                          {"type": "string", "enum": ["AUTO", "MANUAL", None]}]}
    if kind == "anyof_refs":
        return {"anyOf": [ref(), ref()], "nullable": True}
    if kind == "oneof":
        return {"oneOf": [ref(), {"type": "object", "properties": {
            "kind": {"type": "string"}}}],
            "discriminator": {"propertyName": "kind"}}
    if kind == "ref_alias":
        return ref()
    if kind == "typeless":
        return {"description": "free-form value"}
    if kind == "ignored":
        return {"type": "object", "additionalProperties": False,
                "minProperties": 1, "not": {"required": ["forbidden"]},
                "properties": {"mode": {"type": "string", "default": "on"}}}
    raise ValueError(kind)


def spec_text(title: str, n_schemas: int, rng: random.Random,
              stem: str) -> str:
    """YAML text of one spec with ``n_schemas`` schemas cycling through
    every construct class (the first ones are primitives, so every
    ``$ref`` has an earlier target)."""
    schemas: dict[str, dict] = {}
    for i in range(n_schemas):
        kind = ("string_fmt", "integer")[i] if i < 2 else KINDS[i % len(KINDS)]
        schemas[f"{stem}{kind.title().replace('_', '')}{i}"] = _schema(
            kind, list(schemas), rng)
    doc = {"openapi": "3.0.1", "info": {"title": title, "version": "1.0.0"},
           "paths": {}, "components": {"schemas": schemas}}
    return yaml.safe_dump(doc, sort_keys=False, width=100)


def common_text() -> str:
    schemas = {f"Common{i}": {"type": "object", "properties": {
        "id": {"type": "string"}, "value": {"type": "integer"}}}
        for i in range(4)}
    return yaml.safe_dump({"openapi": "3.0.1",
                           "info": {"title": "common", "version": "1.0.0"},
                           "paths": {}, "components": {"schemas": schemas}},
                          sort_keys=False)


def write_specs(out: str | pathlib.Path, n_files: int, seed: int) -> dict[str, bool]:
    """Write a spec corpus and return {file name: expected ✓}.

    Schemas per file are log-spaced over [2, MAX_SCHEMAS] (the reference
    corpus spans 2-324) and dealt to the files in a seeded order, so every
    seed gives the same size mix; file 1 always has ``MAX_SCHEMAS``, so one
    large file can set the stage time. The hostile files follow."""
    out = pathlib.Path(out)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    rng = random.Random(seed)
    steps = max(n_files - 2, 1)
    sizes = [round(2 * (MAX_SCHEMAS / 2) ** (k / steps)) for k in range(n_files - 1)]
    sizes = [sizes.pop()] + rng.sample(sizes, len(sizes))
    expected = {COMMON_FILE: True}
    (out / COMMON_FILE).write_text(common_text(), encoding="utf-8")
    for i, n in enumerate(sizes, start=1):
        name = f"TS9{i:04d}_Gen{i}Nrm.yaml"
        (out / name).write_text(spec_text(name, n, rng, f"G{i}"), encoding="utf-8")
        expected[name] = True
    for name, (text, ok) in HOSTILE.items():
        (out / name).write_text(text, encoding="utf-8")
        expected[name] = ok
    return expected
