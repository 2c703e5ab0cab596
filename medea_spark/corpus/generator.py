"""Deterministic synthetic repo-file corpus (FIXTURES.md §1).

Shape per ``BASELINE.json`` ``input_hint``: an Iceberg-style table
``(repo, path, commit, lang, content)`` whose ``content`` column
replays a Medea valid/invalid fixture corpus, plus ground-truth columns
(``expected_valid``, ``expected_constraint``, ``expected_sha``) for
verdict and sha256-invariant assertions.

Scale design: rows are *derived from the row index* by pure hashing
(no ``rand()``), generated distributively via ``spark.range(n) →
mapInPandas``.  The document pool is built once on the driver (a few
hundred docs) and shipped in the UDF closure; generation is therefore
shuffle-free, batch-size independent, and reproducible at any n_rows
— the properties the checkpoint/resume machinery relies on.

Built-in skew: one giant monorepo holds ``giant_share`` of all rows
(exercises salting); a known duplicate rate on (repo, path, commit)
exercises the uniqueness check; a known orphan-repo rate exercises the
referential-integrity check; ``drift=True`` shifts the lang histogram
for the chi-square drift check.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from medea_spark.compiler import compile_schema_text
from medea_spark.compiler.analyzer import SchemaGraph

# The corpus schema: exercises every validation-time operator class —
# closed/open objects, required/optional properties, string enums,
# list element+bounds, tuples, recursion via property references.
CORPUS_SCHEMA_TEXT = """\
$schema $start
    $type
        $object
    $properties
        $property-name "name"
        $property-schema $string
        $property-name "kind"
        $property-schema kind
        $property-name "size"
        $property-schema $number
        $property-name "tags"
        $property-schema taglist
        $optional-property
        $property-name "meta"
        $property-schema meta
        $optional-property
        $property-name "span"
        $property-schema span
        $optional-property

$schema kind
    $type
        $string
    $string-values
        "config"
        "data"
        "log"

$schema taglist
    $type
        $array
    $element-type
        $string
    $max-length 8

$schema meta
    $type
        $object
    $properties
        $property-name "version"
        $property-schema $number
        $property-name "parent"
        $property-schema meta
        $optional-property
        $additional-properties-allowed
        $additional-property-schema $string

$schema span
    $type
        $array
    $tuple
        $number
        $number
"""


def corpus_schema_graph() -> SchemaGraph:
    return compile_schema_text(CORPUS_SCHEMA_TEXT)


@dataclass(frozen=True)
class PoolDoc:
    content: str
    expected_valid: bool
    expected_constraint: str | None
    sha256: str


_KINDS = ("config", "data", "log")


def _finish(content: str, valid: bool, constraint: str | None) -> PoolDoc:
    return PoolDoc(
        content=content,
        expected_valid=valid,
        expected_constraint=constraint,
        sha256=hashlib.sha256(content.encode("utf-8")).hexdigest(),
    )


def _valid_doc(rng: random.Random, heft: int = 1) -> dict:
    """``heft`` scales document size: 1 ≈ 150 B (unit-test speed),
    8 ≈ 1.5 KB (realistic source-file size for benchmarks)."""
    doc: dict = {
        "name": f"item-{rng.randrange(10**6)}",
        "kind": rng.choice(_KINDS),
        "size": rng.choice([rng.randrange(10**6), round(rng.random() * 1e3, 3)]),
    }
    if rng.random() < 0.5 or heft > 1:
        doc["tags"] = [f"t{rng.randrange(50)}" for _ in range(rng.randrange(0, 8 * heft) % 9)]
    if rng.random() < 0.4 or heft > 1:
        meta: dict = {"version": rng.randrange(100)}
        node = meta
        for _ in range(rng.randrange(1, heft + 1)):
            if rng.random() < 0.6:
                node["parent"] = {"version": rng.randrange(100)}
                node = node["parent"]
        for j in range(rng.randrange(0, 4 * heft)):
            meta[f"x{j}"] = f"v{rng.randrange(10**6)}-{'pad' * rng.randrange(heft)}"
        doc["meta"] = meta
    if rng.random() < 0.3:
        doc["span"] = [rng.randrange(100), rng.randrange(100)]
    return doc


def _invalid_variants(rng: random.Random, heft: int = 1) -> list[tuple[str, str]]:
    """(content, expected_constraint) pairs, one per constraint class."""
    base = _valid_doc(rng, heft)
    out: list[tuple[str, str]] = []

    d = dict(base)
    d["size"] = "not-a-number"
    out.append((json.dumps(d), "NOT_ONE_OF_OPTIONS"))

    d = dict(base)
    del d["name"]
    out.append((json.dumps(d), "REQUIRED_PROPERTY_IS_MISSING"))

    d = dict(base)
    d["unexpected"] = 1
    out.append((json.dumps(d), "ADDITIONAL_PROP_FOUND_BUT_BANNED"))

    d = dict(base)
    d["kind"] = "mystery"
    out.append((json.dumps(d), "NOT_ONE_OF_OPTIONS"))

    d = dict(base)
    d["tags"] = [f"t{i}" for i in range(9)]
    out.append((json.dumps(d), "OUT_OF_BOUNDS_ARRAY_LENGTH"))

    d = dict(base)
    d["tags"] = ["ok", 7]
    out.append((json.dumps(d), "NOT_ONE_OF_OPTIONS"))

    d = dict(base)
    d["meta"] = {"version": "one"}
    out.append((json.dumps(d), "NOT_ONE_OF_OPTIONS"))

    d = dict(base)
    d["span"] = [1, 2, 3]
    out.append((json.dumps(d), "OUT_OF_BOUNDS_ARRAY_LENGTH"))

    d = dict(base)
    d["span"] = [1, "two"]
    out.append((json.dumps(d), "NOT_ONE_OF_OPTIONS"))

    out.append((json.dumps(base)[:-1], "NOT_JSON"))  # truncated JSON
    out.append(("", "NOT_JSON"))
    return out


def build_pool(
    seed: int = 42, n_valid: int = 160, n_invalid_rounds: int = 4, heft: int = 1
) -> list[PoolDoc]:
    """Driver-side document pool: ~78% valid, invalid docs spread across
    every constraint class.  Deterministic in ``(seed, heft)``."""
    rng = random.Random(seed)
    pool: list[PoolDoc] = []
    for _ in range(n_valid):
        pool.append(_finish(json.dumps(_valid_doc(rng, heft)), True, None))
    for _ in range(n_invalid_rounds):
        for content, constraint in _invalid_variants(rng, heft):
            pool.append(_finish(content, False, constraint))
    return pool


CORPUS_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
        T.StructField("expected_valid", T.BooleanType(), False),
        T.StructField("expected_constraint", T.StringType(), True),
        T.StructField("expected_sha", T.StringType(), False),
    ]
)

_LANGS = ("json", "yaml", "toml", "xml", "cfg")
_BASE_LANG_CUM = (60, 80, 90, 96, 100)  # percent cumulative
_DRIFT_LANG_CUM = (35, 65, 80, 92, 100)

_MIX1 = 2654435761  # Knuth multiplicative hash constants
_MIX2 = 0x9E3779B1


def _mix(idx: int, salt: int) -> int:
    return ((idx + salt) * _MIX1 ^ (idx >> 7) * _MIX2) & 0x7FFFFFFF


def generate_corpus(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    n_repos: int = 64,
    giant_share_pct: int = 35,
    dup_every: int = 101,
    orphan_every: int = 17,
    drift: bool = False,
    num_partitions: int | None = None,
    heft: int = 1,
    unique_content: bool = False,
) -> DataFrame:
    """Distributed deterministic corpus: ``spark.range → mapInPandas``.

    * rows where ``hash % 100 < giant_share_pct`` land in the giant
      monorepo ``repo-mono`` (skew for salting);
    * every ``dup_every``-th row reuses the previous duplicate-anchor
      row's (repo, path, commit) key (uniqueness-check signal);
    * repos whose ordinal ``% orphan_every == 0`` are withheld from
      :func:`dim_repos` (referential-integrity signal);
    * ``heft`` scales document size (8 ≈ 1.5 KB, realistic source files);
    * ``unique_content=True`` splices the row index into each document's
      ``name`` value (sha recomputed), so no two rows share bytes —
      use for honest throughput benchmarks where content-dedup caching
      must not help.
    """
    pool = build_pool(seed, heft=heft)
    pool_rows = [
        (d.content, d.expected_valid, d.expected_constraint, d.sha256) for d in pool
    ]
    n_pool = len(pool_rows)
    lang_cum = _DRIFT_LANG_CUM if drift else _BASE_LANG_CUM

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].tolist()
            repo, path, commit, lang, content = [], [], [], [], []
            exp_valid, exp_constraint, exp_sha = [], [], []
            for idx in ids:
                key_idx = idx
                if dup_every and idx % dup_every == 0 and idx >= dup_every:
                    key_idx = idx - dup_every  # exact duplicate key
                h_repo = _mix(key_idx, seed)
                if h_repo % 100 < giant_share_pct:
                    r = "repo-mono"
                else:
                    r = f"repo-{h_repo % n_repos:04d}"
                p = f"src/part{_mix(key_idx, seed + 1) % 97:02d}/file_{key_idx}.json"
                c = f"{_mix(key_idx, seed + 2):08x}{_mix(key_idx, seed + 3):08x}"
                h_lang = _mix(idx, seed + 4) % 100
                lg = next(
                    _LANGS[i] for i, cut in enumerate(lang_cum) if h_lang < cut
                )
                doc = pool_rows[_mix(idx, seed + 5) % n_pool]
                body, sha = doc[0], doc[3]
                if unique_content and '"name": "item-' in body:
                    body = body.replace('"name": "item-', f'"name": "u{idx}-item-', 1)
                    sha = hashlib.sha256(body.encode("utf-8")).hexdigest()
                repo.append(r)
                path.append(p)
                commit.append(c)
                lang.append(lg)
                content.append(body)
                exp_valid.append(doc[1])
                exp_constraint.append(doc[2])
                exp_sha.append(sha)
            yield pd.DataFrame(
                {
                    "repo": repo,
                    "path": path,
                    "commit": commit,
                    "lang": lang,
                    "content": content,
                    "expected_valid": exp_valid,
                    "expected_constraint": exp_constraint,
                    "expected_sha": exp_sha,
                }
            )

    rng_df = spark.range(n_rows, numPartitions=num_partitions)
    return rng_df.mapInPandas(gen, CORPUS_SPARK_SCHEMA)


def dim_repos(spark: SparkSession, seed: int = 42, n_repos: int = 64, orphan_every: int = 17) -> DataFrame:
    """The repo dimension for the commit→repo referential check.  Repos
    with ordinal ``% orphan_every == 0`` are deliberately missing."""
    names = ["repo-mono"] + [
        f"repo-{i:04d}" for i in range(n_repos) if orphan_every == 0 or i % orphan_every != 0
    ]
    # pandas input (Arrow on) plans a job-free LocalRelation
    return spark.createDataFrame(
        pd.DataFrame({"repo": names}), T.StructType([T.StructField("repo", T.StringType())])
    )
