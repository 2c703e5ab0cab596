"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the Medea validation kernel over a JSON
column at sf0.001, returning the per-constraint violation census.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
(SURVEY.md §2), each verified against DuckDB at sf0.01.  The
validation queries run the *real* kernel UDF; their oracles reimplement
the Medea semantics independently with DuckDB JSON functions — an
engine-vs-engine differential test.  Every computed column is aliased
identically on both sides (the driver hash-compares values by sorted
column name).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medea_spark.checks import (
    chi_square_statistic,
    column_stats,
    diff_tables,
    duplicate_keys,
    lang_size_histogram,
    top_k,
)
from medea_spark.checks.referential import referential_report
from medea_spark.compiler import compile_schema_text
from medea_spark.corpus import corpus_schema_graph, generate_corpus
from medea_spark.engine import detect_skewed_keys, make_validation_udf, validate_table
from medea_spark.pipeline import (
    brute_force_topk,
    cosine_near_dup_pairs,
    exact_duplicate_groups,
    extract_features,
    lsh_ann_topk,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_duplicate_groups,
    text_profile,
)

# ---------------------------------------------------------------------------
# The events.props validation target: a closed object {"k": number}
# (exercises B1-B5, B11 of SURVEY.md §2.B through the kernel UDF).
# ---------------------------------------------------------------------------

EVENTS_SCHEMA_TEXT = (
    "$schema $start\n"
    "    $type\n"
    "        $object\n"
    "    $properties\n"
    '        $property-name "k"\n'
    "        $property-schema $number\n"
)

_EVENTS_GRAPH = None


def _events_graph():
    global _EVENTS_GRAPH
    if _EVENTS_GRAPH is None:
        _EVENTS_GRAPH = compile_schema_text(EVENTS_SCHEMA_TEXT)
    return _EVENTS_GRAPH


def _events_with_content(
    spark: SparkSession, sf_dir: str, widen: bool = True
) -> DataFrame:
    """events.props with deterministic corruption injected so every
    validation-error class occurs; the DuckDB oracle applies the same
    mutation expression (see _ORACLE_CONTENT).

    ``widen=True`` (default) applies ensure_kernel_parallelism for
    consumers that run the Arrow kernel directly on this relation.
    Stream-staging callers pass ``widen=False``: their only job here is
    a cheap codegen mutation feeding a repartition+write (the kernel
    runs later inside the micro-batches), so the widening exchange
    would just shuffle the content bytes twice."""
    from medea_spark.engine import ensure_kernel_parallelism

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    if widen:
        events = ensure_kernel_parallelism(events)
    m = F.col("event_id") % 11
    content = (
        F.when(m == 0, F.substring("props", 2, 1_000_000_000))
        .when(m == 1, F.replace(F.col("props"), F.lit('"k"'), F.lit('"x"')))
        .when(
            m == 2,
            F.replace(
                F.replace(F.col("props"), F.lit('{"k": '), F.lit('{"k": "')),
                F.lit("}"),
                F.lit('"}'),
            ),
        )
        .when(m == 3, F.lit("[1, 2]"))
        .otherwise(F.col("props"))
    )
    return events.withColumn("content", content)


_ORACLE_CONTENT = """
    case when event_id % 11 = 0 then substr(props, 2)
         when event_id % 11 = 1 then replace(props, '"k"', '"x"')
         when event_id % 11 = 2 then replace(replace(props, '{"k": ', '{"k": "'), '}', '"}')
         when event_id % 11 = 3 then '[1, 2]'
         else props end
"""

# Independent SQL re-statement of the kernel semantics for the events
# schema (first-error-wins order: NOT_JSON → type membership →
# banned-additional (any key) → required-missing → property type).
_ORACLE_CONSTRAINT = """
    case when content is null or not json_valid(content) then 'NOT_JSON'
         when json_type(content) <> 'OBJECT' then 'NOT_ONE_OF_OPTIONS'
         when len(list_filter(json_keys(content), k -> k <> 'k')) > 0
              then 'ADDITIONAL_PROP_FOUND_BUT_BANNED'
         when json_type(content, '$.k') is null then 'REQUIRED_PROPERTY_IS_MISSING'
         when json_type(content, '$.k') not in ('BIGINT', 'UBIGINT', 'DOUBLE')
              then 'NOT_ONE_OF_OPTIONS'
         else null end
"""

_ORACLE_EVENTS_CTE = f"""
with mutated as (
    select event_id, ({_ORACLE_CONTENT}) as content from events
), judged as (
    select event_id, content, ({_ORACLE_CONSTRAINT}) as failed_constraint
    from mutated
)
"""


def _validated_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events_with_content(spark, sf_dir)
    udf = make_validation_udf(_events_graph())
    return df.withColumn("_vr", udf(F.col("content"))).select(
        "event_id",
        "content",
        F.col("_vr.is_valid").alias("is_valid"),
        F.col("_vr.violations").alias("violations"),
    )


def _planes_cte(seed: int, n_planes: int, dim: int = 64) -> str:
    """DuckDB CTE reproducing similarity.plane_component's md5-derived
    hyperplanes: component (j, d) = 60-bit md5 of "seed:j:d" scaled to
    [-1, 1).  Bit-identical to the Spark side (md5 is md5)."""
    return f"""planes as (
        select j, list_transform(generate_series(0, {dim - 1}), d ->
            cast(('0x' || substr(md5('{seed}:' || j || ':' || d), 1, 15)) as bigint)
              / 576460752303423488.0 - 1.0) as plane
        from generate_series(0, {n_planes - 1}) t(j)
    )"""


# ---------------------------------------------------------------------------
# queries()
# ---------------------------------------------------------------------------


def q_medea_validate_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row verdicts from the kernel UDF (C4)."""
    return _validated_events(spark, sf_dir).select("event_id", "is_valid")


def q_medea_violation_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded violation census by constraint class (C4 + explode + C7)."""
    v = _validated_events(spark, sf_dir)
    return (
        v.filter(~F.col("is_valid"))
        .select(F.explode("violations").alias("viol"))
        .groupBy(F.col("viol.failed_constraint").alias("failed_constraint"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("failed_constraint")
    )


def q_medea_validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row pass/fail summary with the sha256 invariant (C5/C7)."""
    v = _validated_events(spark, sf_dir).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256)
    )
    return v.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("is_valid").cast("long")).alias("n_valid"),
        F.sum((~F.col("is_valid")).cast("long")).alias("n_invalid"),
        F.count_distinct(F.col("content_sha256")).alias("distinct_sha"),
    )


def q_medea_violation_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded violation relation in collect_all mode: every
    violation of every invalid document with its RFC 6901 pointer and
    attributed schema — oracles the kernel's non-short-circuit path
    (banned-additional per extra key, then required-missing, then
    per-property type recursion) and the pointer assembly itself."""
    df = _events_with_content(spark, sf_dir)
    udf = make_validation_udf(_events_graph(), collect_all=True)
    v = df.withColumn("_vr", udf(F.col("content")))
    return (
        v.filter(~F.col("_vr.is_valid"))
        .select("event_id", F.explode("_vr.violations").alias("viol"))
        .select(
            "event_id",
            F.col("viol.json_pointer").alias("json_pointer"),
            F.col("viol.failed_constraint").alias("failed_constraint"),
            F.col("viol.schema_name").alias("schema_name"),
        )
        .orderBy("event_id", "json_pointer", "failed_constraint")
    )


def q_colstats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column stats: null rate, min/max, distinct (C8/C9)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return column_stats(
        li, ["l_orderkey", "l_quantity", "l_returnflag"], exact_distinct=True
    ).orderBy("col_name")


def q_colstats_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column quantiles (checks/stats.py column_quantiles, exact
    path): one aggregate computes five probabilities for three numeric
    columns; Spark's exact `percentile` (linear interpolation on sorted
    values) is bit-identical to DuckDB's `quantile_cont` — verified
    here as a differential.  The 100-TB path is the approx
    (Greenwald-Khanna sketch) variant, unit-tested for rank-error
    bounds rather than oracled (sketches are engine-specific)."""
    from medea_spark.checks import column_quantiles

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return column_quantiles(
        li,
        ["l_extendedprice", "l_quantity", "l_discount"],
        probs=(0.1, 0.25, 0.5, 0.75, 0.99),
        approx=False,
    ).orderBy("col_name", "prob")


def q_dup_keys_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-key detection (C10).  Default path: plain hash-agg —
    Catalyst's map-side partial agg already bounds hot-key reducer load
    for counts; the explicit salted two-phase variant (for
    non-algebraic aggregates) is equivalence-tested in tests/."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return duplicate_keys(ev, ["user_id", "event_type"]).orderBy(
        "user_id", "event_type"
    )


def q_uniqueness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row uniqueness summary (C10): totals, distinct keys,
    duplicate keys, surplus rows a dedup would drop."""
    from medea_spark.checks import uniqueness_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return uniqueness_report(ev, ["user_id", "event_type"])


# Stage root: several oracle queries materialize intermediate artifacts
# (staged shingle relations, fitted centroids, stream replay inputs)
# that the DuckDB oracle re-reads from the same path, so the path is
# spelled into oracle_sql().  A fixed default keeps that text identical
# in every process; each query overwrites (or first deletes) what it
# stages, so a rerun never reads a previous run's files.  Runs that may
# overlap must each set MEDEA_ORACLE_STAGE_ROOT to a root of their own,
# or one run clobbers the other's staged parquet mid-read.  Nothing is
# deleted at exit: the root may be shared, and the oracle side may read
# it from another process.
_STAGE_ROOT = os.environ.get("MEDEA_ORACLE_STAGE_ROOT") or os.path.join(
    tempfile.gettempdir(), "medea_oracle"
)

_STREAM_INPUT_PATH = f"{_STAGE_ROOT}/stream_input"


def _stream_state_partitions(spark: SparkSession) -> int:
    """State-store / micro-batch shuffle partition count for the bounded
    stream replays.  Stateful streaming operators commit one state-store
    delta PER SHUFFLE PARTITION PER MICRO-BATCH, so the batch-oriented
    ``spark.sql.shuffle.partitions`` (sized 2×cores for the big
    aggregations) multiplies straight into state-store file I/O while
    the per-batch key volume here is tiny.  Scale-adaptive: override
    with MEDEA_STREAM_STATE_PARTITIONS on a real cluster (size it to
    the hot key count / state volume); the default derives from the
    session's core count rather than hard-coding the local machine."""
    env = os.environ.get("MEDEA_STREAM_STATE_PARTITIONS")
    if env:
        return max(1, int(env))
    cores = spark.sparkContext.defaultParallelism or 8
    return max(8, cores // 4)


@contextmanager
def _stream_conf(spark: SparkSession):
    """Temporarily size shuffle partitions for a streaming query's state
    store (the value is captured at query ``start()``; batch queries run
    after restore are untouched)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(_stream_state_partitions(spark)))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def q_stream_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end with a hard gate: the mutated
    events table is replayed as a bounded file stream (availableNow,
    2 files per micro-batch), validated with the kernel UDF inside the
    streaming plan, aggregated into the watermarked per-minute violation
    census (complete mode), and the FINAL result must equal the batch
    SQL census DuckDB computes from the same rows."""
    import uuid

    from medea_spark.streaming import validate_stream, windowed_violation_counts

    # Watermarks require TIMESTAMP (the parquet column is NTZ; session
    # timezone is UTC so the cast is value-preserving).
    prepared = _events_with_content(spark, sf_dir, widen=False).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "content"
    )
    prepared.repartition(8).write.mode("overwrite").parquet(_STREAM_INPUT_PATH)
    # 4 files per micro-batch: the cross-batch state merge is exercised
    # with two batches; the per-batch cost (planning + a state commit
    # per partition + a complete-mode sink rewrite) is pure scheduling
    # overhead, so fewer, larger micro-batches is the same lever as
    # "fewer, larger reduce partitions" for batch shuffles.
    stream = (
        spark.readStream.schema(prepared.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(_STREAM_INPUT_PATH)
    )
    validated = validate_stream(stream, _events_graph())
    census = windowed_violation_counts(validated, ts_col="ts", window="1 minute")
    name = f"stream_census_{uuid.uuid4().hex[:8]}"
    with _stream_conf(spark):
        q = (
            census.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .select(
            F.col("window.start").alias("minute_start"),
            "failed_constraint",
            "cnt",
        )
        .orderBy("minute_start", "failed_constraint")
    )


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based sessionization (streaming.session_counts):
    the events table replays as a bounded file stream (availableNow,
    2 files per micro-batch, rows arriving in arbitrary file order) and
    the native session_window state store must MERGE session fragments
    across micro-batches into exactly the sessions a batch engine
    computes.  Gate: final complete-mode result == DuckDB's gap
    sessionization under the diff > gap rule (the boundary rule Spark's
    session merge implements — unit-verified, same as batch)."""
    import uuid

    from medea_spark.streaming import session_counts

    prepared = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    path = f"{_STAGE_ROOT}/stream_sessions_input"
    prepared.repartition(8).write.mode("overwrite").parquet(path)
    # Two micro-batches (4 files each): still a genuine cross-batch
    # session merge; per-batch state-commit overhead halved.
    stream = (
        spark.readStream.schema(prepared.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    # The replay files are round-robin shards, so each micro-batch spans
    # the table's FULL 30-day range — the watermark must exceed that
    # disorder horizon or later batches' older rows are dropped as late
    # (a real stream's horizon is its actual arrival disorder).
    sessions = session_counts(
        stream, key_col="user_id", ts_col="ts", gap="30 minutes", watermark="31 days"
    )
    name = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    with _stream_conf(spark):
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).orderBy("user_id", "session_start_us")


def q_ri_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity via broadcast anti-join (C11)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # Withhold every 7th dim key so the check has non-trivial signal
    # (mirrors the corpus generator's orphan injection).
    dim = cust.filter(F.col("c_custkey") % 7 != 0)
    return referential_report(
        ev.withColumnRenamed("user_id", "custkey"),
        dim.withColumnRenamed("c_custkey", "custkey"),
        "custkey",
    )


def q_hist_lang_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang × size-bucket histogram (C12 input)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lang_size_histogram(docs, size_col="n_chars").orderBy("lang", "size_bucket")


def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square drift statistic between two document snapshots (C12)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_num = F.substring("source", 4, 10).cast("int")
    baseline = lang_size_histogram(docs.filter(src_num % 2 == 0))
    current = lang_size_histogram(docs.filter(src_num % 2 == 1))
    stat = chi_square_statistic(current, baseline)
    return stat.select(
        F.round("statistic", 4).alias("statistic"),
        "dof",
        "n_current",
        "n_baseline",
    )


def q_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (checks/drift.py benford_report) on
    lineitem extended prices: observed-vs-expected per digit with the
    chi-square terms.  The leading digit comes from IEEE
    floor/log10/pow arithmetic — never float-to-string formatting,
    which differs across engines; DuckDB recomputes identically."""
    from medea_spark.checks import benford_report

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return benford_report(li, "l_extendedprice")


def q_relationship_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relationship-cardinality contract (checks/relationships.py):
    orders→customer declared many-to-one; every 97th customer row is
    deliberately duplicated, and exactly those keys must surface as
    duplicate_right violations (a duplicated dimension key silently
    fans out every fact row it joins — no engine error, corrupted
    aggregates)."""
    from medea_spark.checks import relationship_violations

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dup = customer.filter(F.col("c_custkey") % 97 == 0)
    return relationship_violations(
        orders,
        customer.unionByName(dup),
        left_key="o_custkey",
        right_key="c_custkey",
        expected="many_to_one",
    ).orderBy("key")


def q_k_anon_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity screen (checks/relationships.py): (user_id,
    event_type) combinations shared by fewer than 8 events are
    re-identifiable in released data; one hash-aggregate surfaces
    them."""
    from medea_spark.checks import k_anonymity_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return k_anonymity_report(ev, ["user_id", "event_type"], k=8).orderBy(
        "user_id", "event_type"
    )


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift (checks/drift.py
    ks_statistic) on the events value column, odd vs even users: the
    continuous-column drift test the chi-square/PSI histograms can't
    do without arbitrary binning.  Hash-agg to distinct values per
    side, full-outer join, one ordered window over distinct values
    for both ECDFs; DuckDB replays the identical cumulative sums."""
    from medea_spark.checks import ks_statistic

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ks_statistic(
        ev.filter(F.col("user_id") % 2 == 1),
        ev.filter(F.col("user_id") % 2 == 0),
        "value",
    )


def q_drift_ks_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented KS drift (checks/drift.py ks_statistic(by=...)): the
    events value distribution, odd vs even users, per event_type —
    "did the metric drift, and for which segment?".  Same ECDF shape
    as drift_ks but the windows PARTITION on the group columns, so the
    plan distributes instead of funnelling into one task."""
    from medea_spark.checks import ks_statistic

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ks_statistic(
        ev.filter(F.col("user_id") % 2 == 1),
        ev.filter(F.col("user_id") % 2 == 0),
        "value",
        by=["event_type"],
    )


def q_merge_upsert_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert (engine/merge.py): a deterministic revision
    batch (docs 200-599 with rewritten text) applied to the base
    snapshot (docs 0-399) — overlap takes the update row, new keys
    append, one full-outer hash join, no window/sort.  DuckDB replays
    with anti-join + union."""
    from medea_spark.engine.merge import merge_upsert

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.filter(F.col("doc_id") < 400)
    new_text = F.concat(F.lit("rev2 "), F.upper(F.col("lang")))
    updates = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 600)).select(
        "doc_id",
        new_text.alias("text"),
        "lang",
        "source",
        F.length(new_text).cast("long").alias("n_chars"),
    )
    return merge_upsert(base, updates, ["doc_id"], assert_unique=True).orderBy(
        "doc_id"
    )


def q_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key (engine/layout.py): the
    (user_id, value) plane quantized to 16 bits per dimension with
    EXPLICIT bounds and bit-interleaved into the curve position that
    zorder_write range-partitions on — multi-dimensional data layout
    for parquet min/max pruning at 100 TB.  Pure codegen shift-or-mask
    bit math; DuckDB replays the identical spread steps bit-for-bit."""
    from medea_spark.engine.layout import quantize, zvalue

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    qx = quantize("user_id", 0, 2000, 16)
    qy = quantize("value", 0, 600, 16)
    return ev.select(
        "event_id",
        qx.alias("qx"),
        qy.alias("qy"),
        zvalue([qx, qy], 16).alias("zval"),
    ).orderBy("event_id")


def q_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-diversity profile (checks/stats.py
    categorical_entropy): Shannon entropy of the documents lang and
    source columns — the mode-collapse read on a training corpus.
    One hash-agg to value counts per column, then a tiny aggregate
    over the count relation; NULL is its own category.  DuckDB
    recomputes the identical ln-based formula."""
    from medea_spark.checks import categorical_entropy

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return categorical_entropy(docs, ["lang", "source"]).orderBy("col_name")


def q_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation (checks/stats.py pairwise_corr)
    across four lineitem measures — every C(4,2) pair's six raw
    moments ride ONE whole-stage-codegen aggregate pass (no per-pair
    jobs); pairwise NULL deletion; DuckDB recomputes the identical
    raw-moment formula."""
    from medea_spark.checks import pairwise_corr

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return pairwise_corr(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    ).orderBy("col_a", "col_b")


def q_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-Wasserstein drift distance (checks/drift.py
    wasserstein_distance) on the events value column, odd vs even
    users — the magnitude-aware companion to drift_ks: same
    distinct-value ECDF window plus a lead() gap, distance =
    sum(|fa-fb| * gap) in the column's own units."""
    from medea_spark.checks import wasserstein_distance

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return wasserstein_distance(
        ev.filter(F.col("user_id") % 2 == 1),
        ev.filter(F.col("user_id") % 2 == 0),
        "value",
    )


def q_time_gaps_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeline-completeness check (checks/completeness.py time_gaps):
    minute buckets with NO event between the observed min and max —
    the freshness/completeness contract ("at least one event per
    minute; which minutes are silent?").  Distinct hash-agg to the
    bucket universe, sequence-generated expected range, broadcast
    anti-join; no shuffle touches row-scale data."""
    from medea_spark.checks import time_gaps

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return time_gaps(ev, "ts", granularity="minute")


def q_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour row-volume anomaly screen (checks/completeness.py
    volume_anomalies): hours whose event count deviates from the
    typical hourly volume by > 2 robust z-scores, on the zero-filled
    timeline.  One hash agg to calendar-sized counts; median/MAD and
    flagging all run on that tiny relation (exact percentile =
    DuckDB quantile_cont bit-identically)."""
    from medea_spark.checks import volume_anomalies

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return volume_anomalies(ev, "ts", granularity="hour", threshold=2.0)


def q_monotonic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key ordering contract (checks/ordering.py
    monotonic_violations): rows where the events value column
    regresses within its user's ts-ordered sequence — the CDC/event-
    log contract "within each entity the metric must not go
    backwards".  One exchange on the key, lag window, violations-only
    output; (user_id, ts) is verified unique at both scales so the
    lag is deterministic."""
    from medea_spark.checks import monotonic_violations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return monotonic_violations(ev, "user_id", "ts", "value")


def q_fd_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency contract (checks/relationships.py
    fd_violations): assert l_partkey → l_suppkey on lineitem — "each
    part ships from one supplier".  TPC-H sources every part from ~4
    suppliers, so the violating keys (most parts) surface with their
    variant counts and min/max supplier examples; one map-side-combined
    hash aggregate, NULL-skip count-distinct semantics identical in
    DuckDB."""
    from medea_spark.checks import fd_violations

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return fd_violations(li, "l_partkey", "l_suppkey").orderBy("l_partkey")


def q_mad_outliers_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen (checks/outliers.py mad_outliers) on
    lineitem price and quantity: modified z-score (|x - median| >
    3.5 · 1.4826 · MAD), three single-row aggregate passes chained by
    broadcast cross joins.  Exact-percentile path here so DuckDB's
    quantile_cont replays the medians/MADs bit-identically (the
    approx GK-sketch path is the 100 TB default and unit-tested
    against this one)."""
    from medea_spark.checks import mad_outliers

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return mad_outliers(
        li, ["l_extendedprice", "l_quantity"], threshold=3.5, approx=False
    ).orderBy("col_name")


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the same two document
    snapshots as drift_chi2 (checks/drift.py psi_statistic): the
    credit-scoring drift metric, Σ (p-q)·ln(p/q) over the shared lang
    cells with an epsilon floor for novel/vanished categories.  Pure
    relational + ln; DuckDB recomputes the identical proportions and
    log terms."""
    from medea_spark.checks import psi_statistic

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_num = F.substring("source", 4, 10).cast("int")
    baseline = lang_size_histogram(docs.filter(src_num % 2 == 0))
    current = lang_size_histogram(docs.filter(src_num % 2 == 1))
    return psi_statistic(current, baseline)


def q_topk_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tie-break (C13)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return top_k(docs, ["lang"], 3)


def q_docs_setdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op diffing (C14): en docs vs src0 docs, both directions."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = docs.filter(F.col("lang") == "en").select("doc_id")
    b = docs.filter(F.col("source") == "src0").select("doc_id")
    return diff_tables(a, b).orderBy("side", "doc_id")


_CORPUS_ORACLE_PATH = f"{_STAGE_ROOT}/corpus_validation"


def q_corpus_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline on the synthetic repo-file corpus: skew detection,
    salted partition assignment, kernel UDF, per-partition summary
    (C1-C7).  The generated corpus (with its ground-truth verdict
    columns and the engine-assigned part/salt ids) is round-tripped
    through parquet so DuckDB can independently recompute the summary
    from expected_valid — a kernel-vs-generator differential through
    a second engine."""
    from medea_spark.engine.partitioning import with_partition_columns

    df = generate_corpus(spark, 20_000, seed=42)
    skewed = detect_skewed_keys(df, "repo", skew_fraction=0.10)
    with_partition_columns(df, 16, skewed_keys=skewed).write.mode(
        "overwrite"
    ).parquet(_CORPUS_ORACLE_PATH)
    src = spark.read.parquet(_CORPUS_ORACLE_PATH)
    run = validate_table(
        src, corpus_schema_graph(), num_partitions=16, skewed_keys=skewed
    )
    return run.summary.orderBy("part_id")


# ---------------------------------------------------------------------------
# Deeper differential coverage: a schema with a string enum, a 2-tuple,
# and a closed object, over JSON constructed identically from lineitem
# columns in both engines (B6/B7/B9/B11 through the kernel UDF).
# ---------------------------------------------------------------------------

NESTED_SCHEMA_TEXT = (
    "$schema $start\n"
    "    $type\n"
    "        $object\n"
    "    $properties\n"
    '        $property-name "qty"\n'
    "        $property-schema $number\n"
    '        $property-name "flag"\n'
    "        $property-schema flag\n"
    '        $property-name "pair"\n'
    "        $property-schema pair\n"
    "\n"
    "$schema flag\n"
    "    $type\n"
    "        $string\n"
    "    $string-values\n"
    '        "A"\n'
    '        "N"\n'
    '        "R"\n'
    "\n"
    "$schema pair\n"
    "    $type\n"
    "        $array\n"
    "    $tuple\n"
    "        $number\n"
    "        $number\n"
)

_NESTED_GRAPH = None


def _nested_graph():
    global _NESTED_GRAPH
    if _NESTED_GRAPH is None:
        _NESTED_GRAPH = compile_schema_text(NESTED_SCHEMA_TEXT)
    return _NESTED_GRAPH


def _lineitem_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medea_spark.engine import ensure_kernel_parallelism

    li = ensure_kernel_parallelism(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    qty = F.col("l_quantity").cast("string")
    flag = F.col("l_returnflag")
    a = F.col("l_linenumber").cast("string")
    b = F.col("l_partkey").cast("string")
    m = F.col("l_orderkey") % 7
    content = (
        F.when(m == 0, F.concat(F.lit('{"qty": '), qty, F.lit(', "flag": "'), flag, F.lit('", "pair": ['), a, F.lit(", "), b))
        .when(m == 1, F.concat(F.lit('{"qty": '), qty, F.lit(', "flag": "Z", "pair": ['), a, F.lit(", "), b, F.lit("]}")))
        .when(m == 2, F.concat(F.lit('{"qty": '), qty, F.lit(', "flag": "'), flag, F.lit('", "pair": ['), a, F.lit(", "), b, F.lit(", 0]}")))
        .when(m == 3, F.concat(F.lit('{"qty": "'), qty, F.lit('", "flag": "'), flag, F.lit('", "pair": ['), a, F.lit(", "), b, F.lit("]}")))
        .when(m == 4, F.concat(F.lit('{"qty": '), qty, F.lit(', "flag": "'), flag, F.lit('", "pair": ['), a, F.lit(", "), b, F.lit('], "x": 1}')))
        .when(m == 5, F.concat(F.lit('{"flag": "'), flag, F.lit('", "pair": ['), a, F.lit(", "), b, F.lit("]}")))
        .otherwise(F.concat(F.lit('{"qty": '), qty, F.lit(', "flag": "'), flag, F.lit('", "pair": ['), a, F.lit(", "), b, F.lit("]}")))
    )
    return li.select(
        "l_orderkey", F.col("l_linenumber").alias("lineno"), content.alias("content")
    )


_ORACLE_NESTED_CTE = """
with built as (
    select l_orderkey, l_linenumber as lineno,
           case l_orderkey % 7
             when 0 then '{"qty": ' || cast(l_quantity as varchar) || ', "flag": "' || l_returnflag || '", "pair": [' || cast(l_linenumber as varchar) || ', ' || cast(l_partkey as varchar)
             when 1 then '{"qty": ' || cast(l_quantity as varchar) || ', "flag": "Z", "pair": [' || cast(l_linenumber as varchar) || ', ' || cast(l_partkey as varchar) || ']}'
             when 2 then '{"qty": ' || cast(l_quantity as varchar) || ', "flag": "' || l_returnflag || '", "pair": [' || cast(l_linenumber as varchar) || ', ' || cast(l_partkey as varchar) || ', 0]}'
             when 3 then '{"qty": "' || cast(l_quantity as varchar) || '", "flag": "' || l_returnflag || '", "pair": [' || cast(l_linenumber as varchar) || ', ' || cast(l_partkey as varchar) || ']}'
             when 4 then '{"qty": ' || cast(l_quantity as varchar) || ', "flag": "' || l_returnflag || '", "pair": [' || cast(l_linenumber as varchar) || ', ' || cast(l_partkey as varchar) || '], "x": 1}'
             when 5 then '{"flag": "' || l_returnflag || '", "pair": [' || cast(l_linenumber as varchar) || ', ' || cast(l_partkey as varchar) || ']}'
             else '{"qty": ' || cast(l_quantity as varchar) || ', "flag": "' || l_returnflag || '", "pair": [' || cast(l_linenumber as varchar) || ', ' || cast(l_partkey as varchar) || ']}'
           end as content
    from lineitem
), judged as (
    select l_orderkey, lineno, content,
        case
          when content is null or not json_valid(content) then 'NOT_JSON'
          when json_type(content) <> 'OBJECT' then 'NOT_ONE_OF_OPTIONS'
          when len(list_filter(json_keys(content), k -> k not in ('qty','flag','pair'))) > 0
               then 'ADDITIONAL_PROP_FOUND_BUT_BANNED'
          when json_type(content, '$.qty') is null
            or json_type(content, '$.flag') is null
            or json_type(content, '$.pair') is null
               then 'REQUIRED_PROPERTY_IS_MISSING'
          when json_type(content, '$.qty') not in ('BIGINT', 'UBIGINT', 'DOUBLE')
               then 'NOT_ONE_OF_OPTIONS'
          when json_type(content, '$.flag') <> 'VARCHAR'
            or json_extract_string(content, '$.flag') not in ('A', 'N', 'R')
               then 'NOT_ONE_OF_OPTIONS'
          when json_type(content, '$.pair') <> 'ARRAY' then 'NOT_ONE_OF_OPTIONS'
          when json_array_length(content, '$.pair') <> 2 then 'OUT_OF_BOUNDS_ARRAY_LENGTH'
          when json_type(content, '$.pair[0]') not in ('BIGINT', 'UBIGINT', 'DOUBLE')
            or json_type(content, '$.pair[1]') not in ('BIGINT', 'UBIGINT', 'DOUBLE')
               then 'NOT_ONE_OF_OPTIONS'
          else null
        end as failed_constraint
    from built
)
"""


def q_medea_nested_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row verdicts for the enum+tuple schema over constructed JSON."""
    df = _lineitem_json(spark, sf_dir)
    udf = make_validation_udf(_nested_graph())
    return df.select(
        "l_orderkey", "lineno", udf(F.col("content"))["is_valid"].alias("is_valid")
    )


def q_medea_nested_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-violation census for the enum+tuple schema."""
    df = _lineitem_json(spark, sf_dir)
    udf = make_validation_udf(_nested_graph())
    v = df.withColumn("_vr", udf(F.col("content")))
    return (
        v.filter(~F.col("_vr.is_valid"))
        .select(F.col("_vr.violations")[0]["failed_constraint"].alias("failed_constraint"))
        .groupBy("failed_constraint")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("failed_constraint")
    )


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus exact copies of every 10th doc (ids +100000) —
    the deterministic duplicate-injection shared with the oracle SQL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


_ORACLE_DOCS2 = """
with docs2 as (
    select doc_id, text from documents
    union all
    select doc_id + 100000, text from documents where doc_id % 10 = 0
)
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup (pipeline/dedup.py ngram_containment_pairs):
    every 20th document gets a QUOTE twin (id +400000) holding only its
    first 12 words — shingle-subset inclusion with containment 1.0 but
    Jaccard far below any dedup threshold, the case the symmetric
    measure cannot see.  contained_doc names the smaller-set side."""
    from medea_spark.pipeline import ngram_containment_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).filter((F.col("doc_id") % 20 == 0) & (F.col("doc_id") < 800))
    quotes = docs.select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.trim("text"), r"\s+"), 1, 12)
        ).alias("text"),
    )
    return ngram_containment_pairs(
        docs.unionByName(quotes),
        "doc_id",
        "text",
        n=3,
        threshold=0.9,
        stage_location=f"{_STAGE_ROOT}/containment_stage",
    ).orderBy("doc_a", "doc_b")


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts, quality, lang-ID, fingerprint."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    return text_profile(docs, "doc_id", "text").orderBy("doc_id")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-md5 hash aggregation."""
    return exact_duplicate_groups(
        _docs_with_dups(spark, sf_dir), "doc_id", "text"
    ).orderBy("text_hash")


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=4) from the md5-derived portable hash family."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 100
    )
    return minhash_signatures(docs, "doc_id", "text", n=3, k=4).orderBy("doc_id")


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs over the duplicate-injected subset."""
    docs = _docs_with_dups(spark, sf_dir).filter(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") % 100000 < 400)
    )
    return ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
        stage_location=f"{_STAGE_ROOT}/jaccard_stage_word",
    ).orderBy("doc_a", "doc_b")


def q_jaccard_char_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-5-gram Jaccard near-dup pairs — the shingle unit for source
    code and short strings where token boundaries are unreliable (this
    engine's domain is repo files).  Near copies are injected with a
    4-char prefix so pairs land strictly below 1.0."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", "text")
    )
    near = docs.select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.lit("zzz "), F.col("text")).alias("text"),
    )
    return ngram_jaccard_pairs(
        docs.unionByName(near),
        "doc_id",
        "text",
        n=5,
        threshold=0.6,
        unit="char",
        stage_location=f"{_STAGE_ROOT}/jaccard_stage_char",
    ).orderBy("doc_a", "doc_b")


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search (exact baseline)."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = vecs.filter(F.col("vec_id") < 5)
    return brute_force_topk(vecs, queries, k=3).orderBy("query_id", "rank")


def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup groups.  Token hashes come from the md5-portable
    60-bit family and the majority vote is plain SQL aggregation, so
    the DuckDB oracle reproduces every fingerprint bit-exactly."""
    return simhash_duplicate_groups(
        _docs_with_dups(spark, sf_dir), "doc_id", "text"
    ).orderBy("simhash")


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs within max_hamming bits via lossless
    multi-probe banding (max_hamming < bands ⇒ some band untouched by
    pigeonhole).  Inputs include exact copies (hamming 0) and one-token
    near copies (small hamming); DuckDB rebuilds fingerprints, bands,
    and popcounts bit-exactly."""
    from medea_spark.pipeline import simhash_near_dup_pairs

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    exact = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    near = docs.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit("zzz "), F.col("text")).alias("text"),
    )
    df = docs.unionByName(exact).unionByName(near)
    return simhash_near_dup_pairs(
        df, "doc_id", "text", max_hamming=10, bands=12
    ).orderBy("doc_a", "doc_b")


def _simhash_sims_sql(docs_cte: str) -> str:
    """votes → fingerprint SQL chain over a CTE named ``docs_src``."""
    from medea_spark.pipeline.dedup import SIMHASH_BITS

    votes = ",\n               ".join(
        f"sum(case when (h >> {b}) & 1 = 1 then 1 else -1 end) as v{b}"
        for b in range(SIMHASH_BITS)
    )
    recon = " + ".join(
        f"(case when v{b} > 0 then (cast(1 as bigint) << {b}) else 0 end)"
        for b in range(SIMHASH_BITS)
    )
    return (
        docs_cte
        + f"""
        , toks as (
            select doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) as tok
            from docs_src
        ), th as (
            select doc_id, cast(('0x' || substr(md5(tok), 1, 15)) as bigint) as h
            from toks where tok <> ''
        ), votes as (
            select doc_id,
               {votes}
            from th group by doc_id
        ), sims as (
            select doc_id, ({recon}) as simhash from votes
        )
        """
    )


def _simhash_near_pairs_oracle_sql() -> str:
    docs_cte = """
        with docs_src as (
            select doc_id, text from documents where doc_id % 10 = 0
            union all
            select doc_id + 100000, text from documents where doc_id % 10 = 0
            union all
            select doc_id + 200000, 'zzz ' || text from documents where doc_id % 10 = 0
        )
    """
    return (
        _simhash_sims_sql(docs_cte)
        + """
        , banded as (
            select doc_id, simhash, b as band,
                   (simhash >> (b * 5)) & 31 as key
            from sims cross join generate_series(0, 11) t(b)
        ), cand as (
            select distinct x.doc_id as doc_a, y.doc_id as doc_b,
                   cast(bit_count(xor(x.simhash, y.simhash)) as int) as hamming
            from banded x join banded y using (band, key)
            where x.doc_id < y.doc_id
        )
        select doc_a, doc_b, hamming from cand
        where hamming <= 10 order by doc_a, doc_b
        """
    )


def _simhash_oracle_sql() -> str:
    """DuckDB twin of pipeline.dedup.simhash over the dup-injected docs:
    explode tokens → 60 bit votes → majority → group identical prints."""
    from medea_spark.pipeline.dedup import SIMHASH_BITS

    votes = ",\n               ".join(
        f"sum(case when (h >> {b}) & 1 = 1 then 1 else -1 end) as v{b}"
        for b in range(SIMHASH_BITS)
    )
    recon = " + ".join(
        f"(case when v{b} > 0 then (cast(1 as bigint) << {b}) else 0 end)"
        for b in range(SIMHASH_BITS)
    )
    return (
        _ORACLE_DOCS2
        + f"""
        , toks as (
            select doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) as tok
            from docs2
        ), th as (
            select doc_id, cast(('0x' || substr(md5(tok), 1, 15)) as bigint) as h
            from toks where tok <> ''
        ), votes as (
            select doc_id,
               {votes}
            from th group by doc_id
        ), sims as (
            select doc_id, ({recon}) as simhash from votes
        )
        select simhash, count(*) as n_docs, min(doc_id) as keep_id
        from sims group by simhash having count(*) > 1
        order by simhash
        """
    )


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k.  Planes come from the md5
    portable hash family (similarity.plane_component), so the DuckDB
    oracle reproduces buckets, candidates, and re-rank bit-exactly."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = vecs.filter(F.col("vec_id") < 5)
    return lsh_ann_topk(vecs, queries, k=3, n_planes=4, dim=64).orderBy(
        "query_id", "rank"
    )


def q_embed_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the LSH-bucketed
    library path (cosine_near_dup_pairs): scaled copies of the first 5
    vectors are injected (cosine 1.0 with their originals, hence
    bucket-identical by construction); pairs with sim >= 0.999 are
    reported.  The bucket join bounds the pair search — no cartesian —
    and the DuckDB oracle rebuilds the same md5-derived buckets."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 150
    )
    copies = vecs.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        "label",
    )
    df = vecs.unionByName(copies)
    return cosine_near_dup_pairs(
        df, threshold=0.999, n_planes=8, dim=64
    ).orderBy("vec_a", "vec_b")


def q_embed_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-side composition: the LSH-bucketed cosine near-dup
    pairs (embed_near_dups' exact shape) feed connected-components
    clustering — keep one vector per near-duplicate family.  DuckDB
    rebuilds the pairs AND replays the clustering with a recursive
    CTE."""
    from medea_spark.pipeline import duplicate_clusters

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 150
    )
    copies = vecs.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        "label",
    )
    pairs = cosine_near_dup_pairs(
        vecs.unionByName(copies), threshold=0.999, n_planes=8, dim=64
    )
    return duplicate_clusters(pairs, "vec_a", "vec_b").orderBy("doc_id")


def _docs_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table derived from documents.parquet: blob = utf-8 bytes of
    the text (so DuckDB can recompute sha256/length itself), metadata
    typed by doc_id % 3; video duration_ms = n_chars (deterministic)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    meta = F.struct(
        kind.alias("kind"),
        F.lit(None).cast("string").alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.when(kind == "video", F.col("n_chars").cast("long")).alias("duration_ms"),
        F.lit(None).cast("string").alias("uri"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("blob"),
        meta.alias("meta"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary blobs (utf-8 bytes of document text)
    → Arrow-batch feature extraction.  Blobs derive from a real parquet
    scan (natural partitioning — no driver-built table fan-out), and
    n_bytes/sha256 are independently recomputable by DuckDB; the fake
    decode's feature vector is exercised by pytest determinism tests."""
    media = _docs_media(spark, sf_dir)
    feats = extract_features(media, dim=16)
    return feats.select("media_id", "n_bytes", "blob_sha256").orderBy("media_id")


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing (decode stubbed): deterministic fake
    resize digest sha256(blob || "|64x64") over the documents-derived
    blobs — DuckDB recomputes it from the text bytes."""
    from medea_spark.pipeline import resize_media

    media = _docs_media(spark, sf_dir)
    return resize_media(media, width=64, height=64).orderBy("media_id")


def q_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: relational sequence explode over the
    metadata duration — prunable by Catalyst before any decode work."""
    from medea_spark.pipeline import frame_sample_plan

    media = _docs_media(spark, sf_dir)
    return frame_sample_plan(media, every_ms=100, id_col="media_id").orderBy(
        "media_id", "frame_idx"
    )


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with the engine-portable hash-seeded
    quantizer, so DuckDB reproduces centroids, cell assignment, probe
    ranking, and re-rank exactly.  The MLlib KMeans quantizer (the
    production path) is exercised by recall/determinism tests in
    tests/test_pipeline.py."""
    from medea_spark.pipeline import build_ivf_index_hashseed, ivf_ann_topk

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = vecs.filter(F.col("vec_id") < 5)
    index = build_ivf_index_hashseed(vecs, nlist=8, seed=42)
    return ivf_ann_topk(index, queries, k=3, n_probe=3).orderBy("query_id", "rank")


def q_annotate_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 dev-mode under the hard gate: the Cofree annotation tree of
    the first 60 mutated events docs, flattened to relational rows
    (pointer, schema label, constructor class, via).  For the closed
    {"k": number} schema a valid doc annotates exactly as the root
    StartSchema node (via $object) plus the /k $number node; invalid
    docs carry a NULL tree — all independently reproducible in SQL."""
    from medea_spark.engine import annotate_sample

    df = _events_with_content(spark, sf_dir).orderBy("event_id").limit(60)
    out = annotate_sample(df, _events_graph(), n=60)
    return (
        out.select("event_id", "is_valid", F.explode_outer("annotation").alias("a"))
        .select(
            "event_id",
            "is_valid",
            F.col("a.json_pointer").alias("json_pointer"),
            F.col("a.schema").alias("schema_label"),
            F.col("a.cls").alias("cls"),
            F.col("a.via").alias("via"),
        )
        .orderBy("event_id", "json_pointer")
    )


_IVF_CENTROIDS_PATH = f"{_STAGE_ROOT}/ivf_kmeans_centroids"


def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVF path under the hard gate: MLlib KMeans fits
    the coarse quantizer (fixed seed), the fitted centroids are
    exported to parquet, and assignment + probe + re-rank run through
    the portable relational path (assign_cells: windowless codegen
    argmax).  DuckDB reads the same exported centroids and reproduces
    cell assignment, probe ranking, and the exact re-rank bit-for-bit —
    so the quantizer users actually deploy is oracle-verified, not just
    recall-tested."""
    from medea_spark.pipeline import build_ivf_index, ivf_ann_topk
    from medea_spark.pipeline.ivf import IvfIndex, assign_cells, export_centroids

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = vecs.filter(F.col("vec_id") < 5)
    # The 100 TB fit pattern: sampled KMeans, few iterations — centroid
    # quality only steers cell shapes (n_probe governs recall), and the
    # oracle gates the exported centroids regardless of how they were fit.
    fitted = build_ivf_index(
        vecs, nlist=8, seed=42, portable_assign=True,
        sample_fraction=0.5, max_iter=4, init_mode="random",
    )
    # Driver-side pyarrow write: nlist rows already live on the driver
    # (the fitted model's centers) — a Spark write job for 8 rows is all
    # task-launch + commit overhead.
    export_centroids(fitted, _IVF_CENTROIDS_PATH)
    # Re-read the persisted centroids so Spark and the oracle derive
    # from the identical bytes (KMeans numerics never enter the gate).
    cents = spark.read.parquet(_IVF_CENTROIDS_PATH)
    index = IvfIndex(
        centroids=cents,
        assigned=assign_cells(vecs, cents, "embedding"),
        id_col="vec_id",
        vec_col="embedding",
    )
    return ivf_ann_topk(index, queries, k=3, n_probe=3).orderBy("query_id", "rank")


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs — the operator a dedup user actually
    calls.  Band keys are md5 over the concatenated md5-portable
    min-hashes, so DuckDB rebuilds signatures, bands, and the banded
    equi-join candidate set bit-exactly."""
    docs = _docs_with_dups(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    return minhash_lsh_candidates(docs, "doc_id", "text", n=3, k=8, bands=4).orderBy(
        "doc_a", "doc_b"
    )


_LSH_INDEX_PATH = f"{_STAGE_ROOT}/lsh_band_index"


def q_incremental_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED LSH band index — the shape
    a 100 TB ingest actually runs: the historical corpus is represented
    only by its (doc_id, band, key) index parquet (written once, here,
    and re-read so Spark joins the persisted bytes); the new batch
    (two twins per selected original, disjoint id namespaces) shingles
    locally and equi-joins the index.  Each twin must surface its
    original as new_old and its sibling twin as new_new.  DuckDB
    rebuilds both band relations from the documents table with the
    same md5-portable hash family and replays both joins."""
    from medea_spark.pipeline import incremental_lsh_candidates, minhash_band_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    history = docs.filter(F.col("doc_id") % 10 == 0)
    minhash_band_index(history, "doc_id", "text", n=3, k=8, bands=4).write.mode(
        "overwrite"
    ).parquet(_LSH_INDEX_PATH)
    originals = docs.filter(F.col("doc_id") % 20 == 0)
    new_batch = originals.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    ).unionByName(
        originals.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    )
    index = spark.read.parquet(_LSH_INDEX_PATH)
    return incremental_lsh_candidates(
        new_batch, index, "doc_id", "text", n=3, k=8, bands=4
    ).orderBy("new_doc", "match_doc", "kind")


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (pipeline/dedup.py edit_distance_pairs):
    document title prefixes get single-edit twins (chars 20-22
    replaced), blocking on the untouched first-10-char prefix, and the
    levenshtein gate keeps pairs within distance 6 — each twin must
    surface its original.  Titles are ASCII (verified), so Spark's
    char-based and DuckDB's byte-based levenshtein agree exactly."""
    from medea_spark.pipeline import edit_distance_pairs

    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 2000)
        .select("doc_id", F.substring(F.trim("text"), 1, 60).alias("title"))
    )
    twins = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(
            F.substring("title", 1, 19),
            F.lit("xyz"),
            F.substring("title", 23, 60),
        ).alias("title"),
    )
    return edit_distance_pairs(
        base.unionByName(twins),
        "doc_id",
        "title",
        block=F.substring("title", 1, 10),
        max_dist=6,
    ).withColumn("dist", F.col("dist").cast("bigint")).orderBy("doc_a", "doc_b")


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment
    (pipeline/sampling.py assign_splits): every doc lands in exactly
    one segment by where its md5-60-bit hash falls on the cumulative
    weight intervals.  The Python-computed integer thresholds are
    literals in BOTH plans, so DuckDB reproduces every assignment
    bit-exactly."""
    from medea_spark.pipeline import assign_splits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return assign_splits(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42
    ).orderBy("doc_id")


_STREAM_INC_ROOT = f"{_STAGE_ROOT}/stream_inc_lsh"


def q_stream_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental near-dup detection
    (streaming.incremental_dedup_stream): the history corpus exists
    only as its persisted band index; new documents replay as a
    bounded multi-batch file stream, each micro-batch joins the index
    parquet and appends its own bands to it.  The accumulated pair
    relation is batch-boundary-independent (see the operator
    docstring), so DuckDB's batch recomputation — every band-sharing
    canonical pair among history ∪ stream except history-internal
    ones — must match exactly, however the 4 input files were
    micro-batched."""
    import shutil
    import uuid

    from medea_spark.pipeline import minhash_band_index
    from medea_spark.streaming import incremental_dedup_stream

    root = _STREAM_INC_ROOT
    shutil.rmtree(root, ignore_errors=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    history = docs.filter(F.col("doc_id") % 10 == 0)
    minhash_band_index(history, "doc_id", "text", n=3, k=8, bands=4).write.mode(
        "overwrite"
    ).parquet(f"{root}/index")
    originals = docs.filter(F.col("doc_id") % 20 == 0)
    new_batch = originals.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    ).unionByName(
        originals.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    )
    new_batch.repartition(4).write.mode("overwrite").parquet(f"{root}/input")
    # Two micro-batches (2 files each): new_old AND cross-batch new_new
    # discovery both still exercised (the pair set is batch-boundary-
    # independent by construction); per-batch join/append overhead
    # halved.  _stream_conf also caps the foreachBatch joins' shuffle
    # width (streaming plans never get AQE coalescing).
    stream = (
        spark.readStream.schema(new_batch.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{root}/input")
    )
    with _stream_conf(spark):
        q = incremental_dedup_stream(
            stream,
            spark,
            index_path=f"{root}/index",
            pairs_path=f"{root}/pairs",
            checkpoint=f"{root}/ckpt_{uuid.uuid4().hex[:8]}",
            id_col="doc_id",
            text_col="text",
        )
        q.awaitTermination()
    return spark.read.parquet(f"{root}/pairs").distinct().orderBy("doc_a", "doc_b")


def q_shard_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (pipeline/sharding.py): documents
    spread across 8 deterministic md5-hash packing domains, each
    packed greedily in id order under a 2000-token budget.  No global
    sequence — one hash exchange + per-bucket windows, the layout a
    100 TB training-output writer partitions by.  DuckDB replays the
    bucket hash, exclusive running sum, and dense shard numbering
    bit-exactly."""
    from medea_spark.pipeline import pack_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    packed = pack_shards(docs, "doc_id", "n_tokens", shard_tokens=2000, num_buckets=8)
    return packed.select("doc_id", "n_tokens", "bucket", "shard_seq").orderBy("doc_id")


_STREAM_STATE_INPUT = f"{_STAGE_ROOT}/stream_state_input"


def q_repo_violation_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState) under the
    hard gate: the mutated events table is replayed as a bounded file
    stream (availableNow), per-repo running (rows, invalid) totals are
    maintained across micro-batches, and the FINAL state per repo must
    equal the batch census DuckDB computes from the same rows.  The
    update-mode memory sink keeps one row per (repo, micro-batch);
    running totals are monotone, so the final state is the struct-max
    row per repo."""
    import uuid

    from medea_spark.streaming import repo_violation_state, validate_stream

    prepared = _events_with_content(spark, sf_dir, widen=False).select(
        "event_id",
        F.concat(F.lit("repo"), (F.col("event_id") % 13).cast("string")).alias("repo"),
        "content",
    )
    prepared.repartition(6).write.mode("overwrite").parquet(_STREAM_STATE_INPUT)
    # Two micro-batches (3 files each): running totals still accumulate
    # across a batch boundary; applyInPandasWithState spawns one Python
    # state task PER SHUFFLE PARTITION per batch, so _stream_conf's
    # partition cap is the bigger lever here (13 repos ≪ 64 partitions).
    stream = (
        spark.readStream.schema(prepared.schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(_STREAM_STATE_INPUT)
    )
    validated = validate_stream(stream, _events_graph())
    state = repo_violation_state(validated)
    name = f"repo_state_{uuid.uuid4().hex[:8]}"
    with _stream_conf(spark):
        q = (
            state.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("repo")
        .agg(F.max(F.struct("rows_seen", "invalid_seen")).alias("m"))
        .select(
            "repo",
            F.col("m.rows_seen").alias("rows_seen"),
            F.col("m.invalid_seen").alias("invalid_seen"),
        )
        .orderBy("repo")
    )


_DEDUP_ORACLE_PATH = f"{_STAGE_ROOT}/dedup_validate"


def q_dedup_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dedup-then-validate: one kernel call per distinct content,
    verdicts joined back on the content hash.  The round-tripped corpus
    carries ground-truth verdicts, so DuckDB independently recomputes
    the same per-partition summary — proving the dedup/join plumbing
    changes no verdict (including NULL-content rows)."""
    from medea_spark.engine.dedup_validate import validate_table_deduped
    from medea_spark.engine.partitioning import with_partition_columns

    df = generate_corpus(spark, 15_000, seed=21)
    # Inject NULL contents (the equi-join footgun class): keep the
    # ground-truth columns consistent (NULL is NOT_JSON-invalid).
    df = df.withColumn(
        "content",
        F.when(F.xxhash64("path") % 97 == 0, F.lit(None).cast("string")).otherwise(
            F.col("content")
        ),
    ).withColumn(
        "expected_valid",
        F.when(F.xxhash64("path") % 97 == 0, F.lit(False)).otherwise(
            F.col("expected_valid")
        ),
    )
    with_partition_columns(df, 8).write.mode("overwrite").parquet(_DEDUP_ORACLE_PATH)
    src = spark.read.parquet(_DEDUP_ORACLE_PATH)
    run = validate_table_deduped(src, corpus_schema_graph(), num_partitions=8)
    return run.summary.select(
        "part_id", "rows", "valid_rows", "invalid_rows", "violation_count"
    ).orderBy("part_id")


_CKPT_ORACLE_BASE = f"{_STAGE_ROOT}/checkpoint"
# The generator is deterministic in (rows, seed), so its params ARE the
# content fingerprint; the staged directory is named by
# checkpoint/store.py stage_key and the DuckDB oracle reads the same key.
_CKPT_ORACLE_FP = "generate_corpus:rows=8000:seed=7"
_CKPT_ORACLE_PARTS = 16
_CKPT_ORACLE_WAVES = 4


def _ckpt_stage_key() -> str:
    from medea_spark.checkpoint.store import stage_key

    return stage_key("oracle", _CKPT_ORACLE_FP, _CKPT_ORACLE_PARTS, _CKPT_ORACLE_WAVES)


def q_checkpoint_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2/C3/C15 end-to-end: stage the corpus partitioned by wave_id
    (guaranteed wave pruning), validate wave-by-wave committing
    per-partition checkpoint rows + parquet sinks, then read the
    committed checkpoint table back.  The staged input carries
    ground-truth verdicts and the engine-assigned part ids, so DuckDB
    independently recomputes every per-partition metric the lifecycle
    persisted.  (Deterministically empty partitions are excluded: they
    checkpoint rows=0 rows the oracle's group-by cannot see.)"""
    import shutil

    from medea_spark.checkpoint import CheckpointStore, run_validation_with_checkpoints

    shutil.rmtree(_CKPT_ORACLE_BASE, ignore_errors=True)
    df = generate_corpus(spark, 8_000, seed=7)
    store = CheckpointStore(spark, f"{_CKPT_ORACLE_BASE}/store")
    run_validation_with_checkpoints(
        spark,
        df,
        corpus_schema_graph(),
        store,
        run_id="oracle",
        num_partitions=_CKPT_ORACLE_PARTS,
        n_waves=_CKPT_ORACLE_WAVES,
        # Exercises the safe stage+resume path under the oracle gate
        # instead of tripping the engine's own missing-lineage warning
        # (round-3 verdict item 4).
        input_fingerprint=_CKPT_ORACLE_FP,
        stage_location=f"{_CKPT_ORACLE_BASE}/stage",
    )
    return (
        store.read()
        .filter((F.col("run_id") == "oracle") & (F.col("rows") > 0))
        .select("part_id", "rows", "valid_rows", "invalid_rows", "violation_count")
        .orderBy("part_id")
    )


def q_stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (pipeline/sampling.py): each
    event_type stratum keeps its own md5-hash-selected fraction — the
    SAME rows every run and every engine, so DuckDB reproduces the full
    selected row set bit-exactly (not just the counts)."""
    from medea_spark.pipeline import stratified_sample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return stratified_sample(
        ev,
        "event_type",
        "event_id",
        {"click": 0.5, "error": 1.0},
        default_rate=0.1,
    ).select("event_id", "event_type").orderBy("event_id")


def q_sample_per_group_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling (pipeline/sampling.py
    sample_per_group): the 5 smallest md5-hash-ranked event_ids of every
    event_type — the "show me a few examples per class" inspect read.
    Rank-by-portable-hash, so DuckDB reproduces the exact selected rows
    AND their ranks (one window, no rand())."""
    from medea_spark.pipeline import sample_per_group

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    )
    return (
        sample_per_group(ev, ["event_type"], "event_id", 5)
        .select("event_type", "event_id", "sample_rank")
        .orderBy("event_type", "sample_rank")
    )


def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (pipeline/sampling.py
    weighted_sample): each document keeps with probability
    min(1, n_chars/400) — longer docs proportionally likelier, >=400
    chars kept with certainty.  The md5-hash predicate makes the exact
    selected row set engine-reproducible (DuckDB replays the IEEE rate
    arithmetic and the 60-bit threshold bit-exactly)."""
    from medea_spark.pipeline import weighted_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        weighted_sample(docs, "doc_id", "n_chars", scale=1.0 / 400.0)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-frequent line removal (pipeline/lines.py):
    each document contributes a low-cardinality ``[lang/source]``
    header line plus its unique text line, packed 5-docs-per-composite
    — so the headers are boilerplate shared ACROSS composites (they
    get stripped) while the text lines are unique (they survive, in
    order).  The reassembled text hashes bit-exactly in DuckDB —
    proving the distinct-doc count, the flag join, and positional
    reassembly all replay."""
    from medea_spark.pipeline import remove_boilerplate_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.lit("["), F.col("lang"), F.lit("/"), F.col("source"), F.lit("]\n"),
            F.col("text"),
        ).alias("text"),
    )
    comp = docs.groupBy(
        F.floor(F.col("doc_id") / 5).cast("int").alias("group_id")
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda x: x["text"],
            ),
            "\n",
        ).alias("text")
    )
    return remove_boilerplate_lines(comp, id_col="group_id", min_docs=2).orderBy(
        "group_id"
    )


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (pipeline/sessions.py): per-user
    session summary with 30-minute inactivity gap, all arithmetic in
    integral microseconds so DuckDB's window replay is hash-exact."""
    from medea_spark.pipeline import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    return session_stats(ev, gap_minutes=30).orderBy("user_id", "session_idx")


def q_temporal_validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of schema-version validation (engine/temporal.py): each event
    is judged by the schema ACTIVE AT ITS EVENT TIME.  History: nothing
    before 01:00 on day one (those rows fail NO_ACTIVE_SCHEMA), the
    any-schema v1 until Jan 5 (only NOT_JSON can fail), the closed
    {"k": number} object schema v2 after.  Version assignment is a
    codegen aggregate over literal boundaries — no join, no shuffle."""
    from datetime import datetime

    from medea_spark.engine import SchemaVersion, validate_table_versioned

    versions = [
        SchemaVersion(1, datetime(2024, 1, 1, 1, 0, 0), compile_schema_text("$schema $start\n")),
        SchemaVersion(2, datetime(2024, 1, 5), _events_graph()),
    ]
    df = _events_with_content(spark, sf_dir).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "content"
    )
    out = validate_table_versioned(df, versions)
    return out.select(
        "event_id",
        "schema_version",
        "is_valid",
        # F.get (not getItem): ANSI mode throws on out-of-bounds, and
        # valid rows have an EMPTY violations array.
        F.get(F.col("violations"), 0)
        .getField("failed_constraint")
        .alias("first_violation"),
    ).orderBy("event_id")


def q_dispatch_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row schema dispatch by a DATA column (engine/dispatch.py):
    one kernel pass validates three file families against three
    different schemas, selected by event_type — click rows against the
    closed {"k": number} object, view rows against the any-schema,
    purchase rows against a $string schema (their object payloads all
    fail NOT_ONE_OF_OPTIONS) — and error rows, which have NO
    registered schema, fail the dedicated NO_SCHEMA_FOR_KEY
    constraint.  No per-family scan fan-out, no join; DuckDB replays
    each family's verdict independently."""
    from medea_spark.engine import validate_table_dispatched

    schemas = {
        "click": _events_graph(),
        "view": compile_schema_text("$schema $start\n"),
        "purchase": compile_schema_text("$schema $start\n    $type\n        $string\n"),
    }
    df = _events_with_content(spark, sf_dir).select("event_id", "event_type", "content")
    out = validate_table_dispatched(df, schemas, key_col="event_type")
    return out.select(
        "event_id",
        F.col("event_type").alias("schema_key"),
        "is_valid",
        F.get(F.col("violations"), 0)
        .getField("failed_constraint")
        .alias("first_violation"),
    ).orderBy("event_id")


def q_dispatch_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-family validation census over the dispatched table: one
    map-side-combined aggregation on the dispatch output — rows,
    verdict split, and NO_SCHEMA_FOR_KEY count per schema family (the
    operational dashboard row a heterogeneous corpus owner reads)."""
    from medea_spark.engine import validate_table_dispatched

    schemas = {
        "click": _events_graph(),
        "view": compile_schema_text("$schema $start\n"),
        "purchase": compile_schema_text("$schema $start\n    $type\n        $string\n"),
    }
    df = _events_with_content(spark, sf_dir).select("event_id", "event_type", "content")
    out = validate_table_dispatched(df, schemas, key_col="event_type")
    return (
        out.groupBy(F.col("event_type").alias("schema_key"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("is_valid").cast("long")).alias("valid_rows"),
            F.sum((~F.col("is_valid")).cast("long")).alias("invalid_rows"),
            F.sum(
                (
                    F.get(F.col("violations"), 0).getField("failed_constraint")
                    == "NO_SCHEMA_FOR_KEY"
                ).cast("long")
            ).alias("no_schema_rows"),
        )
        .orderBy("schema_key")
    )


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random projection (pipeline/similarity.py
    random_projection): 64-d embeddings → 8-d coordinates against the
    md5-portable hyperplane family — DuckDB rebuilds the identical
    planes and list_dot_product reproduces the sequential double fold
    bit-for-bit (the established portability fact)."""
    from medea_spark.pipeline import random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 100
    )
    return emb.select(
        "vec_id",
        random_projection(F.col("embedding"), dim=64, out_dim=8, seed=7).alias("proj"),
    ).orderBy("vec_id")


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column quality report (pipeline/similarity.py
    embedding_stats): every encoder failure mode is injected
    deterministically — NULL vectors, truncated (wrong-dim), NaN
    components, all-zero — and counted per class; L2-norm quantiles
    over the surviving clean vectors use exact percentile (identical
    interpolation in DuckDB).  One aggregate pass."""
    from medea_spark.pipeline import embedding_stats

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    m = F.col("vec_id") % 50
    v = F.col("embedding")
    broken = emb.select(
        "vec_id",
        F.when(m == 0, F.lit(None).cast("array<float>"))
        .when(m == 1, F.slice(v, 1, 32))
        .when(m == 2, F.concat(F.array(F.lit(float("nan")).cast("float")), F.slice(v, 2, 63)))
        .when(m == 3, F.transform(v, lambda x: F.lit(0.0).cast("float")))
        .otherwise(v)
        .alias("embedding"),
    )
    return embedding_stats(broken, expected_dim=64)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a candidate-pair graph
    (pipeline/components.py): a deterministic edge set with REAL
    multi-hop chains — doc d links to d+1 whenever the portable md5
    hash of d lands in a third of the space, producing variable-length
    runs — so min-label propagation must actually iterate.  DuckDB
    replays the clustering with a recursive CTE (min reachable id)."""
    from medea_spark.pipeline import duplicate_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 500
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("cc:"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    edges = docs.filter(h % 3 == 0).select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1).alias("doc_b")
    )
    return duplicate_clusters(edges).orderBy("doc_id")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (pipeline/redact.py): deterministic emails / IPv4
    / phone numbers are injected into a subset of documents, then the
    scrub replaces them with placeholder tokens and counts each kind —
    one codegen projection, no Python, no shuffle.  The patterns use
    the Java-regex ∩ RE2 common subset, so DuckDB replays the
    identical substitutions on the full redacted text."""
    from medea_spark.pipeline import scrub_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 5 == 0,
                F.concat(F.lit(" contact admin"), d, F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                d % 7 == 0,
                F.concat(F.lit(" from 10.0."), d % 256, F.lit("."), (d * 3) % 256),
            ).otherwise(F.lit("")),
            F.when(
                d % 11 == 0,
                F.concat(F.lit(" call +4915"), F.lpad(d.cast("string"), 8, "0")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return scrub_table(injected).select(
        "doc_id", "redacted", "n_email", "n_ip", "n_phone"
    ).orderBy("doc_id")


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED cleaning pipeline (pipeline/prep.py): NFC
    normalize → PII redact → quality gate (≥8 words, excess-word
    fraction ≤ 0.9) → exact dedup on the cleaned-content hash (min-id
    keeper; the pipeline's single content exchange) → 24/6
    sliding-window chunking.  Work is injected for EVERY stage: two
    byte-form variants per tenth doc (decomposed vs precomposed
    suffix) that become identical only AFTER normalization — so they
    dedup together (min-id keeper) but not with the original; a
    degenerate spam doc the quality gate drops; a short doc the word
    floor drops; a PII doc whose chunks carry the placeholder tokens.
    DuckDB replays the ENTIRE chain — the composition is gated, not
    just the parts."""
    from medea_spark.engine import ensure_kernel_parallelism
    from medea_spark.pipeline import prepare_corpus

    # Widen AFTER the union (below), not per branch: a repartition
    # applied to the shared scan is duplicated into every derived
    # branch (filter pushdown makes the exchanges non-identical, so
    # ReuseExchange can't fire) — 3 round-robin exchanges of the text
    # bytes where one suffices.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tenth = docs.filter(F.col("doc_id") % 10 == 0)
    variant_a = tenth.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" cafe\u0301")).alias("text"),
    )
    variant_b = tenth.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" caf\u00e9")).alias("text"),
    )
    extras = spark.createDataFrame(
        [
            (900000, "spam " * 49 + "spam"),
            (910000, "too short"),
            (
                920000,
                "please contact a@b.co or call +491234567890 about "
                "billing issues today ok",
            ),
        ],
        ["doc_id", "text"],
    )
    full = ensure_kernel_parallelism(
        docs.unionByName(variant_a).unionByName(variant_b).unionByName(extras)
    )
    return prepare_corpus(full, chunk_tokens=24, overlap=6).orderBy(
        "doc_id", "chunk_id"
    )


def q_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (pipeline/normalize.py): deterministic
    decomposed sequences (combining acute, Hangul jamo) are injected
    into a third of the documents; the Arrow-batched normalizer
    canonicalizes them and flags changed rows.  Python's unicodedata
    and DuckDB's utf8proc implement the same Unicode canonical
    algorithm, so the normalized strings are a true engine
    differential."""
    from medea_spark.pipeline import normalize_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 3 == 0, F.lit(" cafe\u0301 \u1100\u1161"))
            .when(d % 3 == 1, F.lit(" caf\u00e9 \uac00"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return normalize_table(injected).select(
        "doc_id", "normalized", "is_changed"
    ).orderBy("doc_id")


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (pipeline/chunking.py): 24-token
    windows with 6-token overlap — every document yields
    1 + ceil((n-24)/18) chunks, the last one short, empty docs one
    empty chunk.  Tokens staged + pinned; one posexplode bounded by
    n/stride per row.  DuckDB rebuilds every window's offsets and
    reconstructed text verbatim."""
    from medea_spark.pipeline import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, chunk_tokens=24, overlap=6).orderBy(
        "doc_id", "chunk_id"
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-20 normalized terms by occurrence
    (checks/stats.py top_k over the exploded token relation,
    deterministic tie-break) — the quick Zipf-head sanity read on any
    text corpus, and the seed list for stopword curation."""
    from medea_spark.checks import top_k
    from medea_spark.pipeline.decontaminate import _norm_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = docs.select(F.explode(_norm_tokens(F.col("text"))).alias("term"))
    return top_k(terms, ["term"], 20)


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction (textstats.tfidf_top_terms): top-3
    characteristic terms per document over the first 200 docs, smoothed
    idf, deterministic term tie-break, ubiquitous terms (df > 80% of
    docs) dropped before the rank window.  DuckDB recomputes tf/df and
    the identical IEEE ln scores."""
    from medea_spark.pipeline import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    return tfidf_top_terms(
        docs, "doc_id", "text", k=3, min_df=1, max_df_fraction=0.8
    ).orderBy("doc_id", "rank")


def q_quality_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster keeper selection
    (pipeline/components.py quality_keepers): the dedup_clusters graph
    re-kept by document QUALITY — the keeper is the longest document
    (n_chars as the score) of each duplicate cluster, min-id
    tie-break, not the smallest id.  Windowless argmax: hash-agg of
    max(struct(score, -id)) + same-key join back, nothing sorts.
    DuckDB replays the recursive-CTE clustering plus a rank window."""
    from medea_spark.pipeline import duplicate_clusters, quality_keepers

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 500
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("cc:"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    edges = docs.filter(h % 3 == 0).select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1).alias("doc_b")
    )
    clusters = duplicate_clusters(edges)
    # Quality from the UNFILTERED table: edge targets can step one past
    # the subset boundary, and a mentioned node with no quality row
    # must still rank (below every scored doc) rather than vanish.
    quality = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("n_chars").cast("double").alias("score")
    )
    return quality_keepers(clusters, quality).orderBy("doc_id")


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring (pipeline/lm.py): train add-1
    smoothed bigram counts on the FULL documents corpus (two explode →
    hash-agg passes), then score the first 300 documents — the
    CCNet-style quality signal (low perplexity = in-distribution text,
    high = noise/outlier).  LM relations broadcast; the corpus side
    never shuffles raw text.  DuckDB independently rebuilds the same
    counts and the identical IEEE ln scores; doubles rounded to 6
    decimals (irrational values — no half-tie exposure)."""
    from medea_spark.pipeline import bigram_counts, perplexity, unigram_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    uni = unigram_counts(docs, "text")
    bi = bigram_counts(docs, "text")
    scored = perplexity(
        docs.filter(F.col("doc_id") < 300), "doc_id", "text", uni, bi, alpha=1.0
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_logprob", 6).alias("avg_logprob"),
        F.round("perplexity", 6).alias("perplexity"),
    ).orderBy("doc_id")


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (pipeline/textstats.py
    repetition_stats): per-document excess-word fraction plus top/excess
    2-gram and 3-gram fractions, all columnar (sorted-array fold for
    the top-gram multiplicity — no explode, no shuffle).  Integer
    ratios in IEEE doubles; DuckDB rebuilds the identical n-gram
    multisets and per-gram counts."""
    from medea_spark.pipeline import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_stats(docs, "doc_id", "text", ns=(2, 3)).orderBy("doc_id")


def q_decontam_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (pipeline/decontaminate.py): every 17th
    document plays the benchmark; the whole corpus is scanned for
    8-gram overlap against the eval set's broadcast hash set.  Eval
    members self-hit at ratio 1.0, near-duplicates partially, clean
    docs 0 — and short (<8-token) docs report zero n-grams rather than
    vanishing.  The n-gram hash is the portable 60-bit md5, so DuckDB
    rebuilds the identical hash sets and the full report matches
    bit-for-bit.  Tokens are staged + pinned (SPARK-36718 convention)
    and the scan is widened via ensure_kernel_parallelism — the gram
    stage is CPU-bound and a small parquet scans as one split."""
    from medea_spark.engine import ensure_kernel_parallelism
    from medea_spark.pipeline import contamination_report

    docs = ensure_kernel_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    eval_df = docs.filter(F.col("doc_id") % 17 == 0)
    return contamination_report(docs, eval_df, n=8).orderBy("doc_id")


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling (pipeline/sampling.py): per-lang
    keep-rates are computed from aggregate token totals to hit a
    20k-token budget at 60/20/20 en/de/fr weights, then the
    deterministic hash predicate selects rows.  DuckDB recomputes the
    totals, the rates (same IEEE double arithmetic, same operation
    order), and the exact selected row set."""
    from medea_spark.pipeline import build_training_mix
    from medea_spark.pipeline.textstats import token_count_ws

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mix, _rates = build_training_mix(
        docs,
        "lang",
        "doc_id",
        token_count_ws(F.col("text")),
        {"en": 0.6, "de": 0.2, "fr": 0.2},
        token_budget=20_000,
    )
    return mix.select("doc_id", "lang").orderBy("doc_id")


_STREAM_DEDUP_INPUT = f"{_STAGE_ROOT}/stream_dedup_input"


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (streaming.dedup_stream): events with
    injected exact duplicates are replayed as a bounded multi-batch
    file stream and deduped with dropDuplicatesWithinWatermark; the
    surviving id set must equal DuckDB's batch DISTINCT over the same
    staged bytes.  Event times are compressed into a 5-minute span
    (inside the 10-minute watermark) so files replaying in arbitrary
    order can never drop a row as LATE — only as a duplicate."""
    import uuid

    from medea_spark.streaming import dedup_stream

    # Cap the replay at 30k base rows: the dedup semantics and the
    # multi-batch shape are fully exercised either way (sf0.01 keeps
    # every row), and streaming state-store cost scales with rows.
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_id") < 30_000)
        .select(
            "event_id",
            F.timestamp_seconds(F.lit(1704067200) + F.col("event_id") % 300).alias(
                "ts"
            ),
        )
    )
    staged = ev.unionByName(ev.filter(F.col("event_id") % 5 == 0))
    staged.repartition(6).write.mode("overwrite").parquet(_STREAM_DEDUP_INPUT)
    # Two micro-batches (3 files each): duplicates still straddle the
    # batch boundary (round-robin staging), halved state-commit count.
    stream = (
        spark.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(_STREAM_DEDUP_INPUT)
    )
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    with _stream_conf(spark):
        q = (
            dedup_stream(stream, ["event_id"], "ts", "10 minutes")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select("event_id").orderBy("event_id")


def q_asof_profile_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic as-of join (pipeline/asof.py): every event picks up the
    latest per-user snapshot at-or-before its own timestamp (every
    20th event doubles as a profile snapshot).  The Spark side never
    expands — per-key sorted history arrays + a codegen scan — and the
    oracle is DuckDB's NATIVE ASOF JOIN: an engine-vs-engine
    differential of the semantics themselves."""
    from medea_spark.pipeline import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    snapshots = ev.filter(F.col("event_id") % 20 == 0).select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        snapshots,
        by=["user_id"],
        value_cols=["value"],
    )
    return out.select("event_id", "asof_ts", "asof_value").orderBy("event_id")


_MEDIA_DECODE_INPUT = f"{_STAGE_ROOT}/media_decode_input"


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode (pipeline/media_codecs.py): 500 generator-built
    BMP/WAV/PNG blobs (plus injected truncations) round-trip through
    parquet, and the decoder parses the ACTUAL BYTES — magic sniff,
    header walk, zlib inflate + scanline unfilter for PNG, pixel/sample
    reconstruction, canonical content hash.  DuckDB reads the
    generator's pre-encode ground-truth columns from the same staged
    file: a true encode→bytes→decode differential.  Only formats whose
    codecs genuinely need external libraries (JPEG/MP4) remain
    stubbed."""
    from medea_spark.pipeline.multimodal import decode_media, synthetic_decodable_media

    synthetic_decodable_media(spark, 500, seed=11).write.mode("overwrite").parquet(
        _MEDIA_DECODE_INPUT
    )
    staged = spark.read.parquet(_MEDIA_DECODE_INPUT)
    return decode_media(staged).select(
        "media_id",
        "decode_ok",
        "format",
        "width",
        "height",
        "sample_rate",
        "n_samples",
        "content_sha",
    ).orderBy("media_id")


def q_check_suite_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative check suite (checks/suite.py): seven expectations
    over the events table compiled into ONE aggregate pass; DuckDB
    recomputes every conditional count independently."""
    from medea_spark.checks import (
        accepted_values,
        in_range,
        matches,
        min_rows,
        not_null,
        run_check_suite,
        unique,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rules = [
        not_null("user_id"),
        not_null("props"),
        in_range("value", 0.0, 15.0),
        matches("event_type", "^[a-z]+$"),
        accepted_values("event_type", ["click", "view", "purchase", "error"]),
        unique(["event_id"]),
        min_rows(1000),
    ]
    return run_check_suite(ev, rules).orderBy("rule_id")


def q_check_suite_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-uniqueness rules (checks/suite.py unique_sampled):
    the deterministic hash-slice estimator — est = 2^shift ×
    countDistinct(keys in a 2^-shift md5 slice) — is integer-exact and
    engine-portable, so DuckDB recomputes the SAME estimate bit-for-bit
    (unlike HLL, whose sketch is engine-specific; the
    unique(approx=True) HLL path is gated by unit tests instead).
    The sampled Expand branch carries only ~2^-shift of the row
    stream — the 100-TB answer for suites with many uniqueness rules."""
    from medea_spark.checks import min_rows, not_null, run_check_suite, unique, unique_sampled

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rules = [
        unique(["event_id"]),
        unique_sampled(["user_id"], shift=3, max_violations=10**6),
        unique_sampled(["event_id", "event_type"], shift=2, max_violations=100),
        not_null("event_id"),
        min_rows(1),
    ]
    return run_check_suite(ev, rules).orderBy("rule_id")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship at sf0.001: kernel validation over the JSON column with
    the violation census."""
    return q_medea_violation_classes(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "medea_validate_rows": q_medea_validate_rows,
        "medea_violation_classes": q_medea_violation_classes,
        "medea_violation_rows": q_medea_violation_rows,
        "medea_validation_summary": q_medea_validation_summary,
        "colstats_lineitem": q_colstats_lineitem,
        "colstats_quantiles": q_colstats_quantiles,
        "dup_keys_events": q_dup_keys_events,
        "uniqueness_events": q_uniqueness_events,
        "stream_census": q_stream_census,
        "ri_orphans": q_ri_orphans,
        "hist_lang_size": q_hist_lang_size,
        "drift_chi2": q_drift_chi2,
        "drift_psi": q_drift_psi,
        "relationship_orders": q_relationship_orders,
        "benford_prices": q_benford_prices,
        "k_anon_events": q_k_anon_events,
        "fd_part_supplier": q_fd_part_supplier,
        "mad_outliers_lineitem": q_mad_outliers_lineitem,
        "drift_ks": q_drift_ks,
        "drift_ks_by_type": q_drift_ks_by_type,
        "drift_wasserstein": q_drift_wasserstein,
        "entropy_profile": q_entropy_profile,
        "zorder_events": q_zorder_events,
        "merge_upsert_docs": q_merge_upsert_docs,
        "corr_lineitem": q_corr_lineitem,
        "time_gaps_events": q_time_gaps_events,
        "volume_anomalies_events": q_volume_anomalies,
        "monotonic_events": q_monotonic_events,
        "topk_langs": q_topk_langs,
        "docs_setdiff": q_docs_setdiff,
        "corpus_validation": q_corpus_validation,
        "medea_nested_rows": q_medea_nested_rows,
        "medea_nested_classes": q_medea_nested_classes,
        "text_profile": q_text_profile,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "jaccard_pairs": q_jaccard_pairs,
        "containment_pairs": q_containment_pairs,
        "jaccard_char_pairs": q_jaccard_char_pairs,
        "ann_cosine_topk": q_ann_cosine_topk,
        "simhash_groups": q_simhash_groups,
        "simhash_near_pairs": q_simhash_near_pairs,
        "lsh_ann_topk": q_lsh_ann_topk,
        "media_features": q_media_features,
        "frame_plan": q_frame_plan,
        "media_resize": q_media_resize,
        "embed_near_dups": q_embed_near_dups,
        "embed_dup_clusters": q_embed_dup_clusters,
        "annotate_sample": q_annotate_sample,
        "ivf_ann_topk": q_ivf_ann_topk,
        "ivf_kmeans_topk": q_ivf_kmeans_topk,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "incremental_lsh_pairs": q_incremental_lsh_pairs,
        "shard_pack_docs": q_shard_pack_docs,
        "stream_incremental_lsh": q_stream_incremental_lsh,
        "split_assign_docs": q_split_assign,
        "fuzzy_match_pairs": q_fuzzy_pairs,
        "repo_violation_state": q_repo_violation_state,
        "checkpoint_lifecycle": q_checkpoint_lifecycle,
        "stratified_sample_events": q_stratified_sample_events,
        "sample_per_group_events": q_sample_per_group_events,
        "boilerplate_lines": q_boilerplate_lines,
        "weighted_sample_docs": q_weighted_sample_docs,
        "sessionize_events": q_sessionize_events,
        "stream_sessions": q_stream_sessions,
        "temporal_validate_events": q_temporal_validate_events,
        "dispatch_validate": q_dispatch_validate,
        "dispatch_census": q_dispatch_census,
        "embedding_stats": q_embedding_stats,
        "random_projection": q_random_projection,
        "decontam_docs": q_decontam_docs,
        "lm_perplexity": q_lm_perplexity,
        "quality_keepers": q_quality_keepers,
        "repetition_profile": q_repetition_profile,
        "tfidf_terms": q_tfidf_terms,
        "vocab_topk": q_vocab_topk,
        "pii_scrub": q_pii_scrub,
        "chunk_docs": q_chunk_docs,
        "unicode_nfc": q_unicode_nfc,
        "corpus_prep": q_corpus_prep,
        "dedup_clusters": q_dedup_clusters,
        "training_mix": q_training_mix,
        "check_suite_events": q_check_suite_events,
        "check_suite_approx": q_check_suite_approx,
        "stream_dedup": q_stream_dedup,
        "asof_profile_join": q_asof_profile_join,
        "media_decode": q_media_decode,
        "dedup_validate": q_dedup_validate,
    }


def _lang_scores_duckdb() -> str:
    """Per-language trigram-overlap score columns (s_en, s_de, ...) —
    generated from the SAME profile constants the Spark lang_id uses,
    so both engines score from one source of truth."""
    from medea_spark.pipeline.textstats import LANG_ORDER, LANG_PROFILES

    cols = []
    for lang in LANG_ORDER:
        arr = ", ".join(
            "'" + tri.replace("'", "''") + "'" for tri in LANG_PROFILES[lang]
        )
        cols.append(f"len(list_intersect(tris, [{arr}])) as s_{lang}")
    return ",\n                   ".join(cols)


def _lang_guess_duckdb() -> str:
    """The argmax CASE: highest overlap wins, ties break in declared
    language order, best overlap < LANG_MIN_OVERLAP -> 'unknown'."""
    from medea_spark.pipeline.textstats import LANG_MIN_OVERLAP, LANG_ORDER

    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_ORDER) + ")"
    lines = [f"case when {best} < {LANG_MIN_OVERLAP} then 'unknown'"]
    for lang in LANG_ORDER:
        lines.append(f"when s_{lang} = {best} then '{lang}'")
    lines.append("else 'unknown' end")
    return "\n                    ".join(lines)


def oracle_sql() -> dict[str, str]:
    return {
        "medea_validate_rows": _ORACLE_EVENTS_CTE
        + "select event_id, (failed_constraint is null) as is_valid from judged",
        "medea_violation_classes": _ORACLE_EVENTS_CTE
        + """
        select failed_constraint, count(*) as cnt
        from judged where failed_constraint is not null
        group by failed_constraint order by failed_constraint
        """,
        "medea_violation_rows": _ORACLE_EVENTS_CTE
        + """
        , wellformed as (
            select event_id, content from mutated
            where content is not null and json_valid(content)
              and json_type(content) = 'OBJECT'
        ), v_notjson as (
            select event_id, '' as json_pointer, 'NOT_JSON' as failed_constraint,
                   '' as schema_name
            from mutated where content is null or not json_valid(content)
        ), v_roottype as (
            select event_id, '' as json_pointer, 'NOT_ONE_OF_OPTIONS' as failed_constraint,
                   '$start' as schema_name
            from mutated
            where content is not null and json_valid(content)
              and json_type(content) <> 'OBJECT'
        ), v_banned as (
            select event_id, '/' || k as json_pointer,
                   'ADDITIONAL_PROP_FOUND_BUT_BANNED' as failed_constraint,
                   '$start' as schema_name
            from (select event_id, unnest(json_keys(content)) as k from wellformed)
            where k <> 'k'
        ), v_missing as (
            select event_id, '/k' as json_pointer,
                   'REQUIRED_PROPERTY_IS_MISSING' as failed_constraint,
                   '$start' as schema_name
            from wellformed where json_type(content, '$.k') is null
        ), v_type as (
            select event_id, '/k' as json_pointer,
                   'NOT_ONE_OF_OPTIONS' as failed_constraint,
                   '$start' as schema_name
            from wellformed
            where json_type(content, '$.k') is not null
              and json_type(content, '$.k') not in ('BIGINT', 'UBIGINT', 'DOUBLE')
        )
        select * from v_notjson
        union all select * from v_roottype
        union all select * from v_banned
        union all select * from v_missing
        union all select * from v_type
        order by event_id, json_pointer, failed_constraint
        """,
        "medea_validation_summary": _ORACLE_EVENTS_CTE
        + """
        select count(*) as n_rows,
               cast(sum(case when failed_constraint is null then 1 else 0 end) as bigint) as n_valid,
               cast(sum(case when failed_constraint is null then 0 else 1 end) as bigint) as n_invalid,
               count(distinct sha256(content)) as distinct_sha
        from judged
        """,
        "colstats_quantiles": """
        with q as (
          select quantile_cont(l_extendedprice, [0.1, 0.25, 0.5, 0.75, 0.99]) as qa,
                 quantile_cont(l_quantity,      [0.1, 0.25, 0.5, 0.75, 0.99]) as qb,
                 quantile_cont(l_discount,      [0.1, 0.25, 0.5, 0.75, 0.99]) as qc
          from lineitem
        ), p(i, prob) as (
          values (1, cast(0.1 as double)), (2, cast(0.25 as double)),
                 (3, cast(0.5 as double)), (4, cast(0.75 as double)),
                 (5, cast(0.99 as double))
        ), c(col_name) as (
          values ('l_extendedprice'), ('l_quantity'), ('l_discount')
        )
        select c.col_name, p.prob,
               cast(case c.col_name when 'l_extendedprice' then q.qa[p.i]
                                    when 'l_quantity' then q.qb[p.i]
                                    else q.qc[p.i] end as double) as value
        from q, p, c
        order by col_name, prob
        """,
        "colstats_lineitem": """
        with cols as (
            select 'l_orderkey' as col_name, count(*) as n_rows,
                   cast(sum(case when l_orderkey is null then 1 else 0 end) as bigint) as n_nulls,
                   cast(min(l_orderkey) as varchar) as min_value,
                   cast(max(l_orderkey) as varchar) as max_value,
                   count(distinct l_orderkey) as distinct_count
            from lineitem
            union all
            select 'l_quantity', count(*),
                   cast(sum(case when l_quantity is null then 1 else 0 end) as bigint),
                   cast(min(l_quantity) as varchar), cast(max(l_quantity) as varchar),
                   count(distinct l_quantity)
            from lineitem
            union all
            select 'l_returnflag', count(*),
                   cast(sum(case when l_returnflag is null then 1 else 0 end) as bigint),
                   cast(min(l_returnflag) as varchar), cast(max(l_returnflag) as varchar),
                   count(distinct l_returnflag)
            from lineitem
        )
        select col_name, n_rows, n_nulls,
               round(cast(n_nulls as double) / greatest(n_rows, 1), 6) as null_rate,
               min_value, max_value, distinct_count
        from cols order by col_name
        """,
        "dup_keys_events": """
        select user_id, event_type, count(*) as dup_count
        from events group by user_id, event_type having count(*) > 1
        order by user_id, event_type
        """,
        "uniqueness_events": """
        with dups as (
            select user_id, event_type, count(*) as c
            from events group by 1, 2 having count(*) > 1
        )
        select (select count(*) from events) as total_rows,
               (select count(*) from (select distinct user_id, event_type from events)) as distinct_keys,
               cast(coalesce((select count(*) from dups), 0) as bigint) as duplicate_keys,
               cast(coalesce((select sum(c - 1) from dups), 0) as bigint) as surplus_rows
        """,
        "stream_census": f"""
        with mutated as (
            select event_id, ts, ({_ORACLE_CONTENT}) as content from events
        ), judged as (
            select ts, ({_ORACLE_CONSTRAINT}) as failed_constraint from mutated
        )
        select date_trunc('minute', ts) as minute_start,
               failed_constraint, count(*) as cnt
        from judged where failed_constraint is not null
        group by 1, 2 order by minute_start, failed_constraint
        """,
        "ri_orphans": """
        select e.user_id as custkey, count(*) as orphan_rows
        from events e
        left join (select c_custkey from customer where c_custkey % 7 <> 0) c
               on e.user_id = c.c_custkey
        where c.c_custkey is null
        group by e.user_id order by orphan_rows desc, custkey asc
        """,
        "hist_lang_size": """
        select lang,
               cast(case when n_chars <= 0 then -1 else floor(log2(n_chars)) end as int)
                   as size_bucket,
               count(*) as cnt
        from documents group by 1, 2 order by lang, size_bucket
        """,
        "drift_chi2": """
        with hist as (
            select lang,
                   cast(sum(case when cast(substr(source, 4, 10) as int) % 2 = 1 then 1 else 0 end) as bigint) as o,
                   cast(sum(case when cast(substr(source, 4, 10) as int) % 2 = 0 then 1 else 0 end) as bigint) as b
            from documents group by lang
        ), tot as (
            select cast(sum(o) as bigint) as n_cur, cast(sum(b) as bigint) as n_base from hist
        ), cells as (
            select h.o,
                   case when h.b > 0
                        then h.b * cast(t.n_cur as double) / t.n_base
                        else 0.5 end as e,
                   t.n_cur, t.n_base
            from hist h cross join tot t
        )
        select round(sum(pow(o - e, 2) / e), 4) as statistic,
               count(*) - 1 as dof,
               max(n_cur) as n_current,
               max(n_base) as n_baseline
        from cells
        """,
        "drift_psi": """
        with hist as (
            select lang,
                   cast(sum(case when cast(substr(source, 4, 10) as int) % 2 = 1 then 1 else 0 end) as bigint) as o,
                   cast(sum(case when cast(substr(source, 4, 10) as int) % 2 = 0 then 1 else 0 end) as bigint) as b
            from documents group by lang
        ), tot as (
            select cast(sum(o) as bigint) as n_cur, cast(sum(b) as bigint) as n_base from hist
        ), cells as (
            select greatest(h.o / cast(t.n_cur as double), 1e-6) as p,
                   greatest(h.b / cast(t.n_base as double), 1e-6) as q
            from hist h cross join tot t
        )
        select round(sum((p - q) * ln(p / q)), 6) as psi,
               cast(count(*) as bigint) as n_cells
        from cells
        """,
        "benford_prices": """
        with counts as (
          select cast(floor(l_extendedprice / pow(10.0, floor(log10(l_extendedprice)))) as int) as digit,
                 cast(count(*) as bigint) as observed
          from lineitem
          where l_extendedprice is not null and l_extendedprice > 0
          group by 1
        ), digits as (
          select d as digit, log10(1.0 + 1.0 / d) as p
          from generate_series(1, 9) t(d)
        ), total as (
          select cast(sum(observed) as bigint) as n from counts
        )
        select dg.digit,
               coalesce(c.observed, 0) as observed,
               round(dg.p * t.n, 6) as expected,
               round(pow(coalesce(c.observed, 0) - dg.p * t.n, 2) / (dg.p * t.n), 6)
                 as chi2_term
        from digits dg
        left join counts c using (digit)
        cross join total t
        order by digit
        """,
        "relationship_orders": """
        with cust2 as (
            select c_custkey from customer
            union all
            select c_custkey from customer where c_custkey % 97 = 0
        ), lc as (
            select o_custkey as key, cast(count(*) as bigint) as left_count
            from orders where o_custkey is not null group by 1
        ), rc as (
            select c_custkey as key, cast(count(*) as bigint) as right_count
            from cust2 where c_custkey is not null group by 1
        )
        select coalesce(lc.key, rc.key) as key,
               coalesce(left_count, 0) as left_count,
               coalesce(right_count, 0) as right_count,
               'duplicate_right' as violation
        from lc full outer join rc on lc.key = rc.key
        where coalesce(right_count, 0) > 1
        order by key
        """,
        "k_anon_events": """
        select user_id, event_type, cast(count(*) as bigint) as group_size
        from events
        group by user_id, event_type
        having count(*) < 8
        order by user_id, event_type
        """,
        "drift_ks": """
        with a as (
            select cast(value as double) as x, cast(count(*) as bigint) as ca
            from events where user_id % 2 = 1 and value is not null
            group by 1
        ), b as (
            select cast(value as double) as x, cast(count(*) as bigint) as cb
            from events where user_id % 2 = 0 and value is not null
            group by 1
        ), j as (
            select coalesce(a.x, b.x) as x,
                   coalesce(ca, 0) as ca, coalesce(cb, 0) as cb
            from a full outer join b on a.x = b.x
        ), t as (
            select cast(sum(ca) as bigint) as n_a,
                   cast(sum(cb) as bigint) as n_b
            from j
        ), e as (
            select sum(ca) over (order by x rows between unbounded preceding
                                 and current row) / n_a as fa,
                   sum(cb) over (order by x rows between unbounded preceding
                                 and current row) / n_b as fb,
                   n_a, n_b
            from j, t
        )
        select round(max(abs(fa - fb)), 6) as ks_stat,
               cast(min(n_a) as bigint) as n_current,
               cast(min(n_b) as bigint) as n_baseline,
               cast(count(*) as bigint) as n_values
        from e
        """,
        "drift_ks_by_type": """
        with a as (
            select event_type, cast(value as double) as x,
                   cast(count(*) as bigint) as ca
            from events where user_id % 2 = 1 and value is not null
            group by 1, 2
        ), b as (
            select event_type, cast(value as double) as x,
                   cast(count(*) as bigint) as cb
            from events where user_id % 2 = 0 and value is not null
            group by 1, 2
        ), j as (
            select coalesce(a.event_type, b.event_type) as event_type,
                   coalesce(a.x, b.x) as x,
                   coalesce(ca, 0) as ca, coalesce(cb, 0) as cb
            from a full outer join b
              on a.event_type = b.event_type and a.x = b.x
        ), e as (
            select event_type,
                   sum(ca) over (partition by event_type order by x
                                 rows between unbounded preceding and current row)
                       / nullif(sum(ca) over (partition by event_type), 0) as fa,
                   sum(cb) over (partition by event_type order by x
                                 rows between unbounded preceding and current row)
                       / nullif(sum(cb) over (partition by event_type), 0) as fb,
                   sum(ca) over (partition by event_type) as n_a,
                   sum(cb) over (partition by event_type) as n_b
            from j
        )
        select event_type,
               round(max(abs(fa - fb)), 6) as ks_stat,
               cast(min(n_a) as bigint) as n_current,
               cast(min(n_b) as bigint) as n_baseline,
               cast(count(*) as bigint) as n_values
        from e
        group by event_type
        order by event_type
        """,
        "merge_upsert_docs": """
        with upd as (
          select doc_id,
                 'rev2 ' || upper(lang) as text,
                 lang, source,
                 cast(length('rev2 ' || upper(lang)) as bigint) as n_chars
          from documents where doc_id >= 200 and doc_id < 600
        ), kept as (
          select b.doc_id, b.text, b.lang, b.source, b.n_chars
          from documents b
          where b.doc_id < 400
            and not exists (select 1 from upd u where u.doc_id = b.doc_id)
        )
        select * from kept
        union all
        select * from upd
        order by doc_id
        """,
        "zorder_events": """
        with q as (
          select event_id,
                 greatest(least(coalesce(cast(floor((cast(user_id as double) - 0.0)
                          / 2000.0 * 65536) as bigint), 0), 65535), 0) as qx,
                 greatest(least(coalesce(cast(floor((cast(value as double) - 0.0)
                          / 600.0 * 65536) as bigint), 0), 65535), 0) as qy
          from events
        ), s1 as (
          select event_id, qx, qy,
                 (qx | (qx << 16)) & 281470681808895 as sx,
                 (qy | (qy << 16)) & 281470681808895 as sy
          from q
        ), s2 as (
          select event_id, qx, qy,
                 (sx | (sx << 8)) & 71777214294589695 as sx,
                 (sy | (sy << 8)) & 71777214294589695 as sy
          from s1
        ), s3 as (
          select event_id, qx, qy,
                 (sx | (sx << 4)) & 1085102592571150095 as sx,
                 (sy | (sy << 4)) & 1085102592571150095 as sy
          from s2
        ), s4 as (
          select event_id, qx, qy,
                 (sx | (sx << 2)) & 3689348814741910323 as sx,
                 (sy | (sy << 2)) & 3689348814741910323 as sy
          from s3
        ), s5 as (
          select event_id, qx, qy,
                 (sx | (sx << 1)) & 6148914691236517205 as sx,
                 (sy | (sy << 1)) & 6148914691236517205 as sy
          from s4
        )
        select event_id, qx, qy, (sx | (sy << 1)) as zval
        from s5 order by event_id
        """,
        "entropy_profile": """
        with lang_c as (
          select lang as v, cast(count(*) as bigint) as cnt
          from documents group by lang
        ), src_c as (
          select source as v, cast(count(*) as bigint) as cnt
          from documents group by source
        ), lang_e as (
          select 'lang' as col_name,
                 cast(sum(cnt) as bigint) as n_values,
                 cast(count(*) as bigint) as n_distinct,
                 ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt) as h
          from lang_c
        ), src_e as (
          select 'source' as col_name,
                 cast(sum(cnt) as bigint) as n_values,
                 cast(count(*) as bigint) as n_distinct,
                 ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt) as h
          from src_c
        ), u as (
          select * from lang_e union all select * from src_e
        )
        select col_name, n_values, n_distinct,
               round(h, 6) as entropy,
               round(case when n_distinct > 1 then h / ln(n_distinct)
                          else 0.0 end, 6) as normalized_entropy
        from u order by col_name
        """,
        "corr_lineitem": """
        with pairs(col_a, col_b) as (
          values ('l_quantity', 'l_extendedprice'),
                 ('l_quantity', 'l_discount'),
                 ('l_quantity', 'l_tax'),
                 ('l_extendedprice', 'l_discount'),
                 ('l_extendedprice', 'l_tax'),
                 ('l_discount', 'l_tax')
        ), vals as (
          select p.col_a, p.col_b,
                 case p.col_a when 'l_quantity' then l.l_quantity
                              when 'l_extendedprice' then l.l_extendedprice
                              when 'l_discount' then l.l_discount
                              else l.l_tax end as x,
                 case p.col_b when 'l_extendedprice' then l.l_extendedprice
                              when 'l_discount' then l.l_discount
                              else l.l_tax end as y
          from lineitem l cross join pairs p
        ), m as (
          select col_a, col_b,
                 cast(count(*) filter (x is not null and y is not null) as bigint) as n,
                 sum(x) filter (x is not null and y is not null) as sx,
                 sum(y) filter (x is not null and y is not null) as sy,
                 sum(x * y) filter (x is not null and y is not null) as sxy,
                 sum(x * x) filter (x is not null and y is not null) as sxx,
                 sum(y * y) filter (x is not null and y is not null) as syy
          from vals group by col_a, col_b
        )
        select col_a, col_b, n,
               round(case when (cast(n as double) * sxx - sx * sx) > 0
                           and (cast(n as double) * syy - sy * sy) > 0
                          then (cast(n as double) * sxy - sx * sy)
                               / sqrt((cast(n as double) * sxx - sx * sx)
                                      * (cast(n as double) * syy - sy * sy))
                     end, 6) as corr
        from m order by col_a, col_b
        """,
        "drift_wasserstein": """
        with a as (
            select cast(value as double) as x, cast(count(*) as bigint) as ca
            from events where user_id % 2 = 1 and value is not null
            group by 1
        ), b as (
            select cast(value as double) as x, cast(count(*) as bigint) as cb
            from events where user_id % 2 = 0 and value is not null
            group by 1
        ), j as (
            select coalesce(a.x, b.x) as x,
                   coalesce(ca, 0) as ca, coalesce(cb, 0) as cb
            from a full outer join b on a.x = b.x
        ), t as (
            select cast(sum(ca) as bigint) as n_a,
                   cast(sum(cb) as bigint) as n_b
            from j
        ), e as (
            select sum(ca) over (order by x rows between unbounded preceding
                                 and current row) / n_a as fa,
                   sum(cb) over (order by x rows between unbounded preceding
                                 and current row) / n_b as fb,
                   lead(x) over (order by x) - x as gap,
                   n_a, n_b
            from j, t
        )
        select round(sum(abs(fa - fb) * coalesce(gap, 0)), 6) as w1_distance,
               cast(min(n_a) as bigint) as n_current,
               cast(min(n_b) as bigint) as n_baseline,
               cast(count(*) as bigint) as n_values
        from e
        """,
        "time_gaps_events": """
        with observed as (
            select distinct date_trunc('minute', ts) as bucket
            from events where ts is not null
        ), bounds as (
            select min(bucket) as lo, max(bucket) as hi from observed
        ), expected as (
            select unnest(generate_series(lo, hi, interval 1 minute)) as bucket
            from bounds
        )
        select e.bucket
        from expected e
        where not exists (select 1 from observed o where o.bucket = e.bucket)
        order by e.bucket
        """,
        "volume_anomalies_events": """
        with counts as (
            select date_trunc('hour', ts) as bucket,
                   cast(count(*) as bigint) as cnt
            from events where ts is not null
            group by 1
        ), bounds as (
            select min(bucket) as lo, max(bucket) as hi from counts
        ), expected as (
            select unnest(generate_series(lo, hi, interval 1 hour)) as bucket
            from bounds
        ), filled as (
            select e.bucket, cast(coalesce(c.cnt, 0) as bigint) as cnt
            from expected e left join counts c on c.bucket = e.bucket
        ), m as (
            select quantile_cont(cnt, 0.5) as median_cnt from filled
        ), d as (
            select f.bucket, f.cnt, m.median_cnt,
                   abs(f.cnt - m.median_cnt) as abs_dev
            from filled f, m
        ), md as (
            select quantile_cont(abs_dev, 0.5) as mad_cnt from d
        ), s as (
            select d.bucket, d.cnt, d.median_cnt, md.mad_cnt,
                   case when md.mad_cnt > 0
                        then cast(0.6745 as double) * (d.cnt - d.median_cnt) / md.mad_cnt
                   end as modified_z
            from d, md
        )
        select bucket, cnt, median_cnt, mad_cnt, modified_z
        from s
        where (mad_cnt > 0 and abs(modified_z) > 2.0)
           or (mad_cnt = 0 and cnt <> median_cnt)
        order by bucket
        """,
        "monotonic_events": """
        with v as (
            select user_id, ts, value,
                   lag(value) over (partition by user_id order by ts)
                       as prev_value
            from events
        )
        select user_id, ts, prev_value, value
        from v
        where prev_value > value
        order by user_id, ts
        """,
        "fd_part_supplier": """
        select l_partkey,
               cast(count(*) as bigint) as n_rows,
               cast(count(distinct l_suppkey) as bigint) as n_variants,
               min(l_suppkey) as variant_min,
               max(l_suppkey) as variant_max
        from lineitem
        group by l_partkey
        having count(distinct l_suppkey) > 1
        order by l_partkey
        """,
        "mad_outliers_lineitem": """
        with med as (
            select quantile_cont(l_extendedprice, 0.5) as m_p,
                   quantile_cont(l_quantity, 0.5) as m_q
            from lineitem
        ), mad as (
            select m_p, m_q,
                   quantile_cont(abs(l_extendedprice - m_p), 0.5) as d_p,
                   quantile_cont(abs(l_quantity - m_q), 0.5) as d_q
            from lineitem, med
            group by m_p, m_q
        ), stats as (
            select cast(count(l_extendedprice) as bigint) as n_p,
                   cast(sum(case when abs(l_extendedprice - m_p)
                                      > 3.5 * 1.4826 * d_p then 1 else 0 end)
                        as bigint) as o_p,
                   cast(count(l_quantity) as bigint) as n_q,
                   cast(sum(case when abs(l_quantity - m_q)
                                      > 3.5 * 1.4826 * d_q then 1 else 0 end)
                        as bigint) as o_q,
                   min(m_p) as m_p, min(d_p) as d_p,
                   min(m_q) as m_q, min(d_q) as d_q
            from lineitem, mad
        )
        select 'l_extendedprice' as col_name, n_p as n_values, m_p as median,
               d_p as mad, o_p as n_outliers,
               round(cast(o_p as double) / greatest(n_p, 1), 6) as outlier_rate
        from stats
        union all
        select 'l_quantity', n_q, m_q, d_q, o_q,
               round(cast(o_q as double) / greatest(n_q, 1), 6)
        from stats
        order by col_name
        """,
        "topk_langs": """
        select lang, count(*) as cnt from documents
        group by lang order by cnt desc, lang asc limit 3
        """,
        "docs_setdiff": """
        with a as (select doc_id from documents where lang = 'en'),
             b as (select doc_id from documents where source = 'src0'),
             a_only as (select doc_id, 'a_only' as side from (select * from a except all select * from b)),
             b_only as (select doc_id, 'b_only' as side from (select * from b except all select * from a))
        select * from a_only union all select * from b_only
        order by side, doc_id
        """,
        "medea_nested_rows": _ORACLE_NESTED_CTE
        + "select l_orderkey, lineno, (failed_constraint is null) as is_valid from judged",
        "medea_nested_classes": _ORACLE_NESTED_CTE
        + """
        select failed_constraint, count(*) as cnt from judged
        where failed_constraint is not null
        group by failed_constraint order by failed_constraint
        """,
        "text_profile": r"""
        with words as (
            select doc_id, text,
                   regexp_split_to_array(trim(lower(text)), '\s+') as w,
                   ' ' || trim(regexp_replace(regexp_replace(lower(text),
                       '[^\p{L}\s]+', ' ', 'g'), '\s+', ' ', 'g')) || ' ' as norm_t
            from documents where doc_id < 200
        ), tri as (
            select *, list_distinct(list_transform(
                       generate_series(1, greatest(length(norm_t) - 2, 1)),
                       i -> substring(norm_t, i, 3))) as tris
            from words
        ), sc as (
            select *, """
        + _lang_scores_duckdb()
        + r"""
            from tri
        )
        select doc_id,
               length(text) as n_chars,
               case when length(trim(text)) = 0 then 0
                    else len(regexp_split_to_array(trim(text), '\s+')) end as n_tokens_ws,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) as n_tokens_bpe,
               len(tris) as n_trigrams,
               round(cast(len(list_filter(w, x -> x in ('a','an','and','in','is','of','or','the','to'))) as double)
                     / greatest(len(w), 1), 6) as stopword_ratio,
               round(cast(length(regexp_replace(regexp_replace(text, '\s', '', 'g'), '[A-Za-z0-9]', '', 'g')) as double)
                     / greatest(length(regexp_replace(text, '\s', '', 'g')), 1), 6) as punct_ratio,
               round((
                   (case when (case when length(trim(text)) = 0 then 0
                               else len(regexp_split_to_array(trim(text), '\s+')) end) between 10 and 100000
                         then 1.0 else 0.0 end)
                 + (case when round(cast(length(regexp_replace(regexp_replace(text, '\s', '', 'g'), '[A-Za-z0-9]', '', 'g')) as double)
                              / greatest(length(regexp_replace(text, '\s', '', 'g')), 1), 6) <= 0.2
                         then 1.0 else 0.0 end)
                 + (case when round(cast(len(list_filter(w, x -> x in ('a','an','and','in','is','of','or','the','to'))) as double)
                              / greatest(len(w), 1), 6) >= 0.01
                         then 1.0 else 0.0 end)
               ) / 3.0, 6) as quality_score,
               """
        + _lang_guess_duckdb()
        + r""" as lang_guess,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) as fingerprint
        from sc order by doc_id
        """,
        "dedup_exact": _ORACLE_DOCS2
        + r"""
        select md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) as text_hash,
               count(*) as n_docs, min(doc_id) as keep_id
        from docs2
        group by 1 having count(*) > 1
        order by text_hash
        """,
        "simhash_groups": _simhash_oracle_sql(),
        "simhash_near_pairs": _simhash_near_pairs_oracle_sql(),
        "minhash_signatures": r"""
        with words as (
            select doc_id, regexp_split_to_array(trim(lower(text)), '\s+') as w
            from documents where doc_id < 100
        ), sh as (
            select distinct doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                                         i -> array_to_string(w[i:i+2], ' '))) as shingle
            from words
        )
        select doc_id,
               min(cast(('0x' || substr(md5('0 ' || shingle), 1, 15)) as bigint)) as h0,
               min(cast(('0x' || substr(md5('1 ' || shingle), 1, 15)) as bigint)) as h1,
               min(cast(('0x' || substr(md5('2 ' || shingle), 1, 15)) as bigint)) as h2,
               min(cast(('0x' || substr(md5('3 ' || shingle), 1, 15)) as bigint)) as h3
        from sh group by doc_id order by doc_id
        """,
        "jaccard_pairs": _ORACLE_DOCS2
        + r"""
        , subset as (
            select * from docs2
            where doc_id % 10 = 0 and doc_id % 100000 < 400
        ), words as (
            select doc_id, regexp_split_to_array(trim(lower(text)), '\s+') as w
            from subset
        ), sh as (
            select distinct doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                                         i -> array_to_string(w[i:i+2], ' '))) as shingle
            from words
        ), sizes as (
            select doc_id, count(*) as n_sh from sh group by doc_id
        ), inter as (
            select x.doc_id as doc_a, y.doc_id as doc_b, count(*) as i
            from sh x join sh y using (shingle)
            where x.doc_id < y.doc_id
            group by 1, 2
        )
        select doc_a, doc_b,
               round(cast(i as double) / (sa.n_sh + sb.n_sh - i), 6) as jaccard
        from inter
        join sizes sa on sa.doc_id = doc_a
        join sizes sb on sb.doc_id = doc_b
        where cast(i as double) / (sa.n_sh + sb.n_sh - i) >= 0.5
        order by doc_a, doc_b
        """,
        "containment_pairs": r"""
        with subset as (
            select doc_id, text from documents
            where doc_id % 20 = 0 and doc_id < 800
            union all
            select doc_id + 400000,
                   array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:12], ' ')
            from documents where doc_id % 20 = 0 and doc_id < 800
        ), words as (
            select doc_id, regexp_split_to_array(trim(lower(text)), '\s+') as w
            from subset
        ), sh as (
            select distinct doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                                         i -> array_to_string(w[i:i+2], ' '))) as shingle
            from words
        ), sizes as (
            select doc_id, count(*) as n_sh from sh group by doc_id
        ), inter as (
            select x.doc_id as doc_a, y.doc_id as doc_b, count(*) as i
            from sh x join sh y using (shingle)
            where x.doc_id < y.doc_id
            group by 1, 2
        )
        select doc_a, doc_b,
               round(cast(i as double) / least(sa.n_sh, sb.n_sh), 6) as containment,
               case when sa.n_sh <= sb.n_sh then doc_a else doc_b end as contained_doc
        from inter
        join sizes sa on sa.doc_id = doc_a
        join sizes sb on sb.doc_id = doc_b
        where cast(i as double) / least(sa.n_sh, sb.n_sh) >= 0.9
        order by doc_a, doc_b
        """,
        "jaccard_char_pairs": """
        with subset as (
            select doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') as t
            from documents where doc_id % 25 = 0
            union all
            select doc_id + 300000,
                   regexp_replace(trim(lower('zzz ' || text)), '\\s+', ' ', 'g')
            from documents where doc_id % 25 = 0
        ), sh as (
            select distinct doc_id,
                   unnest(list_transform(generate_series(1, greatest(length(t) - 4, 0)),
                                         i -> substr(t, i, 5))) as shingle
            from subset
        ), sizes as (
            select doc_id, count(*) as n_sh from sh group by doc_id
        ), inter as (
            select x.doc_id as doc_a, y.doc_id as doc_b, count(*) as i
            from sh x join sh y using (shingle)
            where x.doc_id < y.doc_id
            group by 1, 2
        )
        select doc_a, doc_b,
               round(cast(i as double) / (sa.n_sh + sb.n_sh - i), 6) as jaccard
        from inter
        join sizes sa on sa.doc_id = doc_a
        join sizes sb on sb.doc_id = doc_b
        where round(cast(i as double) / (sa.n_sh + sb.n_sh - i), 6) >= 0.6
        order by doc_a, doc_b
        """,
        "embed_near_dups": f"""
        with {_planes_cte(seed=42, n_planes=8)}, allv as (
            select vec_id, embedding::DOUBLE[] as v
            from embeddings where vec_id < 150
            union all
            select vec_id + 10000 as vec_id,
                   list_transform(embedding::DOUBLE[], x -> x * 2.0) as v
            from embeddings where vec_id < 5
        ), sig as (
            select vec_id, v,
                   sum(case when list_dot_product(v, plane) > 0
                            then (cast(1 as bigint) << j) else 0 end) as bucket
            from allv cross join planes
            group by vec_id, v
        ), pairs as (
            select a.vec_id as vec_a, b.vec_id as vec_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                         6) as sim
            from sig a join sig b using (bucket)
            where a.vec_id < b.vec_id
        )
        select vec_a, vec_b, sim from pairs where sim >= 0.999
        order by vec_a, vec_b
        """,
        "embed_dup_clusters": f"""
        with recursive {_planes_cte(seed=42, n_planes=8)}, allv as (
            select vec_id, embedding::DOUBLE[] as v
            from embeddings where vec_id < 150
            union all
            select vec_id + 10000 as vec_id,
                   list_transform(embedding::DOUBLE[], x -> x * 2.0) as v
            from embeddings where vec_id < 5
        ), sig as (
            select vec_id, v,
                   sum(case when list_dot_product(v, plane) > 0
                            then (cast(1 as bigint) << j) else 0 end) as bucket
            from allv cross join planes
            group by vec_id, v
        ), e as (
            select a.vec_id as u, b.vec_id as w
            from sig a join sig b using (bucket)
            where a.vec_id < b.vec_id
              and list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                  >= 0.999
        ), sym as (
            select u, w from e union select w as u, u as w from e
        ), nodes as (
            select distinct u as node from sym
        ), reach(node, label) as (
            select node, node from nodes
            union
            select s.w, r.label from reach r join sym s on s.u = r.node
        )
        select node as doc_id,
               min(label) as cluster_id,
               (node = min(label)) as is_keeper
        from reach group by node order by doc_id
        """,
        "lsh_ann_topk": f"""
        with {_planes_cte(seed=42, n_planes=4)}, sig as (
            select vec_id, embedding::DOUBLE[] as v,
                   sum(case when list_dot_product(embedding::DOUBLE[], plane) > 0
                            then (cast(1 as bigint) << j) else 0 end) as bucket
            from embeddings cross join planes
            group by vec_id, embedding
        ), q as (
            select vec_id as query_id, v as qv, bucket from sig where vec_id < 5
        ), scored as (
            select q.query_id, s.vec_id as neighbor_id,
                   round(list_dot_product(qv, s.v)
                         / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(s.v, s.v))),
                         6) as sim
            from q join sig s using (bucket)
            where s.vec_id <> q.query_id
        ), ranked as (
            select *, row_number() over (partition by query_id
                                         order by sim desc, neighbor_id asc) as rank
            from scored
        )
        select query_id, neighbor_id, rank, sim from ranked
        where rank <= 3 order by query_id, rank
        """,
        "ann_cosine_topk": """
        with q as (
            select vec_id as query_id, embedding::DOUBLE[] as qv
            from embeddings where vec_id < 5
        ), c as (
            select vec_id, embedding::DOUBLE[] as cv from embeddings
        ), scored as (
            select q.query_id, c.vec_id as neighbor_id,
                   round(list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                         6) as sim
            from q cross join c
            where c.vec_id <> q.query_id
        ), ranked as (
            select *, row_number() over (partition by query_id
                                         order by sim desc, neighbor_id asc) as rank
            from scored
        )
        select query_id, neighbor_id, rank, sim from ranked
        where rank <= 3 order by query_id, rank
        """,
        "ivf_ann_topk": """
        with base as (
            select vec_id, embedding::DOUBLE[] as v from embeddings
        ), cent as (
            select (row_number() over (order by md5('42:' || cast(vec_id as varchar)), vec_id)) - 1
                       as cluster,
                   v as centroid
            from base
            order by md5('42:' || cast(vec_id as varchar)), vec_id
            limit 8
        ), assigned as (
            select vec_id, v, cluster from (
                select b.vec_id, b.v, c.cluster,
                       row_number() over (partition by b.vec_id order by
                           list_dot_product(b.v, c.centroid)
                             / (sqrt(list_dot_product(b.v, b.v))
                                * sqrt(list_dot_product(c.centroid, c.centroid))) desc,
                           c.cluster asc) as r
                from base b cross join cent c
            ) where r = 1
        ), q as (
            select vec_id as query_id, v as qv from base where vec_id < 5
        ), probes as (
            select query_id, qv, cluster from (
                select q.query_id, q.qv, c.cluster,
                       row_number() over (partition by q.query_id order by
                           list_dot_product(q.qv, c.centroid)
                             / (sqrt(list_dot_product(q.qv, q.qv))
                                * sqrt(list_dot_product(c.centroid, c.centroid))) desc,
                           c.cluster asc) as pr
                from q cross join cent c
            ) where pr <= 3
        ), scored as (
            select p.query_id, a.vec_id as neighbor_id,
                   round(list_dot_product(p.qv, a.v)
                         / (sqrt(list_dot_product(p.qv, p.qv))
                            * sqrt(list_dot_product(a.v, a.v))), 6) as sim
            from probes p join assigned a using (cluster)
            where a.vec_id <> p.query_id
        ), ranked as (
            select *, row_number() over (partition by query_id
                                         order by sim desc, neighbor_id asc) as rank
            from scored
        )
        select query_id, neighbor_id, rank, sim from ranked
        where rank <= 3 order by query_id, rank
        """,
        "annotate_sample": _ORACLE_EVENTS_CTE
        + """
        , sample as (
            select event_id, (failed_constraint is null) as is_valid
            from judged order by event_id limit 60
        )
        select event_id, is_valid, '' as json_pointer,
               '$start' as schema_label, 'StartSchema' as cls, '$object' as via
        from sample where is_valid
        union all
        select event_id, is_valid, '/k', '$number', NULL, NULL
        from sample where is_valid
        union all
        select event_id, is_valid, NULL, NULL, NULL, NULL
        from sample where not is_valid
        order by event_id, json_pointer
        """,
        "ivf_kmeans_topk": f"""
        with base as (
            select vec_id, embedding::DOUBLE[] as v from embeddings
        ), cent as (
            select cluster, centroid::DOUBLE[] as centroid
            from read_parquet('{_IVF_CENTROIDS_PATH}/*.parquet')
        ), assigned as (
            select vec_id, v, cluster from (
                select b.vec_id, b.v, c.cluster,
                       row_number() over (partition by b.vec_id order by
                           list_dot_product(b.v, c.centroid)
                             / (sqrt(list_dot_product(b.v, b.v))
                                * sqrt(list_dot_product(c.centroid, c.centroid))) desc,
                           c.cluster asc) as r
                from base b cross join cent c
            ) where r = 1
        ), q as (
            select vec_id as query_id, v as qv from base where vec_id < 5
        ), probes as (
            select query_id, qv, cluster from (
                select q.query_id, q.qv, c.cluster,
                       row_number() over (partition by q.query_id order by
                           list_dot_product(q.qv, c.centroid)
                             / (sqrt(list_dot_product(q.qv, q.qv))
                                * sqrt(list_dot_product(c.centroid, c.centroid))) desc,
                           c.cluster asc) as pr
                from q cross join cent c
            ) where pr <= 3
        ), scored as (
            select p.query_id, a.vec_id as neighbor_id,
                   round(list_dot_product(p.qv, a.v)
                         / (sqrt(list_dot_product(p.qv, p.qv))
                            * sqrt(list_dot_product(a.v, a.v))), 6) as sim
            from probes p join assigned a using (cluster)
            where a.vec_id <> p.query_id
        ), ranked as (
            select *, row_number() over (partition by query_id
                                         order by sim desc, neighbor_id asc) as rank
            from scored
        )
        select query_id, neighbor_id, rank, sim from ranked
        where rank <= 3 order by query_id, rank
        """,
        "minhash_lsh_pairs": _ORACLE_DOCS2
        + r"""
        , subset as (
            select doc_id, text from docs2 where doc_id % 10 = 0
        ), words as (
            select doc_id, regexp_split_to_array(trim(lower(text)), '\s+') as w
            from subset
        ), sh as (
            select distinct doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                                         i -> array_to_string(w[i:i+2], ' '))) as shingle
            from words
        ), sig as (
            select doc_id,
                   min(cast(('0x' || substr(md5('0 ' || shingle), 1, 15)) as bigint)) as h0,
                   min(cast(('0x' || substr(md5('1 ' || shingle), 1, 15)) as bigint)) as h1,
                   min(cast(('0x' || substr(md5('2 ' || shingle), 1, 15)) as bigint)) as h2,
                   min(cast(('0x' || substr(md5('3 ' || shingle), 1, 15)) as bigint)) as h3,
                   min(cast(('0x' || substr(md5('4 ' || shingle), 1, 15)) as bigint)) as h4,
                   min(cast(('0x' || substr(md5('5 ' || shingle), 1, 15)) as bigint)) as h5,
                   min(cast(('0x' || substr(md5('6 ' || shingle), 1, 15)) as bigint)) as h6,
                   min(cast(('0x' || substr(md5('7 ' || shingle), 1, 15)) as bigint)) as h7
            from sh group by doc_id
        ), banded as (
            select doc_id, 0 as band,
                   md5(cast(h0 as varchar) || '_' || cast(h1 as varchar)) as key from sig
            union all
            select doc_id, 1,
                   md5(cast(h2 as varchar) || '_' || cast(h3 as varchar)) from sig
            union all
            select doc_id, 2,
                   md5(cast(h4 as varchar) || '_' || cast(h5 as varchar)) from sig
            union all
            select doc_id, 3,
                   md5(cast(h6 as varchar) || '_' || cast(h7 as varchar)) from sig
        )
        select distinct x.doc_id as doc_a, y.doc_id as doc_b
        from banded x join banded y using (band, key)
        where x.doc_id < y.doc_id
        order by doc_a, doc_b
        """,
        # Rebuilds the history band index AND the new batch's bands
        # from the documents table with the identical md5 hash family,
        # then replays the incremental new-vs-index and new-vs-new
        # band joins.  Sides never mix: history rows only ever appear
        # as match_doc of a new_old pair.
        "incremental_lsh_pairs": r"""
        with hist as (
            select doc_id, text from documents where doc_id % 10 = 0
        ), newb as (
            select doc_id + 100000 as doc_id, text
            from documents where doc_id % 20 = 0
            union all
            select doc_id + 200000, text
            from documents where doc_id % 20 = 0
        ), alldocs as (
            select 'h' as side, doc_id, text from hist
            union all
            select 'n', doc_id, text from newb
        ), words as (
            select side, doc_id,
                   regexp_split_to_array(trim(lower(text)), '\s+') as w
            from alldocs
        ), sh as (
            select distinct side, doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                                         i -> array_to_string(w[i:i+2], ' '))) as shingle
            from words
        ), sig as (
            select side, doc_id,
                   min(cast(('0x' || substr(md5('0 ' || shingle), 1, 15)) as bigint)) as h0,
                   min(cast(('0x' || substr(md5('1 ' || shingle), 1, 15)) as bigint)) as h1,
                   min(cast(('0x' || substr(md5('2 ' || shingle), 1, 15)) as bigint)) as h2,
                   min(cast(('0x' || substr(md5('3 ' || shingle), 1, 15)) as bigint)) as h3,
                   min(cast(('0x' || substr(md5('4 ' || shingle), 1, 15)) as bigint)) as h4,
                   min(cast(('0x' || substr(md5('5 ' || shingle), 1, 15)) as bigint)) as h5,
                   min(cast(('0x' || substr(md5('6 ' || shingle), 1, 15)) as bigint)) as h6,
                   min(cast(('0x' || substr(md5('7 ' || shingle), 1, 15)) as bigint)) as h7
            from sh group by side, doc_id
        ), banded as (
            select side, doc_id, 0 as band,
                   md5(cast(h0 as varchar) || '_' || cast(h1 as varchar)) as key from sig
            union all
            select side, doc_id, 1,
                   md5(cast(h2 as varchar) || '_' || cast(h3 as varchar)) from sig
            union all
            select side, doc_id, 2,
                   md5(cast(h4 as varchar) || '_' || cast(h5 as varchar)) from sig
            union all
            select side, doc_id, 3,
                   md5(cast(h6 as varchar) || '_' || cast(h7 as varchar)) from sig
        )
        select distinct x.doc_id as new_doc, y.doc_id as match_doc,
               'new_old' as kind
        from banded x join banded y using (band, key)
        where x.side = 'n' and y.side = 'h'
        union
        select distinct x.doc_id, y.doc_id, 'new_new'
        from banded x join banded y using (band, key)
        where x.side = 'n' and y.side = 'n' and x.doc_id < y.doc_id
        order by new_doc, match_doc, kind
        """,
        # Replays the twin injection, prefix blocking, block-size cap,
        # and the levenshtein gate.  ASCII titles only: DuckDB's
        # levenshtein counts UTF-8 bytes, Spark's counts characters.
        "fuzzy_match_pairs": """
        with base as (
            select doc_id, substr(trim(text), 1, 60) as title
            from documents where doc_id < 2000
        ), twins as (
            select doc_id + 500000 as doc_id,
                   substr(title, 1, 19) || 'xyz' || substr(title, 23, 60) as title
            from base where doc_id % 5 = 0
        ), blocked as (
            select doc_id, title, substr(title, 1, 10) as blk
            from (select * from base union all select * from twins)
            where title is not null
        ), capped as (
            select * from blocked
            qualify count(*) over (partition by blk) <= 10000
        )
        select x.doc_id as doc_a, y.doc_id as doc_b,
               cast(levenshtein(x.title, y.title) as bigint) as dist
        from capped x join capped y using (blk)
        where x.doc_id < y.doc_id and levenshtein(x.title, y.title) <= 6
        order by doc_a, doc_b
        """,
        # Identical integer thresholds to assign_splits (computed the
        # same way: cumulative float weights × 2^60, truncated).
        "split_assign_docs": f"""
        select doc_id,
               case
                 when cast(('0x' || substr(md5('42:' || cast(doc_id as varchar)), 1, 15))
                           as bigint) < {int(0.8 * (1 << 60))} then 'train'
                 when cast(('0x' || substr(md5('42:' || cast(doc_id as varchar)), 1, 15))
                           as bigint) < {int((0.8 + 0.1) * (1 << 60))} then 'val'
                 else 'test'
               end as split
        from documents
        order by doc_id
        """,
        # Batch recomputation of the streaming run's accumulated pair
        # relation: every canonical band-sharing pair among
        # history ∪ stream except the history-internal ones.  Uses the
        # same CTE machinery as incremental_lsh_pairs.
        "stream_incremental_lsh": r"""
        with hist as (
            select doc_id, text from documents where doc_id % 10 = 0
        ), newb as (
            select doc_id + 100000 as doc_id, text
            from documents where doc_id % 20 = 0
            union all
            select doc_id + 200000, text
            from documents where doc_id % 20 = 0
        ), alldocs as (
            select 'h' as side, doc_id, text from hist
            union all
            select 'n', doc_id, text from newb
        ), words as (
            select side, doc_id,
                   regexp_split_to_array(trim(lower(text)), '\s+') as w
            from alldocs
        ), sh as (
            select distinct side, doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                                         i -> array_to_string(w[i:i+2], ' '))) as shingle
            from words
        ), sig as (
            select side, doc_id,
                   min(cast(('0x' || substr(md5('0 ' || shingle), 1, 15)) as bigint)) as h0,
                   min(cast(('0x' || substr(md5('1 ' || shingle), 1, 15)) as bigint)) as h1,
                   min(cast(('0x' || substr(md5('2 ' || shingle), 1, 15)) as bigint)) as h2,
                   min(cast(('0x' || substr(md5('3 ' || shingle), 1, 15)) as bigint)) as h3,
                   min(cast(('0x' || substr(md5('4 ' || shingle), 1, 15)) as bigint)) as h4,
                   min(cast(('0x' || substr(md5('5 ' || shingle), 1, 15)) as bigint)) as h5,
                   min(cast(('0x' || substr(md5('6 ' || shingle), 1, 15)) as bigint)) as h6,
                   min(cast(('0x' || substr(md5('7 ' || shingle), 1, 15)) as bigint)) as h7
            from sh group by side, doc_id
        ), banded as (
            select side, doc_id, 0 as band,
                   md5(cast(h0 as varchar) || '_' || cast(h1 as varchar)) as key from sig
            union all
            select side, doc_id, 1,
                   md5(cast(h2 as varchar) || '_' || cast(h3 as varchar)) from sig
            union all
            select side, doc_id, 2,
                   md5(cast(h4 as varchar) || '_' || cast(h5 as varchar)) from sig
            union all
            select side, doc_id, 3,
                   md5(cast(h6 as varchar) || '_' || cast(h7 as varchar)) from sig
        )
        select distinct least(x.doc_id, y.doc_id) as doc_a,
               greatest(x.doc_id, y.doc_id) as doc_b
        from banded x join banded y using (band, key)
        where x.doc_id < y.doc_id and not (x.side = 'h' and y.side = 'h')
        order by doc_a, doc_b
        """,
        # Same md5-60-bit bucket hash, exclusive running sum, and
        # dense re-numbering as pack_shards.  Integer division is NOT
        # used anywhere (DuckDB's double→int cast rounds half-even;
        # floor(double) is the cross-engine-identical form).
        "shard_pack_docs": r"""
        with base as (
            select doc_id,
                   cast(len(regexp_split_to_array(trim(text), '\s+')) as bigint)
                       as n_tokens,
                   cast(cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))
                             as bigint) % 8 as int) as bucket
            from documents
        ), runsum as (
            select doc_id, n_tokens, bucket,
                   coalesce(sum(n_tokens) over (
                       partition by bucket order by doc_id
                       rows between unbounded preceding and 1 preceding
                   ), 0) as run_before
            from base
        ), raw as (
            select doc_id, n_tokens, bucket,
                   cast(floor(run_before / 2000) as bigint) as raw_shard
            from runsum
        )
        select doc_id, n_tokens, bucket,
               dense_rank() over (partition by bucket order by raw_shard)
                   - 1 as shard_seq
        from raw
        order by doc_id
        """,
        "repo_violation_state": _ORACLE_EVENTS_CTE
        + """
        select 'repo' || cast(event_id % 13 as varchar) as repo,
               count(*) as rows_seen,
               cast(sum(case when failed_constraint is null then 0 else 1 end)
                    as bigint) as invalid_seen
        from judged
        group by 1 order by repo
        """,
        # The corpus is engine-generated, so the Spark query round-trips
        # it (with ground-truth verdict columns and engine-assigned
        # part/salt ids) through parquet; DuckDB recomputes the summary
        # from expected_valid — an independent check of every kernel
        # verdict.  violation_count == invalid rows because the kernel
        # reports first-error-wins (collect_all=False).
        "corpus_validation": f"""
        select part_id,
               count(*) as "rows",
               cast(sum(case when expected_valid then 1 else 0 end) as bigint) as valid_rows,
               cast(sum(case when expected_valid then 0 else 1 end) as bigint) as invalid_rows,
               cast(sum(case when expected_valid then 0 else 1 end) as bigint) as violation_count,
               count(distinct salt_id) as salt_buckets_seen
        from read_parquet('{_CORPUS_ORACLE_PATH}/*.parquet')
        group by part_id order by part_id
        """,
        "dedup_validate": f"""
        select part_id,
               count(*) as "rows",
               cast(sum(case when expected_valid then 1 else 0 end) as bigint) as valid_rows,
               cast(sum(case when expected_valid then 0 else 1 end) as bigint) as invalid_rows,
               cast(sum(case when expected_valid then 0 else 1 end) as bigint) as violation_count
        from read_parquet('{_DEDUP_ORACLE_PATH}/*.parquet')
        group by part_id order by part_id
        """,
        "checkpoint_lifecycle": f"""
        select part_id,
               count(*) as "rows",
               cast(sum(case when expected_valid then 1 else 0 end) as bigint) as valid_rows,
               cast(sum(case when expected_valid then 0 else 1 end) as bigint) as invalid_rows,
               cast(sum(case when expected_valid then 0 else 1 end) as bigint) as violation_count
        from read_parquet('{_CKPT_ORACLE_BASE}/stage/run={_ckpt_stage_key()}/*/*.parquet',
                          hive_partitioning = true)
        group by part_id order by part_id
        """,
        "stratified_sample_events": """
        select event_id, event_type from events
        where cast(('0x' || substr(md5('42:' || cast(event_id as varchar)), 1, 15)) as bigint)
              < cast(floor((case event_type when 'click' then 0.5
                                            when 'error' then 1.0
                                            else 0.1 end) * 1152921504606846976.0) as bigint)
        order by event_id
        """,
        "sample_per_group_events": """
        with h as (
            select event_id, event_type,
                   cast(('0x' || substr(md5('42:' || cast(event_id as varchar)), 1, 15)) as bigint) as hv
            from events
        ), r as (
            select event_type, event_id,
                   cast(row_number() over (
                       partition by event_type
                       order by hv asc, cast(event_id as varchar) asc) as int) as sample_rank
            from h
        )
        select event_type, event_id, sample_rank from r
        where sample_rank <= 5
        order by event_type, sample_rank
        """,
        "weighted_sample_docs": """
        select doc_id, n_chars from documents
        where cast(('0x' || substr(md5('42:' || cast(doc_id as varchar)), 1, 15)) as bigint)
              < cast(floor(least(1.0, greatest(0.0, n_chars * (1.0 / 400.0)))
                           * 1152921504606846976.0) as bigint)
        order by doc_id
        """,
        "boilerplate_lines": """
        with comp as (
            select cast(floor(doc_id / 5) as int) as group_id,
                   string_agg('[' || lang || '/' || source || ']' || chr(10) || text,
                              chr(10) order by doc_id) as text
            from documents group by 1
        ), lines as (
            select group_id, generate_subscripts(l, 1) as pos, unnest(l) as line
            from (select group_id, string_split(text, chr(10)) as l from comp)
        ), freq as (
            select md5(line) as lh from lines
            group by md5(line)
            having count(distinct group_id) >= 2
        ), flagged as (
            select l.group_id, l.pos, l.line, (f.lh is not null) as bp
            from lines l left join freq f on md5(l.line) = f.lh
        )
        select group_id,
               coalesce(string_agg(case when bp then null else line end,
                                   chr(10) order by pos), '') as text,
               cast(sum(case when bp then 0 else 1 end) as int) as n_lines_kept,
               cast(sum(case when bp then 1 else 0 end) as int) as n_lines_removed
        from flagged group by group_id order by group_id
        """,
        "sessionize_events": """
        with e as (
            select user_id, event_id, epoch_us(ts) as tu from events
        ), marks as (
            select *, case when lag(tu) over (partition by user_id order by tu, event_id) is null
                             or tu - lag(tu) over (partition by user_id order by tu, event_id) > 1800000000
                           then 1 else 0 end as ns
            from e
        ), sess as (
            select *, cast(sum(ns) over (partition by user_id order by tu, event_id) as int) as session_idx
            from marks
        )
        select user_id, session_idx,
               count(*) as n_events,
               min(event_id) as first_event_id,
               max(event_id) as last_event_id,
               cast(floor((max(tu) - min(tu)) / 1000000.0) as bigint) as duration_sec
        from sess group by user_id, session_idx
        order by user_id, session_idx
        """,
        "stream_sessions": """
        with e as (
            select user_id, epoch_us(ts) as tu from events
        ), marks as (
            select *, case when lag(tu) over (partition by user_id order by tu) is null
                            or tu - lag(tu) over (partition by user_id order by tu)
                               > 1800000000
                           then 1 else 0 end as ns
            from e
        ), sess as (
            select *, sum(ns) over (partition by user_id order by tu
                                    rows unbounded preceding) as sid
            from marks
        )
        select user_id,
               min(tu) as session_start_us,
               max(tu) + 1800000000 as session_end_us,
               count(*) as n_events
        from sess group by user_id, sid
        order by user_id, session_start_us
        """,
        "temporal_validate_events": f"""
        with mutated as (
            select event_id, ts, ({_ORACLE_CONTENT}) as content from events
        ), judged as (
            select event_id, ts, content,
                   ({_ORACLE_CONSTRAINT}) as failed_constraint
            from mutated
        )
        select event_id,
               case when ts < timestamp '2024-01-01 01:00:00' then cast(null as int)
                    when ts < timestamp '2024-01-05 00:00:00' then 1
                    else 2 end as schema_version,
               case when ts < timestamp '2024-01-01 01:00:00' then false
                    when ts < timestamp '2024-01-05 00:00:00'
                         then (content is not null and json_valid(content))
                    else failed_constraint is null end as is_valid,
               case when ts < timestamp '2024-01-01 01:00:00' then 'NO_ACTIVE_SCHEMA'
                    when ts < timestamp '2024-01-05 00:00:00'
                         then (case when content is null or not json_valid(content)
                                    then 'NOT_JSON' end)
                    else failed_constraint end as first_violation
        from judged order by event_id
        """,
        "dispatch_validate": f"""
        with mutated as (
            select event_id, event_type, ({_ORACLE_CONTENT}) as content from events
        ), judged as (
            select event_id, event_type, content,
                   ({_ORACLE_CONSTRAINT}) as failed_constraint
            from mutated
        )
        select event_id,
               event_type as schema_key,
               case when event_type = 'click' then failed_constraint is null
                    when event_type = 'view'
                         then (content is not null and json_valid(content))
                    when event_type = 'purchase'
                         -- nested CASE, not AND: DuckDB's vectorized AND
                         -- evaluates json_type() on malformed input
                         then (case when content is null or not json_valid(content)
                                    then false
                                    else json_type(content) = 'VARCHAR' end)
                    else false end as is_valid,
               case when event_type = 'click' then failed_constraint
                    when event_type = 'view'
                         then (case when content is null or not json_valid(content)
                                    then 'NOT_JSON' end)
                    when event_type = 'purchase'
                         then (case when content is null or not json_valid(content)
                                    then 'NOT_JSON'
                                    when json_type(content) <> 'VARCHAR'
                                    then 'NOT_ONE_OF_OPTIONS' end)
                    else 'NO_SCHEMA_FOR_KEY' end as first_violation
        from judged order by event_id
        """,
        "random_projection": f"""
        with {_planes_cte(7, 8)}
        , proj as (
          select e.vec_id, p.j,
                 list_dot_product(cast(e.embedding as double[]), p.plane) as dot
          from embeddings e cross join planes p
          where e.vec_id < 100
        )
        select vec_id, list(dot order by j) as proj
        from proj group by vec_id order by vec_id
        """,
        "embedding_stats": """
        with broken as (
          select vec_id,
                 case when vec_id % 50 = 0 then null
                      when vec_id % 50 = 1 then embedding[1:32]
                      when vec_id % 50 = 2
                           then list_prepend(cast('nan' as float), embedding[2:64])
                      when vec_id % 50 = 3
                           then list_transform(embedding, x -> cast(0.0 as float))
                      else embedding end as embedding
          from embeddings
        ), staged as (
          select embedding is null as is_null,
                 len(embedding) as dim,
                 len(list_filter(embedding, x -> x is null or isnan(x) or isinf(x))) as n_bad,
                 case when embedding is not null and len(embedding) = 64
                           and len(list_filter(embedding, x -> x is null or isnan(x) or isinf(x))) = 0
                      then sqrt(list_sum(list_transform(embedding, x -> cast(x as double) * cast(x as double))))
                 end as nrm
          from broken
        )
        select cast(count(*) as bigint) as n_rows,
               cast(sum(case when is_null then 1 else 0 end) as bigint) as n_null,
               cast(sum(case when not is_null and dim <> 64 then 1 else 0 end) as bigint) as n_wrong_dim,
               cast(sum(case when not is_null and dim = 64 and n_bad > 0 then 1 else 0 end) as bigint) as n_nonfinite,
               cast(sum(case when nrm = 0.0 then 1 else 0 end) as bigint) as n_zero,
               round(quantile_cont(nrm, 0.1), 6) as norm_q0_1,
               round(quantile_cont(nrm, 0.5), 6) as norm_q0_5,
               round(quantile_cont(nrm, 0.9), 6) as norm_q0_9
        from staged
        """,
        "dispatch_census": f"""
        with mutated as (
            select event_id, event_type, ({_ORACLE_CONTENT}) as content from events
        ), judged as (
            select event_id, event_type, content,
                   ({_ORACLE_CONSTRAINT}) as failed_constraint
            from mutated
        ), rows_ as (
            select event_type,
                   case when event_type = 'click' then failed_constraint is null
                        when event_type = 'view'
                             then (content is not null and json_valid(content))
                        when event_type = 'purchase'
                             then (case when content is null or not json_valid(content)
                                        then false
                                        else json_type(content) = 'VARCHAR' end)
                        else false end as is_valid,
                   case when event_type in ('click', 'view', 'purchase') then 0
                        else 1 end as no_schema
            from judged
        )
        select event_type as schema_key,
               cast(count(*) as bigint) as rows,
               cast(sum(case when is_valid then 1 else 0 end) as bigint) as valid_rows,
               cast(sum(case when is_valid then 0 else 1 end) as bigint) as invalid_rows,
               cast(sum(no_schema) as bigint) as no_schema_rows
        from rows_ group by event_type order by schema_key
        """,
        "corpus_prep": r"""
        -- the full composed pipeline: nfc -> redact -> quality -> dedup -> chunk
        with injected as (
          select doc_id, text from documents
          union all
          select doc_id + 100000, text || ' cafe' || chr(769)
          from documents where doc_id % 10 = 0
          union all
          select doc_id + 200000, text || ' caf' || chr(233)
          from documents where doc_id % 10 = 0
          union all
          select * from (values
            (900000, repeat('spam ', 49) || 'spam'),
            (910000, 'too short'),
            (920000, 'please contact a@b.co or call +491234567890 about billing issues today ok')
          ) v(doc_id, text)
        ), cleaned as (
          select doc_id,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(nfc_normalize(text),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                   '\+\d{9,15}\b', '<PHONE>', 'g') as text
          from injected
        ), quality as (
          select doc_id, text,
                 case when trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                      then []::varchar[]
                      else string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
                 end as qtoks
          from cleaned
        ), passed as (
          select doc_id, text from quality
          where len(qtoks) >= 8
            and (len(qtoks) - len(list_distinct(qtoks))) / greatest(len(qtoks), 1) <= 0.9
        ), kept as (
          select doc_id, text from (
            select doc_id, text,
                   row_number() over (partition by md5(text) order by doc_id) as rn
            from passed
          ) where rn = 1
        ), norm as (
          select doc_id,
                 case when trim(text) = '' then []::varchar[]
                      else regexp_split_to_array(trim(text), '\s+') end as toks
          from kept
        ), meta as (
          select doc_id, toks, len(toks) as n,
                 case when len(toks) <= 24 then 1
                      else 1 + cast(ceil((len(toks) - 24) / 18.0) as int) end as n_chunks
          from norm
        )
        select doc_id,
               cast(n as int) as n_tokens,
               n_chunks,
               cast(i as int) as chunk_id,
               cast(i * 18 as int) as chunk_start,
               cast(least(n - i * 18, 24) as int) as chunk_len,
               array_to_string(toks[i * 18 + 1 : i * 18 + 24], ' ') as chunk_text
        from meta, unnest(generate_series(0, n_chunks - 1)) as t(i)
        order by doc_id, chunk_id
        """,
        "unicode_nfc": """
        with injected as (
          select doc_id,
                 text || case when doc_id % 3 = 0
                              then ' cafe' || chr(769) || ' ' || chr(4352) || chr(4449)
                              when doc_id % 3 = 1
                              then ' caf' || chr(233) || ' ' || chr(44032)
                              else '' end as text
          from documents
        )
        select doc_id,
               nfc_normalize(text) as normalized,
               nfc_normalize(text) <> text as is_changed
        from injected order by doc_id
        """,
        "chunk_docs": r"""
        with norm as (
          select doc_id,
                 case when trim(text) = '' then []::varchar[]
                      else regexp_split_to_array(trim(text), '\s+') end as toks
          from documents
        ), meta as (
          select doc_id, toks, len(toks) as n,
                 case when len(toks) <= 24 then 1
                      else 1 + cast(ceil((len(toks) - 24) / 18.0) as int) end as n_chunks
          from norm
        )
        select doc_id,
               cast(n as int) as n_tokens,
               n_chunks,
               cast(i as int) as chunk_id,
               cast(i * 18 as int) as chunk_start,
               cast(least(n - i * 18, 24) as int) as chunk_len,
               array_to_string(toks[i * 18 + 1 : i * 18 + 24], ' ') as chunk_text
        from meta, unnest(generate_series(0, n_chunks - 1)) as t(i)
        order by doc_id, chunk_id
        """,
        "vocab_topk": r"""
        with toks as (
          select unnest(
            case when trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                 then []::varchar[]
                 else string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
            end) as term
          from documents
        )
        select term, cast(count(*) as bigint) as cnt
        from toks group by term
        order by cnt desc, term asc limit 20
        """,
        "tfidf_terms": r"""
        with subset as (
          select doc_id, text from documents where doc_id < 200
        ), n as (
          select count(*) as n_docs from subset
        ), toks as (
          select doc_id, unnest(
            case when trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                 then []::varchar[]
                 else string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
            end) as term
          from subset
        ), tf as (
          select doc_id, term, cast(count(*) as bigint) as tf
          from toks group by doc_id, term
        ), dfreq as (
          select term, cast(count(*) as bigint) as df
          from tf group by term
          having count(*) >= 1 and count(*) <= 0.8 * (select n_docs from n)
        ), scored as (
          select t.doc_id, t.term, t.tf, d.df,
                 round(t.tf * (ln(((select n_docs from n) + 1.0) / (d.df + 1.0)) + 1.0), 6) as score
          from tf t join dfreq d using (term)
        ), ranked as (
          select *, row_number() over (partition by doc_id order by score desc, term asc) as rank
          from scored
        )
        select doc_id, cast(rank as int) as rank, term, tf, df, score
        from ranked where rank <= 3
        order by doc_id, rank
        """,
        "pii_scrub": r"""
        with injected as (
          select doc_id,
                 text
                 || case when doc_id % 5 = 0
                         then ' contact admin' || doc_id || '@example.com now' else '' end
                 || case when doc_id % 7 = 0
                         then ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256) else '' end
                 || case when doc_id % 11 = 0
                         then ' call +4915' || lpad(cast(doc_id as varchar), 8, '0') else '' end
                   as text
          from documents
        ), s1 as (
          select doc_id, text,
                 cast(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) as int) as n_email,
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') as t1
          from injected
        ), s2 as (
          select doc_id, n_email,
                 cast(len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) as int) as n_ip,
                 regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') as t2
          from s1
        )
        select doc_id,
               regexp_replace(t2, '\+\d{9,15}\b', '<PHONE>', 'g') as redacted,
               n_email, n_ip,
               cast(len(regexp_extract_all(t2, '\+\d{9,15}\b')) as int) as n_phone
        from s2 order by doc_id
        """,
        "quality_keepers": """
        with recursive e as (
            select doc_id as a, doc_id + 1 as b from documents
            where doc_id < 500
              and cast(('0x' || substr(md5('cc:' || cast(doc_id as varchar)), 1, 15)) as bigint) % 3 = 0
        ), sym as (
            select a as u, b as v from e
            union
            select b as u, a as v from e
        ), nodes as (
            select distinct u as node from sym
        ), reach(node, label) as (
            select node, node from nodes
            union
            select s.v, r.label from reach r join sym s on s.u = r.node
        ), clusters as (
            select node as doc_id, min(label) as cluster_id
            from reach group by node
        ), scored as (
            select c.doc_id, c.cluster_id, cast(d.n_chars as double) as score
            from clusters c left join documents d using (doc_id)
        )
        select doc_id, cluster_id, score,
               (row_number() over (partition by cluster_id
                                   order by (score is null) asc, score desc,
                                            doc_id asc)) = 1 as is_keeper
        from scored order by doc_id
        """,
        "lm_perplexity": r"""
        with toks as (
          select doc_id,
                 case when trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                      then []::varchar[]
                      else string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
                 end as toks
          from documents
        ), uni as (
          select w, cast(count(*) as bigint) as c_uni
          from (select unnest(toks) as w from toks) group by w
        ), v as (
          select count(*) + 1 as vocab_v from uni
        ), idx as (
          select doc_id, toks,
                 unnest(generate_series(1, len(toks) - 1)) as i
          from toks
        ), bi as (
          select toks[i] as w1, toks[i + 1] as w2,
                 cast(count(*) as bigint) as c_bi
          from idx group by w1, w2
        ), pos as (
          select doc_id, toks[i] as w1, toks[i + 1] as w2
          from idx where doc_id < 300
        ), scored as (
          select p.doc_id,
                 ln((coalesce(b.c_bi, 0) + 1.0)
                    / (coalesce(u.c_uni, 0) + 1.0 * (select vocab_v from v))) as logp
          from pos p
          left join bi b on p.w1 = b.w1 and p.w2 = b.w2
          left join uni u on p.w1 = u.w
        ), agg as (
          select doc_id, cast(count(logp) as bigint) as n_bigrams, sum(logp) as total
          from scored group by doc_id
        )
        select d.doc_id,
               coalesce(a.n_bigrams, 0) as n_bigrams,
               round(a.total / a.n_bigrams, 6) as avg_logprob,
               round(exp(-(a.total / a.n_bigrams)), 6) as perplexity
        from (select doc_id from documents where doc_id < 300) d
        left join agg a using (doc_id)
        order by doc_id
        """,
        "repetition_profile": r"""
        with norm as (
          select doc_id,
                 case when trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                      then []::varchar[]
                      else string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
                 end as toks
          from documents
        ), grams as (
          select doc_id, toks,
                 case when len(toks) < 2 then []::varchar[]
                      else list_transform(generate_series(1, len(toks) - 1),
                                          i -> array_to_string(toks[i:i+1], ' ')) end as g2,
                 case when len(toks) < 3 then []::varchar[]
                      else list_transform(generate_series(1, len(toks) - 2),
                                          i -> array_to_string(toks[i:i+2], ' ')) end as g3
          from norm
        ), top2 as (
          select doc_id, max(cnt) as m from (
            select doc_id, g, count(*) as cnt
            from (select doc_id, unnest(g2) as g from grams) group by doc_id, g
          ) group by doc_id
        ), top3 as (
          select doc_id, max(cnt) as m from (
            select doc_id, g, count(*) as cnt
            from (select doc_id, unnest(g3) as g from grams) group by doc_id, g
          ) group by doc_id
        )
        select g.doc_id,
               cast(len(g.toks) as int) as n_words,
               round((len(g.toks) - len(list_distinct(g.toks))) / greatest(len(g.toks), 1), 6)
                 as excess_word_fraction,
               round(coalesce(t2.m, 0) / greatest(len(g.g2), 1), 6) as top_2gram_fraction,
               round((len(g.g2) - len(list_distinct(g.g2))) / greatest(len(g.g2), 1), 6)
                 as excess_2gram_fraction,
               round(coalesce(t3.m, 0) / greatest(len(g.g3), 1), 6) as top_3gram_fraction,
               round((len(g.g3) - len(list_distinct(g.g3))) / greatest(len(g.g3), 1), 6)
                 as excess_3gram_fraction
        from grams g
        left join top2 t2 using (doc_id)
        left join top3 t3 using (doc_id)
        order by g.doc_id
        """,
        "decontam_docs": r"""
        -- identical normalization + 8-gram + portable 60-bit md5 hash
        with norm as (
          select doc_id,
                 case when trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                      then []::varchar[]
                      else string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
                 end as toks
          from documents
        ), grams as (
          select doc_id, toks,
                 case when len(toks) < 8 then []::bigint[]
                      else list_distinct(list_transform(
                        generate_series(1, len(toks) - 7),
                        i -> cast(('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15)) as bigint)))
                 end as hashes
          from norm
        ), pairs as (
          select doc_id, unnest(hashes) as h from grams
        ), ev as (
          select distinct h from pairs where doc_id % 17 = 0
        ), hits as (
          select p.doc_id,
                 cast(count(*) as bigint) as n_ngrams,
                 cast(sum(case when e.h is not null then 1 else 0 end) as bigint) as n_contaminated
          from pairs p left join ev e using (h)
          group by p.doc_id
        )
        select g.doc_id,
               cast(len(g.toks) as int) as n_tokens,
               coalesce(h.n_ngrams, 0) as n_ngrams,
               coalesce(h.n_contaminated, 0) as n_contaminated,
               round(coalesce(h.n_contaminated, 0) / greatest(coalesce(h.n_ngrams, 0), 1), 6)
                 as contamination_ratio,
               coalesce(h.n_contaminated, 0) > 0 as is_contaminated
        from grams g left join hits h using (doc_id)
        order by g.doc_id
        """,
        "dedup_clusters": """
        with recursive e as (
            select doc_id as a, doc_id + 1 as b from documents
            where doc_id < 500
              and cast(('0x' || substr(md5('cc:' || cast(doc_id as varchar)), 1, 15)) as bigint) % 3 = 0
        ), sym as (
            select a as u, b as v from e
            union
            select b as u, a as v from e
        ), nodes as (
            select distinct u as node from sym
        ), reach(node, label) as (
            select node, node from nodes
            union
            select s.v, r.label from reach r join sym s on s.u = r.node
        )
        select node as doc_id,
               min(label) as cluster_id,
               (node = min(label)) as is_keeper
        from reach group by node order by doc_id
        """,
        "training_mix": r"""
        with toks as (
            select doc_id, lang,
                   case when length(trim(text)) = 0 then 0
                        else len(regexp_split_to_array(trim(text), '\s+')) end as n_tokens
            from documents
        ), totals as (
            select lang, sum(n_tokens) as tot from toks
            where lang in ('en', 'de', 'fr') group by lang
        ), rates as (
            -- mirror the engine's float arithmetic exactly:
            -- (budget * weight) / total, all double, same op order
            select lang,
                   least(cast(1.0 as double),
                         (20000 * (case lang when 'en' then cast(0.6 as double)
                                             when 'de' then cast(0.2 as double)
                                             else cast(0.2 as double) end)) / tot) as rate
            from totals
        )
        select t.doc_id, t.lang
        from toks t join rates r using (lang)
        where cast(('0x' || substr(md5('42:' || cast(t.doc_id as varchar)), 1, 15)) as bigint)
              < cast(floor(r.rate * 1152921504606846976.0) as bigint)
        order by t.doc_id
        """,
        "check_suite_events": """
        with m as (
          select
            cast(sum(case when user_id is null then 1 else 0 end) as bigint) as m_nn_user,
            cast(sum(case when props is null then 1 else 0 end) as bigint) as m_nn_props,
            cast(sum(case when value is not null and (value < 0.0 or value > 15.0) then 1 else 0 end) as bigint) as m_range,
            cast(sum(case when event_type is not null and not regexp_matches(event_type, '^[a-z]+$') then 1 else 0 end) as bigint) as m_regex,
            cast(sum(case when event_type is not null and event_type not in ('click','view','purchase','error') then 1 else 0 end) as bigint) as m_accept,
            -- coalesce-to-sentinel mirrors Spark's struct-key semantics:
            -- all-NULL keys form ONE distinct group instead of being skipped
            cast(greatest(0, count(*) - count(distinct coalesce(cast(event_id as varchar), chr(0)))) as bigint) as m_uniq,
            cast(count(*) as bigint) as m_rows
          from events
        )
        select 'accepted_values:event_type' as rule_id, 'accepted_values' as kind,
               'event_type' as "column", m_accept as metric,
               cast(0 as bigint) as threshold, m_accept <= 0 as passed from m
        union all select 'in_range:value', 'in_range', 'value', m_range,
               cast(0 as bigint), m_range <= 0 from m
        union all select 'matches:event_type', 'matches', 'event_type', m_regex,
               cast(0 as bigint), m_regex <= 0 from m
        union all select 'min_rows:1000', 'min_rows', '', m_rows,
               cast(1000 as bigint), m_rows >= 1000 from m
        union all select 'not_null:props', 'not_null', 'props', m_nn_props,
               cast(0 as bigint), m_nn_props <= 0 from m
        union all select 'not_null:user_id', 'not_null', 'user_id', m_nn_user,
               cast(0 as bigint), m_nn_user <= 0 from m
        union all select 'unique:event_id', 'unique', 'event_id', m_uniq,
               cast(0 as bigint), m_uniq <= 0 from m
        order by rule_id
        """,
        "check_suite_approx": """
        -- unique_sampled replica: est = 2^shift * count(distinct keys in the
        -- md5-60-bit slice below 2^60/2^shift); integer-exact, engine-portable
        with k as (
          select
            coalesce(cast(event_id as varchar), chr(0)) as k_eid,
            concat_ws(chr(31),
                      coalesce(cast(event_id as varchar), chr(0)),
                      coalesce(event_type, chr(0))) as k_et,
            coalesce(cast(user_id as varchar), chr(0)) as k_uid,
            event_id
          from events
        ), m as (
          select
            cast(greatest(0, count(*) - count(distinct k_eid)) as bigint) as m_uniq,
            cast(greatest(0, count(*) - 8 * count(distinct case
              when cast(('0x' || substr(md5(k_uid), 1, 15)) as bigint)
                   < cast(144115188075855872 as bigint) then k_uid end)) as bigint) as m_uid,
            cast(greatest(0, count(*) - 4 * count(distinct case
              when cast(('0x' || substr(md5(k_et), 1, 15)) as bigint)
                   < cast(288230376151711744 as bigint) then k_et end)) as bigint) as m_et,
            cast(sum(case when event_id is null then 1 else 0 end) as bigint) as m_nn,
            cast(count(*) as bigint) as m_rows
          from k
        )
        select 'min_rows:1' as rule_id, 'min_rows' as kind, '' as "column",
               m_rows as metric, cast(1 as bigint) as threshold,
               m_rows >= 1 as passed from m
        union all select 'not_null:event_id', 'not_null', 'event_id', m_nn,
               cast(0 as bigint), m_nn <= 0 from m
        union all select 'unique:event_id', 'unique', 'event_id', m_uniq,
               cast(0 as bigint), m_uniq <= 0 from m
        union all select 'unique_sampled:event_id,event_type', 'unique_sampled',
               'event_id,event_type', m_et, cast(100 as bigint), m_et <= 100 from m
        union all select 'unique_sampled:user_id', 'unique_sampled', 'user_id',
               m_uid, cast(1000000 as bigint), m_uid <= 1000000 from m
        order by rule_id
        """,
        "stream_dedup": f"""
        select distinct event_id
        from read_parquet('{_STREAM_DEDUP_INPUT}/*.parquet')
        order by event_id
        """,
        "asof_profile_join": """
        select e.event_id, s.ts as asof_ts, s.value as asof_value
        from events e
        asof left join (
            select user_id, ts, value from events where event_id % 20 = 0
        ) s on e.user_id = s.user_id and e.ts >= s.ts
        order by e.event_id
        """,
        "media_decode": f"""
        select media_id,
               true_ok as decode_ok,
               true_format as format,
               true_width as width,
               true_height as height,
               true_sample_rate as sample_rate,
               true_n_samples as n_samples,
               true_sha as content_sha
        from read_parquet('{_MEDIA_DECODE_INPUT}/*.parquet')
        order by media_id
        """,
        "media_features": """
        select doc_id as media_id,
               octet_length(encode(text)) as n_bytes,
               sha256(text) as blob_sha256
        from documents order by media_id
        """,
        "media_resize": """
        select doc_id as media_id,
               cast(64 as int) as width,
               cast(64 as int) as height,
               sha256(text || '|64x64') as resized_sha256,
               octet_length(encode(text)) as n_bytes_in
        from documents order by media_id
        """,
        "frame_plan": """
        select doc_id as media_id,
               cast(ts_ms / 100 as int) as frame_idx,
               cast(ts_ms as bigint) as ts_ms
        from (
            select doc_id, n_chars,
                   unnest(generate_series(0, n_chars - 1, 100)) as ts_ms
            from documents
            where doc_id % 3 = 2 and n_chars >= 1
        )
        order by media_id, frame_idx
        """,
    }
