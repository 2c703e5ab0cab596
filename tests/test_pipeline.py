"""Training-data pipeline operators: dedup, similarity, text, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medea_spark.pipeline import (
    brute_force_topk,
    cosine_near_dup_pairs,
    exact_duplicate_groups,
    extract_features,
    frame_sample_plan,
    lsh_ann_topk,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash,
    simhash_duplicate_groups,
    synthetic_media_table,
    text_profile,
)

from tests.conftest import TESTDATA

SF = f"{TESTDATA}/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    # Inject exact + near duplicates deterministically: copies of every
    # 10th doc (exact), and copies with one word changed (near).
    base = df.select("doc_id", "text", "lang")
    exact = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang"
    )
    near = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit("zzz "), F.col("text")).alias("text"),
        "lang",
    )
    out = base.unionByName(exact).unionByName(near).cache()
    out.count()
    yield out
    out.unpersist()


@pytest.fixture(scope="module")
def vecs(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    df.count()
    yield df
    df.unpersist()


# --- text analysis ----------------------------------------------------------


def test_text_profile(docs):
    prof = text_profile(docs, "doc_id", "text")
    row = prof.filter(F.col("doc_id") == 0).collect()[0]
    assert row["n_tokens_ws"] > 0
    assert row["n_tokens_bpe"] >= row["n_tokens_ws"] - 1
    assert 0.0 <= row["stopword_ratio"] <= 1.0
    assert 0.0 <= row["punct_ratio"] <= 0.05  # word salad, no punctuation
    assert row["quality_score"] in (0.0, 1 / 3, 2 / 3, 1.0) or 0 <= row["quality_score"] <= 1
    assert len(row["fingerprint"]) == 32


# Fixture sentences (UDHR article 2 flavor + everyday prose) — disjoint
# from the profile seed texts in textstats._LANG_SEED_TEXTS, so this is
# a held-out accuracy check, not memorization.
LANG_FIXTURE = [
    ("en", "Everyone is entitled to all the rights and freedoms set forth "
           "in this declaration without distinction of any kind."),
    ("de", "Jeder hat Anspruch auf alle in dieser Erklärung verkündeten "
           "Rechte und Freiheiten ohne irgendeinen Unterschied."),
    ("fr", "Chacun peut se prévaloir de tous les droits et de toutes les "
           "libertés proclamés dans la présente déclaration sans "
           "distinction aucune."),
    ("es", "Toda persona tiene todos los derechos y libertades proclamados "
           "en esta declaración sin distinción alguna de raza o religión."),
    ("it", "Ad ogni individuo spettano tutti i diritti e tutte le libertà "
           "enunciate nella presente dichiarazione senza distinzione "
           "alcuna."),
    ("pt", "Todos os seres humanos podem invocar os direitos e as "
           "liberdades proclamados na presente declaração sem distinção "
           "alguma."),
    ("nl", "Een ieder heeft aanspraak op alle rechten en vrijheden in deze "
           "verklaring opgesomd zonder enig onderscheid van welke aard "
           "ook."),
]


def test_lang_id_trigram_accuracy_beats_keyword(spark):
    """The char-trigram model classifies a held-out 7-language corpus
    perfectly; the legacy keyword heuristic (4 languages, 3 markers
    each) gets most of it wrong — the measurable upgrade the round-3
    verdict asked for."""
    from medea_spark.pipeline import lang_id, lang_id_keyword

    df = spark.createDataFrame(LANG_FIXTURE, ["truth", "text"])
    rows = df.select(
        "truth",
        lang_id(F.col("text")).alias("trigram"),
        lang_id_keyword(F.col("text")).alias("keyword"),
    ).collect()
    trigram_wrong = [r for r in rows if r["trigram"] != r["truth"]]
    keyword_wrong = [r for r in rows if r["keyword"] != r["truth"]]
    assert not trigram_wrong, trigram_wrong
    assert len(keyword_wrong) >= 3, keyword_wrong  # it/pt/nl at minimum


def test_lang_id_unknown_on_junk(spark):
    from medea_spark.pipeline import lang_id

    df = spark.createDataFrame(
        [(1, ""), (2, "12345 67890 #### $$$$"), (3, "zzqx vwkj")],
        ["i", "text"],
    )
    got = {r["i"]: r["g"] for r in df.select("i", lang_id(F.col("text")).alias("g")).collect()}
    assert got[1] == "unknown" and got[2] == "unknown"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in text_profile(df, "doc_id", "text").collect()}
    assert fps[1] == fps[2] != fps[3]


# --- dedup ------------------------------------------------------------------


def test_exact_duplicate_groups(docs):
    groups = exact_duplicate_groups(docs, "doc_id", "text")
    rows = groups.collect()
    assert rows, "expected duplicate groups from injected copies"
    assert all(r["n_docs"] >= 2 for r in rows)
    # keep_id must be the original (smallest) doc_id
    assert all(r["keep_id"] < 100000 for r in rows)


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "one two"), (2, "a b c d")], ["doc_id", "text"])
    sh = shingles(df, "doc_id", "text", n=3)
    got = {(r["doc_id"], r["shingle"]) for r in sh.collect()}
    assert got == {(2, "a b c"), (2, "b c d")}


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    rows = pairs.collect()
    assert rows
    # exact copies have jaccard 1.0; near copies high but < 1
    exact_pairs = [
        r for r in rows if r["doc_a"] < 100000 and r["doc_b"] == r["doc_a"] + 100000
    ]
    near_pairs = [
        r for r in rows if r["doc_a"] < 100000 and r["doc_b"] == r["doc_a"] + 200000
    ]
    assert exact_pairs and all(r["jaccard"] == 1.0 for r in exact_pairs)
    assert near_pairs and all(0.5 <= r["jaccard"] < 1.0 for r in near_pairs)


def test_minhash_lsh_recall(docs):
    # Every exact duplicate pair must be an LSH candidate (identical
    # shingle sets → identical signatures → identical bands).
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(docs, "doc_id", "text", k=8, bands=4).collect()
    }
    expected = {
        (r["doc_id"], r["doc_id"] + 100000)
        for r in docs.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)).collect()
    }
    missing = expected - cand
    assert not missing, f"exact dups missed by LSH: {missing}"


def test_minhash_signature_determinism(docs):
    a = minhash_signatures(docs, "doc_id", "text", k=4).orderBy("doc_id").collect()
    b = minhash_signatures(docs, "doc_id", "text", k=4).orderBy("doc_id").collect()
    assert a == b


def test_incremental_lsh_matches_batch_candidates(docs):
    # Splitting the corpus into history + new batch and joining the new
    # bands against the history's PERSISTED index must recover exactly
    # the batch-mode candidate pairs that straddle the split (new_old)
    # or live inside the batch (new_new) — no pair gained, none lost.
    from medea_spark.pipeline import incremental_lsh_candidates, minhash_band_index

    history = docs.filter(F.col("doc_id") < 100000)
    new_batch = docs.filter(F.col("doc_id") >= 100000)
    index = minhash_band_index(history, "doc_id", "text", k=8, bands=4)
    got = {
        (r["new_doc"], r["match_doc"], r["kind"])
        for r in incremental_lsh_candidates(
            new_batch, index, "doc_id", "text", k=8, bands=4
        ).collect()
    }
    batch = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(docs, "doc_id", "text", k=8, bands=4).collect()
    }
    want = {
        (b, a, "new_old") for a, b in batch if a < 100000 <= b
    } | {
        (a, b, "new_new") for a, b in batch if a >= 100000 and b >= 100000
    }
    assert got == want
    # Exact twins are guaranteed new_old hits of their original.
    originals = {
        r["doc_id"]
        for r in docs.filter(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)
        ).collect()
    }
    assert {(d + 100000, d, "new_old") for d in originals} <= got


def test_incremental_lsh_rejects_wrong_index_shape(docs):
    from medea_spark.pipeline import incremental_lsh_candidates

    with pytest.raises(ValueError, match="minhash_band_index"):
        incremental_lsh_candidates(docs, docs, "doc_id", "text")


def test_incremental_index_bucketing_drops_exchange(spark, docs):
    """The 100-TB claim in minhash_band_index's docstring, plan-
    asserted: with broadcast off (a 100-TB index never broadcasts),
    an index saved bucketed on BOTH join keys (band, key) joins with
    exactly one exchange fewer than the same index as plain parquet —
    the index side's.  Bucket metadata only survives saveAsTable."""
    import shutil
    from urllib.parse import urlparse

    from medea_spark.engine import write_bucketed
    from medea_spark.pipeline import incremental_lsh_candidates, minhash_band_index

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql("drop table if exists bt_lsh_index")
    shutil.rmtree(f"{warehouse}/bt_lsh_index", ignore_errors=True)

    history = docs.filter(F.col("doc_id") < 100000)
    new_batch = docs.filter(F.col("doc_id") >= 100000)
    index = minhash_band_index(history, "doc_id", "text", k=8, bands=4)
    write_bucketed(index, "bt_lsh_index", ["band", "key"], num_buckets=8)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def n_exchanges(idx_df):
            cand = incremental_lsh_candidates(
                new_batch, idx_df, "doc_id", "text", include_new_new=False
            )
            return (
                cand._jdf.queryExecution().executedPlan().toString().count("Exchange")
            )

        # Same bytes as plain parquet (no bucket metadata) — the only
        # difference between the two joins is the index's bucketing.
        index.write.mode("overwrite").parquet(f"{warehouse}/plain_lsh_index")
        plain = spark.read.parquet(f"{warehouse}/plain_lsh_index")
        bucketed = spark.table("bt_lsh_index")
        assert n_exchanges(bucketed) == n_exchanges(plain) - 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        shutil.rmtree(f"{warehouse}/plain_lsh_index", ignore_errors=True)


def test_simhash_exact_dups_collide(docs):
    groups = simhash_duplicate_groups(docs, "doc_id", "text")
    assert groups.count() > 0
    s = simhash(docs.filter(F.col("doc_id").isin(0, 100000)), "doc_id", "text")
    vals = {r["doc_id"]: r["simhash"] for r in s.collect()}
    assert vals[0] == vals[100000]


def test_edit_distance_pairs_blocking_and_cap(spark):
    from medea_spark.pipeline import edit_distance_pairs

    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamms"),   # dist 1 from 1, same block
        (3, "alpha beta XXXXXXX"), # same block, dist > 2
        (4, "zeta beta gamma"),    # different block, dist 2 from 1 — must NOT pair
        (5, None),                 # NULL text dropped
    ]
    df = spark.createDataFrame(rows, "doc_id: long, nm: string")
    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in edit_distance_pairs(
            df, "doc_id", "nm", block=F.substring("nm", 1, 5), max_dist=2
        ).collect()
    }
    assert got == {(1, 2, 1)}
    # Spark levenshtein is CHARACTER-based (unicode-safe), unlike
    # DuckDB's byte-based one — the docstring's oracle caveat.
    uni = spark.createDataFrame(
        [(1, "café"), (2, "cafe")], "doc_id: long, nm: string"
    )
    (pair,) = edit_distance_pairs(
        uni, "doc_id", "nm", block=F.lit("b"), max_dist=3
    ).collect()
    assert pair["dist"] == 1

    # Degenerate block key: with the cap below the block size the
    # whole block is dropped (never goes quadratic); raising it the
    # pairs come back.
    flood = spark.createDataFrame(
        [(i, "same text") for i in range(10)], "doc_id: long, nm: string"
    )
    capped = edit_distance_pairs(
        flood, "doc_id", "nm", block=F.lit("k"), max_dist=0, max_block=9
    )
    assert capped.count() == 0
    full = edit_distance_pairs(
        flood, "doc_id", "nm", block=F.lit("k"), max_dist=0, max_block=10
    )
    assert full.count() == 45

    with pytest.raises(ValueError, match=">= 0"):
        edit_distance_pairs(df, "doc_id", "nm", block=F.lit("k"), max_dist=-1)
    with pytest.raises(ValueError, match="allow pairs"):
        edit_distance_pairs(df, "doc_id", "nm", block=F.lit("k"), max_dist=1, max_block=1)


# --- shard packing ----------------------------------------------------------


def test_pack_shards_budget_and_density(spark):
    from medea_spark.pipeline import pack_shards

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 13 * 17 + 3).alias("n_tokens")
    )
    rows = pack_shards(df, "doc_id", "n_tokens", shard_tokens=300, num_buckets=4).collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault((r["bucket"], r["shard_seq"]), []).append(r)
    for (bucket, _), docs in by_shard.items():
        total = sum(r["n_tokens"] for r in docs)
        last = max(docs, key=lambda r: r["doc_id"])
        # Greedy-with-overflow: budget can only be exceeded by the
        # shard's LAST document.
        assert total - last["n_tokens"] < 300, (bucket, total)
    # Dense per-bucket shard numbering, starting at 0.
    for b in {r["bucket"] for r in rows}:
        seqs = sorted({s for (bb, s) in by_shard if bb == b})
        assert seqs == list(range(len(seqs)))


def test_pack_shards_oversized_doc_and_determinism(spark):
    from medea_spark.pipeline import pack_shards

    df = spark.createDataFrame(
        [(i, 5000 if i == 3 else 40) for i in range(10)], "doc_id: long, n_tokens: long"
    )
    packed = pack_shards(df, "doc_id", "n_tokens", shard_tokens=100, num_buckets=1)
    rows = {r["doc_id"]: r for r in packed.collect()}
    # The oversized doc shares its shard only with docs packed BEFORE
    # it crossed the budget; everything after starts a new shard.
    giant_shard = rows[3]["shard_seq"]
    after = [r for r in rows.values() if r["doc_id"] > 3]
    assert all(r["shard_seq"] > giant_shard for r in after)
    a = sorted(map(tuple, packed.collect()))
    b = sorted(map(tuple, pack_shards(df, "doc_id", "n_tokens", 100, 1).collect()))
    assert a == b


def test_pack_shards_guards(spark):
    from medea_spark.pipeline import pack_shards

    df = spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit(10).alias("n_tokens"),
        F.lit(1).alias("bucket"),
    )
    with pytest.raises(ValueError, match="reserves"):
        pack_shards(df, "doc_id", "n_tokens", 100)
    with pytest.raises(ValueError, match="positive"):
        pack_shards(df.drop("bucket"), "doc_id", "n_tokens", 0)


# --- similarity -------------------------------------------------------------


def test_brute_force_topk(vecs):
    queries = vecs.filter(F.col("vec_id") < 3)
    top = brute_force_topk(vecs, queries, k=3)
    rows = top.collect()
    assert len(rows) == 9
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        assert -1.0 <= r["sim"] <= 1.0
    # ranks are 1..3 per query with non-increasing sim
    by_q = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["sim"])
    for sims in by_q.values():
        assert sims == sorted(sims, reverse=True)


def test_lsh_ann_recall(vecs):
    # Random 64-dim embeddings are a worst case for hyperplane LSH (no
    # cluster structure) — with 2 planes (4 buckets) the same-bucket
    # probability for a true neighbor is still well above chance.
    queries = vecs.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(vecs, queries, k=3).collect()
    approx = lsh_ann_topk(vecs, queries, k=3, n_planes=2, dim=64).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.25, f"LSH recall too low: {recall}"


def test_cosine_near_dup_pairs(spark, vecs):
    # Append scaled copies (cosine 1.0 with originals) — must be found.
    copies = vecs.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        "label",
    )
    df = vecs.unionByName(copies)
    pairs = cosine_near_dup_pairs(df, threshold=0.999, dim=64)
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    expected = {(i, i + 10000) for i in range(5)}
    assert expected <= got


# --- multimodal -------------------------------------------------------------


def test_media_features(spark):
    media = synthetic_media_table(spark, 60)
    feats = extract_features(media, dim=16)
    rows = feats.collect()
    assert len(rows) == 60
    for r in rows:
        assert len(r["feature"]) == 16
        assert r["n_bytes"] > 0 and len(r["blob_sha256"]) == 64
    # determinism: same blob → same features
    again = {r["media_id"]: r["feature"] for r in extract_features(media, dim=16).collect()}
    first = {r["media_id"]: r["feature"] for r in rows}
    assert first == again


def test_media_real_decoder_is_stubbed(spark):
    media = synthetic_media_table(spark, 3)
    with pytest.raises(Exception, match="NotImplementedError|real media decoding"):
        extract_features(media, decoder="real").collect()


def test_frame_sample_plan(spark):
    media = synthetic_media_table(spark, 9)
    plan = frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    # videos have duration 5000ms → 5 planned frames each; 3 videos in 9 rows
    assert len(rows) == 15
    assert {r["ts_ms"] for r in rows} == {0, 1000, 2000, 3000, 4000}


def test_ivf_ann_recall(vecs):
    from medea_spark.pipeline import build_ivf_index, ivf_ann_topk

    queries = vecs.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(vecs, queries, k=3).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    exact_sims = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in exact}
    fits = {
        "default": {},
        # the cheap sampled fit of the ivf_kmeans_topk driver query
        "cheap": dict(
            portable_assign=True, sample_fraction=0.5, max_iter=4, init_mode="random"
        ),
    }
    for name, fit in fits.items():
        index = build_ivf_index(vecs, nlist=8, seed=42, **fit)
        approx = ivf_ann_topk(index, queries, k=3, n_probe=3).collect()
        approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
        recall = len(exact_set & approx_set) / len(exact_set)
        # 3 of 8 density-adapted cells probed: recall should beat random-plane LSH
        assert recall >= 0.4, f"IVF recall too low for the {name} fit: {recall}"
        # approximate sims must be a subset of genuine cosines (exact re-rank)
        for r in approx:
            key = (r["query_id"], r["neighbor_id"])
            if key in exact_sims:
                assert abs(exact_sims[key] - r["sim"]) < 1e-9


def test_ivf_deterministic(vecs):
    from medea_spark.pipeline import build_ivf_index, ivf_ann_topk

    queries = vecs.filter(F.col("vec_id") < 5)
    a = ivf_ann_topk(build_ivf_index(vecs, nlist=8, seed=7), queries, k=3).collect()
    b = ivf_ann_topk(build_ivf_index(vecs, nlist=8, seed=7), queries, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_frame_sample_plan_null_and_zero_duration(spark):
    """Videos with NULL/0 duration plan zero frames — Spark's
    sequence(0, -1) is a runtime error, not an empty array (ADVICE r01)."""
    from medea_spark.pipeline.multimodal import MEDIA_TABLE_SCHEMA

    rows = [
        (1, bytearray(b"v"), ("video", "mp4", None, None, None, None, None)),
        (2, bytearray(b"v"), ("video", "mp4", None, None, None, 0, None)),
        (3, bytearray(b"v"), ("video", "mp4", None, None, None, 2500, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_TABLE_SCHEMA)
    got = frame_sample_plan(media, every_ms=1000).collect()
    assert {(r["media_id"], r["ts_ms"]) for r in got} == {(3, 0), (3, 1000), (3, 2000)}


def test_jaccard_sizes_use_post_cap_universe(spark):
    """When posting-list capping drops a hot shingle, the Jaccard
    denominator must shrink with the numerator (ADVICE r01): two docs
    agreeing on every surviving shingle but one score 1/3, not 1/5."""
    rows = [(1, "x y z a b"), (2, "x y z a c")]
    rows += [(10 + i, f"x y z f{i} m{i}") for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3, max_posting=5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert (1, 2) in got, "pair missed because denominator counted capped shingles"
    assert abs(got[(1, 2)] - 1 / 3) < 1e-6


def test_lsh_plan_composition_runs_no_job(spark):
    """Composing an LSH plan must not trigger a driver-side action
    (the old dim probe ran df.first() per signature call).  A plan
    over a poisoned UDF only fails when an action actually runs."""
    from pyspark.sql import types as T

    from medea_spark.pipeline import lsh_ann_topk, lsh_signatures

    @F.udf(returnType=T.ArrayType(T.DoubleType()))
    def boom():
        raise RuntimeError("action ran during plan composition")

    df = spark.range(4).select(F.col("id").alias("vec_id"), boom().alias("embedding"))
    sig = lsh_signatures(df, dim=4)  # must not raise
    plan = lsh_ann_topk(df, df.limit(1), k=1, dim=4)  # must not raise
    with pytest.raises(Exception, match="action ran"):
        plan.collect()
    with pytest.raises(ValueError, match="requires dim"):
        lsh_signatures(df)
    _ = sig


def test_lsh_buckets_portable_in_duckdb(spark):
    """The md5-derived planes make buckets reproducible in any SQL
    engine: DuckDB computes identical buckets for identical vectors."""
    import duckdb

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet").limit(50)
    from medea_spark.pipeline import lsh_signatures

    got = {
        r["vec_id"]: r["bucket"]
        for r in lsh_signatures(vecs, n_planes=6, seed=9, dim=64).collect()
    }
    con = duckdb.connect()
    sql = f"""
    with planes as (
        select j, list_transform(generate_series(0, 63), d ->
            cast(('0x' || substr(md5('9:' || j || ':' || d), 1, 15)) as bigint)
              / 576460752303423488.0 - 1.0) as plane
        from generate_series(0, 5) t(j)
    )
    select vec_id,
           sum(case when list_dot_product(embedding::DOUBLE[], plane) > 0
                    then (cast(1 as bigint) << j) else 0 end) as bucket
    from (select * from '{SF}/embeddings.parquet' limit 50) cross join planes
    group by vec_id
    """
    duck = {int(r[0]): int(r[1]) for r in con.sql(sql).fetchall()}
    assert got == duck


def test_ivf_hashseed_recall_and_determinism(vecs):
    """The engine-portable zero-iteration quantizer still probes
    meaningfully (recall above chance) and is exactly reproducible."""
    from medea_spark.pipeline import build_ivf_index_hashseed, ivf_ann_topk

    queries = vecs.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(vecs, queries, k=3).collect()
    index = build_ivf_index_hashseed(vecs, nlist=8, seed=42)
    assert index.centroids.count() == 8
    approx = ivf_ann_topk(index, queries, k=3, n_probe=3).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert len(exact_set & approx_set) / len(exact_set) >= 0.25
    again = ivf_ann_topk(
        build_ivf_index_hashseed(vecs, nlist=8, seed=42), queries, k=3, n_probe=3
    ).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_brute_force_partial_topk_is_exact(vecs):
    """The Arrow-batch local top-k prefilter changes the physical plan
    (shuffle carries ≤ batches·|Q|·k rows), never the answer."""
    queries = vecs.filter(F.col("vec_id") < 7)
    full = brute_force_topk(vecs, queries, k=4, partial_topk=False).collect()
    pruned = brute_force_topk(vecs, queries, k=4, partial_topk=True).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, pruned))


def test_simhash_near_dup_pairs(docs, spark):
    """Exact copies at hamming 0, one-token near copies at small
    hamming; banding with max_hamming < bands loses no pair (verified
    against the unbanded popcount cross-check)."""
    from medea_spark.pipeline import simhash, simhash_near_dup_pairs

    subset = docs.filter((F.col("doc_id") % 50 == 0) | (F.col("doc_id") >= 100000))
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(
            subset, "doc_id", "text", max_hamming=10, bands=12
        ).collect()
    }
    base_ids = {
        r["doc_id"]
        for r in subset.filter(F.col("doc_id") < 100000).select("doc_id").collect()
    }
    for i in sorted(base_ids)[:3]:
        assert pairs.get((i, i + 100000)) == 0, f"exact copy of {i} missed"
    # lossless banding: brute-force popcount over the same fingerprints
    sims = {r["doc_id"]: r["simhash"] for r in simhash(subset, "doc_id", "text").collect()}
    ids = sorted(sims)
    brute = {
        (a, b): bin(sims[a] ^ sims[b]).count("1")
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if bin(sims[a] ^ sims[b]).count("1") <= 10
    }
    assert pairs == brute


def test_char_shingles(spark):
    df = spark.createDataFrame([(1, "AB  cd"), (2, "ab")], ["doc_id", "text"])
    sh = shingles(df, "doc_id", "text", n=3, unit="char")
    got = {(r["doc_id"], r["shingle"]) for r in sh.collect()}
    # normalized text of doc 1 is "ab cd"; doc 2 is too short for 3-grams
    assert got == {(1, "ab "), (1, "b c"), (1, " cd")}
    with pytest.raises(ValueError, match="unknown shingle unit"):
        shingles(df, "doc_id", "text", unit="byte")


def test_resize_media_stub_and_determinism(spark):
    from medea_spark.pipeline import resize_media

    media = synthetic_media_table(spark, 12)
    a = {r["media_id"]: tuple(r) for r in resize_media(media, 32, 48).collect()}
    b = {r["media_id"]: tuple(r) for r in resize_media(media, 32, 48).collect()}
    assert a == b and len(a) == 12
    row = next(iter(a.values()))
    assert row[1] == 32 and row[2] == 48 and len(row[3]) == 64
    # different target dims → different digests (dims are part of the seam)
    c = {r["media_id"]: r["resized_sha256"] for r in resize_media(media, 64, 64).collect()}
    assert all(c[m] != a[m][3] for m in c)
    with pytest.raises(Exception, match="NotImplementedError|real image resizing"):
        resize_media(media, decoder="real").collect()


def test_simhash_band_partition_has_no_constant_band(spark):
    """Band counts that don't divide 60 must still partition bits
    exactly (a constant-zero trailing band would make every document
    pair a candidate — globally quadratic)."""
    from medea_spark.pipeline import simhash_near_dup_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta"), (3, "eta theta iota")],
        ["doc_id", "text"],
    )
    # bands=13 was the degenerate case with ceil-width slicing
    pairs = simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=2, bands=13)
    assert pairs.count() == 0  # unrelated docs must NOT all collide
    with pytest.raises(ValueError, match="lossless"):
        simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=5, bands=4)


def test_lsh_bucket_rejects_wrong_dim(vecs):
    from medea_spark.pipeline import lsh_signatures

    with pytest.raises(Exception, match="lsh_bucket: dim=8 but vector has length"):
        lsh_signatures(vecs.limit(3), n_planes=2, dim=8).collect()


def test_ivf_sampled_fit(vecs):
    """The 100 TB path: fit the coarse quantizer on a sample, assign the
    full corpus — index still covers every vector and probes work."""
    from medea_spark.pipeline import build_ivf_index, ivf_ann_topk

    index = build_ivf_index(vecs, nlist=4, seed=42, sample_fraction=0.3)
    assert index.assigned.count() == vecs.count()
    assert index.centroids.count() == 4
    queries = vecs.filter(F.col("vec_id") < 3)
    top = ivf_ann_topk(index, queries, k=3, n_probe=2).collect()
    assert len(top) == 9


def test_lsh_bucket_null_vector_clear_error(spark):
    from medea_spark.pipeline import lsh_signatures

    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, None)], "vec_id int, embedding array<double>"
    )
    with pytest.raises(Exception, match="lsh_bucket: NULL vector"):
        lsh_signatures(df, n_planes=2, dim=2).collect()


def test_simhash_empty_doc_sentinel(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "   "), (3, ""), (4, "alpha beta")],
        ["doc_id", "text"],
    )
    # Default: token-less docs produce no row (documented exclusion).
    assert {r.doc_id for r in simhash(df, "doc_id", "text").collect()} == {1, 4}
    # Sentinel: every doc gets a row; empty docs share the sentinel.
    rows = {r.doc_id: r.simhash for r in simhash(
        df, "doc_id", "text", empty_sentinel=-1
    ).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[2] == rows[3] == -1
    assert rows[1] == rows[4] != -1
    groups = simhash_duplicate_groups(
        df, "doc_id", "text", empty_sentinel=-1
    ).collect()
    assert {g.simhash: g.n_docs for g in groups} == {rows[1]: 2, -1: 2}


def test_ivf_assignment_is_windowless(vecs):
    """The cell assignment must be a codegen argmax over a broadcast
    centroid array — no per-id window (the round-2 |corpus|x nlist +
    window shape), no row blowup."""
    from medea_spark.pipeline import assign_cells, build_ivf_index, build_ivf_index_hashseed

    index = build_ivf_index(vecs, nlist=4, seed=42, portable_assign=True)
    plan = index.assigned._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # fully windowless with literal centroids
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    hs = build_ivf_index_hashseed(vecs, nlist=4, seed=42)
    hplan = hs.assigned._jdf.queryExecution().executedPlan().toString()
    # The only window ranks the nlist centroid rows (ordered by _hk);
    # nothing may window-partition the corpus by its id.
    assert "windowspecdefinition(vec_id" not in hplan
    # Same verdicts as an explicit crossJoin+argmax over collected rows:
    cents = {r.cluster: r.centroid for r in index.centroids.collect()}
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    got = {r.vec_id: r.cluster for r in index.assigned.select("vec_id", "cluster").collect()}
    for row in vecs.select("vec_id", "embedding").limit(25).collect():
        sims = sorted(
            ((cos(row.embedding, c), -k) for k, c in cents.items()), reverse=True
        )
        assert got[row.vec_id] == -sims[0][1]


def test_jaccard_staged_equals_persisted(docs, tmp_path):
    """stage_location (the 100x path) must change the plan, not the
    answer: staged and session-persisted runs return identical pairs."""
    subset = docs.filter(F.col("doc_id") % 20 == 0)
    base = ngram_jaccard_pairs(subset, "doc_id", "text", n=3, threshold=0.4)
    staged = ngram_jaccard_pairs(
        subset, "doc_id", "text", n=3, threshold=0.4,
        stage_location=str(tmp_path / "sh_stage"),
    )
    a = {(r.doc_a, r.doc_b, r.jaccard) for r in base.collect()}
    b = {(r.doc_a, r.doc_b, r.jaccard) for r in staged.collect()}
    assert a == b and len(a) > 0


def test_simhash_rejects_in_range_sentinel(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="empty_sentinel"):
        simhash(df, "doc_id", "text", empty_sentinel=0)
    with pytest.raises(ValueError, match="empty_sentinel"):
        simhash(df, "doc_id", "text", empty_sentinel=(1 << 59))


# --- deterministic sampling -------------------------------------------------


def test_deterministic_sample_reproducible_and_nested(spark):
    """Same rows every run; and because the predicate is hash <
    rate*space, a lower rate's sample is a SUBSET of a higher rate's —
    the property that makes staged sample-size sweeps consistent."""
    from medea_spark.pipeline import deterministic_sample

    df = spark.range(20_000).withColumnRenamed("id", "k")
    a1 = {r.k for r in deterministic_sample(df, "k", 0.2).collect()}
    a2 = {r.k for r in deterministic_sample(df, "k", 0.2).collect()}
    b = {r.k for r in deterministic_sample(df, "k", 0.5).collect()}
    assert a1 == a2
    assert a1 <= b
    assert abs(len(a1) / 20_000 - 0.2) < 0.02
    assert abs(len(b) / 20_000 - 0.5) < 0.02


def test_assign_splits_partitions_exhaustively(spark):
    """Every row gets exactly one split; proportions track the weights;
    reruns agree; consistent with deterministic_sample's hash (the
    train segment of seed s == the rate-0.8 sample of seed s)."""
    from medea_spark.pipeline import assign_splits, deterministic_sample

    df = spark.range(20_000).withColumnRenamed("id", "k")
    out = assign_splits(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7)
    rows = out.collect()
    assert len(rows) == 20_000
    counts: dict = {}
    for r in rows:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    assert abs(counts["val"] / 20_000 - 0.1) < 0.01
    assert abs(counts["test"] / 20_000 - 0.1) < 0.01
    again = {(r["k"], r["split"]) for r in out.collect()}
    assert {(r["k"], r["split"]) for r in rows} == again
    sampled = {r.k for r in deterministic_sample(df, "k", 0.8, seed=7).collect()}
    assert {r["k"] for r in rows if r["split"] == "train"} == sampled


def test_assign_splits_guards(spark):
    from medea_spark.pipeline import assign_splits

    df = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="sum to 1"):
        assign_splits(df, "k", {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError, match="at least one"):
        assign_splits(df, "k", {})
    with pytest.raises(ValueError, match="already exists"):
        assign_splits(df.withColumn("split", F.lit("x")), "k", {"a": 1.0})
    only = assign_splits(df, "k", {"all": 1.0})
    assert {r["split"] for r in only.collect()} == {"all"}
    # NULL keys get a NULL split — never silently piled into the last
    # segment (which would contaminate a held-out set).
    withnull = spark.createDataFrame([(1,), (None,)], "k: long")
    got = {r["k"]: r["split"] for r in
           assign_splits(withnull, "k", {"train": 0.5, "test": 0.5}).collect()}
    assert got[None] is None and got[1] in ("train", "test")


def test_stratified_sample_rates(spark):
    from medea_spark.pipeline import stratified_sample

    df = spark.range(30_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("fr")
        .alias("lang"),
    )
    out = stratified_sample(
        df, "lang", "k", {"en": 0.1, "de": 1.0}, default_rate=0.0
    )
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["de"] == 10_000  # rate 1.0 keeps everything
    assert "fr" not in counts  # default 0.0 drops unlisted strata
    assert abs(counts["en"] / 10_000 - 0.1) < 0.02


def test_sample_per_group_exact_k_and_deterministic(spark):
    """k rows per group (all rows when the group is smaller), ranks are
    1..k, the selection is rerun-stable, and a different seed picks a
    different subset (the hash actually depends on the seed)."""
    from medea_spark.pipeline import sample_per_group

    df = spark.range(3_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "big").otherwise("bigger").alias("g"),
    ).union(spark.createDataFrame([(100_000 + i, "tiny") for i in range(3)], "k long, g string"))
    out = sample_per_group(df, ["g"], "k", 5)
    by_g = {}
    for r in out.collect():
        by_g.setdefault(r["g"], []).append((r["sample_rank"], r["k"]))
    assert sorted(r for r, _ in by_g["big"]) == [1, 2, 3, 4, 5]
    assert sorted(r for r, _ in by_g["bigger"]) == [1, 2, 3, 4, 5]
    assert sorted(r for r, _ in by_g["tiny"]) == [1, 2, 3]  # undersized group keeps all
    again = sample_per_group(df, ["g"], "k", 5).collect()
    assert {(r["g"], r["sample_rank"], r["k"]) for r in again} == {
        (g, rank, k) for g, pairs in by_g.items() for rank, k in pairs
    }
    other_seed = sample_per_group(df, ["g"], "k", 5, seed=7)
    assert {(r["g"], r["k"]) for r in other_seed.collect()} != {
        (g, k) for g, pairs in by_g.items() for _, k in pairs
    }
    with pytest.raises(ValueError):
        sample_per_group(df, ["g"], "k", 0)
    with pytest.raises(ValueError):
        sample_per_group(df, [], "k", 5)
    with pytest.raises(ValueError):  # output-name collision is loud
        sample_per_group(df.withColumn("sample_rank", F.lit(1)), ["g"], "k", 5)


def test_weighted_sample_rate_propensity_and_edges(spark):
    """Keep-rate tracks the weight; weight·scale >= 1 keeps with
    certainty; NULL/negative weights keep nothing; scale < 0 raises."""
    from medea_spark.pipeline import weighted_sample

    df = spark.range(40_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 4 == 0, 10.0)
        .when(F.col("id") % 4 == 1, 40.0)
        .when(F.col("id") % 4 == 2, F.lit(None).cast("double"))
        .otherwise(-5.0)
        .alias("w"),
    )
    out = weighted_sample(df, "k", "w", scale=0.01)  # rates 0.1 / 0.4 / 0 / 0
    kept = {r.k % 4: 0 for r in []}
    for r in out.groupBy((F.col("k") % 4).alias("m")).count().collect():
        kept[r["m"]] = r["count"]
    assert abs(kept.get(0, 0) / 10_000 - 0.1) < 0.02
    assert abs(kept.get(1, 0) / 10_000 - 0.4) < 0.02
    assert kept.get(2, 0) == 0 and kept.get(3, 0) == 0
    certain = weighted_sample(df.filter(F.col("w") == 40.0), "k", "w", scale=0.025)
    assert certain.count() == 10_000  # 40 * 0.025 = 1.0 -> certainty
    with pytest.raises(ValueError):
        weighted_sample(df, "k", "w", scale=-0.1)


# --- boilerplate line removal ----------------------------------------------


def test_remove_boilerplate_lines_hand_case(spark):
    """The banner line in 3 of 4 docs is stripped everywhere; unique
    lines survive in original order; an all-boilerplate doc comes back
    as an empty husk rather than vanishing."""
    from medea_spark.pipeline import line_doc_frequency, remove_boilerplate_lines

    banner = "(c) example corp - all rights reserved"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\nalpha one\nalpha two"),
            (2, f"beta one\n{banner}\nbeta two"),
            (3, banner),
            (4, "gamma solo"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in remove_boilerplate_lines(docs, min_docs=3).collect()}
    assert out[1]["text"] == "alpha one\nalpha two"
    assert out[1]["n_lines_kept"] == 2 and out[1]["n_lines_removed"] == 1
    assert out[2]["text"] == "beta one\nbeta two"
    assert out[3]["text"] == "" and out[3]["n_lines_kept"] == 0
    assert out[4]["text"] == "gamma solo" and out[4]["n_lines_removed"] == 0

    freq = {r["line"]: r["n_docs"] for r in line_doc_frequency(docs).collect()}
    assert freq[banner] == 3  # distinct docs, not occurrences
    assert freq["gamma solo"] == 1


def test_remove_boilerplate_lines_broadcast_strategy_differential(spark):
    """strategy='broadcast' (content never shuffles: hash-pair count +
    broadcast set + one Arrow map stage) produces EXACTLY the join
    strategy's output, including empty husks; the broadcast-set cap is
    a loud error, not a silent fallback."""
    from medea_spark.pipeline import remove_boilerplate_lines

    banner = "(c) example corp - all rights reserved"
    nav = "home | about | contact"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\nalpha one\n{nav}\nalpha two"),
            (2, f"beta one\n{banner}\n{nav}"),
            (3, f"{banner}\n{nav}"),
            (4, "gamma solo"),
            (5, f"{nav}\ndelta\n{nav}\n{banner}"),
        ],
        "doc_id int, text string",
    )
    want = {
        tuple(r)
        for r in remove_boilerplate_lines(docs, min_docs=3).collect()
    }
    got = {
        tuple(r)
        for r in remove_boilerplate_lines(docs, min_docs=3, strategy="broadcast").collect()
    }
    assert got == want and len(got) == 5
    with pytest.raises(ValueError):
        remove_boilerplate_lines(
            docs, min_docs=3, strategy="broadcast", max_broadcast_lines=1
        ).collect()
    with pytest.raises(ValueError):
        remove_boilerplate_lines(docs, strategy="nope")


def test_remove_boilerplate_lines_within_doc_repeat_not_counted_twice(spark):
    """A line repeated 5x inside ONE doc contributes one distinct-doc
    count — it is not boilerplate unless other docs carry it too — and
    min_docs < 2 is rejected (it would strip every line)."""
    from medea_spark.pipeline import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [(1, "\n".join(["echo"] * 5)), (2, "other")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in remove_boilerplate_lines(docs, min_docs=2).collect()}
    assert out[1]["text"] == "\n".join(["echo"] * 5)  # survives: only 1 doc has it
    with pytest.raises(ValueError):
        remove_boilerplate_lines(docs, min_docs=1)
    with pytest.raises(ValueError):  # reserved-name collision is loud
        remove_boilerplate_lines(
            docs.withColumnRenamed("doc_id", "n_lines_kept"), id_col="n_lines_kept"
        )


# --- sessionization ---------------------------------------------------------


def test_sessionize_exact_assignment(spark):
    from datetime import datetime

    from medea_spark.pipeline import session_stats, sessionize

    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def at(minute):
        return datetime(2024, 1, 1, 0, 0, 0).replace(minute=minute)

    rows = [
        # user 1: events at 0, 10, 55 min → gap 45 min splits a 30-min session
        (1, 1, at(0)),
        (2, 1, at(10)),
        (3, 1, at(55)),
        # user 2: single event
        (4, 2, at(5)),
        # user 1 tie on ts with event 1 → deterministic id ordering
        (0, 1, at(0)),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    got = {
        r.event_id: (r.session_idx, r.session_id)
        for r in sessionize(df, gap_minutes=30).collect()
    }
    assert got[0] == (1, "1-1") and got[1] == (1, "1-1") and got[2] == (1, "1-1")
    assert got[3] == (2, "1-2")
    assert got[4] == (1, "2-1")
    stats = {
        (r.user_id, r.session_idx): (r.n_events, r.duration_sec, r.first_event_id)
        for r in session_stats(df, gap_minutes=30).collect()
    }
    assert stats[(1, 1)] == (3, 600, 0)
    assert stats[(1, 2)] == (1, 0, 3)
    assert stats[(2, 1)] == (1, 0, 4)


# --- connected components ---------------------------------------------------


def test_connected_components_shapes(spark):
    """Chain (multi-hop propagation), cycle, star, and two disjoint
    components — labels must be the min node id of each component."""
    from medea_spark.pipeline import connected_components

    edges = [
        (1, 2), (2, 3), (3, 4),          # chain 1-2-3-4
        (10, 11), (11, 12), (12, 10),    # cycle
        (20, 21), (20, 22), (20, 23),    # star
        (31, 30),                        # reversed edge direction
    ]
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
        30: 30, 31: 30,
    }
    # error-path contracts: an empty edge frame gives no rows; an edge
    # with a NULL endpoint connects nothing, and its NULL node is one
    # (NULL, NULL) row
    empty = spark.createDataFrame([], "a long, b long")
    assert connected_components(empty).count() == 0
    nulls = spark.createDataFrame([(1, None), (5, None), (1, 2)], "a long, b long")
    got = {r.node: r.component for r in connected_components(nulls).collect()}
    assert got == {1: 1, 2: 1, 5: 5, None: None}


def test_connected_components_long_chain_converges(spark):
    from medea_spark.pipeline import connected_components

    n = 12
    df = spark.createDataFrame([(i, i + 1) for i in range(n)], ["a", "b"])
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_diameter_guard(spark):
    import pytest

    from medea_spark.pipeline import connected_components

    df = spark.createDataFrame([(i, i + 1) for i in range(6)], ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)


def test_connected_components_self_loop_only_nodes(spark):
    """A node mentioned ONLY in self-loop pairs still gets a cluster
    row (its own singleton) instead of vanishing from the output."""
    from medea_spark.pipeline import connected_components, duplicate_clusters

    df = spark.createDataFrame([(7, 7), (1, 2), (3, 3)], ["a", "b"])
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 7: 7}
    rows = {
        r.doc_id: (r.cluster_id, r.is_keeper)
        for r in duplicate_clusters(
            spark.createDataFrame([(9, 9)], ["doc_a", "doc_b"])
        ).collect()
    }
    assert rows == {9: (9, True)}


def test_connected_components_log_diameter_bound(spark):
    """A 60-node path whose ids increase along it has diameter 59:
    pointer-jumping propagation
    (round-6 optimization: label ← min(label, label(label)) each round)
    closes it within 8 rounds — the pre-jump diameter-bound loop could
    not — and still trips the non-convergence guard when the budget is
    below the log bound.  The default budget converges too."""
    import pytest

    from medea_spark.pipeline import connected_components

    n = 60
    df = spark.createDataFrame([(i, i + 1) for i in range(n)], ["a", "b"])
    got = {
        r.node: r.component
        for r in connected_components(df, max_iter=8).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)
    got_default = {r.node: r.component for r in connected_components(df).collect()}
    assert got_default == {i: 0 for i in range(n + 1)}


def _union_find_components(edges: list) -> dict:
    """Ground truth: node → smallest node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    universe = {a for a, _ in edges} | {b for _, b in edges}
    comp_members: dict = {}
    for n_ in universe:
        comp_members.setdefault(find(n_), set()).add(n_)
    want = {}
    for members in comp_members.values():
        m = min(members)
        for n_ in members:
            want[n_] = m

    return want


def test_connected_components_star_random_graph_vs_union_find(spark):
    """Long chains against union-find at the default budget: a seeded
    random graph plus a long-chain tail grafted onto one component,
    and paths whose ids are shuffled along them (the shape that takes
    pointer-jumping propagation O(diameter) rounds, not O(log
    diameter), so it hands its labels off to large-star / small-star),
    one of them with string ids; and the 20-10-30-5 path, whose
    (node, label) pairs alone split it in two after one round."""
    import random

    from medea_spark.pipeline import connected_components

    rng = random.Random(777)
    nodes = list(range(150))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(110)]
    edges += [(1000 + i, 1001 + i) for i in range(40)]  # chain tail
    edges.append((edges[0][0], 1000))                   # graft chain on
    edges = [(a, b) for a, b in edges if a != b]
    ids = list(range(200))
    rng.shuffle(ids)
    shuffled_path = list(zip(ids, ids[1:]))
    names = [f"doc-{i:03d}" for i in range(120)]
    rng.shuffle(names)
    string_path = list(zip(names, names[1:]))

    for graph in (edges, shuffled_path, string_path, [(20, 10), (10, 30), (30, 5)]):
        df = spark.createDataFrame(graph, ["a", "b"])
        got = {r.node: r.component for r in connected_components(df).collect()}
        assert got == _union_find_components(graph)


def test_connected_components_round_estimate_stays_bounded(spark, monkeypatch):
    """Each round checkpoints its labels (propagation) or edges (star).
    The checkpoint must not carry the Catalyst size estimate of the
    round's plan: the pointer-jump self-join squares it, so carried
    forward its digit count doubles every round, and the BigInt
    arithmetic alone makes each later round take seconds to minutes.
    The shuffled-id path hands off to the star rounds, so both
    phases' checkpoints are checked."""
    import random

    from medea_spark.pipeline import connected_components

    ids = list(range(60))
    random.Random(1).shuffle(ids)
    df = spark.createDataFrame(list(zip(ids, ids[1:])), ["a", "b"])
    digits: list[int] = []
    checkpoint = type(df).localCheckpoint

    def recording(self, *args, **kwargs):
        size = self._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        digits.append(len(str(size)))
        # fail on the first runaway round, before the estimate gets slow
        assert digits[-1] < 100, digits
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", recording)
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _union_find_components(list(zip(ids, ids[1:])))


def test_duplicate_clusters_keeper(spark):
    from medea_spark.pipeline import duplicate_clusters

    pairs = spark.createDataFrame([(5, 9), (9, 7), (100, 101)], ["doc_a", "doc_b"])
    rows = {r.doc_id: (r.cluster_id, r.is_keeper) for r in duplicate_clusters(pairs).collect()}
    assert rows == {5: (5, True), 9: (5, False), 7: (5, False),
                    100: (100, True), 101: (100, False)}


def test_chunk_documents_windows(spark):
    """Sliding-window math: exact starts/lengths, seam overlap, short
    and empty docs, and full coverage (every token appears in some
    chunk; consecutive chunks share exactly `overlap` tokens)."""
    import pytest

    from medea_spark.pipeline import chunk_documents

    toks = [f"w{i}" for i in range(25)]
    df = spark.createDataFrame(
        [
            (1, " ".join(toks)),       # 25 tokens, chunk 10/overlap 4 -> stride 6
            (2, "a b c"),               # short -> single chunk
            (3, ""),                    # empty -> single empty chunk
        ],
        ["doc_id", "text"],
    )
    out = chunk_documents(df, chunk_tokens=10, overlap=4).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    # 25 tokens: 1 + ceil((25-10)/6) = 4 chunks at starts 0,6,12,18
    assert [r.chunk_start for r in c1] == [0, 6, 12, 18]
    assert [r.chunk_len for r in c1] == [10, 10, 10, 7]
    assert all(r.n_chunks == 4 and r.n_tokens == 25 for r in c1)
    assert c1[0].chunk_text == " ".join(toks[0:10])
    assert c1[3].chunk_text == " ".join(toks[18:25])
    # seam: consecutive chunks share exactly `overlap` tokens
    assert c1[0].chunk_text.split()[-4:] == c1[1].chunk_text.split()[:4]
    # coverage: union of chunk tokens == document tokens
    assert set().union(*[set(r.chunk_text.split()) for r in c1]) == set(toks)
    assert [ (r.chunk_id, r.chunk_len, r.chunk_text) for r in by_doc[2] ] == [(0, 3, "a b c")]
    assert [ (r.chunk_id, r.chunk_len, r.chunk_text) for r in by_doc[3] ] == [(0, 0, "")]

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_pii_scrub_hand_cases(spark):
    """Placeholder substitution + counts: multiple matches per kind,
    sequential semantics (an email's digits are not re-matched as a
    phone), and clean text passes through untouched."""
    from medea_spark.pipeline import scrub_table

    rows = [
        (1, "mail a.b+c@x-corp.io and d@e.org now"),
        (2, "server 10.0.0.1 and 192.168.1.255 up"),
        (3, "call +491234567890 or write n5@ex.com"),
        (4, "no pii here at all"),
        (5, "+123 too short, 999.999.999.999 still an ip shape"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: (r.redacted, r.n_email, r.n_ip, r.n_phone)
        for r in scrub_table(df).collect()
    }
    assert out[1] == ("mail <EMAIL> and <EMAIL> now", 2, 0, 0)
    assert out[2] == ("server <IP> and <IP> up", 0, 2, 0)
    assert out[3] == ("call <PHONE> or write <EMAIL>", 1, 0, 1)
    assert out[4] == ("no pii here at all", 0, 0, 0)
    # +123 below the 9-digit floor is NOT a phone; the pattern scrub is
    # shape-based, so 999.* quads still redact (documented behavior)
    assert out[5] == ("+123 too short, <IP> still an ip shape", 0, 1, 0)


def test_repetition_stats_hand_cases(spark):
    """Known repetition shapes: all-same-word doc saturates every
    fraction, an all-distinct doc zeroes them, a half-repeated doc
    matches the hand count, and empty/short docs are 0 (not NULL/crash)."""
    from medea_spark.pipeline import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),
            (2, "one two three four five six"),
            (3, "a b a b a b x y"),
            (4, "solo"),
            (5, ""),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r.asDict() for r in repetition_stats(df, "doc_id", "text").collect()
    }
    # doc 1: 5 words 1 distinct; 4 identical 2-grams; 3 identical 3-grams
    assert out[1]["excess_word_fraction"] == 0.8
    assert out[1]["top_2gram_fraction"] == 1.0
    assert out[1]["excess_2gram_fraction"] == 0.75
    assert out[1]["top_3gram_fraction"] == 1.0
    # doc 2: everything distinct
    assert out[2]["excess_word_fraction"] == 0.0
    assert out[2]["top_2gram_fraction"] == round(1 / 5, 6)
    assert out[2]["excess_2gram_fraction"] == 0.0
    # doc 3: 8 words {a:3,b:3,x:1,y:1} -> excess 4/8; 2-grams:
    # [ab,ba,ab,ba,ab,bx,xy] -> top 'a b' 3/7, distinct 4 -> excess 3/7
    assert out[3]["excess_word_fraction"] == 0.5
    assert out[3]["top_2gram_fraction"] == round(3 / 7, 6)
    assert out[3]["excess_2gram_fraction"] == round(3 / 7, 6)
    # short/empty: all-zero, present
    assert out[4]["n_words"] == 1 and out[4]["top_2gram_fraction"] == 0.0
    assert out[5]["n_words"] == 0 and out[5]["excess_word_fraction"] == 0.0


def test_contamination_report_semantics(spark):
    """8-gram overlap: a doc sharing an 8-token run with the eval set
    is flagged, a 7-token overlap is NOT, short docs report zero
    n-grams, and the ratio math matches a hand count."""
    from pyspark.sql import functions as F

    from medea_spark.pipeline import contamination_report

    eval_text = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [
            # 10 tokens copied verbatim -> contains eval 8-grams
            (1, "intro words " + eval_text + " closing remark"),
            # only a 7-token run shared ("quick...the", broken after) -> clean
            (2, "the quick brown fox jumps over the SNAPPED different tail now"),
            (3, "completely unrelated text with many boring tokens here today"),
            (4, "too short"),
            (5, ""),
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame([(eval_text,)], ["text"])
    out = {
        r.doc_id: (r.n_ngrams, r.n_contaminated, r.is_contaminated)
        for r in contamination_report(corpus, eval_df, n=8).collect()
    }
    # doc 1: 14 tokens + 10-token quote -> some hits; exactly the 3 full
    # 8-grams of the quote appear (quote has 10 tokens -> 3 8-grams)
    assert out[1][2] is True and out[1][1] == 3
    assert out[2] == (4, 0, False)          # 11 tokens -> 4 8-grams, no hit
    assert out[3][2] is False
    assert out[4] == (0, 0, False)
    assert out[5] == (0, 0, False)
    # every corpus row gets a report row
    assert set(out) == {1, 2, 3, 4, 5}


def test_contamination_report_broadcast_plan(spark):
    """The eval hash set broadcasts: the corpus side must join via
    BroadcastHashJoin (no shuffle of the exploded corpus pairs)."""
    from pyspark.sql import functions as F

    from medea_spark.pipeline import contamination_report

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta eta theta iota doc "),
                 F.col("id").cast("string")).alias("text"),
    )
    rpt = contamination_report(docs, docs.limit(5), n=8)
    plan = rpt._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # and the report is self-consistent: eval members hit themselves
    got = {r.doc_id: r.is_contaminated for r in rpt.collect()}
    assert got[0] is True


def test_ngram_hashes_match_python_reference(spark):
    """Differential vs a plain-Python recompute of the normalized
    8-gram 60-bit hashes (the same arithmetic the DuckDB oracle
    runs)."""
    import hashlib
    import re

    from pyspark.sql import functions as F

    from medea_spark.pipeline import ngram_hashes

    texts = [
        "The  quick,  Brown FOX!! jumps over 42 lazy dogs again and again",
        "one two three four five six seven eight nine",
        "seven tokens only in this one here",
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r.i: sorted(r.h)
        for r in df.select("i", ngram_hashes(F.col("t"), 8).alias("h")).collect()
    }

    def py_hashes(text, n=8):
        toks = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split()
        if not toks or toks == [""] or len(toks) < n:
            return []
        grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        return sorted(int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams)

    assert got == {i: py_hashes(t) for i, t in enumerate(texts)}


def test_training_mix_hits_budget_and_weights(spark):
    """Rates land the sampled token total near the budget at the target
    mixture; an undersized stratum caps at rate 1.0 (keep everything,
    never invent data)."""
    from medea_spark.pipeline import build_training_mix, mixture_rates
    from medea_spark.pipeline.textstats import token_count_ws

    df = spark.range(9_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("rare")
        .alias("lang"),
        F.lit(100).alias("n_tokens"),
    )
    weights = {"en": 0.5, "de": 0.3, "rare": 0.2}
    budget = 60_000
    rates = mixture_rates(df, "lang", "n_tokens", weights, budget)
    # en: 30000/300000=0.1, de: 18000/300000=0.06, rare: 12000/300000=0.04
    assert abs(rates["en"] - 0.1) < 1e-12 and abs(rates["de"] - 0.06) < 1e-12
    mix, rates2 = build_training_mix(
        df, "lang", "doc_id", "n_tokens", weights, budget
    )
    assert rates2 == rates
    got = {r["lang"]: r["t"] for r in mix.groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect()}
    for lang, w in weights.items():
        assert abs(got[lang] - budget * w) / (budget * w) < 0.15
    # undersized stratum caps at 1.0
    tiny = df.filter((F.col("lang") != "rare") | (F.col("doc_id") < 30))
    r3 = mixture_rates(tiny, "lang", "n_tokens", weights, budget)
    assert r3["rare"] == 1.0


# --- as-of join -------------------------------------------------------------


def test_asof_join_semantics(spark):
    """Latest right row <= left ts per key; NULL before the first
    snapshot and for keys with no history; equal timestamps match."""
    from datetime import datetime

    from medea_spark.pipeline import asof_join

    def t(m):
        return datetime(2024, 1, 1, 0, m, 0)

    left = spark.createDataFrame(
        [
            (1, "u1", t(0)),    # before any snapshot -> NULL
            (2, "u1", t(10)),   # == snapshot ts -> matches it
            (3, "u1", t(25)),   # between snapshots -> the 10-min one
            (4, "u1", t(40)),   # after both -> the 30-min one
            (5, "u2", t(40)),   # no history for u2 -> NULL
        ],
        ["event_id", "user", "ts"],
    )
    right = spark.createDataFrame(
        [("u1", t(10), 100.0), ("u1", t(30), 300.0)],
        ["user", "ts", "score"],
    )
    out = {
        r.event_id: (r.asof_ts, r.asof_score)
        for r in asof_join(left, right, by=["user"]).collect()
    }
    assert out[1] == (None, None)
    assert out[2] == (t(10), 100.0)
    assert out[3] == (t(10), 100.0)
    assert out[4] == (t(30), 300.0)
    assert out[5] == (None, None)


def test_asof_join_requires_key(spark):
    import pytest

    from medea_spark.pipeline import asof_join

    with pytest.raises(ValueError, match="equi-key"):
        asof_join(spark.range(1), spark.range(1), by=[])


def test_asof_join_hot_key_guard(spark):
    """max_history bounds a hot key's materialized history array:
    'error' fails loudly the moment a key exceeds the cap; 'latest'
    keeps only the N most-recent history rows (probes at/after the
    truncation horizon still get exact answers); output-name
    collisions with the left side raise instead of silently
    overwriting."""
    from datetime import datetime, timedelta

    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from medea_spark.pipeline import asof_join

    base = datetime(2024, 1, 1)
    # hot key: 50 history rows; cold key: 2
    snaps = [("hot", base + timedelta(minutes=i), float(i)) for i in range(50)]
    snaps += [("cold", base + timedelta(minutes=i), float(100 + i)) for i in range(2)]
    right = spark.createDataFrame(snaps, ["user", "ts", "score"])
    left = spark.createDataFrame(
        [(1, "hot", base + timedelta(minutes=200)),
         (2, "hot", base + timedelta(minutes=46, seconds=30)),
         (3, "hot", base + timedelta(minutes=10)),   # below truncation horizon
         (4, "cold", base + timedelta(minutes=200))],
        ["event_id", "user", "ts"],
    )

    with pytest.raises(SparkRuntimeException, match="max_history=10"):
        asof_join(left, right, by=["user"], max_history=10).collect()

    out = {
        r.event_id: r.asof_score
        for r in asof_join(
            left, right, by=["user"], max_history=5, on_overflow="latest"
        ).collect()
    }
    assert out[1] == 49.0          # latest row survives truncation
    assert out[2] == 46.0          # within the kept window -> exact
    assert out[3] is None          # older than kept window -> NULL (documented)
    assert out[4] == 101.0         # cold key untouched
    # cap >= actual history is a no-op on both policies
    full = asof_join(left, right, by=["user"], max_history=50).collect()
    assert {r.event_id: r.asof_score for r in full}[3] == 10.0

    with pytest.raises(ValueError, match="already exist"):
        asof_join(left.withColumn("asof_score", left.event_id), right, by=["user"])
    with pytest.raises(ValueError, match="on_overflow"):
        asof_join(left, right, by=["user"], max_history=5, on_overflow="drop")
    with pytest.raises(ValueError, match="max_history"):
        asof_join(left, right, by=["user"], max_history=0)


def test_asof_join_randomized_differential_vs_duckdb(spark):
    """Seeded randomized differential: ~2000 probes against ~300
    snapshots with deliberately nasty shapes — equal timestamps,
    probes before any history, keys with no history at all, keys with
    dense histories — must match DuckDB's native ASOF JOIN row-for-row
    in one pass."""
    import random
    from datetime import datetime, timedelta

    import duckdb

    from medea_spark.pipeline import asof_join

    rng = random.Random(1234)
    base = datetime(2024, 1, 1)
    keys = [f"k{i}" for i in range(20)]          # k15..k19 get no history
    probes = [
        (i, rng.choice(keys), base + timedelta(seconds=rng.randrange(0, 3600)))
        for i in range(2000)
    ]
    snaps = [
        (rng.choice(keys[:15]), base + timedelta(seconds=rng.randrange(0, 3600)),
         float(i))
        for i in range(300)
    ]
    # inject exact-tie cases: snapshot at a probe's own timestamp
    for i in range(0, 100, 7):
        snaps.append((probes[i][1], probes[i][2], float(1000 + i)))
    # dedupe (key, ts) so argmax is well-defined on both engines
    seen, uniq = set(), []
    for k, ts, v in snaps:
        if (k, ts) not in seen:
            seen.add((k, ts))
            uniq.append((k, ts, v))

    left = spark.createDataFrame(probes, ["probe_id", "key", "ts"])
    right = spark.createDataFrame(uniq, ["key", "ts", "val"])
    got = {
        r.probe_id: (r.asof_ts, r.asof_val)
        for r in asof_join(left, right, by=["key"], value_cols=["val"]).collect()
    }

    con = duckdb.connect()
    con.execute("create table probes(probe_id int, key varchar, ts timestamp)")
    con.executemany("insert into probes values (?,?,?)", probes)
    con.execute("create table snaps(key varchar, ts timestamp, val double)")
    con.executemany("insert into snaps values (?,?,?)", uniq)
    want = {
        pid: (ts, val)
        for pid, ts, val in con.execute(
            "select p.probe_id, s.ts, s.val from probes p "
            "asof left join snaps s on p.key = s.key and p.ts >= s.ts"
        ).fetchall()
    }
    assert got == want


def test_sessionize_randomized_differential_vs_duckdb(spark):
    """Seeded randomized differential for session assignment: bursty
    timestamps with EXACT ties (the ordering tie-break matters) and
    gaps straddling the threshold, vs the same window SQL in DuckDB."""
    import random
    from datetime import datetime, timedelta

    import duckdb

    from medea_spark.pipeline import sessionize

    rng = random.Random(99)
    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in range(12):
        t = 0
        for _ in range(rng.randrange(5, 40)):
            # mix of sub-gap steps, exact-gap boundaries, and big jumps
            t += rng.choice([0, 0, 1, 60, 1799, 1800, 1801, 7200])
            rows.append((eid, user, base + timedelta(seconds=t)))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    got = {
        r.event_id: r.session_idx
        for r in sessionize(df, gap_minutes=30).collect()
    }
    con = duckdb.connect()
    con.execute("create table e(event_id int, user_id int, ts timestamp)")
    con.executemany("insert into e values (?,?,?)", rows)
    want = {
        eid_: idx
        for eid_, idx in con.execute(
            """
            with m as (
                select event_id, user_id, epoch_us(ts) as tu from e
            ), marks as (
                select *, case when lag(tu) over (partition by user_id order by tu, event_id) is null
                                 or tu - lag(tu) over (partition by user_id order by tu, event_id) > 1800000000
                               then 1 else 0 end as ns
                from m
            )
            select event_id,
                   cast(sum(ns) over (partition by user_id order by tu, event_id) as int)
            from marks
            """
        ).fetchall()
    }
    assert got == want


# --- real media codecs (BMP / WAV) ------------------------------------------


def test_bmp_wav_roundtrip():
    import numpy as np

    from medea_spark.pipeline.media_codecs import (
        MediaDecodeError,
        decode_bmp,
        decode_wav,
        encode_bmp,
        encode_wav,
        resize_nearest,
    )

    rng = np.random.RandomState(7)
    for w, h in [(1, 1), (3, 2), (5, 4), (16, 9)]:  # odd widths hit row padding
        px = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        assert (decode_bmp(encode_bmp(px)) == px).all()
    for ch in (1, 2):
        s = rng.randint(-32768, 32767, (321, ch)).astype(np.int16)
        got, rate = decode_wav(encode_wav(s, 16000))
        assert rate == 16000 and (got == s).all()
    import pytest

    with pytest.raises(MediaDecodeError):
        decode_bmp(b"BM" + b"\x00" * 8)
    with pytest.raises(MediaDecodeError):
        decode_wav(b"RIFFxxxxWAVE")
    big = resize_nearest(np.arange(12, dtype=np.uint8).reshape(2, 2, 3), 4, 4)
    assert big.shape == (4, 4, 3)
    assert (big[0, 0] == [0, 1, 2]).all() and (big[3, 3] == [9, 10, 11]).all()


def test_png_roundtrip():
    """encode_png cycles all five scanline filter types; decode must
    reconstruct every pixel exactly, and malformed variants (bad CRC,
    truncation, trailing bytes, unsupported color types) must raise
    MediaDecodeError."""
    import numpy as np
    import pytest

    from medea_spark.pipeline.media_codecs import (
        PNG_SIGNATURE,
        MediaDecodeError,
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(11)
    # h >= 6 exercises filters 0-4; (1,1) and odd widths hit edges
    for w, h in [(1, 1), (3, 2), (5, 7), (16, 9), (2, 6)]:
        px = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        assert (decode_png(encode_png(px)) == px).all()
    blob = encode_png(px)
    assert blob[: len(PNG_SIGNATURE)] == PNG_SIGNATURE
    for bad in (blob[:10], blob[:-1], blob + b"x", b"\x89PNG\r\n\x1a\n" + b"\x00" * 20):
        with pytest.raises(MediaDecodeError):
            decode_png(bad)
    flipped = bytearray(blob)
    flipped[-5] ^= 0xFF  # corrupt IEND CRC
    with pytest.raises(MediaDecodeError):
        decode_png(bytes(flipped))
    # grayscale / RGBA color types are rejected, not mis-decoded
    import struct as _struct
    import zlib as _zlib

    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0)  # color type 6 = RGBA
    chunk = (
        _struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + _struct.pack(">I", _zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(MediaDecodeError):
        decode_png(PNG_SIGNATURE + chunk)


def test_decode_media_matches_ground_truth(spark):
    """The full encode→bytes→decode differential: the decoder's output
    from the ACTUAL BYTES equals the generator's pre-encode ground
    truth for every row, including the injected corrupt blobs."""
    from medea_spark.pipeline.multimodal import decode_media, synthetic_decodable_media

    tbl = synthetic_decodable_media(spark, 120, seed=5)
    joined = decode_media(tbl).alias("d").join(tbl.alias("t"), "media_id")
    bad = joined.filter(
        (F.col("d.decode_ok") != F.col("t.true_ok"))
        | ~(
            F.col("d.content_sha").eqNullSafe(F.col("t.true_sha"))
            & F.col("d.width").eqNullSafe(F.col("t.true_width"))
            & F.col("d.height").eqNullSafe(F.col("t.true_height"))
            & F.col("d.sample_rate").eqNullSafe(F.col("t.true_sample_rate"))
            & F.col("d.n_samples").eqNullSafe(F.col("t.true_n_samples"))
            & F.col("d.format").eqNullSafe(F.col("t.true_format"))
        )
    )
    assert bad.count() == 0
    ok_counts = decode_media(tbl).groupBy("decode_ok").count().collect()
    counts = {r["decode_ok"]: r["count"] for r in ok_counts}
    assert counts.get(False, 0) > 0 and counts[True] > 100  # both classes present


def test_media_codec_fuzz_never_crashes():
    """Hypothesis: arbitrary bytes (including ones starting with the
    right magic) either decode or raise MediaDecodeError — never any
    other exception (the operator maps MediaDecodeError to error rows;
    anything else would kill a 100 TB job).  Plus the round-trip
    property on random pixel/sample arrays."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from medea_spark.pipeline.media_codecs import (
        PNG_SIGNATURE,
        MediaDecodeError,
        decode_bmp,
        decode_png,
        decode_wav,
        encode_bmp,
        encode_png,
        encode_wav,
    )

    junk = st.binary(max_size=200)
    prefixed = st.one_of(
        junk,
        junk.map(lambda b: b"BM" + b),
        junk.map(lambda b: b"RIFF" + b[:4] + b"WAVE" + b),
        junk.map(lambda b: PNG_SIGNATURE + b),
    )

    @settings(max_examples=300, deadline=None)
    @given(prefixed)
    def fuzz(blob):
        for dec in (decode_bmp, decode_wav, decode_png):
            try:
                dec(blob)
            except MediaDecodeError:
                pass

    fuzz()

    # mutation fuzz: single-byte corruptions of a VALID png either still
    # decode (mutation in slack space doesn't exist here — CRCs cover
    # every chunk) or raise MediaDecodeError; nothing else escapes
    base = encode_png(np.arange(7 * 5 * 3, dtype=np.uint8).reshape(7, 5, 3))

    @settings(max_examples=150, deadline=None)
    @given(st.integers(0, len(base) - 1), st.integers(1, 255))
    def mutate(pos, xor):
        mutated = bytearray(base)
        mutated[pos] ^= xor
        try:
            decode_png(bytes(mutated))
        except MediaDecodeError:
            pass

    mutate()

    @settings(max_examples=50, deadline=None)
    @given(
        st.integers(1, 12), st.integers(1, 12), st.integers(0, 2**32 - 1)
    )
    def roundtrip(w, h, seed):
        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        assert (decode_bmp(encode_bmp(px)) == px).all()
        assert (decode_png(encode_png(px)) == px).all()
        s = rng.randint(-32768, 32767, (1 + seed % 40, 1 + seed % 2)).astype(
            np.int16
        )
        got, rate = decode_wav(encode_wav(s, 8000))
        assert rate == 8000 and (got == s).all()

    roundtrip()


def test_connected_components_random_graph_vs_union_find(spark):
    """Seeded random graph (200 nodes, 150 edges → many components of
    varied shapes) and a 1,000-node path with shuffled ids (propagation
    alone needs hundreds of rounds) vs a Python union-find ground
    truth, both with the default round budget."""
    import random

    from medea_spark.pipeline import connected_components

    rng = random.Random(4242)
    nodes = list(range(200))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    ids = list(range(1000))
    rng.shuffle(ids)
    shuffled_path = list(zip(ids, ids[1:]))

    for graph in (edges, shuffled_path):
        df = spark.createDataFrame(graph, ["a", "b"])
        got = {r.node: r.component for r in connected_components(df).collect()}
        assert got == _union_find_components(graph)


def test_normalize_table_nfc(spark):
    """NFC canonicalization: decomposed sequences (combining marks,
    Hangul jamo) compose; already-canonical text passes through with
    is_changed=False; NULL stays NULL; NFKD decomposes the ligature
    NFC leaves alone; bad form names raise."""
    import pytest

    from medea_spark.pipeline import normalize_table, normalize_text

    rows = [
        (1, "café"),      # decomposed -> precomposed e-acute
        (2, "café"),       # already NFC
        (3, "가"),    # jamo pair -> U+AC00
        (4, None),
        (5, "plain ascii"),
    ]
    df = spark.createDataFrame(rows, ["i", "text"])
    out = {r.i: (r.normalized, r.is_changed) for r in normalize_table(df).collect()}
    assert out[1] == ("café", True)
    assert out[2] == ("café", False)
    assert out[3] == ("가", True)
    assert out[4] == (None, False)
    assert out[5] == ("plain ascii", False)

    got = (
        df.limit(1)
        .select(normalize_text(F.lit("ﬁle"), "NFKD").alias("n"))
        .collect()[0]
        .n
    )
    assert got == "file"
    with pytest.raises(ValueError, match="form"):
        normalize_text(F.col("text"), "NFX")


def test_prepare_corpus_stage_effects(spark):
    """The composed pipeline: byte-form variants dedup only AFTER
    normalization (min-id keeper), the quality gate drops degenerate
    and short docs, PII reaches chunks redacted, and survivors chunk
    with the standard window math."""
    from medea_spark.pipeline import prepare_corpus

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (1, base + " café"),        # decomposed suffix
        (2, base + " café"),         # precomposed suffix -> dup of 1 after NFC
        (3, base),                    # distinct survivor
        (4, "spam " * 20 + "spam"),   # excess fraction ~0.95 -> dropped
        (5, "way too short"),         # < 8 words -> dropped
        (6, "please contact a@b.co or call +491234567890 about billing today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = prepare_corpus(df, chunk_tokens=6, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 3, 6}          # 2 deduped, 4+5 dropped
    # doc 1 survived as keeper; its text is the NORMALIZED form
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert c1[0].n_tokens == 11
    assert c1[-1].chunk_text.endswith("café")
    # 11 tokens, chunk 6 stride 4 -> 1 + ceil(5/4) = 3 chunks
    assert [r.chunk_start for r in c1] == [0, 4, 8]
    # PII redacted before chunking
    joined = " ".join(r.chunk_text for r in sorted(by_doc[6], key=lambda r: r.chunk_id))
    assert "<EMAIL>" in joined and "<PHONE>" in joined and "a@b.co" not in joined


def test_containment_catches_quotes_jaccard_misses(spark):
    """A 12-word quote inside a 60-word doc: containment 1.0 (flagged),
    Jaccard tiny (invisible to the symmetric measure at any sane
    threshold); contained_doc names the quote side."""
    from medea_spark.pipeline import ngram_containment_pairs, ngram_jaccard_pairs

    long_words = [f"tok{i}" for i in range(60)]
    rows = [
        (1, " ".join(long_words)),
        (2, " ".join(long_words[:12])),      # pure quote of doc 1
        (3, "completely different words entirely here okay then fine"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cont = {
        (r.doc_a, r.doc_b): (r.containment, r.contained_doc)
        for r in ngram_containment_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    }
    assert cont == {(1, 2): (1.0, 2)}
    jac = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    assert jac == []                          # the quote is invisible to Jaccard
    # shared-machinery sanity: the 10/58 shingle overlap is ~0.172
    low = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.1).collect()
    assert [(r.doc_a, r.doc_b) for r in low] == [(1, 2)]


def test_tfidf_top_terms_hand_case(spark):
    """Hand-computable corpus: the repeated distinctive term wins, a
    corpus-wide term is droppable via max_df_fraction, ties break by
    term ascending, and scores match the smoothed formula exactly."""
    import math

    from medea_spark.pipeline import tfidf_top_terms

    rows = [
        (1, "apple apple banana shared"),
        (2, "cherry banana shared"),
        (3, "durian shared shared"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r.doc_id, r.rank): (r.term, r.tf, r.df, r.score)
        for r in tfidf_top_terms(df, k=2).collect()
    }
    idf = lambda d: math.log(4.0 / (d + 1)) + 1.0
    # doc 1: apple tf=2 df=1 beats banana tf=1 df=2 and shared tf=1 df=3
    assert out[(1, 1)] == ("apple", 2, 1, round(2 * idf(1), 6))
    assert out[(1, 2)] == ("banana", 1, 2, round(1 * idf(2), 6))
    # doc 2: cherry (df=1) outranks banana (df=2)
    assert out[(2, 1)][0] == "cherry" and out[(2, 2)][0] == "banana"
    # doc 3: smoothed idf floors at 1.0, so shared tf=2 df=3 scores
    # 2*(ln(4/4)+1)=2.0 and beats durian tf=1 df=1 at 1*(ln(2)+1)=1.693
    assert out[(3, 1)] == ("shared", 2, 3, 2.0)
    assert out[(3, 2)][0] == "durian"

    # dropping ubiquitous terms: shared (df=3 = all docs) vanishes
    no_stop = tfidf_top_terms(df, k=3, max_df_fraction=0.7).collect()
    assert all(r.term != "shared" for r in no_stop)


def test_asof_join_assert_unique_ts(spark):
    """assert_unique_ts: duplicate right timestamps within a key fail
    loudly (engine-specific tie-breaks would otherwise flake a
    differential gate); unique histories pass unchanged."""
    from datetime import datetime

    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from medea_spark.pipeline import asof_join

    t = datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, "u", t)], ["i", "user", "ts"])
    clean = spark.createDataFrame(
        [("u", t, 1.0), ("u", datetime(2024, 1, 2), 2.0)], ["user", "ts", "v"]
    )
    out = asof_join(left, clean, by=["user"], assert_unique_ts=True).collect()
    assert out[0].asof_v == 1.0
    dup = clean.unionByName(
        spark.createDataFrame([("u", t, 9.0)], ["user", "ts", "v"])
    )
    with pytest.raises(SparkRuntimeException, match="duplicate right timestamps"):
        asof_join(left, dup, by=["user"], assert_unique_ts=True).collect()
    # without the flag the duplicate resolves by value-struct max (documented)
    loose = asof_join(left, dup, by=["user"]).collect()
    assert loose[0].asof_v == 9.0


def test_embedding_stats_failure_classes(spark):
    """Each encoder failure mode lands in exactly one counter, clean
    norms drive the quantiles, and garbage rows never pollute them."""
    import math

    from pyspark.sql import functions as F

    from medea_spark.pipeline import embedding_stats

    rows = [
        (1, [3.0, 4.0]),                 # norm 5
        (2, [0.0, 1.0]),                 # norm 1
        (3, None),                       # null
        (4, [1.0]),                      # wrong dim
        (5, [float("nan"), 1.0]),        # nonfinite
        (6, [0.0, 0.0]),                 # zero vector
        (7, [float("inf"), 2.0]),        # nonfinite
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    r = embedding_stats(df, expected_dim=2, norm_probs=(0.5,)).collect()[0]
    assert (r.n_rows, r.n_null, r.n_wrong_dim, r.n_nonfinite, r.n_zero) == (7, 1, 1, 2, 1)
    # clean norms: {5, 1, 0} -> median 1.0 (zero vector IS clean, just zero)
    assert r.norm_q0_5 == 1.0


def test_random_projection_deterministic_and_guarded(spark):
    """Components equal the hand-computed plane dots; identical input
    gives identical output; NULL/wrong-dim vectors raise (the 0-or-raise
    guard convention), never silently degrade."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from medea_spark.pipeline import random_projection
    from medea_spark.pipeline.similarity import plane_component

    vec = [1.0, -2.0, 0.5]
    df = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
    out = df.select(
        random_projection(F.col("embedding"), dim=3, out_dim=4, seed=7).alias("p")
    ).collect()[0].p
    for j in range(4):
        want = sum(v * plane_component(7, j, d) for d, v in enumerate(vec))
        assert abs(out[j] - want) < 1e-12
    again = df.select(
        random_projection(F.col("embedding"), dim=3, out_dim=4, seed=7).alias("p")
    ).collect()[0].p
    assert out == again

    bad = spark.createDataFrame([(1, [1.0, 2.0])], ["vec_id", "embedding"])
    with pytest.raises(SparkRuntimeException, match="length"):
        bad.select(random_projection(F.col("embedding"), dim=3).alias("p")).collect()
    nul = spark.createDataFrame([(1, None)], "vec_id long, embedding array<double>")
    with pytest.raises(SparkRuntimeException, match="NULL vector"):
        nul.select(random_projection(F.col("embedding"), dim=3).alias("p")).collect()


def test_chunk_documents_randomized_reconstruction(spark):
    """Invariant over 200 random (doc length, chunk, overlap) shapes:
    chunk 0 plus every later chunk's tokens after the first `overlap`
    reconstructs the document EXACTLY (full coverage, exact seams,
    correct final short chunk) — one Spark job, verified in Python."""
    import random

    from medea_spark.pipeline import chunk_documents

    rng = random.Random(99)
    cases = {}
    rows = []
    for i in range(200):
        n = rng.randrange(0, 120)
        toks = [f"t{i}_{j}" for j in range(n)]
        cases[i] = toks
        rows.append((i, " ".join(toks)))
    chunk, overlap = 16, 5
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {}
    for r in chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect():
        out.setdefault(r.doc_id, []).append(r)
    stride = chunk - overlap
    for i, toks in cases.items():
        chunks = sorted(out[i], key=lambda r: r.chunk_id)
        # windows at the declared offsets with the declared lengths
        for c in chunks:
            assert c.chunk_start == c.chunk_id * stride
            want = toks[c.chunk_start : c.chunk_start + chunk]
            got = c.chunk_text.split() if c.chunk_text else []
            assert got == want and c.chunk_len == len(want)
        # seam reconstruction: c0 + c1[overlap:] + ... == toks
        rebuilt = []
        for j, c in enumerate(chunks):
            parts = c.chunk_text.split() if c.chunk_text else []
            rebuilt.extend(parts if j == 0 else parts[overlap:])
        assert rebuilt == toks, (i, len(toks))


def test_bigram_lm_perplexity_hand_case(spark):
    """Hand-computed add-1 bigram scores on a 3-doc corpus.

    Corpus: "a b a b", "a b c", "c".  Unigrams: a=3 b=3 c=2 -> V=4.
    Bigrams: (a,b)=3 (b,a)=1 (b,c)=1.
    """
    import math

    from medea_spark.pipeline import bigram_counts, perplexity, unigram_counts

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "c")], ["doc_id", "text"]
    )
    uni = unigram_counts(docs, "text")
    bi = bigram_counts(docs, "text")
    assert {(r["w"], r["c_uni"]) for r in uni.collect()} == {
        ("a", 3), ("b", 3), ("c", 2)
    }
    assert {(r["w1"], r["w2"], r["c_bi"]) for r in bi.collect()} == {
        ("a", "b", 3), ("b", "a", 1), ("b", "c", 1)
    }

    out = {r["doc_id"]: r for r in perplexity(docs, "doc_id", "text", uni, bi).collect()}
    V = 4  # 3 vocab types + 1 unseen slot
    p_ab = (3 + 1) / (3 + V)   # c(a,b)=3, c(a)=3
    p_ba = (1 + 1) / (3 + V)   # c(b,a)=1, c(b)=3
    p_bc = (1 + 1) / (3 + V)
    # doc 1: a b a b -> (a,b) (b,a) (a,b)
    exp1 = (2 * math.log(p_ab) + math.log(p_ba)) / 3
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["avg_logprob"] - exp1) < 1e-12
    assert abs(out[1]["perplexity"] - math.exp(-exp1)) < 1e-12
    # doc 2: a b c -> (a,b) (b,c)
    exp2 = (math.log(p_ab) + math.log(p_bc)) / 2
    assert abs(out[2]["avg_logprob"] - exp2) < 1e-12
    # doc 3: single token -> no bigram positions, NULL score (not 0)
    assert out[3]["n_bigrams"] == 0
    assert out[3]["avg_logprob"] is None and out[3]["perplexity"] is None


def test_bigram_lm_oov_scoring(spark):
    """Scoring a corpus disjoint from the training corpus: every bigram
    and unigram falls back to c=0 and the add-1 formula stays finite."""
    import math

    from medea_spark.pipeline import bigram_counts, perplexity, unigram_counts

    train = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    uni = unigram_counts(train, "text")
    bi = bigram_counts(train, "text")
    score = spark.createDataFrame([(9, "x y z")], ["doc_id", "text"])
    out = perplexity(score, "doc_id", "text", uni, bi).collect()[0]
    V = 3  # {a, b} + 1
    p_unseen = 1 / (0 + V)
    assert out["n_bigrams"] == 2
    assert abs(out["avg_logprob"] - math.log(p_unseen)) < 1e-12
    assert abs(out["perplexity"] - V) < 1e-9

    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        perplexity(score, "doc_id", "text", uni, bi, alpha=0.0)


def test_quality_keepers_semantics(spark):
    """Keeper = argmax(score) per cluster, ties to smallest id, NULL /
    missing scores rank below every scored doc, singleton clusters keep
    themselves."""
    from medea_spark.pipeline import quality_keepers

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)],
        ["doc_id", "cluster_id"],
    )
    # doc 3 has the top score in cluster 1; docs 10/11 tie -> keep 10;
    # doc 20 (singleton) has NO quality row at all.
    quality = spark.createDataFrame(
        [(1, 0.5), (2, None), (3, 0.9), (10, 0.7), (11, 0.7)],
        "doc_id long, score double",
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["score"], r["is_keeper"])
        for r in quality_keepers(clusters, quality).collect()
    }
    assert out[3] == (1, 0.9, True)
    assert out[1] == (1, 0.5, False) and out[2] == (1, None, False)
    assert out[10] == (10, 0.7, True) and out[11] == (10, 0.7, False)
    assert out[20] == (20, None, True)
