"""Incremental SimHash / embedding-LSH signature maintenance
(operators/incremental.py): sequential batches against the persisted
index must reproduce the one-shot full-corpus pair set exactly, with
dedup_new_batch's retry and param-pinning semantics."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lyssandra_spark.operators import dedup as DD
from lyssandra_spark.operators.incremental import (
    dedup_new_batch,
    embneardup_new_batch,
    simhash_new_batch,
)
from lyssandra_spark.sources.catalog import ParquetCatalog


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    near = (
        d.where(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 10000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail tweak")))
    )
    exact = d.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 20000
    )
    return d.unionByName(near).unionByName(exact).cache()


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # planted near-dups: exact copies of every 9th vector
    dup = e.where(F.col("vec_id") % 9 == 0).withColumn(
        "vec_id", F.col("vec_id") + 5000
    )
    return e.unionByName(dup).cache()


def test_incremental_simhash_matches_full_recompute(
    spark, docs, tmp_path_factory
):
    """Union of three simhash_new_batch calls == one simhash_neardup_pairs
    run over the full corpus (exact pair-set equality — the pigeonhole
    argument is per-pair, so batching cannot change recall), each pair
    emitted exactly once, and the index persists only (id, simhash)."""
    cat = ParquetCatalog(spark, str(tmp_path_factory.mktemp("sh_wh")))
    kw = dict(max_hamming=3, ngram_bytes=8)
    shards = [docs.where(F.col("doc_id") % 3 == r) for r in range(3)]
    got, snaps = [], []
    for sh in shards:
        pairs, sid = simhash_new_batch(cat, "sh_index", sh, **kw)
        got.append(pairs.toPandas())
        snaps.append(sid)
    inc = pd.concat(got, ignore_index=True)
    full = DD.simhash_neardup_pairs(docs, **kw).toPandas()

    def key(df):
        return set(zip(df.id_a, df.id_b, df.hamming))

    assert key(inc) == key(full)
    assert len(inc) and not inc.duplicated(["id_a", "id_b"]).any()

    # index round-trip: one 8-byte hash per doc, text never persisted
    assert set(cat.read("sh_index").columns) == {"doc_id", "simhash"}
    assert cat.read("sh_index").count() == docs.count()
    assert cat.read_snapshot("sh_index", snaps[1]).count() == shards[1].count()

    # divergent feature space is rejected loudly
    with pytest.raises(ValueError, match="do not match the index"):
        simhash_new_batch(cat, "sh_index", shards[0], ngram_bytes=4)


def test_incremental_simhash_retry_and_reingest(spark, docs, tmp_path_factory):
    """A retried batch_id reuses its half-done snapshot (identical pairs,
    no doubled index); re-ingested ids are anti-joined out."""
    cat = ParquetCatalog(spark, str(tmp_path_factory.mktemp("sh_retry")))
    kw = dict(max_hamming=3, ngram_bytes=8)
    s0 = docs.where(F.col("doc_id") % 3 == 0)
    s1 = docs.where(F.col("doc_id") % 3 == 1)

    simhash_new_batch(cat, "sh", s0, batch_id="b0", **kw)
    p1, sid1 = simhash_new_batch(cat, "sh", s1, batch_id="b1", **kw)
    n_rows = cat.read("sh").count()
    p1r, sid1r = simhash_new_batch(cat, "sh", s1, batch_id="b1", **kw)
    assert sid1r == sid1
    assert cat.read("sh").count() == n_rows
    pd.testing.assert_frame_equal(
        p1.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True),
        p1r.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True),
    )

    # re-ingesting shard 0 without a batch_id: all ids known -> empty
    # delta snapshot, no pairs re-emitted
    p_again, _ = simhash_new_batch(cat, "sh", s0, **kw)
    assert p_again.count() == 0
    assert cat.read("sh").count() == n_rows


def test_incremental_emblsh_matches_full_recompute(
    spark, vecs, tmp_path_factory
):
    """Union of embneardup_new_batch calls == one embedding_neardup_pairs
    run (same stacked plane draw -> bit-identical buckets), pairs unique,
    and the index stores the vector + ONE bucket array (no per-table
    duplication)."""
    cat = ParquetCatalog(spark, str(tmp_path_factory.mktemp("el_wh")))
    kw = dict(dim=64, n_planes=12, min_cosine=0.9, seed=11, n_tables=4)
    shards = [vecs.where(F.col("vec_id") % 2 == r) for r in range(2)]
    got = []
    for sh in shards:
        pairs, _ = embneardup_new_batch(cat, "el_index", sh, **kw)
        got.append(pairs.toPandas())
    inc = pd.concat(got, ignore_index=True)
    full = DD.embedding_neardup_pairs(vecs, **kw).toPandas()

    def key(df):
        return set(zip(df.id_a, df.id_b, df.cosine.round(9)))

    assert key(inc) == key(full)
    assert len(inc) and not inc.duplicated(["id_a", "id_b"]).any()

    idx = cat.read("el_index")
    assert set(idx.columns) == {"vec_id", "emb", "buckets"}
    assert idx.count() == vecs.count()
    n_tbl = idx.select(F.size("buckets").alias("s")).agg(F.max("s")).first()[0]
    assert n_tbl == 4

    with pytest.raises(ValueError, match="do not match the index"):
        embneardup_new_batch(cat, "el_index", shards[0], dim=64, n_planes=8)


def test_incremental_emblsh_retry_is_idempotent(spark, vecs, tmp_path_factory):
    cat = ParquetCatalog(spark, str(tmp_path_factory.mktemp("el_retry")))
    kw = dict(dim=64, n_planes=12, min_cosine=0.9, seed=11, n_tables=4)
    s0 = vecs.where(F.col("vec_id") % 2 == 0)
    s1 = vecs.where(F.col("vec_id") % 2 == 1)

    embneardup_new_batch(cat, "el", s0, batch_id="v0", **kw)
    p1, sid1 = embneardup_new_batch(cat, "el", s1, batch_id="v1", **kw)
    n_rows = cat.read("el").count()
    p1r, sid1r = embneardup_new_batch(cat, "el", s1, batch_id="v1", **kw)
    assert sid1r == sid1
    assert cat.read("el").count() == n_rows
    pd.testing.assert_frame_equal(
        p1.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True),
        p1r.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True),
    )


def test_index_identity_includes_feature_columns(
    spark, docs, vecs, tmp_path_factory
):
    """The SOURCE COLUMN is part of every index's identity: batches
    signed from a different text/embedding column must be rejected
    loudly (signatures from different column spaces silently mixing in
    one chain was the round-7 advice finding), and an embedding whose
    width != dim errors instead of null-padding the bucket fold into
    silently degraded recall."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    tmp = tmp_path_factory.mktemp("ident")

    # simhash: text_col in the identity dict
    cat = ParquetCatalog(spark, str(tmp / "sh"))
    d = docs.limit(50)
    simhash_new_batch(cat, "sh", d, text_col="text")
    with pytest.raises(ValueError, match="do not match the index"):
        simhash_new_batch(
            cat, "sh",
            d.withColumn("alt", F.upper("text")).withColumn(
                "doc_id", F.col("doc_id") + 90000
            ),
            text_col="alt",
        )

    # minhash: same rule
    cat2 = ParquetCatalog(spark, str(tmp / "mh"))
    dedup_new_batch(cat2, "sigs", d, text_col="text")
    with pytest.raises(ValueError, match="do not match the index"):
        dedup_new_batch(
            cat2, "sigs",
            d.withColumn("alt", F.upper("text")).withColumn(
                "doc_id", F.col("doc_id") + 90000
            ),
            text_col="alt",
        )

    # embedding-LSH: emb_col in the identity + loud width assert
    cat3 = ParquetCatalog(spark, str(tmp / "el"))
    v = vecs.limit(40)
    embneardup_new_batch(cat3, "el", v, dim=64, n_planes=8)
    with pytest.raises(ValueError, match="do not match the index"):
        embneardup_new_batch(
            cat3, "el",
            v.withColumn("other", F.col("embedding")).withColumn(
                "vec_id", F.col("vec_id") + 90000
            ),
            emb_col="other", dim=64, n_planes=8,
        )

    cat4 = ParquetCatalog(spark, str(tmp / "dim"))
    bad = v.withColumn("embedding", F.slice("embedding", 1, 32))
    with pytest.raises((Py4JJavaError, SparkRuntimeException),
                       match="width != dim"):
        embneardup_new_batch(cat4, "el", bad, dim=64, n_planes=8)


@pytest.fixture(scope="module")
def boiler_docs(spark, sf_dir):
    """40 real docs + tweaked near-dups of every 5th + 120 identical
    boilerplate docs that share every band / chunk bucket."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text").limit(40)
    near = (
        d.where(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 500000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail tweak")))
    )
    boiler = spark.range(120).select(
        (F.col("id") + 900000).alias("doc_id"),
        F.lit("the same legal boilerplate text repeated everywhere in "
              "the corpus for every single document again and again"
              ).alias("text"),
    )
    return d.unionByName(near).unionByName(boiler).cache()


@pytest.fixture(scope="module")
def boiler_vecs(spark, sf_dir):
    """40 real vectors + scaled copies of every 5th + 120 identical
    vectors that share every (table, bucket)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).limit(40)
    near = (
        e.where(F.col("vec_id") % 5 == 0)
        .withColumn("vec_id", F.col("vec_id") + 500000)
        .withColumn("embedding",
                    F.transform("embedding", lambda x: x * F.lit(1.001)))
    )
    boiler = spark.range(120).select(
        (F.col("id") + 900000).alias("vec_id"),
        F.array_repeat(F.lit(1.0), 64).alias("embedding"),
    )
    return e.unionByName(near).unionByName(boiler).cache()


_FAMILIES = {
    "minhash": (dedup_new_batch, DD.minhash_lsh_pairs, "boiler_docs",
                dict(n_perm=32, bands=8, threshold=0.4)),
    "simhash": (simhash_new_batch,
                lambda df, max_bucket=None, **kw: DD.simhash_pairs_from_hashes(
                    DD.simhash(df, ngram_bytes=kw["ngram_bytes"]),
                    max_hamming=kw["max_hamming"], max_bucket=max_bucket),
                "boiler_docs", dict(max_hamming=3, ngram_bytes=4)),
    "emblsh": (embneardup_new_batch, DD.embedding_neardup_pairs,
               "boiler_vecs", dict(dim=64, n_planes=8, n_tables=3,
                                   min_cosine=0.99)),
}


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_new_batch_max_bucket_matches_one_shot(
    spark, request, tmp_path_factory, family
):
    """A capped bootstrap batch returns exactly the capped one-shot
    generator's pairs (the boilerplate's giant buckets are dropped, the
    planted near-dups survive), and ``max_bucket=1`` is rejected by
    every entry point that takes it — by the batch generator before
    anything is appended."""
    new_batch, one_shot, fixture, kw = _FAMILIES[family]
    df = request.getfixturevalue(fixture)
    cat = ParquetCatalog(spark, str(tmp_path_factory.mktemp(f"cap_{family}")))

    pairs, _ = new_batch(cat, "idx", df, max_bucket=50, **kw)
    got = pairs.toPandas()
    want = one_shot(df, max_bucket=50, **kw).toPandas()
    assert list(got.columns) == list(want.columns)
    assert len(got) and set(map(tuple, got.values)) == set(
        map(tuple, want.values))
    assert not got.duplicated(["id_a", "id_b"]).any()
    assert (got.id_b < 900000).all()  # no boilerplate bucket survives

    with pytest.raises(ValueError, match="max_bucket"):
        one_shot(df, max_bucket=1, **kw)
    fresh = ParquetCatalog(spark, str(tmp_path_factory.mktemp(f"cap1_{family}")))
    with pytest.raises(ValueError, match="max_bucket"):
        new_batch(fresh, "idx", df, max_bucket=1, **kw)
    assert fresh.snapshots("idx") == []
