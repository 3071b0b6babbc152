"""Dedup / similarity / text-analysis / multimodal operator tests on
small controlled inputs (golden behavior, not just smoke)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datagouv_tools_spark.functions.text import (
    fingerprint_md5,
    lang_id,
    token_count,
)
from datagouv_tools_spark.functions.vectors import cosine, dot, norm
from datagouv_tools_spark.operators.dedup import (
    dedup_exact,
    dedup_fingerprint,
    minhash_pairs,
    ngram_jaccard_pairs,
    simhash64,
)
from datagouv_tools_spark.operators.multimodal import (
    attach_media_metadata,
    decode_image_batch,
    extract_image_features,
)
from datagouv_tools_spark.operators.similarity import cosine_topk, lsh_topk


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "The  quick brown fox jumps over the lazy DOG"),  # fp dup of 1
        (4, "the quick brown fox jumps over a sleepy dog"),  # near dup
        (5, "completely different words entirely unrelated content here"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count_and_empty(spark, docs):
    got = {r["doc_id"]: r["n"] for r in docs.select("doc_id", token_count("text").alias("n")).collect()}
    assert got[1] == 9
    assert got[6] == 0


def test_fingerprint_normalizes_case_and_space(spark, docs):
    fp = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", fingerprint_md5("text").alias("fp")).collect()}
    assert fp[1] == fp[2] == fp[3]
    assert fp[1] != fp[4]


def test_dedup_exact_keeps_min_id(spark, docs):
    kept = dedup_exact(docs, ["text"], "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 3, 4, 5, 6]  # doc 2 (exact dup, higher id) dropped


def test_dedup_fingerprint_collapses_formatting(spark, docs):
    kept = dedup_fingerprint(docs, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 4, 5, 6]  # 2 and 3 both collapse onto 1


def test_ngram_jaccard_pairs_golden(spark, docs):
    pairs = ngram_jaccard_pairs(docs.filter(F.col("doc_id") != 6), "text", "doc_id", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 1.0  # case-insensitive tokens
    # 1 vs 4: tokens {the,quick,brown,fox,jumps,over,lazy,dog} vs
    # {the,quick,brown,fox,jumps,over,a,sleepy,dog}: inter=7, union=10
    assert got[(1, 4)] == 0.7
    assert (1, 5) not in got


def test_minhash_finds_near_dups(spark, docs):
    pairs = minhash_pairs(docs.filter(F.col("doc_id") != 6), "text", "doc_id", k=64, bands=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) in got  # identical token sets always collide
    assert (1, 4) in got  # jaccard 0.7 over 16 bands of 4: collision probability ~99%
    assert (1, 5) not in got and (4, 5) not in got


def test_simhash_identical_and_distant(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash64(docs, "text", "doc_id").collect()}
    assert sigs[1] == sigs[2]
    hamming_15 = bin((sigs[1] ^ sigs[5]) & ((1 << 64) - 1)).count("1")
    hamming_14 = bin((sigs[1] ^ sigs[4]) & ((1 << 64) - 1)).count("1")
    assert hamming_14 < hamming_15  # near-dup closer than unrelated


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),  # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_vector_math(spark, vecs):
    df = vecs.filter(F.col("vec_id") == 1).select(
        dot("embedding", "embedding").alias("d"),
        norm("embedding").alias("n"),
    )
    r = df.collect()[0]
    assert r["d"] == pytest.approx(0.82, rel=1e-6)
    assert r["n"] == pytest.approx(math.sqrt(0.82), rel=1e-6)


def test_cosine_topk_exact(spark, vecs):
    queries = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = cosine_topk(queries, vecs, k=2).collect()
    assert [r["vec_id"] for r in got] == [1, 2]  # 1 closest, then tie 2<3 by id
    assert got[0]["sim"] == pytest.approx(0.9939, abs=1e-4)


def test_lsh_topk_subset_of_exact(spark, vecs):
    queries = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(queries, vecs, k=4).collect()}
    approx = {(r["query_id"], r["vec_id"]) for r in lsh_topk(queries, vecs, dim=3, k=4).collect()}
    assert approx  # bucket contains at least the query's own neighborhood
    assert approx <= exact or len(approx) <= 4


def test_lang_id_on_clear_text(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and looked at the dog"),
            (2, "le chat et la souris sont dans le jardin de la maison"),
            (3, "xyzzy plugh qwerty"),
        ],
        ["id", "text"],
    )
    got = {r["id"]: r["g"] for r in df.select("id", lang_id("text").alias("g")).collect()}
    assert got[1] == "en"
    assert got[2] == "fr"
    assert got[3] == "und"


def test_multimodal_metadata_and_features(spark):
    df = spark.createDataFrame(
        [(1, b"payload-bytes-one"), (2, b"x" * 1000)],
        "media_id long, payload binary",
    )
    meta = attach_media_metadata(df).select("media_id", "meta.n_bytes", "meta.sha256").collect()
    by_id = {r["media_id"]: r for r in meta}
    assert by_id[2]["n_bytes"] == 1000
    assert len(by_id[1]["sha256"]) == 64

    feats = extract_image_features(df, fake=True).collect()
    assert all(len(r["features"]) == 8 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r["features"])
    # determinism: same payload → same features
    again = extract_image_features(df, fake=True).collect()
    assert [r["features"] for r in sorted(feats, key=lambda r: r["media_id"])] == [
        r["features"] for r in sorted(again, key=lambda r: r["media_id"])
    ]


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        decode_image_batch(b"bytes")


def test_real_decode_path_raises_in_spark(spark):
    df = spark.createDataFrame([(1, b"img")], "media_id long, payload binary")
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((Py4JJavaError, PySparkException, Exception)):
        extract_image_features(df, fake=False).collect()


def test_asof_join_backward_semantics(spark):
    from datagouv_tools_spark.operators.asof import asof_join_backward
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (2, 5, 102)], "k long, ts long, lid long"
    )
    right = spark.createDataFrame(
        [(1, 10, 7), (1, 10, 8), (1, 15, 9), (2, 6, 10)], "k long, ts long, rid long"
    )
    out = {
        r["lid"]: r["rid_asof"]
        for r in asof_join_backward(
            left, right, on="k", right_payload=("rid",), tiebreak="rid"
        ).collect()
    }
    # equal ts matches inclusively with the max-tiebreak right row;
    # no prior right row -> NULL
    assert out == {100: 8, 101: 9, 102: None}


def test_salted_join_matches_plain_join(spark, sf_dir):
    from datagouv_tools_spark.operators.skew import salted_agg, salted_join_inner
    from datagouv_tools_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim = cust.withColumnRenamed("c_custkey", "o_custkey")
    plain = orders.join(dim, "o_custkey").groupBy("c_mktsegment").count()
    salted = salted_join_inner(orders, dim, "o_custkey").groupBy("c_mktsegment").count()
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    # salted_agg equals plain groupBy exactly
    plain_agg = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    s_agg = salted_agg(orders, ("o_custkey",), {"n": ("count", F.lit(1))})
    assert sorted(map(tuple, s_agg.collect())) == sorted(map(tuple, plain_agg.collect()))


def test_ivf_recall_vs_brute_force(spark, sf01_dir):
    from datagouv_tools_spark.operators.similarity import cosine_topk, ivf_topk
    from datagouv_tools_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf01_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(qs, emb, k=5)
    approx = ivf_topk(qs, emb, k=5, n_lists=16, nprobe=8)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # nprobe=8 of 16 lists: expect to find well over half the true top-5
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"
    # approx returns <= k rows per query and never a self-pair
    assert approx.filter(F.col("query_id") == F.col("vec_id")).count() == 0


def test_dedup_clusters_chain_and_islands(spark):
    from datagouv_tools_spark.operators.dedup import dedup_clusters

    # chain 1-2-3-4 (one component), island 10-11, singleton pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    got = {r["node"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_winnow_fingerprints_properties(spark):
    from datagouv_tools_spark.functions.text import winnow_fingerprints

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy cat"),
            (4, "completely unrelated content with nothing shared"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: set(r["fp"])
        for r in df.select("doc_id", winnow_fingerprints("text").alias("fp")).collect()
    }
    assert out[1] == out[2]  # identical docs -> identical fingerprints
    j = len(out[1] & out[3]) / len(out[1] | out[3])
    assert j > 0.5  # one-word change keeps most fingerprints
    assert not (out[1] & out[4])  # unrelated docs share nothing


def test_multimodal_resize_and_frame_sample(spark):
    from datagouv_tools_spark.operators.multimodal import (
        resize_images,
        sample_video_frames,
    )
    from pyspark.sql import functions as F
    import pytest

    media = spark.range(3).select(
        F.col("id").alias("media_id"),
        F.encode(F.concat(F.lit("payload-"), F.col("id").cast("string")), "utf-8").alias("payload"),
    )
    resized = resize_images(media, width=4, height=3, fake=True).collect()
    assert all(len(r["payload"]) == 12 and r["width"] == 4 for r in resized)
    # deterministic: same input -> same bytes
    again = resize_images(media, width=4, height=3, fake=True).collect()
    assert [bytes(r["payload"]) for r in resized] == [bytes(r["payload"]) for r in again]

    frames = sample_video_frames(media, every_n=4, max_frames=3, fake=True)
    rows = frames.collect()
    assert frames.columns == ["media_id", "frame_no", "frame"]
    per_media = {r["media_id"] for r in rows}
    assert per_media == {0, 1, 2}
    assert all(0 <= r["frame_no"] < 3 for r in rows)

    # strict mode surfaces the stub, not silent fakes
    with pytest.raises(Exception, match="NotImplementedError|image decode"):
        resize_images(media, width=4, height=3, fake=False).collect()


def test_cosine_pairs_exact_rejects_unbounded_input(spark, sf_dir):
    """The collect-based kernel is an in-bucket verifier; corpus-scale
    callers must use cosine_pairs_blocked. The row bound makes that
    contract executable instead of a docstring promise."""
    import pytest

    from datagouv_tools_spark.operators.similarity import cosine_pairs_exact
    from datagouv_tools_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="cosine_pairs_blocked"):
        cosine_pairs_exact(emb, "vec_id", "embedding", max_rows=5).collect()


def test_bounded_fetch_is_one_job(spark):
    """The bounded driver fetches (``toArrow()`` of ``limit(n + 1)``) run
    as ONE job at the default ``spark.sql.limit.initialNumPartitions``,
    on a 16-partition input with no shuffle: the fetch scans every
    partition at once instead of the 1 -> 4 -> 16 rounds of a take."""
    from datagouv_tools_spark.operators.dedup import _cc_local
    from datagouv_tools_spark.operators.similarity import cosine_pairs_exact

    assert spark.conf.get("spark.sql.limit.initialNumPartitions", None) is None
    # explode hides the row count, so the optimizer cannot drop the limit
    ids = spark.range(0, 64, 1, numPartitions=16).select(
        F.explode(F.array("id")).alias("id")
    )
    pairs = ids.select(F.col("id").alias("id_a"), (F.col("id") % 8).alias("id_b"))
    vecs = ids.select(
        F.col("id").alias("vec_id"),
        F.array(F.sin("id"), F.cos("id")).alias("embedding"),
    )
    sc = spark.sparkContext

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    labels, n = jobs_of("cc_local_fetch", lambda: _cc_local(pairs, "id_a", "id_b", 1000))
    assert labels is not None and labels.count() == 64
    assert n == 1, n
    _, n = jobs_of("cosine_exact_fetch", lambda: cosine_pairs_exact(vecs))
    assert n == 1, n


def test_cosine_pairs_exact_rejects_ragged_or_null_vectors(spark):
    from datagouv_tools_spark.operators.similarity import cosine_pairs_exact

    for rows in (
        [(1, [1.0, 0.0]), (2, [1.0])],
        [(1, [1.0, 0.0]), (2, None)],
        [(1, [1.0, 0.0, 0.0]), (2, [1.0])],
    ):
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        with pytest.raises(ValueError):
            cosine_pairs_exact(df)


def test_cosine_pairs_blocked_matches_exact_kernel(spark, sf_dir):
    """The distributed block-matrix decomposition must be a pure
    re-plan of the exact kernel: identical pairs, identical rounded
    sims, each pair emitted exactly once (no double-count from a row
    living in B groups)."""
    from datagouv_tools_spark.operators.similarity import (
        cosine_pairs_blocked,
        cosine_pairs_exact,
    )
    from datagouv_tools_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in cosine_pairs_exact(emb, "vec_id", "embedding", threshold=0.3).collect()
    }
    for n_blocks in (1, 3, 8):
        rows = cosine_pairs_blocked(
            emb, "vec_id", "embedding", threshold=0.3, n_blocks=n_blocks
        ).collect()
        got = {(r["id_a"], r["id_b"]): r["sim"] for r in rows}
        assert len(rows) == len(got), f"duplicate pairs at n_blocks={n_blocks}"
        assert got == exact, f"mismatch at n_blocks={n_blocks}"


def test_cosine_pairs_blocked_matches_exact_kernel_in_row_strips(
    spark, sf_dir, monkeypatch
):
    """The same contract with the strip budget below one row, so every
    group scores one row per strip: each group with ≥ 3 rows on its row
    side runs as ≥ 3 strips, and strip edges cannot lose, duplicate or
    rescore a pair."""
    from datagouv_tools_spark.operators import similarity

    monkeypatch.setattr(similarity, "_STRIP_BYTES", 8)
    test_cosine_pairs_blocked_matches_exact_kernel(spark, sf_dir)


@pytest.mark.parametrize("reducer", ["pairs", "topk"])
def test_block_pair_kernel_memory_bounded_by_strip_budget(reducer):
    """One 2 × 4,000-row, 64-dim block-pair group at the module budget
    must peak under 8 × ``_STRIP_BYTES`` of traced allocations — the
    dense form holds the 4,000² float64 matrix (122 MiB) several times
    over (measured ~390-500 MiB)."""
    import tracemalloc

    import numpy as np
    import pandas as pd

    from datagouv_tools_spark.operators import similarity as S

    m = 4000
    vecs = np.random.default_rng(3).normal(size=(2 * m, 64)).astype(np.float32)
    pdf = pd.DataFrame(
        {
            "__id": np.arange(2 * m, dtype=np.int64),
            "__vec": list(vecs),
            "__blk": np.repeat(np.array([0, 1], dtype=np.int32), m),
        }
    )
    reduce = S._pairs_reducer(0.4) if reducer == "pairs" else S._topk_reducer(5)
    bound = 8 * S._STRIP_BYTES
    assert m * m * 8 > bound  # the dense matrix alone would break it
    tracemalloc.start()
    try:
        ids_a, ids_b, sims = S._block_pair_group(
            pdf, 0, 1, 6, reduce, S._STRIP_BYTES
        )
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < bound, f"peak {peak / 2**20:.1f} MiB"
    assert len(sims) and np.all((ids_a < m) != (ids_b < m))  # cross-block only
    if reducer == "topk":  # both directions: every row has its k
        assert len(sims) >= 2 * m * 5


def test_minhash_star_edges_equal_clique_components(spark, sf01_dir):
    """minhash_cluster_edges (linear star edges per bucket) must yield
    exactly the clusters of the O(m²)-per-bucket pair clique — the
    equivalence that makes cluster dedup survive mass duplication."""
    from pyspark.sql import functions as F

    from datagouv_tools_spark.operators.dedup import (
        dedup_clusters,
        minhash_cluster_edges,
        minhash_pairs,
    )
    from datagouv_tools_spark.sources.catalog import load_table

    docs = load_table(spark, sf01_dir, "documents").filter(F.col("doc_id") < 200)
    via_pairs = {
        (r["node"], r["cluster_id"])
        for r in dedup_clusters(minhash_pairs(docs, "text", "doc_id")).collect()
    }
    via_star = {
        (r["node"], r["cluster_id"])
        for r in dedup_clusters(minhash_cluster_edges(docs, "text", "doc_id")).collect()
    }
    assert via_pairs == via_star and via_star


def test_quality_checks_single_pass_and_violations(spark, sf_dir):
    """The suite must compile to ONE aggregate (single scan) and count
    violations correctly, including referential orphans."""
    from pyspark.sql import functions as F

    from datagouv_tools_spark.operators.quality import (
        in_range,
        matches,
        not_null,
        referential_violations,
        run_checks,
        unique,
    )
    from datagouv_tools_spark.sources.catalog import load_table

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, -1.0), (2, "b", 50.0), (3, "zz", None)],
        "id long, name string, v double",
    )
    out = {
        r["check"]: r["n_violations"]
        for r in run_checks(
            df,
            [
                not_null("name"),
                unique("id"),
                in_range("v", 0, 10),
                matches("name", "^[a-z]$"),
            ],
        ).collect()
    }
    assert out == {
        "not_null_name": 1,
        "unique_id": 1,
        "in_range_v": 3,  # -1.0 and 50.0 out of range + NULL
        "matches_name": 2,  # NULL + "zz"
    }

    # single scan: the whole suite is one aggregate over one read
    plan = run_checks(df, [not_null("name"), unique("id")])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") <= 1

    # referential orphans on real tables: every order must have a customer
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    orphans = referential_violations(orders, customer, "o_custkey", "c_custkey")
    assert orphans.count() == 0
    # and a poisoned fact row is caught
    poisoned = orders.limit(1).withColumn("o_custkey", F.lit(-999)).union(
        orders.limit(5)
    )
    assert (
        referential_violations(poisoned, customer, "o_custkey", "c_custkey").count()
        == 1
    )


def test_apply_changelog_tombstone_semantics(spark):
    """Delete-then-reinsert survives; insert-then-delete is gone; the
    newest record wins — exact changelog folding, not delete-filtering."""
    from datagouv_tools_spark.operators.cdc import apply_changelog

    rows = [
        # key 1: U(v=1) then D -> gone
        (1, "U", 1.0, 1, 1), (1, "D", None, 2, 2),
        # key 2: U, D, U(v=9) -> survives with 9
        (2, "U", 2.0, 1, 3), (2, "D", None, 2, 4), (2, "U", 9.0, 3, 5),
        # key 3: two upserts, same ts, change_id breaks the tie
        (3, "U", 7.0, 1, 6), (3, "U", 8.0, 1, 7),
    ]
    df = spark.createDataFrame(rows, "k long, op string, v double, ts long, cid long")
    out = {
        r["k"]: r["v"]
        for r in apply_changelog(df, "k", ("ts", "cid")).collect()
    }
    assert out == {2: 9.0, 3: 8.0}


def test_lsh_multiprobe_recall_monotone(spark, sf01_dir):
    """Multiprobe candidate sets are nested (bucket ∪ HD-1 probes), so
    recall vs brute force is non-decreasing in n_probes — and on this
    corpus the HD-1 probes recover real neighbors lost to a single
    sign-bit flip."""
    from datagouv_tools_spark.operators.similarity import cosine_topk, lsh_topk
    from datagouv_tools_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf01_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(qs, emb, k=5).collect()
    }
    recalls = []
    sizes = []
    for n_probes in (1, 2, 4, 9):
        got = {
            (r["query_id"], r["vec_id"])
            for r in lsh_topk(
                qs, emb, dim=64, k=5, n_planes=8, n_probes=n_probes
            ).collect()
        }
        recalls.append(len(exact & got) / len(exact))
        sizes.append(len(got))
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert sizes == sorted(sizes), f"result sizes not monotone: {sizes}"
    assert recalls[-1] > recalls[0], (
        f"multiprobe gained no recall on this corpus: {recalls}"
    )


def test_ivf_centroids_column_order_invariant(spark, sf01_dir):
    """id_col is explicit (VERDICT r02 'What's wrong' #3): the centroid
    set must not depend on the positional order of the input columns."""
    from datagouv_tools_spark.operators.similarity import _ivf_centroids
    from datagouv_tools_spark.sources.catalog import load_table

    emb = load_table(spark, sf01_dir, "embeddings")
    fwd = _ivf_centroids(
        emb.select("vec_id", "embedding"), "vec_id", "embedding", n_lists=8
    )
    rev = _ivf_centroids(
        emb.select("embedding", "vec_id"), "vec_id", "embedding", n_lists=8
    )
    assert fwd == rev
    assert len(fwd) == 8


def test_pq_encode_codebook_vectors_have_zero_error(spark, sf01_dir):
    """A sampled codebook vector's own sub-vectors ARE codebook entries,
    so it must encode to reconstruction error 0; everything else must
    encode within [0, 16) codes and non-negative error."""
    from pyspark.sql import functions as F

    from datagouv_tools_spark.operators.similarity import (
        _ivf_centroids,
        pq_codebooks,
        pq_encode,
    )
    from datagouv_tools_spark.functions.xhash import md5_hash60
    from datagouv_tools_spark.sources.catalog import load_table

    emb = load_table(spark, sf01_dir, "embeddings")
    books = pq_codebooks(emb, "vec_id", "embedding", dim=64, n_subspaces=8, n_codes=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(code) == 8 for b in books for code in b)

    # ids of the sampled vectors (same md5-min rule)
    h = md5_hash60(F.concat_ws("-", F.col("vec_id").cast("string"), F.lit("42")))
    sampled_ids = [
        r["vec_id"]
        for r in emb.select("vec_id").orderBy(h.asc(), F.col("vec_id").asc())
        .limit(16).collect()
    ]
    enc = pq_encode(emb.select("vec_id", "embedding"), books)
    sampled = enc.filter(F.col("vec_id").isin(sampled_ids))
    assert all(r["recon_err"] == 0.0 for r in sampled.collect())
    bad = enc.filter(
        (F.col("recon_err") < 0)
        | sum((~F.col(f"code_{s}").between(0, 15)).cast("int") for s in range(8)).cast("boolean")
    )
    assert bad.count() == 0


def test_pq_codebooks_kmeans_refinement_improves_recon_err(spark, sf01_dir):
    """Lloyd refinement seeded from the md5 sample must strictly shrink
    total reconstruction error, and refine_iters=0 must return the
    exact sample codebook (the SQL-oracle-reproducible default)."""
    from pyspark.sql import functions as F

    from datagouv_tools_spark.operators.similarity import pq_codebooks, pq_encode
    from datagouv_tools_spark.sources.catalog import load_table

    emb = load_table(spark, sf01_dir, "embeddings").select("vec_id", "embedding")
    kw = dict(dim=64, n_subspaces=8, n_codes=16)
    books0 = pq_codebooks(emb, "vec_id", "embedding", **kw)
    books0_again = pq_codebooks(emb, "vec_id", "embedding", **kw, refine_iters=0)
    assert books0 == books0_again
    books2 = pq_codebooks(emb, "vec_id", "embedding", **kw, refine_iters=2)
    assert books2 != books0

    def total_err(books):
        return (
            pq_encode(emb, books).agg(F.sum("recon_err").alias("e")).first()["e"]
        )

    e0, e2 = total_err(books0), total_err(books2)
    assert e2 < e0, f"refined {e2} not better than sample {e0}"


def test_dedup_clusters_auto_local_equivalence(spark):
    """dedup_clusters: under max_local_edges the labels come from
    driver union-find; over the bound it falls back to the
    distributed minlabel path. Both must be byte-identical to
    _cc_minlabel on every fixture shape — the bounded local finish is
    an optimization, never a semantics change."""
    from datagouv_tools_spark.operators.dedup import (
        _cc_local,
        _cc_minlabel,
        dedup_clusters,
    )

    fixtures = {
        "chain+islands": [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "long_chain": [(i, i + 1) for i in range(64)],
        "star_burst": [(0, i) for i in range(1, 30)] + [(100, 101)],
        "dup_edges+self_loop": [(1, 2), (1, 2), (2, 1), (3, 3), (4, 5)],
    }
    for name, edges in fixtures.items():
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        ml, _ = _cc_minlabel(pairs, "id_a", "id_b", 60)
        auto = dedup_clusters(pairs)
        assert sorted(map(tuple, ml.collect())) == sorted(
            map(tuple, auto.collect())
        ), f"auto/minlabel mismatch on {name}"
    # over-bound probe returns None and dedup_clusters falls back to
    # the distributed path with identical labels
    pairs = spark.createDataFrame(fixtures["long_chain"], "id_a long, id_b long")
    assert _cc_local(pairs, "id_a", "id_b", max_edges=3) is None
    small = dedup_clusters(pairs, max_local_edges=3)
    ml, _ = _cc_minlabel(pairs, "id_a", "id_b", 60)
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, ml.collect()))


def test_cc_local_labels_plan_as_local_table_scan(spark):
    """The driver union-find's labels come back as a LocalTableScan, not
    a Python-RDD scan (which would run a Python identity task per core
    on every read), with the node-sorted (node, cluster_id) bigint
    schema the distributed paths produce."""
    from datagouv_tools_spark.operators.dedup import _cc_local
    from datagouv_tools_spark.plans.inspect import physical_plan

    pairs = spark.sql(
        "SELECT * FROM VALUES (7, 9), (3, 4), (9, 3), (20, 21) AS t(id_a, id_b)"
    )
    labels = _cc_local(pairs, "id_a", "id_b", max_edges=100)
    plan = physical_plan(labels, mode="simple")
    assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan, plan
    assert labels.schema.simpleString() == "struct<node:bigint,cluster_id:bigint>"
    assert [tuple(r) for r in labels.collect()] == [
        (3, 3), (4, 3), (7, 3), (9, 3), (20, 20), (21, 20),
    ]


def test_ivfpq_adc_quality_on_incompressible_vectors(spark, sf01_dir):
    """End-to-end quality of the composed IVF-ADC search, pinned with
    the metrics that are MEANINGFUL on this corpus: the testdata
    embeddings are uniform random unit vectors — the provable worst
    case for product quantization (no cluster structure for the
    codebook sample to exploit), so top-10 recall is near-floor by
    theory, and pretending otherwise would be a vacuous test. What PQ
    must still deliver, deterministically:

    - self-retrieval: the query's own row has minimal ADC distance
    - ADC distances correlate with true squared-L2 (the compressed
      scan ranks usefully even when individual top-k sets churn)
    - ADC top-50 overlaps true top-50 at well over chance (chance = 5)
    - Lloyd-refined codebooks strictly improve the correlation
    - probing more IVF lists never loses recall"""
    import numpy as np

    from datagouv_tools_spark.operators.similarity import (
        ivfpq_topk,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )
    from datagouv_tools_spark.sources.catalog import load_table

    emb = load_table(spark, sf01_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qv = mat[ids == 0][0]
    d2 = {int(i): float(d) for i, d in zip(ids, ((mat - qv) ** 2).sum(1))}
    dist_arr = np.array([d2[int(i)] for i in ids])
    true50 = set(ids[np.argsort(dist_arr, kind="stable")[:50]].tolist())
    qlist = [float(x) for x in qv]

    def adc_ranked(books):
        codes = pq_encode(emb.select("vec_id", "embedding"), books).select(
            "vec_id", *[f"code_{s}" for s in range(8)]
        )
        return pq_adc_topk(codes, qlist, books, k=len(rows)).collect()

    books = pq_codebooks(emb, "vec_id", "embedding", dim=64, n_subspaces=8, n_codes=16)
    ranked = adc_ranked(books)
    assert ranked[0]["vec_id"] == 0  # self-retrieval
    a = np.array([r["adc_dist"] for r in ranked])
    t = np.array([d2[r["vec_id"]] for r in ranked])
    corr = float(np.corrcoef(a, t)[0, 1])
    assert corr >= 0.4, f"ADC/true-distance correlation too weak: {corr:.2f}"
    overlap = len({r["vec_id"] for r in ranked[:50]} & true50)
    assert overlap >= 10, f"ADC top-50 barely beats chance: {overlap}/50"

    refined = pq_codebooks(
        emb, "vec_id", "embedding", dim=64, n_subspaces=8, n_codes=16,
        refine_iters=3,
    )
    ranked_r = adc_ranked(refined)
    corr_r = float(
        np.corrcoef(
            np.array([r["adc_dist"] for r in ranked_r]),
            np.array([d2[r["vec_id"]] for r in ranked_r]),
        )[0, 1]
    )
    assert corr_r > corr, f"Lloyd refinement didn't help: {corr_r:.2f} <= {corr:.2f}"

    exact10 = set(ids[np.argsort(dist_arr, kind="stable")[:10]].tolist())

    def recall(nprobe):
        got = {
            r["vec_id"]
            for r in ivfpq_topk(emb, qlist, k=10, n_lists=8, nprobe=nprobe).collect()
        }
        return len(exact10 & got)

    r2, r8 = recall(2), recall(8)
    assert r2 >= 1  # at least the self-match survives probe pruning
    assert r8 >= r2, f"recall dropped with more probes: {r8} < {r2}"


def test_cosine_star_edges_span_bucket_cliques(spark, sf_dir):
    """The star-vs-clique span argument for embeddings: connected
    components over cosine_star_edges_lsh equal components over the
    full bucket-clique candidate set (same bands/bits/seed), while
    producing linearly many edges."""
    from datagouv_tools_spark.operators.dedup import dedup_clusters
    from datagouv_tools_spark.operators.similarity import (
        cosine_star_edges_lsh,
        lsh_band_buckets,
    )
    from datagouv_tools_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    # b=10 here so buckets actually collide on this corpus; the span
    # equivalence is parameter-independent
    star = cosine_star_edges_lsh(emb, dim=64, n_bands=10, band_bits=10)
    eb = lsh_band_buckets(emb, "vec_id", "embedding", 64, 10, 10)
    clique = (
        eb.alias("a")
        .join(eb.alias("b"), ["__band", "__bucket"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .distinct()
    )
    cs = sorted(map(tuple, dedup_clusters(star).collect()))
    cc = sorted(map(tuple, dedup_clusters(clique).collect()))
    assert cs == cc
    assert star.count() <= clique.count()


def test_cosine_star_edges_survive_mass_duplication(spark, sf_dir):
    """The 100 TB property: a template vector duplicated 5000× produces
    O(dups · bands) star edges — the clique form would materialize
    ~12.5M pairs for that one bucket. All copies land in ONE cluster
    labeled by the min id."""
    import numpy as np

    from datagouv_tools_spark.operators.dedup import dedup_clusters
    from datagouv_tools_spark.operators.similarity import cosine_star_edges_lsh
    from datagouv_tools_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    rng = np.random.default_rng(3)
    tpl = rng.standard_normal(64)
    tpl = [float(x) for x in tpl / np.linalg.norm(tpl)]
    n_dup = 5000
    flood = spark.range(n_dup).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.array(*[F.lit(x) for x in tpl]).cast("array<float>").alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(flood)
    star = cosine_star_edges_lsh(corpus, dim=64, n_bands=10, band_bits=20)
    n_edges = star.count()
    # linear: ~n_dup edges from the flood (identical vectors share every
    # band bucket -> min-star per band dedups to one edge per copy) plus
    # at most a handful of random 2^-20 collisions from the base corpus
    assert n_dup - 1 <= n_edges <= n_dup + 50, n_edges
    labels = dedup_clusters(star)
    flood_labels = {
        r["cluster_id"]
        for r in labels.filter(F.col("node") >= 1_000_000).collect()
    }
    assert flood_labels == {1_000_000}


def test_cosine_pairs_lsh_subset_of_exact(spark, sf_dir):
    """The LSH pair generator's contract across parameterizations:
    every emitted pair is a TRUE pair (its sim equals the exact
    kernel's, and passes the threshold) — LSH bounds candidates, never
    invents or rescores them. Checked for the query defaults and a
    second band shape + seed."""
    from datagouv_tools_spark.operators.similarity import (
        cosine_pairs_exact,
        cosine_pairs_lsh,
    )
    from datagouv_tools_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in cosine_pairs_exact(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    for kwargs in (
        {},  # the query defaults (L=10, b=10, multiprobe)
        {"n_bands": 4, "band_bits": 6, "seed": 7, "multiprobe": False},
    ):
        got = {
            (r["id_a"], r["id_b"]): r["sim"]
            for r in cosine_pairs_lsh(
                emb, "vec_id", "embedding", threshold=0.4, dim=64, **kwargs
            ).collect()
        }
        assert set(got) <= set(exact), kwargs
        assert all(got[k] == exact[k] for k in got), kwargs
        assert got, kwargs  # finds something on this corpus


class TestSegmentDedup:
    """Keep/drop semantics of the paragraph-level exact dedup
    (operators/dedup.segment_dedup_marks) on a crafted corpus."""

    @pytest.fixture(scope="class")
    def marks(self, spark):
        from datagouv_tools_spark.operators.dedup import segment_dedup_marks

        boiler = "all rights reserved do not copy"  # 6 tokens = 2 segs at L=3
        rows = [
            (10, f"{boiler} unique alpha text"),
            (20, f"{boiler} unique beta text"),
            (30, "fresh content only here nothing shared"),
            (40, "loop loop loop loop loop loop"),  # self-repeating doc
            (50, ""),  # empty: no segments at all
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = segment_dedup_marks(df, "doc_id", "text", seg_len=3)
        return {
            (r["doc_id"], r["seg_idx"]): r["kept"] for r in out.collect()
        }

    def test_first_doc_keeps_boilerplate(self, marks):
        assert marks[(10, 0)] and marks[(10, 1)]

    def test_later_doc_drops_boilerplate_keeps_unique(self, marks):
        assert not marks[(20, 0)] and not marks[(20, 1)]
        assert marks[(20, 2)]  # "unique beta text" differs from doc 10's tail

    def test_unshared_doc_fully_kept(self, marks):
        assert marks[(30, 0)] and marks[(30, 1)]

    def test_within_doc_repeat_keeps_first_occurrence_only(self, marks):
        assert marks[(40, 0)] and not marks[(40, 1)]

    def test_empty_doc_yields_no_segment_rows(self, marks):
        assert not any(d == 50 for d, _ in marks)

    def test_partial_tail_segment_is_its_own_unit(self, marks):
        # doc 10: 9 tokens -> segs 0,1,2; seg 2 = "unique alpha text"
        assert marks[(10, 2)]
        assert len([k for k in marks if k[0] == 10]) == 3


def test_distinct_sketch_merges_bucketwise(spark, sf_dir):
    """The scale claim behind events_distinct_sketch: the sketch of a
    union equals the bucket-wise MIN-merge of per-part sketches, so
    per-day/per-partition sketches roll up without touching raw ids."""
    from pyspark.sql import functions as F

    from datagouv_tools_spark.functions.xhash import md5_hash60
    from datagouv_tools_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    h = md5_hash60(F.concat(F.col("user_id").cast("string"), F.lit(":ds")))
    hv = ev.select(
        (F.col("event_id") % 2 == 0).alias("part"),
        (h % 64).alias("b"),
        h.alias("h"),
    ).select("part", "b", F.expr("h DIV 128").alias("v"))

    whole = (
        hv.groupBy("b").agg(F.min("v").alias("mv")).orderBy("b").collect()
    )
    parts = (
        hv.groupBy("part", "b")
        .agg(F.min("v").alias("mv"))
        .groupBy("b")
        .agg(F.min("mv").alias("mv"))
        .orderBy("b")
        .collect()
    )
    assert [(r.b, r.mv) for r in whole] == [(r.b, r.mv) for r in parts]


def test_cms_never_undercounts_and_merges(spark, sf_dir):
    """CMS contract: estimate >= exact for EVERY probed token, and the
    sketch of a corpus equals the cell-wise SUM of per-part sketches
    (the shard-merge property)."""
    from pyspark.sql import functions as F

    from datagouv_tools_spark import queries as q

    out = q.QUERIES["doc_token_cms"](spark, sf_dir).collect()
    assert len(out) == 20
    assert all(r["n_est"] >= r["n_exact"] for r in out)

    from datagouv_tools_spark.functions.text import tokens
    from datagouv_tools_spark.functions.xhash import md5_hash60
    from datagouv_tools_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2 == 0).alias("part"),
        F.explode(tokens("text")).alias("tok"),
    )
    rows = F.array(*[F.lit(i) for i in range(4)])
    cells_src = toks.select(
        "part", F.explode(rows).alias("i"), F.col("tok")
    ).select(
        "part",
        "i",
        (md5_hash60(F.concat("tok", F.lit(":cms"), F.col("i").cast("string"))) % 1024).alias(
            "idx"
        ),
    )
    whole = (
        cells_src.groupBy("i", "idx").agg(F.count(F.lit(1)).alias("c")).orderBy("i", "idx")
    ).collect()
    merged = (
        cells_src.groupBy("part", "i", "idx")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("i", "idx")
        .agg(F.sum("c").alias("c"))
        .orderBy("i", "idx")
    ).collect()
    assert [(r.i, r.idx, r.c) for r in whole] == [(r.i, r.idx, r.c) for r in merged]


class TestPpmDecode:
    """The real codec path: pure-numpy Netpbm P6 decode
    (operators/multimodal.decode_ppm) — the honest exception to the
    decode-is-stubbed rule, since numpy ships and PIL doesn't."""

    def _img(self, w=5, h=3, seed=7):
        import numpy as np

        r = np.arange(h).reshape(h, 1, 1)
        c = np.arange(w).reshape(1, w, 1)
        k = np.arange(3).reshape(1, 1, 3)
        return ((seed + r * 5 + c * 3 + k * 11) % 256).astype(np.uint8)

    def test_round_trip(self):
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_ppm,
            encode_ppm,
        )

        px = self._img()
        w, h, back = decode_ppm(encode_ppm(px))
        assert (w, h) == (5, 3)
        assert np.array_equal(back, px)

    def test_header_comments_and_whitespace_variants(self):
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import decode_ppm

        px = self._img(w=2, h=2)
        raster = px.tobytes()
        # comments between tokens, CRLF-ish whitespace, multi-space
        hdr = b"P6 # a comment\n  2\t2 # dims\n255\n"
        w, h, back = decode_ppm(hdr + raster)
        assert (w, h) == (2, 2) and np.array_equal(back, px)

    def test_decode_image_batch_routes_p6_and_rejects_rest(self):
        from datagouv_tools_spark.operators.multimodal import (
            decode_image_batch,
            encode_ppm,
        )

        w, h, _ = decode_image_batch(encode_ppm(self._img()))
        assert (w, h) == (5, 3)
        with pytest.raises(NotImplementedError):
            decode_image_batch(b"\x89PNG\r\n...")

    def test_errors_are_loud(self):
        from datagouv_tools_spark.operators.multimodal import (
            decode_ppm,
            encode_ppm,
        )

        full = encode_ppm(self._img())
        with pytest.raises(ValueError, match="truncated P6 raster"):
            decode_ppm(full[:-4])
        with pytest.raises(ValueError, match="maxval"):
            decode_ppm(b"P6\n2 2\n65535\n" + b"\x00" * 24)
        with pytest.raises(ValueError, match="not a P6"):
            decode_ppm(b"P5\n2 2\n255\n" + b"\x00" * 4)

    def test_channel_stats_match_numpy(self, spark):
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            encode_ppm,
            image_channel_stats,
        )

        imgs = {i: self._img(w=4, h=6, seed=i * 13) for i in (1, 2, 3)}
        df = spark.createDataFrame(
            [(i, encode_ppm(px)) for i, px in imgs.items()],
            "media_id long, payload binary",
        )
        got = {r["media_id"]: r for r in image_channel_stats(df).collect()}
        for i, px in imgs.items():
            flat = px.reshape(-1, 3).astype(np.int64)
            assert got[i]["width"] == 4 and got[i]["height"] == 6
            assert [got[i][f"sum_{ch}"] for ch in "rgb"] == list(
                flat.sum(axis=0)
            )
            assert [got[i][f"sumsq_{ch}"] for ch in "rgb"] == list(
                (flat * flat).sum(axis=0)
            )


class TestWavDecode:
    """The real audio codec path: pure RIFF/WAVE 16-bit PCM parsing
    (operators/multimodal.decode_wav)."""

    def _clip(self, n=64, seed=3, channels=1):
        import numpy as np

        i = np.arange(n * channels)
        return (((seed * 31 + i * 7) % 2048) - 1024).astype("<i2").reshape(
            n, channels
        )

    def test_round_trip_mono_and_stereo(self):
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_wav,
            encode_wav,
        )

        for ch in (1, 2):
            clip = self._clip(channels=ch)
            sr, nch, back = decode_wav(encode_wav(clip, 44100))
            assert (sr, nch) == (44100, ch)
            assert np.array_equal(back, clip)

    def test_chunk_walk_tolerates_extra_chunks(self):
        """Real WAV files carry LIST/INFO chunks between fmt and data;
        the parser must walk past them (with word-alignment padding)."""
        import struct

        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_wav,
            encode_wav,
        )

        clip = self._clip()
        full = encode_wav(clip, 8000)
        # splice an odd-sized LIST chunk (forcing a pad byte) after fmt
        fmt_end = full.index(b"data")
        extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
        spliced = full[:fmt_end] + extra + full[fmt_end:]
        sr, nch, back = decode_wav(spliced)
        assert sr == 8000 and np.array_equal(back, clip)

    def test_errors_are_loud(self):
        import struct

        import pytest as _pytest

        from datagouv_tools_spark.operators.multimodal import (
            decode_wav,
            encode_wav,
        )

        with _pytest.raises(ValueError, match="not a RIFF"):
            decode_wav(b"OggS" + b"\x00" * 40)
        full = encode_wav(self._clip(), 8000)
        with _pytest.raises(ValueError, match="missing fmt/data"):
            decode_wav(full[:20])
        # 8-bit PCM: format tag 1 but bits=8 → unsupported, loudly
        fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        bad = (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt8) + 8 + 4) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt8)) + fmt8
            + b"data" + struct.pack("<I", 4) + b"\x00" * 4
        )
        with _pytest.raises(ValueError, match="only 16-bit"):
            decode_wav(bad)

    def test_audio_stats_match_numpy(self, spark):
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            audio_stats,
            encode_wav,
        )

        clips = {i: self._clip(seed=i * 11, channels=1 + i % 2) for i in (1, 2, 3)}
        df = spark.createDataFrame(
            [(i, encode_wav(c, 16000)) for i, c in clips.items()],
            "media_id long, payload binary",
        )
        got = {r["media_id"]: r for r in audio_stats(df).collect()}
        for i, c in clips.items():
            s = c.astype(np.int64)
            assert got[i]["sample_rate"] == 16000
            assert got[i]["n_channels"] == c.shape[1]
            assert got[i]["n_frames"] == c.shape[0]
            assert got[i]["sum_amp"] == int(s.sum())
            assert got[i]["sumsq_amp"] == int((s * s).sum())


def test_quarantine_splits_rows_with_causes(spark):
    from datagouv_tools_spark.operators.quality import (
        in_range,
        matches,
        not_null,
        quarantine,
        unique,
    )

    df = spark.createDataFrame(
        [
            (1, "a@x.io", 10.0),
            (2, None, 5.0),          # null email
            (3, "bad", -1.0),        # bad email AND out-of-range
            (4, "c@y.io", 7.5),
        ],
        "id bigint, email string, amount double",
    )
    checks = [
        not_null("email"),
        matches("email", r"^[^@]+@[^@]+$"),
        in_range("amount", 0.0, 100.0),
    ]
    clean, bad = quarantine(df, checks)
    assert sorted(r["id"] for r in clean.collect()) == [1, 4]
    got = {r["id"]: r["violations"] for r in bad.collect()}
    assert got[2] == "not_null_email,matches_email"  # null fails both
    assert got[3] == "matches_email,in_range_amount"
    assert "violations" not in clean.columns

    # aggregate-only checks are rejected loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="aggregate-only"):
        quarantine(df, [unique("id")])


class TestCodecProperties:
    """Hypothesis sweeps over the pure-python codecs: round-trips are
    exact for every valid array, and arbitrary bytes never escape with
    anything but the documented ValueError/NotImplementedError."""

    def test_ppm_round_trip_property(self):
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from hypothesis.extra.numpy import arrays

        from datagouv_tools_spark.operators.multimodal import (
            decode_ppm,
            encode_ppm,
        )

        @settings(max_examples=50, deadline=None)
        @given(
            arrays(
                np.uint8,
                st.tuples(
                    st.integers(1, 8), st.integers(1, 8), st.just(3)
                ),
            )
        )
        def check(px):
            w, h, back = decode_ppm(encode_ppm(px))
            assert (w, h) == (px.shape[1], px.shape[0])
            assert np.array_equal(back, px)

        check()

    def test_wav_round_trip_property(self):
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from hypothesis.extra.numpy import arrays

        from datagouv_tools_spark.operators.multimodal import (
            decode_wav,
            encode_wav,
        )

        @settings(max_examples=50, deadline=None)
        @given(
            arrays(
                np.int16,
                st.tuples(st.integers(1, 64), st.integers(1, 2)),
            ),
            st.sampled_from([8000, 16000, 44100]),
        )
        def check(clip, sr):
            srate, nch, back = decode_wav(encode_wav(clip, sr))
            assert srate == sr and nch == clip.shape[1]
            assert np.array_equal(back, clip)

        check()

    def test_garbage_bytes_fail_loudly_not_weirdly(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from datagouv_tools_spark.operators.multimodal import (
            decode_ppm,
            decode_wav,
        )

        @settings(max_examples=200, deadline=None)
        @given(st.binary(max_size=200))
        def check(payload):
            for dec in (decode_ppm, decode_wav):
                try:
                    dec(payload)
                except (ValueError, NotImplementedError):
                    pass
                # anything else (struct.error, IndexError, numpy
                # reshape errors) is a parser bug the test surfaces

        check()

    def test_prefixed_garbage_headers(self):
        """Bytes that START like a valid container but go wrong — the
        adversarial zone for chunk/header walkers."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from datagouv_tools_spark.operators.multimodal import (
            decode_ppm,
            decode_wav,
        )

        @settings(max_examples=200, deadline=None)
        @given(st.binary(max_size=120))
        def check(tail):
            try:
                decode_ppm(b"P6" + tail)
            except (ValueError, NotImplementedError):
                pass
            try:
                decode_wav(b"RIFF\x10\x00\x00\x00WAVE" + tail)
            except (ValueError, NotImplementedError):
                pass

        check()


def test_wav_zero_channel_fmt_is_loud():
    """A crafted PCM fmt chunk declaring 0 channels must raise
    ValueError, not ZeroDivisionError (found by reasoning the property
    sweep's blind spot — random bytes almost never build a valid fmt)."""
    import struct

    import pytest as _pytest

    from datagouv_tools_spark.operators.multimodal import decode_wav

    fmt0 = struct.pack("<HHIIHH", 1, 0, 8000, 0, 0, 16)
    bad = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt0)) + fmt0
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    with _pytest.raises(ValueError, match="zero channels"):
        decode_wav(bad)


def test_fuzzy_pairs_blocked_matches_and_misses_documented(spark):
    from datagouv_tools_spark.operators.fuzzy import (
        fuzzy_pairs,
        prefix_length_block,
    )

    rows = [
        (1, "acme corp"),
        (2, "acme Corp"),   # 1 substitution — same block
        (3, "acme corps"),  # 1 insertion — DIFFERENT length → other block
        (4, "zeta corp"),   # far
        (5, "acme c0rp"),   # 1 substitution — same block
    ]
    df = spark.createDataFrame(rows, "id bigint, key string")
    got = sorted(
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_pairs(
            df, "key", "id", prefix_length_block("key", 4), max_distance=1
        ).collect()
    )
    # the blocking recall trade is explicit: (1,3) is a true distance-1
    # pair MISSED because the length differs (documented behavior);
    # (2,5) differs in TWO positions (C/c and o/0) and is rightly out
    assert got == [(1, 2, 1), (1, 5, 1)]


def test_deletion_neighborhood_pairs_complete_recall(spark):
    """r11 FastSS: the SAME fixture where prefix/length blocking
    documents a miss — deletion neighborhoods recover it. (1,3) is an
    insertion pair across lengths; (1,2)/(1,5) substitutions; (2,5) is
    distance 2 and must stay out even though it shares variants; an
    exact duplicate reports distance 0."""
    from datagouv_tools_spark.operators.fuzzy import (
        deletion_neighborhood_pairs,
    )

    rows = [
        (1, "acme corp"),
        (2, "acme Corp"),   # 1 substitution
        (3, "acme corps"),  # 1 insertion (crosses length — the old miss)
        (4, "zeta corp"),   # far
        (5, "acme c0rp"),   # 1 substitution
        (6, "acme corp"),   # exact duplicate of 1
        (7, ""),            # empty-key edge: no crash, no pairs
    ]
    df = spark.createDataFrame(rows, "id bigint, key string")
    got = sorted(
        (r["id_a"], r["id_b"], r["distance"])
        for r in deletion_neighborhood_pairs(df, "key", "id").collect()
    )
    assert got == [
        (1, 2, 1), (1, 3, 1), (1, 5, 1), (1, 6, 0),
        (2, 6, 1), (3, 6, 1), (5, 6, 1),
    ]


def test_deletion_neighborhood_rejects_k_above_1(spark):
    import pytest

    from datagouv_tools_spark.operators.fuzzy import (
        deletion_neighborhood_pairs,
    )

    df = spark.createDataFrame([(1, "a")], "id bigint, key string")
    with pytest.raises(ValueError, match="max_distance=1"):
        deletion_neighborhood_pairs(df, "key", "id", max_distance=2)


# ---------------------------------------------------------------------------
# skyline_2d
# ---------------------------------------------------------------------------


def _sky(spark, rows):
    from datagouv_tools_spark.operators.skyline import skyline_2d

    pts = spark.createDataFrame(rows, "pid bigint, price double, qty bigint")
    return sorted(r["pid"] for r in skyline_2d(pts, "price", "qty").collect())


def test_skyline_basic_dominance(spark):
    """(1.0, 10) dominates (2.0, 5); the frontier keeps the staircase."""
    rows = [(1, 1.0, 10), (2, 2.0, 5), (3, 2.0, 20), (4, 3.0, 30), (5, 4.0, 25)]
    assert _sky(spark, rows) == [1, 3, 4]


def test_skyline_equal_price_higher_qty_dominates(spark):
    rows = [(1, 1.0, 10), (2, 1.0, 7)]
    assert _sky(spark, rows) == [1]


def test_skyline_exact_ties_all_survive(spark):
    """Equal on both dims → neither dominates: both stay."""
    rows = [(1, 1.0, 10), (2, 1.0, 10), (3, 2.0, 10)]
    assert _sky(spark, rows) == [1, 2]


def test_skyline_equal_qty_cheaper_dominates(spark):
    """Strictly cheaper at the same qty dominates (strict in price)."""
    rows = [(1, 1.0, 10), (2, 2.0, 10)]
    assert _sky(spark, rows) == [1]


def test_skyline_single_point_and_idempotence(spark):
    rows = [(1, 5.0, 1)]
    assert _sky(spark, rows) == [1]


# ---------------------------------------------------------------------------
# mmr_rerank
# ---------------------------------------------------------------------------


def _mmr(spark, rows, lam=0.7, k=3):
    from datagouv_tools_spark.operators.retrieval import mmr_rerank

    cands = spark.createDataFrame(
        rows, "vec_id bigint, v array<double>, rel double"
    )
    out = mmr_rerank(cands, "vec_id", "v", "rel", k=k, lam=lam)
    return [r["vec_id"] for r in out.orderBy("rank").collect()]


def test_mmr_skips_redundant_runner_up(spark):
    """Candidate 2 is relevance runner-up but a near-clone of pick 1;
    MMR must prefer the orthogonal candidate 3."""
    rows = [
        (1, [1.0, 0.0], 0.95),
        (2, [0.999, 0.001], 0.94),  # clone of 1
        (3, [0.0, 1.0], 0.80),      # diverse
        (4, [0.9, 0.1], 0.70),
    ]
    assert _mmr(spark, rows)[:2] == [1, 3]


def test_mmr_lambda_one_is_pure_relevance(spark):
    rows = [
        (1, [1.0, 0.0], 0.9),
        (2, [1.0, 0.0], 0.8),
        (3, [0.0, 1.0], 0.1),
    ]
    assert _mmr(spark, rows, lam=1.0) == [1, 2, 3]


def test_mmr_tie_breaks_by_id(spark):
    rows = [
        (7, [1.0, 0.0], 0.5),
        (3, [0.0, 1.0], 0.5),
        (9, [0.5, 0.5], 0.1),
    ]
    # round 1: equal rel → lowest id wins
    assert _mmr(spark, rows)[0] == 3


# ---------------------------------------------------------------------------
# sorted_neighborhood_pairs
# ---------------------------------------------------------------------------


def _snp(spark, rows, window=2, sort_reversed=False):
    from datagouv_tools_spark.operators.fuzzy import sorted_neighborhood_pairs

    df = spark.createDataFrame(rows, "id bigint, key string")
    sk = F.reverse(F.col("key")) if sort_reversed else F.col("key")
    got = sorted_neighborhood_pairs(df, "key", "id", sk, window=window)
    return sorted((r["id_a"], r["id_b"], r["distance"]) for r in got.collect())


def test_snp_finds_adjacent_edits_within_window(spark):
    rows = [(1, "name01"), (2, "name02"), (3, "name03"), (9, "zzzzzz")]
    got = _snp(spark, rows, window=2)
    assert got == [(1, 2, 1), (1, 3, 1), (2, 3, 1)]


def test_snp_window_bounds_candidates(spark):
    """With window=1 only rank-adjacent rows are compared."""
    rows = [(1, "name01"), (2, "name02"), (3, "name03")]
    got = _snp(spark, rows, window=1)
    assert got == [(1, 2, 1), (2, 3, 1)]


def test_snp_reversed_sort_key_catches_prefix_edits(spark):
    """'Xname' vs 'Yname' share no prefix block, but sort adjacently
    under the reversed key — the multi-pass recall argument."""
    rows = [(1, "Xname"), (2, "Yname"), (3, "other9")]
    assert (1, 2, 1) in _snp(spark, rows, window=1, sort_reversed=True)


def test_cusum_window_identity_matches_sequential_fold():
    """events_cusum_alarms rewrites s_t = max(0, s_{t-1} + y_t) as
    C_t − min(0, running-min C): pin the identity against the direct
    fold on adversarial sequences (clamp hit repeatedly, all-negative,
    alternating)."""
    import itertools

    def fold(ys):
        s, out = 0, []
        for y in ys:
            s = max(0, s + y)
            out.append(s)
        return out

    def window(ys):
        c = list(itertools.accumulate(ys))
        out = []
        rm = 0
        for i, ci in enumerate(c):
            rm = min(rm if i else ci, ci)
            out.append(ci - min(0, rm))
        return out

    cases = [
        [5, -10, 3],
        [-1, -2, -3],
        [4, 4, -9, 2, -1, 7],
        [0, 0, 0],
        [10, -3, -3, -3, -3, 10],
    ]
    for ys in cases:
        assert window(ys) == fold(ys), ys


def test_audio_features_match_numpy(spark):
    """audio_features: ZCR / peak / lagged autocorrelation equal a
    direct numpy recompute, including the multi-channel integer
    mixdown and the short-clip lag guard (clip shorter than the lag
    yields 0, not a crash)."""
    import numpy as np

    from datagouv_tools_spark.operators.multimodal import (
        audio_features,
        encode_wav,
    )

    rng = np.random.RandomState(7)
    clips = {
        1: rng.randint(-3000, 3000, size=(64, 1)).astype("<i2"),
        2: rng.randint(-3000, 3000, size=(40, 2)).astype("<i2"),
        3: rng.randint(-3000, 3000, size=(8, 1)).astype("<i2"),  # < lag 16
    }
    df = spark.createDataFrame(
        [(i, encode_wav(c, 8000)) for i, c in clips.items()],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in audio_features(df).collect()}
    for i, c in clips.items():
        mono = c.astype(np.int64).sum(axis=1)
        assert got[i]["n_frames"] == c.shape[0]
        assert got[i]["zcr"] == int((mono[:-1] * mono[1:] < 0).sum())
        assert got[i]["peak_amp"] == int(np.abs(mono).max())
        for lag, name in ((1, "ac_lag1"), (4, "ac_lag4"), (16, "ac_lag16")):
            want = (
                int((mono[:-lag] * mono[lag:]).sum())
                if mono.size > lag
                else 0
            )
            assert got[i][name] == want, (i, name)


class TestPngDecode:
    """The r7 real compressed-codec path: stdlib-zlib + numpy PNG
    decode (operators/multimodal.decode_png), every scanline filter
    type exercised."""

    def _img(self, w=6, h=5, seed=3):
        import numpy as np

        r = np.arange(h).reshape(h, 1, 1)
        c = np.arange(w).reshape(1, w, 1)
        k = np.arange(3).reshape(1, 1, 3)
        return ((seed + r * 7 + c * 5 + k * 13) % 256).astype(np.uint8)

    def test_round_trip_every_filter_type(self):
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        px = self._img()
        for f in range(5):
            w, h, back = decode_png(encode_png(px, row_filter=lambda y: f))
            assert (w, h) == (6, 5), f
            assert np.array_equal(back, px), f"filter {f}"
        # mixed filters per row (the fixture rule the query uses)
        w, h, back = decode_png(encode_png(px, row_filter=lambda y: y % 5))
        assert np.array_equal(back, px)

    def test_decodes_random_content_under_all_filters(self):
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        rng = np.random.default_rng(42)
        px = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
        for f in range(5):
            _, _, back = decode_png(encode_png(px, row_filter=lambda y: f))
            assert np.array_equal(back, px), f"filter {f}"

    def test_decode_image_batch_routes_png(self):
        from datagouv_tools_spark.operators.multimodal import (
            decode_image_batch,
            encode_png,
        )

        w, h, _ = decode_image_batch(encode_png(self._img()))
        assert (w, h) == (6, 5)

    def test_errors_are_loud(self):
        import pytest

        from datagouv_tools_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        full = bytearray(encode_png(self._img()))
        with pytest.raises(ValueError, match="not a PNG"):
            decode_png(b"P6\n1 1\n255\n\x00\x00\x00")
        # flip one IDAT byte: CRC must catch it
        full[40] ^= 0xFF
        with pytest.raises(ValueError, match="CRC mismatch|truncated"):
            decode_png(bytes(full))
        with pytest.raises(ValueError, match="truncated"):
            decode_png(encode_png(self._img())[:-6])
        # grayscale (colortype 0) IHDR must refuse, not mis-decode
        import zlib

        sig = b"\x89PNG\r\n\x1a\n"
        ihdr = (
            (1).to_bytes(4, "big")
            + (1).to_bytes(4, "big")
            + bytes([8, 0, 0, 0, 0])
        )
        chunk = (
            len(ihdr).to_bytes(4, "big")
            + b"IHDR"
            + ihdr
            + (zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF).to_bytes(4, "big")
        )
        with pytest.raises(ValueError, match="unsupported PNG variant"):
            decode_png(sig + chunk)


class TestGifDecode:
    """The r8 second compressed codec: single-frame GIF87a/89a via
    pure-Python spec LZW (operators/multimodal.decode_gif) — table
    growth, 12-bit cap + clear-reset, and the KwKwK case all
    exercised."""

    def _img(self, w=6, h=5, seed=3):
        import numpy as np

        r = np.arange(h).reshape(h, 1, 1)
        c = np.arange(w).reshape(1, w, 1)
        k = np.arange(3).reshape(1, 1, 3)
        return ((seed + r * 7 + c * 5 + k * 13) % 256).astype(np.uint8)

    def test_round_trip(self):
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        px = self._img()
        w, h, back = decode_gif(encode_gif(px))
        assert (w, h) == (6, 5)
        assert np.array_equal(back, px)

    def test_lzw_growth_cap_and_kwkwk(self):
        """Direct LZW round trips through every state-machine edge:
        width growth to 12 bits, the table-full clear-reset, and the
        code==next_code (KwKwK) reconstruction."""
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            _lzw_decode,
            _lzw_encode,
        )

        rng = np.random.default_rng(7)
        for mcs, size in ((2, 64), (4, 5000), (8, 300_000)):
            idx = rng.integers(
                0, 1 << mcs, size=size, dtype=np.uint8
            ).tobytes()
            assert _lzw_decode(_lzw_encode(idx, mcs), mcs) == idx
        # KwKwK: every-run-extends input, and a single-symbol flood
        for idx in (b"\x01\x01\x02" * 50_000, bytes(100_000)):
            assert _lzw_decode(_lzw_encode(idx, 2), 2) == idx

    def test_palette_and_extension_handling(self):
        """≤256-color palette round-trips exactly; a graphic-control
        extension block before the image descriptor is skipped."""
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        rng = np.random.default_rng(11)
        pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        px = pal[rng.integers(0, 16, size=(9, 7))]
        blob = bytearray(encode_gif(px))
        # splice a GCE extension right after header+GCT (13 + 3*palette)
        gct_len = 3 * (2 << (blob[10] & 0x07))
        at = 13 + gct_len
        gce = bytes([0x21, 0xF9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00])
        blob2 = bytes(blob[:at]) + gce + bytes(blob[at:])
        w, h, back = decode_gif(blob2)
        assert (w, h) == (7, 9)
        assert np.array_equal(back, px)

    def test_decode_image_batch_routes_gif(self):
        from datagouv_tools_spark.operators.multimodal import (
            decode_image_batch,
            encode_gif,
        )

        w, h, _ = decode_image_batch(encode_gif(self._img()))
        assert (w, h) == (6, 5)

    def test_errors_are_loud(self):
        import pytest

        from datagouv_tools_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        with pytest.raises(ValueError, match="not a GIF"):
            decode_gif(b"P6\n1 1\n255\n\x00\x00\x00")
        full = encode_gif(self._img())
        with pytest.raises(ValueError, match="truncated"):
            decode_gif(full[:-8])

    def test_interlaced_single_frame_roundtrip(self):
        """r11: 4-pass interlaced storage deinterlaces back to raster
        order bit-exactly, including odd heights where the passes are
        uneven (h=1 has only pass 1; h=5 skips none)."""
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_gif,
            encode_gif_frames,
        )

        rng = np.random.default_rng(11)
        for h in (1, 2, 3, 5, 8, 9, 13, 16):
            px = (
                rng.integers(0, 8, size=(h, 7, 1))
                .repeat(3, axis=2)
                .astype(np.uint8)
            )
            blob = encode_gif_frames([px], interlaced=True)
            w2, h2, back = decode_gif(blob)
            assert (w2, h2) == (7, h)
            assert np.array_equal(back, px), h

    def test_interlace_flag_changes_storage_not_pixels(self):
        """The interlaced stream must differ on the wire (flag bit +
        row order) yet decode to identical pixels — guards against an
        encoder that sets the flag without permuting or vice versa."""
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_gif,
            encode_gif_frames,
        )

        px = self._img()
        seq = encode_gif_frames([px])
        ilc = encode_gif_frames([px], interlaced=True)
        assert seq != ilc
        assert np.array_equal(decode_gif(seq)[2], decode_gif(ilc)[2])


class TestJpegDecode:
    """The r8 third compressed codec: baseline sequential JFIF
    (operators/multimodal.decode_jpeg) — canonical Huffman from DHT,
    dequantize + exact numpy IDCT, 4:4:4 and 4:2:0 sampling, restart
    markers, byte-stuffing, and the honest SOF2/12-bit boundary."""

    def _img(self, w=11, h=13, seed=7):
        import numpy as np

        rng = np.random.default_rng(seed)
        return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)

    def test_flat_block_is_exact(self):
        """A constant image has only DC energy: quant=1 round-trips
        bit-exactly (DC rounding cancels through the level shift)."""
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        px = np.full((16, 16, 3), 128, np.uint8)
        w, h, back = decode_jpeg(encode_jpeg(px))
        assert (w, h) == (16, 16)
        assert np.array_equal(back, px)

    def test_near_lossless_roundtrip_odd_dims(self):
        """quant=1 4:4:4: the only loss is DCT-coefficient rounding,
        provably < 5 per pixel — random pixels, non-multiple-of-8
        dims (exercises edge-replication padding + crop)."""
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        px = self._img()
        w, h, back = decode_jpeg(encode_jpeg(px))
        assert (w, h) == (11, 13)
        assert back.shape == px.shape
        assert np.abs(back.astype(int) - px.astype(int)).max() < 5

    def test_420_subsampling(self):
        """4:2:0: gray content (flat chroma) makes the 2x2 chroma mean
        lossless, so the same <5 DCT-rounding bound holds; odd dims
        exercise the chroma pad + repeat-upsample + crop path."""
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(3)
        gray = rng.integers(0, 256, size=(21, 17), dtype=np.uint8)
        px = np.stack([gray] * 3, axis=-1)
        w, h, back = decode_jpeg(encode_jpeg(px, subsample=True))
        assert (w, h) == (17, 21)
        assert np.abs(back.astype(int) - px.astype(int)).max() < 5

    def test_restart_markers_do_not_change_pixels(self):
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        px = self._img(w=24, h=24, seed=11)
        blob = encode_jpeg(px, restart_interval=2)
        assert b"\xff\xdd" in blob  # DRI present
        a = decode_jpeg(blob)[2]
        b = decode_jpeg(encode_jpeg(px))[2]
        assert np.array_equal(a, b)

    def test_lossy_quality_stays_bounded_on_smooth_content(self):
        """Annex-K tables at quality=90 on a smooth gradient: lossy,
        but the error must stay small (sanity that quant scaling,
        zigzag, and run-length coding compose correctly)."""
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        g = np.tile(np.linspace(0, 255, 32), (32, 1))
        px = np.stack([g, g, g], axis=-1).astype(np.uint8)
        w, h, back = decode_jpeg(encode_jpeg(px, quality=90))
        assert np.abs(back.astype(int) - px.astype(int)).max() <= 8
        # and the full lossy stack (q50 + 4:2:0 + restarts) decodes
        px2 = self._img(w=32, h=32, seed=5)
        blob = encode_jpeg(px2, quality=50, subsample=True, restart_interval=3)
        assert decode_jpeg(blob)[2].shape == px2.shape

    def test_byte_stuffing_survives(self):
        """Entropy bytes equal to 0xFF must be stuffed/unstuffed; a
        sweep of seeds makes at least one stuffed byte near-certain."""
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        saw_stuffed = False
        for seed in range(8):
            px = self._img(w=16, h=16, seed=seed)
            blob = encode_jpeg(px)
            saw_stuffed = saw_stuffed or b"\xff\x00" in blob
            back = decode_jpeg(blob)[2]
            assert np.abs(back.astype(int) - px.astype(int)).max() < 5
        assert saw_stuffed

    def test_decode_image_batch_routes_jpeg(self):
        from datagouv_tools_spark.operators.multimodal import (
            decode_image_batch,
            encode_jpeg,
        )

        w, h, _ = decode_image_batch(encode_jpeg(self._img()))
        assert (w, h) == (11, 13)

    def test_errors_are_loud(self):
        import pytest

        from datagouv_tools_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        with pytest.raises(ValueError, match="not a JPEG"):
            decode_jpeg(b"P6\n1 1\n255\n\x00\x00\x00")
        full = bytearray(encode_jpeg(self._img()))
        with pytest.raises(ValueError, match="truncated"):
            decode_jpeg(bytes(full[:-40]))
        # progressive (SOF2) must refuse, not mis-decode
        at = full.find(b"\xff\xc0")
        full[at + 1] = 0xC2
        with pytest.raises(NotImplementedError, match="baseline"):
            decode_jpeg(bytes(full))


def test_jpeg_round_trip_property():
    """Hypothesis sweep: any (h, w, 3) uint8 array round-trips through
    quant=1 baseline JPEG with error < 5 (4:4:4; pure DCT rounding) and
    exact dimensions under 4:2:0 too (chroma mean is genuinely lossy on
    adversarial content, so only the geometry is asserted there)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    from datagouv_tools_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        arrays(
            np.uint8,
            st.tuples(st.integers(1, 20), st.integers(1, 20), st.just(3)),
        ),
        st.booleans(),
    )
    def check(px, sub):
        w, h, back = decode_jpeg(encode_jpeg(px, subsample=sub))
        assert (w, h) == (px.shape[1], px.shape[0])
        assert back.shape == px.shape
        if not sub:
            assert np.abs(back.astype(int) - px.astype(int)).max() < 5

    check()


def test_jpeg_block_constant_exact_full_domain():
    """The multimodal_decode_jpeg oracle's load-bearing fact: a
    per-8x8-block-constant RGB image round-trips BIT-EXACTLY through
    quant=1 baseline JPEG (constant blocks carry only DC energy; the
    rint(DC) error <= 1/16 level is absorbed by the final RGB round).
    The query's rule reduces to base values 0..255 with fixed +29/+58
    channel offsets — pin the full domain, not a sample."""
    import numpy as np

    from datagouv_tools_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    for base in range(256):
        px = np.zeros((8, 16, 3), np.uint8)
        for bx, v in ((0, base), (1, (base + 9) % 256)):
            px[:, bx * 8 : bx * 8 + 8, 0] = v
            px[:, bx * 8 : bx * 8 + 8, 1] = (v + 29) % 256
            px[:, bx * 8 : bx * 8 + 8, 2] = (v + 58) % 256
        w, h, back = decode_jpeg(encode_jpeg(px))
        assert (w, h) == (16, 8)
        assert np.array_equal(back, px), f"base {base} not exact"


def test_gif_query_rule_exact():
    """The multimodal_decode_gif oracle's generative rule (20x10,
    single-byte base => <=256 palette colors) round-trips bit-exactly
    for every doc_id residue the query can produce."""
    import numpy as np

    from datagouv_tools_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    r = np.arange(10).reshape(10, 1, 1)
    c = np.arange(20).reshape(1, 20, 1)
    k = np.arange(3).reshape(1, 1, 3)
    for did in range(40):
        px = ((did * 7 + r * 5 + c * 11 + k * 23) % 256).astype(np.uint8)
        w, h, back = decode_gif(encode_gif(px))
        assert (w, h) == (20, 10)
        assert np.array_equal(back, px)


class TestDecodeBombGuards:
    """Corrupt or hostile headers must never size an allocation: every
    decoder refuses declared dimensions over MAX_DECODE_PIXELS before
    touching pixel memory, and the two genuinely expanding codecs (PNG
    zlib, GIF LZW) cap their decompressed output at the declared
    raster. One bad payload in an Arrow batch must fail loudly, not
    OOM the executor."""

    def test_dimension_guard_all_decoders(self):
        import numpy as np
        import pytest

        from datagouv_tools_spark.operators.multimodal import (
            decode_gif,
            decode_jpeg,
            decode_png,
            decode_ppm,
            encode_gif,
            encode_jpeg,
        )

        big = (60000).to_bytes(2, "big")
        with pytest.raises(ValueError, match="bomb guard"):
            decode_ppm(b"P6\n60000 60000\n255\n" + b"\x00" * 64)

        blob = bytearray(encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
        at = blob.find(b"\xff\xc0")
        blob[at + 5 : at + 9] = big + big
        with pytest.raises(ValueError, match="bomb guard"):
            decode_jpeg(bytes(blob))

        blob = bytearray(encode_gif(np.zeros((4, 4, 3), np.uint8)))
        desc = 13 + 3 * (2 << (blob[10] & 0x07))
        blob[desc + 5 : desc + 9] = (60000).to_bytes(2, "little") * 2
        with pytest.raises(ValueError, match="bomb guard"):
            decode_gif(bytes(blob))

        # PNG with a VALID CRC on the tampered IHDR (the CRC check must
        # not be the only thing standing between a header and a 29 GiB
        # allocation)
        import zlib

        sig = bytes.fromhex("89504e470d0a1a0a")

        def chunk(t, d):
            return (
                len(d).to_bytes(4, "big")
                + t
                + d
                + (zlib.crc32(t + d) & 0xFFFFFFFF).to_bytes(4, "big")
            )

        ihdr = (50000).to_bytes(4, "big") + (50000).to_bytes(4, "big")
        ihdr += bytes([8, 2, 0, 0, 0])
        png = sig + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="bomb guard"):
            from datagouv_tools_spark.operators.multimodal import decode_png

            decode_png(png)

    def test_png_zlib_bomb_capped(self):
        """A 10 KB IDAT inflating to 10 MB against a 4x4 raster is
        refused at the declared-raster cap, not materialized."""
        import zlib

        import pytest

        from datagouv_tools_spark.operators.multimodal import decode_png

        sig = bytes.fromhex("89504e470d0a1a0a")

        def chunk(t, d):
            return (
                len(d).to_bytes(4, "big")
                + t
                + d
                + (zlib.crc32(t + d) & 0xFFFFFFFF).to_bytes(4, "big")
            )

        ihdr = (4).to_bytes(4, "big") + (4).to_bytes(4, "big")
        ihdr += bytes([8, 2, 0, 0, 0])
        bomb = zlib.compress(bytes(10_000_000))
        png = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bomb)
        png += chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="inflates past"):
            decode_png(png)

    def test_gif_lzw_overrun_capped(self):
        """An LZW stream decoding past the descriptor's pixel count is
        refused mid-decode (the cap), not after materializing."""
        import numpy as np
        import pytest

        from datagouv_tools_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        # encode an 8x8 but shrink the declared descriptor to 2x2: the
        # LZW payload now decodes 64 indices against a 4-pixel raster
        blob = bytearray(encode_gif(np.zeros((8, 8, 3), np.uint8)))
        desc = 13 + 3 * (2 << (blob[10] & 0x07))
        assert blob[desc] == 0x2C
        blob[desc + 5 : desc + 7] = (2).to_bytes(2, "little")
        blob[desc + 7 : desc + 9] = (2).to_bytes(2, "little")
        with pytest.raises(ValueError, match="past the declared pixel"):
            decode_gif(bytes(blob))


class TestCodecHonestyGates:
    """r8 review hardening: variants the codecs cannot faithfully
    decode must RAISE, never silently return a plausible wrong image,
    and corrupt structural fields get ValueError (not numpy/ZeroDiv
    internals)."""

    def test_animated_gif_refused(self):
        import numpy as np
        import pytest

        from datagouv_tools_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        px = np.zeros((5, 6, 3), np.uint8)
        px[2, 3] = [10, 20, 30]
        blob = bytearray(encode_gif(px))
        trailer = blob.rindex(0x3B)
        desc = 13 + 3 * (2 << (blob[10] & 0x07))
        second = bytes(blob[desc:trailer])  # duplicate frame 1
        blob2 = bytes(blob[:trailer]) + second + b"\x3b"
        with pytest.raises(NotImplementedError, match="animated"):
            decode_gif(blob2)

    def test_gif_truncated_color_tables_are_valueerrors(self):
        import numpy as np
        import pytest

        from datagouv_tools_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        blob = encode_gif(np.zeros((4, 4, 3), np.uint8))
        # cut inside the global color table
        with pytest.raises(ValueError, match="truncated GIF color"):
            decode_gif(blob[:15])

    def test_jpeg_multiscan_refused(self):
        import numpy as np
        import pytest

        from datagouv_tools_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        jb = bytearray(encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
        at = jb.find(b"\xff\xda")
        one_comp_sos = b"\xff\xda" + (8).to_bytes(2, "big")
        one_comp_sos += b"\x01\x01\x00\x00\x3f\x00"
        jb2 = bytes(jb[:at]) + one_comp_sos + bytes(jb[at + 14 :])
        with pytest.raises(NotImplementedError, match="multi-scan"):
            decode_jpeg(jb2)

    def test_jpeg_corrupt_sampling_factor_is_valueerror(self):
        import numpy as np
        import pytest

        from datagouv_tools_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        jb = bytearray(encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
        at = jb.find(b"\xff\xc0")
        jb[at + 11] = 0x00  # first component's (h, v) byte
        with pytest.raises(ValueError, match="sampling factors"):
            decode_jpeg(bytes(jb))

    def test_jpeg_component_count_capped(self):
        import numpy as np
        import pytest

        from datagouv_tools_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        jb = bytearray(encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
        at = jb.find(b"\xff\xc0")
        jb[at + 9] = 250  # Nf byte
        with pytest.raises(ValueError, match="components"):
            decode_jpeg(bytes(jb))

    def test_jpeg_cmyk_refused_at_parse_not_after_full_decode(self):
        """A 4-component (Adobe CMYK) SOF0 can never color-convert —
        it must be refused AT PARSE TIME, before any Huffman/IDCT work
        (previously the whole scan decoded first). A 4-comp header
        with no scan at all proves the gate fires at SOF0: reaching
        the scan decoder would raise about the missing SOS instead."""
        import pytest

        from datagouv_tools_spark.operators.multimodal import decode_jpeg

        sof = bytearray()
        sof += b"\xff\xd8\xff\xc0" + (8 + 3 * 4).to_bytes(2, "big")
        sof += b"\x08" + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        sof += bytes([4])
        for cid in (1, 2, 3, 4):
            sof += bytes([cid, 0x11, 0])
        with pytest.raises(NotImplementedError, match="4 components"):
            decode_jpeg(bytes(sof))

    def test_jpeg_fill_bytes_before_markers_are_skipped(self):
        """T.81 B.1.1.2 allows 0xFF fill bytes before any marker; a
        padded stream must decode identically, not mis-read its marker
        id as a segment length."""
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        px = np.full((8, 8, 3), 77, np.uint8)
        blob = encode_jpeg(px)
        at = blob.find(b"\xff\xc0")
        padded = blob[:at] + b"\xff\xff\xff" + blob[at:]
        w, h, back = decode_jpeg(padded)
        assert (w, h) == (8, 8)
        assert np.array_equal(back, px)

    def test_jpeg_truncated_inside_fill_run_is_valueerror(self):
        """A stream ending mid-fill-run must keep the ValueError
        refusal contract — the skip loop must never walk the marker
        read past the payload end into an IndexError."""
        import pytest

        from datagouv_tools_spark.operators.multimodal import decode_jpeg

        for blob in (b"\xff\xd8\xff\xff", b"\xff\xd8\xff\xff\xff"):
            with pytest.raises(ValueError, match="truncated"):
                decode_jpeg(blob)

    def test_png_overlong_idat_rejected_even_with_consumed_tail(self):
        """An IDAT whose deflate stream inflates past the declared
        raster must raise whether the excess sits in unconsumed_tail
        or in zlib's internal pending output (d.eof check)."""
        import struct
        import zlib

        import numpy as np
        import pytest

        from datagouv_tools_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        blob = bytearray(encode_png(np.zeros((4, 4, 3), np.uint8)))
        # rebuild the IDAT with one raster plus trailing garbage rows
        want = 4 * (1 + 3 * 4)
        fat = zlib.compress(bytes(want) + bytes(4096))
        out = bytearray(blob[:33])  # signature + IHDR chunk
        out += struct.pack(">I", len(fat)) + b"IDAT" + fat
        out += struct.pack(">I", zlib.crc32(b"IDAT" + fat) & 0xFFFFFFFF)
        out += blob[-12:]  # IEND chunk
        with pytest.raises(ValueError, match="inflates past"):
            decode_png(bytes(out))


def test_channel_stats_mixed_codecs_one_batch(spark):
    """All four real codecs riding ONE Arrow batch through the
    image_channel_stats mapInPandas plumbing: a PPM, a PNG, a GIF, and
    a (quant=1, lossy-by-rounding) JPEG payload in the same binary
    column, each decoded by signature dispatch and producing exact
    integer channel sums. Pins that adding codecs never forked the
    Spark-side path."""
    import numpy as np

    from datagouv_tools_spark.operators.multimodal import (
        decode_jpeg,
        encode_gif,
        encode_jpeg,
        encode_png,
        encode_ppm,
        image_channel_stats,
    )

    rng = np.random.default_rng(42)
    base = rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint8)
    pal = base.copy()
    pal[:, :, :] = pal[0, 0, :]  # GIF wants few colors: flat image
    payloads = {
        1: (encode_ppm(base), base),
        2: (encode_png(base), base),
        3: (encode_gif(pal), pal),
        # JPEG is lossy: compare against what decode actually yields
        4: (encode_jpeg(base), decode_jpeg(encode_jpeg(base))[2]),
    }
    df = spark.createDataFrame(
        [(i, blob) for i, (blob, _px) in payloads.items()],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in image_channel_stats(df).collect()}
    for i, (_blob, px) in payloads.items():
        flat = px.reshape(-1, 3).astype(np.int64)
        assert got[i]["width"] == 4 and got[i]["height"] == 6, i
        assert [got[i][f"sum_{ch}"] for ch in "rgb"] == list(
            flat.sum(axis=0)
        ), i


def test_image_conv_energy_mixed_codec_dispatch(spark):
    """image_conv_energy routes payloads through the same format
    dispatch as image_channel_stats (r10: it was hardwired to PPM), so
    decode→convolve composes over any supported codec — pinned with a
    MIXED batch: one PPM and one block-constant JPEG in the same pass,
    each checked against a direct numpy Sobel of the source pixels."""
    import numpy as np
    import pandas as pd

    from datagouv_tools_spark.operators.multimodal import (
        encode_jpeg,
        encode_ppm,
        image_conv_energy,
    )

    def sobel(v):
        v = v.astype(np.int64)
        gx = (v[:-2, 2:] + 2 * v[1:-1, 2:] + v[2:, 2:]) - (
            v[:-2, :-2] + 2 * v[1:-1, :-2] + v[2:, :-2]
        )
        gy = (v[2:, :-2] + 2 * v[2:, 1:-1] + v[2:, 2:]) - (
            v[:-2, :-2] + 2 * v[:-2, 1:-1] + v[:-2, 2:]
        )
        g = np.abs(gx) + np.abs(gy)
        return int(g.sum()), int(g.max())

    rng = np.arange(12 * 16 * 3, dtype=np.uint8).reshape(12, 16, 3)
    ppm_px = (rng * 7 + 3) % 256
    jpeg_px = np.zeros((16, 16, 3), np.uint8)
    for by in range(2):
        for bx in range(2):
            v = (by * 5 + bx * 9 + 100) % 256
            jpeg_px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, :] = v
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2],
                "payload": [encode_ppm(ppm_px), encode_jpeg(jpeg_px)],
            }
        )
    )
    got = {
        r["media_id"]: r
        for r in image_conv_energy(df, channel=0).collect()
    }
    e1, m1 = sobel(ppm_px[:, :, 0])
    e2, m2 = sobel(jpeg_px[:, :, 0])
    assert (got[1]["width"], got[1]["height"]) == (16, 12)
    assert (got[1]["edge_energy"], got[1]["max_grad"]) == (e1, m1)
    assert (got[2]["width"], got[2]["height"]) == (16, 16)
    assert (got[2]["edge_energy"], got[2]["max_grad"]) == (e2, m2)


class TestGifAnimated:
    """Animated-GIF decode (r10): canvas composition semantics the
    multimodal_gif_frames oracle can't see — sub-rect placement,
    transparency holes, disposal-2 restore — plus the honest
    boundaries (disposal 3, frame-count bomb guard)."""

    def _codec(self):
        from datagouv_tools_spark.operators.multimodal import (
            decode_gif_frames,
            encode_gif_frames,
        )

        return decode_gif_frames, encode_gif_frames

    def test_full_frame_round_trip_and_single_frame_parity(self):
        import numpy as np

        from datagouv_tools_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        dec, enc = self._codec()
        r = np.arange(10).reshape(10, 1)
        c = np.arange(16).reshape(1, 16)
        frames = []
        for f in range(3):
            b = (7 + f * 13 + r * 5 + c * 11) % 256
            frames.append(
                np.stack([b, (b + 23) % 256, (b + 46) % 256], axis=2)
                .astype(np.uint8)
            )
        w, h, out = dec(enc(frames))
        assert (w, h) == (16, 10) and out.shape == (3, 10, 16, 3)
        for f in range(3):
            assert (out[f] == frames[f]).all()
        # a single-frame stream decodes identically through both APIs
        sf = encode_gif(frames[0])
        w1, h1, px = decode_gif(sf)
        w2, h2, fr = dec(sf)
        assert (w1, h1) == (w2, h2) and fr.shape[0] == 1
        assert (fr[0] == px).all()

    def test_subrect_transparency_and_disposal2(self):
        import numpy as np

        dec, enc = self._codec()
        base = np.full((8, 8, 3), 10, np.uint8)
        patch = np.full((3, 4, 3), 200, np.uint8)
        # keep-disposal: frame 2 = base with the patch composited
        _w, _h, out = dec(enc([base, patch], rects=[(0, 0), (2, 1)]))
        exp = base.copy()
        exp[1:4, 2:6] = 200
        assert (out[0] == base).all() and (out[1] == exp).all()
        # disposal 2 restores the FRAME's rect to the background color
        # (palette index 0 = lexicographically smallest color = base's)
        _w, _h, out = dec(
            enc(
                [base, patch, patch],
                rects=[(0, 0), (2, 1), (4, 3)],
                disposals=[1, 2, 1],
            )
        )
        exp2 = base.copy()
        exp2[3:6, 4:8] = 200  # only the THIRD frame's patch survives
        assert (out[2] == exp2).all()
        # transparency: pixels carrying the transparent index leave
        # the underlying canvas visible
        patch2 = np.full((3, 4, 3), 200, np.uint8)
        patch2[0, 0] = 10  # palette index 0 in this two-color stream
        _w, _h, out = dec(
            enc([base, patch2], rects=[(0, 0), (2, 1)],
                transparent_index=0)
        )
        exp3 = base.copy()
        exp3[1:4, 2:6] = 200
        exp3[1, 2] = 10  # the hole shows the base frame underneath
        assert (out[1] == exp3).all()

    def test_honest_boundaries(self):
        import numpy as np
        import pytest

        dec, enc = self._codec()
        base = np.full((8, 8, 3), 10, np.uint8)
        patch = np.full((3, 4, 3), 200, np.uint8)
        with pytest.raises(NotImplementedError, match="disposal"):
            dec(
                enc([base, patch], rects=[(0, 0), (2, 1)],
                    disposals=[3, 1])
            )
        with pytest.raises(ValueError, match="outside the canvas"):
            enc([base, patch], rects=[(0, 0), (6, 7)])
        # cumulative canvas x frames bomb guard: shrink the guard so a
        # 4-frame 8x8 stream trips it (building a genuinely over-limit
        # fixture would itself be a memory bomb)
        from datagouv_tools_spark.operators import multimodal as mm

        blob = enc([base] * 4)
        old = mm.MAX_DECODE_PIXELS
        mm.MAX_DECODE_PIXELS = 3 * 8 * 8  # 4th frame exceeds
        try:
            with pytest.raises(ValueError, match="bomb guard"):
                dec(blob)
        finally:
            mm.MAX_DECODE_PIXELS = old
        # the single-frame API still refuses animations, loudly and
        # with a pointer to the real path
        from datagouv_tools_spark.operators.multimodal import decode_gif

        with pytest.raises(NotImplementedError, match="decode_gif_frames"):
            decode_gif(enc([base, patch], rects=[(0, 0), (2, 1)]))

    def test_interlaced_subrect_composition(self):
        """r11: an INTERLACED sub-rect patch with a transparency hole
        composes identically to the same patch stored sequentially —
        deinterlacing happens in frame-local coordinates BEFORE canvas
        placement, and the transparent mask applies to deinterlaced
        indices."""
        import numpy as np

        dec, enc = self._codec()
        rng = np.random.default_rng(23)
        base = (
            rng.integers(1, 6, size=(9, 8, 1))
            .repeat(3, axis=2)
            .astype(np.uint8)
        )
        patch = (
            rng.integers(1, 6, size=(5, 4, 1))
            .repeat(3, axis=2)
            .astype(np.uint8)
        )
        patch[1, 2] = 0  # palette index 0 → transparency hole
        kw = dict(
            rects=[(0, 0), (3, 2)],
            transparent_index=0,
        )
        seq = enc([base, patch], interlaced=[False, False], **kw)
        ilc = enc([base, patch], interlaced=[False, True], **kw)
        assert seq != ilc
        _, _, f_seq = dec(seq)
        _, _, f_ilc = dec(ilc)
        assert np.array_equal(f_seq, f_ilc)
        # the hole shows the base canvas through the patch
        assert np.array_equal(f_ilc[1][2 + 1, 3 + 2], base[3, 5])


def test_cosine_knn_blocked_matches_pairstream_window(spark):
    """The blocked top-k kernel must equal the reference form it
    replaced (full directed pair stream + row_number ≤ k window):
    identical (query_id, vec_id, sim) sets, including sim ties broken
    by vec_id asc, duplicate-vector ties, a zero-norm vector excluded
    from BOTH sides, and every n_blocks decomposition."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datagouv_tools_spark.operators.similarity import (
        cosine_knn_blocked,
        cosine_pairs_blocked,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(0, 0.3, size=(40, 8)).round(2)
    vecs[7] = vecs[3]          # exact duplicate → sim ties
    vecs[11] = 0.0             # zero norm → excluded entirely
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    pairs = cosine_pairs_blocked(
        emb, "vec_id", "embedding", threshold=-1.0
    )
    directed = pairs.select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("vec_id"), "sim"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("query_id"),
            F.col("id_a").alias("vec_id"),
            "sim",
        )
    )
    w5 = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    ref = {
        (r["query_id"], r["vec_id"], r["sim"])
        for r in directed.withColumn("rk", F.row_number().over(w5))
        .filter(F.col("rk") <= 5)
        .collect()
    }
    for n_blocks in (1, 3, 8):
        got = {
            (r["query_id"], r["vec_id"], r["sim"])
            for r in cosine_knn_blocked(
                emb, "vec_id", "embedding", k=5, n_blocks=n_blocks
            ).collect()
        }
        assert got == ref, f"mismatch at n_blocks={n_blocks}"
    assert not any(q == 11 or v == 11 for q, v, _ in ref)


def test_cosine_knn_blocked_matches_pairstream_window_in_row_strips(
    spark, monkeypatch
):
    """The same contract at one row per strip (every group with ≥ 3
    rows on its row side runs as ≥ 3 strips): the per-strip candidates
    of the column side still merge to the exact top-k."""
    from datagouv_tools_spark.operators import similarity

    monkeypatch.setattr(similarity, "_STRIP_BYTES", 8)
    test_cosine_knn_blocked_matches_pairstream_window(spark)
