"""Document/text analytics: dedup (exact, MinHash-LSH, SimHash, n-gram), quality scoring, BPE, retrieval, fingerprints.

Mechanically split from the flat queries.py (r10); see the package
__init__ for conventions. Registration side effects only — import
through ``datagouv_tools_spark.queries``."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ._registry import ORACLE, dround, query, t
from ._common import _SQL_TOKENS, _WS, _sql_lsh_band_ctes

#: SQL fragment mirroring functions.text.fingerprint_md5() — collapse
#: the pinned class, then btrim ' ' only (bare trim() strips Unicode
#: whitespace in DuckDB but not in Spark).
_SQL_FP = f"md5(trim(regexp_replace(lower(text), '{_WS}+', ' ', 'g'), ' '))"


@query(
    "doc_fingerprint_dedup",
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT {_SQL_FP}) AS n_distinct_fp
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def doc_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized-text fingerprint (operators/dedup.py):
    distinct-fingerprint counts per source. Scale: md5 is computed
    map-side; the shuffle carries (source, fp) pairs only."""
    from datagouv_tools_spark.functions.text import fingerprint_md5

    docs = t(spark, sf_dir, "documents")
    return (
        docs.select("source", fingerprint_md5("text").alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct_fp"),
        )
        .orderBy("source")
    )


@query(
    "doc_token_stats",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_tokens,
           MAX(len({_SQL_TOKENS})) AS max_tokens,
           MIN(len({_SQL_TOKENS})) AS min_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (functions/text.py) aggregated per lang."""
    from datagouv_tools_spark.functions.text import token_count

    docs = t(spark, sf_dir, "documents")
    return (
        docs.select("lang", token_count("text").alias("n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            F.max("n").alias("max_tokens"),
            F.min("n").alias("min_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "doc_quality_scores",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents WHERE doc_id < 50
    ), m AS (
      SELECT doc_id,
             len(ts) AS n_tokens,
             CASE WHEN len(ts) > 0 THEN len(list_distinct(ts))::DOUBLE / len(ts)::DOUBLE ELSE 0.0 END AS dr,
             CASE WHEN len(ts) > 0 THEN len(list_filter(ts, x -> x IN ('the','a','of','and','to','in','is','on','for','with')))::DOUBLE / len(ts)::DOUBLE ELSE 0.0 END AS swr
      FROM toks
    )
    SELECT doc_id, n_tokens,
           ROUND(dr, 6) AS distinct_ratio,
           ROUND(dr * 0.5 + LEAST(n_tokens::DOUBLE, 100.0) / 100.0 * 0.3 + LEAST(swr * 5.0, 1.0) * 0.2, 6) AS quality
    FROM m
    ORDER BY doc_id
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring heuristic (functions/text.py quality_score):
    distinct-token ratio + length term + stopword term."""
    from datagouv_tools_spark.functions.text import (
        distinct_token_ratio,
        quality_score,
        token_count,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.round(F.coalesce(distinct_token_ratio("text"), F.lit(0.0)), 6).alias(
            "distinct_ratio"
        ),
        F.round(quality_score("text"), 6).alias("quality"),
    ).orderBy("doc_id")


@query(
    "doc_lang_id",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents), r AS (
      SELECT doc_id,
        CASE WHEN len(ts) > 0 THEN len(list_filter(ts, x -> x IN ('the','a','of','and','to','in','is','on','for','with')))::DOUBLE / len(ts)::DOUBLE ELSE 0.0 END AS r_en,
        CASE WHEN len(ts) > 0 THEN len(list_filter(ts, x -> x IN ('le','la','les','de','et','un','une','du','des','en')))::DOUBLE / len(ts)::DOUBLE ELSE 0.0 END AS r_fr,
        CASE WHEN len(ts) > 0 THEN len(list_filter(ts, x -> x IN ('der','die','das','und','ein','eine','zu','mit','von','ist')))::DOUBLE / len(ts)::DOUBLE ELSE 0.0 END AS r_de,
        CASE WHEN len(ts) > 0 THEN len(list_filter(ts, x -> x IN ('el','la','los','de','y','un','una','del','en','es')))::DOUBLE / len(ts)::DOUBLE ELSE 0.0 END AS r_es
      FROM toks
    )
    SELECT guess, COUNT(*) AS n_docs FROM (
      SELECT CASE
        WHEN GREATEST(r_en, r_fr, r_de, r_es) = 0 THEN 'und'
        WHEN r_en = GREATEST(r_en, r_fr, r_de, r_es) THEN 'en'
        WHEN r_fr = GREATEST(r_en, r_fr, r_de, r_es) THEN 'fr'
        WHEN r_de = GREATEST(r_en, r_fr, r_de, r_es) THEN 'de'
        ELSE 'es' END AS guess
      FROM r
    ) GROUP BY guess ORDER BY guess
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID (functions/text.py lang_id),
    aggregated to guessed-language counts."""
    from datagouv_tools_spark.functions.text import lang_id

    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(lang_id("text").alias("guess"))
        .groupBy("guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("guess")
    )


@query(
    "doc_jaccard_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, list_distinct({_SQL_TOKENS}) AS ts
      FROM documents WHERE doc_id < 40
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.ts, b.ts))::DOUBLE
                 / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))::DOUBLE, 6) AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE ROUND(len(list_intersect(a.ts, b.ts))::DOUBLE
                / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))::DOUBLE, 6) >= 0.7
    ORDER BY id_a, id_b
    """,
)
def doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (token-set) Jaccard near-dup pairs
    (operators/dedup.ngram_jaccard_pairs) on a 40-doc block. Integer
    intersection/union sizes → deterministic rounded ratios."""
    from datagouv_tools_spark.operators.dedup import ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.7).orderBy(
        "id_a", "id_b"
    )


def _sql_minhash_oracle() -> str:
    """DuckDB twin of minhash_pairs(k=64, bands=16, token_hash='md5',
    band_key='values'): recomputes the EXACT signatures with plain
    bigint arithmetic (the md5-60bit hash + affine permutations are
    cross-engine; functions/xhash.py) and declares a candidate pair
    whenever any 4-row band matches in full — byte-identical semantics
    to the Spark banding join, no approximation slack."""
    return (
        _sql_minhash_cand_cte()
        + """
    SELECT id_a, id_b FROM cand
    ORDER BY id_a, id_b
    """
    )


def _sql_minhash_cand_cte() -> str:
    """The shared WITH-chain ending in a ``cand`` CTE (the exact LSH
    candidate set of minhash_pairs k=64/bands=16/md5/values on the
    doc_id<100 slice, plus the ``toks`` token sets) — reused by the
    candidate query's oracle and the precision/recall eval oracle."""
    from datagouv_tools_spark.operators.dedup import _MERSENNE_PRIME, _hash_params

    p = _MERSENNE_PRIME
    # coalesce to p: Spark's single-pass fold seeds the accumulator
    # with [p]*k, so an empty token set yields p per slot — list_min
    # over an empty list would yield NULL here and silently drop
    # empty-doc candidate pairs the Spark side emits
    perms = ",\n      ".join(
        f"coalesce(list_min(list_transform(hs, h -> (h * {a}::BIGINT + {b}::BIGINT) % {p})), {p})"
        for a, b in _hash_params(64, seed=42)
    )
    bands = "\n       OR ".join(
        "(" + " AND ".join(f"a.sig[{b * 4 + i + 1}] = b.sig[{b * 4 + i + 1}]" for i in range(4)) + ")"
        for b in range(16)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct({_SQL_TOKENS}) AS ts
      FROM documents WHERE doc_id < 100
    ),
    hs AS (
      SELECT doc_id,
             list_transform(ts, t -> abs(('0x' || substr(md5(t), 1, 15))::BIGINT) % {p}) AS hs
      FROM toks
    ),
    sig AS (
      SELECT doc_id, [
      {perms}
      ] AS sig FROM hs
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE {bands}
    )"""


@query("minhash_candidate_pairs", _sql_minhash_oracle())
def minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate near-dup pairs (operators/dedup.py):
    64 hashes, 16 bands, cross-engine md5 token hash + value-keyed
    bands so the oracle recomputes the identical candidate set."""
    from datagouv_tools_spark.operators.dedup import minhash_pairs

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return minhash_pairs(
        docs, "text", "doc_id", k=64, bands=16, token_hash="md5", band_key="values"
    ).orderBy("id_a", "id_b")


def _text_band_index(spark: SparkSession, sf_dir: str):
    """Open (or build-on-first-use) the persisted text band index for
    ``sf_dir``'s doc_id<100 slice under the system temp dir — the
    caching pattern of ``_ann_index``; the version tag pins build
    parameters."""
    import os
    import tempfile

    from datagouv_tools_spark.operators.text_index import (
        text_index_build,
        text_index_open,
    )

    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_textidx_k64_b16_md5_values_seed42_v1",
        os.path.basename(sf_dir.rstrip("/")),
    )
    try:
        return text_index_open(spark, base)
    except Exception:
        docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
        return text_index_build(docs, base)


@query("minhash_candidate_pairs_indexed", _sql_minhash_oracle())
def minhash_candidate_pairs_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_candidate_pairs served from the PERSISTED band index
    (operators/text_index): candidate generation is a within-bucket
    join over the stored (id, band_hash) entries — zero tokenization,
    zero signature computation in the query path (pinned by a stub
    test). The SAME oracle hash-checks both variants, which is itself
    the proof the stored index is bit-faithful — the text-modality
    twin of the emb_*_indexed queries' contract. At 100 TB the band
    store is the amortized artifact every dedup/near-dup batch query
    reuses (and the streaming gate maintains continuously)."""
    idx = _text_band_index(spark, sf_dir)
    return idx.candidate_pairs().orderBy("id_a", "id_b")


def _sql_simhash_oracle() -> str:
    """DuckDB twin of simhash64(token_hash='md5'): per bit j of the
    60-bit signature, sign of (2·|tokens with bit j set| − |tokens|);
    the signature is Σ 2^j·bit — pure bigint arithmetic, so Hamming
    pairs are exactly recomputable."""
    bits = "\n      + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {j}) & 1) = 1)) - len(hs) > 0"
        f" THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
        for j in range(60)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents WHERE doc_id < 60
    ),
    hs AS (
      SELECT doc_id,
             list_transform(ts, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
      FROM toks
    ),
    sig AS (
      SELECT doc_id,
      {bits}
      AS simhash FROM hs
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
    ORDER BY id_a, id_b
    """


@query("simhash_hamming_pairs", _sql_simhash_oracle())
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit cross-engine signatures (md5
    token hash), pairs at Hamming distance ≤ 12 within a 60-doc block.
    The oracle recomputes the signatures bit-for-bit."""
    from datagouv_tools_spark.operators.dedup import simhash64

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    sigs = simhash64(docs, "text", "doc_id", token_hash="md5")
    a, b = sigs.alias("a"), sigs.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 12)
        .orderBy("id_a", "id_b")
    )


def _sql_lsh_ann_oracle() -> str:
    """DuckDB twin of lsh_topk(dim=64, n_planes=8, seed=42). The
    hyperplanes are deterministic literals (similarity._hyperplanes),
    and list_dot_product accumulates in the same element order as the
    JVM ``dot`` expression, so bucket sign bits — and therefore the
    whole approximate result — are recomputed EXACTLY; 'approximate'
    describes recall vs brute force, not nondeterminism."""
    from datagouv_tools_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 8, seed=42)
    bucket = "\n         + ".join(
        f"(CASE WHEN list_dot_product(embedding, [{', '.join(repr(v) for v in plane)}]) > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    return f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
    cb AS (
      SELECT vec_id, embedding,
         {bucket}
         AS bucket
      FROM c
    ),
    qb AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM cb WHERE vec_id < 10),
    p AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_dot_product(q.qv, e.embedding)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.embedding, e.embedding))), 6) AS sim
      FROM qb q JOIN cb e ON q.bucket = e.bucket AND e.vec_id <> q.query_id
    ),
    r AS (SELECT query_id, vec_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
          FROM p)
    SELECT query_id, vec_id, sim, rk FROM r WHERE rk <= 5
    ORDER BY query_id, rk
    """


@query("lsh_ann_topk", _sql_lsh_ann_oracle())
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors
    (operators/similarity.lsh_topk): 8 hyperplanes, exact cosine within
    buckets. Deterministic seeded hyperplanes → the oracle recomputes
    the identical buckets and ranking."""
    from datagouv_tools_spark.operators.similarity import lsh_topk

    emb = t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_topk(queries_df, emb, dim=64, k=5, n_planes=8).orderBy(
        "query_id", "rk"
    )


@query(
    "near_dup_clusters",
    """
    WITH RECURSIVE c0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
    ), p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM c0 a JOIN c0 b ON a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.embedding, b.embedding)
                  / (sqrt(list_dot_product(a.embedding, a.embedding))
                     * sqrt(list_dot_product(b.embedding, b.embedding))), 6) >= 0.4
    ), e AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION
      SELECT id_b, id_a FROM p
    ), r(node, lbl) AS (
      SELECT src, src FROM e
      UNION
      SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.node
    )
    SELECT node AS vec_id, MIN(lbl) AS cluster_id
    FROM r GROUP BY node ORDER BY vec_id
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup clustering: embedding near-dup pairs
    (distributed block-matrix BLAS kernel) → connected components
    (operators/dedup.dedup_clusters, iterative min-label propagation).
    cluster_id = min vec_id of the component; the SQL twin is a
    recursive CTE, so even this iterative algorithm is hash-checked
    against the oracle."""
    from datagouv_tools_spark.operators.dedup import dedup_clusters
    from datagouv_tools_spark.operators.similarity import cosine_pairs_blocked

    emb = t(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_blocked(emb, "vec_id", "embedding", threshold=0.4)
    return (
        dedup_clusters(pairs)
        .select(F.col("node").alias("vec_id"), "cluster_id")
        .orderBy("vec_id")
    )


#: DuckDB twin of winnow_fingerprints(k=12, window=8, gram_hash='md5'):
#: hash every 12-char gram of the normalized text with the cross-engine
#: md5-60bit hash, slide an 8-hash window, keep each window's min,
#: dedupe — exact fingerprint sets, recomputable in SQL.
_SQL_WINNOW_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '{_WS}+', ' ', 'g'), ' ') AS norm
      FROM documents WHERE doc_id < 60
    ),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(length(norm) - 11, 1)),
                 i -> ('0x' || substr(md5(substr(norm, i, 12)), 1, 15))::BIGINT) AS hs,
             greatest(greatest(length(norm) - 11, 1) - 7, 1) AS n_windows
      FROM d
    ),
    fp AS (
      SELECT doc_id, unnest(list_distinct(
          list_transform(generate_series(1, n_windows),
                         w -> list_min(list_slice(hs, w, w + 7))))) AS fp
      FROM g
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fps
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 5
    ORDER BY id_a, id_b
    """


@query("doc_winnow_candidates", _SQL_WINNOW_ORACLE)
def doc_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing) fingerprint candidate pairs
    (functions/text.winnow_fingerprints): docs sharing >= 5 selected
    fingerprints. Scale: explode + self-join shuffles on fingerprint —
    candidates only, verification (e.g. ngram_jaccard_pairs) runs on
    the pairs, never all-pairs. Cross-engine md5 gram hash: the oracle
    recomputes the exact fingerprint sets."""
    from datagouv_tools_spark.functions.text import winnow_fingerprints

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    # The winnowing expression is interpreted (HOF CodegenFallback) and
    # costs ~100 ms/doc — but the pushed-down doc_id filter leaves all
    # surviving rows in ONE scan partition, serializing the expensive
    # map. Spread the handful of rows across the cluster first: a
    # 60-row round-robin exchange is free next to 60 × 100 ms serial.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # k=12 grams: the synthetic docs are short (~300 chars) and share
    # template vocabulary; small grams make every pair a candidate
    fps = docs.select(
        "doc_id",
        F.explode(
            winnow_fingerprints("text", k=12, window=8, gram_hash="md5")
        ).alias("fp"),
    ).distinct()
    # Pairs are generated WITHIN each fingerprint bucket (sorted member
    # list → i<j combinations) instead of a fp=fp self-join: the
    # interpreted winnowing expression then evaluates ONCE and the plan
    # drops from 11 exchanges to 6; with the repartition above the
    # query goes 2.8 s → 0.9 s at sf0.1. Same quadratic-within-bucket
    # output caveat as minhash_pairs — bound bucket width before using
    # at scale, or take the star-edge route for cluster dedup.
    pair = F.explode(
        F.expr(
            "flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids) - i - 1), "
            "y -> struct(x AS id_a, y AS id_b))))"
        )
    )
    return (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(pair.alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 5)
        .orderBy("id_a", "id_b")
    )


@query(
    "doc_top_tokens",
    """
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest(str_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 25
    """,
)
def doc_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode surface: corpus token frequencies (explode =
    UNNEST). Scale: split+explode is map-local; only (token, partial
    count) pairs shuffle — the classic map-side-combine word count.
    Top-25 with a token tie-break is a TakeOrderedAndProject."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(25)
    )


@query(
    "doc_tfidf_top_terms",
    """
    WITH tokens AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS term
      FROM documents WHERE doc_id < 200
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tokens WHERE term <> '' GROUP BY doc_id, term
    ),
    idf AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(FLOOR(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / idf.df) * 10000) AS BIGINT)
               AS tfidf_scaled
      FROM tf JOIN idf ON tf.term = idf.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf_scaled,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf_scaled DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, term, tfidf_scaled
    FROM ranked WHERE rk <= 3
    ORDER BY doc_id, tfidf_scaled DESC, term
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document. Scale: tf
    is the word-count pattern (map-side combine); idf (|terms| rows)
    and the 1-row corpus count broadcast back — the token stream
    shuffles twice total (tf agg, per-doc top-k window on doc_id).
    Determinism: scores floor-scaled to integers BEFORE ranking —
    identical doubles on both engines, and floor has no rounding-mode
    ambiguity; ties broken by term."""
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df as a WINDOW over tf (partitioned by term), not a re-aggregated
    # branch: a separate idf DataFrame would re-derive the whole token
    # stream a second time (Spark recomputes shared lineage). The 1-row
    # corpus count still needs its own branch; production would
    # materialize tf once instead.
    df_w = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.withColumn("df", df_w)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.floor(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * F.lit(10000)
            )
            .cast("long")
            .alias("tfidf_scaled"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("tfidf_scaled"), "term")
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf_scaled")
        .orderBy("doc_id", F.desc("tfidf_scaled"), "term")
    )


@query(
    "doc_bpe_token_budget",
    f"""
    WITH toks AS (
      SELECT lang,
             len(list_filter(string_split_regex(
                 regexp_replace(lower(text), '([0-9]+|[^ \\t\\r\\n\\f\\x0Ba-z0-9]+)', ' \\1 ', 'g'),
                 '{_WS}+'), t -> t != '')) AS n
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_subword_tokens,
           CAST(MAX(n) AS BIGINT) AS max_subword_tokens
    FROM toks
    GROUP BY lang
    ORDER BY lang
    """,
)
def doc_bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-ish token budgeting (functions/text.bpe_ish_token_count):
    splits on whitespace AND letter/digit/punctuation boundaries — the
    cheap BPE proxy every training-data budget pass needs. All JVM
    regex/array expressions; one shuffle on lang with map-side
    partials."""
    from datagouv_tools_spark.functions.text import bpe_ish_token_count

    docs = t(spark, sf_dir, "documents")
    return (
        docs.select("lang", bpe_ish_token_count("text").alias("n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_subword_tokens"),
            F.max("n").alias("max_subword_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "label_stratified_sample",
    """
    SELECT label, vec_id, rk FROM (
      SELECT label, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '-7'), 1, 15))::BIGINT,
                        vec_id) AS rk
      FROM embeddings
    ) WHERE rk <= 3
    ORDER BY label, rk
    """,
)
def label_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: k=3 rows per label, chosen by
    cross-engine hash order (functions/xhash.py) — the balanced-class
    downsampling step of a training-data pipeline, reproducible across
    engines and runs (no rand()). Scale: single shuffle on label;
    WindowGroupLimit prunes each partition to k rows pre-merge."""
    from pyspark.sql.window import Window

    from datagouv_tools_spark.functions.xhash import md5_hash60

    emb = t(spark, sf_dir, "embeddings")
    h = md5_hash60(F.concat_ws("-", F.col("vec_id").cast("string"), F.lit("7")))
    w = Window.partitionBy("label").orderBy(h.asc(), F.col("vec_id").asc())
    return (
        emb.select("label", "vec_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 3)
        .orderBy("label", "rk")
    )


@query(
    "doc_dedup_pipeline",
    f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_distinct({_SQL_TOKENS}) AS ts
      FROM documents WHERE doc_id < 100
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
      WHERE ROUND(len(list_intersect(a.ts, b.ts))::DOUBLE
                  / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))::DOUBLE, 6) >= 0.9
    ),
    e AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION
      SELECT id_b, id_a FROM p
    ),
    r(node, lbl) AS (
      SELECT src, src FROM e
      UNION
      SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.node
    ),
    c AS (SELECT node, MIN(lbl) AS cluster_id FROM r GROUP BY node)
    SELECT cluster_id, COUNT(*) AS n_members
    FROM c GROUP BY cluster_id ORDER BY cluster_id
    """,
)
def doc_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE canonical training-data text-dedup flow, composed end to end:
    MinHash+LSH banding generates candidate pairs WITHOUT the O(n²)
    cross join, exact token-set Jaccard (≥ 0.9) verifies them, and
    connected components collapses verified pairs into clusters
    (cluster_id = min doc_id). Output: near-dup cluster sizes.

    The oracle computes ground truth from the exact O(n²) Jaccard CTE:
    banding with k=64/b=16 has a per-pair miss probability of
    (1 − 0.9⁴)¹⁶ ≈ 4e-8 at the 0.9 threshold — verified empirically
    zero-miss on this corpus — so blocking + verify EQUALS the exact
    computation, at a fraction of the pairs. Scale: candidates shuffle
    on band buckets, verification joins only candidate pairs, CC rounds
    shuffle |E| with pointer jumping."""
    from datagouv_tools_spark.operators.dedup import dedup_clusters, minhash_pairs
    from datagouv_tools_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    cands = minhash_pairs(
        docs, "text", "doc_id", k=64, bands=16, token_hash="md5", band_key="values"
    )
    toks = docs.select(
        F.col("doc_id"), F.array_distinct(tokens("text")).alias("ts")
    )
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("ts").alias("ts_a"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size("ts_a") + F.size("ts_b") - inter
    jaccard = F.round(inter.cast("double") / union.cast("double"), 6)
    verified = (
        cands.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.9)
    )
    clusters = dedup_clusters(verified)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cluster_id")
    )


def _sql_star_cluster_oracle() -> str:
    """DuckDB twin of minhash_cluster_edges(md5, values) → connected
    components → cluster sizes: recompute signatures, band value
    strings, per-bucket min, star edges, then a recursive CTE. Even the
    mass-duplication scale path is value-hash verified."""
    from datagouv_tools_spark.operators.dedup import _MERSENNE_PRIME, _hash_params

    p = _MERSENNE_PRIME
    # coalesce to p for empty token sets — see _sql_minhash_oracle
    perms = ",\n      ".join(
        f"coalesce(list_min(list_transform(hs, h -> (h * {a}::BIGINT + {b}::BIGINT) % {p})), {p})"
        for a, b in _hash_params(64, seed=42)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        + " || ',' || ".join(f"CAST(sig[{b * 4 + i + 1}] AS VARCHAR)" for i in range(4))
        + " AS band_val FROM sig"
        for b in range(16)
    )
    return f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_distinct({_SQL_TOKENS}) AS ts
      FROM documents WHERE doc_id < 100
    ),
    hs AS (
      SELECT doc_id,
             list_transform(ts, t -> abs(('0x' || substr(md5(t), 1, 15))::BIGINT) % {p}) AS hs
      FROM toks
    ),
    sig AS (
      SELECT doc_id, [
      {perms}
      ] AS sig FROM hs
    ),
    bands AS (
      {band_rows}
    ),
    starred AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band_idx, band_val) AS mn
      FROM bands
    ),
    e AS (
      SELECT DISTINCT mn AS src, doc_id AS dst FROM starred WHERE doc_id <> mn
      UNION
      SELECT DISTINCT doc_id, mn FROM starred WHERE doc_id <> mn
    ),
    r(node, lbl) AS (
      SELECT src, src FROM e
      UNION
      SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.node
    ),
    c AS (SELECT node, MIN(lbl) AS cluster_id FROM r GROUP BY node)
    SELECT cluster_id, COUNT(*) AS n_members
    FROM c GROUP BY cluster_id ORDER BY cluster_id
    """


@query("doc_cluster_dedup_scalable", _sql_star_cluster_oracle())
def doc_cluster_dedup_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mass-duplication-proof dedup flow: MinHash star edges
    (member → bucket-min, LINEAR in corpus size even when one template
    has 10⁶ copies — see SCALE.md measurements) → connected components
    → cluster sizes. Same components as the quadratic pair-clique path
    (equivalence test-pinned); here the whole thing is additionally
    hash-checked against a SQL oracle that recomputes signatures,
    buckets, star edges, and a recursive-CTE closure."""
    from datagouv_tools_spark.operators.dedup import (
        dedup_clusters,
        minhash_cluster_edges,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    edges = minhash_cluster_edges(
        docs, "text", "doc_id", k=64, bands=16, token_hash="md5", band_key="values"
    )
    return (
        dedup_clusters(edges)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cluster_id")
    )


@query(
    "doc_curation_funnel",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, {_SQL_FP} AS fp,
             (SELECT * FROM (
                SELECT CASE WHEN len(ts) > 0
                            THEN len(list_distinct(ts))::DOUBLE / len(ts)::DOUBLE
                            ELSE 0.0 END * 0.5
                     + LEAST(len(ts)::DOUBLE, 100.0) / 100.0 * 0.3
                     + LEAST(CASE WHEN len(ts) > 0
                            THEN len(list_filter(ts, x -> x IN ('the','a','of','and','to','in','is','on','for','with')))::DOUBLE / len(ts)::DOUBLE
                            ELSE 0.0 END * 5.0, 1.0) * 0.2
                FROM (SELECT {_SQL_TOKENS} AS ts)
             )) AS quality
      FROM documents
    ),
    q AS (SELECT * FROM scored WHERE quality >= 0.5),
    d AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS fp_rk FROM q
      ) WHERE fp_rk = 1
    ),
    s AS (
      SELECT * FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                 PARTITION BY lang
                 ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '-11'), 1, 15))::BIGINT,
                          doc_id) AS rk
        FROM d
      ) WHERE rk <= 50
    )
    SELECT l.lang,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(COUNT(*) FILTER (WHERE q.doc_id IS NOT NULL) AS BIGINT) AS n_quality,
           CAST(COUNT(*) FILTER (WHERE d.doc_id IS NOT NULL) AS BIGINT) AS n_deduped,
           CAST(COUNT(*) FILTER (WHERE s.doc_id IS NOT NULL) AS BIGINT) AS n_sampled
    FROM documents l
      LEFT JOIN q ON q.doc_id = l.doc_id
      LEFT JOIN d ON d.doc_id = l.doc_id
      LEFT JOIN s ON s.doc_id = l.doc_id
    GROUP BY l.lang
    ORDER BY l.lang
    """,
)
def doc_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE corpus-curation flow, composed end to end with per-stage
    funnel counts: quality gate (score ≥ 0.5) → exact fingerprint dedup
    (keep min doc_id) → deterministic per-lang cap (50 docs by
    cross-engine hash order). Output: per lang, survivors at each
    stage — the dashboard row a training-data pipeline reports per
    snapshot. Scale: quality is per-row map work; dedup shuffles on
    fingerprint; sampling rides one lang window with WindowGroupLimit;
    the funnel counts come from semi-join flags, not rescans."""
    from pyspark.sql.window import Window

    from datagouv_tools_spark.functions.text import fingerprint_md5, quality_score
    from datagouv_tools_spark.functions.xhash import md5_hash60
    from datagouv_tools_spark.operators.dedup import dedup_exact

    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang",
        fingerprint_md5("text").alias("fp"),
        quality_score("text").alias("quality"),
    )
    q = scored.filter(F.col("quality") >= 0.5)
    # groupBy-min + semi-join (dedup_exact), not a window: a window
    # serializes each fingerprint bucket into one task — the mass-dup
    # fingerprint is exactly the hot bucket — while the aggregate
    # combines map-side (same reasoning as minhash_cluster_edges)
    d = dedup_exact(q, ["fp"], "doc_id")
    h = md5_hash60(F.concat_ws("-", F.col("doc_id").cast("string"), F.lit("11")))
    ws = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    s = d.withColumn("rk", F.row_number().over(ws)).filter(F.col("rk") <= 50)

    flag = lambda df, name: df.select(F.col("doc_id").alias(f"{name}_id"))
    return (
        docs.select("doc_id", "lang")
        .join(flag(q, "q"), F.col("doc_id") == F.col("q_id"), "left")
        .join(flag(d, "d"), F.col("doc_id") == F.col("d_id"), "left")
        .join(flag(s, "s"), F.col("doc_id") == F.col("s_id"), "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count("q_id").alias("n_quality"),
            F.count("d_id").alias("n_deduped"),
            F.count("s_id").alias("n_sampled"),
        )
        .orderBy("lang")
    )


def _sql_lsh_multiprobe_oracle() -> str:
    """DuckDB twin of lsh_topk(dim=64, n_planes=8, n_probes=4, seed=42).
    Identical to _sql_lsh_ann_oracle except the query side fans out to
    its bucket XOR each mask in (0, 1, 2, 4) — the bucket itself plus
    the three Hamming-distance-1 probes in ascending bit order — before
    the candidate join. The corpus keeps one bucket per vector, so no
    pair can match twice and no DISTINCT is needed."""
    from datagouv_tools_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 8, seed=42)
    bucket = "\n         + ".join(
        f"(CASE WHEN list_dot_product(embedding, [{', '.join(repr(v) for v in plane)}]) > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    return f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
    cb AS (
      SELECT vec_id, embedding,
         {bucket}
         AS bucket
      FROM c
    ),
    qb0 AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM cb WHERE vec_id < 10),
    qb AS (
      SELECT q.query_id, q.qv, xor(q.bucket, m.mask) AS bucket
      FROM qb0 q CROSS JOIN (SELECT unnest([0, 1, 2, 4]) AS mask) m
    ),
    p AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_dot_product(q.qv, e.embedding)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.embedding, e.embedding))), 6) AS sim
      FROM qb q JOIN cb e ON q.bucket = e.bucket AND e.vec_id <> q.query_id
    ),
    r AS (SELECT query_id, vec_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
          FROM p)
    SELECT query_id, vec_id, sim, rk FROM r WHERE rk <= 5
    ORDER BY query_id, rk
    """


@query("lsh_ann_multiprobe_topk", _sql_lsh_multiprobe_oracle())
def lsh_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH ANN (operators/similarity.lsh_topk, n_probes=4):
    each query probes its own bucket plus the three Hamming-distance-1
    buckets (bit masks 1, 2, 4), recovering neighbors that a single
    sign-bit flip pushed into an adjacent bucket — the standard recall
    lever for sign-LSH at fixed n_planes. Only the broadcast query side
    fans out (4 rows/query); the corpus-side bucketing, the equi-join
    shape, and the shuffle volume are unchanged from lsh_ann_topk, so
    the 100 TB plan is identical. Deterministic probe set → full
    oracle."""
    from datagouv_tools_spark.operators.similarity import lsh_topk

    emb = t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_topk(
        queries_df, emb, dim=64, k=5, n_planes=8, n_probes=4
    ).orderBy("query_id", "rk")


# ---------------------------------------------------------------------------
# Round 3 additions: training-data curation breadth (repetition/boilerplate
# stats, PII redaction, unigram-frequency scoring, benchmark contamination)
# and product quantization
# ---------------------------------------------------------------------------


@query(
    "doc_repetition_stats",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents WHERE doc_id < 80),
    m AS (
      SELECT doc_id, len(ts) AS n,
             len(list_distinct(ts)) AS nd,
             list_max(list_transform(list_distinct(ts), t -> len(list_filter(ts, x -> x = t)))) AS top,
             CASE WHEN len(ts) >= 2
                  THEN list_transform(generate_series(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i + 1])
             END AS bg
      FROM toks
    )
    SELECT doc_id, n AS n_tokens,
           CASE WHEN n > 0 THEN ROUND(1.0 - nd::DOUBLE / n::DOUBLE, 6) END AS dup_token_frac,
           CASE WHEN n > 0 THEN ROUND(top::DOUBLE / n::DOUBLE, 6) END AS top_token_frac,
           CASE WHEN n >= 2 THEN ROUND(1.0 - len(list_distinct(bg))::DOUBLE / len(bg)::DOUBLE, 6) END AS dup_bigram_frac
    FROM m ORDER BY doc_id
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document:
    duplicate-token fraction, most-common-token fraction, duplicate
    word-bigram fraction.

    Scale: pure expression tree over the token array — every metric is
    map-local inside whole-stage codegen (the bigram list and the
    per-distinct-token counts are array ops, not joins), so the only
    shuffle is the final orderBy. At 100 TB this runs at scan speed."""
    from datagouv_tools_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    ts = tokens("text")
    n = F.size(ts)
    nd = F.size(F.array_distinct(ts))
    top = F.array_max(
        F.transform(
            F.array_distinct(ts), lambda tk: F.size(F.filter(ts, lambda x: x == tk))
        )
    )
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(1)),
            lambda i: F.concat(
                F.element_at(ts, i), F.lit(" "), F.element_at(ts, i + F.lit(1))
            ),
        ),
    )
    nb = F.size(bigrams)
    ndb = F.size(F.array_distinct(bigrams))
    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.when(
            n > 0, F.round(F.lit(1.0) - nd.cast("double") / n.cast("double"), 6)
        ).alias("dup_token_frac"),
        F.when(n > 0, F.round(top.cast("double") / n.cast("double"), 6)).alias(
            "top_token_frac"
        ),
        F.when(
            n >= 2, F.round(F.lit(1.0) - ndb.cast("double") / nb.cast("double"), 6)
        ).alias("dup_bigram_frac"),
    ).orderBy("doc_id")


@query(
    "doc_pii_redaction",
    r"""
    WITH s AS (
      SELECT doc_id,
             'contact user' || doc_id::VARCHAR || '@mail.example.com or +1-555-'
               || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' ' || text AS synth
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(synth, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(synth, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
           substr(regexp_replace(regexp_replace(synth, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
                                 '\+1-555-[0-9]{4}', '[PHONE]', 'g'), 1, 60) AS redacted_head
    FROM s ORDER BY doc_id
    """,
)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over a synthesized contact line (the
    corpus itself is clean word-soup, so a deterministic email/phone is
    prepended per doc to exercise the patterns): count matches and
    redact with [EMAIL]/[PHONE] markers.

    The regexes stay inside the Java/RE2 common subset (char classes,
    bounded quantifiers — no backrefs/lookaround), so Spark's
    regexp_count/regexp_replace and DuckDB's regexp_extract_all/'g'
    replace agree byte-for-byte. Scale: per-row regex inside codegen —
    scan speed, no shuffle but the orderBy."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    email_re = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    phone_re = "\\+1-555-[0-9]{4}"
    synth = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "),
        F.col("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(synth, email_re, "[EMAIL]"), phone_re, "[PHONE]"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(synth, F.lit(email_re)).cast("bigint").alias("n_emails"),
        F.regexp_count(synth, F.lit(phone_re)).cast("bigint").alias("n_phones"),
        F.substring(redacted, 1, 60).alias("redacted_head"),
    ).orderBy("doc_id")


@query(
    "doc_token_freq_bits",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS tk FROM documents),
    vocab AS (SELECT tk, COUNT(*) AS cnt FROM tok GROUP BY tk),
    per AS (
      SELECT t.doc_id, length(bin(v.cnt)) AS bits
      FROM tok t JOIN vocab v USING (tk) WHERE t.doc_id < 50
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(SUM(bits)::DOUBLE / COUNT(*)::DOUBLE, 6) AS mean_freq_bits
    FROM per GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_token_freq_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram log-frequency scoring (language-model-free perplexity
    proxy): corpus-wide token counts, each token scored by the bit
    length of its count (= floor(log2)+1 — integer-exact in both
    engines, no transcendental-function ULP risk), documents scored by
    the mean over their tokens. Low mean ⇒ rare-token-heavy text.

    Scale: one shuffle to build the vocab (map-side combine), vocab
    broadcast back (vocab ≪ corpus), one shuffle for the per-doc mean.
    The per-doc side prunes to doc_id < 50 but the vocab deliberately
    spans the WHOLE corpus — frequency is a corpus property."""
    from datagouv_tools_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tk"))
    vocab = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("cnt"))
    bits = F.length(F.bin(F.col("cnt")))
    per = tok.filter(F.col("doc_id") < 50).join(F.broadcast(vocab), "tk")
    return (
        per.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(bits).cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean_freq_bits"),
        )
        .orderBy("doc_id")
    )


@query(
    "doc_contamination_overlap",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ts) - 4),
                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4])) AS gs
      FROM toks WHERE len(ts) >= 5
    ),
    bench AS (SELECT DISTINCT unnest(gs) AS gm FROM g WHERE doc_id < 5),
    tgt AS (SELECT doc_id, unnest(gs) AS gm FROM g WHERE doc_id >= 5 AND doc_id < 55)
    SELECT t.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN b.gm IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched,
           ROUND(SUM(CASE WHEN b.gm IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE, 6) AS containment
    FROM tgt t LEFT JOIN bench b ON t.gm = b.gm
    GROUP BY t.doc_id ORDER BY t.doc_id
    """,
)
def doc_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: word-5-gram containment of each
    candidate training doc (doc_id 5..54) against a held-out benchmark
    set (doc_id < 5) — the standard pre-training hygiene check.

    Scale: the benchmark gram set is tiny relative to the corpus, so
    it broadcasts and the containment check is map-side (no shuffle of
    the corpus); per-doc aggregation is one shuffle on doc_id. Gram
    construction is an array expression — no explode until the
    (deduplicated) per-doc gram list."""
    from datagouv_tools_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    ts = tokens("text")
    n = F.size(ts)
    grams = F.when(
        n >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - F.lit(4)),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(ts, i),
                    F.element_at(ts, i + F.lit(1)),
                    F.element_at(ts, i + F.lit(2)),
                    F.element_at(ts, i + F.lit(3)),
                    F.element_at(ts, i + F.lit(4)),
                ),
            )
        ),
    )
    bench = (
        docs.filter(F.col("doc_id") < 5)
        .select(F.explode(grams).alias("gm"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tgt = docs.filter((F.col("doc_id") >= 5) & (F.col("doc_id") < 55)).select(
        "doc_id", F.explode(grams).alias("gm")
    )
    joined = tgt.join(F.broadcast(bench), "gm", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("matched"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("containment"),
        )
        .orderBy("doc_id")
    )


def _sql_hybrid_dedup_oracle() -> str:
    """DuckDB twin of the LSH-fronted hybrid dedup: the shared LSH
    band/candidate CTEs (``_sql_lsh_band_ctes``), exact-cosine
    verification at 0.4, and the SAME recursive-CTE connected
    components as every other dedup oracle. The edge generator moved
    (all-pairs -> LSH candidates) in BOTH engines, so this is still a
    full value-hash oracle of the declared semantics."""
    return f"""
    WITH RECURSIVE fp AS (
      SELECT doc_id, {_SQL_FP} AS fp FROM documents
    ), tmin AS (
      SELECT fp, MIN(doc_id) AS id_a FROM fp GROUP BY fp
    ), tedges AS (
      SELECT tmin.id_a, fp.doc_id AS id_b
      FROM fp JOIN tmin USING (fp) WHERE fp.doc_id <> tmin.id_a
    ), {_sql_lsh_band_ctes()}, eedges AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN c0 a ON a.vec_id = c.id_a
      JOIN c0 b ON b.vec_id = c.id_b
      WHERE ROUND(list_dot_product(a.embedding, b.embedding)
                  / (sqrt(list_dot_product(a.embedding, a.embedding))
                     * sqrt(list_dot_product(b.embedding, b.embedding))), 6) >= 0.4
    ), pe AS (
      SELECT id_a, id_b FROM tedges
      UNION
      SELECT id_a, id_b FROM eedges
    ), e AS (
      SELECT id_a AS src, id_b AS dst FROM pe
      UNION
      SELECT id_b, id_a FROM pe
    ), r(node, lbl) AS (
      SELECT src, src FROM e
      UNION
      SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id
    FROM r GROUP BY node ORDER BY doc_id
    """


@query("hybrid_dedup_clusters", _sql_hybrid_dedup_oracle())
def hybrid_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup: exact-text duplicate edges (normalized
    fingerprint equality, star edges to the group-min doc — linear
    output, the mass-duplication-proof shape) UNIONed with semantic
    near-dup edges (embedding cosine >= 0.4, candidate-bounded by
    banded multiprobe sign-LSH — operators/similarity.cosine_pairs_lsh;
    doc_id ≡ vec_id in the testdata), then one connected-components
    pass labels every document whose text OR meaning duplicates
    another — the curation shape where a paraphrased crawl copy and a
    byte-identical mirror land in the same cluster.

    Scale: text edges are one groupBy-min + semi-join (no pair
    blow-up); embedding edges are an equi-join on (band, bucket) —
    linear fan-out, candidates only, NO corpus-wide all-pairs (the
    O(n²) cosine_pairs_blocked stage this query shipped through round
    4) — with exact-cosine verification of candidates; the union feeds
    the same localCheckpoint-bounded CC used everywhere else. Recall of
    the semantic edge stage is quantified in cosine_pairs_lsh's
    docstring (~0.51 at the 0.40 boundary, 0.9998 at 0.9 — real
    near-dups are essentially never missed); the oracle recomputes the
    identical LSH front in SQL, so the full composite is value-hashed.
    The exact all-pairs contract remains available (and driver-green)
    via emb_cosine_pairs / cosine_pairs_blocked."""
    from datagouv_tools_spark.functions.text import fingerprint_md5
    from datagouv_tools_spark.operators.dedup import dedup_clusters
    from datagouv_tools_spark.operators.similarity import cosine_pairs_lsh

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    fp = docs.select("doc_id", fingerprint_md5("text").alias("fp"))
    mins = fp.groupBy("fp").agg(F.min("doc_id").alias("id_a"))
    text_edges = (
        fp.join(mins, "fp")
        .filter(F.col("doc_id") != F.col("id_a"))
        .select("id_a", F.col("doc_id").alias("id_b"))
    )
    emb_edges = cosine_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.4, dim=64
    ).select("id_a", "id_b")
    # no distinct: every CC algorithm dedups (or tolerates) duplicate
    # edges internally — one less shuffle here
    edges = text_edges.unionByName(emb_edges)
    return (
        dedup_clusters(edges)
        .select(F.col("node").alias("doc_id"), "cluster_id")
        .orderBy("doc_id")
    )


@query(
    "doc_split_assignment",
    """
    WITH h AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(doc_id::VARCHAR || '-split42'), 1, 15))::BIGINT
               % 100 AS bucket
      FROM documents
    )
    SELECT source,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM h
    GROUP BY source, split
    ORDER BY source, split
    """,
)
def doc_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test corpus split (80/10/10) by seeded
    md5 hash of the document id — the curation stage that must be
    STABLE across reruns, engines, and cluster sizes so no example
    ever migrates between splits (the classic eval-contamination bug
    with random()-based splits). Pure map work + one aggregation; the
    assignment expression is cross-engine (functions/xhash.md5_hash60),
    so DuckDB reproduces every bucket exactly. The rule is the SHARED
    functions/curation.split_assignment — the same column
    pipelines/curate.py partitions by, so this oracle verifies the
    production stage too."""
    from datagouv_tools_spark.functions.curation import split_assignment

    docs = t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "source", split_assignment("doc_id").alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source", "split")
    )


def _sql_segment_dedup_oracle(seg_len: int = 8) -> str:
    """DuckDB twin of operators/dedup.segment_dedup_marks (md5 hash
    mode): identical tokenization, identical fixed-window segmentation,
    first-occurrence = ROW_NUMBER ordered by (doc_id, seg_idx) — the
    window form of Spark's min(struct(doc_id, seg_idx)). kept_xor folds
    the exact kept (doc_id, seg_idx) set into one order-independent
    value, so a single wrongly-kept segment flips the hash."""
    L = seg_len
    return f"""
    WITH w AS (
      SELECT doc_id, source, {_SQL_TOKENS} AS ws FROM documents
    ), s AS (
      SELECT doc_id, source, CAST(g.i AS INT) AS seg_idx,
             ('0x' || substr(md5(array_to_string(ws[g.i*{L}+1 : g.i*{L}+{L}], ' ')), 1, 15))::BIGINT AS seg_hash
      FROM w, LATERAL UNNEST(generate_series(0, CAST(ceil(len(ws) / {L}.0) AS BIGINT) - 1)) AS g(i)
      WHERE len(ws) >= 1
    ), m AS (
      SELECT source, doc_id, seg_idx,
             ROW_NUMBER() OVER (PARTITION BY seg_hash ORDER BY doc_id, seg_idx) AS rn
      FROM s
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_segs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6) AS retained_ratio,
           BIT_XOR(CASE WHEN rn = 1 THEN
             ('0x' || substr(md5(doc_id::VARCHAR || ':' || seg_idx::VARCHAR), 1, 15))::BIGINT
           END) AS kept_xor
    FROM m
    GROUP BY source
    ORDER BY source
    """


_SQL_EN_STOPS = "('the','a','of','and','to','in','is','on','for','with')"


@query(
    "doc_quality_logit",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_SQL_TOKENS} AS ts FROM documents
    ), feat AS (
      SELECT doc_id, source,
             CASE WHEN len(ts) > 0
                  THEN len(list_distinct(ts))::DOUBLE / len(ts)::DOUBLE
                  ELSE 0.0 END AS dr,
             LEAST(len(ts), 200)::DOUBLE / 200.0 AS lt,
             CASE WHEN len(ts) > 0
                  THEN len(list_filter(ts, x -> x IN {_SQL_EN_STOPS}))::DOUBLE
                       / len(ts)::DOUBLE
                  ELSE 0.0 END AS sw
      FROM toks
    ), scored AS (
      SELECT source,
             ROUND(1.7 * dr + 0.9 * lt + 2.1 * sw - 1.2, 6) AS z
      FROM feat
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN z >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           ROUND(SUM(CASE WHEN z >= 0.0 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6) AS keep_rate,
           CAST(ROUND(SUM(CAST(z AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_z
    FROM scored
    GROUP BY source
    ORDER BY source
    """,
)
def doc_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a deterministic linear classifier
    (fixed public weights over distinct-token ratio, length term, and
    stopword ratio — the shape of the fastText/edu-classifier stage in
    FineWeb-style pipelines, with the learned weights replaced by
    pinned constants so both engines score identically). Documents with
    logit z >= 0 pass; per source: pass counts, rate, and the exact
    decimal sum of rounded logits — hash-sensitive to every score.

    Scale: pure map work (array expressions per doc) + one tiny
    aggregation; nothing shuffles but (source, partial-agg) rows. The
    logit (not sigmoid) keeps the score in +,*,/ arithmetic — bit-equal
    across engines, monotone-equivalent for thresholding. The classifier
    expression is the SHARED functions/curation.quality_logit — the same
    column pipelines/curate.py filters on, so this oracle verifies the
    production stage too."""
    from datagouv_tools_spark.functions.curation import quality_logit

    docs = t(spark, sf_dir, "documents")
    scored = docs.select("source", quality_logit("text").alias("z"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("z") >= 0.0).cast("int")).cast("bigint").alias("n_keep"),
            F.round(
                F.sum((F.col("z") >= 0.0).cast("int")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("keep_rate"),
            dround(F.sum(F.col("z").cast("decimal(18,6)")), 4).alias("sum_z"),
        )
        .orderBy("source")
    )


@query(
    "doc_source_mixing",
    """
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), rates AS (
      SELECT source, n_docs,
             LEAST(1.0, (CASE WHEN source IN ('src0','src1','src2','src3')
                              THEN 0.10 ELSE 0.03 END)
                        * (SELECT COUNT(*) FROM documents)::DOUBLE
                        / n_docs::DOUBLE) AS rate
      FROM counts
    ), sampled AS (
      SELECT d.doc_id, d.source, r.n_docs, r.rate,
             (('0x' || substr(md5(d.doc_id::VARCHAR || '-mix42'), 1, 15))::BIGINT::DOUBLE
              / 1152921504606846976.0) < r.rate AS picked
      FROM documents d JOIN rates r USING (source)
    )
    SELECT source,
           MAX(n_docs) AS n_docs,
           ROUND(MAX(rate), 6) AS accept_rate,
           CAST(SUM(CASE WHEN picked THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           BIT_XOR(CASE WHEN picked THEN
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT END) AS sampled_xor
    FROM sampled
    GROUP BY source
    ORDER BY source
    """,
)
def doc_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: re-weight the corpus toward target per-source
    shares (here: 10% each for four up-weighted sources, 3% for the
    rest) by computing a per-source acceptance rate from the observed
    counts and sampling deterministically via a seeded md5 bucket —
    the data-mixing stage of a pretraining pipeline, engine- and
    cluster-stable (no random(): a doc's fate never depends on
    partitioning or rerun).

    Scale: one count aggregation; the per-source rate table is a few
    rows and broadcasts; acceptance is map-side hash arithmetic over
    the corpus scan. The sampled_xor folds exactly which doc_ids
    survived into one value per source."""
    from datagouv_tools_spark.functions.xhash import md5_hash60

    docs = t(spark, sf_dir, "documents")
    total = docs.count()
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    share = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3"), F.lit(0.10)
    ).otherwise(F.lit(0.03))
    rates = counts.select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            share * F.lit(float(total)) / F.col("n_docs").cast("double"),
        ).alias("rate"),
    )
    picked = (
        md5_hash60(
            F.concat_ws("-", F.col("doc_id").cast("string"), F.lit("mix42"))
        ).cast("double")
        / F.lit(1152921504606846976.0)
    ) < F.col("rate")
    joined = docs.join(F.broadcast(rates), "source").withColumn("picked", picked)
    return (
        joined.groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.round(F.max("rate"), 6).alias("accept_rate"),
            F.sum(F.col("picked").cast("int")).cast("bigint").alias("n_sampled"),
            F.expr(
                "bit_xor(CASE WHEN picked THEN "
                "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) END)"
            ).alias("sampled_xor"),
        )
        .orderBy("source")
    )


@query(
    "doc_pack_bins",
    f"""
    WITH toks AS (
      SELECT doc_id, source, len({_SQL_TOKENS}) AS n_tok FROM documents
    ), pos AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM toks
    )
    SELECT source,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(CEIL(SUM(n_tok) / 2048.0) AS BIGINT) AS n_bins,
           CAST(SUM(CASE WHEN (cum - n_tok) // 2048 <> (cum - 1) // 2048
                         AND n_tok > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
           ROUND(SUM(n_tok)::DOUBLE / (CEIL(SUM(n_tok) / 2048.0) * 2048.0), 6) AS fill_ratio
    FROM pos
    GROUP BY source
    ORDER BY source
    """,
)
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing audit: documents are concatenated per source in
    doc_id order and cut into 2048-token training sequences (the
    contiguous-fill packing model); reports bins used, fill ratio, and
    how many documents straddle a cut — the packing stage that turns a
    curated corpus into fixed-length samples.

    Scale: one window cumsum per source (the ordering IS the packing
    contract) + one aggregation; integer token arithmetic end-to-end,
    so both engines agree exactly. Skew note: a mega-source serializes
    its own cumsum — shard the pack key (source, doc_id range) when one
    source exceeds a task's comfort, same remedy as any global sort."""
    from pyspark.sql.window import Window

    from datagouv_tools_spark.functions.text import tokens

    ts = tokens("text")
    docs = t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(ts).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = docs.withColumn("cum", F.sum("n_tok").over(w))
    straddle = (
        ((F.col("cum") - F.col("n_tok")) / F.lit(2048)).cast("bigint")
        != ((F.col("cum") - 1) / F.lit(2048)).cast("bigint")
    ) & (F.col("n_tok") > 0)
    return (
        pos.groupBy("source")
        .agg(
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.ceil(F.sum("n_tok") / F.lit(2048.0)).cast("bigint").alias("n_bins"),
            F.sum(straddle.cast("int")).cast("bigint").alias("n_boundary_docs"),
            F.round(
                F.sum("n_tok").cast("double")
                / (F.ceil(F.sum("n_tok") / F.lit(2048.0)) * F.lit(2048.0)),
                6,
            ).alias("fill_ratio"),
        )
        .orderBy("source")
    )


def _sql_boilerplate_scrub_oracle(seg_len: int = 8) -> str:
    """DuckDB twin of doc_boilerplate_scrub: same tokenization/
    segmentation/keep-rule as the segment-dedup oracle, then documents
    REASSEMBLED from kept segments (string_agg ordered by seg_idx) and
    value-hashed per doc — a wrongly dropped, wrongly kept, or
    reordered segment flips cleaned_xor."""
    L = seg_len
    return f"""
    WITH w AS (
      SELECT doc_id, source, {_SQL_TOKENS} AS ws FROM documents
    ), s AS (
      SELECT doc_id, source, CAST(g.i AS INT) AS seg_idx,
             array_to_string(ws[g.i*{L}+1 : g.i*{L}+{L}], ' ') AS seg
      FROM w, LATERAL UNNEST(generate_series(0, CAST(ceil(len(ws) / {L}.0) AS BIGINT) - 1)) AS g(i)
      WHERE len(ws) >= 1
    ), m AS (
      SELECT source, doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (
               PARTITION BY ('0x' || substr(md5(seg), 1, 15))::BIGINT
               ORDER BY doc_id, seg_idx) AS rn
      FROM s
    ), d AS (
      SELECT doc_id, source,
             COUNT(*) AS n_segs,
             SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
             COALESCE(SUM(CASE WHEN rn > 1 THEN len(string_split(seg, ' ')) END), 0) AS toks_removed,
             COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx), '') AS cleaned
      FROM m
      GROUP BY doc_id, source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_kept < n_segs THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_changed,
           CAST(SUM(toks_removed) AS BIGINT) AS tokens_removed,
           BIT_XOR(('0x' || substr(md5(doc_id::VARCHAR || '#' || cleaned), 1, 15))::BIGINT) AS cleaned_xor
    FROM d
    GROUP BY source
    ORDER BY source
    """


@query("doc_boilerplate_scrub", _sql_boilerplate_scrub_oracle())
def doc_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL (the transform, where doc_segment_dedup is
    the audit): each document is reassembled from only its kept
    segments — repeated license blocks / navigation chrome vanish from
    every occurrence but the corpus-wide first. Per source: documents
    touched, tokens removed, and a bit_xor value-hash of every cleaned
    (doc_id, text) pair, so the oracle verifies the actual output
    corpus, not summary counts.

    Scale: same skew-proof hash-only winner selection as
    doc_segment_dedup; reassembly additionally moves segment text
    through the winner join and a per-doc aggregation — the floor cost
    of any transform that must rewrite documents. collect_list is
    per-doc bounded (a document's own segments), never corpus-wide.
    Reassembly is the SHARED functions/curation.reassembled_kept_text —
    the same expression pipelines/curate.py and streaming/scrub_gate.py
    use, so this oracle verifies all three consumers.
    """
    from datagouv_tools_spark.functions.curation import reassembled_kept_text
    from datagouv_tools_spark.functions.xhash import md5_hash60
    from datagouv_tools_spark.operators.dedup import segment_dedup_marks

    docs = t(spark, sf_dir, "documents")
    marks = segment_dedup_marks(
        docs, "doc_id", "text", seg_len=8, token_hash="md5",
        keep_cols=("source",), keep_seg_text=True,
    )
    per_doc = marks.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.coalesce(
            F.sum(
                F.when(~F.col("kept"), F.size(F.split(F.col("seg"), " ")))
            ),
            F.lit(0),
        ).alias("toks_removed"),
        reassembled_kept_text().alias("cleaned"),
    )
    hashed = per_doc.withColumn(
        "__doc_hash",
        md5_hash60(
            F.concat_ws("#", F.col("doc_id").cast("string"), F.col("cleaned"))
        ),
    )
    return (
        hashed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_kept") < F.col("n_segs")).cast("int"))
            .cast("bigint")
            .alias("n_docs_changed"),
            F.sum("toks_removed").cast("bigint").alias("tokens_removed"),
            F.expr("bit_xor(__doc_hash)").alias("cleaned_xor"),
        )
        .orderBy("source")
    )


# The streaming replay is oracle-checked against the SAME ground truth
# as its batch twin (equivalence argued in doc_scrub_stream's docstring).
ORACLE["doc_scrub_stream"] = _sql_boilerplate_scrub_oracle()


@query("doc_segment_dedup", _sql_segment_dedup_oracle())
def doc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (operators/dedup.segment_dedup_marks):
    repeated sub-document segments (the boilerplate/license-block shape)
    are marked, keeping the deterministic corpus-wide first occurrence —
    the RefinedWeb/FineWeb curation tier between doc-level exact dedup
    (doc_fingerprint_dedup) and MinHash near-dup (doc_dedup_pipeline).
    Reported per source: segment counts, retained fraction, and an
    order-independent bit_xor checksum of exactly which (doc_id,
    seg_idx) survived — the full keep/drop decision is value-hashed,
    not just its cardinality.

    Scale: segmentation is map-local array expressions; first-occurrence
    is skew-proof groupBy-min (algebraic partial agg collapses a
    10⁸-times-repeated segment per map task) + an 8-byte-hash equi-join
    back; only hashes shuffle, never text. See the operator docstring.
    """
    from datagouv_tools_spark.functions.xhash import md5_hash60
    from datagouv_tools_spark.operators.dedup import segment_dedup_marks

    docs = t(spark, sf_dir, "documents")
    marks = segment_dedup_marks(
        docs, "doc_id", "text", seg_len=8, token_hash="md5",
        keep_cols=("source",),
    )
    kept_key = F.when(
        F.col("kept"),
        md5_hash60(
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.col("seg_idx").cast("string"),
            )
        ),
    )
    return (
        marks.withColumn("__kx", kept_key)
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"),
            F.round(
                F.sum(F.col("kept").cast("int")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("retained_ratio"),
            F.expr("bit_xor(__kx)").alias("kept_xor"),
        )
        .orderBy("source")
    )


@query(
    "doc_pps_sample",
    f"""
    WITH t1 AS (
      SELECT source, doc_id, len({_SQL_TOKENS}) + 1 AS w FROM documents
    ), t2 AS (
      SELECT source, doc_id, w,
             SUM(w) OVER (PARTITION BY source ORDER BY doc_id) AS cum,
             SUM(w) OVER (PARTITION BY source) AS total
      FROM t1
    )
    SELECT source, doc_id, (w - 1)::BIGINT AS n_tokens,
           ((4 * cum) // total)::BIGINT AS rk
    FROM t2
    WHERE (4 * cum) // total > (4 * (cum - w)) // total
    ORDER BY source, doc_id
    """,
)
def doc_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling, probability proportional to
    size (systematic PPS): per source, walk the docs in doc_id order,
    accumulate token-count weights, and keep each doc whose cumulative
    weight crosses one of k=4 evenly spaced thresholds — long documents
    are proportionally more likely to be picked, short ones still get a
    chance, and the choice is a pure function of the corpus (no rand(),
    byte-stable across engines, runs, and cluster layouts — the
    training-data reproducibility contract).

    Selection is pure integer arithmetic (k·cum DIV total changing
    value at a threshold crossing), so the oracle matches exactly.
    Scale: one window per source — the same per-source sequential shape
    as doc_pack_bins; a source that outgrows one task gets sharded on a
    sub-key and sampled per shard (estimates stay unbiased because
    thresholds are per-shard totals).
    """
    from datagouv_tools_spark.functions.text import token_count
    from datagouv_tools_spark.operators.sampling import pps_systematic

    docs = t(spark, sf_dir, "documents")
    t1 = docs.select(
        "source", "doc_id", (token_count("text") + F.lit(1)).alias("w")
    )
    sel = pps_systematic(
        t1, "source", "doc_id", F.col("w"), k=4, rank_col="rk"
    )
    return sel.select(
        "source",
        "doc_id",
        (F.col("w") - 1).cast("bigint").alias("n_tokens"),
        "rk",
    ).orderBy("source", "doc_id")


@query(
    "doc_token_cms",
    f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKENS}) AS tok FROM documents
    ), cells AS (
      SELECT i, ('0x' || substr(md5(tok), 1 + i * 7, 7))::BIGINT
               % 1024 AS idx,
             COUNT(*) AS c
      FROM toks, (SELECT unnest([0, 1, 2, 3]) AS i)
      GROUP BY i, idx
    ), exact AS (
      SELECT tok, COUNT(*) AS n_exact FROM toks GROUP BY tok
      ORDER BY n_exact DESC, tok LIMIT 20
    ), probes AS (
      SELECT tok, n_exact, i,
             ('0x' || substr(md5(tok), 1 + i * 7, 7))::BIGINT
               % 1024 AS idx
      FROM exact, (SELECT unnest([0, 1, 2, 3]) AS i)
    )
    SELECT tok, MAX(n_exact) AS n_exact, MIN(c) AS n_est
    FROM probes JOIN cells USING (i, idx)
    GROUP BY tok
    ORDER BY n_exact DESC, tok
    """,
)
def doc_token_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream (Cormode & Muthukrishnan
    2005): d=4 hash rows × w=1024 counters estimate any token's
    frequency with bounded OVERcount (est ≥ exact always; error ≤
    2N/w with prob 1-2^-d) in constant state. The exact top-20 rides
    along so the overcount is visible, and the oracle recomputes the
    identical sketch cell-for-cell.

    Scale: exact vocabulary counts shuffle one row per distinct token —
    unbounded state on web-scale text. The CMS is 4×1024 bigints no
    matter the vocabulary, built by ONE map-side-combining aggregation
    over the (token-occurrence × 4) stream — hashing ONCE per
    occurrence, the 4 row indexes sliced from one md5 digest
    (sketches.cms_cells_single_digest; the 4-hash build was the
    measured dominant cost of the md5 oracle mode) — and sketches from
    corpus shards merge by cell-wise addition. The estimate probe for
    the reported tokens joins a 20×4-row table against the 4096-cell
    sketch — driver-free, broadcast-sized."""
    from datagouv_tools_spark.functions.text import tokens as _toks

    from datagouv_tools_spark.operators.sketches import (
        cms_cells_single_digest,
    )

    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(_toks("text")).alias("tok"))
    )
    cells = cms_cells_single_digest(toks)
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), "tok")
        .limit(20)
    )
    digest = F.md5(F.col("tok"))
    idxs = F.array(
        *[
            F.conv(F.substring(digest, 1 + 7 * i, 7), 16, 10).cast("bigint")
            % 1024
            for i in range(4)
        ]
    )
    probes = exact.select("tok", "n_exact", F.posexplode(idxs).alias("i", "idx"))
    return (
        probes.join(cells, ["i", "idx"])
        .groupBy("tok")
        .agg(F.max("n_exact").alias("n_exact"), F.min("c").alias("n_est"))
        .orderBy(F.desc("n_exact"), "tok")
    )


# ---------------------------------------------------------------------------
# Retrieval surface (operators/retrieval.py): BM25 + reciprocal-rank fusion
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "hash", "window")


def _sql_bm25_scored(terms: tuple[str, ...], suffix: str = "") -> str:
    """Oracle CTE chain computing rational-IDF BM25 per doc_id with the
    exact +,*,/ evaluation order of operators/retrieval.bm25_scores
    (each sub-expression parenthesized to pin associativity).
    ``suffix`` renames the CTEs (w{suffix}, scored{suffix}, …) so
    several term sets can coexist in one statement (the MRR oracle)."""
    dfs = ", ".join(
        f"SUM(CASE WHEN list_contains(ws, '{t}') THEN 1 ELSE 0 END)::DOUBLE"
        f" AS df{i}"
        for i, t in enumerate(terms)
    )
    tfs = ", ".join(
        f"len(list_filter(ws, x -> x = '{t}'))::DOUBLE AS tf{i}"
        for i, t in enumerate(terms)
    )
    score = None
    for i in range(len(terms)):
        term = (
            f"((((n - df{i}) + 0.5) / (df{i} + 0.5)) * (tf{i} * 2.2))"
            f" / (tf{i} + (1.2 * (0.25 + (0.75 * (dl / (tot / n))))))"
        )
        score = term if score is None else f"({score} + {term})"
    s = suffix
    return f"""
    w{s} AS (
      SELECT doc_id, source, {_SQL_TOKENS} AS ws FROM documents
    ), stats{s} AS (
      SELECT COUNT(*)::DOUBLE AS n, SUM(len(ws))::DOUBLE AS tot, {dfs}
      FROM w{s}
    ), pd{s} AS (
      SELECT doc_id, source, len(ws)::DOUBLE AS dl, {tfs} FROM w{s}
    ), scored{s} AS (
      SELECT doc_id, source, ROUND({score}, 6) AS bm25
      FROM pd{s}, stats{s}
    )"""


@query(
    "doc_bm25_topk",
    f"""
    WITH {_sql_bm25_scored(_BM25_TERMS)}
    SELECT doc_id, source, bm25
    FROM scored WHERE bm25 > 0.0
    ORDER BY bm25 DESC, doc_id LIMIT 15
    """,
)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: BM25 top-15 for a fixed 3-term query
    (operators/retrieval.bm25_scores). Rational-IDF variant — the
    log's argument instead of the log, keeping every arithmetic step
    in correctly-rounded +,*,/ doubles so both engines score
    bit-identically (libm ln is NOT correctly rounded and may differ
    by an ULP across engines; see the module docstring for the
    one-line path back to classic log-IDF).

    Scale: corpus stats are one map-side-combining aggregation
    (|terms|+2 scalars to the driver); per-doc tf/dl are map-local
    array expressions over the scan — no explode, no shuffle; top-15
    is TakeOrdered with an id tie-break."""
    from datagouv_tools_spark.operators.retrieval import bm25_topk

    docs = t(spark, sf_dir, "documents")
    return bm25_topk(docs, list(_BM25_TERMS), k=15).select(
        "doc_id", "source", "bm25"
    )


@query(
    "doc_retrieval_rrf",
    f"""
    WITH {_sql_bm25_scored(_BM25_TERMS)}, ra AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
      FROM scored WHERE bm25 > 0.0
      ORDER BY bm25 DESC, doc_id LIMIT 100
    ), qz AS (
      SELECT doc_id,
             ROUND(1.7 * (CASE WHEN len(ws) > 0
                       THEN len(list_distinct(ws))::DOUBLE / len(ws)::DOUBLE
                       ELSE 0.0 END)
                 + 0.9 * (LEAST(len(ws), 200)::DOUBLE / 200.0)
                 + 2.1 * (CASE WHEN len(ws) > 0
                       THEN len(list_filter(ws, x -> x IN ('the', 'a', 'of',
                            'and', 'to', 'in', 'is', 'on', 'for', 'with')))::DOUBLE
                            / len(ws)::DOUBLE
                       ELSE 0.0 END)
                 - 1.2, 6) AS z
      FROM w
    ), rb AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY z DESC, doc_id) AS rank
      FROM qz ORDER BY z DESC, doc_id LIMIT 100
    ), fused AS (
      SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
             ROUND((CASE WHEN ra.rank IS NOT NULL
                         THEN 1.0 / (60.0 + ra.rank::DOUBLE) ELSE 0.0 END
                  + CASE WHEN rb.rank IS NOT NULL
                         THEN 1.0 / (60.0 + rb.rank::DOUBLE) ELSE 0.0 END),
                   6) AS rrf,
             COALESCE(ra.rank, 0)::BIGINT AS bm25_rank,
             COALESCE(rb.rank, 0)::BIGINT AS quality_rank
      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    )
    SELECT doc_id, rrf, bm25_rank, quality_rank
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def doc_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused retrieval: reciprocal-rank fusion (Cormack 2009) of two
    candidate rankings — BM25 top-100 for the fixed query and the
    pinned quality-logit top-100 (a lexical ranking fused with a
    query-independent document prior, the standard hybrid-retrieval
    recipe; swap the prior for an ANN ranking and nothing else
    changes). rrf = Σ 1/(60 + rank), both divisions correctly rounded
    and summed in pinned order — bit-equal cross-engine.

    Scale: each candidate list is TakeOrdered(100) over map-local
    scores BEFORE any window — ROW_NUMBER runs over 100 rows, never
    the corpus; the fusion join is 100×100 ids."""
    from pyspark.sql.window import Window

    from datagouv_tools_spark.functions.curation import quality_logit
    from datagouv_tools_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = t(spark, sf_dir, "documents")
    # candidate sets first (TakeOrdered), windows over ≤100 rows only
    a100 = bm25_topk(docs, list(_BM25_TERMS), k=100)
    wA = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    ra = a100.withColumn("rank", F.row_number().over(wA)).select(
        "doc_id", "rank"
    )
    z100 = (
        docs.select("doc_id", quality_logit("text").alias("z"))
        .orderBy(F.desc("z"), F.asc("doc_id"))
        .limit(100)
    )
    wB = Window.orderBy(F.desc("z"), F.asc("doc_id"))
    rb = z100.withColumn("rank", F.row_number().over(wB)).select(
        "doc_id", "rank"
    )
    # Pin the two 100-row candidate lists: each feeds BOTH the fusion
    # and the rank-attribution join below, and an unpinned frame
    # re-runs its corpus-wide scoring scan per consumer (k-bounded
    # rows, so the pin is O(k) at any corpus size; measured
    # 3.28 s → 2.28 s interleaved at sf0.1).
    ra = ra.localCheckpoint(eager=True)
    rb = rb.localCheckpoint(eager=True)
    fused = rrf_fuse([ra, rb])
    ranks = ra.withColumnRenamed("rank", "bm25_rank").join(
        rb.withColumnRenamed("rank", "quality_rank"), "doc_id", "full_outer"
    )
    return (
        fused.join(ranks, "doc_id")
        .select(
            "doc_id",
            "rrf",
            F.coalesce("bm25_rank", F.lit(0)).cast("bigint").alias("bm25_rank"),
            F.coalesce("quality_rank", F.lit(0))
            .cast("bigint")
            .alias("quality_rank"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
    )


def _sql_rerank_oracle(terms: tuple[str, ...], n_cand: int, k: int) -> str:
    pos_cols = ",\n         ".join(
        f"list_filter(range(0, len(w.ws)), i -> w.ws[i+1] = '{t}') AS p{i}"
        for i, t in enumerate(terms)
    )
    present = " + ".join(
        f"(CASE WHEN len(p{i}) > 0 THEN 1 ELSE 0 END)"
        for i in range(len(terms))
    )
    pair_mins = ",\n           ".join(
        "COALESCE(list_min(flatten(list_transform("
        f"p{i}, a -> list_transform(p{j}, b -> abs(a - b))))), 1000000)"
        for i in range(len(terms))
        for j in range(i + 1, len(terms))
    )
    return f"""
    WITH {_sql_bm25_scored(terms)}, cand AS (
      SELECT doc_id, bm25 FROM scored WHERE bm25 > 0.0
      ORDER BY bm25 DESC, doc_id LIMIT {n_cand}
    ), cpos AS (
      SELECT c.doc_id, c.bm25,
         {pos_cols}
      FROM cand c JOIN w ON c.doc_id = w.doc_id
    ), reranked AS (
      SELECT doc_id, bm25,
           CAST({present} AS INTEGER) AS n_present,
           CAST(LEAST(
           {pair_mins}
           ) AS INTEGER) AS min_gap
      FROM cpos
    )
    SELECT doc_id, n_present, min_gap, bm25
    FROM reranked
    ORDER BY n_present DESC, min_gap, bm25 DESC, doc_id LIMIT {k}
    """


@query("doc_rerank_proximity", _sql_rerank_oracle(_BM25_TERMS, 50, 15))
def doc_rerank_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The completing stage of the retrieval stack (candidate-gen →
    fuse → RERANK), with a REAL reranking signal rather than a model
    stub: BM25's top-50 candidates reordered by term proximity —
    distinct-query-terms present (desc), then the smallest token
    distance between occurrences of two different query terms (asc) —
    the phrase-tightness evidence bag-of-words scoring cannot see.
    All-integer proximity arithmetic, bit-exact cross-engine
    (operators/retrieval.proximity_rerank).

    Scale: reranking runs on the 50-row candidate set only — per doc
    it is |terms| position-array builds + pairwise gap minima as
    map-local array expressions (no shuffle, no UDF, no corpus
    touch beyond the BM25 stage's own scan)."""
    from datagouv_tools_spark.operators.retrieval import (
        bm25_topk,
        proximity_rerank,
    )

    docs = t(spark, sf_dir, "documents")
    cand = bm25_topk(docs, list(_BM25_TERMS), k=50)
    return (
        proximity_rerank(cand, list(_BM25_TERMS))
        .select("doc_id", "n_present", "min_gap", "bm25")
        .orderBy(
            F.desc("n_present"), F.asc("min_gap"), F.desc("bm25"), F.asc("doc_id")
        )
        .limit(15)
    )


@query(
    "doc_hybrid_lexical_vector",
    f"""
    WITH {_sql_bm25_scored(_BM25_TERMS)}, ra AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
      FROM scored WHERE bm25 > 0.0
      ORDER BY bm25 DESC, doc_id LIMIT 100
    ), qv AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0
    ), sims AS (
      SELECT e.vec_id AS doc_id,
             ROUND(list_dot_product(q.v, CAST(e.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))), 6) AS sim
      FROM embeddings e, qv q WHERE e.vec_id <> 0
    ), rb AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rank
      FROM sims ORDER BY sim DESC, doc_id LIMIT 100
    ), fused AS (
      SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
             ROUND((CASE WHEN ra.rank IS NOT NULL
                         THEN 1.0 / (60.0 + ra.rank::DOUBLE) ELSE 0.0 END
                  + CASE WHEN rb.rank IS NOT NULL
                         THEN 1.0 / (60.0 + rb.rank::DOUBLE) ELSE 0.0 END),
                   6) AS rrf,
             COALESCE(ra.rank, 0)::BIGINT AS bm25_rank,
             COALESCE(rb.rank, 0)::BIGINT AS cosine_rank
      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    )
    SELECT doc_id, rrf, bm25_rank, cosine_rank
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def doc_hybrid_lexical_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE hybrid retrieval — the production RAG recipe: a LEXICAL
    candidate list (BM25 over documents.text) fused with a VECTOR
    candidate list (exact cosine over the aligned embeddings table,
    query = vec_id 0's embedding) by reciprocal rank. doc_retrieval_rrf
    demonstrated the fusion against a query-independent prior; this is
    the real two-modality version the shared id domain enables.

    Scale: both candidate lists reduce to ≤100 rows BEFORE any window
    (BM25 via TakeOrdered; cosine via the broadcast-query kernel's
    TakeOrdered) — at production scale the vector side swaps in
    AnnIndex.adc_topk with identical downstream shape. sqrt IS
    IEEE-correctly-rounded (unlike ln), so the rounded cosine crosses
    engines bit-for-bit."""
    from pyspark.sql.window import Window

    from datagouv_tools_spark.operators.retrieval import bm25_topk, rrf_fuse
    from datagouv_tools_spark.operators.similarity import cosine_topk

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")

    a100 = bm25_topk(docs, list(_BM25_TERMS), k=100)
    wA = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    ra = a100.withColumn("rank", F.row_number().over(wA)).select(
        "doc_id", "rank"
    )

    q_df = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rb = (
        cosine_topk(q_df, emb, k=100)
        .select(F.col("vec_id").alias("doc_id"), F.col("rk").alias("rank"))
    )

    # Pin the two 100-row candidate lists (same reasoning as
    # doc_retrieval_rrf: each feeds the fusion AND the attribution
    # join, and unpinned frames re-run their corpus scan per consumer)
    ra = ra.localCheckpoint(eager=True)
    rb = rb.localCheckpoint(eager=True)
    fused = rrf_fuse([ra, rb])
    ranks = ra.withColumnRenamed("rank", "bm25_rank").join(
        rb.withColumnRenamed("rank", "cosine_rank"), "doc_id", "full_outer"
    )
    return (
        fused.join(ranks, "doc_id")
        .select(
            "doc_id",
            "rrf",
            F.coalesce("bm25_rank", F.lit(0)).cast("bigint").alias("bm25_rank"),
            F.coalesce("cosine_rank", F.lit(0))
            .cast("bigint")
            .alias("cosine_rank"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
    )


@query("doc_cluster_dedup_indexed", _sql_star_cluster_oracle())
def doc_cluster_dedup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_cluster_dedup_scalable served from the PERSISTED text band
    index: star edges come straight off the stored (id, band_hash)
    entries (operators/text_index.star_edges — zero tokenization or
    signature work, stub-pinned) and flow into the same connected-
    components pass. The SAME recursive-CTE oracle hash-checks both
    variants — the store is bit-faithful for the full dedup pipeline,
    not just candidate listing. At 100 TB this is the production
    shape: the band store is built once (or maintained by the
    streaming appender) and every dedup run starts from it."""
    from datagouv_tools_spark.operators.dedup import dedup_clusters

    idx = _text_band_index(spark, sf_dir)
    return (
        dedup_clusters(idx.star_edges())
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Corpus statistics as model: n-gram LM filtering, attribution, drift
# ---------------------------------------------------------------------------


@query(
    "doc_ngram_lm_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ts) - 1),
                                   i -> ts[i] || ' ' || ts[i + 1])) AS bigram
      FROM toks WHERE len(ts) >= 2
    ),
    lm AS (
      SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram
      HAVING COUNT(*) >= 2
    ),
    scored AS (
      SELECT bg.doc_id,
             COUNT(*) AS n_bigrams,
             CAST(SUM(CASE WHEN lm.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS oov_bigrams,
             CAST(SUM(COALESCE(length(CAST(lm.cnt AS VARCHAR)), 0)) AS BIGINT)
               AS cls_sum
      FROM bg LEFT JOIN lm USING (bigram)
      GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams, oov_bigrams,
           (cls_sum * 1000) // n_bigrams AS lm_score_mille
    FROM scored
    ORDER BY lm_score_mille, doc_id
    LIMIT 20
    """,
)
def doc_ngram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style n-gram LM quality filter, cross-engine-exact: train a
    word-bigram "language model" on the corpus itself (count-pruned at
    min_count=2, the classic pruned-LM trick), then score every document
    by the mean frequency CLASS of its bigrams — class = decimal digit
    count of the corpus count, an integer log10 proxy that both engines
    compute identically (no libm). Out-of-vocabulary bigrams score 0, so
    gibberish and boilerplate-free junk sink; the 20 lowest-scoring docs
    surface for filtering. All arithmetic is integer (fixed-point mille),
    so the value hash is exact.

    Scale: bigram expansion is map-local (array transform inside codegen);
    LM training is one map-side-combining groupBy on the bigram key; the
    score join is a shuffle equi-join on the same key (zipfian head is
    AQE-skew territory, and a pruned LM of bounded vocabulary V could be
    broadcast instead); the per-doc re-agg shuffles (doc_id, partials)
    only. Bottom-20 is a TakeOrderedAndProject. No driver-side state —
    the "model" never leaves the cluster."""
    from datagouv_tools_spark.functions.text import tokens, word_bigrams

    docs = t(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id", F.explode(word_bigrams(tokens("text"))).alias("bigram")
    )
    lm = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
    )
    scored = (
        bg.join(lm, "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("cnt").isNull(), 1).otherwise(0)
            ).alias("oov_bigrams"),
            F.sum(
                F.coalesce(F.length(F.col("cnt").cast("string")), F.lit(0))
            ).alias("cls_sum"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            "oov_bigrams",
            F.expr("(cls_sum * 1000) div n_bigrams").alias("lm_score_mille"),
        )
        .orderBy("lm_score_mille", "doc_id")
        .limit(20)
    )


_MRR_QUERY_SETS: tuple[tuple[str, ...], ...] = (
    ("spark", "hash"),
    ("window", "sort"),
    ("table", "merge"),
    ("batch", "value", "fast"),
)


def _sql_mrr_oracle() -> str:
    blocks = []
    selects = []
    for q, terms in enumerate(_MRR_QUERY_SETS):
        s = f"_m{q}"
        contain = " AND ".join(
            f"len(list_filter(ws, x -> x = '{t}')) >= 2" for t in terms
        )
        blocks.append(_sql_bm25_scored(terms, s))
        blocks.append(
            f"""
    rel{q} AS (
      SELECT doc_id, CASE WHEN {contain} THEN 1 ELSE 0 END AS rel
      FROM w{s}
    ),
    nr{q} AS (SELECT CAST(SUM(rel) AS BIGINT) AS n_rel FROM rel{q}),
    top{q} AS (
      SELECT doc_id, rnk FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                 AS rnk
        FROM scored{s} WHERE bm25 > 0.0
      ) WHERE rnk <= 10
    ),
    m{q} AS (
      SELECT CAST({q} AS BIGINT) AS qid,
             (SELECT n_rel FROM nr{q}) AS n_relevant,
             CAST(COALESCE(MIN(CASE WHEN r.rel = 1 THEN t.rnk END), 0)
                  AS BIGINT) AS first_rel_rank,
             CAST(COALESCE(1000 // MIN(CASE WHEN r.rel = 1 THEN t.rnk END),
                           0) AS BIGINT) AS rr_mille,
             CAST(COALESCE(SUM(r.rel), 0) AS BIGINT) AS hits_at_10,
             CAST(CASE WHEN (SELECT n_rel FROM nr{q}) > 0
                  THEN (COALESCE(SUM(r.rel), 0) * 1000)
                       // LEAST((SELECT n_rel FROM nr{q}), 10)
                  ELSE 0 END AS BIGINT) AS recall_at_10_mille
      FROM top{q} t JOIN rel{q} r USING (doc_id)
    )"""
        )
        selects.append(f"SELECT * FROM m{q}")
    body = ",".join(blocks)
    union = "\n    UNION ALL ".join(selects)
    return f"WITH {body}\n    {union}\n    ORDER BY qid"


@query("doc_retrieval_mrr", _sql_mrr_oracle())
def doc_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation over the engine's own BM25 stack:
    four pinned term queries, relevance = strict AND-containment of all
    query terms, and per-query MRR / first-relevant-rank / hits@10 /
    recall@10 in integer fixed point (mille) — the eval harness every
    retrieval pipeline needs, value-hash-exact cross-engine because
    ranking ties break on doc_id and metrics avoid floats.

    Scale: the corpus is tokenized ONCE into an eager localCheckpoint
    (the multi-query eval's shared artifact — re-tokenizing per query
    was the measured cost), corpus stats for ALL query sets come from
    one combined aggregation pass, and per query the shared arrays are
    scanned map-locally for scores and containment; top-10 is
    TakeOrdered and every metric aggregates a ≤10-row join."""
    from datagouv_tools_spark.functions.text import tokens
    from datagouv_tools_spark.operators.retrieval import (
        bm25_topk,
        corpus_stats,
    )
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    w = docs.select("doc_id", tokens("text").alias("ws")).localCheckpoint(
        eager=True
    )
    all_terms = sorted({tm for terms in _MRR_QUERY_SETS for tm in terms})
    n, tot, dfs = corpus_stats(w, all_terms, tokens_col="ws")
    rows = []
    for qid, terms in enumerate(_MRR_QUERY_SETS):
        # relevance = every query term appears at least TWICE — strict
        # containment saturates every metric at 1000 on this corpus
        # (common tokens), which would leave rank/denominator paths
        # untested by the hash compare.
        # one parsed expr for the whole AND-chain (litfast rationale);
        # same left-associative conjunction the Column reduce built
        from datagouv_tools_spark.functions.litfast import sql_string

        flag = F.expr(
            " AND ".join(
                f"(size(filter(ws, x -> x = {sql_string(tm)})) >= 2)"
                for tm in terms
            )
        )
        rel = w.select(
            "doc_id", F.when(flag, 1).otherwise(0).alias("rel")
        )
        nr = rel.agg(F.sum("rel").cast("bigint").alias("n_rel"))
        top = bm25_topk(
            w,
            list(terms),
            k=10,
            stats=(n, tot, {tm: dfs[tm] for tm in terms}),
            tokens_col="ws",
        ).withColumn(
            "rnk",
            F.row_number().over(W.orderBy(F.desc("bm25"), F.asc("doc_id"))),
        )
        aggd = top.join(rel, "doc_id").agg(
            F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("frr_raw"),
            F.sum("rel").alias("hits_raw"),
        )
        rows.append(
            aggd.crossJoin(F.broadcast(nr)).select(
                F.lit(qid).cast("bigint").alias("qid"),
                F.col("n_rel").alias("n_relevant"),
                F.coalesce(F.col("frr_raw"), F.lit(0))
                .cast("bigint")
                .alias("first_rel_rank"),
                F.coalesce(F.expr("1000 div frr_raw"), F.lit(0))
                .cast("bigint")
                .alias("rr_mille"),
                F.coalesce(F.col("hits_raw"), F.lit(0))
                .cast("bigint")
                .alias("hits_at_10"),
                F.when(
                    F.col("n_rel") > 0,
                    F.expr("(coalesce(hits_raw, 0) * 1000) div least(n_rel, 10)"),
                )
                .otherwise(F.lit(0))
                .cast("bigint")
                .alias("recall_at_10_mille"),
            )
        )
    out = rows[0]
    for df in rows[1:]:
        out = out.unionByName(df)
    return out.orderBy("qid")


def _bpe_apply_oracle() -> str:
    from datagouv_tools_spark.operators.bpe import bpe_oracle_sql

    tail = f""",
    seg AS (
      SELECT w, len(string_split(s, ' ')) AS subwords, len(w) AS chars
      FROM c6
    ),
    inst AS (SELECT source, unnest({_SQL_TOKENS}) AS w FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CAST(SUM(subwords) AS BIGINT) AS total_subwords,
           CAST((SUM(chars) * 1000) // SUM(subwords) AS BIGINT)
             AS chars_per_subword_mille,
           CAST((SUM(subwords) * 1000) // COUNT(*) AS BIGINT)
             AS subwords_per_token_mille
    FROM inst JOIN seg USING (w)
    GROUP BY source
    ORDER BY source"""
    return bpe_oracle_sql(6, _SQL_TOKENS, tail=tail)


@query("doc_bpe_apply_compression", _bpe_apply_oracle())
def doc_bpe_apply_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE round trip: train six merges on the corpus, tokenize the
    corpus with them, and report per-source subword compression (chars
    per subword, subwords per token, in integer mille). The trainer's
    final re-merged corpus IS the applied segmentation
    (``bpe_apply(words, merges)`` equality is pinned in
    tests/test_bpe.py), so — exactly like the oracle's CTE chain, whose
    ``seg`` reads ``c6`` directly — the query reuses it instead of
    re-running six fold passes over the vocabulary.

    Scale: training as in doc_bpe_train_merges (vocab-grain rounds);
    the per-source stats join instances to the |V|-row segmentation
    table (broadcastable at production vocab sizes) — corpus text is
    scanned once for instances."""
    from datagouv_tools_spark.functions.text import tokens
    from datagouv_tools_spark.operators.bpe import bpe_train

    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    _, trained = bpe_train(words, rounds=6, return_corpus=True)
    seg = trained.select(
        "w",
        F.size(F.split("s", " ")).cast("bigint").alias("subwords"),
        F.length("w").cast("bigint").alias("chars"),
    )
    inst = docs.select("source", F.explode(tokens("text")).alias("w"))
    return (
        inst.join(seg, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("chars").cast("bigint").alias("total_chars"),
            F.sum("subwords").cast("bigint").alias("total_subwords"),
            F.expr(
                "cast((sum(chars) * 1000) div sum(subwords) as bigint)"
            ).alias("chars_per_subword_mille"),
            F.expr(
                "cast((sum(subwords) * 1000) div count(1) as bigint)"
            ).alias("subwords_per_token_mille"),
        )
        .orderBy("source")
    )


def _textrank_oracle() -> str:
    from datagouv_tools_spark.operators.pagerank import textrank_oracle_sql

    return textrank_oracle_sql(3, _SQL_TOKENS)


@query("doc_textrank_keywords", _textrank_oracle())
def doc_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (operators/pagerank.py): PageRank
    over the corpus token co-occurrence graph (adjacent tokens =
    undirected weighted edges), three damped iterations in INTEGER
    fixed point so the iterative graph algorithm is value-hash-exact
    cross-engine. Top-20 tokens by rank = the corpus's keywords.

    Scale: edge building is the bigram map-side-combine count; each
    iteration shuffles |E| once (edges ⋈ ranks on src, then
    groupBy(dst)) — the canonical distributed PageRank round. The
    1-row node count is broadcast; top-20 is TakeOrdered."""
    from datagouv_tools_spark.functions.text import tokens, word_pair_structs
    from datagouv_tools_spark.operators.pagerank import pagerank_fixed_point

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("ts"))
    bg = toks.select(
        F.explode(word_pair_structs(F.col("ts"))).alias("p")
    ).select(F.col("p.x").alias("src"), F.col("p.y").alias("dst"))
    e1 = (
        bg.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = (
        # symmetrize in ONE pass: exploding both directions from each
        # aggregated edge row replaces a union whose branches each
        # re-ran the (src, dst) count aggregation
        e1.select(
            F.explode(
                F.array(
                    F.struct("src", "dst", "w"),
                    F.struct(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                        F.col("w"),
                    ),
                )
            ).alias("d")
        )
        .select("d.src", "d.dst", "d.w")
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    nodes = toks.select(F.explode("ts").alias("token")).distinct()
    ranks = pagerank_fixed_point(nodes, edges, iters=3)
    return (
        ranks.select("token", F.col("pr").alias("pr_nano"))
        .orderBy(F.desc("pr_nano"), "token")
        .limit(20)
    )


def _token_communities_oracle() -> str:
    from datagouv_tools_spark.operators.pagerank import (
        token_communities_oracle_sql,
    )

    return token_communities_oracle_sql(2, _SQL_TOKENS)


@query("doc_token_communities", _token_communities_oracle())
def doc_token_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the token co-occurrence graph
    (operators/pagerank.label_propagation): two synchronous rounds of
    weighted label propagation with a deterministic (weight desc,
    label asc) tie-break — the classic LPA randomness is engineered
    away, so even community membership is value-hash-checked
    (member_xor folds the exact member set per community).

    Scale: identical round shape to the PageRank query — |E| shuffle +
    (dst,label) combine + per-node argmax window per round, persisted
    loop invariants; top-20 communities by size is TakeOrdered."""
    from datagouv_tools_spark.functions.text import tokens, word_pair_structs
    from datagouv_tools_spark.functions.xhash import md5_hash60
    from datagouv_tools_spark.operators.pagerank import label_propagation

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("ts"))
    bg = toks.select(
        F.explode(word_pair_structs(F.col("ts"))).alias("p")
    ).select(F.col("p.x").alias("src"), F.col("p.y").alias("dst"))
    e1 = (
        bg.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = (
        # symmetrize in ONE pass (see doc_textrank_keywords above)
        e1.select(
            F.explode(
                F.array(
                    F.struct("src", "dst", "w"),
                    F.struct(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                        F.col("w"),
                    ),
                )
            ).alias("d")
        )
        .select("d.src", "d.dst", "d.w")
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    nodes = toks.select(F.explode("ts").alias("token")).distinct()
    labels = label_propagation(nodes, edges, iters=2)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.min("token").alias("min_token"),
            F.expr(
                "bit_xor(cast(conv(substring(md5(token), 1, 15), 16, 10)"
                " as bigint))"
            ).alias("member_xor"),
        )
        .orderBy(F.desc("n_tokens"), "community")
        .limit(20)
    )


def _bpe_oracle() -> str:
    from datagouv_tools_spark.operators.bpe import bpe_oracle_sql

    return bpe_oracle_sql(6, _SQL_TOKENS)


@query("doc_bpe_train_merges", _bpe_oracle())
def doc_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): six merge
    rounds of the Sennrich byte-pair-encoding algorithm over the corpus
    vocabulary, each round = corpus-wide pair count → unique argmax →
    greedy re-merge. The iterative trainer is expressed as ONE lazy
    DataFrame DAG whose per-round fold is a JVM `aggregate()` — and the
    DuckDB oracle replays the identical six rounds with `list_reduce`,
    so an intrinsically sequential algorithm is still value-hash-checked
    end to end.

    Scale: text collapses to the word vocabulary first (BPE statistics
    are a function of (word, count) only), so rounds run on |V| rows,
    not corpus rows; pair counting is map-side-combined; the winner is
    a TakeOrderedAndProject broadcast back; merging is map-local. The
    driver holds nothing but the round loop."""
    from datagouv_tools_spark.functions.text import tokens
    from datagouv_tools_spark.operators.bpe import bpe_train

    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    return bpe_train(words, rounds=6)


def _triangles_oracle() -> str:
    from datagouv_tools_spark.operators.pagerank import triangles_oracle_sql

    return triangles_oracle_sql(_SQL_TOKENS)


@query("token_graph_triangles", _triangles_oracle())
def token_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + clustering coefficients on the token
    co-occurrence graph (operators/pagerank.triangle_counts): the
    degree-oriented "forward" algorithm — every edge is oriented from
    its lower (degree, token) endpoint, so each triangle is closed
    exactly once at its lowest-ordered corner and the wedge join's
    fan-out is arboricity-bounded even on hub tokens. Per-node local
    clustering and the global coefficient are ppm fixed point, so the
    whole graph statistic is value-hash-checked.

    Scale: the three inputs to the wedge-close are the SAME oriented
    edge list (one shuffle to build, reused three ways); degree
    orientation is what makes this survive skew — a stopword adjacent
    to half the vocabulary contributes wedges only toward its few
    higher-ordered neighbors, never deg² pairs. Top-20 is
    TakeOrdered."""
    from datagouv_tools_spark.functions.text import tokens, word_pair_structs
    from datagouv_tools_spark.operators.pagerank import triangle_counts

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("ts"))
    bg = toks.select(
        F.explode(word_pair_structs(F.col("ts"))).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    und = (
        bg.filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
        )
        .distinct()
    )
    pn = triangle_counts(und)
    glob = pn.agg(
        # every triangle was exploded to its 3 corners upstream
        F.expr("sum(tri_cnt) div 3").cast("bigint").alias("n_tri_total")
    )
    deg_all = (
        # one pass: explode both endpoints instead of a union whose
        # branches would each re-run the explode+distinct edge build
        und.select(F.explode(F.array("u", "v")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    wedges = deg_all.agg(
        F.sum(F.expr("degree * (degree - 1) div 2")).cast("bigint").alias("n_wedges")
    )
    return (
        pn.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(wedges))
        .select(
            "token",
            "degree",
            "tri_cnt",
            F.expr(
                "(2 * tri_cnt * 1000000) div (degree * (degree - 1))"
            ).alias("lcc_ppm"),
            "n_tri_total",
            F.expr("(3 * n_tri_total * 1000000) div n_wedges").alias(
                "global_cc_ppm"
            ),
        )
        .orderBy(F.desc("tri_cnt"), "token")
        .limit(20)
    )


@query(
    "doc_charclass_profile",
    """
    WITH per_doc AS (
      SELECT source,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS BIGINT) AS n_letters,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
             CAST(length(text) - length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g')) AS BIGINT) AS n_space,
             CAST(length(regexp_replace(text, '[\\x20-\\x7e\\t\\n\\r]', '', 'g')) AS BIGINT) AS n_exotic
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           CAST(SUM(n_letters) AS BIGINT) AS letters,
           CAST(SUM(n_digits) AS BIGINT) AS digits,
           CAST(SUM(n_space) AS BIGINT) AS whitespace,
           CAST(SUM(n_exotic) AS BIGINT) AS exotic,
           CAST(CAST(SUM(n_letters) AS BIGINT) * 1000000
                // CAST(SUM(n_chars) AS BIGINT) AS BIGINT) AS letter_ppm,
           CAST(CAST(SUM(n_exotic) AS BIGINT) * 1000000
                // CAST(SUM(n_chars) AS BIGINT) AS BIGINT) AS exotic_ppm,
           CAST(SUM(CASE WHEN n_exotic * 1000 > n_chars THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_flagged
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def doc_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class hygiene profile per source: letters / digits /
    whitespace / "exotic" (anything outside printable ASCII + tab/CR/LF
    — mojibake, control bytes, unexpected scripts) counted by the
    length-minus-stripped trick, plus a per-source count of documents
    whose exotic share exceeds 0.1% — the cheap first-pass corpus
    screen before any tokenizer sees the data.

    Scale: pure map-local JVM regex inside codegen (no UDF), one
    map-side-combining aggregation into a per-source domain; integer
    ppm ratios, so the profile is value-hash exact cross-engine."""
    docs = t(spark, sf_dir, "documents")

    def stripped(pat: str) -> Column:
        return (
            F.length("text") - F.length(F.regexp_replace("text", pat, ""))
        ).cast("bigint")

    per_doc = docs.select(
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        stripped("[a-zA-Z]").alias("n_letters"),
        stripped("[0-9]").alias("n_digits"),
        stripped("[ \\t\\n\\r]").alias("n_space"),
        F.length(
            F.regexp_replace("text", "[\\x20-\\x7e\\t\\n\\r]", "")
        )
        .cast("bigint")
        .alias("n_exotic"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
            F.sum("n_letters").cast("bigint").alias("letters"),
            F.sum("n_digits").cast("bigint").alias("digits"),
            F.sum("n_space").cast("bigint").alias("whitespace"),
            F.sum("n_exotic").cast("bigint").alias("exotic"),
            F.expr("sum(n_letters) * 1000000 div sum(n_chars)").alias(
                "letter_ppm"
            ),
            F.expr("sum(n_exotic) * 1000000 div sum(n_chars)").alias(
                "exotic_ppm"
            ),
            F.sum(
                F.when(
                    F.col("n_exotic") * 1000 > F.col("n_chars"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_docs_flagged"),
        )
        .orderBy("source")
    )


def _kcore_oracle() -> str:
    from datagouv_tools_spark.operators.pagerank import kcore_oracle_sql

    return kcore_oracle_sql(_SQL_TOKENS, 3, 3)


@query("token_graph_kcore", _kcore_oracle())
def token_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (operators/pagerank.kcore_peel): three
    synchronous peeling rounds toward the 3-core of the token
    co-occurrence graph — the standard dense-subgraph screen (spam
    rings, keyword stuffing, community cores) next to the surface's
    PageRank / label-propagation / triangle queries. Deterministic by
    construction (no tie-breaks exist: peeling is a pure set fixpoint),
    reported as the top-20 surviving tokens by in-core degree plus the
    core's node/edge totals on every row.

    Scale: each round is one map-side-combined degree aggregation and
    two semi-joins of the edge list against the surviving-node set;
    round edges are localCheckpoint-materialized so R rounds cost R
    passes, not a lineage blow-up."""
    from datagouv_tools_spark.functions.text import tokens, word_pair_structs
    from datagouv_tools_spark.operators.pagerank import kcore_peel

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("ts"))
    bg = toks.select(
        F.explode(word_pair_structs(F.col("ts"))).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    und = (
        bg.filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v"))
        .distinct()
    )
    core = kcore_peel(und, k=3, rounds=3)
    fdeg = (
        # one pass over the peeled core instead of a union whose
        # branches would each re-run the k-core peel lineage
        core.select(F.explode(F.array("u", "v")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
    )
    tot = fdeg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_core_nodes"),
        F.expr("sum(core_deg) div 2").cast("bigint").alias("n_core_edges"),
    )
    return (
        fdeg.crossJoin(F.broadcast(tot))
        .orderBy(F.desc("core_deg"), "token")
        .limit(20)
    )


def _bfs_oracle() -> str:
    from datagouv_tools_spark.operators.pagerank import bfs_oracle_sql

    return bfs_oracle_sql(_SQL_TOKENS, "token LIKE 'a%'", 3)


@query("token_graph_bfs_hops", _bfs_oracle())
def token_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (operators/pagerank.bfs_hops):
    three synchronous min-relaxation rounds from every 'a…' token over
    the symmetrized co-occurrence graph — the Pregel distance primitive
    under impact analysis, blast-radius, and link-proximity features.
    Reported as the hop histogram with per-ring member_xor, so a single
    node at the wrong distance flips the hash; nodes beyond 3 hops
    stay NULL by contract.

    Scale: a round is one |E| equi-join against the distance vector +
    a min combine — same shape and persisted-invariant discipline as
    the PageRank loop."""
    from datagouv_tools_spark.functions.text import tokens, word_pair_structs
    from datagouv_tools_spark.operators.pagerank import bfs_hops

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("ts"))
    bg = toks.select(
        F.explode(word_pair_structs(F.col("ts"))).alias("p")
    ).select(F.col("p.x").alias("src"), F.col("p.y").alias("dst"))
    e1 = bg.filter(F.col("src") != F.col("dst"))
    # symmetrize in ONE pass over the pair stream instead of a union
    # whose branches each re-ran the word-pair explode
    edges = (
        e1.select(
            F.explode(
                F.array(
                    F.struct("src", "dst"),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("d")
        )
        .select("d.src", "d.dst")
        .distinct()
    )
    nodes = toks.select(F.explode("ts").alias("token")).distinct()
    sources = nodes.filter(F.col("token").startswith("a")).select("token")
    dist = bfs_hops(nodes, edges, sources, rounds=3)
    return (
        dist.groupBy("hops")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.min("token").alias("min_token"),
            F.expr(
                "bit_xor(cast(conv(substring(md5(token), 1, 15), 16, 10)"
                " as bigint))"
            ).alias("member_xor"),
        )
        .orderBy(F.asc_nulls_last("hops"))
    )


@query(
    "doc_token_ids_pack",
    f"""
    WITH w AS (
      SELECT doc_id, source, {_SQL_TOKENS} AS ws FROM documents
    ),
    nonempty AS (SELECT * FROM w WHERE len(ws) >= 1),
    tk AS (SELECT unnest(ws) AS tok FROM nonempty),
    vc AS (
      SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok
      ORDER BY c DESC, tok LIMIT 4095
    ),
    vocab AS (
      SELECT tok, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS id FROM vc
    ),
    long AS (
      SELECT doc_id, source, g.i AS pos, ws[g.i] AS tok
      FROM nonempty, LATERAL UNNEST(generate_series(1, len(ws))) AS g(i)
    ),
    ids AS (
      SELECT l.doc_id, l.source, l.pos, COALESCE(v.id, 0) AS id
      FROM long l LEFT JOIN vocab v USING (tok)
    ),
    perdoc AS (
      SELECT doc_id, source,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
             ('0x' || substr(md5(doc_id::VARCHAR || ':'
                || string_agg(id::VARCHAR, ',' ORDER BY pos)), 1, 15))::BIGINT
               AS doc_hash
      FROM ids GROUP BY doc_id, source
    )
    SELECT source,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(CEIL(SUM(n_tok) / 2048.0) AS BIGINT) AS n_samples,
           CAST(SUM(n_oov) AS BIGINT) AS oov_tokens,
           CAST(SUM(n_oov) * 1000000 // SUM(n_tok) AS BIGINT) AS oov_ppm,
           BIT_XOR(doc_hash) AS ids_xor
    FROM perdoc
    GROUP BY source
    ORDER BY source
    """,
)
def doc_token_ids_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dictionary-encode → pack bridge that turns a curated corpus
    into the actual pretraining artifact: a top-4095 frequency vocab
    (id = rank, OOV → 0) maps every document to its token-ID sequence,
    and per source the report carries total ids, 2048-token sample
    count, OOV rate, and a bit_xor over per-document
    md5(doc_id : id-CSV) hashes — the ENTIRE encoded stream (values
    AND intra-doc order) is value-hash-pinned, not just counts.
    Empty-token documents are excluded on both sides by contract.
    Complements doc_bpe_* (subword vocab training) and doc_pack_bins
    (bin accounting) with the id-level content artifact.

    Scale: the vocabulary rides to every row as a one-row broadcast
    MAP singleton (map_from_entries over the 4095-row vocab — the
    values-as-data pattern from k-means), so encoding is a map-local
    array transform with an O(1) JVM map probe per token: no explode,
    no per-token shuffle, no join of the corpus against the vocab. The
    per-doc hash folds the id array map-side; only (source, doc
    aggregates) shuffle."""
    from pyspark.sql.window import Window

    from datagouv_tools_spark.functions.text import tokens as _toks
    from datagouv_tools_spark.functions.xhash import md5_hash60

    w = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", _toks("text").alias("ws"))
        .filter(F.size("ws") >= 1)
    )
    vc = (
        w.select(F.explode("ws").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(4095)
    )
    vocab = vc.withColumn(
        "id",
        F.row_number().over(Window.orderBy(F.desc("c"), F.asc("tok"))),
    )
    vmap = vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct("tok", "id"))
        ).alias("m")
    )
    ids = F.transform(
        F.col("ws"),
        lambda tok: F.coalesce(F.element_at(F.col("m"), tok), F.lit(0)),
    )
    enc = w.crossJoin(F.broadcast(vmap)).select(
        "doc_id",
        "source",
        F.size("ws").cast("bigint").alias("n_tok"),
        F.size(F.filter(ids, lambda x: x == F.lit(0)))
        .cast("bigint")
        .alias("n_oov"),
        md5_hash60(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.concat_ws(
                    ",", F.transform(ids, lambda x: x.cast("string"))
                ),
            )
        ).alias("doc_hash"),
    )
    return (
        enc.groupBy("source")
        .agg(
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.ceil(F.sum("n_tok") / F.lit(2048.0))
            .cast("bigint")
            .alias("n_samples"),
            F.sum("n_oov").cast("bigint").alias("oov_tokens"),
            F.expr("cast(sum(n_oov) * 1000000 div sum(n_tok) as bigint)")
                .alias("oov_ppm"),
            F.expr("bit_xor(doc_hash)").alias("ids_xor"),
        )
        .orderBy("source")
    )


#: DuckDB twin of doc_dup_span_coverage: the same word-6-gram hashes
#: (cross-engine md5-60bit), duplicate grams by corpus-wide occurrence
#: count >= 2, and the interval union computed by the identical closed
#: form — equal-length intervals sorted by start union to
#: SUM(LEAST(k, pos - prev)) with the first start contributing k.
_SQL_DUP_SPAN_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, source, {_SQL_TOKENS} AS ts FROM documents
    ),
    base AS (SELECT doc_id, source, len(ts) AS n_toks, ts FROM d),
    occ0 AS (
      SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 5)) AS pos
      FROM base WHERE len(ts) >= 6
    ),
    occ AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(ts[pos] || ' ' || ts[pos+1] || ' ' ||
                                 ts[pos+2] || ' ' || ts[pos+3] || ' ' ||
                                 ts[pos+4] || ' ' || ts[pos+5]), 1, 15))::BIGINT AS gh
      FROM occ0
    ),
    dupg AS (SELECT gh FROM occ GROUP BY gh HAVING COUNT(*) >= 2),
    hits AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dupg USING (gh)),
    lagged AS (
      SELECT doc_id, pos,
             LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM hits
    ),
    cov AS (
      SELECT doc_id,
             CAST(SUM(LEAST(6, pos - COALESCE(prev, pos - 6))) AS BIGINT) AS covered
      FROM lagged GROUP BY doc_id
    ),
    perdoc AS (
      SELECT b.doc_id, b.source, b.n_toks, COALESCE(c.covered, 0) AS covered
      FROM base b LEFT JOIN cov c USING (doc_id)
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN covered > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(SUM(covered) AS BIGINT) AS dup_tokens,
           CASE WHEN SUM(n_toks) > 0
                THEN CAST(ROUND(SUM(covered)::DOUBLE / SUM(n_toks)::DOUBLE, 6) AS DOUBLE)
                ELSE 0.0 END AS dup_ratio,
           BIT_XOR(('0x' || substr(md5(doc_id::VARCHAR || '@' || covered::VARCHAR), 1, 15))::BIGINT) AS cover_xor
    FROM perdoc
    GROUP BY source
    ORDER BY source
    """


@query("doc_dup_span_coverage", _SQL_DUP_SPAN_ORACLE)
def doc_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    substring-dedup tier, on word 6-grams): a token position is
    duplicate-covered when it lies inside any 6-gram whose exact text
    occurs >= 2 times anywhere in the corpus (cross-document OR
    repeated within one document). This is finer than segment dedup
    (doc_segment_dedup: whole paragraphs) and catches partially-copied
    sentences that paragraph hashing misses. Per source: docs touched,
    duplicate-covered token mass, coverage ratio, and a bit_xor
    value-hash over every per-doc covered count — the full per-document
    span decision is pinned, not just corpus totals.

    Scale: gram construction is a map-local array transform; only
    (8-byte gram hash, int position) pairs ever shuffle — never text.
    Duplicate-gram selection is an algebraic count (map-side partial
    agg collapses a 10^8-times-repeated gram per task) and the join
    back is a shuffle equi-join on the hash. The interval union needs
    NO second explode: equal-length intervals union in closed form
    sum(min(k, gap)) over sorted starts, computed as a per-doc array
    fold (collect_set is bounded by a document's own gram count). One
    corpus shuffle on gh, one bounded per-doc shuffle on doc_id."""
    from datagouv_tools_spark.functions.text import tokens as _toks
    from datagouv_tools_spark.functions.xhash import md5_hash60
    from datagouv_tools_spark.operators.skew import fan_out_narrow_scan

    # per-gram md5 is compute-bound: unblock the single-split-scan case
    # (guide §2.5; no-op on multi-split inputs)
    docs = fan_out_narrow_scan(t(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", "source", _toks("text").alias("ts")
    ).withColumn("n", F.size("ts"))

    ts = F.col("ts")

    def gram_hash(i: Column) -> Column:
        return md5_hash60(
            F.concat_ws(
                " ", *[F.element_at(ts, i + F.lit(o)) for o in range(6)]
            )
        )

    occ = (
        base.filter(F.col("n") >= 6)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - F.lit(5)),
                    lambda i: F.struct(
                        i.alias("pos"), gram_hash(i).alias("gh")
                    ),
                )
            ).alias("o"),
        )
        .select("doc_id", F.col("o.pos").alias("pos"), F.col("o.gh").alias("gh"))
    )

    # same double-consumer shape as doc_dup_span_scrub: pin the compact
    # hash+ints occ so the dup-gram aggregate and the join back don't
    # each re-run the tokenize + 6-gram md5 corpus pass
    occ = occ.localCheckpoint()
    dupg = (
        occ.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gh")
    )
    hits = occ.join(dupg, "gh").select("doc_id", "pos")

    k = F.lit(6).cast("long")
    covered = (
        hits.groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("ps"))
        .select(
            "doc_id",
            F.aggregate(
                "ps",
                F.struct(
                    F.lit(0).cast("long").alias("c"),
                    F.lit(-1000000).cast("long").alias("prev"),
                ),
                lambda acc, p: F.struct(
                    (
                        acc["c"]
                        + F.least(k, p.cast("long") - acc["prev"])
                    ).alias("c"),
                    p.cast("long").alias("prev"),
                ),
                lambda acc: acc["c"],
            ).alias("covered"),
        )
    )

    perdoc = (
        base.select("doc_id", "source", F.col("n").cast("long").alias("n_toks"))
        .join(covered, "doc_id", "left")
        .withColumn("covered", F.coalesce(F.col("covered"), F.lit(0).cast("long")))
    )
    xk = md5_hash60(
        F.concat_ws(
            "@", F.col("doc_id").cast("string"), F.col("covered").cast("string")
        )
    )
    return (
        perdoc.withColumn("__xk", xk)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("covered") > 0).cast("int"))
            .cast("bigint")
            .alias("n_docs_hit"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.sum("covered").cast("bigint").alias("dup_tokens"),
            F.when(
                F.sum("n_toks") > 0,
                F.round(
                    F.sum("covered").cast("double")
                    / F.sum("n_toks").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_ratio"),
            F.expr("bit_xor(__xk)").alias("cover_xor"),
        )
        .orderBy("source")
    )


#: DuckDB twin of doc_dup_span_scrub. Canonical occurrence of a
#: duplicated gram = min (doc_id, pos); every OTHER occurrence's 6
#: token positions are removed; cleaned text = surviving tokens in
#: order. Remove-wins on overlap with a canonical span (the scrub is
#: aggressive by contract).
_SQL_DUP_SPAN_SCRUB_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, source, {_SQL_TOKENS} AS ts FROM documents
    ),
    base AS (SELECT doc_id, source, len(ts) AS n_toks, ts FROM d),
    occ0 AS (
      SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 5)) AS pos
      FROM base WHERE len(ts) >= 6
    ),
    occ AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(ts[pos] || ' ' || ts[pos+1] || ' ' ||
                                 ts[pos+2] || ' ' || ts[pos+3] || ' ' ||
                                 ts[pos+4] || ' ' || ts[pos+5]), 1, 15))::BIGINT AS gh
      FROM occ0
    ),
    dup AS (
      SELECT gh, doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn,
             COUNT(*) OVER (PARTITION BY gh) AS cnt
      FROM occ
    ),
    noncanon AS (SELECT doc_id, pos FROM dup WHERE cnt >= 2 AND rn > 1),
    removed AS (
      SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 5)) AS p
      FROM noncanon
    ),
    tok AS (
      SELECT doc_id, source, n_toks,
             unnest(ts) AS tk,
             unnest(generate_series(1, len(ts))) AS p
      FROM base
    ),
    kept AS (
      SELECT t2.doc_id, t2.source, t2.n_toks, t2.tk, t2.p
      FROM tok t2 LEFT JOIN removed r ON r.doc_id = t2.doc_id AND r.p = t2.p
      WHERE r.p IS NULL
    ),
    perdoc AS (
      SELECT b.doc_id, b.source, b.n_toks,
             COALESCE(k.n_kept, 0) AS n_kept,
             COALESCE(k.cleaned, '') AS cleaned
      FROM base b LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tk, ' ' ORDER BY p) AS cleaned
        FROM kept GROUP BY doc_id
      ) k USING (doc_id)
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_kept < n_toks THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_changed,
           CAST(SUM(n_toks - n_kept) AS BIGINT) AS tokens_removed,
           BIT_XOR(('0x' || substr(md5(doc_id::VARCHAR || '#' || cleaned), 1, 15))::BIGINT)
             AS cleaned_xor
    FROM perdoc
    GROUP BY source
    ORDER BY source
    """


@query("doc_dup_span_scrub", _SQL_DUP_SPAN_SCRUB_ORACLE)
def doc_dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL (the transform, where
    doc_dup_span_coverage is the audit — the same pairing as
    doc_segment_dedup / doc_boilerplate_scrub): every occurrence of a
    duplicated word-6-gram EXCEPT the corpus-wide canonical first
    (min (doc_id, pos) per gram) has its 6 token positions cut, and
    each document is reassembled from the surviving tokens — the Lee
    et al. 2022 "train on each substring once" transform. Remove wins
    over overlap with a canonical span by contract. Per source: docs
    changed, token mass removed, and a bit_xor value-hash of every
    cleaned (doc_id, text) pair — the output corpus is pinned, not
    just counts.

    Scale: same hash-only shuffle discipline as the audit (grams
    shuffle as 8-byte hashes + int positions; canonical selection is
    an algebraic min-struct per gram, skew-collapsed map-side); the
    removed-position set folds to a bounded per-doc array (a doc's own
    positions), and reassembly is one equi-join of that array back to
    the base scan + a map-local array filter — text never shuffles
    except the final per-doc cleaned string into the source rollup."""
    from datagouv_tools_spark.functions.text import tokens as _toks
    from datagouv_tools_spark.functions.xhash import md5_hash60
    from datagouv_tools_spark.operators.skew import fan_out_narrow_scan

    # per-gram md5 is compute-bound: unblock the single-split-scan case
    # (guide §2.5; no-op on multi-split inputs)
    docs = fan_out_narrow_scan(t(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", "source", _toks("text").alias("ts")
    ).withColumn("n", F.size("ts"))
    ts = F.col("ts")

    def gram_hash(i: Column) -> Column:
        return md5_hash60(
            F.concat_ws(
                " ", *[F.element_at(ts, i + F.lit(o)) for o in range(6)]
            )
        )

    occ = (
        base.filter(F.col("n") >= 6)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - F.lit(5)),
                    lambda i: F.struct(
                        i.alias("pos"), gram_hash(i).alias("gh")
                    ),
                )
            ).alias("o"),
        )
        .select("doc_id", F.col("o.pos").alias("pos"), F.col("o.gh").alias("gh"))
    )
    # occ feeds BOTH the canonical-selection aggregate and the join
    # back — without a pin each consumer re-runs the tokenize + 6-gram
    # md5 pass over the corpus (measured: 3 document scans, 0 reused
    # exchanges). occ is hashes + ints only (no text), the compact
    # thing to materialize.
    occ = occ.localCheckpoint()
    per_gram = occ.groupBy("gh").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    noncanon = (
        occ.join(per_gram.filter(F.col("cnt") >= 2), "gh")
        .filter(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select("doc_id", "pos")
    )
    removed = (
        noncanon.select(
            "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(5))).alias("p")
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("rm"))
    )
    joined = base.join(removed, "doc_id", "left").withColumn(
        "rm", F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    )
    kept_pos = F.filter(
        F.sequence(F.lit(1), F.col("n")),
        lambda p: ~F.array_contains(F.col("rm"), p),
    )
    cleaned = F.concat_ws(
        " ", F.transform(kept_pos, lambda p: F.element_at(ts, p))
    )
    perdoc = joined.select(
        "doc_id",
        "source",
        F.col("n").cast("long").alias("n_toks"),
        F.when(F.col("n") > 0, F.size(kept_pos).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("n_kept"),
        F.when(F.col("n") > 0, cleaned).otherwise(F.lit("")).alias("cleaned"),
    )
    xk = md5_hash60(
        F.concat_ws("#", F.col("doc_id").cast("string"), F.col("cleaned"))
    )
    return (
        perdoc.withColumn("__xk", xk)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_kept") < F.col("n_toks")).cast("int"))
            .cast("bigint")
            .alias("n_docs_changed"),
            F.sum(F.col("n_toks") - F.col("n_kept"))
            .cast("bigint")
            .alias("tokens_removed"),
            F.expr("bit_xor(__xk)").alias("cleaned_xor"),
        )
        .orderBy("source")
    )


#: DuckDB twin of doc_prefix_jaccard_join: brute-force over the SAME
#: hashed 6-gram shingle sets with the exact integer length filter
#: (J ≥ 3/5 and |a|≤|b| ⟹ 5|a| ≥ 3|b|) and the same integer
#: cross-multiplied threshold — the semantics statement; the Spark
#: side's prefix filter must return the identical pair set.
_SQL_PREFIX_JACCARD_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents
    ),
    s0 AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ts) - 5),
                 i -> ('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' ||
                                          ts[i+2] || ' ' || ts[i+3] || ' ' ||
                                          ts[i+4] || ' ' || ts[i+5]), 1, 15))::BIGINT)) AS sh
      FROM d WHERE len(ts) >= 6
    ),
    s AS (SELECT doc_id, sh, len(sh) AS n FROM s0 WHERE len(sh) >= 1),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.sh, b.sh)) AS inter,
             a.n + b.n AS nsum
      FROM s a JOIN s b
        ON a.doc_id < b.doc_id
       AND 5 * LEAST(a.n, b.n) >= 3 * GREATEST(a.n, b.n)
    ),
    p AS (
      SELECT id_a, id_b,
             CAST(inter AS BIGINT) AS inter,
             CAST(nsum - inter AS BIGINT) AS uni
      FROM cand
    )
    SELECT id_a, id_b, inter, uni,
           CAST(ROUND(inter::DOUBLE / uni::DOUBLE, 6) AS DOUBLE) AS jaccard
    FROM p WHERE 5 * inter >= 3 * uni
    ORDER BY id_a, id_b
    """


@query("doc_prefix_jaccard_join", _SQL_PREFIX_JACCARD_ORACLE)
def doc_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide EXACT set-similarity join at shingle Jaccard ≥ 3/5
    via prefix filtering (operators/dedup.prefix_filter_jaccard_pairs
    — AllPairs/PPJoin): the exact-dedup tier between the O(n²) block
    verifier (doc_jaccard_pairs) and approximate MinHash banding
    (minhash_candidate_pairs). Sets are hashed word-6-gram shingles
    (unigrams are non-discriminative on this template-heavy corpus:
    57% of all pairs clear 0.6 on unigrams vs exactly the true
    near-dups on shingles). Every threshold decision is integer
    arithmetic (rational 3/5, cross-multiplied), so the pair set is
    bit-deterministic; the oracle recomputes it brute-force with the
    exact length filter.

    Scale: candidates come from equi-joining only each set's
    rarest-first PREFIX shingle hashes (|s| - ceil(t·|s|) + 1 of
    them) — the completeness guarantee keeps recall at 100% while
    collision buckets stay smallest-possible; the corpus never
    block-crosses and only 8-byte hashes shuffle.
    """
    from datagouv_tools_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = t(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", shingle_len=6, threshold_num=3, threshold_den=5
    ).orderBy("id_a", "id_b")


@query(
    "doc_heavy_hitters_verified",
    f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKENS}) AS tok FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM toks),
    cells AS (
      SELECT i, ('0x' || substr(md5(tok), 1 + i * 7, 7))::BIGINT
               % 1024 AS idx,
             COUNT(*) AS c
      FROM toks, (SELECT unnest([0, 1, 2, 3]) AS i)
      GROUP BY i, idx
    ),
    hh AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM toks GROUP BY tok
      HAVING COUNT(*) * 256 >= (SELECT n FROM tot)
    ),
    probes AS (
      SELECT tok, n_exact, i,
             ('0x' || substr(md5(tok), 1 + i * 7, 7))::BIGINT
               % 1024 AS idx
      FROM hh, (SELECT unnest([0, 1, 2, 3]) AS i)
    )
    SELECT tok, MAX(n_exact) AS n_exact,
           CAST(MIN(c) AS BIGINT) AS n_est
    FROM probes JOIN cells USING (i, idx)
    GROUP BY tok
    ORDER BY n_exact DESC, tok
    """,
)
def doc_heavy_hitters_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PHASE exact heavy hitters (the sketch-then-verify pattern):
    phase 1 builds the 4×1024 count-min sketch in one map-side-combined
    pass; phase 2 re-scans the token stream, probes the BROADCAST
    sketch map-locally, and drops every occurrence whose estimate is
    below the φ=1/256 support threshold BEFORE the exact-count shuffle.
    CMS never undercounts, so the candidate set provably contains every
    true heavy hitter; the exact filter afterwards removes the sketch's
    false positives — output is exactly {{tok : count·256 ≥ N}} with
    the estimate alongside (overcount visible).

    Scale: the vocabulary-sized groupBy is the scale-killer this
    avoids — at web scale the exact shuffle touches only occurrences
    of ~φ⁻¹ candidate tokens (here 256), not billions of distinct
    keys; the sketch and the scalar total are 4096+1 broadcast
    values."""
    from datagouv_tools_spark.functions.text import tokens as _toks
    from datagouv_tools_spark.operators.sketches import (
        cms_cells_single_digest,
    )

    # No localCheckpoint of the token stream: materializing a
    # CORPUS-sized explode to executor-local disk is the 100 TB
    # anti-pattern (write + three re-reads of every token). The stream
    # is recomputed by each of the two remaining passes — map-only
    # work — and the scalar total is DERIVED from the sketch itself
    # (each token increments exactly one cell per row, so the row-0
    # cell counts sum to N), which deletes the separate count pass and
    # one of the two broadcasts. Measured 5.2 s → 3.7 s at sf0.1,
    # byte-identical output.
    from datagouv_tools_spark.operators.skew import fan_out_narrow_scan

    # both remaining passes run a per-token md5 kernel over the explode:
    # unblock the single-split-scan case (guide §2.5; no-op on
    # multi-split inputs)
    toks = fan_out_narrow_scan(t(spark, sf_dir, "documents")).select(
        F.explode(_toks("text")).alias("tok")
    )
    cells = cms_cells_single_digest(toks)
    cellmap = cells.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("i") * 1024 + F.col("idx")).alias("k"),
                    F.col("c").alias("v"),
                )
            )
        ).alias("m"),
        F.sum(F.when(F.col("i") == 0, F.col("c")))
        .cast("bigint")
        .alias("n"),
    )
    digest = F.md5(F.col("tok"))
    est = F.least(
        *[
            F.coalesce(
                F.element_at(
                    F.col("m"),
                    F.lit(i * 1024)
                    + F.conv(F.substring(digest, 1 + 7 * i, 7), 16, 10).cast(
                        "bigint"
                    )
                    % 1024,
                ),
                F.lit(0).cast("bigint"),
            )
            for i in range(4)
        ]
    )
    cand = (
        toks.crossJoin(F.broadcast(cellmap))
        .select("tok", est.alias("n_est"), "n")
        .filter(F.col("n_est") * 256 >= F.col("n"))
    )
    return (
        cand.groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.min("n_est").cast("bigint").alias("n_est"),
            F.max("n").alias("n_tot"),
        )
        .filter(F.col("n_exact") * 256 >= F.col("n_tot"))
        .select("tok", "n_exact", "n_est")
        .orderBy(F.desc("n_exact"), "tok")
    )


def _minhash_eval_oracle() -> str:
    return (
        _sql_minhash_cand_cte()
        + """,
    sizes AS (SELECT doc_id, len(ts) AS sz FROM toks),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.ts, b.ts)) AS ix
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT i.id_a, i.id_b, i.ix,
             sa.sz + sb.sz - i.ix AS un,
             CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS in_cand
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      LEFT JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
    )
    SELECT t.thr AS thr_mille,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
           CAST(COUNT(*) FILTER (p.ix * 1000 >= t.thr * p.un) AS BIGINT)
             AS n_truth,
           CAST(COALESCE(SUM(p.in_cand)
                  FILTER (p.ix * 1000 >= t.thr * p.un), 0) AS BIGINT) AS tp,
           CAST(COALESCE(SUM(p.in_cand)
                  FILTER (p.ix * 1000 >= t.thr * p.un), 0) * 1000
                // (SELECT COUNT(*) FROM cand) AS BIGINT)
             AS precision_mille,
           CAST(CASE WHEN COUNT(*) FILTER (p.ix * 1000 >= t.thr * p.un) = 0
                THEN -1
                ELSE COALESCE(SUM(p.in_cand)
                       FILTER (p.ix * 1000 >= t.thr * p.un), 0) * 1000
                     // COUNT(*) FILTER (p.ix * 1000 >= t.thr * p.un)
                END AS BIGINT) AS recall_mille
    FROM pairs p, (SELECT unnest([300, 500, 700]) AS thr) t
    GROUP BY t.thr
    ORDER BY thr_mille"""
    )


@query("doc_minhash_eval", _minhash_eval_oracle())
def doc_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality EVAL for the MinHash-LSH near-dup front: the
    k=64/16-band candidate set is scored against exact token-set
    Jaccard ground truth at three thresholds (0.3/0.5/0.7) —
    TP/precision/recall in exact integer mille (j ≥ θ tested as
    ix·1000 ≥ θ_mille·union, no float). The text-modality twin of
    emb_dedup_threshold_sweep: it quantifies what the banding recalls
    before anyone trusts it as a dedup front.

    Scale: ground truth is quadratic BY DESIGN (that is what makes it
    truth) and therefore runs on a pinned 100-doc audit slice — the
    production pattern is exactly this: sample a slice, compute exact
    truth locally, score the sketch front, alarm on recall drift. The
    candidate side reuses the linear banding join unchanged."""
    from datagouv_tools_spark.functions.text import tokens as _toks
    from datagouv_tools_spark.operators.dedup import minhash_pairs

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    cand = minhash_pairs(
        docs, "text", "doc_id", k=64, bands=16, token_hash="md5",
        band_key="values",
    ).localCheckpoint(eager=True)
    tok_sets = docs.select(
        "doc_id", F.array_distinct(_toks("text")).alias("ts")
    )
    sizes = tok_sets.select("doc_id", F.size("ts").alias("sz"))
    ex = tok_sets.select("doc_id", F.explode("ts").alias("tok"))
    inter = (
        ex.alias("a")
        .join(ex.alias("b"), "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("ix"))
    )
    pairs = (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("doc_id", "id_a")), "id_a"
        )
        .withColumnRenamed("sz", "sza")
        .join(
            F.broadcast(
                sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                    "sz", "szb"
                )
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "ix",
            (F.col("sza") + F.col("szb") - F.col("ix")).alias("un"),
        )
        .join(
            cand.select("id_a", "id_b", F.lit(1).alias("in_cand")),
            ["id_a", "id_b"],
            "left",
        )
        .fillna(0, subset=["in_cand"])
    )
    n_cand = cand.count()
    # One grouped aggregation over an exploded thresholds array, not a
    # union of three per-threshold aggregates: union branches do NOT
    # share lineage, so the 3-way union re-derived the whole exact-truth
    # pair pipeline once per threshold (same reasoning as the r11
    # union-of-selects -> explode rewrites). Identical three rows out.
    truth = F.col("ix") * 1000 >= F.col("thr_mille") * F.col("un")
    agg = (
        pairs.select(
            "ix",
            "un",
            "in_cand",
            F.explode(F.expr("array(300L, 500L, 700L)")).alias("thr_mille"),
        )
        .groupBy("thr_mille")
        .agg(
            F.sum(F.when(truth, 1).otherwise(0))
            .cast("bigint")
            .alias("n_truth"),
            F.sum(F.when(truth, F.col("in_cand")).otherwise(0))
            .cast("bigint")
            .alias("tp"),
        )
    )
    # Left join from a literal 3-row thresholds frame: the pre-r11
    # union-of-aggregates form emitted one row per threshold even on an
    # EMPTY pair set (a global aggregate always yields a row); the
    # explode+groupBy rewrite alone would return zero rows there. The
    # guaranteed-row join restores that contract; on non-empty input
    # the agg has exactly these three keys, so rows are identical.
    thrs = spark.range(1).select(
        F.explode(F.expr("array(300L, 500L, 700L)")).alias("thr_mille")
    )
    return (
        thrs.join(agg, "thr_mille", "left")
        .select(
            "thr_mille",
            F.lit(n_cand).cast("bigint").alias("n_cand"),
            F.coalesce("n_truth", F.lit(0).cast("bigint")).alias("n_truth"),
            F.coalesce("tp", F.lit(0).cast("bigint")).alias("tp"),
        )
        .select(
            "thr_mille",
            "n_cand",
            "n_truth",
            "tp",
            F.expr(f"cast(tp * 1000 div {n_cand} as bigint)").alias(
                "precision_mille"
            ),
            F.expr(
                "cast(case when n_truth = 0 then -1"
                " else tp * 1000 div n_truth end as bigint)"
            ).alias("recall_mille"),
        )
        .orderBy("thr_mille")
    )


@query(
    "doc_chunk_windows",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_SQL_TOKENS} AS ts FROM documents
    ),
    n AS (
      SELECT doc_id, source, ts, len(ts) AS nt,
             CASE WHEN len(ts) <= 128 THEN 1
                  ELSE 1 + CAST(CEIL((len(ts) - 128) / 96.0) AS BIGINT)
             END AS n_chunks
      FROM toks
    ),
    ch AS (
      SELECT doc_id, source, nt, n_chunks,
             array_to_string(
               list_slice(ts, (g.i - 1) * 96 + 1,
                          LEAST((g.i - 1) * 96 + 128, nt)), ' ') AS chunk
      FROM n, LATERAL UNNEST(generate_series(1, n_chunks)) g(i)
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(len(string_split(chunk, ' '))) AS BIGINT)
             AS n_chunk_tokens,
           CAST(bit_xor(('0x' || substr(md5(chunk), 1, 15))::BIGINT)
                AS BIGINT) AS chunk_xor
    FROM ch GROUP BY source ORDER BY source
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep CHUNKING: every document splits into overlapping token
    windows (128-token chunks, 96-token stride = 32-token overlap,
    short docs → one chunk), and each source reports doc/chunk/token
    totals plus the bit_xor of the 60-bit chunk-text hashes — the
    checksum pins EVERY chunk boundary bit-exactly, so an off-by-one in
    stride or slice bounds anywhere fails the hash.

    Scale: chunking is a map-local array computation (slice bounds from
    one sequence expression — no explode of raw tokens, only of chunk
    indexes), and chunks shuffle only as 8-byte hashes into the
    per-source XOR; the chunk texts themselves would stream straight to
    the embedding/indexing stage in production."""
    from datagouv_tools_spark.functions.text import tokens as _toks

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", _toks("text").alias("ts")
    )
    n = d.select(
        "doc_id",
        "source",
        "ts",
        F.size("ts").cast("bigint").alias("nt"),
        F.when(F.size("ts") <= 128, F.lit(1).cast("bigint"))
        .otherwise(
            1 + F.ceil((F.size("ts") - 128) / F.lit(96.0)).cast("bigint")
        )
        .alias("n_chunks"),
    )
    ch = n.select(
        "doc_id",
        "source",
        "ts",
        "nt",
        "n_chunks",
        F.explode(F.sequence(F.lit(1), F.col("n_chunks"))).alias("i"),
    ).select(
        "doc_id",
        "source",
        F.array_join(
            F.slice(
                F.col("ts"),
                (F.col("i") - 1) * 96 + 1,
                F.least(
                    F.lit(128),
                    F.col("nt") - (F.col("i") - 1) * 96,
                ),
            ),
            " ",
        ).alias("chunk"),
    )
    from datagouv_tools_spark.functions.xhash import md5_hash60

    return (
        ch.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.size(F.split(F.col("chunk"), " ")))
            .cast("bigint")
            .alias("n_chunk_tokens"),
            F.bit_xor(md5_hash60("chunk")).cast("bigint").alias("chunk_xor"),
        )
        .orderBy("source")
    )


@query(
    "doc_zipf_spectrum",
    f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKENS}) AS tok FROM documents
    ),
    tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok)
    SELECT CASE WHEN c <= 20 THEN c ELSE -1 END AS freq,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c) AS BIGINT) AS n_occurrences
    FROM tc
    GROUP BY 1
    ORDER BY freq
    """,
)
def doc_zipf_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequency SPECTRUM of the corpus vocabulary (the
    Zipf/Good-Turing profile): how many token types occur exactly once
    (hapax legomena), twice, … up to 20, with the heavy tail folded
    into one bucket (freq = -1). The hapax share drives vocabulary
    pruning, Good-Turing smoothing mass, and OOV-rate forecasts for
    tokenizer sizing.

    Scale: two map-side-combined aggregations (token counts, then
    count-of-counts); the second input is |vocabulary| rows and the
    output is ≤ 21 rows regardless of corpus size."""
    from datagouv_tools_spark.functions.text import tokens as _toks

    tc = (
        t(spark, sf_dir, "documents")
        .select(F.explode(_toks("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return (
        tc.groupBy(
            F.when(F.col("c") <= 20, F.col("c"))
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("freq")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum("c").cast("bigint").alias("n_occurrences"),
        )
        .orderBy("freq")
    )


@query(
    "doc_heaps_law",
    f"""
    WITH mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    toks AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents
    )
    SELECT q.q AS quartile,
           CAST(COUNT(DISTINCT CASE WHEN t.doc_id * 4 < mx.m * q.q
                                    THEN t.doc_id END) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN t.doc_id * 4 < mx.m * q.q
                           THEN 1 END) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT CASE WHEN t.doc_id * 4 < mx.m * q.q
                                    THEN t.tok END) AS BIGINT) AS n_types
    FROM toks t, mx, (SELECT unnest([1, 2, 3, 4]) AS q) q
    GROUP BY q.q
    ORDER BY quartile
    """,
)
def doc_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary GROWTH curve: distinct token types vs
    tokens seen at four corpus checkpoints (doc_id quartiles of the id
    range) — the curve that forecasts vocabulary size, tokenizer OOV
    rates, and dedup-structure growth as a crawl scales. Checkpoints
    are pure integer predicates (doc_id·4 < max·q), so the curve is
    exactly reproducible.

    Scale: one exploded-token pass with four conditional aggregates
    (map-side combined); the distinct-type counts are the only
    vocabulary-sized state, which is precisely what the curve is
    measuring — production swaps them for the KMV sketch
    (events_distinct_sketch) above memory bounds, same four
    predicates."""
    from datagouv_tools_spark.functions.text import tokens as _toks

    docs = t(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    toks = docs.select("doc_id", F.explode(_toks("text")).alias("tok"))
    qs = spark.range(1, 5).select(F.col("id").cast("int").alias("q"))
    cond = F.col("doc_id") * 4 < F.col("m") * F.col("q")
    return (
        toks.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(qs))
        .groupBy(F.col("q").cast("bigint").alias("quartile"))
        .agg(
            F.countDistinct(F.when(cond, F.col("doc_id")))
            .cast("bigint")
            .alias("n_docs"),
            F.count(F.when(cond, 1)).cast("bigint").alias("n_tokens"),
            F.countDistinct(F.when(cond, F.col("tok")))
            .cast("bigint")
            .alias("n_types"),
        )
        .orderBy("quartile")
    )


@query(
    "token_graph_link_prediction",
    f"""
    WITH toks AS (
      SELECT {_SQL_TOKENS} AS ts FROM documents
    ),
    bg AS (
      SELECT ts[i] AS x, ts[i+1] AS y
      FROM toks, LATERAL UNNEST(generate_series(1, len(ts) - 1)) g(i)
      WHERE len(ts) >= 2
    ),
    und AS (
      SELECT DISTINCT LEAST(x, y) AS u, GREATEST(x, y) AS v
      FROM bg WHERE x <> y
    ),
    adj AS (
      SELECT u AS a, v AS b FROM und
      UNION ALL
      SELECT v AS a, u AS b FROM und
    ),
    deg AS (SELECT a AS token, CAST(COUNT(*) AS BIGINT) AS degree
            FROM adj GROUP BY a),
    mids AS (
      SELECT adj.b AS z, adj.a, deg.degree
      FROM adj JOIN deg ON deg.token = adj.b
      WHERE deg.degree <= 64
    ),
    wedges AS (
      SELECT m1.a AS ta, m2.a AS tb,
             CAST(COUNT(*) AS BIGINT) AS cn,
             CAST(SUM(1000000 // m1.degree) AS BIGINT) AS ra_ppm
      FROM mids m1 JOIN mids m2
        ON m1.z = m2.z AND m1.a < m2.a
      GROUP BY m1.a, m2.a
    ),
    preds AS (
      SELECT w.ta, w.tb, w.cn, w.ra_ppm
      FROM wedges w LEFT JOIN und e ON e.u = w.ta AND e.v = w.tb
      WHERE e.u IS NULL
    )
    SELECT ta, tb, cn, ra_ppm
    FROM preds
    ORDER BY cn DESC, ra_ppm DESC, ta, tb
    LIMIT 20
    """,
)
def token_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION on the token co-occurrence graph: for
    non-adjacent token pairs, common-neighbor count plus the
    resource-allocation index (Σ 1/deg(z) over shared neighbors z — the
    Zhou-Lü-Zhang predictor) in exact integer ppm, top-20. Middles are
    capped at degree ≤ 64: hub tokens (stopwords adjacent to half the
    vocabulary) are uninformative AND the skew bomb — the cap is both
    the statistical downweight and the deg² fan-out bound.

    Scale: one edge-list shuffle builds adjacency + degrees; the wedge
    self-join fans out Σ_z deg(z)² only over capped middles; existing
    edges drop by anti-join; top-20 is TakeOrdered. The same shape at
    any vocabulary."""
    from datagouv_tools_spark.functions.text import tokens, word_pair_structs

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("ts"))
    bg = toks.select(
        F.explode(word_pair_structs(F.col("ts"))).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    und = (
        bg.filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    adj = und.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
            )
        ).alias("d")
    ).select("d.a", "d.b")
    deg = adj.groupBy(F.col("a").alias("token")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    mids = (
        adj.join(deg, adj["b"] == deg["token"])
        .filter(F.col("degree") <= 64)
        .select(F.col("b").alias("z"), "a", "degree")
    )
    m1 = mids.select(
        F.col("z"), F.col("a").alias("ta"), F.col("degree").alias("dz")
    )
    m2 = mids.select(F.col("z"), F.col("a").alias("tb"))
    wedges = (
        m1.join(m2, "z")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(F.expr("1000000 div dz")).cast("bigint").alias("ra_ppm"),
        )
    )
    preds = wedges.join(
        und,
        (und["u"] == wedges["ta"]) & (und["v"] == wedges["tb"]),
        "left_anti",
    )
    return preds.orderBy(
        F.desc("cn"), F.desc("ra_ppm"), "ta", "tb"
    ).limit(20)


@query(
    "doc_dataset_card",
    f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({_SQL_TOKENS}) AS tok FROM documents
    ),
    fp AS (SELECT doc_id, {_SQL_FP} AS fp FROM documents),
    dup AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique
      FROM fp
    ),
    tok_stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM toks
    ),
    hapax AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_hapax
      FROM (SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) = 1)
    )
    SELECT d.n_docs,
           t.n_sources,
           t.n_tokens,
           t.n_types,
           CAST(t.n_tokens * 1000 // d.n_docs AS BIGINT)
             AS tokens_per_doc_mille,
           CAST((d.n_docs - d.n_unique) * 1000 // d.n_docs AS BIGINT)
             AS exact_dup_mille,
           CAST(h.n_hapax * 1000 // t.n_types AS BIGINT)
             AS hapax_share_mille
    FROM dup d, tok_stats t, hapax h
    """,
)
def doc_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATASET CARD in one row — the datasheet numbers a corpus
    release ships with (Gebru et al.'s datasheets, reduced to the
    computable core): doc/source/token/type counts, mean tokens per doc
    (mille), exact-duplicate share by normalized fingerprint (mille),
    and hapax share of the vocabulary (mille) — all integer-exact and
    reproducible by construction.

    Scale: one token pass + one fingerprint pass, every statistic an
    algebraic aggregate (the distinct counts swap for KMV sketches
    above memory bounds); the card is the cheap always-on artifact
    that should accompany every corpus snapshot."""
    from datagouv_tools_spark.functions.text import (
        fingerprint_md5,
        tokens as _toks,
    )

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(_toks("text")).alias("tok")
    )
    fp = docs.select(fingerprint_md5("text").alias("fp"))
    dup = fp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_unique"),
    )
    tok_stats = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("tok").cast("bigint").alias("n_types"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    hapax = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hapax"))
    )
    return (
        dup.crossJoin(F.broadcast(tok_stats))
        .crossJoin(F.broadcast(hapax))
        .select(
            "n_docs",
            "n_sources",
            "n_tokens",
            "n_types",
            F.expr("cast(n_tokens * 1000 div n_docs as bigint)").alias(
                "tokens_per_doc_mille"
            ),
            F.expr(
                "cast((n_docs - n_unique) * 1000 div n_docs as bigint)"
            ).alias("exact_dup_mille"),
            F.expr("cast(n_hapax * 1000 div n_types as bigint)").alias(
                "hapax_share_mille"
            ),
        )
    )


_RAKE_STOPS = (
    "'the','a','of','and','to','in','is','on','for','with'"
)


@query(
    "doc_rake_keyphrases",
    f"""
    WITH toks AS (
      SELECT doc_id, g.i AS pos, ts[g.i] AS tok,
             CASE WHEN ts[g.i] IN ({_RAKE_STOPS}) THEN 1 ELSE 0 END
               AS is_stop
      FROM (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
           LATERAL UNNEST(generate_series(1, len(ts))) g(i)
    ),
    isl AS (
      SELECT doc_id, pos, tok, is_stop,
             SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS island
      FROM toks
    ),
    runs AS (
      SELECT doc_id, pos, tok, island FROM isl WHERE is_stop = 0
    ),
    phrases AS (
      SELECT doc_id, island,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen,
             list(tok ORDER BY pos) AS members
      FROM runs GROUP BY doc_id, island
      HAVING COUNT(*) <= 4
    ),
    words AS (
      SELECT unnest(members) AS w, plen FROM phrases
    ),
    wscore AS (
      SELECT w,
             CAST(SUM(plen) * 1000 // COUNT(*) AS BIGINT) AS score_mille
      FROM words GROUP BY w
    ),
    pscore AS (
      SELECT p.phrase,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(MAX(s.total) AS BIGINT) AS score_mille
      FROM phrases p
      JOIN (
        SELECT phrase, doc_id, island, SUM(ws.score_mille) AS total
        FROM (SELECT phrase, doc_id, island, unnest(members) AS w
              FROM phrases) pm
        JOIN wscore ws ON ws.w = pm.w
        GROUP BY phrase, doc_id, island
      ) s ON s.phrase = p.phrase AND s.doc_id = p.doc_id
         AND s.island = p.island
      GROUP BY p.phrase
    )
    SELECT phrase, n_occurrences, score_mille
    FROM pscore
    ORDER BY score_mille DESC, phrase
    LIMIT 20
    """,
)
def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) in exact integers:
    candidate phrases are maximal stopword-delimited token runs (≤4
    words), word scores are degree/frequency in floor mille (degree =
    Σ phrase length over containing phrases), and a phrase scores the
    sum of its members' mille scores — the co-occurrence-based
    extractor that complements TextRank's graph ranking, with zero
    float anywhere.

    Scale: one exploded-token window pass builds runs (stop-count
    islands), word stats aggregate map-side, and phrase scoring joins
    the |phrase-instances| relation against the |vocabulary| score
    table — both corpus-linear; top-20 is TakeOrdered."""
    from pyspark.sql.window import Window

    from datagouv_tools_spark.functions.text import tokens as _toks

    stops = [s.strip("'") for s in _RAKE_STOPS.split(",")]
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(_toks("text")).alias("pos", "tok")
    )
    toks = d.select(
        "doc_id",
        "pos",
        "tok",
        F.when(F.col("tok").isin(stops), 1).otherwise(0).alias("is_stop"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = (
        toks.select(
            "doc_id",
            "pos",
            "tok",
            F.sum("is_stop").over(w).alias("island"),
            "is_stop",
        )
        .filter(F.col("is_stop") == 0)
        .drop("is_stop")
    )
    phrases = (
        runs.groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("plen"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ).alias("members"),
        )
        .filter(F.col("plen") <= 4)
        .localCheckpoint(eager=True)
    )
    words = phrases.select(
        F.explode("members").alias("w"), "plen"
    )
    wscore = words.groupBy("w").agg(
        F.expr("cast(sum(plen) * 1000 div count(1) as bigint)").alias(
            "score_mille"
        )
    )
    inst = phrases.select(
        "phrase", "doc_id", "island", F.explode("members").alias("w")
    )
    inst_score = (
        inst.join(wscore, "w")
        .groupBy("phrase", "doc_id", "island")
        .agg(F.sum("score_mille").alias("total"))
    )
    return (
        phrases.join(inst_score, ["phrase", "doc_id", "island"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.max("total").cast("bigint").alias("score_mille"),
        )
        .orderBy(F.desc("score_mille"), "phrase")
        .limit(20)
    )
