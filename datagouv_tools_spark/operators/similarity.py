"""Similarity search over embedding columns (array<float>).

Tiers, exact first:

- ``cosine_topk`` — exact brute force: queries × corpus with the
  query side broadcast, per-pair JVM cosine, per-query top-k via
  window rank-limit. The right baseline, and the in-bucket kernel for
  the ANN tiers. Scale shape: corpus stays partitioned (never
  shuffled); work is |Q|·|C| — bound |Q| per job.
- Exact all-pairs: ``cosine_pairs_exact`` is the row-bounded
  broadcast verifier (in-bucket, and the tests' reference);
  ``cosine_pairs_blocked`` (pairs ≥ threshold) and
  ``cosine_knn_blocked`` (each row's top-k) are the distributed forms,
  both reducers over one block-pair kernel that scores each pair of
  hash blocks in row strips of bounded size.
- Random-hyperplane LSH: H fixed seeded hyperplanes → sign-bit bucket
  ids. ``lsh_topk`` scores candidates sharing a bucket (plus, with
  ``n_probes`` > 1, the query's buckets at Hamming distance 1);
  ``cosine_pairs_lsh`` verifies banded multiprobe candidate pairs;
  ``cosine_star_edges_lsh`` emits linear-size unverified cluster
  edges. Approximate by design; recall is tunable.
- IVF: ``ivf_assign`` / ``ivf_topk`` probe the ``nprobe`` nearest of
  ``n_lists`` coarse centroids and run exact cosine only there.
- Product quantization: ``pq_codebooks`` / ``pq_encode`` build codes,
  ``pq_adc_topk`` / ``pq_adc_topk_batch`` search them by asymmetric
  distance, ``ivfpq_topk`` composes IVF probing with ADC scoring.
  ``random_projection`` gives low-dimensional previews.

Determinism: scores are rounded BEFORE ranking, ties broken by id, so
results are stable across engines and partitionings (oracle-checkable
for the exact tiers and every seeded approximate one).
"""

from __future__ import annotations

# Module-level (not function-local) so get_type_hints can resolve the
# pandas-UDF callbacks' string annotations: PySpark infers the
# applyInPandas eval type from the hints, and an unresolvable name
# silently falls back instead of making the contract explicit.
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datagouv_tools_spark.functions.vectors import cosine, dot
from datagouv_tools_spark.functions.xhash import md5_hash60

__all__ = [
    "cosine_topk",
    "cosine_pairs_exact",
    "cosine_pairs_blocked",
    "cosine_pairs_lsh",
    "cosine_star_edges_lsh",
    "lsh_band_buckets",
    "lsh_bucket",
    "lsh_topk",
    "ivf_assign",
    "ivf_topk",
    "ivfpq_topk",
    "random_projection",
    "pq_adc_topk",
    "pq_adc_topk_batch",
    "pq_codebooks",
    "pq_encode",
]


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-pairs excluded
    when ids collide). Returns (query_id, vec_id, sim, rk)."""
    from datagouv_tools_spark.operators.skew import fan_out_narrow_scan

    q = F.broadcast(queries.select(query_id, query_vec))
    # |Q| JVM cosines per corpus row are compute-bound map work:
    # unblock the single-split corpus-scan case (guide §2.5; no-op on
    # multi-split inputs)
    pairs = q.crossJoin(fan_out_narrow_scan(corpus).select(corpus_id, corpus_vec))
    return _rank_exact(
        pairs, query_id, corpus_id, query_vec, corpus_vec, k, round_to
    )


def _rank_exact(
    pairs: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int,
    round_to: int,
) -> DataFrame:
    """The exact-cosine tail of every candidate-pair top-k: drop
    self-pairs, score the rest with the JVM cosine rounded to
    ``round_to``, keep each query's first k by (sim desc, id asc).
    Returns (query_id, vec_id, sim, rk)."""
    sim = F.round(cosine(query_vec, corpus_vec), round_to)
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(corpus_id))
    return (
        pairs.filter(F.col(query_id) != F.col(corpus_id))
        .select(query_id, corpus_id, sim.alias("sim"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def cosine_pairs_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_to: int = 6,
    max_rows: int = 100_000,
) -> DataFrame:
    """All-pairs (id_a < id_b) cosine similarity ≥ threshold, exact.

    Arrow-batched ``mapInPandas`` block-nested-loop: the corpus matrix is
    torrent-broadcast once (ids, float64 matrix, norms); each partition
    multiplies its Arrow batch against it with one BLAS matmul and emits
    only the above-threshold pairs. Versus the expression-tree form
    (crossJoin + per-pair JVM cosine) this is ~100× faster — a 64-term
    unrolled dot in a BroadcastNestedLoopJoin condition exceeds HotSpot's
    JIT method limit and runs interpreted, measured 273 s vs ~3 s at
    sf0.1 (2000×64).

    Scale shape: the left side stays partitioned (never shuffled); work
    and broadcast size are O(n)·O(n) — at 100 TB this is the in-bucket
    verifier after LSH blocking (``lsh_bucket``), where n is the bucket
    size, not the corpus.

    Determinism: sims are rounded half-up to ``round_to`` before the
    threshold compare, matching the SQL oracle; BLAS accumulation differs
    from sequential by ~1 ULP, invisible at 6 decimals.
    """
    import numpy as np
    import pandas as pd

    # This kernel BROADCASTS the input (driver collect): it is the
    # in-bucket / in-block verifier, never the corpus-wide path. The
    # guard makes that contract executable — corpus-scale all-pairs
    # must go through cosine_pairs_blocked. One action: collecting
    # limit(max_rows+1) both fetches the kernel input AND proves the
    # bound (a separate count() would execute the upstream lineage
    # twice).
    # One job, not an incremental take (same rationale as dedup._cc_local):
    # the guard expects to fetch the whole bounded input, so the take's
    # 1 -> 4 -> 16 partition scaling only adds sequential job rounds.
    # The override window is lock-scoped (operators/onepass.py) so
    # concurrent probes cannot race the save/restore.
    from datagouv_tools_spark.operators.onepass import one_pass_limit

    with one_pass_limit(df.sparkSession):
        rows = df.select(id_col, vec_col).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"cosine_pairs_exact collects its input to the driver and is "
            f"bounded to {max_rows} rows; use cosine_pairs_blocked for "
            f"corpus-scale exact all-pairs"
        )
    c_ids = np.fromiter((r[0] for r in rows), dtype=np.int64, count=len(rows))
    c_mat = np.array([r[1] for r in rows], dtype=np.float64)
    with np.errstate(invalid="ignore"):
        c_norms = np.sqrt(np.einsum("ij,ij->i", c_mat, c_mat))
    bc = df.sparkSession.sparkContext.broadcast((c_ids, c_mat, c_norms))

    def gen(batches):
        ids_c, m_c, n_c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            a_norms = np.sqrt(np.einsum("ij,ij->i", a_mat, a_mat))
            denom = np.outer(a_norms, n_c)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (a_mat @ m_c.T) / denom
            sims = np.where(
                np.isfinite(sims), _round_half_away(sims, round_to), np.nan
            )
            mask = (
                (sims >= threshold)
                & (denom > 0)
                & (a_ids[:, None] < ids_c[None, :])
            )
            ii, jj = np.nonzero(mask)
            yield pd.DataFrame(
                {"id_a": a_ids[ii], "id_b": ids_c[jj], "sim": sims[ii, jj]}
            )

    return df.select(id_col, vec_col).mapInPandas(
        gen, "id_a bigint, id_b bigint, sim double"
    )


def cosine_pairs_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_to: int = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, DISTRIBUTED — no driver
    collect, no corpus broadcast.

    Runs on the block-pair kernel (:func:`_block_pairs`): each unordered
    block pair (i ≤ j) is one task group holding only blocks i and j
    (≈ 2n/B rows), scored in row strips of at most ``_STRIP_BYTES``.
    Every vector is replicated to exactly B groups, so shuffle volume is
    n·B rows and per-task memory is 2n/B vectors plus one strip — choose
    B so a block fits an executor, independent of corpus size. Work
    stays O(n²) (inherent to exact all-pairs); at 100 TB put LSH
    blocking in front and use this only when exactness is the contract.

    Semantics and determinism are identical to ``cosine_pairs_exact``
    (round half-away-from-zero before the threshold compare): the two
    are interchangeable, oracle-checked by the same SQL. Each pair is
    emitted once, as (min id, max id, sim).
    """
    return _block_pairs(
        df, id_col, vec_col, n_blocks, round_to, _pairs_reducer(threshold),
        ("id_a", "id_b"),
    )


def cosine_knn_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact k-NN edges of the all-pairs cosine graph, DISTRIBUTED —
    (query_id, vec_id, sim) for each vector's k most similar others,
    ties broken (sim desc, vec_id asc), zero-norm vectors and NaN sims
    excluded on both sides, exactly as a full directed pair list +
    row_number ≤ k would produce.

    Same block-pair kernel as :func:`cosine_pairs_blocked`, but each
    row strip emits only each row's TOP-k in both directions (stable
    argsort over id-ascending columns — exact ties), so kernel output
    is O(n·B·k·strips) rows instead of the O(n²) pair stream; a bounded
    global window merges the per-strip lists — the standard exact top-k
    merge. The O(n²) BLAS multiply is inherent to exactness; what
    collapses is everything downstream of it: Arrow transfer, shuffle,
    and the corpus-sized row_number window. (Measured at sf1: the
    pair-stream + union + window form spent its time moving 2×n²/2
    rows, not in the matmul.)
    """
    cand = _block_pairs(
        df, id_col, vec_col, n_blocks, round_to, _topk_reducer(k),
        ("query_id", "vec_id"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cand.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


# Byte budget of one row strip of a block pair's float64 similarity
# matrix: a task holds its 2n/B input vectors plus a few strip-sized
# temporaries, never the dense (n/B)² matrix. Blocks up to ~1,000 rows
# (sf0.1 has ~250) still run as one strip, one matmul per group.
_STRIP_BYTES = 8 << 20


def _round_half_away(x, round_to: int):
    """Round half away from zero to ``round_to`` decimals, elementwise —
    Spark/DuckDB ROUND semantics (numpy's round is half-even). Callers
    mask non-finite inputs themselves."""
    import numpy as np

    scale = 10.0**round_to
    return np.trunc(np.abs(x) * scale + 0.5) / scale * np.sign(x)


def _pairs_reducer(threshold: float):
    """Strip reducer of ``cosine_pairs_blocked``: every pair with sim ≥
    ``threshold`` as (min id, max id, sim); inside one block only
    a < b, so each pair is emitted once."""
    import numpy as np

    def reduce(a_ids, b_ids, sims, diag):
        mask = sims >= threshold
        if diag:
            mask &= a_ids[:, None] < b_ids[None, :]
        ii, jj = np.nonzero(mask)
        a, b = a_ids[ii], b_ids[jj]
        return [(np.minimum(a, b), np.maximum(a, b), sims[ii, jj])]

    return reduce


def _topk_reducer(k: int):
    """Strip reducer of ``cosine_knn_blocked``: each row's top-k in both
    directions (one direction inside a single block). Candidate ids
    ascend, and the stable ascending sort of -sim puts NaN (invalid)
    last and keeps id-asc order within equal sims."""
    import numpy as np

    def top(q_ids, sims, c_ids):
        order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
        best = np.take_along_axis(sims, order, axis=1)
        qq, pos = np.nonzero(np.isfinite(best))
        return q_ids[qq], c_ids[order[qq, pos]], best[qq, pos]

    def reduce(a_ids, b_ids, sims, diag):
        out = [top(a_ids, sims, b_ids)]
        if not diag:
            out.append(top(b_ids, np.ascontiguousarray(sims.T), a_ids))
        return out

    return reduce


def _block_pair_group(
    pdf: pd.DataFrame, gi: int, gj: int, round_to: int, reduce, strip_bytes: int
) -> list:
    """One task group of :func:`_block_pairs`: rounded cosines of block
    ``gi`` × block ``gj`` in row strips of ≤ ``strip_bytes``. Rows are
    laid out id-ascending; NaN marks zero-norm, non-finite and self
    entries. Returns the concatenated ``reduce`` column triples."""
    import numpy as np

    ids = pdf["__id"].to_numpy(dtype=np.int64)
    o = np.argsort(ids, kind="stable")
    ids = ids[o]
    mat = np.array(list(pdf["__vec"]), dtype=np.float64)[o]
    blks = pdf["__blk"].to_numpy()[o]
    with np.errstate(invalid="ignore"):
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    # a diagonal group holds one block, so la == lb there
    la, lb = np.nonzero(blks == gi)[0], np.nonzero(blks == gj)[0]
    a_ids, a_mat, a_norms = ids[la], mat[la], norms[la]
    b_ids, b_mat, b_norms = ids[lb], mat[lb], norms[lb]
    diag = gi == gj
    step = max(1, strip_bytes // (8 * max(1, len(lb))))
    parts: list = []
    for s in range(0, len(la), step):
        e = min(s + step, len(la))
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = (a_mat[s:e] @ b_mat.T) / np.outer(a_norms[s:e], b_norms)
            sims = np.where(
                np.isfinite(sims), _round_half_away(sims, round_to), np.nan
            )
        if diag:
            r = np.arange(e - s)
            sims[r, s + r] = np.nan  # no self-pair
        parts.extend(reduce(a_ids[s:e], b_ids, sims, diag))
    if not parts:
        return [np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)]
    return [np.concatenate([p[c] for p in parts]) for c in range(3)]


def _block_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_blocks: int,
    round_to: int,
    reduce,
    id_names: tuple[str, str],
) -> DataFrame:
    """The block-pair cosine kernel behind :func:`cosine_pairs_blocked`
    and :func:`cosine_knn_blocked`. Rows hash into ``n_blocks`` blocks
    and are replicated into every unordered block pair (i ≤ j) that
    contains their block; each pair is one ``applyInPandas`` group,
    scored by :func:`_block_pair_group`. ``reduce(a_ids, b_ids, sims,
    diag)`` turns one row strip into a list of (id, id, sim) column
    triples, emitted as ``id_names`` + ``sim``."""
    strip_bytes = _STRIP_BYTES  # read at build time; the closure ships it
    base = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).withColumn(
        "__blk", F.pmod(F.xxhash64(F.col("__id")), F.lit(n_blocks)).cast("int")
    )
    # replicate each row into every group whose unordered block pair
    # contains its block: (min(b,x), max(b,x)) for x in 0..B-1
    groups = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda x: F.struct(
            F.least(F.col("__blk"), x).alias("gi"),
            F.greatest(F.col("__blk"), x).alias("gj"),
        ),
    )
    exploded = base.withColumn("__g", F.explode(groups)).select(
        F.col("__g.gi").alias("__gi"), F.col("__g.gj").alias("__gj"),
        "__id", "__vec", "__blk",
    )
    names = [*id_names, "sim"]

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cols = _block_pair_group(
            pdf, int(key[0]), int(key[1]), round_to, reduce, strip_bytes
        )
        return pd.DataFrame(dict(zip(names, cols)))

    return exploded.groupBy("__gi", "__gj").applyInPandas(
        kernel, f"{id_names[0]} bigint, {id_names[1]} bigint, sim double"
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy dependency in
    the executor path — plain splitmix64 gaussian-ish values suffice
    for sign-LSH)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1): uniform is fine for sign-random projections
            row.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(
    df: DataFrame, vec_col: str, dim: int, n_planes: int = 8, seed: int = 42
):
    """Sign-bit bucket id column for each vector."""
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(v) for v in plane])
        sign_bit = F.when(dot(F.col(vec_col), plane_col) > 0, 1).otherwise(0)
        bucket = bucket + sign_bit.cast("bigint") * F.lit(1 << j).cast("bigint")
    return bucket


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "embedding",
    round_to: int = 6,
    seed: int = 42,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket; exact cosine
    within the bucket. Queries with an empty bucket return < k rows —
    that's the approximate contract; raise n_planes⁻¹ or n_probes for
    recall.

    Multiprobe: with ``n_probes`` > 1 each query additionally probes
    its buckets at Hamming distance 1 — bucket XOR each single-bit
    mask, in ascending bit order, ``n_probes - 1`` of them (capped at
    n_planes). Only the (small, broadcast) query side fans out; the
    corpus keeps one bucket per vector, so a (query, corpus) pair can
    match in at most one probed bucket — no dedup needed. The probe
    set is deterministic and SQL-expressible, so the full oracle
    survives.
    """
    n_probes = max(1, min(n_probes, n_planes + 1))
    # bucket via the Arrow band kernel (single band of n_planes bits —
    # the same seeded planes and sign rule as the lsh_bucket
    # expression, bit-identical by the sequential-accumulation
    # argument): the 512-literal HOF expression costs plan-build time
    # plus interpreted per-row lambda evaluation on BOTH sides
    # (measured ~2x the whole query at sf0.1)
    qb = lsh_band_buckets(
        queries.select(query_id, query_vec), query_id, query_vec, dim,
        1, n_planes, seed, keep_vec=True,
        # the query side is a tiny pre-broadcast frame: a fan-out
        # exchange would cost more than the kernel it parallelizes
        fan_out_input=False,
    ).drop("__band").withColumnRenamed("__bucket", "__bucket0")
    probe_masks = F.array(
        F.lit(0).cast("bigint"),
        *[F.lit(1 << j).cast("bigint") for j in range(n_probes - 1)],
    )
    qb = qb.select(
        query_id,
        query_vec,
        F.explode(
            F.transform(probe_masks, lambda m: F.col("__bucket0").bitwiseXOR(m))
        ).alias("__bucket"),
    )
    cb = lsh_band_buckets(
        corpus.select(corpus_id, corpus_vec), corpus_id, corpus_vec, dim,
        1, n_planes, seed, keep_vec=True,
        # measured 1.06-1.16x SLOWER with the narrow-scan fan-out here:
        # a single 8-plane band is too light a kernel to pay an extra
        # exchange for (counter-case to the 10x10-band near-dup path)
        fan_out_input=False,
    ).drop("__band")
    return _rank_exact(
        F.broadcast(qb).join(cb, "__bucket"),
        query_id, corpus_id, query_vec, corpus_vec, k, round_to,
    )


def lsh_band_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_bands: int,
    band_bits: int,
    seed: int = 42,
    keep_vec: bool = False,
    fan_out_input: bool = True,
) -> DataFrame:
    """Banded sign-LSH bucket ids: one row per (vector, band) with a
    ``band_bits``-bit bucket — the cosine analog of MinHash banding
    (``operators/dedup.minhash_bands``). Plane ``band*band_bits + j``
    contributes bit ``1 << j`` of band ``band``'s bucket.

    Arrow ``mapInPandas`` kernel, NOT an expression tree: n_bands ×
    band_bits hyperplane projections per row as one vectorized loop —
    the 100-plane expression form would repeat the emb_pq_codes plan
    blow-up (16 chained withColumns → 17.8 s; see pq_encode).
    Projections accumulate sequentially over dimensions in float64,
    matching DuckDB's ``list_dot_product`` element order, so a SQL
    oracle recomputes identical sign bits from the same seeded plane
    literals.

    Scale shape: pure map work (no shuffle); output is |corpus| ×
    n_bands rows, linear. ``keep_vec=True`` carries the vector column
    through (for callers that score within buckets immediately, e.g.
    ``lsh_topk`` with a single band — avoids a join back to the corpus
    to recover vectors).
    """
    import numpy as np

    from datagouv_tools_spark.operators.skew import fan_out_narrow_scan

    n_planes = n_bands * band_bits
    planes = np.array(_hyperplanes(dim, n_planes, seed), dtype=np.float64)
    weights = (1 << np.arange(band_bits, dtype=np.int64)).astype(np.int64)
    bands = np.arange(n_bands, dtype=np.int32)
    # the projection kernel is compute-bound: unblock the single-split
    # corpus-scan case (guide §2.5; no-op on multi-split inputs).
    # fan_out_input=False for tiny/pre-spread inputs (query sides,
    # streaming micro-batches already through fan_out_batch).
    if fan_out_input:
        df = fan_out_narrow_scan(df)
    base = df.select(id_col, vec_col)
    kept = [id_col, vec_col] if keep_vec else [id_col]
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in base.schema.fields
        if f.name in kept
    )

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            acc = np.zeros((len(mat), n_planes), dtype=np.float64)
            # sequential over dims == list_dot_product accumulation order
            for d in range(dim):
                acc += mat[:, d : d + 1] * planes[None, :, d][0]
            bits = (acc > 0).astype(np.int64)
            buckets = bits.reshape(len(mat), n_bands, band_bits) @ weights
            idx = np.repeat(np.arange(len(pdf)), n_bands)
            out = pdf.iloc[idx][kept].copy()
            out["__band"] = np.tile(bands, len(pdf))
            out["__bucket"] = buckets.reshape(-1)
            yield out

    return base.mapInPandas(gen, f"{fields}, __band int, __bucket bigint")


def cosine_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
    n_bands: int = 10,
    band_bits: int = 10,
    seed: int = 42,
    multiprobe: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """Candidate-bounded near-dup pairs: banded multiprobe sign-LSH
    generates candidates, exact cosine verifies them — the corpus-scale
    replacement for ``cosine_pairs_blocked`` when the contract is
    "near-duplicate edges", not "every pair above t".

    Plan shape (the point): bucket fan-out is linear (|corpus| ×
    n_bands × (band_bits+1) rows), candidates come from an EQUI-JOIN on
    (band, bucket) — never a block cross — and the exact kernel touches
    candidates only. Every stage is linear in its input at 100 TB; the
    only quadratic term is within-bucket pair count, bounded by
    2^band_bits bucket granularity (same caveat, and same remedy, as
    MinHash banding).

    Recall is quantified, not hand-waved. With p(s) = 1 − acos(s)/π and
    per-band hit q(s) = p^b + b·p^(b−1)(1−p)  (multiprobe: Hamming ≤ 1),
    recall(s) = 1 − (1 − q(s))^L. Defaults (L=10, b=10): s=0.40 → 0.51,
    s=0.50 → 0.67, s=0.70 → 0.93, s=0.90 → 0.9998. True near-dup pairs
    (s ≥ 0.8) are essentially never missed; borderline-threshold pairs
    are sampled.

    Why not a zero-miss LSH front for the exact contract: at s* = 0.4
    the LSH gap is tiny (p(0.4) = 0.631 vs p(0) = 0.5, exponent ρ =
    ln 0.631/ln 0.5 ≈ 0.66). A banding with per-pair miss ≤ 1e-4 at
    s = 0.4 and b=10 needs L ≈ 920 bands (9 200 projections/vector) and
    STILL admits ~59% of uniformly-random pairs — the candidate
    fraction for any fixed (b, L) is a constant in n, so guaranteed-
    recall candidates stay Θ(n²); only the constant shrinks, at
    astronomic projection cost. (On this corpus the ≥ 0.4 edge set
    itself grows ~n² — it is the 3σ tail of a random-vector sim
    distribution — so the exact output is quadratic regardless of
    algorithm.) Exactness at a low threshold therefore stays with
    ``cosine_pairs_blocked``; this operator is the scale contract.

    Deterministic end-to-end (seeded planes, exact verify, rounded sims)
    → full SQL oracle.
    """
    import numpy as np
    import pandas as pd

    eb = lsh_band_buckets(df, id_col, vec_col, dim, n_bands, band_bits, seed)
    if multiprobe:
        masks = F.array(
            F.lit(0).cast("bigint"),
            *[F.lit(1 << j).cast("bigint") for j in range(band_bits)],
        )
        probes = eb.select(
            F.col(id_col).alias("id_a"),
            "__band",
            F.explode(
                F.transform(masks, lambda m: F.col("__bucket").bitwiseXOR(m))
            ).alias("__bucket"),
        )
    else:
        probes = eb.select(F.col(id_col).alias("id_a"), "__band", "__bucket")
    exact = eb.select(F.col(id_col).alias("id_b"), "__band", "__bucket")
    # A pair can collide in several bands (≤ n_bands duplicate rows);
    # verification is idempotent, so dedup AFTER the threshold filter
    # where survivors are few — one small distinct instead of a full
    # shuffle of every candidate row.
    cand = probes.join(exact, ["__band", "__bucket"]).filter(
        F.col("id_a") < F.col("id_b")
    ).select("id_a", "id_b")
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))

    # Arrow kernel, not the zip_with/aggregate HOF expression: Spark
    # evaluates higher-order lambdas interpreted per element — 3 × 64
    # terms × |candidates| dominated the runtime (~4 s at sf0.1).
    # Accumulation is sequential over dims in float64 (same element
    # order as list_dot_product / the JVM dot), rounding is half-away
    # -from-zero (numpy rounds half-even; Spark/DuckDB ROUND is
    # half-up), so sims are bit-identical to the expression form.
    def verify(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            a = np.array(list(pdf["__va"]), dtype=np.float64)
            b = np.array(list(pdf["__vb"]), dtype=np.float64)
            d = np.zeros(len(a))
            na = np.zeros(len(a))
            nb = np.zeros(len(a))
            for k in range(dim):
                d += a[:, k] * b[:, k]
                na += a[:, k] * a[:, k]
                nb += b[:, k] * b[:, k]
            denom = np.sqrt(na) * np.sqrt(nb)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = d / denom
            sims = np.where(
                np.isfinite(sims), _round_half_away(sims, round_to), np.nan
            )
            keep = (denom > 0) & (sims >= threshold)
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy(dtype=np.int64)[keep],
                    "id_b": pdf["id_b"].to_numpy(dtype=np.int64)[keep],
                    "sim": sims[keep],
                }
            )

    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", "__va", "__vb")
        .mapInPandas(verify, "id_a bigint, id_b bigint, sim double")
        .distinct()
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def _ivf_centroids(
    df: DataFrame, id_col: str, vec_col: str, n_lists: int, seed: int = 42
) -> list[list[float]]:
    """Deterministic coarse centroids: the n_lists corpus vectors with
    the smallest cross-engine md5 hash of their id — a seeded sample
    that needs no iterative training (k-means would converge better but
    adds nondeterminism; for a quantizer, spread matters more than
    optimality) and that a SQL oracle reselects identically.

    ``id_col`` is explicit (not positional): passing columns in any
    order hashes the same ids, so the centroid set — and everything
    downstream — is invariant to column order.

    Driver-side cost is BOUNDED: orderBy+limit is a distributed top-k
    (TakeOrdered), and only n_lists rows ever reach the driver."""
    h = md5_hash60(F.concat_ws("-", F.col(id_col).cast("string"), F.lit(str(seed))))
    rows = (
        df.select(id_col, vec_col)
        .orderBy(h.asc(), F.col(id_col).asc())
        .limit(n_lists)
        .collect()
    )
    return [[float(v) for v in r[1]] for r in rows]


def _normalize_seq(cents: list[list[float]]) -> list[list[float]]:
    """L2-normalize centroids with SEQUENTIAL accumulation — the exact
    float ops a SQL oracle performs via
    ``list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv)))``,
    so the normalized literals agree bit-for-bit across engines."""
    import math

    out = []
    for cv in cents:
        s = 0.0
        for x in cv:
            s += x * x
        n = math.sqrt(s) or 1.0
        out.append([x / n for x in cv])
    return out


def _probe_lists(
    df: DataFrame,
    vec_col: str,
    cents: list[list[float]],
    n: int,
    round_to: int = 6,
    rank_col: str | None = None,
) -> DataFrame:
    """Append ``__list``: each input row fans out to its ``n`` nearest
    coarse lists by cosine (1 row per probe; n=1 is plain assignment).
    ``rank_col`` additionally emits the 1-based probe position — the
    nearest-list rank — so an nprobe SWEEP can reuse one n=max fan-out
    (probes for nprobe=p are exactly the rows with rank <= p).

    Arrow-batched ``mapInPandas``: one BLAS matmul per batch against
    the normalized centroid matrix — executor-side, no shuffle, no
    driver collect; the scale path for both corpus assignment and
    query probing. Determinism across engines: sims are rounded
    half-away-from-zero to ``round_to`` BEFORE ranking and ties break
    toward the smaller list id (numpy stable argsort ↔ SQL
    ``ORDER BY csim DESC, list_id``)."""
    import numpy as np
    import pandas as pd

    cmat = np.array(_normalize_seq(cents), dtype=np.float64).T  # dim × L
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = f"{fields}, __list int"
    if rank_col is not None:
        out_schema += f", {rank_col} int"

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.sqrt(np.einsum("ij,ij->i", m, m))
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (m @ cmat) / norms[:, None]
            sims = np.where(
                np.isfinite(sims), _round_half_away(sims, round_to), -np.inf
            )
            # stable argsort on -sims: equal (rounded) sims keep
            # ascending list-id order — the SQL tie-break
            top = np.argsort(-sims, axis=1, kind="stable")[:, :n]
            idx = np.repeat(np.arange(len(pdf)), n)
            out = pdf.iloc[idx].copy()
            out["__list"] = top.reshape(-1).astype("int32")
            if rank_col is not None:
                out[rank_col] = np.tile(
                    np.arange(1, n + 1, dtype="int32"), len(pdf)
                )
            yield out

    return df.mapInPandas(gen, out_schema)


def ivf_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
    cents: list[list[float]] | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Add ``__list`` — the id of the nearest coarse centroid (by
    cosine, rounded@6 with list-id tie-break). Arrow-batched numpy
    argmax, executor-side, no shuffle. At 100 TB, write the corpus
    bucketed/partitioned by ``__list`` so probes touch only nprobe
    partitions."""
    if cents is None:
        cents = _ivf_centroids(df, id_col, vec_col, n_lists, seed)
    return _probe_lists(df, vec_col, cents, n=1)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "embedding",
    round_to: int = 6,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are inverted-listed under
    their nearest of ``n_lists`` coarse centroids; each query probes
    its ``nprobe`` nearest lists and runs exact cosine only there.

    Scale shape: candidate work drops to ~nprobe/n_lists of brute
    force; the corpus shuffles once on ``__list`` (or never, if stored
    pre-bucketed); queries broadcast. Probe assignment is executor-side
    (the same centroid-rank expression as the corpus side — no query
    collect); the only driver materialization is the n_lists centroid
    vectors themselves. Deterministic end-to-end → full SQL oracle;
    recall vs brute force is additionally asserted in tests."""
    cents = _ivf_centroids(
        corpus.select(corpus_id, corpus_vec), corpus_id, corpus_vec, n_lists, seed
    )
    corpus_l = ivf_assign(
        corpus.select(corpus_id, corpus_vec), corpus_vec, n_lists, seed,
        cents=cents, id_col=corpus_id,
    )
    q_probes = _probe_lists(
        queries.select(query_id, query_vec), query_vec, cents, n=nprobe
    )

    return _rank_exact(
        F.broadcast(q_probes).join(corpus_l, "__list"),
        query_id, corpus_id, query_vec, corpus_vec, k, round_to,
    )


def cosine_star_edges_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 10,
    band_bits: int = 20,
    seed: int = 42,
) -> DataFrame:
    """LINEAR-output candidate edges for embedding cluster dedup: within
    each sign-LSH (band, bucket), connect every member to the bucket's
    minimum id (a star) instead of materializing the O(m²) clique — the
    embedding-modality twin of ``operators/dedup.minhash_cluster_edges``
    and the mass-duplication escape hatch for ``cosine_pairs_lsh``
    (whose bucket join is quadratic in bucket size: one template vector
    × 10⁶ copies → 10¹² candidate pairs there, 10⁶·n_bands star edges
    here).

    A bucket's star spans exactly the same connected component as its
    clique, so ``dedup_clusters`` over these edges equals clusters over
    the bucket-clique candidates (pinned by test). Edges are
    UNVERIFIED bucket-collision evidence — the default ``band_bits=20``
    makes a random collision ≈ 2⁻²⁰ per band (vs 2⁻¹⁰ for the
    pair-generator defaults) because star edges feed CC directly with
    no cosine verify; identical/near-identical template vectors
    (cosine ≥ 0.99) still collide in some band w.p. ≈ 0.99.

    Shuffle shape: groupBy-min on (band, bucket) + join back — NOT a
    window min: the aggregate combines map-side and AQE's skew join
    splits the hot template bucket, while a window would put the whole
    10⁶-copy bucket in one straggler task (same argument, and same
    measured gap, as minhash_cluster_edges)."""
    eb = lsh_band_buckets(df, id_col, vec_col, dim, n_bands, band_bits, seed)
    mins = eb.groupBy("__band", "__bucket").agg(F.min(id_col).alias("__min"))
    return (
        eb.join(mins, ["__band", "__bucket"])
        .filter(F.col(id_col) != F.col("__min"))
        .select(F.col("__min").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


def query_probe_lists(
    query_vec: list[float],
    cents: list[list[float]],
    nprobe: int,
    dim: int,
    round_to: int = 6,
) -> list[int]:
    """The query's ``nprobe`` nearest coarse lists by cosine against the
    (bounded, driver-resident) centroid set — pure Python with
    sequential-order float accumulation and half-away rounding, so a
    SQL oracle ranking ``ROUND(list_dot_product(..)/sqrt(..), 6) DESC,
    list_id`` selects the identical lists."""
    import math

    ncents = _normalize_seq(cents)
    qn_acc = 0.0
    for x in query_vec:
        qn_acc += float(x) * float(x)
    qn = math.sqrt(qn_acc)
    scale = 10.0**round_to
    ranked = []
    for li, cv in enumerate(ncents):
        acc = 0.0
        for d in range(dim):
            acc += float(query_vec[d]) * cv[d]
        csim = acc / qn if qn > 0 else float("-inf")
        # round half away from zero, matching SQL ROUND
        csim = math.trunc(abs(csim) * scale + 0.5) / scale * (
            1.0 if csim >= 0 else -1.0
        )
        ranked.append((-csim, li))
    return [li for _, li in sorted(ranked)[:nprobe]]


def ivfpq_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_lists: int = 8,
    nprobe: int = 2,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """IVF-ADC: the composed billion-vector index shape — probe the
    query's ``nprobe`` nearest coarse lists (IVF), then score ONLY the
    rows of those lists by PQ asymmetric distance (ADC lookup tables)
    and TakeOrdered the top-k.

    Composition of two already-oracle-checked halves: coarse
    centroids / list assignment from ``ivf_assign`` (seeded md5-min
    sample, cosine argmax) and codes / LUT distance from ``pq_encode``
    / ``pq_adc_topk``. The query's probe set is computed driver-side
    over the n_lists centroid vectors only (bounded — same category as
    the centroid sample itself), with sequential-order float
    accumulation and half-away rounding so a SQL oracle reselects the
    identical lists.

    Scale shape: the corpus is touched by map work only — assign
    kernel → ``__list`` IN (probes) filter → encode → 8 LUT lookups —
    then a TakeOrdered (per-partition heaps); ZERO corpus exchanges.
    The list filter sits BEFORE encode, so PQ work runs on ~nprobe/
    n_lists of the corpus; with a persisted index (codes stored
    partitioned by ``__list``) the same filter becomes partition
    pruning at the scan and the assign/encode stages disappear
    entirely (see operators/ann_index.py)."""
    cents = _ivf_centroids(
        corpus.select(id_col, vec_col), id_col, vec_col, n_lists, seed
    )
    probed = query_probe_lists(query_vec, cents, nprobe, dim, round_to)

    assigned = ivf_assign(
        corpus.select(id_col, vec_col), vec_col, n_lists, seed,
        cents=cents, id_col=id_col,
    )
    pruned = assigned.filter(F.col("__list").isin(probed))
    books = pq_codebooks(
        corpus, id_col, vec_col, dim=dim, n_subspaces=n_subspaces,
        n_codes=n_codes, seed=seed,
    )
    codes = pq_encode(pruned.select(id_col, vec_col), books).select(
        id_col, *[f"code_{s}" for s in range(n_subspaces)]
    )
    return pq_adc_topk(codes, query_vec, books, k=k, id_col=id_col,
                       round_to=round_to)


def pq_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    refine_iters: int = 0,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the corpus is sampled with the
    same deterministic md5-min-of-id rule as the IVF centroids
    (``_ivf_centroids``), and each sampled vector is sliced into
    ``n_subspaces`` contiguous sub-vectors — codebook[s][j] is code j
    of subspace s. With ``refine_iters=0`` (default) there is no
    k-means — a SQL oracle must be able to reselect the exact sample;
    for quantization-error auditing, spread beats optimality.

    ``refine_iters>0`` runs that many Lloyd iterations seeded from the
    md5 sample (so the init stays oracle-reproducible even when the
    refined result is not SQL-expressible): assignments come from
    ``pq_encode`` on the current books (distributed, per-row map work),
    and the centroid update is ONE explode → groupBy(subspace, code)
    shuffle with map-side partial means — never a per-subspace corpus
    collect. Empty clusters keep their previous centroid. What a
    production PQ index ships; recon_err strictly improves on the
    sample codebook (pinned by ``tests/test_analytics.py``).

    Driver-side cost is bounded: n_codes rows at init plus
    n_subspaces × n_codes mean rows per refinement iteration."""
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sample = _ivf_centroids(df, id_col, vec_col, n_codes, seed)
    sub = dim // n_subspaces
    books = [
        [list(vec[s * sub : (s + 1) * sub]) for vec in sample]
        for s in range(n_subspaces)
    ]
    for _ in range(max(0, refine_iters)):
        books = _pq_lloyd_step(df, books, vec_col)
    return books


def _pq_lloyd_step(
    df: DataFrame, books: list[list[list[float]]], vec_col: str
) -> list[list[list[float]]]:
    """One distributed Lloyd iteration: assign every vector to its
    nearest code per subspace (``pq_encode``), then recompute each
    (subspace, code) centroid as the mean of its assigned sub-vectors.
    One shuffle of (subspace, code, sub-vector) structs with partial
    aggregation; ≤ n_subspaces × n_codes rows ever reach the driver."""
    n_sub = len(books)
    sub = len(books[0][0])
    enc = pq_encode(df.select(vec_col), books)
    structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.col(f"code_{s}").alias("c"),
                F.array(
                    *[
                        F.element_at(F.col(vec_col), s * sub + d + 1).cast("double")
                        for d in range(sub)
                    ]
                ).alias("v"),
            )
            for s in range(n_sub)
        ]
    )
    ex = enc.select(F.explode(structs).alias("x")).select("x.s", "x.c", "x.v")
    agg = ex.groupBy("s", "c").agg(
        *[F.avg(F.col("v")[d]).alias(f"m{d}") for d in range(sub)]
    )
    new = [[list(cv) for cv in book] for book in books]
    for r in agg.collect():
        new[r["s"]][r["c"]] = [float(r[f"m{d}"]) for d in range(sub)]
    return new


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Product quantization: append ``code_s`` (nearest codebook entry
    per subspace, squared-L2, rounded@``round_to``, ties to the smaller
    code id) and ``recon_err`` (sum of the chosen per-subspace squared
    distances — the quantization error a PQ index would suffer).

    Distances accumulate LEFT-ASSOCIATIVELY over dimensions so a SQL
    oracle summing the same terms in the same order is bit-identical;
    the argmin is an ``array_min`` over (dist, code) structs — struct
    ordering compares dist then code, the SQL ``ORDER BY d, code``
    tie-break.

    Pure JVM: per subspace, ONE compact higher-order expression —
    ``zip_with`` over the codebook as an array literal, each lambda body
    the 8-term left-associative distance (seeded ``0.0 + t0``, exact for
    squares since they are never ``-0.0``) — handed to ``F.expr`` as a
    single SQL string. This shape exists for plan-cost reasons: the
    round-2 version built the fully unrolled ~10k-node tree out of
    ``Column`` operators, which cost ~13 s of py4j round-trips to
    construct plus seconds of Catalyst/codegen work per submission
    (17.8 s total at sf0.1); the HOF tree is ~30× smaller and plans in
    milliseconds. No shuffle, no UDF; the lambda is interpreted per
    row, fine for encode-and-audit workloads."""
    n = len(codebooks)
    n_codes = len(codebooks[0])
    bests = []
    for s, book in enumerate(codebooks):
        sub = len(book[0])
        lits = ", ".join(
            "array(" + ", ".join(f"CAST('{float(c)!r}' AS DOUBLE)" for c in cv) + ")"
            for cv in book
        )
        dist = None
        for d in range(sub):
            el = f"CAST(element_at(`{vec_col}`, {s * sub + d + 1}) AS DOUBLE)"
            term = f"(({el} - element_at(cv, {d + 1})) * ({el} - element_at(cv, {d + 1})))"
            dist = term if dist is None else f"({dist} + {term})"
        bests.append(
            F.expr(
                f"array_min(zip_with(array({lits}), sequence(0, {n_codes - 1}), "
                f"(cv, j) -> named_struct('d', ROUND({dist}, {int(round_to)}), "
                f"'c', CAST(j AS INT))))"
            ).alias(f"__pq_best_{s}")
        )
    err = F.col("__pq_best_0").getField("d")
    for s in range(1, n):
        err = err + F.col(f"__pq_best_{s}").getField("d")
    return df.select("*", *bests).select(
        *df.columns,
        *[F.col(f"__pq_best_{s}").getField("c").alias(f"code_{s}") for s in range(n)],
        F.round(err, round_to).alias("recon_err"),
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 8,
    seed: int = 42,
    round_to: int = 6,
    out_col: str = "projected",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: dense ``in_dim`` →
    ``out_dim`` preview vectors via a fixed seeded matrix (the same
    splitmix generator as the LSH hyperplanes, scaled by 1/√out_dim so
    pairwise distances are approximately preserved).

    The 100 TB use: project once at ingest, run candidate generation /
    coarse scoring on the 8-dim previews (8× less I/O and FLOPs), and
    rescore survivors on full vectors. Pure JVM expressions — per-row
    map work, no shuffle; deterministic (rounded before emit), so a SQL
    oracle recomputes projections from the same literal matrix."""
    import math

    planes = _hyperplanes(in_dim, out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    # transform over a single-expr literal matrix (functions/litfast):
    # identical per-dim round(dot·scale) values, but ONE py4j round-trip
    # for the whole in_dim×out_dim constant instead of ~4k (the literal
    # loop dominated this operator's build time)
    from datagouv_tools_spark.functions.litfast import lit_double_matrix

    proj = F.transform(
        lit_double_matrix(planes),
        lambda plane: F.round(dot(vec_col, plane) * F.lit(scale), round_to),
    )
    return df.withColumn(out_col, proj)


def pq_adc_topk(
    df_codes: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """PQ asymmetric-distance top-k — the search side of product
    quantization (``pq_encode`` is the index side): approximate
    squared-L2 distance from ``query_vec`` to each encoded corpus row
    as the sum of per-subspace lookup-table entries,

        adc_dist(v) = Σ_s LUT[s][code_s(v)],
        LUT[s][j] = ||query_s − codebook[s][j]||²  (left-assoc over dims)

    The LUTs are computed driver-side from the query vector
    (n_subspaces × n_codes doubles — trivially bounded) and inlined as
    array literals; per corpus row the distance is n_subspaces array
    indexings + adds — at 100 TB that replaces a 64-float kernel per
    row with 8 lookups over an 8-byte code, pure map work, and the
    top-k is a TakeOrdered (per-partition heaps, driver merge of k·P
    rows), no global sort, no shuffle of the corpus.

    Bit-exactness for the oracle: LUT entries are raw Python-float
    sums in dimension order (IEEE doubles — identical to a SQL engine
    summing the same terms in the same order); only the final
    n_subspaces-term sum is rounded@``round_to``. Ties break to the
    smaller id. ``df_codes`` must carry ``code_s`` columns as produced
    by ``pq_encode``."""
    terms = []
    for s, row in enumerate(_adc_luts(query_vec, codebooks)):
        lit = ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in row)
        terms.append(f"element_at(array({lit}), code_{s} + 1)")
    dist = terms[0]
    for t in terms[1:]:
        dist = f"({dist} + {t})"
    return (
        df_codes.select(
            id_col, F.expr(f"ROUND({dist}, {int(round_to)})").alias("adc_dist")
        )
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def _adc_luts(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """The per-subspace lookup tables for one query — EXACT
    left-associative dimension-order sums, shared by ``pq_adc_topk``
    (inlined as literals) and ``pq_adc_topk_batch`` so both paths
    score with bit-identical LUT doubles."""
    luts: list[list[float]] = []
    for s, book in enumerate(codebooks):
        sub = len(book[0])
        row = []
        for code_vec in book:
            acc = None
            for d, c in enumerate(code_vec):
                t = (float(query_vec[s * sub + d]) - float(c)) * (
                    float(query_vec[s * sub + d]) - float(c)
                )
                acc = t if acc is None else acc + t
            row.append(acc)
        luts.append(row)
    return luts


def pq_adc_topk_batch(
    df_codes: DataFrame,
    queries: dict[int, list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    round_to: int = 6,
    probe_lists: dict[int, list[int]] | None = None,
) -> DataFrame:
    """ADC top-k for a BATCH of queries in ONE corpus pass — the
    offline-retrieval shape (millions of stored queries scored against
    the index in one job, instead of one scan per query).

    Two stages, both bounded:

    1. An Arrow ``mapInPandas`` kernel gathers per-row distances for
       every query from the broadcast LUT tensor (|Q|·S·C doubles) —
       per corpus row the work is S array gathers + adds per query,
       accumulated subspace-by-subspace in the same left-associative
       order as the single-query expression (elementwise IEEE adds →
       bit-identical raw distances). Each (partition, query) emits only
       its candidates: rows within 10^-round_to of the partition's
       k-th smallest RAW distance. Rounding moves any value by at most
       half that margin, so no row that could enter the ROUNDED top-k
       is ever pruned — output is ≤ partitions × |Q| × (k + ties).
    2. JVM-side: ``F.round`` (Spark's HALF_UP BigDecimal semantics —
       rounding in numpy would be half-even and could disagree at
       exact midpoints) and a per-query rank over the tiny candidate
       set, ties to the smaller id — the same (rounded, id) order the
       single-query TakeOrdered uses, so each query's rows equal its
       ``pq_adc_topk`` result exactly.

    ``probe_lists`` (qid → coarse list ids, from ``query_probe_lists``)
    makes this the batched IVF-ADC: the scan filters to the UNION of
    probed lists (partition pruning on a ``__list``-partitioned store)
    and the kernel masks each query to its own lists.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    n_sub = len(codebooks)
    qids = sorted(queries)
    lut_np = np.array(
        [_adc_luts(queries[qid], codebooks) for qid in qids],
        dtype=np.float64,
    )  # (Q, S, C) — exact doubles from the shared python-loop builder
    margin = 10.0 ** (-round_to)
    probes = (
        {qid: frozenset(probe_lists[qid]) for qid in qids}
        if probe_lists is not None
        else None
    )
    need_list = probes is not None
    cols = [id_col, *[f"code_{s}" for s in range(n_sub)]]
    if need_list:
        cols.append("__list")
        union_lists = sorted({li for ls in probes.values() for li in ls})
        df_codes = df_codes.filter(F.col("__list").isin(union_lists))

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(
                [pdf[f"code_{s}"].to_numpy() for s in range(n_sub)], axis=1
            )
            ids = pdf[id_col].to_numpy()
            lists = pdf["__list"].to_numpy() if need_list else None
            for qi, qid in enumerate(qids):
                if need_list:
                    mask0 = np.isin(
                        lists, np.array(sorted(probes[qid]), dtype=lists.dtype)
                    )
                    if not mask0.any():
                        continue
                    c_codes, c_ids = codes[mask0], ids[mask0]
                else:
                    c_codes, c_ids = codes, ids
                dist = None
                for s in range(n_sub):
                    t = lut_np[qi, s][c_codes[:, s]]
                    dist = t if dist is None else dist + t
                m = min(k, len(dist))
                kth = np.partition(dist, m - 1)[m - 1]
                keep = dist <= kth + margin
                yield pd.DataFrame(
                    {
                        "qid": np.full(int(keep.sum()), qid, dtype=np.int64),
                        id_col: c_ids[keep],
                        "__adc_raw": dist[keep],
                    }
                )

    part = df_codes.select(*cols).mapInPandas(
        kernel, f"qid bigint, {id_col} bigint, __adc_raw double"
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc(id_col))
    return (
        part.withColumn("adc_dist", F.round("__adc_raw", round_to))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("qid", id_col, "adc_dist")
    )
