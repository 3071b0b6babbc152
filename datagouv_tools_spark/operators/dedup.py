"""Deduplication operators for document-scale pipelines.

Five strategies, cheapest to richest, all shuffle-planned for 100 TB:

- ``dedup_exact``          — hash-groupBy on a key (or fingerprint);
  one shuffle, map-side partial agg. The representative row is chosen
  deterministically (min id), never "whichever survived".
- ``dedup_fingerprint``    — exact dedup on the whitespace/case-
  normalized md5 fingerprint.
- ``minhash_pairs``        — MinHash + LSH banding: near-dup *pairs*
  without the O(n²) cross join. k hash functions over token sets →
  b bands of r rows → candidates share a (band, band-hash) bucket.
  Shuffles: one explode-shuffle per doc (k·|tokens| stays map-local),
  one bucket-join. Hand-rolled on xxhash64 (deterministic, JVM-side)
  rather than pyspark.ml so it runs on plain DataFrames.
- ``simhash64``            — 64-bit SimHash signature per doc;
  near-dups = small Hamming distance. Signature is one narrow column:
  at 100 TB you join on a few signature bands, not the text.
- ``ngram_jaccard_pairs``  — exact token-set Jaccard for candidate
  pairs (the verifier stage after MinHash/SimHash blocking; or standalone
  with a blocking key at small scale).

plus ``approx_distinct`` — HLL count-distinct for budget checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datagouv_tools_spark.functions.litfast import lit_bigint_array
from datagouv_tools_spark.functions.text import fingerprint_md5, tokens
from datagouv_tools_spark.functions.xhash import token_hash_expr

__all__ = [
    "dedup_exact",
    "dedup_fingerprint",
    "segment_dedup_marks",
    "minhash_signatures",
    "minhash_pairs",
    "minhash_cluster_edges",
    "simhash64",
    "ngram_jaccard_pairs",
    "approx_distinct",
]

# Fixed, public mixing constants for the k MinHash permutations —
# deterministic across runs and engines. The 2^31-1 Mersenne prime keeps
# h·a + b < 2^63, so the affine permutations never overflow ANSI bigint
# arithmetic.
_MERSENNE_PRIME = (1 << 31) - 1


def _hash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k (a, b) pairs for h_i(x) = (a·x + b) mod p, seeded deterministically."""
    params = []
    state = seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state | 1  # odd
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state
        params.append((a % _MERSENNE_PRIME, b % _MERSENNE_PRIME))
    return params


def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one row per key: the one with the minimal id (deterministic,
    unlike dropDuplicates). Implemented as min-id semi-join so ALL
    columns survive; single shuffle on key_cols."""
    winners = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return df.join(winners, on=key_cols + [id_col], how="left_semi")


def dedup_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint."""
    with_fp = df.withColumn("__fp", fingerprint_md5(text_col))
    return dedup_exact(with_fp, ["__fp"], id_col).drop("__fp")


def segment_dedup_marks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_len: int = 8,
    token_hash: str = "xxhash64",
    keep_cols: tuple[str, ...] = (),
    keep_seg_text: bool = False,
    fan_out_input: bool = True,
) -> DataFrame:
    """Sub-document (paragraph-level) exact dedup: mark every text
    segment as kept (global first occurrence) or duplicate.

    The RefinedWeb/FineWeb curation stage between doc-level exact dedup
    and MinHash near-dup: boilerplate paragraphs (navigation chrome,
    license blocks, cookie banners) repeat across millions of documents
    that are NOT document-level duplicates; dropping repeated segments
    while keeping their first occurrence removes the repetition without
    discarding whole documents. The testdata corpus has no newline
    paragraph delimiters, so "paragraph" here is a fixed window of
    ``seg_len`` whitespace tokens — the segmentation is a parameter, the
    dedup machinery is the real operator.

    Returns one row per segment: (id, seg_idx, seg_hash, kept, *keep_cols)
    where ``kept`` is true iff this (id, seg_idx) is the corpus-wide
    first occurrence of the segment, "first" = min (id, seg_idx) —
    deterministic across runs, engines, and cluster sizes, never
    "whichever task won".

    Scale: segmentation is pure array expressions (no shuffle before the
    posexplode, which is map-local). First-occurrence selection is the
    skew-proof groupBy-min shape: min(struct(id, seg_idx)) is algebraic,
    so a segment duplicated 10⁸× (a hot license block) collapses to one
    row per map task before the exchange; the winner table (one row per
    DISTINCT segment) then equi-joins back on the 8-byte hash — AQE
    splits any residual hot hash. Only hashes shuffle, never segment
    text. ``token_hash="md5"`` makes every hash DuckDB-recomputable.

    ``keep_seg_text=True`` carries the segment text through as ``seg``
    for consumers that REASSEMBLE documents (boilerplate scrubbing —
    see queries.doc_boilerplate_scrub); that variant pays text movement
    through the winner join, which reassembly requires anyway. Leave it
    off for audit/marking workloads: hashes-only shuffles.
    """
    from datagouv_tools_spark.operators.skew import fan_out_narrow_scan

    # per-segment hashing is a compute-bound kernel: unblock the
    # single-split-scan case (guide §2.5; no-op on multi-split inputs;
    # callers that already spread their input — the streaming scrub
    # gate's fan_out_batch — pass fan_out_input=False)
    if fan_out_input:
        df = fan_out_narrow_scan(df)
    ts = tokens(text_col)
    n = F.size(ts)
    n_segs = F.ceil(n.cast("double") / F.lit(float(seg_len))).cast("int")
    # Guard n >= 1: sequence(0, -1) would step backwards, not be empty.
    segs_arr = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(0), n_segs - F.lit(1)),
            lambda i: F.array_join(
                F.slice(ts, i * F.lit(seg_len) + F.lit(1), seg_len), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    seg_out = (F.col("__seg").alias("seg"),) if keep_seg_text else ()
    segs = df.select(
        F.col(id_col), *[F.col(c) for c in keep_cols],
        F.posexplode(segs_arr).alias("seg_idx", "__seg"),
    ).select(
        id_col, *keep_cols, "seg_idx", *seg_out,
        token_hash_expr(F.col("__seg"), token_hash).alias("seg_hash"),
    )
    winners = segs.groupBy("seg_hash").agg(
        F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias("__w")
    )
    return (
        segs.join(winners, "seg_hash")
        .withColumn(
            "kept",
            (F.col(id_col) == F.col(f"__w.{id_col}"))
            & (F.col("seg_idx") == F.col("__w.seg_idx")),
        )
        .drop("__w")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 64,
    seed: int = 42,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, signature array<bigint>[k]) per document.

    Token → hash (JVM) → k affine permutations → per-permutation min
    over the token set. All expression-level: transform + array_min,
    no explode, no shuffle. ``token_hash="md5"`` swaps xxhash64 for the
    cross-engine 60-bit md5 hash (functions/xhash.py) so a SQL oracle
    can recompute the exact signatures."""
    params = _hash_params(k, seed)
    tok_hashes = F.transform(
        F.array_distinct(tokens(text_col)),
        lambda t: F.abs(token_hash_expr(t, token_hash)) % F.lit(_MERSENNE_PRIME),
    )
    # Single-pass fold with a k-wide accumulator: one traversal of the
    # token array updates all k permutation minima via zip_with over the
    # literal (a, b) arrays. The k-separate-array_min form re-traverses
    # the token array k times and blows past codegen limits — measured
    # 14.6 s vs 1.8 s for k=64 over the sf0.1 documents table.
    # Literal arrays render as ONE expr (functions/litfast): the
    # per-element F.lit loop cost ~2k py4j round-trips per build.
    a_lit = lit_bigint_array(a for a, _ in params)
    b_lit = lit_bigint_array(b for _, b in params)
    p = F.lit(_MERSENNE_PRIME)
    sig = F.aggregate(
        tok_hashes,
        # p is an exclusive upper bound for (h·a+b) % p, so it is the
        # neutral "min" seed; empty token sets yield [p]*k (matching a
        # fold), distinct from the per-permutation NULLs of array_min —
        # no meaning at k distinct tokens = 0 either way.
        F.array_repeat(p.cast("bigint"), k),
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(a_lit, b_lit, lambda a, b: (h * a + b) % p),
            lambda x, y: F.least(x, y),
        ),
    )
    return df.select(F.col(id_col), sig.alias("signature"))


def minhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    token_hash: str = "xxhash64",
    band_key: str = "hash",
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding (id_a < id_b).

    rows-per-band r = k // bands; docs sharing any band bucket become a
    candidate pair. Pair generation is a self-join on (band_idx,
    band_hash) — the shuffle key is the bucket. CAUTION at scale:
    output is quadratic in bucket size, so mass duplication (one
    template × 10⁶ copies) materializes 10¹² pairs. When the goal is
    cluster dedup rather than per-pair verification, use
    ``minhash_cluster_edges`` (linear output, same components);
    measured on an 8× template-heavy corpus: 240 s / 540 M pairs here
    vs 2.9 s / 410 k edges there.

    ``band_key="hash"`` (default) joins on xxhash64 of the band values
    (narrow 8-byte shuffle key — the 100 TB choice); ``"values"`` joins
    on the concatenated values themselves: collision-free and exactly
    reproducible by a SQL oracle comparing raw signature slices."""
    band_entries = _band_entries(
        df, text_col, id_col, k, bands, seed, token_hash, band_key
    )
    a = band_entries.alias("a")
    b = band_entries.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _band_entries(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    bands: int,
    seed: int,
    token_hash: str,
    band_key: str,
) -> DataFrame:
    """(id, band_idx, band_hash) bucket entries shared by the pair and
    star-edge candidate generators."""
    r = k // bands
    sigs = minhash_signatures(df, text_col, id_col, k, seed, token_hash)

    # The whole band array renders as ONE SQL expression (array
    # subscripts are 0-based in Spark SQL, matching Column.__getitem__):
    # the per-band Column-op loop cost ~1k py4j round-trips per build
    # with identical folded expressions (functions/litfast rationale).
    def band_sql(band: int) -> str:
        joined = (
            "concat_ws(',',"
            + ",".join(f"signature[{band * r + i}]" for i in range(r))
            + ")"
        )
        return f"xxhash64({joined})" if band_key == "hash" else joined

    band_arr = F.expr(
        "array(" + ",".join(band_sql(b) for b in range(bands)) + ")"
    )
    return sigs.select(
        F.col(id_col),
        F.posexplode(band_arr).alias("band_idx", "band_hash"),
    )


def minhash_cluster_edges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    token_hash: str = "xxhash64",
    band_key: str = "hash",
) -> DataFrame:
    """LINEAR-output candidate edges for cluster dedup: within each
    (band, bucket), connect every member to the bucket's minimum id (a
    star) instead of materializing the O(m²) clique.

    A bucket's star spans exactly the same connected component as its
    clique, so ``dedup_clusters`` over these edges equals clusters over
    ``minhash_pairs`` output — at O(n·bands) edges instead of
    Σ_buckets m². This is THE difference between surviving mass
    duplication at 100 TB (one template × 10⁶ copies → 10⁶ star edges)
    and materializing 10¹² pairs. Use ``minhash_pairs`` only when each
    candidate pair must be individually verified (e.g. exact-Jaccard
    thresholding).

    Shuffle shape: groupBy-min on (band_idx, band_hash) + join back —
    NOT a window min: a window puts a whole bucket in one task (the
    10⁶-copy bucket becomes a straggler), while the aggregate combines
    map-side and AQE's skew-join splits the hot bucket on the join.
    Measured at the 8× template corpus: 3.1 s vs 4.3 s — and the gap is
    structural, not incidental, as buckets grow."""
    entries = _band_entries(df, text_col, id_col, k, bands, seed, token_hash, band_key)
    mins = entries.groupBy("band_idx", "band_hash").agg(
        F.min(id_col).alias("__min")
    )
    return (
        entries.join(mins, ["band_idx", "band_hash"])
        .filter(F.col(id_col) != F.col("__min"))
        .select(F.col("__min").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


def simhash64(
    df: DataFrame,
    text_col: str,
    id_col: str,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, simhash bigint): sign-aggregated 64-bit token-hash sketch.

    Explode-free: per bit j, count tokens with bit j set minus tokens
    with it clear, via transform + aggregate over the token array; bit
    j of the signature = (sum > 0).

    ``token_hash="md5"`` uses the cross-engine 60-bit hash: the
    signature narrows to 60 bits (always positive — no signed-shift
    ambiguity between engines) and a SQL oracle can recompute it
    bit-for-bit with plain bigint arithmetic."""
    n_bits = 64 if token_hash == "xxhash64" else 60
    tok_hashes = F.transform(tokens(text_col), lambda t: token_hash_expr(t, token_hash))

    # Literal bit masks double as bit test (h & m != 0) and bit value.
    # Bit 63 is the sign bit: its mask is the negative two's-complement
    # long (a 1<<63 literal would overflow); & / | are bit-pattern ops,
    # so the arithmetic sign never matters.
    masks = [(1 << j) if j < 63 else -(1 << 63) for j in range(n_bits)]
    m_lit = lit_bigint_array(masks)
    # Single-pass fold: one traversal of the token array updates all
    # n_bits counters via zip_with against the mask array. The n_bits-
    # separate-aggregates form re-traverses tokens once per bit —
    # measured 28.2 s vs 1.9 s over the sf0.1 documents table.
    contribs = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            m_lit,
            lambda c, m: c + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            contribs,
            m_lit,
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return df.select(F.col(id_col), sig.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    round_to: int = 6,
) -> DataFrame:
    """Exact token-set Jaccard pairs (id_a < id_b, jaccard ≥ threshold).

    O(n²) within the input — at scale, feed it LSH/blocking candidates,
    not a whole corpus. Intersection/union sizes are integers, so the
    rounded ratio is deterministic across engines (oracle-checkable)."""
    toks = df.select(
        F.col(id_col), F.array_distinct(tokens(text_col)).alias("ts")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.ts"), F.col("b.ts")))
    union = F.size(F.col("a.ts")) + F.size(F.col("b.ts")) - inter
    jaccard = F.round(inter.cast("double") / union.cast("double"), round_to)
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jaccard.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def approx_distinct(df: DataFrame, col: str, rsd: float = 0.05) -> DataFrame:
    """HLL approximate count-distinct — the 100 TB cardinality probe."""
    return df.agg(F.approx_count_distinct(col, rsd).alias("approx_distinct"))


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    max_local_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over near-duplicate pairs → (node,
    cluster_id), cluster_id = min node id in the component. The
    canonical "keep one per cluster" step after any pair generator
    (MinHash bands, SimHash, embedding cosine).

    Bounded local finish: if the edge set fits ``max_local_edges``
    (proved by the same bounded fetch as cosine_pairs_exact — one
    ``toArrow()`` of ``limit(bound + 1)`` both fetches and checks the
    bound, in one job), union-find runs on the
    driver and the labels are parallelized back; otherwise min-label
    propagation with pointer jumping runs distributed (``_cc_minlabel``:
    one |E| shuffle + one label-hop join per round, a few rounds on
    shallow near-dup graphs). Iterative distributed CC pays ~0.5 s of
    scheduling per round regardless of |E| (7 rounds ≈ 4 s on a
    500-edge graph at sf0.1); a dedup edge list under the bound is a
    driver-sized array, and finishing it locally is what production CC
    implementations do once the frontier collapses. At 100 TB edge sets
    exceed the bound and the distributed path runs — the bound is the
    contract, not a hope. (Oversize inputs pay one extra pass of the
    pair-generation lineage for the failed probe; that lineage is
    checkpointed first thing by the distributed path.)

    Both paths give identical labels (the equivalence is tested), and
    the fixpoint is unique, so results are deterministic and
    oracle-checkable (recursive CTE in SQL).
    """
    local = _cc_local(pairs, id_a, id_b, max_local_edges)
    if local is not None:
        return local
    return _cc_minlabel(pairs, id_a, id_b, max_iter)[0]


def _cc_local(
    pairs: DataFrame, id_a: str, id_b: str, max_edges: int
) -> DataFrame | None:
    """Driver union-find over a BOUNDED edge list; None if over bound.

    Path-compressed, union-by-size; cluster_id = min node id in the
    component — byte-identical to the distributed fixpoints (the
    equivalence is tested). Output is an Arrow table sorted by node,
    so downstream ordering is deterministic.

    The bounded edge list crosses to the driver as ONE Arrow table
    (``toArrow``) rather than pickled Rows — columnar transfer of two
    long columns, measured ~1 s faster per 250k edges (guide §6:
    Arrow for driver transfers); the ``limit`` bound is enforced
    before any bytes move, identical to the collect path."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    sel = pairs.select(
        F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b")
    ).limit(max_edges + 1)
    tbl = sel.toArrow()
    if tbl.num_rows > max_edges:
        return None
    rows = list(zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()))
    parent: dict[int, int] = {}
    size: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        for n in (a, b):
            if n not in parent:
                parent[n] = n
                size[n] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]

    cluster_min: dict[int, int] = {}
    for n in parent:
        root = find(n)
        if root not in cluster_min or n < cluster_min[root]:
            cluster_min[root] = n
    nodes = sorted(parent)
    # an Arrow table plans as a LocalTableScan; a list would be a Python
    # RDD whose every scan runs a Python identity task per core
    labels = pa.table(
        {
            "node": pa.array(nodes, pa.int64()),
            "cluster_id": pa.array([cluster_min[find(n)] for n in nodes], pa.int64()),
        }
    )
    return pairs.sparkSession.createDataFrame(labels)


def _cc_minlabel(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> tuple[DataFrame, int]:
    """Min-label propagation; returns (labels, rounds-to-converge).

    Each round joins labels to edges, takes the neighborhood min, and
    stops when no label changed. ``localCheckpoint`` per round
    truncates lineage (an unbounded iterative plan otherwise recompiles
    and re-executes from scratch each round).

    Scale: each round is one shuffle of |E| on the join key; rounds ≈
    log(diameter) with pointer jumping.
    """
    from pyspark.sql import functions as F

    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        # materialize once: edges are re-joined every round, and without
        # this the (possibly expensive) pair-generation lineage re-executes
        # per iteration — measured 33s -> ~6s at sf0.1 with the BLAS
        # near-dup kernel upstream
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    # Convergence probe: labels only decrease, so Σ lbl strictly
    # decreases iff any label changed. One decimal-sum scan over the
    # just-checkpointed labels replaces the former labels⋈new_labels
    # diff join — one fewer shuffle AND one fewer action per round.
    # decimal(38,0) cannot overflow below ~10^38 total label mass.
    def _label_sum(lbls: DataFrame):
        return lbls.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]

    from datagouv_tools_spark.operators.ckpt import RoundCheckpointer

    _ckpt = RoundCheckpointer()
    prev_sum = _label_sum(labels)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("nb_node"))
            .agg(F.min("lbl").alias("nb_lbl"))
        )
        propagated = labels.join(
            neighbor_min, labels.node == F.col("nb_node"), "left"
        ).select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("nb_lbl"), F.col("lbl"))).alias(
                "lbl"
            ),
        )
        # pointer jumping (path halving): lbl ← lbl(lbl). Labels only
        # decrease, so composing the mapping with itself shortcuts label
        # chains and convergence drops from O(diameter) to O(log d)
        # rounds — each round is the expensive unit (a full shuffle +
        # action), so halving rounds matters more than the extra join.
        hop = propagated.select(
            F.col("node").alias("h_node"), F.col("lbl").alias("h_lbl")
        )
        new_labels = _ckpt(
            propagated.join(hop, propagated.lbl == F.col("h_node"), "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("h_lbl"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
        )
        labels = new_labels
        new_sum = _label_sum(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("node", F.col("lbl").alias("cluster_id")), rounds


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 6,
    threshold_num: int = 3,
    threshold_den: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Corpus-wide EXACT shingle-set Jaccard join via prefix filtering
    (the AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): the scale path for exact set-similarity, where
    ``ngram_jaccard_pairs`` is the O(n²) block verifier and MinHash is
    the approximate tier. Sets are word-``shingle_len``-gram shingles
    hashed to 60-bit ids (md5 — cross-engine, see functions/xhash):
    unigram sets are non-discriminative on template-heavy corpora
    (measured: 57% of ALL doc pairs here clear 0.6 on unigrams, vs
    exactly the true near-dups on 6-gram shingles), and hashing keeps
    every shuffle 8 bytes per element instead of text.

    Completeness argument: if J(a,b) ≥ t then a and b share at least
    ``|a| - ceil(t·|a|) + 1`` elements of a under ANY fixed total
    order, so after globally ordering shingles rarest-first and
    keeping only each set's first ``prefix_len`` elements, every
    qualifying pair still collides on ≥ 1 prefix element. Rarest-first
    makes those collision buckets the SMALLEST ones — candidates stay
    near-linear instead of quadratic on common shingles.

    The threshold is the rational ``threshold_num/threshold_den`` so
    both the prefix length (integer ceil) and the final filter
    (``den·inter ≥ num·union``) are exact integer arithmetic — no
    float threshold can disagree across engines.

    Returns (id_a < id_b, inter, uni, jaccard ≥ t), jaccard rounded.

    Scale: two shuffles to attach global shingle frequencies and
    rebuild per-doc sorted sets, one equi-join on prefix shingle
    hashes for candidates (bucket sizes bounded by rarest-first
    ordering), and one id-keyed verification join. Sets ride as
    per-doc bounded bigint arrays; the corpus never block-crosses.
    """
    from datagouv_tools_spark.functions.text import tokens
    from datagouv_tools_spark.functions.xhash import md5_hash60

    num, den = threshold_num, threshold_den
    k = shingle_len
    # Materialize the token array as a PROJECTED COLUMN before the
    # higher-order shingle transform references it k times per
    # position: common-subexpression elimination does not reach into
    # lambda bodies, so an inlined tokens() would re-tokenize the
    # document k× per shingle (measured ~10× slowdown).
    from datagouv_tools_spark.operators.skew import fan_out_narrow_scan

    # per-shingle md5 is compute-bound: unblock the single-split-scan
    # case (guide §2.5; no-op on multi-split inputs)
    base = fan_out_narrow_scan(df).select(
        F.col(id_col).alias("__id"), tokens(text_col).alias("__tk")
    )
    tk = F.col("__tk")
    n_tok = F.size("__tk")
    shingle_of = lambda i: md5_hash60(  # noqa: E731
        F.concat_ws(
            " ", *[F.element_at(tk, i + F.lit(o)) for o in range(k)]
        )
    )
    # Distinct (doc, shingle-hash) pairs via explode→distinct — NOT a
    # single array_distinct(transform(...)) mega-expression: folding
    # filter + distinct + k element_at probes into one expression tree
    # pushed it past whole-stage-codegen limits into interpreted
    # evaluation (measured 26 s vs ~1 s for this explode form on the
    # same data). PINNED with a local checkpoint: it feeds the rank
    # pipeline, both candidate self-join sides, and both verification
    # sides — without pinning, every branch re-runs the tokenize+hash
    # scan. 16 bytes/row, the same bounded-intermediate discipline as
    # the pagerank loops.
    tok = (
        base.filter(n_tok >= k)
        .select(
            "__id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n_tok - F.lit(k - 1)), shingle_of
                )
            ).alias("__tok"),
        )
        .distinct()
        .localCheckpoint()
    )
    toks = tok.groupBy("__id").agg(F.collect_list("__tok").alias("__ts"))
    freq = tok.groupBy("__tok").agg(F.count(F.lit(1)).alias("__cnt"))
    ranked = (
        tok.join(freq, "__tok")
        .groupBy("__id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("__cnt", "__tok"))
            ).alias("__sorted")
        )
        .select(
            "__id",
            F.transform(F.col("__sorted"), lambda s: s["__tok"]).alias("__ts"),
        )
    )
    n = F.size("__ts")
    # prefix_len = n - ceil(num*n/den) + 1; integer ceil = (x+den-1) div den
    plen = n - F.expr(f"(({num} * size(__ts)) + {den - 1}) div {den}") + F.lit(1)
    prefix = ranked.select(
        "__id", F.explode(F.slice("__ts", 1, plen)).alias("__tok")
    ).localCheckpoint()
    a, b = prefix.alias("pa"), prefix.alias("pb")
    cands = (
        a.join(
            b,
            (F.col("pa.__tok") == F.col("pb.__tok"))
            & (F.col("pa.__id") < F.col("pb.__id")),
        )
        .select(
            F.col("pa.__id").alias("id_a"), F.col("pb.__id").alias("id_b")
        )
        .distinct()
    )
    # Verification reuses the cheap map-only shingle sets (element
    # ORDER is irrelevant to intersection size) — not the ranked
    # pipeline, which would drag its two shuffles in twice more.
    sa = toks.select(
        F.col("__id").alias("id_a"), F.col("__ts").alias("__tsa")
    )
    sb = toks.select(
        F.col("__id").alias("id_b"), F.col("__ts").alias("__tsb")
    )
    inter = F.size(F.array_intersect("__tsa", "__tsb"))
    uni = F.size("__tsa") + F.size("__tsb") - inter
    verified = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.cast("bigint").alias("inter"),
            uni.cast("bigint").alias("uni"),
        )
        .filter(F.col("inter") * den >= F.col("uni") * num)
    )
    return verified.withColumn(
        "jaccard",
        F.round(
            F.col("inter").cast("double") / F.col("uni").cast("double"),
            round_to,
        ),
    )
