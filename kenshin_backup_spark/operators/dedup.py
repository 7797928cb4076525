"""Deduplication operators (SURVEY.md §2.9 X1/X2) — exact and near-dup.

A 100 TB training-data pipeline dedups in tiers, cheapest first:

1. **Exact** — hash-groupBy on a canonical fingerprint (one shuffle on the
   hash; the hash is computed scan-side so the shuffle carries 32 bytes/row,
   not the document).
2. **Near-dup, lexical** — MinHash over shingle sets banded into LSH
   buckets: candidate pairs come from an *equi-join on (band, bucket-hash)*,
   never a cross join. Spark ML's ``MinHashLSH.approxSimilarityJoin`` does
   shingle→minhash→band→bucket-join natively.
3. **Near-dup, n-gram Jaccard** — exact Jaccard on shingle sets for
   verification of candidate pairs (or as the full method at small scale):
   explode shingles → equi-join on shingle → count common / union.
4. **SimHash** — 64-bit signature via per-token hash bit-majority; near
   pairs = small Hamming distance, found by pigeonhole banding on signature
   chunks (exact-match join per chunk), again no cross join.
5. **Embedding cosine** — see :mod:`kenshin_backup_spark.operators.similarity`.

All document-side computation is native Spark SQL expressions (split,
transform, xxhash64, bitwise aggs) — no Python UDFs in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kenshin_backup_spark.cache import persist_tracked


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for fingerprinting: lowercase, collapse
    whitespace, trim. (DuckDB mirror: lower + regexp_replace(..., 'g'))."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint (md5 hex) of the
    normalized text — the exact-dedup key. md5 is identical across Spark,
    DuckDB, and any other engine, which makes dedup results portable."""
    return F.md5(normalize_text(col))


def exact_dedup(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """X1: keep the minimum-id representative per fingerprint group.

    One wide shuffle on the 32-byte fingerprint. Output keeps group size so
    callers can split uniques from collapsed duplicates.

    NULL/empty texts are excluded: md5(normalize(NULL)) is NULL and groupBy
    would otherwise collapse every null-text document into one fake
    "duplicate" cluster with a single keep_id.
    """
    fp = fingerprint(text_col).alias("fp")
    return (
        df.where(
            F.col(text_col).isNotNull() & (normalize_text(text_col) != "")
        )
        .select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles_from_words(words: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED words-array column.

    ``words`` must be a projected column (not an inline ``split(...)``
    expression): Spark does no common-subexpression elimination inside
    higher-order-function lambdas, so an inline expression would re-run the
    whole normalize+split chain once per array element (measured ~25s for
    260k shingles vs <1s materialized).
    """
    count = F.size(words) - (n - 1)
    # Guard: Spark's sequence(0, -1) yields a DESCENDING [0, -1], not [].
    idx = F.when(count > 0, F.sequence(F.lit(0), count - 1)).otherwise(
        F.array().cast("array<int>")
    )
    # array_join(slice(...)) rather than concat_ws over n element_at calls:
    # identical output, ~9x faster in codegen (measured 3.9s -> 0.45s for
    # 260k shingles at sf0.1).
    grams = F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " "))
    return F.array_distinct(grams)


def with_shingles(
    df: DataFrame, *, text_col: str = "text", n: int = 3, out_col: str = "sh"
) -> DataFrame:
    """Add a distinct word-n-gram shingle array column (two materialized
    steps: words, then grams — see :func:`shingles_from_words`)."""
    return (
        df.withColumn("__words", F.split(normalize_text(text_col), " "))
        .withColumn(out_col, shingles_from_words(F.col("__words"), n))
        .drop("__words")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """X2 (exact variant): document pairs with shingle-set Jaccard ≥ t.

    Plan shape: explode shingles → self equi-join **on the shingle** (plus
    an optional blocking key) → per-pair common-count → Jaccard from the
    per-doc set sizes. The only joins are equi-joins; at 100 TB the shingle
    join is the standard posting-list self-join.

    ``max_df`` is the scale lever: shingle-join volume is Σ df², dominated
    by stop-phrase shingles. With ``max_df`` set, the Jaccard is DEFINED
    over the capped shingle universe (df ≤ max_df) — set sizes and
    intersections both exclude high-df shingles, so the semantics stay
    self-consistent (and oracle-mirrorable), while the join drops its
    quadratic head.

    Returns ``(id_a, id_b, common, size_a, size_b, jaccard)`` with
    ``id_a < id_b``.
    """
    shingled = with_shingles(
        df.select(
            F.col(id_col).alias("id"),
            *([F.col(block_col).alias("blk")] if block_col else []),
            F.col(text_col),
        ),
        text_col=text_col,
        n=n,
    ).drop(text_col)
    # The shingle table feeds THREE consumers (sizes + both sides of the
    # self-join); without persistence Spark recomputes the regex/shingle
    # pipeline per consumer (measured 13× slower). At 100 TB this persist
    # becomes a materialized shingle/posting table on storage.
    shingled = shingled.transform(persist_tracked)
    # Posting keys are xxhash64 of the shingle, not the string: the
    # df-count and self-join shuffles then carry 8-byte longs instead of
    # ~25-byte gram strings (standard posting-list key compression;
    # a 2^-64 gram collision would merge two posting lists — negligible,
    # and caught downstream when an exact-verify stage re-checks pairs).
    posting = (
        shingled.select(
            "id", *(["blk"] if block_col else []), F.explode("sh").alias("gs")
        )
        .withColumn("g", F.xxhash64("gs"))
        .drop("gs")
        .transform(persist_tracked)
    )
    if max_df is not None:
        # Drop hot shingles with a broadcast ANTI-join on the df > max_df
        # HEAD, not an inner join on the df <= max_df tail: the kept set is
        # nearly the whole vocabulary (broadcast grows with corpus size —
        # scale-hostile), while the stop-phrase head is small and bounded
        # (|hot| <= |posting| / max_df by pigeonhole). Identical result:
        # g not-in hot  <=>  df(g) <= max_df. The inner<->anti equivalence
        # additionally needs non-null keys (an inner join drops null g, a
        # left_anti keeps it): g = xxhash64(exploded shingle) is provably
        # non-null — explode skips nulls and xxhash64 of a string is
        # never null (ADVICE r15).
        hot = (
            posting.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("g")
        )
        posting = posting.join(F.broadcast(hot), "g", "left_anti").transform(
            persist_tracked
        )
        sizes = posting.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    else:
        sizes = shingled.select("id", F.size("sh").alias("sz"))
    a = posting.alias("a")
    b = posting.alias("b")
    join_cond = (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id"))
    if block_col:
        join_cond = join_cond & (F.col("a.blk") == F.col("b.blk"))
    common = (
        a.join(b, join_cond)
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    out = (
        common.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            "common",
            F.col("sa.sz").alias("size_a"),
            F.col("sb.sz").alias("size_b"),
        )
        .withColumn(
            "jaccard",
            (
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common"))
            ).cast("double"),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def _simhash_mask(bit: int) -> int:
    # bit 63 is the sign bit of a 64-bit two's-complement long
    return (1 << bit) if bit < 63 else -(1 << 63)


def md5_hash60(col: Column) -> Column:
    """Portable 60-bit token hash: first 15 hex digits of md5, parsed as an
    integer. Slower than xxhash64 but reproducible in ANY engine with md5
    (DuckDB mirror: CAST('0x' || substring(md5(x),1,15) AS BIGINT)) — used
    by the oracle-checked SimHash variant."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_from_hashes(hashes: Column, *, bits: int = 64) -> Column:
    """SimHash signature from a MATERIALIZED array<bigint> of token hashes:
    per bit position, majority vote across tokens (+1 if set, −1 otherwise);
    signature bit = vote > 0. ``bits`` conditional array-sums —
    aggregate-only, no UDF."""

    def _vote(bit: int):
        m = F.lit(_simhash_mask(bit))
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        )

    sig = F.lit(0).cast("long")
    for bit in range(bits):
        sig = sig.bitwiseOR(
            F.when(_vote(bit) > 0, F.lit(_simhash_mask(bit))).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sig


def with_simhash(
    df: DataFrame,
    *,
    text_col: str = "text",
    out_col: str = "sig",
    ngram: int = 2,
    hash_fn: str = "xxhash64",
    bits: int = 64,
) -> DataFrame:
    """Add a SimHash column of the normalized text from word-``ngram``
    tokens (materialized words → grams → hashes pipeline; see
    :func:`shingles_from_words` for why materialization matters).

    ``hash_fn='xxhash64'`` is the fast engine-native variant (64 bits);
    ``hash_fn='md5'`` is the portable 60-bit variant whose signatures are
    reproducible in any engine (oracle-checkable; see :func:`md5_hash60`).

    Near-duplicate retrieval at scale: split the signature into 4 chunks;
    Hamming(d)≤3 pairs must agree exactly on ≥1 chunk (pigeonhole)
    → equi-join per chunk, union, verify Hamming. No cross join.
    """
    hashers = {
        "xxhash64": lambda g: F.xxhash64(g),
        "md5": md5_hash60,
    }
    d = with_shingles(df, text_col=text_col, n=ngram, out_col="__sh")
    d = d.withColumn("__hashes", F.transform(F.col("__sh"), hashers[hash_fn]))
    return d.withColumn(
        out_col, simhash_from_hashes(F.col("__hashes"), bits=bits)
    ).drop("__sh", "__hashes")


def simhash_near_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    bits: int = 64,
    ngram: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole chunk banding (see
    :func:`with_simhash`). Returns ``(id_a, id_b, hamming)``."""
    chunk_bits = bits // 4
    chunk_mask = (1 << chunk_bits) - 1
    sigs = with_simhash(
        df.select(F.col(id_col).alias("id"), F.col(text_col)),
        text_col=text_col,
        hash_fn=hash_fn,
        bits=bits,
        ngram=ngram,
    ).select("id", "sig").transform(persist_tracked)
    chunks = None
    for c in range(4):
        piece = sigs.select(
            "id",
            "sig",
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned("sig", c * chunk_bits)
            .bitwiseAND(F.lit(chunk_mask))
            .alias("key"),
        )
        chunks = piece if chunks is None else chunks.unionByName(piece)
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


#: Mersenne prime 2^31-1: the universal-hash modulus for portable MinHash.
#: Products a·h stay < 2^62, so the arithmetic is exact int64 in ANY engine.
MINHASH_P = 2_147_483_647


def minhash_params(num_hashes: int, *, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded (a, b) coefficients for the universal hash family
    ``h_i(x) = (a_i·x + b_i) mod P`` — plain integers, so the same family
    reproduces bit-for-bit in DuckDB (cf. :func:`srp_planes` for SRP)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randint(1, MINHASH_P - 1), rng.randint(0, MINHASH_P - 1))
        for _ in range(num_hashes)
    ]


#: Positional weights for order-independent band keys: Σ mh_j · 31^j over a
#: band's rows. With mh < 2^31 and Σ weights < 2^15 the sum is < 2^46 — no
#: overflow, no modulus, exact in both engines.
def _band_weights(rows_per_band: int) -> list[int]:
    return [31**j for j in range(rows_per_band)]


def minhash_portable_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """X2: MinHash+LSH near-dup with PORTABLE integer hashing — the
    oracle-checkable MinHash (the Spark-ML :func:`minhash_lsh_dupes` twin
    uses private float hash families and is rows-only).

    Pipeline, all codegen (zero UDFs, zero cross joins):

    1. distinct word-``n``-gram shingles (materialized — see
       :func:`shingles_from_words`);
    2. per-shingle portable hash ``md5_hash60 mod P`` (P = 2^31−1);
    3. ``num_hashes`` universal-hash minima per doc, computed ARRAY-SIDE
       (``array_min ∘ transform``) — signatures never shuffle raw shingles;
    4. ``bands`` band keys via positional 31^j folds → explode →
       self equi-join on (band, key) → distinct candidate pairs
       (standard b×r banding: P[collide] = 1−(1−j^r)^b);
    5. exact shingle-set Jaccard verify on candidates only
       (``array_intersect`` on the materialized shingle arrays).

    Every stage is integer-deterministic, so candidate generation AND
    verification reproduce exactly in DuckDB — recall is approximate
    (banding may miss true pairs) but the RESULT is fully oracle-checked.

    At 100 TB: signature cost is a scan-side O(k·|sh|) per doc; the only
    shuffles are the (band, key) equi-join (bucket sizes tuned by b/r) and
    the candidate-pair verify join — the same two-tier LSH→verify shape as
    the production MinHash dedup.

    Returns ``(id_a, id_b, common, size_a, size_b, jaccard)``.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide evenly into bands")
    rows_per_band = num_hashes // bands
    # 31^j fold overflow bound: mh < 2^31 and Σ_j 31^j must keep the band
    # key < 2^63. 31^7·2^31 ≈ 2^65 already wraps int64 — Spark would wrap
    # silently while DuckDB promotes, desyncing the band keys from the
    # oracle. 7 rows/band is the exact-arithmetic ceiling.
    if rows_per_band > 7:
        raise ValueError(
            f"num_hashes//bands = {rows_per_band} > 7 overflows the 31^j "
            "band fold in int64; use more bands or fewer hashes"
        )
    params = minhash_params(num_hashes, seed=seed)
    weights = _band_weights(rows_per_band)

    shingled = (
        with_shingles(
            df.select(F.col(id_col).alias("id"), F.col(text_col)),
            text_col=text_col,
            n=n,
        )
        .select("id", "sh")
        .withColumn(
            "__hm",
            F.transform(
                F.col("sh"), lambda g: F.pmod(md5_hash60(g), F.lit(MINHASH_P))
            ),
        )
        .transform(persist_tracked)
        # filter ABOVE the persist boundary: pushed below it, Catalyst
        # duplicates the whole normalize→shingle pipeline into the scan's
        # data filter and the cache build pays it twice
        .where(F.size("sh") > 0)
    )
    def _perm(a: int, b: int):
        # closure factory, not default-args: PySpark reads lambda arity
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(MINHASH_P))

    mh = [
        F.array_min(F.transform(F.col("__hm"), _perm(a, b))).cast("long")
        for (a, b) in params
    ]
    band_keys = [
        sum(
            mh[bi * rows_per_band + j] * F.lit(weights[j])
            for j in range(rows_per_band)
        ).alias(f"__k{bi}")
        for bi in range(bands)
    ]
    sigs = (
        shingled.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(bi).alias("band"), band_keys[bi].alias("key"))
                        for bi in range(bands)
                    ]
                )
            ).alias("bk"),
        )
        .select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        # both sides of the band self-join read sigs; without persist the
        # k·|sh| minhash transforms run twice (visible in the physical plan
        # as two identical Generate subtrees)
        .transform(persist_tracked)
    )

    a = sigs.alias("a")
    b = sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    sh_a = shingled.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = shingled.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("common"),
            F.size("sh_a").cast("long").alias("size_a"),
            F.size("sh_b").cast("long").alias("size_b"),
        )
        .withColumn(
            "jaccard",
            (
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common"))
            ).cast("double"),
        )
    )
    return verified.where(F.col("jaccard") >= threshold)


def minhash_lsh_dupes(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
):
    """X2 (approximate): MinHash+LSH near-dup join via Spark ML.

    shingle → HashingTF sparse vector → MinHashLSH.approxSimilarityJoin.
    Approximate (seeded, deterministic per run config) → driver checks
    rows-only; the exact :func:`ngram_jaccard_pairs` is the oracle-checkable
    twin. At 100 TB this is the main dedup path: the banded join's
    candidate set is near-linear in corpus size, vs quadratic verification.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    shingled = with_shingles(
        df.select(F.col(id_col).alias("id"), F.col(text_col)), text_col=text_col, n=3
    ).select("id", "sh").where(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18)
    # feats feeds fit + both sides of approxSimilarityJoin — persist once.
    feats = tf.transform(shingled).transform(persist_tracked)
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hashes, seed=seed
    )
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, 1.0 - jaccard_threshold, distCol="jaccard_dist"
    )
    return (
        pairs.where(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            (1 - F.col("jaccard_dist")).cast("double").alias("jaccard_est"),
        )
    )


def connected_components_star(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str = "id",
    max_iters: int = 25,
    small_graph_max_edges: int = 100_000,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") →
    ``(id, component)`` with component = min node id.

    Why this beats plain label propagation at scale: propagation needs
    O(diameter) rounds — a 10⁶-node near-dup *chain* needs 10⁶ shuffles.
    Star rounds contract paths roughly geometrically (O(log² n) rounds in
    the worst case, 2–4 rounds on real near-dup graphs), and every round is
    two grouped aggregations over the *edge* list only.

    - large-star (center u over the symmetrized adjacency): connect every
      strictly-larger neighbor v > u to m = min(Γ(u) ∪ {u}).
    - small-star (center u over edges oriented u > v): connect u and all
      its smaller neighbors to their minimum.

    Convergence = the canonical edge set reproduces itself, detected with a
    free (count, hash-sum) signature — no driver collect of labels. Raises
    if ``max_iters`` rounds don't converge (never silent wrong labels).

    Small-graph fast path (r15, guide §1.2 "the distributed algorithm"):
    when the deduped edge set holds at most ``small_graph_max_edges`` rows
    — a BOUNDED collect, ≤ ~1.6 MB of long pairs at the default — the
    component labels are computed with a driver-side union-find instead of
    running 2–4 star rounds of cluster-wide window stages over a frame
    that fits in one cache line's worth of tasks. Same decision shape as
    Spark's own broadcast-join threshold: a size-gated plan choice, exact
    same labels (min-id semantics; equivalence property-tested against
    the star rounds). The near-dup graph of a real corpus is SPARSE
    (df-capped posting joins bound edges ≈ Σdf²), but at 100 TB it far
    exceeds the threshold and takes the star path unchanged — this gate
    removes the fixed per-round scheduling floor precisely when the data
    is too small for the cluster algorithm to amortize it, and the count
    that decides is a metadata read of the already-materialized
    checkpoint. ``small_graph_max_edges=0`` disables the fast path (used
    by tests to pin the star rounds themselves).
    """
    e0 = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    e = (
        e0.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if small_graph_max_edges > 0 and e.count() <= small_graph_max_edges:
        spark = edges.sparkSession
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in e.collect():
            a, b = row["src"], row["dst"]
            for v in (a, b):
                if v not in parent:
                    parent[v] = v
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by id: smaller root wins → component = min node id
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        labels = spark.createDataFrame(
            [(v, find(v)) for v in parent], "id long, component long"
        )
        if nodes is not None:
            iso = (
                nodes.select(F.col(node_col).cast("long").alias("id"))
                .distinct()
                .join(labels.select("id"), "id", "left_anti")
                .select("id", F.col("id").alias("component"))
            )
            labels = labels.unionByName(iso)
        return labels
    prev_sig = None
    converged = False
    from pyspark.sql import Window as _W

    # Per-center neighborhood minimum as a partition window instead of the
    # old groupBy(min) + equi-join-back: one exchange+sort per star round
    # where the join form paid an aggregate exchange plus a sort-merge join
    # (r15 measurement: the loop dropped ~35% wall at sf0.1; the edge SETS
    # each round are identical, so convergence and labels are unchanged).
    # Skew note: the join form colocated each center's edges in one join
    # partition anyway, so the window introduces no new hot-key exposure.
    _mn_w = _W.partitionBy("src")
    for _ in range(max_iters):
        # large-star: for each center u, attach larger neighbors to the min
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        large = (
            sym.withColumn("mn", F.min("dst").over(_mn_w))
            .where(F.col("dst") > F.col("src"))
            .select(
                F.col("dst").alias("src"),
                F.least(F.col("src"), F.col("mn")).alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
        )
        # small-star: edges are (u > v)-oriented by construction above;
        # attach u and all its smaller neighbors to their minimum. The old
        # intermediate .distinct() on `large` is gone: duplicates cannot
        # multiply (each directed sym edge yields at most one large row, so
        # |large| <= |sym|), min() ignores them, and the final distinct
        # below restores set semantics before the signature probe.
        large2 = large.withColumn("mn", F.min("dst").over(_mn_w))
        small_nb = large2.select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        # one row per large-edge instead of one per center; equal as a SET
        # after the union's distinct (the center set is identical)
        small_self = large2.select("src", F.col("mn").alias("dst"))
        # localCheckpoint (not persist): each round must TRUNCATE lineage,
        # or the logical plan doubles per round and Catalyst planning time
        # grows exponentially with iteration count. LAZY (eager=False):
        # the signature probe right below is always this frame's first
        # action, so it materializes the checkpoint as part of the probe
        # job — one job per round instead of two (measured −15% loop
        # latency at sf0.1; see SCALE.md round-5). Probing every round
        # stays optimal: batching 2 star-rounds per probe measured SLOWER
        # (the wasted post-fixpoint iteration costs more than a probe).
        new_e = (
            small_nb.union(small_self)
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # bit_xor: order-independent and overflow-free (ANSI mode forbids a
        # wrapping SUM of 64-bit hashes)
        sig_row = new_e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        e = new_e
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iters} rounds"
        )
    # fixpoint is a star forest: every src points at its component root
    comp = e.groupBy("src").agg(F.min("dst").alias("component")).select(
        F.col("src").alias("id"), "component"
    )
    roots = (
        e.select(F.col("dst").alias("id"))
        .distinct()
        .join(e.select(F.col("src").alias("id")).distinct(), "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    labels = comp.unionByName(roots)
    if nodes is not None:
        iso = (
            nodes.select(F.col(node_col).cast("long").alias("id"))
            .distinct()
            .join(labels.select("id"), "id", "left_anti")
            .select("id", F.col("id").alias("component"))
        )
        labels = labels.unionByName(iso)
    return labels


def connected_components(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str = "id",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over a near-dup pair graph → ``(id, component)``
    with ``component`` = min node id in the component (deterministic label).

    The dedup-clustering step of a training-data pipeline: near-dup PAIRS
    (from LSH / SimHash / Jaccard) must be grouped into clusters so exactly
    one canonical document per cluster survives; pairwise drop-one loses
    documents when A~B, B~C but A!~C.

    Algorithm: iterative min-label propagation. Each round every node takes
    ``min(own label, neighbours' labels)`` via one equi-join on the
    (undirected, symmetrized) edge list, until a fixpoint. Rounds needed =
    graph diameter ≤ max component size; near-dup clusters are tiny, so
    this converges in a handful of rounds. At 100 TB scale the same loop
    runs with edges pre-partitioned by ``src`` (one shuffle per round over
    the *edge* list only — labels are 16 bytes/row), or graduates to the
    Kiveris large-star/small-star variant for billion-edge graphs; the
    fixpoint test is an exact count, not a driver collect of labels.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.distinct().transform(persist_tracked)
    if nodes is not None:
        lab = nodes.select(F.col(node_col).cast("long").alias("id")).distinct()
    else:
        lab = sym.select(F.col("src").alias("id")).distinct()
    labels = lab.select("id", F.col("id").alias("component")).localCheckpoint(
        eager=True
    )
    changed = 0
    for _ in range(max_iters):
        # neighbour-min of current labels, joined back; one shuffle stage.
        neigh = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        # localCheckpoint truncates lineage per round — with plain persist
        # the logical plan doubles every iteration and planning time
        # explodes on long-diameter graphs.
        new = (
            labels.join(neigh, labels.id == neigh.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    sym.unpersist()
    if changed != 0:
        # The fixpoint count is already computed each round, so this check is
        # free — a component with diameter > max_iters would otherwise return
        # silently-wrong labels.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations "
            f"({changed} labels still changing); raise max_iters"
        )
    return labels
