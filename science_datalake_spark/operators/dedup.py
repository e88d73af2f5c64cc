"""Deduplication operators for large-scale training-data pipelines.

Four families (BASELINE.json north star):
- exact: hash-groupBy on a content key — one shuffle, the 100 TB workhorse
- MinHash + LSH: shingle → per-band min-hash → band-bucket self-join; the
  shuffle is on (band, minhash), never on pairs, so cost is O(docs·bands)
  not O(docs²)
- SimHash: random-hyperplane bit signature via hash parity; near-dups share
  signatures (Hamming buckets)
- n-gram Jaccard: exact set similarity for candidate verification — at
  scale this runs AFTER LSH candidate generation, never on the cross
  product

Hashing is pluggable (``hash_fn``): the default ``"md5"`` is
engine-portable (the DuckDB oracle computes the identical signatures,
which is what the correctness gate hash-checks), while ``"xxhash64"`` is
the raw-throughput path for 100 TB runs — Spark's native 64-bit
non-cryptographic hash, one codegen'd long per value instead of a 128-bit
digest + hex string. The plan shape is identical either way; only the
signature VALUES differ, so the two paths find the same exact-duplicate
collisions but (by design of MinHash) independently-sampled near-dup
candidates.

Reference parallel: the reference dedups only by key priority
(materialize_fulltext.py:96-120); content-based near-dup is the additive
LLM-pipeline capability this engine provides on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


#: last persisted result per operator slot — released on the next call
_LIVE_HANDLES: dict[str, DataFrame] = {}


def _materialize_release(out: DataFrame, *inputs: DataFrame, slot: str) -> DataFrame:
    """Eagerly materialize ``out`` (persist + count), then unpersist the
    ``inputs`` it consumed — and the PREVIOUS call's result for the same
    ``slot``.

    Cache-lifetime contract for the self-join operators below: the big
    intermediate (signatures / shingle relation) is cached only for the
    duration of the join; the *small* result (candidate pairs, near-linear
    in corpus size) is returned persisted so downstream actions don't
    recompute the join. Query wrappers typically return a DERIVED frame
    and drop this handle, so the slot registry keeps at most ONE result
    cached per operator across repeated calls (bench loops, the CLI
    shell, the driver harness) — total cache growth is bounded instead of
    linear in call count (round-1 verdict finding + round-2 review).
    Callers wanting the cache gone immediately still ``unpersist()`` the
    returned handle themselves."""
    prev = _LIVE_HANDLES.pop(slot, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            # the previous handle may belong to a stopped SparkSession
            # (CLI restart); its cache died with the session — dropping
            # the reference is all that is needed
            pass
    out = out.persist()
    out.count()
    for df in inputs:
        df.unpersist()
    _LIVE_HANDLES[slot] = out
    return out


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition by id before explode-amplification.

    A corpus read from few/small files arrives in few input splits; the
    shingle explode then amplifies 100-500× INSIDE those splits, so one
    task does all the hashing (observed: single-task stages at sf0.1).
    Hash-partitioning on the id first costs one cheap shuffle of the raw
    rows and buys full-cluster parallelism for the expensive part — and
    because the id is the later groupBy key, the signature aggregation
    becomes a no-shuffle partial agg on co-located data.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, F.col(id_col))


def with_word_ngrams(df: DataFrame, text_col: str, n: int = 3, out: str = "ng") -> DataFrame:
    """Add an ARRAY<STRING> column of word n-grams (shingles).

    Pure column expressions — stays inside whole-stage codegen; no UDF.
    Formulated as a chain of ``zip_with`` over n shifted views of the word
    array: each element is built by n-1 pairwise concats over shared
    array buffers. The obvious ``transform(sequence(...), i ->
    concat_ws(' ', slice(words, i, n)))`` allocates a fresh n-element
    array PER ELEMENT and ran 3.4× slower on the same corpus (3.0s →
    0.9s at sf0.1) — per-element slice allocation is the whole gap.
    (Round-5 re-measure: in a NON-repartitioned single-task explode the
    ranking briefly inverted, but with the _spread repartition every
    real consumer uses, zip_with stayed 2.5-3× faster; both forms emit
    identical strings, so a future swap is oracle-invisible either way.)
    """
    df = df.withColumn("__words", F.split(F.trim(F.col(text_col)), r"\s+"))
    cnt = f"(size(__words) - {n - 1})"
    chain = f"slice(__words, 1, {cnt})"
    for k in range(2, n + 1):
        chain = (
            f"zip_with({chain}, slice(__words, {k}, {cnt}), "
            f"(a{k}, b{k}) -> concat(a{k}, ' ', b{k}))"
        )
    ngram_expr = F.expr(
        f"CASE WHEN size(__words) >= {n} THEN {chain} "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return df.withColumn(out, ngram_expr).drop("__words")


def with_hashed_word_ngrams(
    df: DataFrame, text_col: str, n: int = 3, out: str = "ng"
) -> DataFrame:
    """Add an ARRAY<BIGINT> column of xxhash64-folded word n-grams — the
    hash-to-long discipline of ``dup_bigram_fraction`` (textops.py)
    generalized to arbitrary ``n``: the shingle is represented as
    ``xxhash64(...xxhash64(xxhash64(w1), w2)..., wn)`` instead of the
    concatenated string, so every downstream ``array_distinct`` /
    ``distinct`` / join takes the primitive long path and the n-1
    per-shingle string concats (JVM string churn — the round-4 profiling
    pin) disappear entirely.

    The fold is deterministic and engine-independent, so two relations
    hashing with the same ``n`` join correctly on the long key; a
    collision ACROSS distinct shingles flips one membership bit with
    p ≈ pairs/2⁶⁴ (relational twins keep comparing shingle STRINGS and
    the parity suite pins results equal at fixture scale). Same shifted-
    view zip_with chain as :func:`with_word_ngrams` — shifted slices are
    passed as zip_with ARGUMENTS, never re-derived inside the lambda
    (element_at re-evaluates the outer subtree per element, measured
    13× slower)."""
    df = df.withColumn("__words", F.split(F.trim(F.col(text_col)), r"\s+"))
    cnt = f"(size(__words) - {n - 1})"
    chain = f"transform(slice(__words, 1, {cnt}), a1 -> xxhash64(a1))"
    for k in range(2, n + 1):
        chain = (
            f"zip_with({chain}, slice(__words, {k}, {cnt}), "
            f"(a{k}, b{k}) -> xxhash64(a{k}, b{k}))"
        )
    ngram_expr = F.expr(
        f"CASE WHEN size(__words) >= {n} THEN {chain} "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    return df.withColumn(out, ngram_expr).drop("__words")


def exact_dedup(df: DataFrame, id_col: str, key: Column) -> DataFrame:
    """Exact dedup by content key: mark each row with its group's canonical
    (minimum) id. One shuffle on the key; at 100 TB this is a plain
    hash-partitioned window, and the null/empty-key rows should be filtered
    first exactly like DOI dedup (SURVEY §7.4)."""
    w = Window.partitionBy("__key")
    return (
        df.withColumn("__key", key)
        .withColumn("canonical_id", F.min(F.col(id_col)).over(w))
        .withColumn("group_size", F.count("*").over(w))
        .withColumn("is_dup", F.col(id_col) != F.col("canonical_id"))
        .drop("__key")
    )


def keep_best_per_key(
    df: DataFrame,
    id_col: str,
    key: Column,
    order_by: list[Column],
) -> DataFrame:
    """Policy dedup: pick ONE representative per duplicate-key group by an
    explicit quality ordering instead of :func:`exact_dedup`'s arbitrary
    min-id. This is the keep rule real corpus builds use (keep the
    highest-quality / longest / most-recent copy, drop the rest).

    ``order_by`` must be a TOTAL order (end it with the id column) so the
    representative is deterministic under any partitioning. Adds
    ``best_id`` (the group winner), ``group_size`` and ``is_kept``. Same
    scale shape as exact_dedup: one hash-partitioned window on the key —
    no join, no second shuffle; at 100 TB the key partitioning is the
    only exchange.
    """
    w = Window.partitionBy("__key").orderBy(*order_by)
    grp = Window.partitionBy("__key")
    return (
        df.withColumn("__key", key)
        .withColumn("best_id", F.first(F.col(id_col)).over(w))
        .withColumn("group_size", F.count("*").over(grp))
        .withColumn("is_kept", F.col(id_col) == F.col("best_id"))
        .drop("__key")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-document MinHash signature: num_hashes salted-hash minima over
    word n-grams. Documents with fewer than n words drop out (no shingles).

    ``hash_fn="md5"`` salts by string-prefixing the band index (oracle-
    portable); ``hash_fn="xxhash64"`` salts by passing the band index as a
    leading hash input — an 8-byte long min instead of a 32-char hex
    string min, the fast path for corpora where no DuckDB twin is needed.

    Every (doc, shingle) occurrence is hashed map-only, so the only
    exchange is the groupBy(id) agg — one shuffle with map-side partial
    min, linear in corpus token count, no pairwise work.
    """
    ng = (
        with_word_ngrams(_spread(df.select(id_col, text_col), id_col), text_col, n)
        .select(id_col, F.explode("ng").alias("__ng"))
    )
    if hash_fn == "md5":
        hashes = [
            F.md5(F.concat(F.lit(f"{b}:"), F.col("__ng"))).alias(f"__h{b}")
            for b in range(num_hashes)
        ]
    elif hash_fn == "xxhash64":
        hashes = [
            F.xxhash64(F.lit(b), F.col("__ng")).alias(f"__h{b}")
            for b in range(num_hashes)
        ]
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    return ng.select(id_col, *hashes).groupBy(id_col).agg(
        *[F.min(f"__h{b}").alias(f"mh{b}") for b in range(num_hashes)]
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding (1 row per band): docs sharing any band's min-hash become
    a candidate pair. Returns distinct (id_a, id_b) with id_a < id_b.

    Scale: the self-join key is (band, minhash) — bucket sizes stay small
    for non-degenerate corpora, so the join output is near-linear.
    ``max_bucket`` is the skew guard for corpora where that assumption
    breaks (identical boilerplate → one degenerate band bucket → O(n²)
    pair rows from a single join key): buckets larger than the cap are
    dropped before the self-join, the same stop-fingerprint discipline as
    fingerprint_overlap_pairs. A bucket that big means the band value is
    boilerplate, not near-duplication — pairs inside it are noise. The
    default (None) keeps exact parity with the unguarded join; AQE
    skew-join still spreads moderate buckets.

    The signature table is persisted before the self-join: both join sides
    reference it, and without materialization Spark recomputes the whole
    shingle+hash pipeline twice (observed 9.8s → 1.1s at sf0.1). This is
    the reference's materialize-once/extract-many discipline
    (convert_openalex.py:1095-1175) applied to a self-join input. A cache
    WE create is released before returning; a signature frame the caller
    already persisted is left exactly as it arrived (their cache, their
    lifetime). The returned pair set is persisted and owned by the caller
    (see _materialize_release).
    """
    lvl = signatures.storageLevel
    caller_cached = lvl.useMemory or lvl.useDisk
    if not caller_cached:
        signatures = signatures.persist()
    stack_args = ", ".join(f"'{b}', mh{b}" for b in range(num_hashes))
    bands = signatures.select(
        F.col(id_col), F.expr(f"stack({num_hashes}, {stack_args}) AS (band, mh)")
    )
    if max_bucket is not None:
        # sizes shuffle on the same (band, mh) key as the self-join; the
        # join against the filtered keys is left to AQE (broadcast when
        # small, never forced — distinct band values are unbounded)
        sizes = bands.groupBy("band", "mh").agg(F.count("*").alias("__n"))
        bands = bands.join(
            sizes.filter(F.col("__n") <= max_bucket).select("band", "mh"),
            ["band", "mh"],
        )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.mh") == F.col("b.mh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    own_caches = () if caller_cached else (signatures,)
    return _materialize_release(pairs, *own_caches, slot="lsh_candidate_pairs")


def lsh_star_edges(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Connectivity-equivalent LSH edges for CLUSTERING: one star per band
    bucket (bucket-min → every other member) instead of
    :func:`lsh_candidate_pairs`' full intra-bucket clique. Returns
    distinct (id_a, id_b) with id_a < id_b.

    Why this exists: an LSH bucket is a clique in the candidate graph, and
    connected components only need the bucket to stay CONNECTED — a star
    spans it with b−1 edges where the clique emits b(b−1)/2. The
    transitive closure over "shares some bucket" is therefore identical
    (pinned by test against the clique edges), while the edge volume the
    CC rounds shuffle drops by ~half the typical bucket size — for a
    K-copy crawl shape that is ~K/2×. Use :func:`lsh_candidate_pairs`
    when downstream SCORES pairs (Jaccard verify, dedup decisions —
    near-dup candidates must be enumerated, not just connected); use this
    when the pairs feed a clustering.

    Scale: the hub aggregation and the member join shuffle on the same
    (band, minhash) key the clique self-join would — with the quadratic
    blow-up replaced by a groupBy+join that is LINEAR in bucket size, so
    ``max_bucket`` becomes a noise filter rather than an O(n²) guard
    (kept for semantic parity with the pair operator: an oversized bucket
    is boilerplate, and pairs inside it are noise for clustering too).
    Persist/lifetime discipline identical to lsh_candidate_pairs.
    """
    lvl = signatures.storageLevel
    caller_cached = lvl.useMemory or lvl.useDisk
    if not caller_cached:
        signatures = signatures.persist()
    stack_args = ", ".join(f"'{b}', mh{b}" for b in range(num_hashes))
    bands = signatures.select(
        F.col(id_col), F.expr(f"stack({num_hashes}, {stack_args}) AS (band, mh)")
    )
    if max_bucket is not None:
        sizes = bands.groupBy("band", "mh").agg(F.count("*").alias("__n"))
        bands = bands.join(
            sizes.filter(F.col("__n") <= max_bucket).select("band", "mh"),
            ["band", "mh"],
        )
    hubs = bands.groupBy("band", "mh").agg(F.min(F.col(id_col)).alias("__hub"))
    edges = (
        bands.join(hubs, ["band", "mh"])
        .filter(F.col(id_col) != F.col("__hub"))
        .select(F.col("__hub").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )
    own_caches = () if caller_cached else (signatures,)
    return _materialize_release(edges, *own_caches, slot="lsh_star_edges")


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16, hash_fn: str = "md5"
) -> DataFrame:
    """SimHash signature via hash-parity random hyperplanes: bit b is the
    sign of the sum over tokens of ±1, where the sign of each token's
    contribution is derived from one hash of the token — the b-th hex
    digit's parity for md5 (one digest per 32 bits: wider signatures
    concatenate salt-prefixed digests ``md5('k:' || token)``, the same
    oracle-portable salting as minhash_signatures; ≤32 bits keeps the
    historical unsalted single digest), the b-th BIT for xxhash64 (≤64,
    and the fast path: long bit-tests instead of substring on a hex
    string). Near-identical token multisets get identical signatures;
    Hamming-close docs are near-dups.

    Signature width is the BAND-SATURATION control downstream
    (simhash_candidate_pairs buckets on bits/bands-wide band values):
    hash-parity bits are corpus-biased — template-heavy corpora
    concentrate on modal band values — so the band value space must stay
    far ahead of the corpus. Measured on the 30k-doc sf3 shard: 32-bit
    4-band banding yields 523M candidate-join rows (max bucket 18.9k);
    64-bit 4-band yields 31M (max 2.1k) — 17× less join work from one
    extra digest per token.

    Scale: one explode + one groupBy(id) with ``bits`` tiny aggregates —
    identical shuffle profile to minhash_signatures, ceil(bits/32) md5s
    (or 1 xxhash64) per token.
    """
    tokens = _spread(df.select(id_col, text_col), id_col).select(
        id_col, F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__tok")
    )
    if hash_fn == "md5":
        if bits <= 32:
            digest = F.md5(F.col("__tok"))
        else:
            digest = F.concat(
                *[
                    F.md5(F.concat(F.lit(f"{k}:"), F.col("__tok")))
                    for k in range((bits + 31) // 32)
                ]
            )
        # Bit b is the parity of hex digit b: digits 0-7 (nibble high bit
        # clear) contribute +1, 8-f contribute -1. Testing the digit via
        # substring().isin() costs one interpreted UTF8String slice per
        # bit per token (64 allocations/token at 64 bits); instead conv
        # each 8-hex-digit chunk to a long ONCE per token (ceil(bits/8)
        # codegen'd convs) and read the nibble high bits with shift/and —
        # identical values, no per-bit string work.
        n_chunks = (bits + 7) // 8
        widths = [min(8, bits - 8 * c) for c in range(n_chunks)]
        # Two-step select keeps the digest computed ONCE per token:
        # CollapseProject leaves the projections separate because "__h" is
        # referenced n_chunks times and md5 is not a cheap expression.
        hashed = tokens.select(id_col, digest.alias("__h")).select(
            id_col,
            *[
                F.conv(F.substring(F.col("__h"), c * 8 + 1, widths[c]), 16, 10)
                .cast("bigint")
                .alias(f"__c{c}")
                for c in range(n_chunks)
            ],
        )
        contribs = []
        for b in range(bits):
            c, j = divmod(b, 8)
            shift = 4 * (widths[c] - 1 - j) + 3
            contribs.append(
                F.sum(
                    F.when(F.expr(f"(__c{c} >> {shift}) & 1 = 1"), -1).otherwise(1)
                ).alias(f"s{b}")
            )
    elif hash_fn == "xxhash64":
        if bits > 64:
            raise ValueError("simhash derives bits from one xxhash64; max 64")
        hashed = tokens.select(id_col, F.xxhash64(F.col("__tok")).alias("__h"))
        contribs = [
            F.sum(
                F.when(F.expr(f"(__h >> {b}) & 1 = 1"), 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    summed = hashed.groupBy(id_col).agg(*contribs)
    bit_chars = [F.when(F.col(f"s{b}") > 0, "1").otherwise("0") for b in range(bits)]
    return summed.select(id_col, F.concat(*bit_chars).alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    hash_keys: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing ≥1 shingle.

    Returns (id_a, id_b, inter, size_a, size_b, jaccard). Intended for
    candidate VERIFICATION: at scale, feed it the LSH candidate subset, not
    a whole corpus — the shared-shingle join is quadratic in bucket size.

    Input contract: ONE ROW PER DOCUMENT ID (the shape every corpus
    table here has). A doc split across rows must be pre-concatenated
    (``groupBy(id).agg(concat_ws(...))``) — per-row dedup would
    otherwise count its shingles once per fragment.

    Plan shape (round-6 rework): per-doc dedup happens MAP-SIDE
    (``array_distinct`` inside the row — the old explode→``distinct``
    shuffled the whole shingle relation first), the set size is a
    map-only ``size()`` carried THROUGH the join (it is functionally
    dependent on the id, so it rides in the groupBy key and the two
    post-hoc size joins disappear), and the join key is ``hash_keys``'
    xxhash64 long (8 bytes through the shuffle instead of the shingle
    string). Total: one shuffle for the self-join + one for the pair
    count — nothing else. A hash collision could overcount one
    intersection (p ≈ pair-shingle-count × 2⁻⁶⁴ — negligible);
    ``hash_keys=False`` joins raw strings for exactness proofs.
    """
    docs = (
        with_word_ngrams(_spread(df.select(id_col, text_col), id_col), text_col, n)
        .select(id_col, F.array_distinct("ng").alias("__ngs"))
        .filter(F.size("__ngs") > 0)
    )
    key = F.xxhash64("__ng") if hash_keys else F.col("__ng")
    # persisted: the (id, size, key) relation feeds both self-join sides;
    # released before returning via _materialize_release
    shingles = (
        docs.select(
            F.col(id_col), F.size("__ngs").alias("__sz"), F.explode("__ngs").alias("__ng")
        )
        .select(id_col, "__sz", key.alias("__k"))
        .persist()
    )
    a = shingles.select(
        F.col(id_col).alias("id_a"), F.col("__sz").alias("size_a"), "__k"
    )
    b = shingles.select(
        F.col(id_col).alias("id_b"), F.col("__sz").alias("size_b"), "__k"
    )
    scored = (
        a.join(b, "__k")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("inter"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 4),
        )
        .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
    )
    return _materialize_release(scored, shingles, slot="ngram_jaccard_pairs")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    hash_keys: bool = True,
) -> DataFrame:
    """Broder containment on top of :func:`ngram_jaccard_pairs`:
    ``containment = inter / min(size_a, size_b)`` — the fraction of the
    SMALLER document's shingles present in the larger one. Jaccard
    dilutes when sizes differ (a page quoted inside a 100× larger doc
    scores ~0.01 Jaccard but 1.0 containment), so sub-document
    duplication — quote farms, aggregator pages, boilerplate-wrapped
    copies — needs this measure, not Jaccard. Same plan as the Jaccard
    pass (the min() is one extra map-side expression); same candidate-
    verification contract (feed LSH candidates at scale, not a corpus).
    """
    pairs = ngram_jaccard_pairs(df, id_col, text_col, n=n, hash_keys=hash_keys)
    return pairs.withColumn(
        "containment",
        F.round(F.col("inter") / F.least("size_a", "size_b"), 4),
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    hash_fn: str = "md5",
    max_chars: int = 256 * 1024,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme):
    hash every character k-gram, slide a window of ``w`` consecutive
    hashes, keep each window's minimum, distinct the kept set. Guarantees
    any shared substring of length ≥ k+w-1 contributes at least one
    SHARED fingerprint — the chunk-level near-dup / plagiarism detector
    that survives insertions and reorderings exact fingerprints miss.

    Returns (id, fp) exploded rows — join-ready: candidate pairs come
    from a self-join on fp (same bucketed shape as LSH bands, cost
    O(Σ bucket²), never all-pairs).

    All native expressions: the k-gram enumeration, per-gram hash, and
    window-min selection are transform/slice/array_min lambdas inside one
    projection — no UDF, no shuffle until the caller aggregates. md5
    (hex-string mins, engine-portable for the DuckDB twin) or xxhash64
    (long mins, the fast path — ~12x smaller per-row intermediates; prefer
    it at scale). Scale: O(len·w) comparisons per document, map-only;
    _spread the input first when files are few (same guidance as
    minhash_signatures).

    Giant-document guard (``max_chars``): the gram array holds ONE hash
    PER CHARACTER POSITION, so a multi-MB full-text row would build a
    ~100+ MB single-row value (GC/OOM hazard). Documents longer than
    ``max_chars`` therefore take a chunked branch: split into
    ``max_chars``-stride chunks OVERLAPPING by k+w-2 chars — winnowing is
    exactly closed under such chunking (every w-gram window spans k+w-1
    chars, so it lies wholly inside the chunk whose stride covers its
    start; chunk windows are doc windows because chunks are substrings) —
    fingerprint each chunk as its own row (per-task memory bounded by
    ``max_chars`` regardless of document size), then distinct per (id,
    fp) to restore the per-document set semantics. The distinct's shuffle
    touches ONLY the oversized documents; the common path stays map-only
    and byte-identical to before. Output row-set is equal for any split
    (equality-tested).
    """
    if hash_fn == "md5":
        hash_expr = "md5(substring(__t, i, {k}))"
        hash_type = "STRING"
    elif hash_fn == "xxhash64":
        hash_expr = "xxhash64(substring(__t, i, {k}))"
        hash_type = "BIGINT"
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    # CASE guards, not greatest(..., 0): Spark's sequence(1, 0) yields the
    # DESCENDING [1, 0], so the 'empty' case would feed slice() a start of
    # 0 and crash the job on any document shorter than k+w-1 chars (NULL
    # text falls into the ELSE too). The DuckDB twin's generate_series is
    # naturally empty there — these guards mirror it: no grams below k
    # chars, no fingerprints below w hashes.
    grams = (
        f"CASE WHEN length(__t) >= {k} THEN "
        f"transform(sequence(1, length(__t) - {k - 1}), i -> {hash_expr.format(k=k)}) "
        f"ELSE CAST(array() AS ARRAY<{hash_type}>) END"
    )
    mins = (
        f"CASE WHEN size(__h) >= {w} THEN "
        f"array_distinct(transform(sequence(1, size(__h) - {w - 1}), "
        f"i -> array_min(slice(__h, i, {w})))) "
        f"ELSE CAST(array() AS ARRAY<{hash_type}>) END"
    )
    src = df.select(F.col(id_col), F.col(text_col).alias("__t"))

    def fps(frame: DataFrame) -> DataFrame:
        return frame.withColumn("__h", F.expr(grams)).select(
            F.col(id_col), F.explode(F.expr(mins)).alias("fp")
        )

    # NULL text joins neither branch — same zero-row outcome as the CASE
    # guards gave it before the split
    short = fps(src.filter(F.length("__t") <= max_chars))
    chunk_len = max_chars + k + w - 2  # stride + boundary overlap
    long_chunks = (
        src.filter(F.length("__t") > max_chars)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(f"sequence(1, length(__t), {max_chars})")
            ).alias("__s"),
            "__t",
        )
        .select(
            F.col(id_col), F.expr(f"substring(__t, __s, {chunk_len})").alias("__t")
        )
    )
    return short.unionByName(fps(long_chunks).distinct())


def fingerprint_overlap_pairs(
    fingerprints: DataFrame, id_col: str, max_bucket: int = 200
) -> DataFrame:
    """(id_a, id_b, n_shared) for documents sharing winnowing fingerprints
    — self-join keyed on fp (bucketed, near-linear for non-degenerate
    corpora). ``max_bucket`` drops stop-fingerprints (a fingerprint shared
    by hundreds of documents identifies boilerplate, not copying, and its
    bucket is quadratic) — the same skew-guard discipline as
    cooccurrence's max_group_size. The sizes join is NOT forced broadcast
    (one row per distinct fingerprint — unbounded at corpus scale): it
    shuffles on fp, the same key the self-join uses, so the partitioning
    is reused; AQE demotes to broadcast when the filter output is small."""
    sizes = fingerprints.groupBy("fp").agg(F.count("*").alias("__n"))
    kept = fingerprints.join(
        sizes.filter(F.col("__n") <= max_bucket).select("fp"), "fp"
    )
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    threshold: float,
    round_digits: int = 4,
    engine: str = "numpy",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    near-duplicate pruning made tractable by clustering — pairwise cosine
    runs ONLY inside a cluster (the coarse quantizer's bucket), never
    across the corpus. The semantic sibling of MinHash-LSH above: LSH
    buckets by lexical shingles, this buckets by embedding cluster.

    Keep rule (deterministic greedy-by-id; the paper keeps one arbitrary
    representative per epsilon-neighborhood): a row is DROPPED iff some
    smaller-id row in the SAME cluster is within ``cosine >= threshold``
    of it. Cosine is rounded to ``round_digits`` BEFORE the threshold
    test so the boundary decision is engine-portable (the DuckDB oracle
    rounds identically).

    Returns ``(id, bucket, semantic_dup)`` — callers anti-filter
    ``semantic_dup`` to materialize the pruned corpus, or aggregate it
    for dedup-rate monitoring.

    Scale: assignment is map-only (centroids broadcast, ivf_assign); the
    intra-cluster self-join is keyed on bucket with cost O(Σ bucket²) —
    the cluster count k is the knob that bounds bucket sizes (SemDeDup
    runs k in the tens of thousands at web scale, keeping clusters at
    ~corpus/k vectors). The dropped-id set is near-linear and joins back
    with one broadcastable left join. No all-pairs stage anywhere.

    ``engine``: vector math is the one workload where Spark SQL
    expressions genuinely lose to Arrow-batched numpy — interpreted
    higher-order lambdas evaluate ~5M element-ops/s vs BLAS's billions.
    ``"numpy"`` (default) runs assignment as a broadcast-centroid matmul
    inside mapInPandas and the intra-cluster pair scan as one
    ``Vn @ Vn.T`` per bucket group (applyInPandas) — measured ~2.4 s →
    ~0.9 s at 5k×64-dim, and the gap widens with dimensionality.
    ``"sql"`` keeps everything as JVM column expressions, whose float
    summation ORDER matches the DuckDB oracle exactly; the numpy path's
    blocked/SIMD summation can differ in the last ulp, which flips a
    rounded boundary only if a true cosine sits within ~1e-15 of a
    0.5·10^-round_digits grid line (checked empirically against the
    sequential-order oracle on the test corpora; use "sql" where
    bit-reproducibility against a relational twin matters more than
    speed).
    """
    if engine == "numpy":
        return _semantic_dedup_numpy(
            corpus, id_col, vec_col, centroids, threshold, round_digits
        )
    if engine != "sql":
        raise ValueError(f"engine must be 'numpy' or 'sql', got {engine!r}")
    from science_datalake_spark.operators.similarity import dot, ivf_assign

    # assigned feeds BOTH self-join sides and the final join-back — persist
    # for the op's duration (the LSH cache-lifetime discipline); the norm is
    # precomputed per VECTOR, not per pair: cos(a,b) = dot(a,b)/(‖a‖·‖b‖)
    # does 1/3 the per-pair float work of the naive dot/sqrt(dot·dot) form
    # (measured 4.2 s → ~1.3 s at 5k×64-dim). The DuckDB oracle uses the
    # identical norm formulation so the round-4 boundary decision matches.
    assigned = (
        ivf_assign(corpus, centroids, id_col, vec_col)
        .withColumn("__nrm", F.sqrt(dot(F.col("vec"), F.col("vec"))))
        .persist()
    )
    a = assigned.select(
        "bucket", F.col(id_col).alias("__ia"), F.col("vec").alias("__va"),
        F.col("__nrm").alias("__na"),
    )
    b = assigned.select(
        "bucket", F.col(id_col).alias("__ib"), F.col("vec").alias("__vb"),
        F.col("__nrm").alias("__nb"),
    )
    dropped = (
        a.join(b, "bucket")
        .filter(F.col("__ia") < F.col("__ib"))
        .filter(
            F.round(
                dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
                round_digits,
            )
            >= F.lit(threshold)
        )
        .select(F.col("__ib").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    out = assigned.select(id_col, "bucket").join(dropped, id_col, "left").select(
        id_col, "bucket", F.coalesce("__dup", F.lit(False)).alias("semantic_dup")
    )
    return _materialize_release(out, assigned, slot="semantic_dedup")


def _round_half_away(x, digits: int):
    """Vectorized round-half-away-from-zero (SQL ROUND semantics —
    np.round is banker's rounding and WOULD diverge at exact .5 grid
    values)."""
    import numpy as np

    p = 10.0**digits
    return np.sign(x) * np.floor(np.abs(x) * p + 0.5) / p


def _vec_matrix(series, dim: int):
    """NULL/ragged-tolerant (n, dim) float64 matrix from a pandas Series of
    array rows. ``np.array(series.tolist())`` crashes (or silently builds an
    object-dtype array) on None or wrong-length rows; here those rows become
    ZERO vectors, whose zero norm yields NaN sims downstream — reproducing
    the SQL engine's NULL-sim semantics exactly: the row assigns to the
    lowest cent_id (NaN → -inf before argmax) and is never marked a dup nor
    marks another row (NaN >= threshold is False), matching ivf_assign's
    nulls-last coalesce and the pair filter dropping NULL sims. Rows whose
    length differs from the codebook dim are treated as NULL (the SQL
    zip_with pads with NULL → NULL dot → same outcome)."""
    import numpy as np

    vals = series.tolist()
    m = np.zeros((len(vals), dim), dtype=np.float64)
    for i, v in enumerate(vals):
        if v is not None and len(v) == dim:
            m[i] = v
    return m


def _semantic_dedup_numpy(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    threshold: float,
    round_digits: int,
) -> DataFrame:
    """The Arrow/numpy engine: assignment = one batch matmul against the
    broadcast codebook (mapInPandas, map-only); pair scan = one
    ``Vn @ Vn.T`` per bucket (applyInPandas — the bucket is the group,
    exactly the parallelism unit the SQL plan shuffles on). Tie-breaks
    replicate the SQL path: rounded sim desc, cent_id asc (centroid
    columns sorted by id so argmax's first-hit IS the lowest id)."""
    import numpy as np
    import pandas as pd

    cent_rows = sorted(
        (
            r
            for r in centroids.select("cent_id", "cent_vec").collect()
            if r["cent_vec"] is not None  # NULL centroid never wins; drop
        ),
        key=lambda r: r["cent_id"],
    )
    if not cent_rows:
        raise ValueError("semantic_dedup needs a non-empty centroid codebook")
    cent_ids = np.array([r["cent_id"] for r in cent_rows], dtype=np.int64)
    cmat = np.array([list(r["cent_vec"]) for r in cent_rows], dtype=np.float64)
    cc = (cmat * cmat).sum(axis=1)

    def assign(batches):
        for pdf in batches:
            v = _vec_matrix(pdf[vec_col], cmat.shape[1])
            # denominator sqrt(vv*cc) — the SQL/oracle op order, not
            # sqrt(vv)*sqrt(cc) (last-ulp divergence, review finding)
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = (v @ cmat.T) / np.sqrt(
                    (v * v).sum(axis=1, keepdims=True) * cc[None, :]
                )
            # NaN (zero-norm vector OR degenerate centroid column) must
            # never win: np.argmax treats NaN as max (review finding) —
            # map to -inf so the tie falls to the lowest cent_id, like
            # the SQL engine's nulls-last ordering
            sims = np.where(np.isnan(sims), -np.inf, sims)
            best = np.argmax(_round_half_away(sims, 6), axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "vec": pdf[vec_col], "bucket": cent_ids[best]}
            )

    src = corpus.select(id_col, vec_col)
    vec_t = "array<double>"
    assigned = src.mapInPandas(
        assign, f"{id_col} {src.schema[id_col].dataType.simpleString()}, vec {vec_t}, bucket bigint"
    )

    def scan_bucket(pdf):
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        v = _vec_matrix(pdf["vec"], cmat.shape[1])
        nrm = np.sqrt((v * v).sum(axis=1))
        # dot/(nrm_a*nrm_b) — the same structure as the SQL/oracle form
        # (dot first, divide second), minimizing float-path divergence
        with np.errstate(invalid="ignore", divide="ignore"):
            sims = _round_half_away((v @ v.T) / np.outer(nrm, nrm), round_digits)
        hit = np.triu(sims >= threshold, k=1)  # strictly-upper: id_a < id_b
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "bucket": pdf["bucket"],
                "semantic_dup": hit.any(axis=0),
            }
        )

    out = assigned.groupBy("bucket").applyInPandas(
        scan_bucket,
        f"{id_col} {src.schema[id_col].dataType.simpleString()}, bucket bigint, "
        "semantic_dup boolean",
    )
    return out


def simhash_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 2,
    scope_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Near-dup pairs from SimHash signatures: band-bucketed candidate
    generation + exact Hamming verification — the pair-finding stage that
    completes the SimHash family (signatures alone don't name dup pairs).

    Pigeonhole guarantee: two signatures within Hamming distance ``h``
    differ in at most ``h`` of the ``bands`` equal-width bit bands, so
    they SHARE at least ``bands - h`` bands; any shared band makes them
    a candidate. With the defaults (4 bands, max_hamming 2 < 4) recall
    is exact: every qualifying pair shares ≥ 2 bands and is generated.
    Candidates are then verified by exact bitwise Hamming distance
    (bit_count over xor of the packed signature halves — pure codegen,
    O(1) per candidate).

    Scale: the self-join keys on (band index, band value) — the LSH
    bucket discipline, cost O(Σ bucket²), never all-pairs; the verify
    filter runs only on candidates. Returns distinct
    (id_a, id_b, hamming) with id_a < id_b.

    ``scope_cols`` restricts pairing to rows agreeing (null-safe) on the
    named columns — e.g. language for text corpora, or modality for
    perceptual asset hashes (multimodal.asset_near_dup_pairs). The scope
    columns join into the bucket key, so they also SHRINK buckets;
    scoped values are carried through on the output rows.
    """
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    if max_hamming >= bands:
        raise ValueError(
            "max_hamming must be < bands for the pigeonhole recall guarantee"
        )
    width = bits // bands
    # The exact-Hamming verify compares PACKED halves (bit-string →
    # 32-bit ints via conv, map-side once per row) with bit_count(xor) —
    # O(1) per candidate instead of the per-character filter lambda
    # (2·bits interpreted substring calls per candidate pair; measured
    # 4.9 → 1.0 s on the asset-pair fixture at sf0.1). 32-bit chunks
    # keep conv's unsigned result inside BIGINT range at any ``bits``.
    n_chunks = (bits + 31) // 32
    chunks = {
        f"__h{k}": F.conv(
            F.substring(F.col("simhash"), k * 32 + 1, min(32, bits - k * 32)), 2, 10
        ).cast("bigint")
        for k in range(n_chunks)
    }
    banded = signatures.select(
        F.col(id_col),
        *[F.col(c) for c in scope_cols],
        F.col("simhash"),
        *[v.alias(name) for name, v in chunks.items()],
        F.posexplode(
            F.array(
                *[
                    F.substring(F.col("simhash"), b * width + 1, width)
                    for b in range(bands)
                ]
            )
        ).alias("__band", "__val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = sum(
        F.bit_count(F.col(f"a.__h{k}").bitwiseXOR(F.col(f"b.__h{k}")))
        for k in range(n_chunks)
    )
    cond = (
        (F.col("a.__band") == F.col("b.__band"))
        & (F.col("a.__val") == F.col("b.__val"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    for c in scope_cols:
        cond = cond & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.{c}").alias(c) for c in scope_cols],
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def strip_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_df: int = 3,
    hash_keys: bool = True,
) -> DataFrame:
    """Cross-document repeated-span removal (exact substring dedup in
    the Lee et al. 2021 "Deduplicating Training Data" sense, at token-
    window granularity): any k-token window occurring in >= ``min_df``
    DISTINCT documents is treated as corpus boilerplate (license
    blocks, navigation chrome, template footers), and every token
    covered by any such window is removed from every document.

    Adds to the input: ``n_tokens`` (whitespace token count),
    ``n_removed`` (tokens covered by at least one flagged window) and
    ``text_clean`` (kept tokens re-joined with single spaces, original
    order). Distinct-DOCUMENT frequency is deliberate: within-document
    repetition is ``textops.drop_repeated_units``'s job; this operator
    targets spans shared ACROSS the corpus, and a doc spamming its own
    phrase cannot promote that phrase to boilerplate by itself.

    Scale shape (100 TB discipline):
    - window keys are xxhash64 longs hashed IN-ROW before the explode
      (default), so the wide exploded relation is (id, int, long) —
      never the k-token strings;
    - document frequency is one partial-combinable count-distinct
      aggregate; the join back to flagged occurrences has no row
      amplification (``freq`` is unique per key) and AQE splits hot
      boilerplate keys;
    - the per-document interval union (overlapping windows -> covered
      positions) is in-row array algebra (sequence / flatten /
      array_distinct / array_except — hash-based, O(tokens) per doc),
      never a UDF or a corpus-wide window;
    - only documents that contain a flagged span carry rows through
      the groupBy/join-back: the flagged relation is near-linear in
      the BOILERPLATE volume, not the corpus.

    ``hash_keys=False`` keeps window strings as keys (engine-portable;
    the DuckDB oracle twin groups by the actual substring — outputs
    agree whenever xxhash64 is collision-free on the corpus, the same
    evidence discipline as ``ngram_jaccard_pairs``).

    Reference parity note: the reference has no substring-level dedup
    (its dedup is key-priority row dedup, materialize_fulltext.py:
    96-120); additive for the training-data pipeline story.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    if min_df < 2:
        raise ValueError("min_df must be >= 2 (1 would flag every window)")

    # One shared normalization for BOTH the window construction and the
    # reconstruction below, so window start positions always index the
    # same token array. coalesce + regexp trim (ALL whitespace, not
    # F.trim's spaces-only) closes the NULL-text / tab-padded edges:
    # NULL and whitespace-only docs get n_tokens=0 and text_clean='',
    # never a NULL count or phantom empty tokens (the same hazard the
    # winnowing branch above guards explicitly).
    norm = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), r"^\s+|\s+$", ""
    )

    # NOTE on the two corpus passes: `exploded` below is consumed twice
    # (the document-frequency aggregate, then the flagged join-back).
    # That recompute is deliberate — the exploded relation is
    # O(tokens-per-doc) rows per document, i.e. LARGER than the corpus,
    # so persisting it (the _materialize_release pattern the signature-
    # sized LSH relations use) would cache/spill more bytes than the
    # input at any real scale. Two map-side tokenize+hash scans are the
    # cheaper side of that trade at 100 TB.
    wins = with_word_ngrams(
        _spread(df.select(id_col, norm.alias("__norm")), id_col),
        "__norm",
        n=k,
        out="__ng",
    )
    key_arr = (
        F.expr("transform(__ng, w -> xxhash64(w))") if hash_keys else F.col("__ng")
    )
    exploded = wins.select(
        F.col(id_col), F.posexplode(key_arr).alias("__start", "__wkey")
    )
    freq = (
        exploded.groupBy("__wkey")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("__wkey")
    )
    flagged = exploded.join(freq, "__wkey").select(id_col, "__start")
    cov = flagged.groupBy(id_col).agg(
        F.expr(
            "array_distinct(flatten(transform("
            f"collect_list(__start), s -> sequence(s, s + {k - 1}))))"
        ).alias("__covered")
    )

    return (
        df.join(cov, on=id_col, how="left")
        .withColumn("__norm", norm)
        .withColumn("__tokens", F.split(F.col("__norm"), r"\s+"))
        .withColumn(
            "n_tokens",
            F.when(F.col("__norm") == "", F.lit(0)).otherwise(
                F.size("__tokens")
            ),
        )
        .withColumn(
            "__cov",
            F.coalesce(F.col("__covered"), F.expr("CAST(array() AS ARRAY<INT>)")),
        )
        .withColumn("n_removed", F.size("__cov"))
        .withColumn(
            "__kept",
            F.expr(
                "CASE WHEN n_tokens = 0 THEN CAST(array() AS ARRAY<INT>) "
                "ELSE array_except(sequence(0, n_tokens - 1), __cov) END"
            ),
        )
        .withColumn(
            "text_clean",
            F.expr(
                "concat_ws(' ', transform(__kept, p -> element_at(__tokens, p + 1)))"
            ),
        )
        .drop("__covered", "__cov", "__kept", "__tokens", "__norm")
    )
