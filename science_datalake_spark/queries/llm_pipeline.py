"""LLM-training-data pipeline queries: dedup, similarity search, text
analysis over the ``documents`` and ``embeddings`` tables.

These are the additive capabilities beyond the reference's surface
(BASELINE.json north star). Every query has a DuckDB oracle computing the
IDENTICAL md5-salted signatures / vector math, so correctness is
hash-checked, not eyeballed. Repetitive oracle SQL (per-band mins, per-bit
sums) is generated programmatically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from science_datalake_spark.catalog import table
from science_datalake_spark.operators import dedup as D
from science_datalake_spark.operators import similarity as S
from science_datalake_spark.operators import textops as T
from science_datalake_spark.queries import query

_WORDS = "regexp_split_to_array(trim(text), '\\s+')"
_WORDS_LOWER = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_NUM_HASHES = 8
#: LSH bucket cap for the minhash family (mirrored verbatim in the DuckDB
#: twins, so parity holds at ANY scale). A (band, minhash) bucket larger
#: than this means the band's minimum shingle is corpus boilerplate, not
#: near-duplication — pairs inside it are noise, and the O(bucket²)
#: self-join output is the scale killer: the round-8 sf3 probe measured
#: the UNCAPPED join OOMing the 32-thread executor (the fixture's shared
#: synthetic vocabulary makes the min-shingle collide corpus-wide), while
#: genuine near-dup clusters stay far below the cap (K-copy crawl shape:
#: ≤30 docs per bucket at sf3).
_LSH_MAX_BUCKET = 100
#: 64-bit signatures (salted double-md5 — oracle-portable): band width is
#: the bucket-saturation control for SimHash banding — 4 bands of w bits
#: give 2^w values per band, and hash-parity bits are corpus-BIASED
#: (template text concentrates on modal band values), so the value space
#: must stay far ahead of the corpus. Round-8 sf3 probe on the 30k-doc
#: shard: 16-bit signatures (4-bit bands, 16 values) → 730 s; 32-bit
#: (8-bit bands) → 401 s, 523M candidate rows, max bucket 18.9k; 64-bit
#: (16-bit bands, the Manku-et-al web-scale config) → 31M candidate rows,
#: max bucket 2.1k. Pigeonhole recall stays exact (max_hamming 2 < 4
#: bands) at every width.
_SIMHASH_BITS = 64

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    aux=True,  # rotated to aux round 7 (>=2 rounds driver-green; local parity continues)
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               md5(regexp_replace(lower(substr(text, 1, 200)), '\\s+', ' ', 'g')) AS key
        FROM documents
    )
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY key) AS canonical_id,
           count(*)    OVER (PARTITION BY key) AS group_size,
           doc_id != min(doc_id) OVER (PARTITION BY key) AS is_dup
    FROM keyed
    ORDER BY doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint (md5 of normalized 200-char
    prefix): hash-groupBy, one shuffle. The 100 TB first-pass dedup."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    out = D.exact_dedup(d, "doc_id", T.fingerprint(F.col("text")))
    return out.select("doc_id", "canonical_id", "group_size", "is_dup").orderBy("doc_id")


def _minhash_oracle() -> str:
    mins = ",\n               ".join(
        f"min(md5('{b}:' || ng)) AS mh{b}" for b in range(_NUM_HASHES)
    )
    bands = "\n        UNION ALL ".join(
        f"SELECT doc_id, '{b}' AS band, mh{b} AS mh FROM sig" for b in range(_NUM_HASHES)
    )
    return f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
    ng AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(words) - 2),
                      i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS ng
        FROM w WHERE len(words) >= 3
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM ng GROUP BY doc_id
    ),
    bands AS (
        {bands}
    ),
    kept AS (
        SELECT bd.doc_id, bd.band, bd.mh
        FROM bands bd
        JOIN (SELECT band, mh FROM bands GROUP BY band, mh
              HAVING count(*) <= {_LSH_MAX_BUCKET}) sz
          ON bd.band = sz.band AND bd.mh = sz.mh
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM kept a
    JOIN kept b ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: word-trigram shingles → 8 salted-md5
    min-hashes (1 band each) → band-bucket self-join with the
    boilerplate-bucket cap (see _LSH_MAX_BUCKET — round-8 sf3 probe:
    uncapped, the degenerate min-shingle buckets OOM'd the executor;
    capped, the join output is linear in genuine near-dup mass). The
    DuckDB twin applies the identical cap. Shuffles scale with
    docs·bands, never with pairs."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = D.minhash_signatures(d, "doc_id", "text", n=3, num_hashes=_NUM_HASHES)
    pairs = D.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=_NUM_HASHES, max_bucket=_LSH_MAX_BUCKET
    )
    return pairs.orderBy("id_a", "id_b")


#: Source shard for the clustering end-game demo. The DuckDB oracle's
#: recursive ``reach`` CTE enumerates O(nodes x component) rows per
#: iteration — on the FULL corpus at sf0.1 it needs ~163 s while Spark's
#: iterative CC finishes in ~6 s, which made every suite-level bench ratio
#: measure DuckDB's recursion, not Spark (round-3 verdict). Sharding BOTH
#: sides to 4 of the 20 sources keeps the oracle in the seconds range so
#: the 2x gate is computed over sane oracle times; the Spark plan shape is
#: identical at any shard width.
_CLUSTER_SOURCES = ("src0", "src1", "src2", "src3")


def _cluster_oracle() -> str:
    """Recursive-CTE twin of lsh pairs → connected components → cluster
    sizes (min reachable doc_id = cluster id), on the 4-source shard."""
    srcs = ", ".join(f"'{s}'" for s in _CLUSTER_SOURCES)
    pairs_body = _minhash_oracle().rsplit("ORDER BY", 1)[0]
    pairs_body = pairs_body.replace(
        "FROM documents", f"FROM documents WHERE source IN ({srcs})"
    )
    return f"""
    WITH RECURSIVE pairs AS ({pairs_body}),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, comp) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT s.b, r.comp FROM reach r JOIN sym s ON s.a = r.node
    ),
    labels AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
    SELECT comp AS cluster_id, count(*) AS cluster_size
    FROM labels
    GROUP BY comp
    ORDER BY cluster_size DESC, cluster_id
    """


@query("dedup_cluster_sizes", oracle=_cluster_oracle())
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup END-GAME: LSH candidate pairs → connected components →
    duplicate clusters keyed by their canonical (min) doc_id. This is the
    stage that decides which documents actually get dropped from a
    training corpus; pairs alone don't (A~B, B~C must collapse to one
    cluster {{A,B,C}} even when A~C was never a candidate). The DuckDB
    oracle computes the identical clustering with a recursive CTE, on the
    same 4-source shard (see _CLUSTER_SOURCES for why the demo is
    sharded).

    Round-14 engine choice: ``connected_components_star`` directly, not
    the min-label default. The K-copy crawl's LSH graph is CHAIN-shaped
    (measured diameter 8 at sf0.1 — 9 propagation rounds at ~0.5 s fixed
    job cost each), exactly the regime the star alternation's O(log n)
    rounds exist for: measured identical labels and 4.47 -> 3.11 s
    sf0.1, 10.5 -> 7.3 s sf3 (2.27M pairs) warm. A label-of-label
    pointer-doubling variant of min-label was also measured and
    rejected (rounds 9 -> 6 but the extra shortcut join made each round
    dearer: net 7.9 s). Min-label remains the operator default for the
    dense-blob dedup graphs it assumed; this corpus is not one.

    Round-14b edge choice: the CC consumes ``lsh_star_edges`` (one star
    per band bucket) instead of the full clique pairs — a bucket is a
    clique, a star spans it, the transitive closure is identical
    (operator-level equality test), and the edge volume the CC rounds
    shuffle drops ~K/2× on the K-copy shape. ``lsh_candidate_pairs``
    remains the input for every operator that SCORES pairs."""
    from science_datalake_spark.operators.graph import connected_components_star

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source").isin(*_CLUSTER_SOURCES))
        .select("doc_id", "text")
    )
    sigs = D.minhash_signatures(d, "doc_id", "text", n=3, num_hashes=_NUM_HASHES)
    pairs = D.lsh_star_edges(
        sigs, "doc_id", num_hashes=_NUM_HASHES, max_bucket=_LSH_MAX_BUCKET
    )
    cc = connected_components_star(pairs, "id_a", "id_b")
    return (
        cc.groupBy(F.col("comp").alias("cluster_id"))
        .agg(F.count("*").alias("cluster_size"))
        .orderBy(F.desc("cluster_size"), "cluster_id")
    )


def _simhash_oracle() -> str:
    hexes = "'0','1','2','3','4','5','6','7'"
    sums = ",\n               ".join(
        f"sum(CASE WHEN substr(h, {b + 1}, 1) IN ({hexes}) THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    )
    bits = " || ".join(
        f"(CASE WHEN s{b} > 0 THEN '1' ELSE '0' END)" for b in range(_SIMHASH_BITS)
    )
    if _SIMHASH_BITS <= 32:
        digest = "md5(w)"
    else:
        digest = " || ".join(
            f"md5('{k}:' || w)" for k in range((_SIMHASH_BITS + 31) // 32)
        )
    return f"""
    WITH toks AS (
        SELECT doc_id, {digest} AS h
        FROM (SELECT doc_id, unnest({_WORDS}) AS w FROM documents)
    ),
    sums AS (
        SELECT doc_id,
               {sums}
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id, {bits} AS simhash
    FROM sums
    ORDER BY doc_id
    """


@query(
    "dedup_simhash",
    aux=True,  # rested round 11 wave 2 (10 rounds driver-green; local parity continues)
    oracle=_simhash_oracle(),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit signatures via hash-parity hyperplanes — near-dup docs
    collide or land Hamming-close. Same shuffle profile as minhash."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return D.simhash(d, "doc_id", "text", bits=_SIMHASH_BITS).orderBy("doc_id")


def _simhash_pairs_oracle() -> str:
    srcs = ", ".join(f"'{s}'" for s in _CLUSTER_SOURCES)
    sig_body = _simhash_oracle().rsplit("ORDER BY", 1)[0].replace(
        "FROM documents", f"FROM documents WHERE source IN ({srcs})"
    )
    width = _SIMHASH_BITS // 4
    ham = (
        f"len(list_filter(generate_series(1, {_SIMHASH_BITS}), "
        "i -> substr(ha, i, 1) != substr(hb, i, 1)))"
    )
    return f"""
    WITH sig AS ({sig_body}),
    bands AS (
        SELECT doc_id, simhash, gs.b AS band,
               substr(simhash, gs.b * {width} + 1, {width}) AS val
        FROM sig, LATERAL unnest(generate_series(0, 3)) gs(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS ha, b.simhash AS hb
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.val = b.val
                    AND a.doc_id < b.doc_id
    ),
    scored AS (SELECT id_a, id_b, CAST({ham} AS INTEGER) AS hamming FROM cand)
    SELECT id_a, id_b, hamming FROM scored
    WHERE hamming <= 2
    ORDER BY id_a, id_b
    """


@query("dedup_simhash_pairs",
    aux=True, oracle=_simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash pair-finding stage: 16-bit band buckets generate
    candidates (pigeonhole: Hamming ≤ 2 of 64 bits ⇒ ≥ 2 of 4 bands
    shared — exact recall), exact bitwise Hamming verifies
    (operators/dedup.simhash_candidate_pairs), on the same 4-source
    shard as the clustering demo. Signature width is the banding's
    bucket-saturation control (see _SIMHASH_BITS for the measured
    730 s → 31M-candidate-row progression behind the 64-bit choice)."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source").isin(*_CLUSTER_SOURCES))
        .select("doc_id", "text")
    )
    sigs = D.simhash(d, "doc_id", "text", bits=_SIMHASH_BITS)
    pairs = D.simhash_candidate_pairs(
        sigs, "doc_id", bits=_SIMHASH_BITS, bands=4, max_hamming=2
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("id_a", "id_b")


def _phash_pairs_oracle() -> str:
    """DuckDB twin of the perceptual-hash near-dup pipeline: the asset
    fixture's md5-derived hash (the format-agnostic ``_fake_hash``
    plumbing path — first 64 digest bits) expanded hex-char→4-bit, then
    the identical kind-scoped band-bucket join + exact Hamming verify
    (the ``_simhash_pairs_oracle`` pattern over 8-bit bands)."""
    hexmap = {format(v, "x"): format(v, "04b") for v in range(16)}
    cases = " ".join(f"WHEN '{c}' THEN '{b}'" for c, b in hexmap.items())
    bits = " || ".join(
        f"(CASE substr(h, {i}, 1) {cases} END)" for i in range(1, 17)
    )
    ham = (
        "len(list_filter(generate_series(1, 64), "
        "i -> substr(ha, i, 1) != substr(hb, i, 1)))"
    )
    return f"""
    WITH assets AS (
        SELECT doc_id AS asset_id,
               CASE CAST(doc_id % 3 AS INTEGER)
                   WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
               END AS kind,
               'asset:' || CAST(doc_id % 125 AS VARCHAR) AS payload
        FROM documents WHERE doc_id < 2000
    ),
    hex AS (SELECT asset_id, kind, md5(payload) AS h FROM assets),
    sig AS (SELECT asset_id, kind, {bits} AS simhash FROM hex),
    bands AS (
        SELECT asset_id, kind, simhash, gs.b AS band,
               substr(simhash, gs.b * 8 + 1, 8) AS val
        FROM sig, LATERAL unnest(generate_series(0, 7)) gs(b)
    ),
    cand AS (
        SELECT DISTINCT a.asset_id AS id_a, b.asset_id AS id_b,
               a.kind AS kind, a.simhash AS ha, b.simhash AS hb
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.val = b.val
                    AND a.kind = b.kind
                    AND a.asset_id < b.asset_id
    ),
    scored AS (
        SELECT id_a, id_b, kind, CAST({ham} AS INTEGER) AS hamming FROM cand
    )
    SELECT id_a, id_b, kind, hamming FROM scored
    WHERE hamming <= 6
    ORDER BY id_a, id_b
    """


@query("asset_phash_pairs", oracle=_phash_pairs_oracle())
def asset_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over a deterministic multimodal
    asset fixture — the first oracle-checked query for the multimodal
    family (round-8 verdict "Next round" #4). The fixture derives a
    bounded asset table from ``documents`` (``doc_id < 2000`` — constant
    work at every SF; the banding machinery's scale evidence is
    dedup_simhash_pairs' sf3 run): binary payloads ``asset:<doc_id%125>``
    whose duplicate groups SPAN modalities (125 % 3 ≠ 0, so a payload
    group cycles image/audio/video), and ``kind = doc_id % 3``.

    The Spark side runs the REAL multimodal plumbing: binary payload
    column → ``perceptual_hashes`` mapInPandas (the md5 ``_fake_hash``
    plumbing path — deterministic and oracle-expressible, unlike the
    PNM/WAV decoders) → ``asset_near_dup_pairs`` (kind-scoped SimHash
    band buckets + exact Hamming). What the result proves: same-kind
    exact-dup groups pair at hamming 0; cross-kind identical payloads
    are EXCLUDED by the scope (the oracle joins on kind too); random
    single-band md5 collisions become candidates and are rejected by
    the Hamming ≤ 6 verify on both sides."""
    from science_datalake_spark.operators import multimodal as M

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    assets = d.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode(
            F.concat(F.lit("asset:"), (F.col("doc_id") % 125).cast("string")),
            "UTF-8",
        ).alias("payload"),
    )
    hashes = M.perceptual_hashes(assets, fake=True)
    pairs = M.asset_near_dup_pairs(hashes, bands=8, max_hamming=6)
    return pairs.select(
        "id_a", "id_b", "kind", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("id_a", "id_b")


@query(
    "dedup_ngram_jaccard",
    aux=True,  # rested round 9 (driver-green r6-r8; dedup family keeps 6 rows)
    oracle=f"""
    WITH sub AS (
        SELECT doc_id, text FROM documents
        WHERE source IN ('src0', 'src1', 'src2', 'src3')
    ),
    w AS (SELECT doc_id, {_WORDS} AS words FROM sub),
    ng AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(words) - 2),
                      i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS ng
        FROM w WHERE len(words) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ng GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM ng a JOIN ng b ON a.ng = b.ng AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter,
           CAST(sa.sz AS BIGINT) AS size_a,
           CAST(sb.sz AS BIGINT) AS size_b,
           CAST(round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    ORDER BY jaccard DESC, id_a, id_b
    LIMIT 20
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard over a source-restricted shard (the
    verification stage that follows LSH candidate generation at scale),
    top-20 most similar pairs."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1", "src2", "src3"))
        .select("doc_id", "text")
    )
    pairs = D.ngram_jaccard_pairs(d, "doc_id", "text", n=3)
    return (
        pairs.select(
            "id_a",
            "id_b",
            "inter",
            F.col("size_a").cast("long").alias("size_a"),
            F.col("size_b").cast("long").alias("size_b"),
            "jaccard",
        )
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COS = (
    "round(list_dot_product(qv, cv) / "
    "sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)), 4)"
)


@query(
    "sim_cosine_topk",
    aux=True,  # rotated to aux round 7 (>=2 rounds driver-green; local parity continues)
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
        SELECT query_id, cand_id, CAST({_COS} AS DOUBLE) AS sim
        FROM q CROSS JOIN c
        WHERE query_id != cand_id
    ),
    ranked AS (
        SELECT query_id, cand_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, cand_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, cand_id, sim, rank FROM ranked
    WHERE rank <= 10
    ORDER BY query_id, rank
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for a query set — the exact ANN baseline.
    Queries broadcast; corpus streams with zero shuffle (the reference's
    FAISS IndexFlatIP re-expressed, build_embedding_linkage.py:246-273)."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    out = S.cosine_topk(e, q, "vec_id", "embedding", k=10)
    return out.select("query_id", "cand_id", "sim", "rank").orderBy("query_id", "rank")


@query(
    "sim_knn_label_vote",
    aux=True,  # rested round 11 wave 2 (10 rounds driver-green; local parity continues)
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv, label FROM embeddings),
    scored AS (
        SELECT query_id, cand_id, label, CAST({_COS} AS DOUBLE) AS sim
        FROM q CROSS JOIN c
        WHERE query_id != cand_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, cand_id) AS rn
        FROM scored
    ),
    votes AS (
        SELECT query_id, label, count(*) AS votes
        FROM ranked WHERE rn <= 5
        GROUP BY 1, 2
    ),
    best AS (
        SELECT query_id, label AS predicted_label, votes,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY votes DESC, label) AS rn
        FROM votes
    )
    SELECT b.query_id, e.label AS true_label, b.predicted_label, b.votes
    FROM best b JOIN embeddings e ON e.vec_id = b.query_id
    WHERE b.rn = 1
    ORDER BY b.query_id
    """,
)
def sim_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-classification by majority vote of the 5 nearest neighbors —
    the similarity-search quality check (labels exist in the fixture).

    Round-13 decomposition (verdict #5): the 16x sf1 ratio was NOT the
    cosine scan — it was two EXTRA full-corpus passes stacked on top of
    it: a labels projection broadcast-joined onto the top-5 ids, then a
    truth projection broadcast-joined onto the winners, each a separate
    scan + broadcast materialization job. Now the candidate label rides
    THROUGH the cosine scan itself (cosine_topk carry_cols — the scan
    already reads every corpus row, carrying a column is free), so the
    vote aggregates directly off the top-k output with no labels join at
    all; the truth side is a vec_id < 20 PRUNED scan (pushed filter, ~1
    row-group) instead of a full corpus projection."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    top5 = S.cosine_topk(e, q, "vec_id", "embedding", k=5, carry_cols=["label"])
    votes = top5.groupBy("query_id", "label").agg(F.count("*").alias("votes"))
    from science_datalake_spark.operators.windows import top1_per_key

    best = top1_per_key(votes, keys=["query_id"], order=[F.desc("votes"), F.asc("label")])
    truth = q.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    # broadcast the 20-row winners relation, never truth: truth is a
    # corpus projection (pruned here, but the shape must scale), and a
    # corpus-side broadcast is an executor OOM at real scale (round-7)
    return (
        F.broadcast(best.withColumnRenamed("label", "predicted_label"))
        .join(truth, "query_id")
        .select("query_id", "true_label", "predicted_label", "votes")
        .orderBy("query_id")
    )


@query(
    "dedup_embedding_cosine",
    aux=True,
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 100),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(round(list_dot_product(a.v, b.v) /
                    sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 4) AS DOUBLE)
                   AS sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, sim FROM pairs
    ORDER BY sim DESC, id_a, id_b
    LIMIT 20
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: top-20 most-similar vector pairs in a
    bounded id range. At scale, the pair space comes from sign-LSH buckets
    (sim_ann_bucketed) instead of the triangular self-join used here."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    a = e.select(F.col("vec_id").alias("id_a"), S.as_double_vec("embedding").alias("__va"))
    b = e.select(F.col("vec_id").alias("id_b"), S.as_double_vec("embedding").alias("__vb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a", "id_b", F.round(S.cosine(F.col("__va"), F.col("__vb")), 4).alias("sim")
        )
        .orderBy(F.desc("sim"), "id_a", "id_b")
        .limit(20)
    )


_COS = (
    "list_dot_product({a}, {b}) / "
    "sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b}))"
)


# shared by sim_ivf_topk (in-session cached index) and sim_ivf_durable
# (write→read→probe lifecycle): the two MUST be result-identical, so they
# check against the same relational twin
_IVF_TOPK_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
        SELECT vec_id AS cent_id, v AS cent_vec
        FROM corpus ORDER BY vec_id LIMIT 8
    ),
    asg AS (
        SELECT c.vec_id, c.v, ct.cent_id,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY round({_COS.format(a='c.v', b='ct.cent_vec')}, 6) DESC,
                            ct.cent_id) AS rn
        FROM corpus c CROSS JOIN cents ct
    ),
    assigned AS (SELECT vec_id, v, cent_id AS bucket FROM asg WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 12),
    pr AS (
        SELECT q.query_id, q.qv, ct.cent_id AS bucket,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round({_COS.format(a='q.qv', b='ct.cent_vec')}, 6) DESC,
                            ct.cent_id) AS rn
        FROM q CROSS JOIN cents ct
    ),
    probed AS (SELECT query_id, qv, bucket FROM pr WHERE rn <= 2),
    scored AS (
        SELECT p.query_id, a.vec_id AS cand_id,
               CAST(round({_COS.format(a='p.qv', b='a.v')}, 4) AS DOUBLE) AS sim
        FROM probed p JOIN assigned a USING (bucket)
        WHERE a.vec_id != p.query_id
    ),
    ranked AS (
        SELECT query_id, cand_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, cand_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, cand_id, sim, rank FROM ranked
    WHERE rank <= 5
    ORDER BY query_id, rank
    """


@query(
    "sim_ivf_topk",
    aux=True,  # rested round 13 (driver-green r9-r12; the sim family keeps ivf_durable/ivfpq_topk/matryoshka/late_interaction driver rows + the new masked variant)
    oracle=_IVF_TOPK_ORACLE,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: 8-exemplar coarse quantizer → per-vector bucket assignment
    (map-only, centroids broadcast) → queries probe their 2 nearest
    buckets' posting lists only. The FAISS-IVF design as a DataFrame plan
    (operators/similarity.py); the DuckDB oracle replays the identical
    quantize/probe/rank pipeline relationally."""
    e = table(spark, sf_dir, "embeddings")
    # index build amortized across calls (ivf_index slot cache): repeat
    # executions — bench best-of-3, a served ANN workload — time PROBING
    cents, assigned = S.ivf_index(e, "vec_id", "embedding", k=8, cache_key=sf_dir)
    q = e.filter(F.col("vec_id") < 12)
    out = S.ivf_topk(assigned, cents, q, "vec_id", "embedding", k=5, n_probe=2)
    return out.select("query_id", "cand_id", "sim", "rank").orderBy("query_id", "rank")


# IVF-PQ: the IVF probe over PQ-RECONSTRUCTED posting lists (asymmetric
# scoring — queries stay float, resident corpus is 8 codes/vector). The
# oracle splices the PQ codebook/assign/decode CTEs (sim_pq_recall's
# pattern) between the IVF assignment and the probe of _IVF_TOPK_ORACLE.
_IVFPQ_TOPK_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                    WHERE embedding IS NOT NULL),
    cents AS (
        SELECT vec_id AS cent_id, v AS cent_vec
        FROM corpus ORDER BY vec_id LIMIT 8
    ),
    asg AS (
        SELECT c.vec_id, c.v, ct.cent_id,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY round({_COS.format(a='c.v', b='ct.cent_vec')}, 6) DESC,
                            ct.cent_id) AS rn
        FROM corpus c CROSS JOIN cents ct
    ),
    assigned AS (SELECT vec_id, v, cent_id AS bucket FROM asg WHERE rn = 1),
    pqsub AS (
        SELECT ex.c, gs.j AS j,
               list_slice(ex.v, gs.j * 8 + 1, gs.j * 8 + 8) AS cent
        FROM (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
            FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT 16)
        ) ex, LATERAL unnest(generate_series(0, 7)) gs(j)
    ),
    pqdist AS (
        SELECT a.vec_id, s.j, s.c, s.cent,
               round(list_sum(list_transform(generate_series(1, 8),
                   i -> (a.v[s.j * 8 + i] - s.cent[i])
                        * (a.v[s.j * 8 + i] - s.cent[i]))), 6) AS d
        FROM corpus a CROSS JOIN pqsub s
    ),
    pqasg AS (
        SELECT vec_id, j, cent,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
        FROM pqdist
    ),
    dec AS (
        SELECT vec_id, flatten(list(cent ORDER BY j)) AS rec
        FROM pqasg WHERE rn = 1 GROUP BY vec_id
    ),
    comp AS (
        SELECT a.vec_id, d.rec AS v, a.bucket
        FROM assigned a JOIN dec d USING (vec_id)
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 12),
    pr AS (
        SELECT q.query_id, q.qv, ct.cent_id AS bucket,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round({_COS.format(a='q.qv', b='ct.cent_vec')}, 6) DESC,
                            ct.cent_id) AS rn
        FROM q CROSS JOIN cents ct
    ),
    probed AS (SELECT query_id, qv, bucket FROM pr WHERE rn <= 2),
    scored AS (
        SELECT p.query_id, a.vec_id AS cand_id,
               CAST(round({_COS.format(a='p.qv', b='a.v')}, 4) AS DOUBLE) AS sim
        FROM probed p JOIN comp a USING (bucket)
        WHERE a.vec_id != p.query_id
    ),
    ranked AS (
        SELECT query_id, cand_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, cand_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, cand_id, sim, rank FROM ranked
    WHERE rank <= 5
    ORDER BY query_id, rank
    """


@query("sim_ivfpq_topk", oracle=_IVFPQ_TOPK_ORACLE)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS composition of the two resident tiers: the IVF
    coarse quantizer prunes the SEARCH (queries probe 2 of 8 buckets)
    while PQ compresses the RESIDENT posting lists (8 codes per vector,
    32× under float32); scoring is asymmetric (ADC) — the float query
    against each candidate's PQ reconstruction. Expressed as plain
    composition: ``ivf_topk`` over posting lists whose ``vec`` is the
    ``pq_decode`` reconstruction — no new probe machinery, which IS the
    point of keeping the tiers as DataFrame-to-DataFrame operators. At
    100 TB the reconstruction would be materialized with the bucketed
    index (or looked up from per-query distance tables inside a Pandas
    UDF — the literal FAISS ADC); the plan shape (broadcast probes, no
    corpus shuffle) is identical. Ranks differ from sim_ivf_topk's
    exactly where quantization error moves a cosine across the 4-dp
    grid — fidelity is audited by sim_pq_recall."""
    from science_datalake_spark.operators.embedding import (
        pq_codebooks,
        pq_decode,
        pq_encode,
    )

    # NULL embeddings are excluded up front on BOTH engines (round-9
    # ADVICE: pq_codebooks filtered NULLs internally while the oracle's
    # corpus CTE did not — a latent codebook-parity break the moment the
    # fixture gains NULL vectors). The cache key carries the filter so a
    # sibling query's unfiltered index is never returned for this corpus.
    e = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    books = pq_codebooks(
        e, "vec_id", "embedding", m=8, k=16, cache_key=sf_dir + "|nonnull"
    )
    cents, assigned = S.ivf_index(
        e, "vec_id", "embedding", k=8, cache_key=sf_dir + "|nonnull"
    )
    compressed = pq_decode(pq_encode(assigned, books, vec_col="vec"), books).select(
        "vec_id", F.col("pq_vec").alias("vec"), "bucket"
    )
    q = e.filter(F.col("vec_id") < 12)
    out = S.ivf_topk(compressed, cents, q, "vec_id", "embedding", k=5, n_probe=2)
    return out.select("query_id", "cand_id", "sim", "rank").orderBy("query_id", "rank")


def _ivf_durable_path(sf_dir: str) -> str:
    """Per-corpus scratch location for the durable index. The key folds
    in the embeddings parquet's (mtime, size) so regenerating the
    fixture at the same path invalidates the cached index instead of
    silently probing a stale assignment (review finding), and carries
    the uid so a shared /tmp never collides across users."""
    import hashlib
    import tempfile

    ident = sf_dir
    emb = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(emb)
        ident += f"|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        pass
    tag = hashlib.md5(ident.encode()).hexdigest()[:12]
    uid = getattr(os, "getuid", lambda: 0)()
    return os.path.join(tempfile.gettempdir(), f"sdl_ivf_index_{uid}_{tag}")


@query("sim_ivf_durable", oracle=_IVF_TOPK_ORACLE)
def sim_ivf_durable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The durable IVF lifecycle end-to-end: ivf_index_write persists the
    index (assignment Hive-partitioned by bucket + k-row codebook),
    ivf_index_read loads it back, and the probe runs against the
    partition-pruned scan. Build-if-missing keyed on the corpus dir —
    exactly the cross-job amortization the layout exists for (the first
    call is the batch index build; every later call times read+probe
    only). Results must be byte-identical to sim_ivf_topk's in-memory
    path, so both share one oracle; the probe's bucket pruning is
    asserted in tests/test_plans.py."""
    e = table(spark, sf_dir, "embeddings")
    path = _ivf_durable_path(sf_dir)
    if not os.path.exists(os.path.join(path, "centroids")):
        S.ivf_index_write(e, "vec_id", "embedding", path, k=8)
    cents, assigned = S.ivf_index_read(spark, path)
    q = e.filter(F.col("vec_id") < 12)
    out = S.ivf_topk(assigned, cents, q, "vec_id", "embedding", k=5, n_probe=2)
    return out.select("query_id", "cand_id", "sim", "rank").orderBy("query_id", "rank")


@query(
    "dedup_semantic",
    # promoted to the driver registry mid-round-5 (new-op driver evidence)
    oracle=f"""
    WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
        SELECT vec_id AS cent_id, v AS cent_vec
        FROM corpus ORDER BY vec_id LIMIT 16
    ),
    asg AS (
        SELECT c.vec_id, c.v, ct.cent_id,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY round({_COS.format(a='c.v', b='ct.cent_vec')}, 6) DESC,
                            ct.cent_id) AS rn
        FROM corpus c CROSS JOIN cents ct
    ),
    assigned AS (
        SELECT vec_id, v, cent_id AS bucket,
               sqrt(list_dot_product(v, v)) AS nrm
        FROM asg WHERE rn = 1
    ),
    -- norm-form cosine dot/(nrm_a*nrm_b): matches the Spark operator's
    -- per-vector precomputed norms bit-for-bit (same op order)
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.35
    )
    SELECT a.bucket, count(*) AS n_vecs, count(d.vec_id) AS n_dup
    FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id
    GROUP BY a.bucket
    ORDER BY a.bucket
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster the embedding space with a 16-exemplar coarse
    quantizer (k=16, not the IVF demo's 8: intra-cluster pair count is
    Σ bucket² ≈ corpus²/k, and SemDeDup's own recipe scales k with the
    corpus — at sf0.1 k=16 halves the pair workload), then drop any
    vector whose cluster holds a smaller-id vector within cosine >= 0.35
    (threshold chosen to exercise real drops on the synthetic corpus —
    ~15% prune rate). Reported as per-cluster (size, dropped) counts —
    the dedup-rate monitoring surface. The DuckDB oracle replays the
    identical assign/pair/drop pipeline relationally (operators/dedup.py
    semantic_dedup)."""
    e = table(spark, sf_dir, "embeddings")
    cents = S.exemplar_centroids(e, "vec_id", "embedding", k=16)
    sem = D.semantic_dedup(e, "vec_id", "embedding", cents, threshold=0.35)
    return (
        sem.groupBy("bucket")
        .agg(
            F.count("*").alias("n_vecs"),
            F.count(F.when(F.col("semantic_dup"), 1)).alias("n_dup"),
        )
        .orderBy("bucket")
    )


def _bucket_sql(col: str) -> str:
    return " || ".join(
        f"(CASE WHEN {col}[{i}] > 0 THEN '1' ELSE '0' END)" for i in range(1, 7)
    )


@query(
    "sim_lsh_bucket_stats",
    aux=True,
    oracle=f"""
    SELECT {_bucket_sql('embedding')} AS bucket,
           count(*) AS n_vecs,
           count(DISTINCT label) AS n_labels
    FROM embeddings
    GROUP BY 1
    ORDER BY bucket
    """,
)
def sim_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket histogram — the partition-health check for bucketed
    ANN (bucket skew here = task skew at scale)."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select(S.sign_bucket(S.as_double_vec("embedding"), 6).alias("bucket"), "label")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"), F.countDistinct("label").alias("n_labels"))
        .orderBy("bucket")
    )


@query(
    "sim_ann_bucketed",
    aux=True,  # rested round 11 wave 2 (10 rounds driver-green; local parity continues)
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v, {_bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 20),
    pairs AS (
        SELECT q.query_id, c.vec_id AS cand_id,
               CAST(round(list_dot_product(qv, c.v) /
                    sqrt(list_dot_product(qv, qv) * list_dot_product(c.v, c.v)), 4) AS DOUBLE) AS sim
        FROM q JOIN e c USING (bucket)
        WHERE c.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, cand_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, cand_id) AS INTEGER) AS rank
        FROM pairs
    )
    SELECT query_id, cand_id, sim, rank FROM ranked
    WHERE rank <= 3
    ORDER BY query_id, rank
    """,
)
def sim_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: candidates restricted to the query's sign-LSH bucket —
    the IVF-style scale path (cost O(Σ bucket²) instead of |Q|·|C|)."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    out = S.bucketed_ann_topk(e, q, "vec_id", "embedding", k=3, dims=6)
    return out.select("query_id", "cand_id", "sim", "rank").orderBy("query_id", "rank")


@query(
    "text_bm25_search",
    aux=True,  # rested round 11 wave 2: search_hybrid_rrf recomputes this exact
    # BM25 top list as its first fusion leg (9 rounds driver-green; local
    # parity continues)
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ),
    postings AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    doclen AS (SELECT doc_id, len({_WORDS}) AS dl FROM documents),
    consts AS (SELECT (SELECT count(*) FROM documents) AS n,
                      (SELECT avg(dl) FROM doclen) AS avgdl),
    q AS (SELECT * FROM postings WHERE term IN ('spark', 'table', 'merge')),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM q GROUP BY term),
    idf AS (SELECT term, ln((n - df + 0.5) / (df + 0.5) + 1.0) AS idf FROM dfreq, consts),
    scored AS (
        SELECT q.doc_id,
               idf.idf * (q.tf * 2.2) /
                   (q.tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS ts
        FROM q
        JOIN idf USING (term)
        JOIN doclen USING (doc_id), consts
    )
    SELECT doc_id, CAST(round(sum(ts), 4) AS DOUBLE) AS bm25
    FROM scored
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking as pure relational algebra (token explode → tf/df →
    idf broadcast → score sum): the reference's rank_bm25 baseline
    (run_baseline_comparisons.py:164-294) re-expressed to run at corpus
    scale with two shuffles. Top-10 docs for a 3-term query."""
    from science_datalake_spark.operators.ranking import bm25_scores

    d = table(spark, sf_dir, "documents")
    scores = bm25_scores(d, "doc_id", "text", ["spark", "table", "merge"])
    return scores.orderBy(F.desc("bm25"), "doc_id").limit(10)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    aux=True,
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(round(avg(len({_WORDS})), 2) AS DOUBLE) AS avg_tokens,
           CAST(max(len({_WORDS})) AS INTEGER) AS max_tokens,
           CAST(round(avg(n_chars), 2) AS DOUBLE) AS avg_chars,
           CAST(sum(list_sum(list_transform({_WORDS},
                w -> CAST(ceil(length(w) / 4.0) AS INTEGER)))) AS BIGINT) AS est_bpe_tokens,
           CAST(sum(len({_WORDS})) AS BIGINT) AS word_tokens
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source (whitespace tokenizer) + BPE-ish token
    estimation (≈4 chars/piece) in one per-source aggregation — corpus /
    LLM-context budgeting without a tokenizer dependency; pure codegen
    arithmetic, no UDFs."""
    d = table(spark, sf_dir, "documents")
    nt = T.token_count(F.col("text"))
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(nt), 2).alias("avg_tokens"),
            F.max(nt).alias("max_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.sum(T.bpe_ish_token_count(F.col("text"))).cast("long").alias("est_bpe_tokens"),
            F.sum(nt).cast("long").alias("word_tokens"),
        )
        .orderBy("source")
    )


_STOP_SQL = "w IN ('the','a','of','and','to','in','is')"

#: DuckDB twin of textops.quality_score over a relation exposing `text`
#: (single-sourced: dedup_keep_best and corpus_release splice it)
_QUALITY_SQL = f"""CAST(round(least(
                   0.4 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                              AS DOUBLE) / greatest(length(text), 1))
                 + 0.3 * (CAST(len(list_filter({_WORDS}, w -> {_STOP_SQL}))
                              AS DOUBLE) / greatest(len({_WORDS}), 1)) * 5.0
                 + 0.3 * least(len({_WORDS}) / 30.0, 1.0), 1.0), 4) AS DOUBLE)"""


@query(
    "text_quality_langid",
    aux=True,  # rested round 10 wave 3 (driver-green r9 + earlier; langid stays pinned by U-d tests and local parity; the quality family keeps funnel/wilson/span/ppl driver rows)
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lang,
               len({_WORDS}) AS n_tokens,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1) AS alpha,
               CAST(len(list_filter({_WORDS}, w -> {_STOP_SQL})) AS DOUBLE)
                   / greatest(len({_WORDS}), 1) AS stop
        FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           lang,
           CASE WHEN stop >= 0.10 THEN 'en' ELSE 'other' END AS predicted_lang,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(round(alpha, 4) AS DOUBLE) AS alpha_ratio,
           CAST(round(stop, 4) AS DOUBLE) AS stop_ratio,
           CAST(round(least(0.4 * alpha + 0.3 * stop * 5.0 +
                            0.3 * least(n_tokens / 30.0, 1.0), 1.0), 4) AS DOUBLE) AS quality
    FROM base
    ORDER BY doc_id
    """,
)
def text_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring (alpha ratio, stopword density, length
    term — the reference's is_readable_text generalized to a score,
    convert_openalex.py:120-136) plus the language-ID heuristic
    (function-word density, the langdetect-UDF replacement,
    convert_fulltext.py:78-87) next to the labeled lang column."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        "lang",
        T.predict_lang(F.col("text"), threshold=0.10).alias("predicted_lang"),
        T.token_count(F.col("text")).alias("n_tokens"),
        F.round(T.alpha_ratio(F.col("text")), 4).alias("alpha_ratio"),
        F.round(T.stopword_ratio(F.col("text")), 4).alias("stop_ratio"),
        T.quality_score(F.col("text")).alias("quality"),
    ).orderBy("doc_id")


_TRIGRAMS = (
    "list_transform(generate_series(1, len(words) - 2), "
    "i -> array_to_string(list_slice(words, i, i + 2), ' '))"
)


@query(
    "corpus_token_mix",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, len({_WORDS}) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR) || ':42') AS ord
        FROM documents WHERE source IN ('src0', 'src1', 'src2')
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY ord, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_tokens_before
        FROM toks
    )
    SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(cum_tokens_before AS BIGINT) AS cum_tokens_before
    FROM cum
    WHERE cum_tokens_before <
          -- exact integer thresholds (floor(weight * budget)), mirroring the
          -- operator's driver-side Decimal resolution
          (CASE source WHEN 'src0' THEN 4500 WHEN 'src1' THEN 2700 ELSE 1800 END)
    ORDER BY source, doc_id
    """,
)
def corpus_token_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus composition: a 9k-token training mix drawn
    50/30/20 from three sources, documents chosen in seeded-hash order
    (reproducible under any partitioning) until each source's token share
    is exhausted — the step that turns deduped documents into a weighted
    training corpus (operators/corpus.token_budget_mix)."""
    from science_datalake_spark.operators.corpus import token_budget_mix

    d = table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1", "src2")
    )
    mix = token_budget_mix(
        d,
        "source",
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        budget_tokens=9000,
        id_col="doc_id",
    )
    return mix.select(
        "doc_id", "source", "n_tokens", "cum_tokens_before"
    ).orderBy("source", "doc_id")


@query(
    "corpus_decontaminate",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
    eval_ng AS (
        SELECT DISTINCT unnest({_TRIGRAMS}) AS ng
        FROM w WHERE doc_id % 25 = 0 AND len(words) >= 3
    ),
    corpus_ng AS (
        SELECT DISTINCT doc_id, unnest({_TRIGRAMS}) AS ng
        FROM w WHERE doc_id % 25 != 0 AND len(words) >= 3
    ),
    overlap AS (
        SELECT c.doc_id,
               count(*) AS n_shingles,
               count(e.ng) AS n_shared
        FROM corpus_ng c LEFT JOIN eval_ng e USING (ng)
        GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(o.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(o.n_shared, 0) AS BIGINT) AS n_shared,
           CAST(coalesce(round(o.n_shared / o.n_shingles, 4), 0.0) AS DOUBLE) AS overlap,
           coalesce(round(o.n_shared / o.n_shingles, 4), 0.0) > 0.5 AS is_contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 25 != 0) d
    LEFT JOIN overlap o USING (doc_id)
    ORDER BY doc_id
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: every 25th document plays the eval
    set; the rest of the corpus is scored by the fraction of its distinct
    trigram shingles that appear anywhere in the eval set, flagged above
    50% overlap (operators/corpus.decontaminate — eval shingles
    broadcast, corpus streams, no corpus join)."""
    from science_datalake_spark.operators.corpus import decontaminate

    d = table(spark, sf_dir, "documents")
    eval_docs = d.filter(F.col("doc_id") % 25 == 0)
    corpus = d.filter(F.col("doc_id") % 25 != 0)
    return decontaminate(corpus, eval_docs, "doc_id", max_overlap=0.5).orderBy("doc_id")


@query(
    "corpus_pack_greedy",
    # promoted to the driver registry mid-round-5 (new-op driver evidence)
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, doc_id % 64 AS shard,
               coalesce(len(regexp_split_to_array(trim(text), '\\s+')), 0) AS tok,
               row_number() OVER (PARTITION BY doc_id % 64 ORDER BY doc_id) AS rn
        FROM documents
    ),
    state AS (
        SELECT shard, rn, tok, 0 AS bin, tok AS fill FROM toks WHERE rn = 1
        UNION ALL
        SELECT d.shard, d.rn, d.tok,
               CASE WHEN s.fill > 0 AND s.fill + d.tok > 256
                    THEN s.bin + 1 ELSE s.bin END,
               CASE WHEN s.fill > 0 AND s.fill + d.tok > 256
                    THEN d.tok ELSE s.fill + d.tok END
        FROM state s JOIN toks d ON d.shard = s.shard AND d.rn = s.rn + 1
    )
    SELECT shard, CAST(bin AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS bin_tokens
    FROM state
    GROUP BY shard, bin
    ORDER BY shard, bin
    """,
)
def corpus_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: whole documents first-fit-sequentially packed
    into 256-token training bins, 64 shards, doc_id order — reported as
    per-(shard, bin) document/token counts (operators/packing.pack_greedy,
    the applyInPandas stateful packer; the DuckDB twin replays the same
    sequential state as a recursive CTE). 64 shards, not 8: the shard
    count bounds BOTH engines' sequential depth (the CTE iterates
    max-rows-per-shard times — %8 at sf0.1 made the oracle a pathological
    12-15 s denominator that would flatter the bench's compute-bound
    ratio; re-sharding keeps the comparison honest AND is the scale
    knob: more shards = more parallelism, shorter sequential chains)."""
    from science_datalake_spark.operators.packing import pack_greedy, packing_stats

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 64).alias("shard"),
        F.coalesce(F.size(F.split(F.trim(F.col("text")), r"\s+")), F.lit(0)).alias(
            "tok"
        ),
    )
    packed = pack_greedy(d, "tok", 256, "shard", ["doc_id"])
    return packing_stats(packed, "tok", "shard").orderBy("shard", "bin")


@query(
    "text_unigram_logprob",
    aux=True,  # rested round 11 wave 2 (5 rounds driver-green; local parity continues)
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_WORDS_LOWER}) AS tok FROM documents
    ),
    dtf AS (SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY doc_id, tok),
    vocab AS (SELECT tok, sum(n) AS cnt FROM dtf GROUP BY tok),
    tot AS (SELECT sum(cnt) AS total FROM vocab),
    scored AS (
        SELECT d.doc_id, d.n, -ln(v.cnt / tot.total) AS lp
        FROM dtf d JOIN vocab v USING (tok) CROSS JOIN tot
    )
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(round(sum(n * lp) / sum(n), 4) AS DOUBLE) AS avg_neg_logprob
    FROM scored
    GROUP BY doc_id
    ORDER BY avg_neg_logprob DESC, doc_id
    LIMIT 50
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality filter (the CCNet/Dolma perplexity step, unigram
    tier): score every document by average −ln p(token) under a
    self-trained unigram LM, surface the 50 most 'surprising' documents
    (rare-token-heavy → OCR junk / boilerplate codes). One explode feeds
    vocab + scoring; corpus total is a broadcast 1-row agg
    (operators/ranking.unigram_logprob_scores)."""
    from science_datalake_spark.operators.ranking import unigram_logprob_scores

    d = table(spark, sf_dir, "documents")
    out = unigram_logprob_scores(d, "doc_id", "text")
    return out.orderBy(F.desc("avg_neg_logprob"), "doc_id").limit(50)


@query(
    "corpus_pack_contiguous",
    aux=True,  # driver-green r7; rests in local parity (round-8 rotation)
    oracle="""
    WITH toks AS (
        SELECT doc_id, doc_id % 64 AS shard,
               coalesce(len(regexp_split_to_array(trim(text), '\\s+')), 0) AS tok
        FROM documents
    ),
    cum AS (
        SELECT shard, doc_id, tok,
               coalesce(sum(tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        FROM toks
    )
    SELECT shard, CAST(floor(bef / 256) AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS bin_tokens
    FROM cum
    GROUP BY shard, bin
    ORDER BY shard, bin
    """,
)
def corpus_pack_contiguous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The concat-and-split packing accounting (GPT-style pretraining
    cuts the concatenated token stream every 256 tokens; documents may
    straddle cuts) — pure running-frame window cumsum
    (operators/packing.pack_contiguous), the native sibling of the
    stateful greedy packer."""
    from science_datalake_spark.operators.packing import (
        pack_contiguous,
        packing_stats,
    )

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 64).alias("shard"),
        F.coalesce(F.size(F.split(F.trim(F.col("text")), r"\s+")), F.lit(0)).alias(
            "tok"
        ),
    )
    packed = pack_contiguous(d, "tok", 256, "shard", ["doc_id"])
    return packing_stats(packed, "tok", "shard").orderBy("shard", "bin")


@query(
    "text_vocab_zipf",
    # rested to aux round 8 (>=2 rounds of driver evidence — r6, r7;
    # local parity + bench evidence continue) to make room for
    # text_span_dedup under the 50-row driver cap
    aux=True,
    oracle=f"""
    WITH toks AS (SELECT unnest({_WORDS_LOWER}) AS tok FROM documents),
    vocab AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok)
    SELECT tok, n,
           CAST(row_number() OVER (ORDER BY n DESC, tok) AS INTEGER) AS rank
    FROM vocab
    ORDER BY rank
    LIMIT 30
    """,
)
def text_vocab_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head (top-30 terms by frequency with Zipf rank)
    — the vocabulary-health check run before tokenizer training; one
    explode + one groupBy + TakeOrdered.

    The rank is assigned AFTER the top-k cut: ``orderBy().limit(30)``
    lowers to TakeOrderedAndProject (per-partition top-k + driver
    merge), and the global row_number window then runs over 30 rows. A
    window over the full vocab — the previous form — moved EVERY
    distinct term into one task (WindowExec's no-partition warning, a
    single-reducer sort of a billions-row vocabulary at corpus scale);
    ranking the already-cut top-k is order-identical because both use
    the same (n desc, tok) total order."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    top = vocab.orderBy(F.desc("n"), "tok").limit(30)
    w = Window.orderBy(F.desc("n"), "tok")  # 30-row input: single tiny task
    return top.withColumn("rank", F.row_number().over(w).cast("int")).orderBy("rank")


@query(
    "text_chunk_rag",
    aux=True,  # rested round 10 wave 2 (>=2 rounds driver-green; text family keeps 8+ driver rows incl. the new bigram LM)
    oracle="""
    SELECT doc_id,
           CAST(floor((gs.i - 1) / 100) AS INTEGER) AS chunk_idx,
           CAST(gs.i AS INTEGER) AS chunk_start,
           substr(text, CAST(gs.i AS INTEGER), 120) AS chunk
    FROM documents, LATERAL unnest(generate_series(1, len(text), 100)) gs(i)
    WHERE len(text) > 0
    ORDER BY doc_id, chunk_idx
    """,
)
def text_chunk_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking: 120-char chunks with 20-char overlap (stride
    100) over every document — the map-only generator pipeline feeding
    the embedding seam (operators/textops.chunk_text); chunk_start keys
    chunks stably for downstream dedup."""
    d = table(spark, sf_dir, "documents")
    return T.chunk_text(d, "doc_id", "text", chunk_chars=120, overlap=20).orderBy(
        "doc_id", "chunk_idx"
    )


@query(
    "web_domain_cap",
    # promoted to the driver registry mid-round-5 (new-op driver evidence)
    oracle="""
    WITH urls AS (
        SELECT doc_id,
               CASE doc_id % 4
                   WHEN 0 THEN 'https://www.site' || CAST(doc_id % 12 AS VARCHAR)
                               || '.com/page/' || CAST(doc_id AS VARCHAR)
                   WHEN 1 THEN 'HTTP://SITE' || CAST(doc_id % 12 AS VARCHAR)
                               || '.COM/page/' || CAST(doc_id AS VARCHAR) || '/'
                   WHEN 2 THEN 'site' || CAST(doc_id % 12 AS VARCHAR)
                               || '.com/page/' || CAST(doc_id AS VARCHAR) || '?utm=x'
                   ELSE 'https://cdn.site' || CAST(doc_id % 12 AS VARCHAR)
                               || '.com/page/' || CAST(doc_id AS VARCHAR) || '#frag'
               END AS url
        FROM documents
    ),
    hosts AS (
        SELECT doc_id,
               regexp_replace(
                   lower(regexp_extract(
                       regexp_replace(
                           regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
                           '[#?].*$', ''),
                       '^([^/]+)', 1)),
                   '^www\\.', '') AS host
        FROM urls
    ),
    doms AS (
        SELECT doc_id,
               CASE WHEN regexp_matches(host, '[^.]+\\.[^.]+$')
                    THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                    ELSE host END AS domain
        FROM hosts
    ),
    ranked AS (
        SELECT domain,
               row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
        FROM doms
    )
    SELECT domain, count(*) AS n_docs,
           count(CASE WHEN rn <= 5 THEN 1 END) AS n_kept
    FROM ranked
    GROUP BY domain
    ORDER BY domain
    """,
)
def web_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-curation source-diversity control: four wild URL spellings per
    page (www + scheme case + tracking params + cdn subdomain) normalize
    to one registrable domain, then each domain is capped at 5 documents
    (operators/web.domain_cap) — the C4/RefinedWeb anti-mega-domain step.
    Reported as per-domain (total, kept) counts; the DuckDB oracle
    evaluates the identical regexp pipeline."""
    from science_datalake_spark.operators.web import domain_cap

    d = table(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 12).cast("string")
    i = (F.col("doc_id") % 4 + 1).cast("int")
    ident = F.col("doc_id").cast("string")
    pre = F.element_at(F.lit(["https://www.", "HTTP://", "", "https://cdn."]), i)
    site = F.when(i == 2, F.concat(F.lit("SITE"), k, F.lit(".COM"))).otherwise(
        F.concat(F.lit("site"), k, F.lit(".com"))
    )
    post = F.element_at(F.lit(["", "/", "?utm=x", "#frag"]), i)
    urls = d.select(
        "doc_id", F.concat(pre, site, F.lit("/page/"), ident, post).alias("url")
    )
    capped = domain_cap(urls, "url", max_per_domain=5, order_cols=["doc_id"])
    return (
        capped.groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("domain_kept"), 1)).alias("n_kept"),
        )
        .orderBy("domain")
    )


@query(
    "web_url_canonical",
    oracle="""
    WITH pages AS (
        SELECT doc_id,
               CAST(doc_id % 150 AS VARCHAR) AS pg,
               CAST((doc_id % 150) % 12 AS VARCHAR) AS st
        FROM documents
    ),
    urls AS (
        SELECT doc_id,
               CASE doc_id % 4
                   WHEN 0 THEN 'https://www.site' || st || '.com/Page/' || pg
                               || '?id=' || pg || '&utm_source=x'
                   WHEN 1 THEN 'HTTP://site' || st || '.com/Page/' || pg
                               || '/?utm_campaign=y&id=' || pg
                   WHEN 2 THEN 'site' || st || '.com/Page/' || pg
                               || '?id=' || pg || '&fbclid=abc#frag'
                   ELSE 'https://site' || st || '.com/Page/' || pg
                               || '?gclid=1&id=' || pg
               END AS url
        FROM pages
    ),
    parsed AS (
        SELECT doc_id, url,
               regexp_replace(
                   regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
                   '#.*$', '') AS rest
        FROM urls
    ),
    parts AS (
        SELECT doc_id,
               regexp_replace(
                   lower(regexp_extract(regexp_replace(rest, '[#?].*$', ''),
                                        '^([^/]+)', 1)),
                   '^www\\.', '') AS host,
               regexp_replace(
                   regexp_replace(regexp_replace(rest, '\\?.*$', ''),
                                  '^[^/]+', ''),
                   '/+$', '') AS path,
               list_sort(list_filter(
                   str_split(regexp_extract(rest, '\\?(.*)$', 1), '&'),
                   x -> x <> '' AND NOT regexp_matches(x,
                       '^(utm_[a-z]+|fbclid|gclid|dclid|msclkid|igshid|mc_[ce]id|_ga|_gl|ref_src|spm|cmpid|s_kwcid|yclid|wt_mc)=')
               )) AS params
        FROM parsed
    ),
    canon AS (
        SELECT doc_id, host,
               host || path || CASE WHEN len(params) > 0
                   THEN '?' || array_to_string(params, '&') ELSE '' END AS curl
        FROM parts
    )
    SELECT host AS domain,
           count(*) AS n_urls,
           count(DISTINCT curl) AS n_pages
    FROM canon GROUP BY host ORDER BY domain
    """,
)
def web_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization as the page-identity dedup key
    (operators/web.canonical_url): four crawl spellings of each page —
    www + scheme case, trailing slash, tracking params in different
    orders/positions, fragment — collapse to ONE canonical URL while the
    semantic ``id=`` parameter survives (normalize_url would drop it).
    Per-site rollup of raw spellings vs canonical pages; the DuckDB twin
    evaluates the identical regexp/list pipeline."""
    from science_datalake_spark.operators.web import canonical_url, url_host

    d = table(spark, sf_dir, "documents")
    pg = (F.col("doc_id") % 150).cast("string")
    st = ((F.col("doc_id") % 150) % 12).cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(
            v == 0,
            F.concat(F.lit("https://www.site"), st, F.lit(".com/Page/"), pg,
                     F.lit("?id="), pg, F.lit("&utm_source=x")),
        )
        .when(
            v == 1,
            F.concat(F.lit("HTTP://site"), st, F.lit(".com/Page/"), pg,
                     F.lit("/?utm_campaign=y&id="), pg),
        )
        .when(
            v == 2,
            F.concat(F.lit("site"), st, F.lit(".com/Page/"), pg,
                     F.lit("?id="), pg, F.lit("&fbclid=abc#frag")),
        )
        .otherwise(
            F.concat(F.lit("https://site"), st, F.lit(".com/Page/"), pg,
                     F.lit("?gclid=1&id="), pg)
        )
    )
    urls = d.select("doc_id", url.alias("url"))
    return (
        urls.select(
            url_host(F.col("url")).alias("domain"),
            canonical_url(F.col("url")).alias("curl"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("curl").alias("n_pages"),
        )
        .orderBy("domain")
    )


# STRING (not VARCHAR): valid in BOTH dialects — Spark requires a length
# on VARCHAR, DuckDB aliases STRING to VARCHAR
_PII_SALT = (
    "text || ' contact: user' || CAST(doc_id AS STRING) || '@example.com "
    "ip 10.0.0.' || CAST(doc_id % 255 AS STRING) || ' tel +4917012345' "
    "|| CAST(doc_id AS STRING)"
)
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_PHONE = "\\+?\\d[\\d().\\-]{6,}\\d\\b"


@query(
    "text_pii_redact",
    aux=True,  # rotated to aux round 7 (>=2 rounds driver-green; local parity continues)
    oracle=f"""
    WITH salted AS (
        SELECT doc_id, {_PII_SALT} AS t FROM documents WHERE doc_id < 200
    ),
    -- staged redaction mirrors pii_counts' left-to-right shielding:
    -- each class is counted on text with preceding classes replaced
    staged AS (
        SELECT doc_id, t,
               regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
        FROM salted
    ),
    staged2 AS (
        SELECT *, regexp_replace(t1, '{_PII_IP}', '<IP>', 'g') AS t2 FROM staged
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(t1, '{_PII_IP}')) AS INTEGER) AS n_ips,
           CAST(len(regexp_extract_all(t2, '{_PII_PHONE}')) AS INTEGER) AS n_phones,
           CAST(length(t) AS INTEGER) AS raw_len,
           CAST(length(regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g')) AS INTEGER)
               AS clean_len
    FROM staged2
    ORDER BY doc_id
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub before a corpus becomes training data: per-document match
    counts per class (audit) + redacted lengths, over text deterministically
    salted with synthetic email/IP/phone so every row exercises every
    pattern. All codegen regexp work (operators/textops.redact_pii);
    map-only at any scale. The DuckDB oracle applies the identical
    Java∩RE2 patterns."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    salted = d.select("doc_id", F.expr(_PII_SALT).alias("t"))
    counts = T.pii_counts(F.col("t"))
    return salted.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_ips"].alias("n_ips"),
        counts["n_phones"].alias("n_phones"),
        F.length("t").alias("raw_len"),
        F.length(T.redact_pii(F.col("t"))).alias("clean_len"),
    ).orderBy("doc_id")


@query(
    "text_repetition_stats",
    aux=True,  # rested round 9 wave 3 (>=2 rounds driver-green; parity continues)
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_WORDS} AS words FROM documents WHERE doc_id < 300
    ),
    g AS (
        SELECT doc_id, words,
               list_transform(generate_series(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i + 1]) AS bigrams
        FROM w
    )
    SELECT doc_id,
           CAST(len(words) AS INTEGER) AS n_tokens,
           CAST(round(CASE WHEN len(words) <= 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                END, 4) AS DOUBLE) AS dup_token_frac,
           CAST(round(CASE WHEN len(bigrams) <= 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
                END, 4) AS DOUBLE) AS dup_bigram_frac,
           (CASE WHEN len(bigrams) <= 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
                END) > 0.2 AS is_repetitive
    FROM g
    ORDER BY doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters: duplicate-token and
    duplicate-bigram fractions per document, flagged above 20% bigram
    repetition — the filter that drops boilerplate/spam from a training
    corpus. Single codegen expression per column (zip_with shifted-view
    bigrams, no UDF, no shuffle)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    # materialize the split ONCE, signals in a second projection, the
    # flag from the signal COLUMN in a third — the quality_gate_flags
    # layering (each independent expression tree was re-tokenizing)
    toked = d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("__toks")
    )
    sig = toked.select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        T.dup_token_fraction_from_tokens(F.col("__toks")).alias("dup_token_frac"),
        T.dup_bigram_fraction_from_tokens(F.col("__toks")).alias("dup_bigram_frac"),
    )
    return sig.select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "dup_bigram_frac",
        (F.col("dup_bigram_frac") > 0.2).alias("is_repetitive"),
    ).orderBy("doc_id")


_WINNOW_K = 8
_WINNOW_W = 4


@query(
    "dedup_winnow_overlap",
    aux=True,  # rested round 10 (>=2 rounds driver-green; dedup family keeps 7 driver rows incl. the new bloom tier)
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, text AS t FROM documents
        WHERE source IN ('src0', 'src1') AND doc_id < 150
    ),
    grams AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(length(t) - {_WINNOW_K - 1}, 0)),
                              i -> md5(substring(t, i, {_WINNOW_K}))) AS h
        FROM docs
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(h) - {_WINNOW_W - 1}, 0)),
                       i -> list_min(h[i:i + {_WINNOW_W - 1}]))) AS fp
            FROM grams
        )
    ),
    sizes AS (SELECT fp, count(*) AS n FROM fps GROUP BY fp),
    kept AS (SELECT f.* FROM fps f JOIN sizes s USING (fp) WHERE s.n <= 200)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY n_shared DESC, id_a, id_b
    LIMIT 25
    """,
)
def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS rolling-hash) fingerprint overlap: char-8-gram md5
    hashes → window-4 minima → distinct fingerprint set per document →
    bucketed self-join, top-25 most-overlapping pairs on a 2-source
    shard. The chunk-level near-dup detector that catches partial copies
    MinHash's document-level signatures dilute
    (operators/dedup.winnowing_fingerprints)."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1") & (F.col("doc_id") < 150))
        .select("doc_id", "text")
    )
    fps = D.winnowing_fingerprints(d, "doc_id", "text", k=_WINNOW_K, w=_WINNOW_W)
    pairs = D.fingerprint_overlap_pairs(fps, "doc_id", max_bucket=200)
    return pairs.orderBy(F.desc("n_shared"), "id_a", "id_b").limit(25)


@query(
    "events_view_click_attrib",
    aux=True,  # rested round 9 (driver-green r7+r8; events family keeps 4 rows)
    oracle="""
    WITH v AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
    ),
    c AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    )
    SELECT v.user_id,
           v.event_id AS view_id,
           v.ts       AS view_ts,
           c.event_id AS click_id,
           c.ts       AS click_ts,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS delay_us
    FROM v JOIN c
      ON v.user_id = c.user_id
     AND c.ts > v.ts
     AND c.ts <= v.ts + INTERVAL 30 MINUTE
    ORDER BY view_id, click_id
    """,
)
def events_view_click_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→click attribution interval join — the BATCH twin of the
    watermarked stream-stream join (streaming/joins.py, which the
    stream==batch test proves equal on a closed input). The range
    condition is what bounds streaming state; here it is what lets the
    join prune to per-user time neighborhoods instead of a full cross
    product per user."""
    from science_datalake_spark.streaming.joins import view_click_attribution

    e = table(spark, sf_dir, "events")
    out = view_click_attribution(e, max_delay="30 minutes")
    return out.orderBy("view_id", "click_id")


@query(
    "text_quality_gate",
    aux=True,  # driver-green r7; superset llm_curation_funnel replaces it (r8)
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               {_WORDS} AS words,
               CAST(len(list_filter({_WORDS}, w -> {_STOP_SQL})) AS DOUBLE)
                   / greatest(len({_WORDS}), 1) AS stop
        FROM documents WHERE doc_id < 400
    ),
    g AS (
        SELECT doc_id, stop,
               len(words) AS n_tokens,
               list_transform(generate_series(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i + 1]) AS bigrams
        FROM base
    ),
    m AS (
        SELECT doc_id,
               CAST(n_tokens AS INTEGER) AS n_tokens,
               CAST(round(CASE WHEN len(bigrams) <= 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
                    END, 4) AS DOUBLE) AS dup_bigram_frac,
               CAST(round(stop, 4) AS DOUBLE) AS stop_ratio,
               stop AS raw_stop
        FROM g
    )
    SELECT doc_id, n_tokens, dup_bigram_frac, stop_ratio,
           CASE WHEN n_tokens < 15 THEN 'too_short'
                WHEN n_tokens > 2000 THEN 'too_long'
                WHEN dup_bigram_frac > 0.2 THEN 'repetitive'
                WHEN raw_stop < 0.05 THEN 'low_stopword'
                WHEN raw_stop < 0.10 THEN 'non_english'
           END AS reject_reason,
           (CASE WHEN n_tokens < 15 THEN 'too_short'
                WHEN n_tokens > 2000 THEN 'too_long'
                WHEN dup_bigram_frac > 0.2 THEN 'repetitive'
                WHEN raw_stop < 0.05 THEN 'low_stopword'
                WHEN raw_stop < 0.10 THEN 'non_english'
           END) IS NULL AS keep
    FROM m
    ORDER BY doc_id
    """,
)
def text_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite Gopher-style keep/drop gate every training-corpus
    build runs per candidate document (operators/textops.quality_gate):
    length band + bigram-repetition cap + stopword floor + language gate,
    with the first failing rule named for drop-reason audits. The DuckDB
    oracle replays every rule (the stand-in language gate is the stopword
    threshold, so 'non_english' reduces to the 0.05–0.10 stop band)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    # quality_gate_flags, not the Column form: the four independent
    # expression trees re-ran the tokenizer per signal (the round-9
    # funnel finding — this query was the last caller on the slow form)
    flagged = T.quality_gate_flags(d.select("doc_id", "text"))
    return flagged.select(
        "doc_id",
        "n_tokens",
        "dup_bigram_frac",
        "stop_ratio",
        F.col("quality_reject").alias("reject_reason"),
        F.col("quality_reject").isNull().alias("keep"),
    ).orderBy("doc_id")


@query(
    "llm_curation_funnel",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 25 != 0
    ),
    base AS (
        SELECT doc_id, text, {_WORDS} AS words,
               CAST(len(list_filter({_WORDS}, w -> {_STOP_SQL})) AS DOUBLE)
                   / greatest(len({_WORDS}), 1) AS stop
        FROM corpus
    ),
    g AS (
        SELECT doc_id, text, words, stop, len(words) AS n_tokens,
               list_transform(generate_series(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i + 1]) AS bigrams
        FROM base
    ),
    q AS (
        SELECT doc_id, text, words, n_tokens,
               CASE WHEN n_tokens < 15 THEN 'too_short'
                    WHEN n_tokens > 2000 THEN 'too_long'
                    WHEN round(CASE WHEN len(bigrams) <= 0 THEN 0.0
                         ELSE 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
                              / len(bigrams) END, 4) > 0.2 THEN 'repetitive'
                    WHEN stop < 0.05 THEN 'low_stopword'
                    WHEN stop < 0.10 THEN 'non_english'
               END AS reject
        FROM g
    ),
    dd AS (
        SELECT *, min(doc_id) OVER (PARTITION BY
                   CASE WHEN reject IS NULL THEN md5(substr(text, 1, 60))
                        ELSE '!rejected:' || CAST(doc_id AS VARCHAR) END
               ) AS canonical
        FROM q
    ),
    d2 AS (
        SELECT *, (reject IS NULL AND doc_id != canonical) AS is_dup FROM dd
    ),
    eval_ng AS (
        SELECT DISTINCT unnest({_TRIGRAMS}) AS ng
        FROM (SELECT {_WORDS} AS words FROM documents WHERE doc_id % 25 = 0)
        WHERE len(words) >= 3
    ),
    surv_ng AS (
        SELECT DISTINCT doc_id, unnest({_TRIGRAMS}) AS ng
        FROM (SELECT doc_id, words FROM d2 WHERE reject IS NULL AND NOT is_dup)
        WHERE len(words) >= 3
    ),
    ovl AS (
        SELECT s.doc_id, count(*) AS n_sh, count(e.ng) AS n_shared
        FROM surv_ng s LEFT JOIN eval_ng e USING (ng)
        GROUP BY s.doc_id
    ),
    st AS (
        SELECT d.doc_id, d.n_tokens,
               CASE WHEN d.reject IS NOT NULL THEN 'quality:' || d.reject
                    WHEN d.is_dup THEN 'duplicate'
                    WHEN coalesce(round(o.n_shared / o.n_sh, 4), 0.0) > 0.5
                         THEN 'contaminated'
                    WHEN d.canonical % 20 < 18 THEN 'kept:train'
                    WHEN d.canonical % 20 = 18 THEN 'kept:val'
                    ELSE 'kept:test' END AS curation_status
        FROM d2 d LEFT JOIN ovl o USING (doc_id)
    )
    SELECT curation_status,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM st GROUP BY curation_status ORDER BY curation_status
    """,
)
def llm_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation funnel (operators/curation.curate):
    quality gate → exact dedup among survivors (prefix-60 key, the scaled
    fixture's K-copy crawl shape) → trigram decontamination against the
    every-25th-doc eval set → leakage-safe 90/5/5 split per duplicate
    cluster — audited as ONE aggregation with first-failing-stage
    attribution. No per-stage actions: the whole funnel is one lazy
    relation (the scale argument for the operator vs a notebook script).
    The split here uses the systematic cluster-mod ``u_expr`` so the
    relational twin evaluates identical bands; production defaults to the
    seeded hash."""
    from science_datalake_spark.operators.curation import curate, curation_funnel

    d = table(spark, sf_dir, "documents")
    eval_docs = d.filter(F.col("doc_id") % 25 == 0)
    corpus = d.filter(F.col("doc_id") % 25 != 0).select("doc_id", "text")
    curated = curate(
        corpus,
        "doc_id",
        "text",
        dedup_key=F.md5(F.substring("text", 1, 60)),
        eval_docs=eval_docs,
        fractions={"train": 0.90, "val": 0.05, "test": 0.05},
        u_expr=(F.col("split_cluster") % 20) / F.lit(20.0),
    )
    return curation_funnel(curated)


@query(
    "text_ppl_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_WORDS_LOWER}) AS tok FROM documents
    ),
    dtf AS (SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY doc_id, tok),
    vocab AS (SELECT tok, sum(n) AS cnt FROM dtf GROUP BY tok),
    tot AS (SELECT sum(cnt) AS total FROM vocab),
    scored AS (
        SELECT d.doc_id, CAST(sum(d.n) AS BIGINT) AS n_tokens,
               round(sum(d.n * -ln(v.cnt / tot.total)) / sum(d.n), 4) AS s
        FROM dtf d JOIN vocab v USING (tok) CROSS JOIN tot
        GROUP BY d.doc_id
    ),
    thr AS (
        SELECT round(quantile_cont(s, 1.0/3.0), 3) AS t1,
               round(quantile_cont(s, 2.0/3.0), 3) AS t2
        FROM scored
    ),
    b AS (
        SELECT CASE WHEN s <= thr.t1 THEN 'head'
                    WHEN s <= thr.t2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               n_tokens, s
        FROM scored CROSS JOIN thr
    )
    SELECT bucket, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens,
           CAST(round(avg(s), 4) AS DOUBLE) AS avg_score
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def text_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality bucketing at unigram-LM
    score terciles (operators/ranking.score_buckets over
    unigram_logprob_scores): the step that decides which third of a
    crawl is 'Wikipedia-like' enough to train on. Thresholds are two
    driver-collected doubles from the single-action histogram
    exact-quantile pass (avg_neg_logprob is 4-decimal-discretized, so
    its distinct-value domain is bounded at any corpus size); assignment
    is a map-only CASE — the whole query runs TWO driver actions."""
    from science_datalake_spark.operators.ranking import (
        score_buckets,
        unigram_logprob_scores,
    )

    d = table(spark, sf_dir, "documents")
    scores = unigram_logprob_scores(d, "doc_id", "text")
    b = score_buckets(scores, "avg_neg_logprob", threshold_pass="histogram")
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens"),
            F.round(F.avg("avg_neg_logprob"), 4).alias("avg_score"),
        )
        .orderBy("bucket")
    )


@query(
    "corpus_temperature_mix",
    aux=True,  # rested round 10 (driver-green r7-r9; corpus_release replays its threshold arithmetic twice per run)
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, len({_WORDS}) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR) || ':42') AS ord
        FROM documents
    ),
    counts AS (SELECT source, sum(n_tokens) AS c FROM toks GROUP BY source),
    z AS (SELECT sum(pow(c, 0.5)) AS z FROM counts),
    -- round(…, 3) then DECIMAL-cast: the double lands on the identical
    -- 3-decimal grid value the operator's python half-away round
    -- produces, and the DECIMAL multiply is exact — so floor(w*budget)
    -- equals the operator's int(Decimal(str(w)) * budget) threshold
    thr AS (
        SELECT source,
               CAST(floor(CAST(round(pow(c, 0.5) / z.z, 3) AS DECIMAL(18,3))
                          * 9000) AS BIGINT) AS thr
        FROM counts, z
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY ord, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_tokens_before
        FROM toks
    )
    SELECT c.doc_id, c.source, CAST(c.n_tokens AS INTEGER) AS n_tokens,
           CAST(c.cum_tokens_before AS BIGINT) AS cum_tokens_before
    FROM cum c JOIN thr USING (source)
    WHERE c.cum_tokens_before < thr.thr
    ORDER BY c.source, c.doc_id
    """,
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled corpus composition (the mT5/Pile alpha
    recipe, alpha=0.5): source weights ∝ sqrt(source token count),
    normalized, then the deterministic seeded-hash token-budget
    selection (operators/corpus.temperature_mix). Exercises the
    data-derived-weights path end-to-end against a relational twin that
    recomputes the same thresholds."""
    from science_datalake_spark.operators.corpus import temperature_mix

    d = table(spark, sf_dir, "documents")
    mix = temperature_mix(
        d, "source", alpha=0.5, budget_tokens=9000, id_col="doc_id"
    )
    return mix.select(
        "doc_id", "source", "n_tokens", "cum_tokens_before"
    ).orderBy("source", "doc_id")


@query(
    "corpus_split_leakage_safe",
    oracle="""
    WITH cl AS (
        SELECT doc_id, n_chars,
               min(doc_id) OVER (PARTITION BY md5(substr(text, 1, 60))) AS cluster
        FROM documents
    ),
    sp AS (
        SELECT doc_id, n_chars, cluster,
               CASE WHEN cluster % 20 < 18 THEN 'train'
                    WHEN cluster % 20 = 18 THEN 'val'
                    ELSE 'test' END AS split
        FROM cl
    )
    SELECT split,
           count(*) AS n_docs,
           count(DISTINCT cluster) AS n_clusters,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM sp GROUP BY split ORDER BY split
    """,
)
def corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (operators/corpus.
    leakage_safe_split): duplicate clusters — here exact prefix-60
    duplicates, the shape of the scaled fixture's K-copy crawl — are
    assigned to a split as a unit, so no near-copy pair can straddle the
    train/test boundary. The 90/5/5 assignment here is the systematic
    cluster-mod form (``u_expr``) so the relational twin evaluates the
    identical bands; production keeps the default seeded-hash u. Reported
    as per-split doc/cluster/char rollups."""
    from science_datalake_spark.operators.corpus import leakage_safe_split

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")
    w = Window.partitionBy(F.md5(F.substring("text", 1, 60)))
    clustered = d.withColumn("__cl", F.min("doc_id").over(w))
    split = leakage_safe_split(
        clustered,
        "doc_id",
        {"train": 0.90, "val": 0.05, "test": 0.05},
        cluster_col="__cl",
        u_expr=(F.col("split_cluster") % 20) / F.lit(20.0),
    )
    return (
        split.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("split_cluster").alias("n_clusters"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@query(
    "text_intra_dedup",
    aux=True,  # rested round 9 wave 4 (driver-green r7+r8; parity continues)
    oracle="""
    WITH parts AS (
        SELECT doc_id, str_split(text, ' ') AS p FROM documents
        WHERE doc_id < 120
    ),
    kept AS (
        SELECT doc_id, p,
               list_filter(p, (x, i) -> trim(x) = '' OR list_position(p, x) = i)
                   AS k
        FROM parts
    )
    SELECT doc_id,
           CAST(len(p) AS INTEGER) AS n_units,
           CAST(len(p) - len(k) AS INTEGER) AS n_removed,
           array_to_string(k, ' ') AS cleaned
    FROM kept
    ORDER BY doc_id
    """,
)
def text_intra_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-unit removal (operators/textops.
    drop_repeated_units — the Dolma/Gopher within-doc boilerplate
    strip), exercised at word granularity over the synthetic corpus
    (its 40-term vocabulary makes repeats dense, so the keep-first
    semantics are hash-pinned on every document). DuckDB's 1-based
    list_filter index mirrors Spark's 0-based filter lambda + 1."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    out = T.drop_repeated_units(d, "doc_id", "text", delimiter=" ")
    return out.select("doc_id", "n_units", "n_removed", "cleaned").orderBy("doc_id")


@query("text_compression_ratio")
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality profile (RefinedWeb/MassiveText signal;
    operators/textops.compression_ratio_stats — Arrow-batched zlib, the
    one justified row-wise Python computation beside the model seam).
    No DuckDB oracle: zlib is not SQL-expressible, so this entry is in
    the documented rows-only evidence class; exact values are pinned
    against a local zlib mirror in tests/test_operators.py instead."""
    from science_datalake_spark.operators.textops import compression_ratio_stats

    d = table(spark, sf_dir, "documents")
    stats = compression_ratio_stats(d, "doc_id", "text")
    return (
        stats.groupBy()
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("compression_ratio"), 4).alias("avg_ratio"),
            F.round(F.min("compression_ratio"), 4).alias("min_ratio"),
            F.round(F.max("compression_ratio"), 4).alias("max_ratio"),
        )
    )


# text_span_dedup tuning, shared between the Spark call and the four
# window-arithmetic sites in its oracle so they cannot drift apart
_SPAN_K = 6
_SPAN_MIN_DF = 2
# The operator's hardened normalization, mirrored for DuckDB: coalesce
# NULL and regexp-trim ALL whitespace (DuckDB trim() is space-only, so
# _WORDS would tokenize a tab-padded doc into phantom '' tokens and
# disagree with strip_repeated_spans on n_tokens)
_SPAN_WORDS = (
    "regexp_split_to_array("
    # 'g' flag: DuckDB regexp_replace is first-match-only by default
    # (Spark's replaces all), so without it a doc padded on BOTH ends
    # keeps its trailing phantom token
    r"regexp_replace(coalesce(text, ''), '^\s+|\s+$', '', 'g'), '\s+')"
)


@query(
    "text_span_dedup",
    # rotated INTO the driver registry round 8 (round-7 verdict "Next
    # round" #2 — the one registered query without a driver row)
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_SPAN_WORDS} AS t
        FROM documents
    ),
    wins AS (
        SELECT doc_id, i - 1 AS start,
               array_to_string(t[i:i+{_SPAN_K - 1}], ' ') AS win
        FROM toks,
             UNNEST(generate_series(1, greatest(len(t) - {_SPAN_K - 1}, 0))) AS g(i)
    ),
    freq AS (
        SELECT win FROM wins GROUP BY win
        HAVING count(DISTINCT doc_id) >= {_SPAN_MIN_DF}
    ),
    flagged AS (
        SELECT DISTINCT w.doc_id, w.start
        FROM wins w JOIN freq USING (win)
    ),
    cov AS (
        SELECT doc_id, count(DISTINCT p) AS n_removed
        FROM flagged, UNNEST(generate_series(start, start + {_SPAN_K - 1})) AS u(p)
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS INTEGER) AS n_tokens,
           CAST(c.n_removed AS INTEGER) AS n_removed
    FROM toks t JOIN cov c USING (doc_id)
    ORDER BY doc_id
    """,
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span removal (exact substring dedup,
    Lee et al. 2021 style — operators/dedup.strip_repeated_spans):
    6-token windows shared by >= 2 distinct documents are corpus
    boilerplate; per affected document, how many tokens the union of
    flagged windows covers. The DuckDB twin recomputes windows from
    the actual substrings (the Spark side keys on in-row xxhash64
    longs — collision-free here, same discipline as ngram_jaccard) and
    tokenizes with the operator's NULL-safe all-whitespace trim, so
    padded documents agree too, not just the clean testdata."""
    d = table(spark, sf_dir, "documents")
    out = D.strip_repeated_spans(d, "doc_id", "text", k=_SPAN_K, min_df=_SPAN_MIN_DF)
    return (
        out.filter(F.col("n_removed") > 0)
        .select("doc_id", "n_tokens", "n_removed")
        .orderBy("doc_id")
    )


@query(
    "sim_quantize_int8",
    aux=True,  # rested round 12 (driver-green r9-r11; sim family keeps ivf_durable/ivf_topk/ivfpq_topk/matryoshka + the new late_interaction)
    oracle="""
    WITH base AS (
        SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
    ),
    sc AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(x))) / 127.0 AS s
        FROM base
    ),
    codes AS (
        SELECT vec_id, embedding,
               CASE WHEN s > 0 THEN s ELSE 0.0 END AS q_scale,
               list_transform(embedding,
                   x -> CASE WHEN s > 0
                        THEN CAST(sign(CAST(x AS DOUBLE))
                                  * floor(abs(x) / s + 0.5) AS TINYINT)
                        ELSE CAST(0 AS TINYINT) END) AS qv
        FROM sc
    ),
    m AS (
        SELECT vec_id % 8 AS cohort, len(embedding) AS d,
               list_transform(generate_series(1, len(embedding)),
                   i -> CAST(embedding[i] AS DOUBLE)
                        - CAST(qv[i] AS DOUBLE) * q_scale) AS err,
               list_transform(generate_series(1, len(embedding)),
                   i -> CAST(embedding[i] AS DOUBLE)) AS vd,
               list_transform(generate_series(1, len(embedding)),
                   i -> CAST(qv[i] AS DOUBLE) * q_scale) AS qd,
               list_transform(generate_series(1, len(embedding)),
                   i -> CAST(embedding[i] AS DOUBLE)
                        * (CAST(qv[i] AS DOUBLE) * q_scale)) AS dotl
        FROM codes
    ),
    f AS (
        SELECT cohort,
               round(list_sum(list_transform(err, x -> x * x)) / d, 10) AS mse,
               list_max(list_transform(err, x -> abs(x))) AS maxe,
               CASE WHEN list_sum(list_transform(vd, x -> x * x)) > 0
                     AND list_sum(list_transform(qd, x -> x * x)) > 0
                    THEN round(list_sum(dotl)
                         / (sqrt(list_sum(list_transform(vd, x -> x * x)))
                            * sqrt(list_sum(list_transform(qd, x -> x * x)))), 8)
               END AS cosf
        FROM m
    )
    SELECT cohort, count(*) AS n_vecs,
           CAST(round(avg(mse), 6) AS DOUBLE) AS avg_mse,
           CAST(round(max(maxe), 6) AS DOUBLE) AS max_abs_err,
           CAST(round(avg(cosf), 6) AS DOUBLE) AS avg_cos
    FROM f GROUP BY cohort ORDER BY cohort
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization fidelity audit
    (operators/embedding.quantize_int8 + int8_fidelity): symmetric
    per-vector int8 codes (4× storage/bandwidth for an embedding
    corpus), rolled up per cohort as reconstruction MSE, max absolute
    error (≤ scale/2 by construction) and cosine(original, dequantized).
    The per-vector metrics run on int8_fidelity's Arrow/numpy engine —
    the round-9 form evaluated five independent HOF passes per vector
    (round-9 verdict item 2); whole-batch BLAS replaces them with one
    mapInPandas pass, and the per-vector 10/8-dp rounds absorb the
    engines' summation-order ulps before the cohort averages, so the
    DuckDB twin (which replays the SQL engine's sequential arithmetic)
    still hash-matches."""
    from science_datalake_spark.operators.embedding import int8_fidelity, quantize_int8

    e = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    per_vec = int8_fidelity(quantize_int8(e), project=["vec_id"]).select(
        (F.col("vec_id") % 8).alias("cohort"), "mse", "maxe", "cosf"
    )
    return (
        per_vec.groupBy("cohort")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("mse"), 6).alias("avg_mse"),
            F.round(F.max("maxe"), 6).alias("max_abs_err"),
            F.round(F.avg("cosf"), 6).alias("avg_cos"),
        )
        .orderBy("cohort")
    )


@query(
    "sim_pq_recall",
    aux=True,
    oracle="""
    WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    ex AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
        FROM (SELECT vec_id, v FROM base ORDER BY vec_id LIMIT 16)
    ),
    sub AS (
        SELECT c, gs.j AS j,
               list_slice(v, gs.j * 8 + 1, gs.j * 8 + 8) AS cent
        FROM ex, LATERAL unnest(generate_series(0, 7)) gs(j)
    ),
    dist AS (
        SELECT b.vec_id, s.j, s.c, s.cent,
               round(list_sum(list_transform(generate_series(1, 8),
                   i -> (b.v[s.j * 8 + i] - s.cent[i])
                        * (b.v[s.j * 8 + i] - s.cent[i]))), 6) AS d
        FROM base b CROSS JOIN sub s
    ),
    asg AS (
        SELECT vec_id, j, cent,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
        FROM dist
    ),
    dec AS (
        SELECT vec_id, flatten(list(cent ORDER BY j)) AS rec
        FROM asg WHERE rn = 1 GROUP BY vec_id
    ),
    m AS (
        SELECT b.vec_id % 8 AS cohort, len(b.v) AS d, b.v, r.rec,
               list_transform(generate_series(1, len(b.v)),
                   i -> b.v[i] - r.rec[i]) AS err,
               list_transform(generate_series(1, len(b.v)),
                   i -> b.v[i] * r.rec[i]) AS dotl
        FROM base b JOIN dec r USING (vec_id)
    ),
    f AS (
        SELECT cohort,
               round(list_sum(list_transform(err, x -> x * x)) / d, 10) AS mse,
               CASE WHEN list_sum(list_transform(v, x -> x * x)) > 0
                     AND list_sum(list_transform(rec, x -> x * x)) > 0
                    THEN round(list_sum(dotl)
                         / (sqrt(list_sum(list_transform(v, x -> x * x)))
                            * sqrt(list_sum(list_transform(rec, x -> x * x)))), 8)
               END AS cosf
        FROM m
    )
    SELECT cohort, count(*) AS n_vecs,
           CAST(round(avg(mse), 6) AS DOUBLE) AS avg_mse,
           CAST(round(avg(cosf), 6) AS DOUBLE) AS avg_cos
    FROM f GROUP BY cohort ORDER BY cohort
    """,
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization fidelity audit (operators/embedding.pq_*):
    64-dim embeddings → 8 subspaces × 16 exemplar centroids = 8 codes
    per vector (32× storage vs float32 — the FAISS IVF-PQ resident-data
    tier; int8 keeps every dimension at 4×, PQ replaces dimensions with
    codebook indices). Encode is map-only with the codebook riding a
    1-row broadcast; per-subspace squared-L2 distances are rounded at
    6 dp BEFORE the argmin (centroid-index tie-break) so both engines
    pick identical codes; decode reconstructs centroid concatenations.
    Rolled up per cohort as reconstruction MSE and cosine(original,
    reconstruction) with the int8 audit's per-vector 10/8-dp pre-round
    discipline. The DuckDB twin derives the identical exemplar codebook
    (ORDER BY vec_id LIMIT 16 + list_slice) and replays
    assign/decode/stats relationally."""
    from science_datalake_spark.operators.embedding import (
        pq_codebooks,
        pq_decode,
        pq_encode,
    )

    e = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    books = pq_codebooks(
        e, "vec_id", "embedding", m=8, k=16, cache_key=sf_dir + "|nonnull"
    )
    dec = pq_decode(pq_encode(e, books, "embedding"), books)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    rec = F.col("pq_vec")
    err = F.zip_with(v, rec, lambda a, b: a - b)
    dotl = F.zip_with(v, rec, lambda a, b: a * b)

    def lsum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    sq = lambda arr: lsum(F.transform(arr, lambda x: x * x))  # noqa: E731
    mse = F.round(sq(err) / F.size(v), 10)
    cosf = F.when(
        (sq(v) > 0) & (sq(rec) > 0),
        F.round(lsum(dotl) / (F.sqrt(sq(v)) * F.sqrt(sq(rec))), 8),
    )
    per_vec = dec.select(
        (F.col("vec_id") % 8).alias("cohort"),
        mse.alias("mse"),
        cosf.alias("cosf"),
    )
    return (
        per_vec.groupBy("cohort")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("mse"), 6).alias("avg_mse"),
            F.round(F.avg("cosf"), 6).alias("avg_cos"),
        )
        .orderBy("cohort")
    )


@query(
    "corpus_epoch_upsample",
    aux=True,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, len({_WORDS}) AS nt,
               md5(CAST(doc_id AS VARCHAR) || ':42') AS ord
        FROM documents WHERE source IN ('src0', 'src1') AND doc_id < 3000
    ),
    tot AS (SELECT source, sum(nt) AS tot FROM toks GROUP BY source),
    shares AS (
        SELECT source, tot,
               CASE source WHEN 'src0' THEN 12000 ELSE 8000 END AS share
        FROM tot
    ),
    ks AS (
        SELECT source, share,
               CASE WHEN tot > 0 AND share > tot
                    THEN CAST(ceil(CAST(share AS DOUBLE) / tot) AS INT)
                    ELSE 1 END AS k
        FROM shares
    ),
    rep AS (
        SELECT t.doc_id, t.source, t.nt, t.ord, s.share, e.epoch
        FROM toks t
        JOIN ks s USING (source),
        LATERAL unnest(generate_series(0, s.k - 1)) e(epoch)
    ),
    cum AS (
        SELECT source, epoch, nt, share,
               coalesce(sum(nt) OVER (
                   PARTITION BY source ORDER BY epoch, ord, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM rep
    )
    SELECT source, epoch,
           count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens
    FROM cum WHERE cb < share
    GROUP BY source, epoch ORDER BY source, epoch
    """,
)
def corpus_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aware corpus upsampling
    (operators/corpus.token_budget_mix_upsampled): two sources pinned to
    an ABSOLUTE 150-doc subset (same rows at every SF) get shares far
    above their available tokens, so both replicate — full epochs drain
    in sequence, the last truncates at the prior-cumulative boundary.
    The Pile/mT5 "epochs > 1" semantics; the DuckDB twin replays the
    replication (generate_series fan-out) and the same window. Rolled up
    per (source, epoch)."""
    from science_datalake_spark.operators.corpus import token_budget_mix_upsampled

    d = table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1") & (F.col("doc_id") < 3000)
    )
    mix = token_budget_mix_upsampled(
        d, "source", {"src0": 0.6, "src1": 0.4}, budget_tokens=20000,
        id_col="doc_id",
    )
    return (
        mix.groupBy("source", "epoch")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("source", "epoch")
    )


@query(
    "dedup_keep_best",
    # rotated INTO driver round 9 wave 3 (driver evidence derived by tools/rotation_audit.py)
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               md5(regexp_replace(lower(substr(text, 1, 200)), '\\s+', ' ', 'g'))
                   AS key,
               {_QUALITY_SQL} AS quality
        FROM documents
    )
    SELECT doc_id,
           first_value(doc_id) OVER
               (PARTITION BY key ORDER BY quality DESC, doc_id) AS best_id,
           count(*) OVER (PARTITION BY key) AS group_size,
           doc_id = first_value(doc_id) OVER
               (PARTITION BY key ORDER BY quality DESC, doc_id) AS is_kept,
           quality
    FROM scored ORDER BY doc_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy dedup (operators/dedup.keep_best_per_key): one representative
    per exact-fingerprint group chosen by quality score DESC (doc_id
    tiebreak) — the keep rule production corpus builds apply (keep the
    best copy, not an arbitrary one; C4/RefinedWeb discipline). Same
    single-window scale shape as dedup_exact; the DuckDB twin replays the
    identical fingerprint, quality formula and total order."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = T.with_quality_score(d)
    out = D.keep_best_per_key(
        scored,
        "doc_id",
        T.fingerprint(F.col("text")),
        [F.col("quality").desc(), F.col("doc_id")],
    )
    return out.select(
        "doc_id", "best_id", "group_size", "is_kept", "quality"
    ).orderBy("doc_id")


@query(
    "corpus_shard_shuffle",
    aux=True,
    # rotated INTO driver round 9 wave 3 (driver evidence derived by tools/rotation_audit.py)
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, source, len({_WORDS}) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR) || ':42') AS order_key,
               substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 1) AS shard
        FROM documents
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           count(DISTINCT source) AS n_sources,
           min_by(doc_id, order_key) AS first_doc,
           max_by(doc_id, order_key) AS last_doc
    FROM sh GROUP BY shard ORDER BY shard
    """,
)
def corpus_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle + sharding
    (operators/corpus.shard_shuffle): seeded md5 order key, 16 shards from
    its first hex char — map-only until the one per-shard rollup here
    (at 100 TB: repartition(shard) + sortWithinPartitions(order_key) on
    write, exactly one exchange, no global sort). Audited per shard:
    doc/source counts, token mass, shuffle-order endpoints."""
    from science_datalake_spark.operators.corpus import shard_shuffle

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    sh = shard_shuffle(
        d.withColumn("n_tokens", T.token_count(F.col("text"))),
        "doc_id",
        seed=42,
        shard_hex_chars=1,
    )
    return (
        sh.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("source").alias("n_sources"),
            F.min_by("doc_id", "order_key").alias("first_doc"),
            F.max_by("doc_id", "order_key").alias("last_doc"),
        )
        .orderBy("shard")
    )


def _source_overlap_oracle() -> str:
    """Twin of lsh pairs → doc→source joins → symmetric source matrix,
    on the 4-source shard (same body reuse as _cluster_oracle)."""
    srcs = ", ".join(f"'{s}'" for s in _CLUSTER_SOURCES)
    pairs_body = _minhash_oracle().rsplit("ORDER BY", 1)[0]
    pairs_body = pairs_body.replace(
        "FROM documents", f"FROM documents WHERE source IN ({srcs})"
    )
    return f"""
    WITH pairs AS ({pairs_body})
    SELECT least(da.source, db.source)    AS src_lo,
           greatest(da.source, db.source) AS src_hi,
           count(*) AS n_pairs,
           count(DISTINCT CASE WHEN da.source <= db.source
                               THEN p.id_a ELSE p.id_b END) AS n_docs_lo,
           count(DISTINCT CASE WHEN da.source <= db.source
                               THEN p.id_b ELSE p.id_a END) AS n_docs_hi
    FROM pairs p
    JOIN documents da ON p.id_a = da.doc_id
    JOIN documents db ON p.id_b = db.doc_id
    GROUP BY src_lo, src_hi
    ORDER BY src_lo, src_hi
    """


@query(
    "dedup_source_overlap",
    # rotated INTO driver round 9 wave 3 (driver evidence derived by tools/rotation_audit.py)
    oracle=_source_overlap_oracle(),
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-overlap matrix: which sources near-duplicate
    which (crawl A re-hosting crawl B is the usual 100 TB surprise, and
    this is the audit that finds it before mixing weights are chosen).
    LSH candidate pairs on the 4-source shard, each endpoint joined to
    its source, rolled up per unordered source pair with distinct-doc
    counts per side. Scale: the pair relation is bucket-capped (linear),
    and the two doc→source joins shuffle on doc_id only — no new
    self-join, no pair-side blowup."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source").isin(*_CLUSTER_SOURCES))
        .select("doc_id", "source", "text")
    )
    sigs = D.minhash_signatures(d, "doc_id", "text", n=3, num_hashes=_NUM_HASHES)
    pairs = D.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=_NUM_HASHES, max_bucket=_LSH_MAX_BUCKET
    )
    src = d.select("doc_id", "source")
    j = (
        pairs.join(src.alias("sa"), pairs["id_a"] == F.col("sa.doc_id"))
        .join(src.alias("sb"), pairs["id_b"] == F.col("sb.doc_id"))
        .select(
            F.least("sa.source", "sb.source").alias("src_lo"),
            F.greatest("sa.source", "sb.source").alias("src_hi"),
            F.when(F.col("sa.source") <= F.col("sb.source"), pairs["id_a"])
            .otherwise(pairs["id_b"])
            .alias("doc_lo"),
            F.when(F.col("sa.source") <= F.col("sb.source"), pairs["id_b"])
            .otherwise(pairs["id_a"])
            .alias("doc_hi"),
        )
    )
    return (
        j.groupBy("src_lo", "src_hi")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("doc_lo").alias("n_docs_lo"),
            F.countDistinct("doc_hi").alias("n_docs_hi"),
        )
        .orderBy("src_lo", "src_hi")
    )


@query(
    "corpus_snapshot_diff",
    # rotated INTO driver round 9 wave 3 (driver evidence derived by tools/rotation_audit.py)
    oracle="""
    WITH old AS (
        SELECT doc_id, source,
               md5(regexp_replace(lower(substr(text, 1, 200)), '\\s+', ' ', 'g'))
                   AS fp
        FROM documents WHERE doc_id % 7 != 0
    ),
    new AS (
        SELECT doc_id, source,
               md5(regexp_replace(lower(substr(
                   CASE WHEN doc_id % 3 = 0 THEN 'v2 ' || text ELSE text END,
                   1, 200)), '\\s+', ' ', 'g')) AS fp
        FROM documents WHERE doc_id % 5 != 0
    )
    SELECT coalesce(n.source, o.source) AS source,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.fp IS DISTINCT FROM n.fp THEN 'changed'
                ELSE 'unchanged' END AS status,
           count(*) AS n_docs
    FROM old o
    FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version release audit (operators/corpus.snapshot_diff):
    added/removed/changed/unchanged per source between two snapshots —
    simulated deterministically from the fixture (v1 drops doc_id%7==0,
    v2 drops %5==0 and rewrites %3==0), so both engines derive identical
    versions. One full-outer hash join on doc_id, then one rollup; never
    the three anti-join rescans."""
    from science_datalake_spark.operators.corpus import snapshot_diff

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    old = d.filter(F.col("doc_id") % 7 != 0).withColumn(
        "fp", T.fingerprint(F.col("text"))
    )
    new = (
        d.filter(F.col("doc_id") % 5 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.lit("v2 "), F.col("text"))
            ).otherwise(F.col("text")),
        )
        .withColumn("fp", T.fingerprint(F.col("text")))
    )
    diff = snapshot_diff(
        old.select("doc_id", "source", "fp"),
        new.select("doc_id", "source", "fp"),
        "doc_id",
        "fp",
    )
    return (
        diff.groupBy("source", "status")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "status")
    )


@query(
    "dedup_containment",
    # rotated INTO driver round 9 wave 4 (driver evidence derived by tools/rotation_audit.py)
    oracle=f"""
    WITH sub AS (
        SELECT doc_id, text FROM documents
        WHERE source IN ('src0', 'src1', 'src2', 'src3')
    ),
    w AS (SELECT doc_id, {_WORDS} AS words FROM sub),
    ng AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(words) - 2),
                      i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS ng
        FROM w WHERE len(words) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ng GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM ng a JOIN ng b ON a.ng = b.ng AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT id_a, id_b, inter,
               CAST(sa.sz AS BIGINT) AS size_a,
               CAST(sb.sz AS BIGINT) AS size_b,
               CAST(round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4)
                    AS DOUBLE) AS jaccard,
               CAST(round(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz), 4)
                    AS DOUBLE) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, inter, size_a, size_b, jaccard, containment
    FROM scored
    ORDER BY containment DESC, jaccard ASC, id_a, id_b
    LIMIT 20
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment verification
    (operators/dedup.ngram_containment_pairs): pairs where the SMALLER
    document's shingles are mostly inside the larger one — the
    sub-document duplication Jaccard-threshold dedup misses (a quoted
    page inside a 100x larger doc is ~0.01 Jaccard, 1.0 containment).
    Ordered so the highest-containment/lowest-Jaccard pairs — exactly
    the ones only this measure finds — surface first. Same
    source-restricted shard and plan shape as dedup_ngram_jaccard."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1", "src2", "src3"))
        .select("doc_id", "text")
    )
    pairs = D.ngram_containment_pairs(d, "doc_id", "text", n=3)
    return (
        pairs.orderBy(F.desc("containment"), F.asc("jaccard"), "id_a", "id_b")
        .limit(20)
        .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard", "containment")
    )


# ---------------------------------------------------------------------------
# Corpus release: the end-to-end composition (round-9 verdict item 5)
# ---------------------------------------------------------------------------


def _release_chain_sql(tag: str, keep_pred: str, rewrite: bool) -> str:
    """One corpus-release chain as DuckDB CTEs (suffix ``tag``): policy
    dedup (keep best quality per fingerprint) → quality gate →
    temperature mix (alpha=0.5, 9000-token budget) → shard assignment.
    Splices the exact fragments of the dedup_keep_best,
    corpus_temperature_mix and corpus_shard_shuffle oracles so every
    stage's arithmetic is already driver-proven."""
    text_expr = (
        "CASE WHEN doc_id % 3 = 0 THEN 'v2 ' || text ELSE text END"
        if rewrite
        else "text"
    )
    return f"""
    docs{tag} AS (
        SELECT doc_id, source, {text_expr} AS text
        FROM documents WHERE {keep_pred}
    ),
    scored{tag} AS (
        SELECT doc_id, source,
               md5(regexp_replace(lower(substr(text, 1, 200)), '\\s+', ' ', 'g'))
                   AS fp,
               {_QUALITY_SQL} AS quality,
               len({_WORDS}) AS n_tokens
        FROM docs{tag}
    ),
    kept{tag} AS (
        SELECT doc_id, source, fp, n_tokens FROM (
            SELECT *, row_number() OVER
                (PARTITION BY fp ORDER BY quality DESC, doc_id) AS rn
            FROM scored{tag}
        ) WHERE rn = 1 AND quality >= 0.45
    ),
    counts{tag} AS (
        SELECT source, sum(n_tokens) AS c FROM kept{tag} GROUP BY source
    ),
    z{tag} AS (SELECT sum(pow(c, 0.5)) AS z FROM counts{tag}),
    thr{tag} AS (
        SELECT source,
               CAST(floor(CAST(round(pow(c, 0.5) / z.z, 3) AS DECIMAL(18,3))
                          * 9000) AS BIGINT) AS thr
        FROM counts{tag}, z{tag} z
    ),
    cum{tag} AS (
        SELECT doc_id, source, fp, n_tokens,
               md5(CAST(doc_id AS VARCHAR) || ':42') AS order_key,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM kept{tag}
    ),
    rel{tag} AS (
        SELECT c.doc_id, c.fp, c.n_tokens, substr(c.order_key, 1, 1) AS shard
        FROM cum{tag} c JOIN thr{tag} t USING (source)
        WHERE c.cum_before < t.thr
    )"""


_RELEASE_ORACLE = f"""
    WITH {_release_chain_sql('P', 'doc_id % 7 != 0', rewrite=False)},
    {_release_chain_sql('C', 'doc_id % 5 != 0', rewrite=True)},
    diff AS (
        SELECT coalesce(c.shard, p.shard) AS shard,
               coalesce(c.n_tokens, p.n_tokens) AS n_tokens,
               CASE WHEN p.doc_id IS NULL THEN 'added'
                    WHEN c.doc_id IS NULL THEN 'removed'
                    WHEN p.fp IS DISTINCT FROM c.fp THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM relP p FULL OUTER JOIN relC c ON p.doc_id = c.doc_id
    )
    SELECT shard, status, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM diff GROUP BY 1, 2 ORDER BY 1, 2
    """


def _release_tail(scored: DataFrame, flag_col: str, fp: str, q: str, nt: str) -> DataFrame:
    """One corpus-release chain TAIL over the pre-scored skinny relation
    (corpus_release's single-scan form): membership filter →
    keep_best_per_key → quality gate → temperature_mix → shard_shuffle,
    returning (doc_id, fp, n_tokens, shard). Text never enters — the
    mix runs on the precomputed token counts (n_tokens_col)."""
    from science_datalake_spark.operators.corpus import shard_shuffle, temperature_mix

    sc = scored.filter(F.col(flag_col)).select(
        "doc_id",
        "source",
        F.col(fp).alias("fp"),
        F.col(q).alias("quality"),
        F.col(nt).alias("n_tokens"),
    )
    kept = (
        D.keep_best_per_key(
            sc, "doc_id", F.col("fp"), [F.col("quality").desc(), F.col("doc_id")]
        )
        .filter(F.col("is_kept") & (F.col("quality") >= 0.45))
        .select("doc_id", "source", "fp", "n_tokens")
    )
    mixed = temperature_mix(
        kept,
        "source",
        alpha=0.5,
        budget_tokens=9000,
        id_col="doc_id",
        n_tokens_col="n_tokens",
    )
    return shard_shuffle(mixed, "doc_id", seed=42, shard_hex_chars=1).select(
        "doc_id", "fp", "n_tokens", "shard"
    )


# rotated INTO driver round 10 wave 1 (driver evidence derived by tools/rotation_audit.py)
@query("corpus_release", oracle=_RELEASE_ORACLE)
def corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus RELEASE (round-9 verdict item 5): the
    round-9 pieces composed into one lineage — policy dedup
    (dedup.keep_best_per_key: best quality copy per fingerprint, the
    C4/RefinedWeb keep rule), quality gate (textops.quality_score ≥
    0.45), temperature-sampled composition (corpus.temperature_mix,
    alpha=0.5), deterministic shard shuffle (corpus.shard_shuffle) —
    then corpus.snapshot_diff against the PREVIOUS release of the same
    chain, rolled up per (shard, status): the reference's
    materialize-then-verify release gate
    (materialize_unified_papers.py:413-436) applied to a training-corpus
    release. Versions are simulated deterministically from the fixture
    (prev: drop doc_id%7==0; curr: drop %5==0 and rewrite %3==0 with a
    'v2 ' prefix), so both engines derive identical releases and the
    diff exercises added/removed/changed/unchanged together with
    mix-boundary membership churn (thresholds differ per version because
    the weights are data-derived).

    Scale (single-scan form, round 11): the corpus is scanned and
    scored ONCE — membership flags (in_prev/in_curr) ride the row, the
    tokenizer/quality/fingerprint pass computes the base-text columns
    for every row and the rewritten-text columns ONLY on the %3 rewrite
    subset (a CASE, not a second scan) — into a persisted skinny
    relation (no text). The first working shape ran the full chain
    twice from raw text; with temperature_mix's weights-collect that
    meant FOUR tokenizer/quality evaluations of the corpus. Each chain
    tail is then [one fingerprint window + one per-source cumulative
    window + a broadcast threshold join + map-only shard assignment]
    over cached counts, feeding ONE full-outer id join and one rollup —
    every stage shape individually plan-pinned by its standalone
    query."""
    from pyspark import StorageLevel

    from science_datalake_spark.operators.corpus import snapshot_diff
    from science_datalake_spark.operators.textops import (
        quality_score_from_tokens,
        tokens,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    in_prev = F.col("doc_id") % 7 != 0
    in_curr = F.col("doc_id") % 5 != 0
    rewrite = in_curr & (F.col("doc_id") % 3 == 0)
    v2 = F.concat(F.lit("v2 "), F.col("text"))
    staged = (
        d.filter(in_prev | in_curr)
        .withColumn("__in_prev", in_prev)
        .withColumn("__in_curr", in_curr)
        .withColumn("__rw", rewrite)
        .withColumn("__tb", tokens(F.col("text")))
        .withColumn("__tc", F.when(F.col("__rw"), tokens(v2)))
    )
    scored = staged.select(
        "doc_id",
        "source",
        "__in_prev",
        "__in_curr",
        "__rw",
        "text",
        "__tc",
        T.fingerprint(F.col("text")).alias("fp_p"),
        quality_score_from_tokens(F.col("text"), F.col("__tb")).alias("q_p"),
        F.size("__tb").alias("nt_p"),
    ).select(
        "doc_id",
        "source",
        "__in_prev",
        "__in_curr",
        "fp_p",
        "q_p",
        "nt_p",
        F.when(F.col("__rw"), T.fingerprint(v2)).otherwise(F.col("fp_p")).alias("fp_c"),
        F.when(F.col("__rw"), quality_score_from_tokens(v2, F.col("__tc")))
        .otherwise(F.col("q_p"))
        .alias("q_c"),
        F.when(F.col("__rw"), F.size("__tc")).otherwise(F.col("nt_p")).alias("nt_c"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    prev = _release_tail(scored, "__in_prev", "fp_p", "q_p", "nt_p")
    curr = _release_tail(scored, "__in_curr", "fp_c", "q_c", "nt_c")
    diff = snapshot_diff(prev, curr, "doc_id", "fp")
    return (
        diff.groupBy("shard", "status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("shard", "status")
    )


@query(
    "dedup_incremental_bloom",
    # rotated INTO driver round 10 wave 1 (driver evidence derived by tools/rotation_audit.py)
    oracle="""
    WITH b AS (
        SELECT doc_id, source,
               md5(regexp_replace(lower(substr(text, 1, 200)), '\\s+', ' ', 'g'))
                   AS fp
        FROM documents
    ),
    p AS (
        SELECT DISTINCT
               md5(regexp_replace(lower(substr(text, 1, 200)), '\\s+', ' ', 'g'))
                   AS fp
        FROM documents WHERE doc_id % 7 != 0
    )
    SELECT b.source,
           count(*) AS n_batch,
           CAST(sum(CASE WHEN p.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN p.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
    FROM b LEFT JOIN p USING (fp)
    GROUP BY b.source ORDER BY b.source
    """,
)
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-release incremental dedup behind the Bloom membership tier
    (operators/bloom.incremental_new_docs): a re-crawl batch (the full
    documents table) deduplicated against the prior release (doc_id%7!=0)
    by content fingerprint. The Bloom bitmap (built ONCE per release by a
    bit_or aggregation whose shuffle is bounded by num_bits/64 rows at
    any corpus size) clears definitely-new rows map-side with zero false
    negatives; only might-contain candidates reach the exact anti-join,
    so the result is EXACTLY the anti-join — which is what the oracle
    computes, blind to the Bloom layer (the layer must not change
    results, only shuffle volume). Rolled up per source as
    batch/new/duplicate counts; the K-copy crawl shape makes some
    re-crawled docs true duplicates of retained text."""
    from pyspark import StorageLevel

    from science_datalake_spark.operators.bloom import incremental_new_docs

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # Fingerprint ONCE into a persisted skinny relation (the round-11
    # corpus_release lesson): prior (bloom build + verify-join keys) and
    # batch (probe side) otherwise re-run the md5+regex text pass three
    # times between them.
    scored = d.select(
        "doc_id", "source", T.fingerprint(F.col("text")).alias("fp")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    prior = scored.filter(F.col("doc_id") % 7 != 0).select("fp")
    batch = scored
    new = incremental_new_docs(batch, prior, "fp")
    newc = new.groupBy("source").agg(F.count("*").alias("n_new"))
    batchc = batch.groupBy("source").agg(F.count("*").alias("n_batch"))
    return (
        batchc.join(newc, "source", "left")
        .select(
            "source",
            "n_batch",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            (F.col("n_batch") - F.coalesce("n_new", F.lit(0))).alias("n_dup"),
        )
        .orderBy("source")
    )


@query(
    "text_bigram_logprob",
    aux=True,  # rested round 13 (driver-green r10-r12; the LM ladder keeps trigram + ppl_buckets + wilson driver rows)
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    pairs AS (
        SELECT doc_id, w[g.i] AS w1, w[g.i + 1] AS w2
        FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
        WHERE len(w) >= 2
    ),
    dbf AS (SELECT doc_id, w1, w2, count(*) AS n FROM pairs GROUP BY 1, 2, 3),
    bgc AS (SELECT w1, w2, sum(n) AS cbg FROM dbf GROUP BY 1, 2),
    ctx AS (SELECT w1, sum(cbg) AS c1 FROM bgc GROUP BY 1),
    voc AS (SELECT count(DISTINCT t) AS v FROM (
        SELECT w1 AS t FROM bgc UNION ALL SELECT w2 FROM bgc)),
    per AS (
        SELECT d.doc_id, sum(d.n) AS n_bigrams,
               round(sum(d.n * -ln((b.cbg + 0.5) / (c.c1 + 0.5 * voc.v)))
                     / sum(d.n), 4) AS s
        FROM dbf d JOIN bgc b USING (w1, w2) JOIN ctx c USING (w1) CROSS JOIN voc
        GROUP BY d.doc_id
    )
    SELECT t.source,
           count(*) AS n_docs,
           CAST(sum(p.n_bigrams) AS BIGINT) AS total_bigrams,
           CAST(round(avg(p.s), 4) AS DOUBLE) AS avg_score,
           CAST(round(min(p.s), 4) AS DOUBLE) AS min_score,
           CAST(round(max(p.s), 4) AS DOUBLE) AS max_score
    FROM per p JOIN toks t USING (doc_id)
    GROUP BY t.source ORDER BY t.source
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (operators/ranking.bigram_logprob_scores)
    — the transition-probability tier above text_unigram_logprob toward
    CCNet's KenLM filter: add-0.5-smoothed P(w2|w1) trained on the corpus
    itself, scored as the per-document average negative log conditional
    probability (word salad assembled from COMMON words scores high here
    while the unigram model calls it normal). Rolled up per source with
    doc/bigram counts and score min/avg/max; the DuckDB twin replays the
    identical counts, smoothing arithmetic and 4-dp rounding."""
    from science_datalake_spark.operators.ranking import bigram_logprob_scores

    d = table(spark, sf_dir, "documents")
    scores = bigram_logprob_scores(d, "doc_id", "text").filter(
        F.col("avg_neg_logprob").isNotNull()
    )
    return (
        scores.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("total_bigrams"),
            F.round(F.avg("avg_neg_logprob"), 4).alias("avg_score"),
            F.round(F.min("avg_neg_logprob"), 4).alias("min_score"),
            F.round(F.max("avg_neg_logprob"), 4).alias("max_score"),
        )
        .orderBy("source")
    )


@query(
    "text_source_quality_wilson",
    # rotated INTO driver round 10 wave 3 (driver evidence derived by tools/rotation_audit.py)
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source, text, {_WORDS} AS words,
               CAST(len(list_filter({_WORDS}, w -> {_STOP_SQL})) AS DOUBLE)
                   / greatest(len({_WORDS}), 1) AS stop
        FROM documents
    ),
    g AS (
        SELECT doc_id, source, stop, len(words) AS n_tokens,
               list_transform(generate_series(1, len(words) - 1),
                              i -> words[i] || ' ' || words[i + 1]) AS bigrams
        FROM base
    ),
    q AS (
        SELECT source,
               (CASE WHEN n_tokens < 15 THEN 'too_short'
                     WHEN n_tokens > 2000 THEN 'too_long'
                     WHEN round(CASE WHEN len(bigrams) <= 0 THEN 0.0
                          ELSE 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
                               / len(bigrams) END, 4) > 0.2 THEN 'repetitive'
                     WHEN stop < 0.05 THEN 'low_stopword'
                     WHEN stop < 0.10 THEN 'non_english'
                END) IS NULL AS keep
        FROM g
    ),
    agg AS (
        SELECT source, count(*) AS n,
               sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept
        FROM q GROUP BY source
    ),
    w AS (
        SELECT source, n, n_kept,
               CAST(n AS DOUBLE) AS nd, CAST(n_kept AS DOUBLE) / n AS p,
               CAST(1.96 AS DOUBLE) AS z
        FROM agg
    )
    SELECT source, n, CAST(n_kept AS BIGINT) AS n_kept,
           CAST(round(p, 4) AS DOUBLE) AS keep_rate,
           CAST(round(
               (p + (z * z) / (2 * nd)
                  - z * sqrt(p * (1 - p) / nd + (z * z) / (4 * nd * nd)))
               / (1 + (z * z) / nd), 4) AS DOUBLE) AS keep_rate_lb,
           round(
               (p + (z * z) / (2 * nd)
                  - z * sqrt(p * (1 - p) / nd + (z * z) / (4 * nd * nd)))
               / (1 + (z * z) / nd), 4) < 0.5 AS gated
    FROM w ORDER BY source
    """,
)
def text_source_quality_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-gate calibration with the Wilson-score lower
    bound (operators/stats.wilson_keep_rate): keep-rate of the heuristic
    gate per source plus the small-sample-safe CI lower bound, and the
    block decision (``gated`` when even optimistically the source keeps
    under half its documents) — the statistic real web curation uses to
    blocklist a DOMAIN on few observations without blocklisting every
    1-document domain that happened to fail once. One gate pass (the
    materialized-split quality_gate_flags) + one map-side-combinable
    aggregation + closed-form projection; the DuckDB twin replays the
    gate and the Wilson algebra with the identical double arithmetic
    (z enters as CAST(1.96 AS DOUBLE), never a decimal literal, so z²
    lands on the same IEEE product both sides)."""
    from science_datalake_spark.operators.stats import wilson_keep_rate
    from science_datalake_spark.operators.textops import quality_gate_flags

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    flagged = quality_gate_flags(d, "text")
    verdicts = flagged.select(
        "source", F.col("quality_reject").isNull().alias("__keep")
    )
    out = wilson_keep_rate(verdicts, "source", "__keep")
    return out.withColumn("gated", F.col("keep_rate_lb") < 0.5).orderBy("source")


@query(
    "text_trigram_logprob",
    # rotated INTO driver round 11 wave 2 (same-round additions get rows)
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    tris AS (
        SELECT doc_id, w[g.i] AS w1, w[g.i + 1] AS w2, w[g.i + 2] AS w3
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS g(i)
        WHERE len(w) >= 3
    ),
    tgc AS (SELECT w1, w2, w3, count(*) AS cbg FROM tris GROUP BY 1, 2, 3),
    ctx AS (SELECT w1, w2, sum(cbg) AS c12 FROM tgc GROUP BY 1, 2),
    voc AS (SELECT count(DISTINCT t) AS v FROM (
        SELECT w1 AS t FROM tgc UNION ALL SELECT w2 FROM tgc
        UNION ALL SELECT w3 FROM tgc)),
    per AS (
        SELECT t.doc_id, count(*) AS n_tg,
               round(sum(-ln((g.cbg + 0.5) / (c.c12 + 0.5 * voc.v)))
                     / count(*), 4) AS s
        FROM tris t JOIN tgc g USING (w1, w2, w3) JOIN ctx c USING (w1, w2)
        CROSS JOIN voc
        GROUP BY t.doc_id
    )
    SELECT k.source,
           count(*) AS n_docs,
           CAST(sum(p.n_tg) AS BIGINT) AS total_trigrams,
           CAST(round(avg(p.s), 4) AS DOUBLE) AS avg_score,
           CAST(round(min(p.s), 4) AS DOUBLE) AS min_score,
           CAST(round(max(p.s), 4) AS DOUBLE) AS max_score
    FROM per p JOIN toks k USING (doc_id)
    GROUP BY k.source ORDER BY k.source
    """,
)
def text_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-LM quality scoring (operators/ranking.trigram_logprob_scores)
    — the third tier of the unigram -> bigram -> trigram ladder toward
    CCNet's KenLM filter: add-0.5-smoothed P(w3|w1,w2) trained on the
    corpus itself, scored as the per-document average negative log
    conditional probability (word salad assembled from plausible
    ADJACENT PAIRS still scores high here). Rolled up per source with
    doc/trigram counts and score min/avg/max; the DuckDB twin replays
    the identical counts, smoothing arithmetic and 4-dp rounding over
    string keys (vs xxhash64 longs — equal absent a 64-bit collision,
    guarded by the fixture collision test)."""
    from science_datalake_spark.operators.ranking import trigram_logprob_scores

    d = table(spark, sf_dir, "documents")
    scores = trigram_logprob_scores(d, "doc_id", "text").filter(
        F.col("avg_neg_logprob").isNotNull()
    )
    return (
        scores.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_trigrams").cast("long").alias("total_trigrams"),
            F.round(F.avg("avg_neg_logprob"), 4).alias("avg_score"),
            F.round(F.min("avg_neg_logprob"), 4).alias("min_score"),
            F.round(F.max("avg_neg_logprob"), 4).alias("max_score"),
        )
        .orderBy("source")
    )


@query(
    "sim_matryoshka_fidelity",
    # rotated INTO driver round 11 wave 2 (same-round additions get rows)
    oracle="""
    WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    dims(d) AS (VALUES (8), (16), (32)),
    en AS (
        SELECT d.d,
               round(list_sum(list_transform(list_slice(b.v, 1, d.d),
                                             x -> x * x))
                     / list_sum(list_transform(b.v, x -> x * x)), 8) AS e
        FROM base b CROSS JOIN dims d
        WHERE list_sum(list_transform(b.v, x -> x * x)) > 0
    ),
    energy AS (
        SELECT d, count(*) AS n_vecs,
               CAST(round(avg(e), 6) AS DOUBLE) AS avg_energy
        FROM en GROUP BY d
    ),
    q AS (SELECT vec_id, v FROM base WHERE vec_id < 40),
    c AS (SELECT vec_id, v FROM base WHERE vec_id >= 40),
    fullbest AS (
        SELECT qid, cid FROM (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_dot_product(q.v, c.v) /
                           sqrt(list_dot_product(q.v, q.v)
                                * list_dot_product(c.v, c.v)), 6) DESC,
                           c.vec_id) AS rn
            FROM q CROSS JOIN c
        ) WHERE rn = 1
    ),
    truncbest AS (
        SELECT d, qid, cid FROM (
            SELECT dm.d, q.vec_id AS qid, c.vec_id AS cid,
                   row_number() OVER (
                       PARTITION BY dm.d, q.vec_id
                       ORDER BY round(
                           list_dot_product(list_slice(q.v, 1, dm.d),
                                            list_slice(c.v, 1, dm.d)) /
                           sqrt(list_dot_product(list_slice(q.v, 1, dm.d),
                                                 list_slice(q.v, 1, dm.d))
                                * list_dot_product(list_slice(c.v, 1, dm.d),
                                                   list_slice(c.v, 1, dm.d))),
                           6) DESC,
                           c.vec_id) AS rn
            FROM dims dm, q CROSS JOIN c
        ) WHERE rn = 1
    ),
    agree AS (
        SELECT t.d, count(*) AS n_queries,
               CAST(round(avg(CASE WHEN t.cid = f.cid THEN 1.0 ELSE 0.0 END),
                          6) AS DOUBLE) AS top1_agree
        FROM truncbest t JOIN fullbest f USING (qid)
        GROUP BY t.d
    )
    SELECT e.d, e.n_vecs, e.avg_energy, a.n_queries, a.top1_agree
    FROM energy e JOIN agree a USING (d)
    ORDER BY e.d
    """,
)
def sim_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit for the embedding tier: how much
    retrieval quality survives keeping only the first d of 64 dimensions
    — the storage/recall dial MRL-trained encoders expose (truncate +
    re-rank is the standard cheap-ANN recipe; this audit is how you pick
    d). Per d in (8, 16, 32): mean prefix ENERGY retention
    (||v[:d]||^2 / ||v||^2, per-vector 8-dp pre-round — map-only), and
    TOP-1 AGREEMENT between truncated-space and full-space exact cosine
    retrieval over the vec_id<40 query cohort (the knn_embedding_join
    engine on sliced vectors; cosine needs no re-normalization under
    truncation). Scale: energy is map-only; each retrieval pass is the
    broadcast-queries/stream-corpus kNN shape — no corpus self-join, and
    d slices the arrays BEFORE the BLAS scoring so the truncated passes
    are cheaper than the full one. The DuckDB twin replays slices, the
    6-dp-then-tie-break ranking, and the agreement join."""
    from science_datalake_spark.operators.similarity import cosine_top1_prefix_dims

    e = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    dims = [8, 16, 32]
    sqv = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x * x,
    )
    staged = e.select("vec_id", "embedding", sqv.alias("__sqv")).filter(
        F.col("__sqv") > 0
    )
    en = staged.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.round(
                            F.aggregate(
                                F.slice(
                                    F.transform(
                                        F.col("embedding"),
                                        lambda x: x.cast("double"),
                                    ),
                                    1,
                                    d,
                                ),
                                F.lit(0.0),
                                lambda a, x: a + x * x,
                            )
                            / F.col("__sqv"),
                            8,
                        ).alias("e"),
                    )
                    for d in dims
                ]
            )
        ).alias("__x")
    ).select("__x.d", "__x.e")
    energy = en.groupBy("d").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("e"), 6).alias("avg_energy"),
    )
    # NOTE (round-13 measured-and-REVERTED): collecting the 40-row query
    # cohort once and feeding the four retrieval passes driver-local
    # createDataFrame relations looked like it would save three pruned
    # scan jobs at construction — measured 2.0 -> 4.9 s at sf0.1: the
    # non-Arrow local-relation path (pickled parallelize + per-pass
    # LocalTableScan evaluation) costs far more than the pruned parquet
    # collects it replaced. Pruned scans of a 40-row cohort are cheap;
    # leave them alone.
    q = e.filter(F.col("vec_id") < 40)
    c = e.filter(F.col("vec_id") >= 40)
    # Round-14 fused retrieval (guide §1.2 — fewer passes): the four
    # knn_embedding_join calls (full + three prefix slices) were four
    # corpus scans, four Python boundary crossings, four plan builds and
    # four 40-row query-cohort collect JOBS — ~0.4-0.5 s of fixed cost
    # per pass at every scale. cosine_top1_prefix_dims collects the
    # cohort once, slices it driver-side (v[:d] IS F.slice(v, 1, d)),
    # and scores every variant from one Arrow batch stream; per-variant
    # semantics are pinned equal to independent knn passes by test.
    qrows = [
        (r["vec_id"], r["embedding"])
        for r in q.select("vec_id", "embedding").collect()
    ]
    fused = cosine_top1_prefix_dims(
        c, q, "vec_id", "embedding", dims=[*dims, None],
        threshold=-2.0, query_rows=qrows,
    )
    # pivot to one row per query, then compare each truncated top-1 to
    # the full-space top-1 — equivalent to the per-pass inner join on
    # qid because k=1 makes (d, query_id) unique; the null filter
    # reproduces the inner join's both-sides-present requirement
    per_q = fused.groupBy("query_id").agg(
        F.max(F.when(F.col("d") == -1, F.col("cand_id"))).alias("__full"),
        *[
            F.max(F.when(F.col("d") == d, F.col("cand_id"))).alias(f"__c{d}")
            for d in dims
        ],
    )
    agree = (
        per_q.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.when(
                                F.col(f"__c{d}").isNotNull()
                                & F.col("__full").isNotNull(),
                                (F.col(f"__c{d}") == F.col("__full")).cast("double"),
                            ).alias("m"),
                        )
                        for d in dims
                    ]
                )
            ).alias("__x")
        )
        .select("__x.d", "__x.m")
        .filter(F.col("m").isNotNull())
        .groupBy("d")
        .agg(
            F.count("*").alias("n_queries"),
            F.round(F.avg("m"), 6).alias("top1_agree"),
        )
    )
    return energy.join(agree, "d").orderBy("d")


# ---------------------------------------------------------------------------
# Weighted / importance sampling (round-11 wave 2)
# ---------------------------------------------------------------------------


@query(
    "sample_weighted_tokens",
    oracle="""
    WITH w AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
        FROM documents
    ),
    scored AS (
        SELECT doc_id, source, n_tokens,
               ln((('0x' || substr(md5(doc_id || ':42'), 1, 8))::BIGINT + 1.0)
                  / 4294967296.0) / n_tokens AS es
        FROM w WHERE n_tokens > 0
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(es, 6) AS es_key
    FROM scored
    ORDER BY es DESC, doc_id
    LIMIT 50
    """,
)
def sample_weighted_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget subsampling: draw 50 documents WITHOUT replacement with
    inclusion probability proportional to token count (long documents carry
    more of the training token budget, so a uniform doc sample under-weights
    them). Efraimidis-Spirakis A-ES via operators/sampling.weighted_sample —
    rank by ln(u)/w with u a pure md5 function of (doc_id, seed), so the
    sample is reproducible under any partitioning and the DuckDB twin
    computes the identical ranking key. Plan: map-only scoring +
    TakeOrderedAndProject — zero shuffles."""
    from science_datalake_spark.operators.sampling import weighted_sample

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        # token COUNT without materializing the token array:
        # regexp_count(separators)+1 == size(split(...)) for any input
        # (empty text: trim -> '' -> 0 separators -> 1, matching split's
        # single empty token)
        .withColumn(
            "n_tokens", F.regexp_count(F.trim(F.col("text")), F.lit(r"\s+")) + 1
        )
    )
    kept = weighted_sample(d, 50, "doc_id", "n_tokens", seed=42, es_col="__es")
    # final order on the UNROUNDED key (same key the oracle's ORDER BY es
    # resolves to and the same key the limit-50 cut used) — ordering on the
    # 6-dp rounded output column would diverge from the oracle on a
    # rounded-key tie straddling the order boundary
    return (
        kept.orderBy(F.desc("__es"), "doc_id")
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round("__es", 6).alias("es_key"),
        )
    )


@query(
    "corpus_dsir_sample",
    oracle="""
    WITH rawdocs AS (SELECT doc_id, text FROM documents WHERE lang <> 'en'),
    tgt AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
    rtoks AS (
        SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS b
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
              FROM rawdocs)
    ),
    ttoks AS (
        SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS b
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
              FROM tgt)
    ),
    tc AS (SELECT b, count(*) AS ct FROM ttoks GROUP BY b),
    rc AS (SELECT b, count(*) AS cr FROM rtoks GROUP BY b),
    tot AS (SELECT (SELECT sum(ct) FROM tc) AS t_total,
                   (SELECT sum(cr) FROM rc) AS r_total),
    ratio AS (
        SELECT coalesce(tc.b, rc.b) AS b,
               ln(CAST(coalesce(ct, 0) AS DOUBLE) + 0.5)
                 - ln(CAST(t_total AS DOUBLE) + 512.0)
                 - ln(CAST(coalesce(cr, 0) AS DOUBLE) + 0.5)
                 + ln(CAST(r_total AS DOUBLE) + 512.0) AS lr
        FROM tc FULL OUTER JOIN rc ON tc.b = rc.b CROSS JOIN tot
    ),
    w AS (
        SELECT t.doc_id, count(*) AS n_tokens, sum(lr) AS log_weight
        FROM rtoks t JOIN ratio USING (b) GROUP BY t.doc_id
    ),
    g AS (
        SELECT doc_id, n_tokens, log_weight,
               log_weight + (-ln(-ln(
                   (('0x' || substr(md5(doc_id || ':g42'), 1, 8))::BIGINT + 0.5)
                   / 4294967296.0))) AS score
        FROM w
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(log_weight, 6) AS log_weight, ROUND(score, 6) AS score
    FROM g
    -- qualified g.score: the UNROUNDED source column (the bare name would
    -- resolve to the rounded output alias), matching the Spark cut key
    ORDER BY g.score DESC, doc_id
    LIMIT 20
    """,
)
def corpus_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023) over the documents table: target distribution = English docs,
    raw pool = everything else; hashed-unigram (1024-bucket) importance
    weights log p_target/p_raw per document; Gumbel top-k draws 20 docs
    WITHOUT replacement from softmax(log_weight). This is the standard
    published recipe for matching a pretraining mixture to a high-quality
    target corpus. Scale shape (operators/dsir.py): both feature
    distributions aggregate to <=1024 rows (map-side combined), the ratio
    relation is broadcast onto the token stream, and the only data-sized
    shuffle is the per-doc sum. The DuckDB twin replays the identical
    md5 bucket hash, four-term smoothed log ratio, and md5-keyed Gumbel
    noise."""
    from science_datalake_spark.operators.dsir import dsir_sample

    docs = table(spark, sf_dir, "documents")
    raw = docs.filter(F.col("lang") != "en").select("doc_id", "text")
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    out = dsir_sample(
        raw, target, "doc_id", "text", n=20, num_buckets=1024, alpha=0.5, seed=42
    )
    # order on the UNROUNDED score (the key the limit-20 cut used and the
    # key the oracle's qualified g.score ORDER BY references) BEFORE the
    # rounding projection — see sample_weighted_tokens for the tie hazard
    return out.orderBy(F.desc("score"), "doc_id").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("log_weight", 6).alias("log_weight"),
        F.round("score", 6).alias("score"),
    )


@query(
    "search_hybrid_rrf",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ),
    postings AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    doclen AS (SELECT doc_id, len({_WORDS}) AS dl FROM documents),
    consts AS (SELECT (SELECT count(*) FROM documents) AS n,
                      (SELECT avg(dl) FROM doclen) AS avgdl,
                      (SELECT sum(dl) FROM doclen) AS total),
    q AS (SELECT * FROM postings WHERE term IN ('spark', 'table', 'merge')),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM q GROUP BY term),
    idf AS (SELECT term, ln((n - df + 0.5) / (df + 0.5) + 1.0) AS idf FROM dfreq, consts),
    bmscored AS (
        SELECT q.doc_id,
               idf.idf * (q.tf * 2.2) /
                   (q.tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS ts
        FROM q JOIN idf USING (term) JOIN doclen USING (doc_id), consts
    ),
    bm AS (
        SELECT doc_id, CAST(round(sum(ts), 4) AS DOUBLE) AS bm25
        FROM bmscored GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT 50
    ),
    pq AS (
        SELECT term, CAST(sum(tf) AS DOUBLE) / total AS pq
        FROM q, consts GROUP BY term, total
    ),
    grid AS (
        SELECT c.doc_id, p.term, p.pq
        FROM (SELECT DISTINCT doc_id FROM q) c CROSS JOIN pq p
    ),
    qlsc AS (
        SELECT g.doc_id,
               ln((coalesce(q2.tf, 0) + 100.0 * g.pq) / (dl + 100.0)) AS s
        FROM grid g
        LEFT JOIN q q2 ON q2.doc_id = g.doc_id AND q2.term = g.term
        JOIN doclen ON doclen.doc_id = g.doc_id
    ),
    ql AS (
        SELECT doc_id, CAST(round(sum(s), 4) AS DOUBLE) AS ql
        FROM qlsc GROUP BY doc_id
        ORDER BY ql DESC, doc_id LIMIT 50
    ),
    bmr AS (SELECT doc_id, bm25,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM bm),
    qlr AS (SELECT doc_id, ql,
                   row_number() OVER (ORDER BY ql DESC, doc_id) AS r FROM ql),
    fused AS (
        SELECT coalesce(b.doc_id, l.doc_id) AS doc_id, b.bm25, l.ql,
               coalesce(1.0 / (60 + b.r), 0.0) + coalesce(1.0 / (60 + l.r), 0.0) AS rrf
        FROM bmr b FULL OUTER JOIN qlr l ON b.doc_id = l.doc_id
    )
    SELECT doc_id, ROUND(rrf, 6) AS rrf, bm25, ql
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009):
    BM25 and Dirichlet-smoothed query-likelihood LM (Zhai & Lafferty 2001)
    each rank the corpus for a 3-term query, each ranking is cut to its
    top-50 (TakeOrderedAndProject — the scale-safe cut), and the fused
    score rrf(d) = Σ 1/(60 + rank) re-ranks the union. This is the
    standard lexical hybrid every production search stack runs; both legs
    share ONE postings relation. Ranks are taken over the 4-dp-rounded
    scores so the cross-engine rank order is exact, and the fused
    contributions 1/(60+r) are dyadic-exact doubles."""
    from pyspark.storagelevel import StorageLevel

    from science_datalake_spark.operators.ranking import (
        bm25_scores,
        doc_lengths,
        ql_scores,
        rrf_fuse,
        term_postings,
    )

    terms = ["spark", "table", "merge"]
    d = table(spark, sf_dir, "documents")
    # Tokenize/measure the corpus ONCE for both legs (the oracle gets this
    # for free: DuckDB materializes its twice-referenced postings/doclen
    # CTEs). The filtered postings relation is skinny (only query-term
    # matches survive — Catalyst pushes the isin below the tf groupBy);
    # doclen is (id, int).
    q_post = term_postings(d, "doc_id", "text").filter(
        F.col("term").isin(*terms)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    doclen = doc_lengths(d, "doc_id", "text").persist(StorageLevel.MEMORY_AND_DISK)
    bm = bm25_scores(
        d, "doc_id", "text", terms, postings=q_post, doclen=doclen
    ).orderBy(F.desc("bm25"), "doc_id").limit(50)
    ql = ql_scores(
        d, "doc_id", "text", terms, postings=q_post, doclen=doclen
    ).orderBy(F.desc("ql"), "doc_id").limit(50)
    fused = rrf_fuse([(bm, "bm25"), (ql, "ql")], "doc_id", k=60)
    return (
        fused.select("doc_id", F.round("rrf", 6).alias("rrf"), "bm25", "ql")
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(10)
    )


@query(
    "mine_hard_negatives",
    oracle="""
    WITH qdocs AS (
        SELECT doc_id AS qid,
               list_slice(regexp_split_to_array(trim(lower(text)), '\\s+'),
                          1, 5) AS qwords
        FROM documents WHERE doc_id % 25 = 0 AND doc_id < 5000
    ),
    qterms AS (
        SELECT DISTINCT qid, w AS term
        FROM (SELECT qid, unnest(qwords) AS w FROM qdocs)
    ),
    toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ),
    postings AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    doclen AS (
        SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS dl
        FROM documents
    ),
    consts AS (SELECT (SELECT count(*) FROM documents) AS n,
                      (SELECT avg(dl) FROM doclen) AS avgdl),
    q AS (
        SELECT p.* FROM postings p
        WHERE p.term IN (SELECT DISTINCT term FROM qterms)
    ),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM q GROUP BY term),
    idf AS (SELECT term, ln((n - df + 0.5) / (df + 0.5) + 1.0) AS idf
            FROM dfreq, consts),
    scored AS (
        SELECT qt.qid, q.doc_id,
               idf.idf * (q.tf * 2.2) /
                   (q.tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS ts
        FROM q
        JOIN qterms qt USING (term)
        JOIN idf USING (term)
        JOIN doclen USING (doc_id), consts
    ),
    agg AS (
        SELECT qid, doc_id, CAST(round(sum(ts), 4) AS DOUBLE) AS bm25
        FROM scored GROUP BY qid, doc_id
    ),
    negs AS (
        SELECT qid, doc_id, bm25,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY bm25 DESC, doc_id) AS neg_rank
        FROM agg WHERE doc_id <> qid
    )
    SELECT qid, CAST(neg_rank AS INTEGER) AS neg_rank, doc_id, bm25
    FROM negs WHERE neg_rank <= 3
    ORDER BY qid, neg_rank
    """,
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for embedding-model training data via the
    inverse-cloze construction (Lee et al. 2019): each sampled document's
    leading tokens act as its query; the corpus documents that score
    highest on BM25 for that query WITHOUT being the source document are
    its hard negatives — lexically confusable, semantically wrong, the
    pairs a bi-encoder learns the most from. Top-3 negatives per query.

    Scale shape: ranking.bm25_batch_scores scores EVERY query in one
    plan — one postings shuffle, query-sized broadcasts, one (qid, doc)
    aggregate — instead of a per-query loop; the per-qid rank window
    partitions by query. The query population is a FIXED workload
    (doc_id % 25 within the base id range): query traffic does not grow
    with corpus size, while every query's candidate set does — the shape
    that makes batch scoring matter. (At true scale the next lever is
    impact-ordered posting pruning per query — WAND — before the
    aggregate; not needed at these SFs.)"""
    from science_datalake_spark.operators.ranking import bm25_batch_scores

    d = table(spark, sf_dir, "documents")
    qdocs = d.filter((F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 5000)).select(
        F.col("doc_id").alias("qid"),
        F.slice(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), 1, 5).alias("__qw"),
    )
    qterms = qdocs.select("qid", F.explode("__qw").alias("term"))
    scores = bm25_batch_scores(d, "doc_id", "text", qterms, "qid", "term")
    w = Window.partitionBy("qid").orderBy(F.desc("bm25"), "doc_id")
    negs = (
        scores.filter(F.col("doc_id") != F.col("qid"))
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 3)
    )
    return negs.select("qid", "neg_rank", "doc_id", "bm25").orderBy("qid", "neg_rank")


@query(
    "sample_weighted_per_lang",
    oracle="""
    WITH w AS (
        SELECT doc_id, lang,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, n_tokens,
               ln((('0x' || substr(md5(doc_id || ':42'), 1, 8))::BIGINT + 1.0)
                  / 4294967296.0) / n_tokens AS es
        FROM w WHERE n_tokens > 0
    ),
    ranked AS (
        SELECT doc_id, lang, n_tokens, es,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY es DESC, doc_id) AS rn
        FROM scored
    )
    SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(es, 6) AS es_key
    FROM ranked WHERE rn <= 5
    ORDER BY lang, doc_id
    """,
)
def sample_weighted_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced-corpus sampling: exactly 5 documents PER LANGUAGE, each
    language's draw weighted by token count (sampling.
    weighted_stratified_sample — per-stratum A-ES without replacement).
    The design every multilingual data recipe needs: fixed per-language
    quotas so high-resource languages can't crowd out the tail, while
    long documents within a language are still drawn proportionally to
    their token mass. One stratum-partitioned window — no task sees more
    than a language."""
    from science_datalake_spark.operators.sampling import weighted_stratified_sample

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .withColumn(
            "n_tokens", F.regexp_count(F.trim(F.col("text")), F.lit(r"\s+")) + 1
        )
    )
    kept = weighted_stratified_sample(
        d, "lang", 5, "doc_id", "n_tokens", seed=42, es_col="__es"
    )
    return kept.select(
        "lang",
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("__es", 6).alias("es_key"),
    ).orderBy("lang", "doc_id")


# ---------------------------------------------------------------------------
# Late-interaction retrieval (round 12)
# ---------------------------------------------------------------------------


@query(
    "sim_late_interaction",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
    d AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS dv
          FROM embeddings WHERE vec_id >= 8),
    dp AS (
        SELECT query_id, doc_id, gi.i AS i,
               list_dot_product(qv[(gi.i*16+1):(gi.i*16+16)],
                                dv[(gj.j*16+1):(gj.j*16+16)]) AS p
        FROM q, d, generate_series(0, 3) gi(i), generate_series(0, 3) gj(j)
    ),
    mx AS (
        SELECT query_id, doc_id,
               max(CASE WHEN i = 0 THEN p END) AS m0,
               max(CASE WHEN i = 1 THEN p END) AS m1,
               max(CASE WHEN i = 2 THEN p END) AS m2,
               max(CASE WHEN i = 3 THEN p END) AS m3
        FROM dp GROUP BY query_id, doc_id
    ),
    -- round BEFORE ranking: the agreement point between the BLAS engine,
    -- the HOF twin, and this oracle (all three rank on the 6-dp value)
    sc AS (SELECT query_id, doc_id,
                  round(((m0 + m1) + m2) + m3, 6) AS score FROM mx),
    best AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM sc
    )
    SELECT query_id, doc_id, CAST(rank AS INTEGER) AS rank,
           CAST(score AS DOUBLE) AS score
    FROM best WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def sim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (MaxSim — Khattab &
    Zaharia, SIGIR 2020): each embedding row is treated as FOUR token
    vectors of dim 16 stored flat (the multi-vector storage layout —
    one fixed-width array column, no per-token rows); score(q, d) =
    Σ_i max_j <q_i, d_j>; top-5 docs per query for an 8-query batch.
    The token-level interaction that pooled single-vector cosine
    averages away — the retrieval tier between sim_cosine_topk (pooled)
    and search_hybrid_rrf (lexical+LM). Plan
    (operators/similarity.late_interaction_topk): queries broadcast,
    ONE map-only pass over the corpus computes MaxSim in-row with array
    HOFs (the per-token max is order-free; the query-token sum is an
    explicit left-associated chain the DuckDB twin replays bit-for-bit),
    then the shared per-key top-k window. Only scored (query, doc) pairs
    ever shuffle — never the corpus."""
    from science_datalake_spark.operators.similarity import late_interaction_topk

    e = table(spark, sf_dir, "embeddings")
    out = late_interaction_topk(
        e.filter(F.col("vec_id") >= 8),
        e.filter(F.col("vec_id") < 8),
        "vec_id",
        "embedding",
        num_tokens=4,
        k=5,
    )
    return out.select(
        "query_id",
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("score", 6).alias("score"),
    ).orderBy("query_id", "rank")

@query(
    "sim_late_interaction_masked",
    # rotated INTO the driver on arrival (round 13) for its first rows,
    # resting sim_ivf_topk — same-round additions get rows immediately
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
    d AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS dv,
                 1 + vec_id % 4 AS n_tok
          FROM embeddings WHERE vec_id >= 8),
    dp AS (
        SELECT query_id, doc_id, gi.i AS i,
               list_dot_product(qv[(gi.i*16+1):(gi.i*16+16)],
                                dv[(gj.j*16+1):(gj.j*16+16)]) AS p
        FROM q, d, generate_series(0, 3) gi(i), generate_series(0, 3) gj(j)
        WHERE gj.j < d.n_tok
    ),
    mx AS (
        SELECT query_id, doc_id,
               max(CASE WHEN i = 0 THEN p END) AS m0,
               max(CASE WHEN i = 1 THEN p END) AS m1,
               max(CASE WHEN i = 2 THEN p END) AS m2,
               max(CASE WHEN i = 3 THEN p END) AS m3
        FROM dp GROUP BY query_id, doc_id
    ),
    sc AS (SELECT query_id, doc_id,
                  round(((m0 + m1) + m2) + m3, 6) AS score FROM mx),
    best AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM sc
    )
    SELECT query_id, doc_id, CAST(rank AS INTEGER) AS rank,
           CAST(score AS DOUBLE) AS score
    FROM best WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def sim_late_interaction_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_late_interaction's RAGGED sibling (round-13 verdict #4): real
    ColBERT corpora pad documents shorter than the fixed token budget, and
    an unmasked pad token wrongly wins the per-query-token max whenever
    every real dot product is negative. Here each doc declares
    ``1 + vec_id % 4`` real tokens of its 4 stored slots
    (``num_tokens_col`` on late_interaction_topk), so padding slots are
    excluded from MaxSim on the BLAS engine and the DuckDB twin replays
    the same mask with a correlated generate_series bound. Same plan
    shape as the unmasked driver query: queries broadcast, one map-only
    corpus pass, only scored pairs shuffle."""
    from science_datalake_spark.operators.similarity import late_interaction_topk

    e = table(spark, sf_dir, "embeddings")
    docs = e.filter(F.col("vec_id") >= 8).withColumn(
        "n_tok", (F.lit(1) + F.col("vec_id") % 4).cast("int")
    )
    out = late_interaction_topk(
        docs,
        e.filter(F.col("vec_id") < 8),
        "vec_id",
        "embedding",
        num_tokens=4,
        k=5,
        num_tokens_col="n_tok",
    )
    return out.select(
        "query_id",
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("score", 6).alias("score"),
    ).orderBy("query_id", "rank")

@query(
    "eval_quality_auc",
    # rotated INTO the driver on arrival (round 13), resting
    # events_sessionize — same-round additions get rows immediately
    oracle=f"""
    WITH scored AS (
        SELECT source,
               {_QUALITY_SQL} AS q,
               CASE WHEN lang IS NULL THEN NULL
                    WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    h AS (
        SELECT source, q, count(*) AS n, sum(y) AS p
        FROM scored WHERE q IS NOT NULL AND y IS NOT NULL
        GROUP BY source, q
    ),
    r AS (
        SELECT source, q, n, p,
               coalesce(sum(n) OVER (PARTITION BY source ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (n + 1) / 2.0 AS mid
        FROM h
    ),
    a AS (
        SELECT source, sum(p) AS n_pos, sum(n) - sum(p) AS n_neg,
               sum(p * mid) AS rs
        FROM r GROUP BY source
    )
    SELECT source,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           -- floor-form 6-dp round, NOT round(): AUC = integer/(n_pos*n_neg)
           -- is not dyadic, and Spark/DuckDB round() can disagree on values
           -- landing on the .5 grid (calibration_report determinism design)
           CAST(floor(CASE WHEN n_pos > 0 AND n_neg > 0
                THEN (rs - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
                END * 1e6 + 0.5) / 1e6 AS DOUBLE) AS auc
    FROM a ORDER BY source
    """,
)
def eval_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC-AUC of the heuristic quality score as an
    English-detector (evaluation.group_auc — tie-aware Mann-Whitney over
    midranks): the scorer-audit primitive a training pipeline runs on
    every quality/filter model against held-out labels, threshold-free
    where the reference's alignment evaluator sweeps thresholds
    (evaluate_ontology_alignment.py:216-430). The stopword term makes
    quality_score genuinely English-discriminative, so the fixture AUC
    is informative, not degenerate. Plan: one corpus scan into a
    bounded (source, score) histogram (scores are 4-dp rounded by
    construction), midranks via a running count over histogram rows,
    one algebraic rollup — no corpus-sized window, two bounded
    shuffles. The twin replays the identical midrank arithmetic; every
    intermediate is a dyadic rational (counts and halves), so the
    engines agree bit-for-bit before the final 6-dp round."""
    from science_datalake_spark.evaluation import group_auc
    from science_datalake_spark.operators.textops import with_quality_score

    d = table(spark, sf_dir, "documents")
    labeled = with_quality_score(d, "text", "q").select(
        "source",
        "q",
        F.when(F.col("lang").isNull(), F.lit(None).cast("int"))
        .when(F.col("lang") == "en", 1)
        .otherwise(0)
        .alias("y"),
    )
    out = group_auc(labeled, ["source"], "q", "y")
    return out.select(
        "source",
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        # floor-form round on both engines — F.round vs DuckDB round() can
        # split on the 6-dp .5 grid for the non-dyadic AUC ratio (r13 advice)
        (F.floor(F.col("auc") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "auc"
        ),
    ).orderBy("source")

@query(
    "eval_quality_calibration",
    # rotated INTO the driver on arrival (round 13), resting
    # text_bigram_logprob — same-round additions get rows immediately
    oracle=f"""
    WITH scored AS (
        SELECT source,
               {_QUALITY_SQL} AS q,
               CASE WHEN lang IS NULL THEN NULL
                    WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    base AS (
        -- probabilities quantized to the 1/10000 integer grid: every
        -- metric numerator below is a SUM OF INTEGERS (aggregation-order
        -- independent), matching calibration_report's determinism design
        SELECT source,
               least(CAST(floor(q * 10) AS INTEGER), 9) AS b,
               CAST(round(q * 10000) AS BIGINT) AS pi,
               CAST(y AS BIGINT) * 10000 AS yi
        FROM scored WHERE q IS NOT NULL AND y IS NOT NULL
    ),
    bins AS (
        SELECT source, b, count(*) AS n,
               abs(sum(yi) - sum(pi)) AS gap_num,
               sum((pi - yi) * (pi - yi)) AS se_num
        FROM base GROUP BY source, b
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n,
           -- floor(x*1e4 + 0.5)/1e4 everywhere, NOT round(): the same
           -- IEEE ops as the Spark side (round() semantics differ
           -- between engines on .5-crossing products)
           CAST(floor(CAST(sum(gap_num) AS DOUBLE)
                      / (sum(n) * 10000.0) * 10000.0 + 0.5) / 10000.0
                AS DOUBLE) AS ece,
           CAST(floor(max(CAST(gap_num AS DOUBLE) / n) / 10000.0 * 10000.0
                      + 0.5) / 10000.0 AS DOUBLE) AS max_gap,
           CAST(floor(CAST(sum(se_num) AS DOUBLE)
                      / (sum(n) * 10000.0 * 10000.0) * 10000.0 + 0.5)
                / 10000.0 AS DOUBLE) AS brier
    FROM bins GROUP BY source ORDER BY source
    """,
)
def eval_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source calibration audit of the heuristic quality score
    against the English label (evaluation.calibration_report): ECE over
    10 equal-width reliability bins, worst-bin gap, and the Brier score
    — group_auc's companion (AUC says the scorer RANKS well; this says
    whether its VALUES mean what they claim — the pair a training
    pipeline runs on every quality/filter model). One map-side
    aggregation to |sources| x 10 bin rows plus a rollup; no windows, no
    corpus-sized shuffle, one corpus scan. The DuckDB twin replays the
    identical bin arithmetic on the same 4-dp-rounded score."""
    from science_datalake_spark.evaluation import calibration_report
    from science_datalake_spark.operators.textops import with_quality_score

    d = table(spark, sf_dir, "documents")
    labeled = with_quality_score(d, "text", "q").select(
        "source",
        "q",
        F.when(F.col("lang").isNull(), F.lit(None).cast("int"))
        .when(F.col("lang") == "en", 1)
        .otherwise(0)
        .alias("y"),
    )
    return calibration_report(labeled, ["source"], "q", "y", n_bins=10).orderBy(
        "source"
    )
