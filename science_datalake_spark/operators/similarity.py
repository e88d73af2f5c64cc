"""Similarity search over embedding columns (ARRAY<FLOAT>).

Three tiers (BASELINE.json north star):
- brute-force cosine top-k: broadcast the (small) query set against the
  corpus — exact, linear in corpus size, the correctness baseline. This is
  the same plan as the reference's FAISS IndexFlatIP linkage
  (build_embedding_linkage.py:246-273) re-expressed as a broadcast join.
- sign-LSH bucketed ANN: hyperplane-sign bucket key → co-partitioned join
  on the bucket — each query only scans its bucket.
- IVF (inverted-file) ANN: a coarse quantizer assigns every corpus vector
  to its nearest centroid once (map-only, centroids broadcast); a query
  probes only its ``n_probe`` nearest centroids' posting lists (join
  keyed on bucket). This is the FAISS IVF design as a DataFrame plan —
  recall tunable via n_probe, cost O(|C|·K) once + O(|Q|·probed lists).

Vector math: the ANN tiers (sign-LSH, IVF) stay native Spark SQL
higher-order functions (zip_with + aggregate) over DOUBLE — JVM-side,
bucket-pruned, cheap per probed candidate. The exact operators
(``cosine_topk``, ``late_interaction_topk``, and ``knn_embedding_join``
in linkage.py) score |Q|·|C| pairs, which is precisely the workload
where interpreted lambdas lose to BLAS (~5M element-ops/s vs billions —
the semantic_dedup measurement). Each collects its query side with one
``limit(cap+1)`` job: at or under the cap it runs an Arrow/numpy matmul
against the collected query matrix; over it, the column-expression form
with a lazily broadcast query relation, which needs no driver memory.
Both return the same rows (ARCHITECTURE.md, "tier picked by the capped
collect").
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from science_datalake_spark.cache import cached_over
from science_datalake_spark.operators.windows import top_k_per_key


def as_double_vec(col: str | Column) -> Column:
    """Cast ARRAY<FLOAT> → ARRAY<DOUBLE> for stable, engine-portable math."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    """cos = dot(a,b) / sqrt(dot(a,a) * dot(b,b)) — written exactly in this
    form so the DuckDB oracle (same formula) matches bit-for-bit pre-round."""
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


#: the exact operators' driver cap: ``cosine_topk`` and ``knn_embedding_join``
#: score a query side of at most this many rows on the driver-collected
#: numpy tier and a bigger one on the distributed tier;
#: ``cosine_top1_prefix_dims`` has no distributed tier and raises over it
_COSINE_MAX_QUERY_ROWS = 65536
#: ``late_interaction_topk``'s driver cap (its query matrix holds every
#: token vector of every query)
_LATE_INTERACTION_MAX_QUERY_ROWS = 4096


def _probe_query_side(
    queries: DataFrame, id_col: str, vec_col: str, cap: int
) -> list[tuple]:
    """Up to ``cap + 1`` (id, vector) rows of the query side. This one
    ``limit(cap+1)`` collect both picks the tier (more than ``cap`` rows:
    distributed) and, at or under the cap, is the driver tier's query
    batch, so no probe job is added and the driver never holds more than
    ``cap + 1`` rows."""
    return [
        (r[0], r[1])
        for r in queries.select(id_col, vec_col).limit(cap + 1).collect()
    ]


def _query_width(qrows: list[tuple]) -> int:
    """The vector width both tiers score at: the first non-null probed
    query vector's. A vector of any other width, on either side, scores
    NULL on both tiers (the driver tier's query matrix has this width)."""
    return next((len(v) for _, v in qrows if v is not None), 0)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    exclude_self: bool = True,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries × corpus.

    ``carry_cols``: extra CORPUS columns carried through scoring into the
    output rows (label, url, source, …) — the retrieval-metadata pattern.
    The scan already reads every corpus row, so carrying a column is
    free compared to the alternative: a second full-corpus scan joined
    back onto the top-k ids (the sim_knn_label_vote round-12 profile —
    the labels join re-read the whole corpus to label 100 winners).

    Scale: no shuffle of the corpus at all; the per-query top-k is a
    window over (query_id), which shuffles only (query, candidate, sim)
    triples.

    Two tiers, picked by the size of the query side (eager: building the
    returned DataFrame runs one ``limit(cap+1)`` collect job):

    - at most ``_COSINE_MAX_QUERY_ROWS`` query rows: the driver tier
      streams the corpus through ``mapInPandas``, one BLAS matmul per
      Arrow batch against the collected query matrix, with a per-batch
      partial top-k so the final window sees only ``batches × |Q| × k``
      rows instead of ``|C| × |Q|`` — the partial is safe because each
      candidate's score is batch-independent and the order (sim desc,
      cand_id asc) is total.
    - more: the distributed tier broadcasts the query relation lazily
      and scores each pair with column expressions.

    Both tiers round sims half-away to 4 digits before ranking and give
    NULL, ragged and zero-norm vectors a NULL sim ranked last, so they
    return the same rows; the BLAS summation order can differ from the
    column expressions' in the last ulp, which flips a rounded boundary
    only when a true cosine sits within ~1e-15 of the rounding grid.
    """
    carry = list(carry_cols or [])
    if bad := set(carry) & {"query_id", "cand_id", "sim", id_col, vec_col}:
        raise ValueError(f"carry_cols clash with output/input columns: {bad}")
    qrows = _probe_query_side(queries, id_col, vec_col, _COSINE_MAX_QUERY_ROWS)
    if len(qrows) <= _COSINE_MAX_QUERY_ROWS:
        return _cosine_topk_numpy(
            corpus, queries, qrows, id_col, vec_col, k, exclude_self,
            carry_cols=carry,
        )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"), as_double_vec(vec_col).alias("__cv"), *carry
    )
    pairs = c.join(F.broadcast(q), F.lit(True))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("cand_id"))
    sim = F.round(cosine(F.col("__qv"), F.col("__cv")), 4)
    scored = pairs.select(
        "query_id",
        "cand_id",
        F.when(F.size("__qv") == _query_width(qrows), sim).alias("sim"),
        *carry,
    )
    return top_k_per_key(
        scored, keys=["query_id"], order=[F.desc("sim"), F.asc("cand_id")], k=k
    )


def _cosine_topk_numpy(
    corpus: DataFrame,
    queries: DataFrame,
    qrows: list[tuple],
    id_col: str,
    vec_col: str,
    k: int,
    exclude_self: bool,
    round_digits: int = 4,
    threshold: float | None = None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """The driver tier of cosine_topk and knn_embedding_join (linkage.py —
    which passes ``threshold``): the corpus scored against ``qrows``, the
    collected (id, vector) query batch. ``queries`` gives the output id
    type.

    Semantics replicate the distributed tier row-for-row: sims are rounded
    half-away-from-zero to ``round_digits`` BEFORE ranking; a NULL,
    ragged, or zero-norm vector on either side yields a NULL sim (the
    zip_with-pads-NULL / divide-by-zero-is-NULL behavior of the column
    expressions), which sorts LAST under the (sim desc nulls-last,
    cand_id asc) order yet still earns a rank when a query has fewer
    than k finite candidates — exactly what the window path emits. With
    ``threshold`` set, sub-threshold and NULL sims are dropped instead
    (a SQL ``sim >= t`` filter rejects NULL the same way)."""
    import numpy as np
    import pandas as pd

    from science_datalake_spark.operators.dedup import _round_half_away, _vec_matrix

    q_ids = [t[0] for t in qrows]
    qvecs = [t[1] for t in qrows]
    dim = _query_width(qrows)
    nq = len(qrows)
    qmat = _vec_matrix(pd.Series(qvecs), dim) if nq else None
    qq = (qmat * qmat).sum(axis=1) if nq else None

    carry = list(carry_cols or [])
    qid_t = queries.schema[id_col].dataType.simpleString()
    cid_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_t}, cand_id {cid_t}, sim double"
    for cc in carry:
        out_schema += f", {cc} {corpus.schema[cc].dataType.simpleString()}"

    def scan(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            v = _vec_matrix(pdf[vec_col], dim)
            cids = pdf[id_col].reset_index(drop=True)
            # denominator sqrt(vv*qq) — the SQL/oracle op order, not
            # sqrt(vv)*sqrt(qq) (last-ulp divergence, review finding)
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = (v @ qmat.T) / np.sqrt(
                    (v * v).sum(axis=1, keepdims=True) * qq[None, :]
                )
            sims[~np.isfinite(sims)] = np.nan  # zero-norm / NULL → NULL sim
            sims = _round_half_away(sims, round_digits)
            frames = []
            for j in range(nq):
                col = sims[:, j]
                key = np.where(np.isnan(col), -np.inf, col)
                mask = np.ones(n, dtype=bool)
                if exclude_self:
                    mask = (cids != q_ids[j]).to_numpy()
                if threshold is not None:
                    mask &= key >= threshold  # -inf (NULL sim) never passes
                idx = np.nonzero(mask)[0]
                if idx.size == 0:
                    continue
                kk = min(k, idx.size)
                # boundary-tie-safe partial: keep everything at or above
                # the kth-largest key, then settle ties by the total
                # order (key desc, cand_id asc) — works for string ids
                # where a pure-numpy lexsort would not
                kth = np.partition(key[idx], idx.size - kk)[idx.size - kk]
                sel = idx[key[idx] >= kth]
                tmp = pd.DataFrame(
                    {
                        "query_id": q_ids[j],
                        "cand_id": cids.iloc[sel].to_numpy(),
                        "sim": col[sel],
                        "__key": key[sel],
                    }
                )
                for cc in carry:
                    tmp[cc] = pdf[cc].iloc[sel].reset_index(drop=True)
                frames.append(
                    tmp.sort_values(
                        ["__key", "cand_id"],
                        ascending=[False, True],
                        kind="mergesort",
                    ).head(kk)[["query_id", "cand_id", "sim", *carry]]
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    part = corpus.select(id_col, vec_col, *carry).mapInPandas(scan, out_schema)
    return top_k_per_key(
        part, keys=["query_id"], order=[F.desc("sim"), F.asc("cand_id")], k=k
    )


def cosine_top1_prefix_dims(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dims: list[int | None],
    round_digits: int = 6,
    threshold: float | None = None,
    query_rows: list[tuple] | None = None,
) -> DataFrame:
    """Top-1 cosine retrieval for SEVERAL prefix-truncated variants of one
    query cohort in ONE corpus pass — the matryoshka audit engine.

    Each entry of ``dims`` is a prefix length d (score ``F.slice(vec, 1,
    d)`` on both sides) or ``None`` (score the unsliced vectors). Output:
    ``(d int — the prefix length, -1 for None, query_id, cand_id, sim)``,
    one row per (variant, query) holding the best candidate under
    (sim desc, cand_id asc).

    Per variant the semantics are EXACTLY an independent
    ``_cosine_topk_numpy(k=1)`` call over pre-sliced inputs (pinned by
    test): the query-side matrix width is the first non-null (sliced)
    query vector's length; a corpus row scores only when its (sliced)
    length equals that width — ``min(L, d) == dim_d`` for a slice,
    ``L == dim_full`` for the full pass — otherwise it is a zero row
    whose NaN sim the threshold drops (the ``_vec_matrix`` NULL/ragged
    contract). Rounding is half-away before ranking, partial top-1 per
    batch, global window merge per (d, query_id).

    Why it exists (round-14, guide §1.2 "fewer passes"): N independent
    engine calls are N corpus scans, N Python boundary crossings and N
    plan-construction rounds for one decision; here the corpus parquet
    is read once, each Arrow batch is sliced as numpy views, and the
    merge is one window instead of N.

    ``query_rows``: the query side as pre-collected (id, vector) pairs,
    for a caller that already holds its cohort on the driver; ``queries``
    then gives only the output id type. There is no distributed tier:
    a query side of more than ``_COSINE_MAX_QUERY_ROWS`` rows, collected
    here or passed in, raises."""
    import numpy as np
    import pandas as pd

    from science_datalake_spark.operators.dedup import _round_half_away, _vec_matrix

    qpairs = query_rows
    if qpairs is None:
        qpairs = _probe_query_side(queries, id_col, vec_col, _COSINE_MAX_QUERY_ROWS)
    if len(qpairs) > _COSINE_MAX_QUERY_ROWS:
        raise ValueError(
            f"cosine_top1_prefix_dims collects the query side to the driver, "
            f"but it exceeds {_COSINE_MAX_QUERY_ROWS} rows"
        )
    q_ids = [t[0] for t in qpairs]
    nq = len(qpairs)

    # Per-variant query matrices, built from driver-side slices exactly as
    # the per-pass engine would see them.
    variants = []  # (tag, dim_d, is_full, d, qmat, qq)
    for d in dims:
        if d is None:
            qvecs = [t[1] for t in qpairs]
        else:
            qvecs = [t[1][:d] if t[1] is not None else None for t in qpairs]
        dim_d = next((len(v) for v in qvecs if v is not None), 0)
        qmat = _vec_matrix(pd.Series(qvecs), dim_d) if nq else None
        qq = (qmat * qmat).sum(axis=1) if nq else None
        variants.append((-1 if d is None else d, dim_d, d is None, d, qmat, qq))

    width = max((v[1] for v in variants), default=0)
    qid_t = queries.schema[id_col].dataType.simpleString()
    cid_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"d int, query_id {qid_t}, cand_id {cid_t}, sim double"

    def scan(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            vals = pdf[vec_col].tolist()
            lengths = np.fromiter(
                (0 if v is None else len(v) for v in vals), dtype=np.int64, count=n
            )
            isnull = np.fromiter(
                (v is None for v in vals), dtype=bool, count=n
            )
            # raw value matrix: first min(L, width) coords per row; validity
            # is applied PER VARIANT below (zeroing the rows whose sliced
            # length would not match that variant's matrix width)
            m_big = np.zeros((n, width), dtype=np.float64)
            for i, v in enumerate(vals):
                if v is not None:
                    L = min(len(v), width)
                    if L:
                        m_big[i, :L] = v[:L]
            cids = pdf[id_col].reset_index(drop=True)
            frames = []
            for tag, dim_d, is_full, d, qmat, qq in variants:
                if is_full:
                    valid = (~isnull) & (lengths == dim_d)
                else:
                    valid = (~isnull) & (np.minimum(lengths, d) == dim_d)
                v = m_big[:, :dim_d].copy()
                v[~valid] = 0.0
                with np.errstate(invalid="ignore", divide="ignore"):
                    sims = (v @ qmat.T) / np.sqrt(
                        (v * v).sum(axis=1, keepdims=True) * qq[None, :]
                    )
                sims[~np.isfinite(sims)] = np.nan
                sims = _round_half_away(sims, round_digits)
                for j in range(nq):
                    col = sims[:, j]
                    key = np.where(np.isnan(col), -np.inf, col)
                    mask = np.ones(n, dtype=bool)
                    if threshold is not None:
                        mask &= key >= threshold
                    idx = np.nonzero(mask)[0]
                    if idx.size == 0:
                        continue
                    kth = np.partition(key[idx], idx.size - 1)[idx.size - 1]
                    sel = idx[key[idx] >= kth]
                    tmp = pd.DataFrame(
                        {
                            "d": tag,
                            "query_id": q_ids[j],
                            "cand_id": cids.iloc[sel].to_numpy(),
                            "sim": col[sel],
                            "__key": key[sel],
                        }
                    )
                    frames.append(
                        tmp.sort_values(
                            ["__key", "cand_id"],
                            ascending=[False, True],
                            kind="mergesort",
                        ).head(1)[["d", "query_id", "cand_id", "sim"]]
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    part = corpus.select(id_col, vec_col).mapInPandas(scan, out_schema)
    return top_k_per_key(
        part, keys=["d", "query_id"], order=[F.desc("sim"), F.asc("cand_id")], k=1
    ).drop("rank")


def sign_bucket(vec: Column, dims: int = 6) -> Column:
    """Hyperplane-sign LSH bucket key: the sign pattern of the first
    ``dims`` coordinates (axis-aligned hyperplanes — deterministic and
    engine-portable; random hyperplanes would be a broadcast matrix)."""
    chars = [
        F.when(F.element_at(vec, i) > 0, "1").otherwise("0") for i in range(1, dims + 1)
    ]
    return F.concat(*chars)


def exemplar_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Deterministic coarse-quantizer codebook: the ``k`` corpus vectors
    with the smallest ids, as (cent_id, cent_vec).

    Exemplar seeding (k-medoid-style, no iteration) keeps the codebook a
    pure function of the data — reproducible across engines, so the
    DuckDB oracle derives the identical codebook with ORDER BY id LIMIT k.
    A production build would swap in Spark ML KMeans centroids (or a
    hash-sampled exemplar set); every downstream plan is unchanged —
    centroids are just a small broadcast relation.

    The k rows are collected and rebuilt as a driver-local relation: the
    codebook is consumed by TWO broadcasts (assignment + probing), and
    left lazy each would re-run the corpus-wide TakeOrdered scan."""
    cents = (
        corpus.select(F.col(id_col).alias("cent_id"), as_double_vec(vec_col).alias("cent_vec"))
        .orderBy("cent_id")
        .limit(k)
    )
    from science_datalake_spark.util import local_df

    rows = [(r["cent_id"], list(r["cent_vec"])) for r in cents.collect()]
    return local_df(corpus.sparkSession, rows, cents.schema)


def ivf_assign(
    corpus: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (highest cosine,
    cent_id tie-break): the one-time IVF index build. TRULY map-only: the
    k centroids are collected (they are a k-row codebook by contract) and
    inlined as array literals, so the argmax is a pure projection —
    ``least`` over per-centroid (-sim, cent_id) structs. The previous
    formulation cross-joined corpus×centroids and ranked with a window,
    which hash-shuffled every (vector, centroid-vector) pair — ~80 MB of
    shuffle for a 5k×16 toy assignment, and corpus×k×vec_bytes at scale;
    this form shuffles NOTHING (measured 0.75 s → 0.18 s at sf0.1).

    Engine-parity arithmetic is preserved operation-for-operation: sim =
    round(dot(v,c) / sqrt(dot(v,v) * dot(c,c)), 6) with dot(c,c) folded
    to a python-float constant (same sequential summation order as the
    SQL aggregate), and rounded BEFORE ranking so ties break identically
    across engines; a signed-zero normalization keeps -0.0 == 0.0 ties
    tied, as SQL comparison would. Output (id, vec, bucket) would be
    written bucketed/partitioned by ``bucket`` at scale so probes prune
    files."""
    rows = centroids.select("cent_id", "cent_vec").collect()
    # a NULL centroid vector can never win an assignment (the window
    # formulation ranked its NULL sim last) — drop it at build time
    rows = [r for r in rows if r["cent_vec"] is not None]
    if not rows:
        raise ValueError("ivf_assign needs a non-empty centroid codebook")
    # The codebook rides as ONE ROW — array<struct<i,cc,v>> — broadcast
    # into the projection via a 1-row cross join. Alternatives measured
    # and rejected: per-centroid array LITERALS build a k×dim-node
    # expression tree Catalyst spent ~1.4 s analyzing (the synth_doi
    # lesson), and a from_json literal is NOT constant-foldable, so it
    # re-parsed the codebook PER ROW. The join replicates a pointer.
    # cc = dot(c,c) is folded to a python-float constant with the same
    # sequential summation order as the SQL aggregate.
    book = [
        (
            [
                (
                    r["cent_id"],
                    sum(float(x) * float(x) for x in r["cent_vec"]),
                    [float(x) for x in r["cent_vec"]],
                )
                for r in rows
            ],
        )
    ]
    book_df = centroids.sparkSession.createDataFrame(
        book, "__codebook array<struct<i:bigint,cc:double,v:array<double>>>"
    )
    c = corpus.select(F.col(id_col), as_double_vec(vec_col).alias("__v")).crossJoin(
        F.broadcast(book_df)
    )
    vv = dot(F.col("__v"), F.col("__v"))

    def score(cent):
        s = F.round(dot(F.col("__v"), cent["v"]) / F.sqrt(vv * cent["cc"]), 6)
        s = F.when(s == 0.0, F.lit(0.0)).otherwise(s)  # fold -0.0 into 0.0
        # NULL sim (NULL input vector / zero-norm division under non-ANSI)
        # must sort LAST like the window path's desc-nulls-last — a bare
        # NULL struct field sorts FIRST under array_min and a degenerate
        # centroid would capture the whole corpus (review finding); NaN
        # needs no guard (it already sorts greatest)
        ns = F.coalesce(-s, F.lit(float("inf")))
        return F.struct(ns.alias("ns"), cent["i"].alias("cent_id"))

    best = F.array_min(F.transform(F.col("__codebook"), score))
    return c.select(
        id_col, F.col("__v").alias("vec"), best["cent_id"].alias("bucket")
    )


def ivf_index(
    corpus: DataFrame, id_col: str, vec_col: str, k: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Build (centroids, assigned) — the IVF index — ONCE per corpus.

    The index build (codebook + corpus-wide nearest-centroid assignment)
    is the expensive, amortizable half of IVF: FAISS builds it once and
    serves millions of probes against it. At 100 TB the build is a batch
    job whose output is written as a table partitioned/bucketed by
    ``bucket`` (so probes prune files); here it is a persisted, eagerly
    materialized ``assigned`` frame in the session-cache registry
    (``cache.cached_over``: keyed by the corpus plan — every filter baked
    into it — with the columns and ``k``; at most 4 indexes; a rewritten
    corpus file rebuilds it), so repeat queries measure PROBING, not a
    rebuild per call (round-4 verdict: the rebuild hid an 8.8x ratio
    inside the timed path)."""

    def build() -> tuple[DataFrame, DataFrame]:
        cents = exemplar_centroids(corpus, id_col, vec_col, k=k)
        assigned = ivf_assign(corpus, cents, id_col, vec_col).persist()
        assigned.count()
        return cents, assigned

    return cached_over(corpus, "similarity.ivf_index", (id_col, vec_col, k), build, cap=4)


def ivf_index_write(
    corpus: DataFrame, id_col: str, vec_col: str, path: str, k: int = 8
) -> None:
    """Build the IVF index and persist it in the at-scale layout:

    - ``<path>/assigned`` — the bucket assignment, Hive-partitioned BY
      BUCKET, so a probe that touches ``n_probe`` buckets reads only
      those directories (partition pruning; with broadcast probes Spark's
      dynamic partition pruning injects the bucket filter into the scan
      at runtime). This is the FAISS posting-list file structure as plain
      partitioned Parquet.
    - ``<path>/centroids`` — the k-row codebook.

    The in-session ``ivf_index`` cache serves repeat probes of one
    process; this is the durable cross-job equivalent (build once in a
    batch job, probe from any later session)."""
    from science_datalake_spark.sources.sinks import write_parquet_partitioned

    cents = exemplar_centroids(corpus, id_col, vec_col, k=k)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    write_parquet_partitioned(assigned, os.path.join(path, "assigned"), ["bucket"])
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))


def ivf_index_read(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Load a persisted IVF index (see ivf_index_write): centroids come
    back materialized driver-local (k rows, consumed by two broadcasts),
    the assignment as a lazy partition-pruned scan."""
    from science_datalake_spark.sources.sinks import read_parquet
    from science_datalake_spark.util import local_df

    cents_scan = read_parquet(spark, os.path.join(path, "centroids"))
    rows = [
        (r["cent_id"], list(r["cent_vec"]))
        for r in cents_scan.orderBy("cent_id").collect()
    ]
    cents = local_df(spark, rows, cents_scan.schema)
    assigned = read_parquet(spark, os.path.join(path, "assigned"))
    return cents, assigned


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """IVF search: each query ranks the centroids (broadcast), keeps its
    ``n_probe`` nearest, then scans ONLY those buckets' posting lists
    (join on bucket) and ranks candidates. Exact within probed buckets;
    recall grows with n_probe (n_probe = K degenerates to brute force).

    The |Q|·n_probe probe set is broadcast, so the corpus posting lists
    are never shuffled — right whenever the query set fits an executor
    (the common ANN-service shape, and every registry caller)."""
    q = queries.select(F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("__qv"))
    probes = q.join(F.broadcast(centroids), F.lit(True)).withColumn(
        "__csim", F.round(cosine(F.col("__qv"), F.col("cent_vec")), 6)
    )
    probed = top_k_per_key(
        probes, keys=["query_id"], order=[F.desc("__csim"), F.asc("cent_id")], k=n_probe
    ).select("query_id", "__qv", F.col("cent_id").alias("bucket"))
    cands = (
        F.broadcast(probed)
        .join(assigned, "bucket")
        .filter(F.col("query_id") != F.col(id_col))
    )
    scored = cands.select(
        "query_id",
        F.col(id_col).alias("cand_id"),
        F.round(cosine(F.col("__qv"), F.col("vec")), 4).alias("sim"),
    )
    return top_k_per_key(scored, keys=["query_id"], order=[F.desc("sim"), F.asc("cand_id")], k=k)


def bucketed_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    dims: int = 6,
) -> DataFrame:
    """ANN: join query and corpus on the sign-LSH bucket, rank within
    bucket. Recall < 1 by design; cost drops from O(|Q|·|C|) to
    O(Σ bucket²) — the standard IVF-style trade."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_vec(vec_col).alias("__qv"),
    ).withColumn("__bucket", sign_bucket(F.col("__qv"), dims))
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        as_double_vec(vec_col).alias("__cv"),
    ).withColumn("__bucket", sign_bucket(F.col("__cv"), dims))
    pairs = c.join(F.broadcast(q), "__bucket").filter(F.col("query_id") != F.col("cand_id"))
    scored = pairs.select(
        "query_id",
        "cand_id",
        F.round(cosine(F.col("__qv"), F.col("__cv")), 4).alias("sim"),
    )
    return top_k_per_key(scored, keys=["query_id"], order=[F.desc("sim"), F.asc("cand_id")], k=k)


def token_slices(vec: Column, num_tokens: int) -> Column:
    """Split a flat ARRAY<DOUBLE> into ``num_tokens`` equal contiguous
    sub-vectors (array of arrays). The multi-vector layout late
    interaction consumes: a document's token embeddings stored flat in
    one column, token dim = size(vec) / num_tokens."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_tokens - 1)),
        lambda i: F.slice(
            vec,
            i * (F.size(vec) / num_tokens).cast("int") + 1,
            (F.size(vec) / num_tokens).cast("int"),
        ),
    )


def _late_interaction_numpy(
    docs: DataFrame,
    queries: DataFrame,
    qrows: list[tuple],
    id_col: str,
    vec_col: str,
    num_tokens: int,
    k: int,
    round_digits: int,
    num_tokens_col: str | None = None,
) -> DataFrame:
    """The driver tier of late_interaction_topk (see its docstring): the
    docs scored against ``qrows``, the collected (id, vector) query batch.
    Per Arrow batch: one (batch·nt, td) × (td, nq·nt) matmul, max over
    the doc-token axis, sum over the query-token axis, per-batch partial
    top-k per query. Scores are rounded half-away BEFORE ranking, like
    the distributed tier; a NULL/ragged vector on EITHER side yields a
    NULL score ranked last — enforced explicitly (bad rows are detected
    before _vec_matrix zero-fills them: a zero vector is indistinguishable
    from NULL only under cosine's zero-norm NaN, not under raw MaxSim
    dot products, where it would silently score 0.0 — round-12 advice).
    With ``num_tokens_col``, padding token positions at index >=
    that row's real count are excluded from the per-query-token max,
    and a doc with no real tokens scores NULL."""
    import numpy as np
    import pandas as pd

    from science_datalake_spark.operators.dedup import _round_half_away, _vec_matrix

    q_ids = [t[0] for t in qrows]
    qvecs = [t[1] for t in qrows]
    dim = _query_width(qrows)
    nq = len(qrows)
    td = dim // num_tokens
    qmat = _vec_matrix(pd.Series(qvecs), dim) if nq else None
    # (nq*nt, td): query token vectors stacked in (query, token) order
    qtok = qmat.reshape(nq * num_tokens, td) if nq else None
    # NULL/ragged query vectors: every score in that query's column is NULL
    q_bad = np.array(
        [v is None or len(v) != dim for v in qvecs], dtype=bool
    ) if nq else None

    qid_t = queries.schema[id_col].dataType.simpleString()
    did_t = docs.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_t}, doc_id {did_t}, score double"
    doc_cols = [id_col, vec_col] + ([num_tokens_col] if num_tokens_col else [])

    def scan(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            vals = pdf[vec_col].tolist()
            d_bad = np.array(
                [x is None or len(x) != dim for x in vals], dtype=bool
            )
            v = _vec_matrix(pdf[vec_col], dim)  # (n, dim); bad rows zeroed
            dids = pdf[id_col].reset_index(drop=True)
            dtok = v.reshape(n * num_tokens, td)
            sims = dtok @ qtok.T  # (n*nt, nq*nt)
            sims = sims.reshape(n, num_tokens, nq * num_tokens)
            if num_tokens_col is not None:
                ntok = (
                    pdf[num_tokens_col]
                    .fillna(0)
                    .to_numpy(dtype=np.int64)
                    .clip(0, num_tokens)
                )
                # padding positions never win the doc-token max
                sims[np.arange(num_tokens)[None, :] >= ntok[:, None]] = -np.inf
                d_bad |= ntok == 0
            mx = sims.max(axis=1)  # max over DOC tokens: (n, nq*nt)
            scores = mx.reshape(n, nq, num_tokens).sum(axis=2)  # (n, nq)
            scores = _round_half_away(scores, round_digits)
            scores[d_bad, :] = np.nan
            scores[:, q_bad] = np.nan
            frames = []
            for j in range(nq):
                col = scores[:, j]
                key = np.where(np.isnan(col), -np.inf, col)
                kk = min(k, n)
                kth = np.partition(key, n - kk)[n - kk]
                sel = np.nonzero(key >= kth)[0]
                if sel.size == 0:  # all-NaN batch still ranks (nulls last)
                    sel = np.arange(n)
                tmp = pd.DataFrame(
                    {
                        "query_id": q_ids[j],
                        "doc_id": dids.iloc[sel].to_numpy(),
                        "score": col[sel],
                        "__key": key[sel],
                    }
                )
                frames.append(
                    tmp.sort_values(
                        ["__key", "doc_id"],
                        ascending=[False, True],
                        kind="mergesort",
                    ).head(kk)[["query_id", "doc_id", "score"]]
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    part = docs.select(*doc_cols).mapInPandas(scan, out_schema)
    return top_k_per_key(
        part, keys=["query_id"], order=[F.desc("score"), F.asc("doc_id")], k=k
    )


def late_interaction_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    num_tokens: int,
    k: int,
    round_digits: int = 6,
    num_tokens_col: str | None = None,
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (MaxSim): score(q, d) =
    Σ over q's token vectors of max over d's token vectors of the dot
    product, top-k docs per query. The multi-vector alternative to
    single-vector cosine retrieval — token-level interaction recovers
    term-match precision that pooled embeddings average away (Khattab &
    Zaharia, SIGIR 2020).

    Input layout: each row's ``vec_col`` holds the document's
    ``num_tokens`` token embeddings FLAT in one array (token dim =
    size/num_tokens) — the storage shape a 100 TB corpus wants (one
    fixed-width array column, no per-token rows to shuffle). The first
    non-null query vector's width must divide by ``num_tokens``, or the
    call raises ``ValueError``. Real ColBERT corpora are RAGGED —
    documents shorter than ``num_tokens`` are zero/garbage-padded to the
    fixed width — so ``num_tokens_col`` (optional, an int column on
    ``docs``) declares each row's REAL token count: padding positions
    are excluded from the per-query-token max (an unmasked zero pad
    wrongly wins the max whenever every real dot product is negative),
    and a doc with zero real tokens scores NULL. NULL/ragged vectors on
    either side score NULL (ranked last).

    Two tiers, picked like cosine_topk's by one ``limit(cap+1)`` collect
    of the query side (``_LATE_INTERACTION_MAX_QUERY_ROWS``). At or under
    the cap, doc batches stream through one BLAS matmul + axis-max +
    axis-sum with a per-batch partial top-k. Over it, queries broadcast
    lazily and ONE map-only pass computes MaxSim in-row with array HOFs
    (the per-token max is order-free; the query-token sum is an explicit
    left-associated add chain). Both round scores half-away to
    ``round_digits`` before ranking, so they return the same rows.
    Either way no shuffle touches the corpus — only scored (query, doc)
    pairs move, and only to the top-k window.
    """
    qrows = _probe_query_side(
        queries, id_col, vec_col, _LATE_INTERACTION_MAX_QUERY_ROWS
    )
    width = _query_width(qrows)
    if num_tokens < 1 or width % num_tokens:
        raise ValueError(
            f"query vectors of width {width} do not split into "
            f"num_tokens={num_tokens} equal token vectors"
        )
    if len(qrows) <= _LATE_INTERACTION_MAX_QUERY_ROWS:
        return _late_interaction_numpy(
            docs, queries, qrows, id_col, vec_col, num_tokens, k, round_digits,
            num_tokens_col=num_tokens_col,
        )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("__qv")
    )
    ntok = (
        F.greatest(F.least(F.coalesce(F.col(num_tokens_col), F.lit(0)),
                           F.lit(num_tokens)), F.lit(0))
        if num_tokens_col is not None
        else F.lit(num_tokens)
    )
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        as_double_vec(vec_col).alias("__dv"),
        ntok.cast("int").alias("__ntok"),
    )
    pairs = d.crossJoin(F.broadcast(q)).withColumn(
        # padding tokens sliced off BEFORE the max — ragged-doc mask;
        # __ntok == 0 leaves an empty array whose array_max is NULL,
        # nulling the whole score (NULL + x), i.e. ranked last
        "__dtoks",
        F.slice(token_slices(F.col("__dv"), num_tokens), 1, F.col("__ntok")),
    )
    td = (F.size(F.col("__qv")) / num_tokens).cast("int")

    def _max_over_doc_tokens(qt: Column) -> Column:
        # closure, NOT a default-arg lambda: a two-parameter lambda would
        # be read by F.transform as its (element, index) binary form
        return F.array_max(F.transform(F.col("__dtoks"), lambda t: dot(qt, t)))

    maxes = []
    for i in range(num_tokens):
        qt = F.slice(F.col("__qv"), F.lit(i) * td + 1, td)
        maxes.append(_max_over_doc_tokens(qt))
    score = maxes[0]
    for m in maxes[1:]:
        score = score + m
    # a RAGGED (wrong-length) vector on either side scores NULL, matching
    # the driver tier — without the guard, slice() silently truncates and
    # scores the partial tokens (size(NULL) is NULL or -1, so NULL vecs
    # fail the when() too)
    score = F.when(
        (F.size("__dv") == F.size("__qv")) & (F.size("__qv") == width), score
    )
    # round BEFORE ranking — the tier/oracle agreement point
    scored = pairs.select(
        "query_id", "doc_id", F.round(score, round_digits).alias("score")
    )
    return top_k_per_key(
        scored, keys=["query_id"], order=[F.desc("score"), F.asc("doc_id")], k=k
    )
