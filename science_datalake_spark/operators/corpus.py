"""Corpus composition operators: token-budget mixing and eval-set
decontamination — the two steps between "deduped documents" and "training
corpus" (BASELINE.json north star; neither exists in the reference, both
are first-class for a 100 TB training-data pipeline).

- :func:`token_budget_mix` — build a training mix hitting per-source
  token shares: documents are ordered deterministically (seeded hash of
  the id, the gold-sample discipline from operators/sampling.py) and
  taken per source while the running token total stays inside that
  source's share of the budget. One window per source (single shuffle),
  exact and reproducible under any partitioning.
- :func:`decontaminate` — flag corpus documents that share too many word
  n-grams with an evaluation set (train/test contamination). The eval
  side is shingled and broadcast (eval sets are small by definition);
  the corpus side streams through a shingle explode + semi-join-style
  aggregation. No corpus self-join, no eval-side shuffle.
- :func:`leakage_safe_split` — train/val/test assignment as a pure
  function of the duplicate-cluster id, so near-copies can never
  straddle a split boundary (prevention twin of ``decontaminate``'s
  detection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from science_datalake_spark.operators.dedup import _spread, with_hashed_word_ngrams
from science_datalake_spark.operators.textops import token_count


def token_budget_mix(
    docs: DataFrame,
    source_col: str,
    weights: dict[str, float],
    budget_tokens: int,
    id_col: str,
    text_col: str = "text",
    seed: int = 42,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Select documents per source until each source's share of
    ``budget_tokens`` is exhausted.

    A document is kept while the PRIOR cumulative token count of its
    source is below the share — so each source overshoots by at most one
    document (the deterministic boundary rule; matching truncation
    semantics are easy in any engine). Sources missing from ``weights``
    get weight 0 (dropped). Output adds ``n_tokens`` and
    ``cum_tokens_before``.

    The per-source threshold is resolved to an exact INTEGER token count
    on the driver (``Decimal(weight) * budget``, floored) — never a
    floating product inside the plan, where 0.07·100 = 7.000000000000001
    would admit a document an exact-decimal engine excludes at the
    boundary. Ordering is by md5 of the seeded id — portable across
    engines (the DuckDB oracle replays it exactly); swap for xxhash64
    when oracle parity is not needed and hash throughput matters.

    ``n_tokens_col`` names a PRECOMPUTED per-doc token-count column to
    use instead of re-tokenizing ``text_col`` — the single-scan release
    path scores/tokenizes each document once up front and runs the mix
    over the skinny scored relation, never re-touching text."""
    from decimal import Decimal

    thresholds = {
        src: int(Decimal(str(wt)) * budget_tokens) for src, wt in weights.items()
    }
    share_tokens = F.create_map(
        *[F.lit(x) for kv in thresholds.items() for x in (kv[0], kv[1])]
    )
    order_key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    w = (
        Window.partitionBy(source_col)
        .orderBy(order_key, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = docs.withColumn(
        "__nt",
        F.col(n_tokens_col) if n_tokens_col else token_count(F.col(text_col)),
    )
    cum = toks.withColumn(
        "__cum_before", F.coalesce(F.sum("__nt").over(w), F.lit(0))
    ).withColumn("__share", F.coalesce(share_tokens[F.col(source_col)], F.lit(0)))
    return (
        cum.filter(F.col("__cum_before") < F.col("__share"))
        .withColumn("n_tokens", F.col("__nt"))
        .withColumn("cum_tokens_before", F.col("__cum_before"))
        .drop("__nt", "__cum_before", "__share")
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    max_overlap: float = 0.5,
) -> DataFrame:
    """Per corpus document: fraction of its distinct word n-grams that
    appear ANYWHERE in the eval set, plus ``is_contaminated`` (fraction >
    ``max_overlap``). Documents with no shingles (shorter than ``n``
    words) have overlap 0.

    Plan: distinct eval shingles broadcast into the corpus-side
    aggregation (the eval set is small); the corpus is scanned ONCE —
    per-document-distinct shingles via array_distinct, then explode_outer
    so shingle-less documents keep a null row (and therefore a result
    row) without a second corpus scan to restore them.

    Shingles are xxhash64-folded LONGS on both sides
    (``with_hashed_word_ngrams``), not concatenated strings: the string
    form spent the bulk of the stage in JVM concat churn + string
    array_distinct (the round-4 profiling pin; the same fix measured
    7.6→4.9 s on dup_bigram_fraction), while the long form keeps
    array_distinct, the distinct, and the broadcast join all on
    primitive keys. Overlap fractions are identical absent a 64-bit
    collision (p ≈ pairs/2⁶⁴); relational twins keep comparing shingle
    strings and the parity suite pins the values equal."""
    eval_ng = (
        with_hashed_word_ngrams(eval_docs.select(text_col), text_col, n)
        .select(F.explode("ng").alias("__ng"))
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    corpus_ng = (
        with_hashed_word_ngrams(
            _spread(corpus.select(id_col, text_col), id_col), text_col, n
        )
        .select(id_col, F.explode_outer(F.array_distinct("ng")).alias("__ng"))
    )
    return (
        corpus_ng.join(F.broadcast(eval_ng), "__ng", "left")
        .groupBy(id_col)
        .agg(
            F.count("__ng").alias("n_shingles"),  # count() skips the null row
            F.count(F.when(F.col("__hit"), 1)).alias("n_shared"),
        )
        .withColumn(
            "overlap",
            F.coalesce(F.round(F.col("n_shared") / F.col("n_shingles"), 4), F.lit(0.0)),
        )
        .select(
            id_col,
            "n_shingles",
            "n_shared",
            "overlap",
            (F.col("overlap") > max_overlap).alias("is_contaminated"),
        )
    )


def temperature_mix_weights(
    docs: DataFrame,
    source_col: str,
    alpha: float,
    text_col: str = "text",
    weight_digits: int = 3,
    n_tokens_col: str | None = None,
) -> dict[str, float]:
    """Temperature-scaled source weights: w_s ∝ (token count of s)^alpha,
    normalized — the mT5/Pile up/down-sampling recipe (alpha=1
    reproduces natural proportions, alpha→0 approaches uniform, the
    usual training mixes sit at 0.3–0.7 so low-resource sources are
    boosted without letting a mega-source dominate).

    One aggregation (sum of per-doc token counts per source, map-side
    combinable) and a |sources|-row collect. Weights are rounded
    HALF-AWAY to ``weight_digits`` so a relational twin computing
    ``round(pow(c, alpha) / Z, d)`` lands on the identical double and
    ``token_budget_mix``'s Decimal threshold resolution
    (int(Decimal(str(w)) * budget)) matches the twin's
    DECIMAL-cast multiplication exactly — the same
    integer-threshold-handoff discipline as the 50/30/20 mix oracle.
    Z is summed in sorted-source order (deterministic)."""
    from science_datalake_spark.util import round_half_away

    nt = F.col(n_tokens_col) if n_tokens_col else token_count(F.col(text_col))
    rows = (
        docs.groupBy(source_col)
        .agg(F.sum(nt).alias("__c"))
        .collect()
    )
    pows = {
        r[source_col]: float(r["__c"] or 0) ** alpha
        for r in rows
        if r[source_col] is not None
    }
    z = sum(pows[s] for s in sorted(pows))
    if z == 0:
        return {s: 0.0 for s in pows}
    return {s: round_half_away(w / z, weight_digits) for s, w in pows.items()}


def temperature_mix(
    docs: DataFrame,
    source_col: str,
    alpha: float,
    budget_tokens: int,
    id_col: str,
    text_col: str = "text",
    seed: int = 42,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """``token_budget_mix`` with weights derived from the data itself via
    ``temperature_mix_weights`` — the end-to-end temperature-sampled
    corpus composition step. ``n_tokens_col`` (precomputed token counts)
    keeps BOTH the weights aggregation and the mix window off the text
    column — see token_budget_mix."""
    weights = temperature_mix_weights(
        docs, source_col, alpha, text_col, n_tokens_col=n_tokens_col
    )
    return token_budget_mix(
        docs, source_col, weights, budget_tokens, id_col, text_col, seed,
        n_tokens_col=n_tokens_col,
    )


def leakage_safe_split(
    docs: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    cluster_col: str | None = None,
    seed: int = 42,
    u_expr=None,
) -> DataFrame:
    """Train/val/test split assignment that cannot leak near-duplicates
    across splits: the split is a pure function of the document's
    duplicate-CLUSTER id, so two documents that are (near-)copies of
    each other always land in the same split. Splitting i.i.d. per
    document — the naive ``rand() < 0.9`` — puts ~2·p·(1-p) of every
    duplicate pair across the train/test boundary, which is exactly the
    train-on-test contamination ``decontaminate`` exists to catch;
    assigning by cluster removes the failure mode instead of detecting
    it (the dedup-then-split discipline of every published LLM corpus).

    Cluster source:
    - ``cluster_col`` — precomputed cluster labels already on ``docs``
      (e.g. a persisted dedup run, or ``graph.connected_components_star``
      over a near-dup pair relation joined back onto the docs). NULL
      labels fall back to the row's own id (singleton).
    - none — every document is its own cluster (plain deterministic
      split, still reproducible under any partitioning).

    Assignment: u = (xxhash64(cluster, seed) mod 2^20)/2^20 ∈ [0, 1)
    banded by the cumulative ``fractions`` in insertion order (must sum
    to ~1; the last band absorbs rounding residue). Pure column
    expression — assignment adds NO shuffle and no driver data. Same
    (data, fractions, seed) ⇒ same split under ANY partitioning (the
    seeded-hash discipline of
    operators/sampling.py). ``u_expr`` overrides the hash with a caller
    expression over ``split_cluster`` → [0, 1) — the systematic-mod
    form a relational twin can evaluate verbatim (the
    sample_deterministic discipline); the default stays the seeded hash
    because cluster ids are NOT uniform (CC labels are min member ids,
    skewed low; a plain mod over them is biased, a hash is not).

    Returns ``docs`` + ``split_cluster`` + ``split``.
    """
    total = sum(fractions.values())
    if not fractions or abs(total - 1.0) > 1e-6:
        raise ValueError(f"fractions must sum to 1, got {total}")
    if cluster_col is not None:
        docs = docs.withColumn(
            "split_cluster", F.coalesce(F.col(cluster_col), F.col(id_col))
        )
    else:
        docs = docs.withColumn("split_cluster", F.col(id_col))

    grid = 1 << 20
    u = (
        F.pmod(F.xxhash64(F.col("split_cluster"), F.lit(seed)), F.lit(grid)) / grid
        if u_expr is None
        else u_expr
    )
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        # float-sum drift (0.9 + 0.05 = 0.95000…01) would silently widen
        # a band past the next one's boundary grid point; 12-digit
        # rounding restores the exact cumulative bound
        acc = round(acc + fractions[name], 12)
        branch = F.when(u < acc, F.lit(name))
        expr = branch if expr is None else expr.when(u < acc, F.lit(name))
    last = F.lit(names[-1])
    return docs.withColumn(
        "split", last if expr is None else expr.otherwise(last)
    )


def token_budget_mix_upsampled(
    docs: DataFrame,
    source_col: str,
    weights: dict[str, float],
    budget_tokens: int,
    id_col: str,
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Epoch-aware :func:`token_budget_mix`: a source whose AVAILABLE
    tokens fall short of its share is REPLICATED — ``epochs =
    ceil(share / available)`` copies per document — before the same
    deterministic prior-cumulative boundary rule truncates the final
    epoch. This is the "epochs > 1" upsampling semantics of published
    mixes (the Pile's Wikipedia×3, mT5's temperature-upsampled tails):
    plain budget mixing SATURATES an undersized source and silently
    undershoots its share; upsampling repeats the source's documents in
    full passes (epoch 0 first, then epoch 1, …) so every source meets
    its share exactly (± one document).

    Output adds ``epoch`` (0-based copy index), ``n_tokens`` and
    ``cum_tokens_before``. Ordering inside a source is (epoch, seeded
    md5, id): full epochs drain in sequence and only the LAST epoch is
    partial — deterministic under any partitioning, replayable by a
    relational twin (generate_series + the same window frame).

    Scale: one extra per-source aggregate (tiny relation, broadcast
    back) and a sequence-explode whose fan-out is the replication factor
    of undersized sources only; the running-total window is the same
    per-source shape as the base mixer. The per-source threshold stays a
    driver-resolved exact integer (see token_budget_mix — no float
    products in the plan)."""
    from decimal import Decimal

    thresholds = {
        src: int(Decimal(str(wt)) * budget_tokens) for src, wt in weights.items()
    }
    share_tokens = F.create_map(
        *[F.lit(x) for kv in thresholds.items() for x in (kv[0], kv[1])]
    )
    toks = docs.withColumn("__nt", token_count(F.col(text_col)))
    per_src = (
        toks.groupBy(source_col)
        .agg(F.sum("__nt").alias("__tot"))
        .withColumn("__share", F.coalesce(share_tokens[F.col(source_col)], F.lit(0)))
        .withColumn(
            "__k",
            F.when(
                (F.col("__tot") > 0) & (F.col("__share") > F.col("__tot")),
                F.ceil(F.col("__share") / F.col("__tot")),
            )
            .otherwise(F.lit(1))
            .cast("int"),
        )
        .select(source_col, "__share", "__k")
    )
    rep = toks.join(F.broadcast(per_src), source_col).withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), F.col("__k") - 1))
    )
    order_key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    w = (
        Window.partitionBy(source_col)
        .orderBy("epoch", order_key, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = rep.withColumn("__cum_before", F.coalesce(F.sum("__nt").over(w), F.lit(0)))
    return (
        cum.filter(F.col("__cum_before") < F.col("__share"))
        .withColumn("n_tokens", F.col("__nt"))
        .withColumn("cum_tokens_before", F.col("__cum_before"))
        .drop("__nt", "__cum_before", "__share", "__k")
    )


def shard_shuffle(
    docs: DataFrame,
    id_col: str,
    seed: int = 42,
    shard_hex_chars: int = 1,
) -> DataFrame:
    """Deterministic seeded global shuffle + shard assignment — the last
    step before a training corpus is written: every document gets a
    reproducible pseudo-random ``order_key`` (md5 of ``id:seed``, the
    portable seeded-hash discipline of :func:`token_budget_mix`) and a
    ``shard`` (the key's first ``shard_hex_chars`` hex chars →
    ``16**chars`` uniformly-sized shards).

    Purely map-side — NO shuffle is introduced here. The intended 100 TB
    write path is ``.repartition('shard').sortWithinPartitions(
    'order_key').write.partitionBy('shard')``: exactly one exchange and
    a per-shard sort, never a global sort. A different ``seed`` is a new
    epoch-order permutation at zero extra cost.
    """
    order_key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    return docs.withColumn("order_key", order_key).withColumn(
        "shard", F.substring(F.col("order_key"), 1, shard_hex_chars)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    fingerprint_col: str,
) -> DataFrame:
    """Corpus-version audit: classify every document id across two corpus
    snapshots as ``added`` / ``removed`` / ``changed`` / ``unchanged`` by
    comparing a content fingerprint (both inputs must already carry
    ``fingerprint_col`` — textops.fingerprint is the usual key). This is
    the release gate between corpus v(n) and v(n+1): how much churned,
    and where.

    ONE full-outer hash join on the id — the only scale-correct shape
    (anti-join per status would scan both sides three times). All other
    columns ride along COALESCEd from whichever side is present, so the
    caller can roll up by source/lang without a second join.
    """
    o = old.select(
        F.col(id_col).alias("__id_o"),
        F.col(fingerprint_col).alias("__fp_o"),
        *[F.col(c).alias(f"__o_{c}") for c in old.columns if c not in (id_col, fingerprint_col)],
    )
    n = new.select(
        F.col(id_col).alias("__id_n"),
        F.col(fingerprint_col).alias("__fp_n"),
        *[F.col(c).alias(f"__n_{c}") for c in new.columns if c not in (id_col, fingerprint_col)],
    )
    j = o.join(n, o["__id_o"] == n["__id_n"], "full_outer")
    # changed is null-SAFE (~eqNullSafe, round-9 ADVICE): with a plain
    # `!=`, a fingerprint transitioning NULL→value (possible when the
    # caller supplies its own fingerprint column) is NULL → falls through
    # to `unchanged`. md5 fingerprints from textops.fingerprint are never
    # NULL for non-null text, but the operator must not depend on that.
    status = (
        F.when(F.col("__id_o").isNull(), F.lit("added"))
        .when(F.col("__id_n").isNull(), F.lit("removed"))
        .when(~F.col("__fp_o").eqNullSafe(F.col("__fp_n")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    shared = [c for c in old.columns if c in new.columns and c not in (id_col, fingerprint_col)]
    return j.select(
        F.coalesce("__id_o", "__id_n").alias(id_col),
        status.alias("status"),
        *[F.coalesce(f"__n_{c}", f"__o_{c}").alias(c) for c in shared],
    )
