"""End-to-end corpus curation: the documents→training-set funnel as ONE
composable relation.

Every published LLM corpus build runs the same chain — quality gate →
exact dedup → eval-set decontamination → leakage-safe split — and audits
it as a funnel (how many docs each stage dropped, and why). The reference
has the per-stage pieces spread over notebook cells; here the chain is a
single operator over the existing stage operators (textops.quality_gate_flags,
dedup.exact_dedup, corpus.decontaminate, corpus.leakage_safe_split) with
first-failing-stage attribution, so one aggregation yields the whole
audit.

Scale design (the reason this is an operator and not a script):
- NO per-stage actions. Every stage is a lazy column/flag on one
  relation; the funnel is ONE groupBy at the end. A script that
  ``count()``s after each stage scans the corpus once per stage.
- Dedup runs logically AMONG quality survivors only (a rejected doc must
  not be a group's canonical), but without splitting the relation:
  rejected rows get a per-row unique dedup key, so the single window
  sees them as singletons. One shuffle for the whole dedup stage.
- Decontamination scores only unique survivors (one id-keyed join to
  bring the overlap flags back — the corpus's only other shuffle); the
  eval side stays broadcast inside ``decontaminate``.
- The split is a pure function of the duplicate cluster id
  (``leakage_safe_split`` with ``cluster_col="canonical_id"``): map-only,
  and near-copies land in the same split by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    dedup_key=None,
    eval_docs: DataFrame | None = None,
    fractions: dict[str, float] | None = None,
    seed: int = 42,
    shingle_n: int = 3,
    max_overlap: float = 0.5,
    u_expr=None,
    **gate_kwargs,
) -> DataFrame:
    """Run the full curation chain lazily over ``docs``; returns the input
    plus per-stage columns and a single ``curation_status``:

    - ``quality:<reason>`` — first failing quality rule
      (``textops.quality_gate_flags``; thresholds via ``gate_kwargs``)
    - ``duplicate`` — non-canonical member of an exact-dup group among
      quality survivors (``dedup_key`` column expression over the row;
      default md5 of the full text)
    - ``contaminated`` — unique survivor sharing > ``max_overlap`` of its
      word ``shingle_n``-grams with ``eval_docs`` (stage skipped when
      ``eval_docs`` is None)
    - ``kept:<split>`` — survivor, with its ``fractions`` split assigned
      per duplicate CLUSTER (``kept`` when ``fractions`` is None)

    Also keeps the stage evidence columns (n_tokens, dup_bigram_frac,
    stop_ratio, canonical_id, group_size,
    overlap, split) so audits can drill past the status label.
    """
    from science_datalake_spark.operators.corpus import (
        decontaminate,
        leakage_safe_split,
    )
    from science_datalake_spark.operators.dedup import exact_dedup
    from science_datalake_spark.operators.textops import quality_gate_flags

    # the DataFrame form of the gate: tokenizer and signals evaluated
    # ONCE each (the Column form's four independent trees re-ran the
    # tokenizer ~10× in this plan — round-9 profiling, 13.1 s → 2.3 s
    # per corpus pass at sf1)
    flagged = quality_gate_flags(docs, text_col, **gate_kwargs)

    # dedup among quality survivors WITHOUT splitting the relation:
    # rejected rows get a per-row unique key, so the dedup window treats
    # them as singleton groups (they can never be, or displace, a
    # canonical). One window, one shuffle.
    key = F.md5(F.col(text_col)) if dedup_key is None else dedup_key
    gate_pass = F.col("quality_reject").isNull()
    safe_key = F.when(gate_pass, key).otherwise(
        F.concat(F.lit("!rejected:"), F.col(id_col).cast("string"))
    )
    deduped = exact_dedup(flagged, id_col, safe_key)

    if eval_docs is not None:
        # contamination is scored from the RAW input relation, not from
        # the gated/deduped one: the status precedence below only reads
        # it for unique survivors anyway, and deriving it from `docs`
        # keeps the expensive gate+window subtree out of this branch —
        # otherwise the plan evaluates that whole subtree TWICE (main
        # relation + the survivors filter; measured ~25% of the funnel's
        # runtime at sf1). The handful of extra rejected docs scored is
        # one map-side shingle pass; the evidence-column contract
        # (overlap only for unique survivors) is restored by the mask.
        contam = decontaminate(
            docs.select(id_col, text_col),
            eval_docs,
            id_col,
            text_col=text_col,
            n=shingle_n,
            max_overlap=max_overlap,
        ).select(
            F.col(id_col).alias("__cid"),
            "overlap",
            "is_contaminated",
        )
        deduped = deduped.join(
            contam, on=F.col(id_col) == F.col("__cid"), how="left"
        ).drop("__cid")
        survivor = gate_pass & ~F.col("is_dup")
        deduped = deduped.withColumns(
            {
                "overlap": F.when(survivor, F.col("overlap")),
                "is_contaminated": F.when(survivor, F.col("is_contaminated")),
            }
        )
    else:
        deduped = deduped.withColumn("overlap", F.lit(None).cast("double")).withColumn(
            "is_contaminated", F.lit(None).cast("boolean")
        )

    if fractions is not None:
        deduped = leakage_safe_split(
            deduped,
            id_col,
            fractions,
            cluster_col="canonical_id",
            seed=seed,
            u_expr=u_expr,
        )
        kept = F.concat(F.lit("kept:"), F.col("split"))
    else:
        kept = F.lit("kept")

    status = (
        F.when(
            F.col("quality_reject").isNotNull(),
            F.concat(F.lit("quality:"), F.col("quality_reject")),
        )
        .when(F.col("is_dup"), F.lit("duplicate"))
        .when(F.coalesce(F.col("is_contaminated"), F.lit(False)), F.lit("contaminated"))
        .otherwise(kept)
    )
    return deduped.withColumn("curation_status", status)


def curation_funnel(curated: DataFrame) -> DataFrame:
    """The audit rollup of :func:`curate`: one row per
    ``curation_status`` with document and token counts — a single
    map-side-combinable aggregation over the lazily-flagged relation
    (the whole funnel costs one corpus scan on top of the stage
    shuffles)."""
    return (
        curated.groupBy("curation_status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("curation_status")
    )
