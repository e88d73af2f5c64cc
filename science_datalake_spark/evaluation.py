"""Alignment-quality evaluation: P/R/F1 against a gold standard across
similarity thresholds.

Reference parallel: evaluate_ontology_alignment.py:216-430 — a
human-annotated gold set of (left, right, label) pairs scored against
predicted matches at thresholds 0.65/0.75/0.85/0.95, producing
precision/recall/F1 and a PR curve. Driver-side pandas is fine (gold sets
are hundreds of rows); the predicted-match table it evaluates is the
distributed linkage output.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class ThresholdMetrics:
    threshold: float
    n_predicted: int
    tp: int
    fp: int
    fn: int
    precision: float
    recall: float
    f1: float


def evaluate_alignment(
    matches: DataFrame,
    gold: DataFrame,
    thresholds: tuple[float, ...] = (0.65, 0.75, 0.85, 0.95),
) -> list[ThresholdMetrics]:
    """``matches``: (left_id, right_id, similarity). ``gold``:
    (left_id, right_id, is_correct BOOLEAN) — the annotated pair set.
    Metrics are computed over the gold pairs (the reference's protocol:
    precision on predicted∩gold, recall of correct gold pairs)."""
    m = {
        (r["left_id"], r["right_id"]): r["similarity"]
        for r in matches.select("left_id", "right_id", "similarity").collect()
    }
    g = {
        (r["left_id"], r["right_id"]): bool(r["is_correct"])
        for r in gold.select("left_id", "right_id", "is_correct").collect()
    }
    out: list[ThresholdMetrics] = []
    for t in thresholds:
        predicted = {p for p, s in m.items() if s >= t and p in g}
        tp = sum(1 for p in predicted if g[p])
        fp = len(predicted) - tp
        fn = sum(1 for p, ok in g.items() if ok and p not in predicted)
        precision = tp / (tp + fp) if tp + fp else 0.0
        recall = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
        out.append(
            ThresholdMetrics(
                threshold=t,
                n_predicted=len(predicted),
                tp=tp,
                fp=fp,
                fn=fn,
                precision=round(precision, 4),
                recall=round(recall, 4),
                f1=round(f1, 4),
            )
        )
    return out


# --- stratified / annotated evaluation (round-10: the reference's full
# --- compute_metrics shape, DataFrame-native) -------------------------------
#
# evaluate_ontology_alignment.py:259-326 computes three blocks from an
# annotated pair set (label ∈ correct/partial/incorrect): per-stratum
# counts+precision, threshold P/R/F1 at .65/.75/.85/.95, and a 0.60-1.00
# PR sweep. The reference does it in driver-side python over a ~300-row
# TSV; here each block is a DataFrame aggregation, so the same audit runs
# unchanged when the "annotation" is a million-row silver-standard set.


def _label_counts(label_col: str):
    from pyspark.sql import functions as F

    lab = F.col(label_col)
    return [
        F.count("*").alias("n"),
        F.sum(F.when(lab == "correct", 1).otherwise(0)).alias("n_correct"),
        F.sum(F.when(lab == "partial", 1).otherwise(0)).alias("n_partial"),
        F.sum(F.when(lab == "incorrect", 1).otherwise(0)).alias("n_incorrect"),
    ]


def annotated_stratum_metrics(
    ann: DataFrame, stratum_col: str = "stratum", label_col: str = "label"
) -> DataFrame:
    """Per-stratum block (evaluate_ontology_alignment.py:259-276): one row
    per stratum with n / correct / partial / incorrect counts and
    precision = correct/n (every annotated pair is a predicted positive
    under the reference's protocol). ONE map-side-combinable aggregation."""
    from pyspark.sql import functions as F

    return (
        ann.groupBy(F.col(stratum_col).alias("stratum"))
        .agg(*_label_counts(label_col))
        .withColumn("precision", F.round(F.col("n_correct") / F.col("n"), 4))
        .orderBy("stratum")
    )


def _threshold_sweep(
    ann: DataFrame,
    thresholds: list[float],
    sim_col: str,
    label_col: str,
    empty_precision: float,
) -> DataFrame:
    """Shared engine for the threshold block and the PR sweep: the FIXED
    threshold grid becomes one CONDITIONAL SUM PAIR PER THRESHOLD inside
    a single aggregation over the annotation set (the grid is a plan-time
    constant, so it belongs in the aggregate expression list, not in a
    relation) — then one ``stack`` unpivots the 1-row result to a row per
    threshold. ONE aggregation, zero joins, zero broadcast exchanges,
    for ALL thresholds: the earlier broadcast-grid theta-join shape paid
    three exchanges + two broadcasts and ran ~1.2 s of pure stage floor
    on a 40-row input (BENCH_NOTES r12); the reference loops a filter
    pass per threshold — 41 driver-side scans at 41 sweep points.
    ``empty_precision`` encodes the reference's two conventions for an
    empty above-threshold set: 0.0 in the threshold block, 1.0 on the
    PR curve."""
    from pyspark.sql import functions as F

    correct = F.when(F.col(label_col) == "correct", 1).otherwise(0)
    aggs = [F.sum(correct).alias("__tot")]
    for i, t in enumerate(thresholds):
        above = F.col(sim_col) >= F.lit(float(t))
        aggs.append(F.sum(F.when(above, 1).otherwise(0)).alias(f"__n_{i}"))
        aggs.append(F.sum(F.when(above, correct).otherwise(0)).alias(f"__tp_{i}"))
    stacked = ", ".join(
        f"CAST({float(t)!r} AS DOUBLE), __n_{i}, __tp_{i}"
        for i, t in enumerate(thresholds)
    )
    out = ann.agg(*aggs).select(
        F.expr(f"stack({len(thresholds)}, {stacked}) AS (threshold, __n, __tp)"),
        "__tot",
    )
    p = F.when(F.col("__n") > 0, F.col("__tp") / F.col("__n")).otherwise(
        F.lit(empty_precision)
    )
    r = F.when(
        (F.col("__n") > 0) & (F.col("__tot") > 0), F.col("__tp") / F.col("__tot")
    ).otherwise(F.lit(0.0))
    f1 = F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))
    return out.select(
        "threshold",
        F.coalesce(F.col("__n"), F.lit(0)).alias("n"),
        F.round(p, 4).alias("precision"),
        F.round(r, 4).alias("recall"),
        F.round(f1, 4).alias("f1"),
    ).orderBy("threshold")


def annotated_threshold_metrics(
    ann: DataFrame,
    sim_col: str = "similarity",
    label_col: str = "label",
    thresholds: tuple[float, ...] = (0.65, 0.75, 0.85, 0.95),
) -> DataFrame:
    """Threshold block (evaluate_ontology_alignment.py:289-307): per
    threshold, n at/above it, precision over that subset, recall =
    correct-above / total-correct, F1; an empty subset scores 0/0/0."""
    return _threshold_sweep(ann, list(thresholds), sim_col, label_col, 0.0)


def annotated_pr_curve(
    ann: DataFrame,
    sim_col: str = "similarity",
    label_col: str = "label",
    lo: float = 0.60,
    hi: float = 1.00,
    step: float = 0.01,
) -> DataFrame:
    """PR sweep (evaluate_ontology_alignment.py:310-326): thresholds
    ``lo..hi`` inclusive in ``step`` increments; an empty above-set is
    (precision 1.0, recall 0.0, n 0) — the reference's curve-endpoint
    convention, which differs from the threshold block's zeros."""
    n_steps = int(round((hi - lo) / step))
    ts = [round(lo + i * step, 10) for i in range(n_steps + 1)]
    return _threshold_sweep(ann, ts, sim_col, label_col, 1.0)


def group_auc(
    df: DataFrame,
    keys: list[str],
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Tie-aware ROC-AUC per group — the binary-classifier quality metric
    for scorer audits (quality model vs held-out labels, linkage score vs
    gold pairs; the reference evaluates its aligner with threshold-sweep
    P/R/F1, evaluate_ontology_alignment.py:216-430 — AUC is the
    threshold-free companion). Mann-Whitney form over MIDRANKS:

        AUC = (Σ midrank(positives) − n_pos(n_pos+1)/2) / (n_pos · n_neg)

    where tied scores share the average of their positional ranks — the
    exact tie convention of sklearn's roc_auc_score.

    Plan (the quantile-histogram discipline, NOT a corpus-sized window):
    one map-side-combinable (group, score) histogram carrying per-cell
    positive counts — bounded by |groups| × |distinct scores| regardless
    of corpus size — then midranks from a running count over the
    histogram rows and one algebraic rollup. Two shuffles total, both on
    the bounded histogram; the corpus is read once. Degenerate groups
    (all-positive or all-negative) return NULL auc, like sklearn raising
    — they carry no ranking information. NULL scores/labels excluded.

    ``label_col`` must be 0/1 (cast booleans first). Scores of any
    orderable numeric type; discretize (round) continuous scores when
    the domain must stay bounded at scale.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keys = list(keys)
    h = (
        df.select(*keys, F.col(score_col).alias("__s"), F.col(label_col).alias("__y"))
        .filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
        .groupBy(*keys, "__s")
        .agg(
            F.count("*").alias("__n"),
            F.sum(F.col("__y").cast("long")).alias("__p"),
        )
    )
    cum_w = Window.partitionBy(*keys).orderBy("__s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # midrank of every row scoring __s = (#rows strictly below) + (n+1)/2
    mid = F.coalesce(F.sum("__n").over(cum_w), F.lit(0)) + (
        F.col("__n") + 1
    ) / F.lit(2.0)
    r = h.withColumn("__pos_rank_sum", F.col("__p") * mid)
    out = r.groupBy(*keys).agg(
        F.sum("__p").alias("n_pos"),
        (F.sum("__n") - F.sum("__p")).alias("n_neg"),
        F.sum("__pos_rank_sum").alias("__rs"),
    )
    auc = (
        F.col("__rs") - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2.0)
    ) / (F.col("n_pos") * F.col("n_neg"))
    return out.select(
        *keys,
        "n_pos",
        "n_neg",
        F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), auc).alias("auc"),
    )


def calibration_report(
    df: DataFrame,
    keys: list[str],
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
    prob_scale: int = 10_000,
) -> DataFrame:
    """Per-group calibration audit for a probabilistic scorer — the
    companion to :func:`group_auc` (AUC measures RANKING; calibration
    measures whether 0.8 means 80%): equal-width reliability bins
    (``floor(p·n_bins)``, p = 1.0 clamped into the top bin), and per
    group

    - ``ece`` — expected calibration error, Σ_b (n_b/N)·|acc_b − conf_b|
      (Naeini et al. 2015; the standard single-number calibration
      metric),
    - ``max_gap`` — worst single-bin |accuracy − confidence|,
    - ``brier`` — mean squared error of the probabilities (proper score,
      bin-free).

    Plan: ONE map-side-combinable aggregation to |groups| × n_bins rows,
    then one rollup — no windows, no corpus-sized shuffle; the corpus is
    read once. NULL probabilities/labels excluded; ``label_col`` must be
    0/1. Probabilities outside [0, 1] raise (fold assert_true into the
    bin column) — a mis-scaled score silently produces nonsense
    calibration numbers otherwise.

    Determinism: probabilities are quantized ONCE to integer grid points
    (``round(p · prob_scale)``), after which every metric numerator is a
    SUM OF INTEGERS — exact in double regardless of aggregation order —
    and the single final division is the only rounding step. Without
    this, summing 4-dp doubles in engine-specific order shifts sums by
    an ulp and flips values sitting on the output rounding grid (the
    first parity run hit exactly that: max_gap 0.81595 rounding to
    0.816 on one engine and 0.8159 on the other). A relational twin
    replays the identical integer arithmetic. Quantization error is
    ≤ 0.5/prob_scale per row — pick prob_scale to match (or exceed) the
    score's own rounding."""
    from pyspark.sql import functions as F

    keys = list(keys)
    p = F.col("__p")
    guard = F.assert_true(
        (p >= 0.0) & (p <= 1.0),
        F.concat(F.lit("calibration_report: probability outside [0,1]: "),
                 p.cast("string")),
    )
    bin_col = F.when(
        guard.isNull(), F.least(F.floor(p * n_bins).cast("int"), F.lit(n_bins - 1))
    )
    base = (
        df.select(*keys, F.col(prob_col).alias("__p"), F.col(label_col).alias("__y"))
        .filter(F.col("__p").isNotNull() & F.col("__y").isNotNull())
        .withColumn("__b", bin_col)
        .withColumn("__pi", F.round(p * prob_scale).cast("long"))
        .withColumn("__yi", F.col("__y").cast("long") * prob_scale)
    )
    d2 = (F.col("__pi") - F.col("__yi"))
    bins = base.groupBy(*keys, "__b").agg(
        F.count("*").alias("__n"),
        F.sum("__pi").alias("__sp"),
        F.sum("__yi").alias("__sy"),
        F.sum(d2 * d2).alias("__se"),  # integer-valued: exact sum
    )
    # |Σy − Σp| per bin, still an integer numerator at scale prob_scale
    gap_num = F.abs(F.col("__sy") - F.col("__sp"))
    scale = float(prob_scale)

    def round4(c):
        # floor(x*1e4 + 0.5)/1e4, NOT F.round: Spark ROUND reinterprets
        # the double through BigDecimal while DuckDB multiplies in
        # doubles — on a value whose product crosses .5 differently the
        # two disagree (max_gap 0.8159 vs 0.816, first parity run). The
        # floor form is the _round_half_away trick: identical IEEE ops
        # on identical operands on every engine. Values here are >= 0.
        return F.floor(c * 10000.0 + 0.5) / 10000.0

    return (
        bins.groupBy(*keys)
        .agg(
            F.sum("__n").alias("n"),
            F.sum(gap_num).alias("__ece_num"),  # integer
            F.max(gap_num / F.col("__n")).alias("__mg_scaled"),
            F.sum("__se").alias("__se_num"),  # integer
        )
        .select(
            *keys,
            "n",
            round4(F.col("__ece_num") / (F.col("n") * scale)).alias("ece"),
            round4(F.col("__mg_scaled") / scale).alias("max_gap"),
            round4(
                F.col("__se_num") / (F.col("n") * scale * scale)
            ).alias("brier"),
        )
    )
