"""Bloom-filter membership tier for incremental / cross-release dedup.

The 100 TB problem: each new crawl batch must be deduplicated against
EVERY prior release. The exact form is an anti-join on the content
fingerprint — correct, but it shuffles the full prior-corpus key set
(billions of rows) for every incoming batch. The standard fix is a Bloom
filter over the prior fingerprints: a FIXED-SIZE bitmap (``num_bits``,
chosen once from the expected corpus size) that answers "definitely new"
with zero false negatives, so only the might-contain candidates (true
duplicates + the engineered false-positive fraction) reach the exact
verify join. The prior corpus is scanned once to BUILD the bitmap; every
probe afterwards is map-only.

Spark-first design — both halves are pure column expressions, no UDF:

- BUILD: each fingerprint's ``k`` bit positions are
  ``pmod(xxhash64(fp, seed_i), num_bits)`` (k column expressions),
  exploded and aggregated into 64-bit words with ``bit_or`` grouped by
  word index — a distributed bitmap OR whose shuffle carries at most
  ``num_bits/64`` rows out, regardless of corpus size. The driver
  collects the words into one numpy-backed array.
- PROBE: the word array rides a ONE-ROW broadcast relation (the
  _pq_book_df pattern — a broadcast join replicates a pointer, an array
  literal would be a num_bits/64-node expression tree); might-contain is
  the AND over k of ``element_at(words, pos>>6) & (1 << (pos & 63))`` —
  all inside whole-stage codegen.

Why not ``df.stat.bloomFilter``: Spark's built-in sketch builds the same
bitmap but is only probeable DRIVER-side from Python (the JVM
``mightContain`` object does not cross into executors without Scala UDF
plumbing); this formulation keeps the probe in the plan, where Catalyst
can see and push it.

No false negatives is structural (every inserted key set exactly the
bits the probe checks); false positives are bounded by the standard
``(1 - e^{-kn/m})^k`` and REMOVED by the verify join in
:func:`incremental_new_docs`, so downstream results are exact — which is
also what makes the composition oracle-able against a plain anti-join.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class BloomModel:
    """A built filter: the bitmap as little-endian 64-bit words plus the
    (num_bits, num_hashes) geometry the probe must reuse. ``words`` is a
    plain python list so it survives createDataFrame without dtype
    surprises."""

    num_bits: int
    num_hashes: int
    words: list[int]
    n_items: int

    def expected_fpp(self) -> float:
        """Theoretical false-positive probability for the built size."""
        k, m, n = self.num_hashes, self.num_bits, max(self.n_items, 1)
        return float((1.0 - np.exp(-k * n / m)) ** k)


def bloom_size_for(n_items: int, target_fpp: float = 0.01) -> tuple[int, int]:
    """Optimal (num_bits, num_hashes) for ``n_items`` keys at
    ``target_fpp``: the standard m = -n·ln p / ln²2 and k = m/n·ln 2,
    with m rounded UP to a multiple of 64 (the word size the build/probe
    use). Sizing from the actual prior-corpus count matters at scale: the
    old fixed 2^20-bit default saturates at ~10^8 keys (fpp → 1.0) and
    the tier silently degrades to the plain anti-join it exists to
    avoid."""
    if n_items < 1:
        n_items = 1
    if not (0.0 < target_fpp < 1.0):
        raise ValueError("target_fpp must be in (0, 1)")
    ln2 = float(np.log(2.0))
    m = int(np.ceil(-n_items * np.log(target_fpp) / (ln2 * ln2)))
    m = max(64, ((m + 63) // 64) * 64)
    k = max(1, int(round(m / n_items * ln2)))
    return m, k


def _positions(col: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """The k bit positions of a value: pmod(xxhash64(value, seed_i), m).
    Seeds are the hash index — deterministic across engines and runs."""
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def bloom_build(
    df: DataFrame,
    col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> BloomModel:
    """Build the filter over ``df[col]`` (NULLs skipped — a NULL
    fingerprint identifies nothing). One explode(k) + one ``bit_or``
    aggregation grouped by word index; the shuffle output is bounded by
    ``num_bits / 64`` rows at ANY corpus size (the whole point). The
    driver materializes ≤ ``num_bits/8`` bytes."""
    if num_bits % 64 != 0:
        raise ValueError("num_bits must be a multiple of 64")
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    c = F.col(col)
    src = df.filter(c.isNotNull())
    pos = F.explode(F.array(*_positions(c, num_bits, num_hashes))).alias("__pos")
    words = (
        src.select(pos)
        .select(
            (F.col("__pos") / 64).cast("long").alias("__w"),
            # dynamic shift counts need the SQL form — the python
            # F.shiftleft only takes a literal int
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))"
            ).alias("__b"),
        )
        .groupBy("__w")
        # per-word row counts ride the same aggregation so n_items needs
        # no second corpus scan (every input row explodes to exactly
        # num_hashes position rows): n = sum(counts) / k. At 100 TB the
        # prior-corpus scan IS the build cost — one pass, not two.
        .agg(F.bit_or("__b").alias("__bits"), F.count("*").alias("__n"))
        # Arrow-batched collect of the <=num_bits/64-row word relation
        # (row-based collect deserializes per-Row; toPandas is one batch)
        .toPandas()
    )
    arr = np.zeros(num_bits // 64, dtype=np.int64)
    arr[words["__w"].to_numpy(dtype=np.int64)] = words["__bits"].to_numpy(
        dtype=np.int64
    )
    total = int(words["__n"].sum())
    return BloomModel(num_bits, num_hashes, [int(x) for x in arr], total // num_hashes)


def _bloom_words_df(spark, model: BloomModel) -> DataFrame:
    # Arrow batch path (pandas input), NOT the pickled-parallelize path a
    # plain python-list createDataFrame takes: shipping the ~num_bits/64
    # word array measured 0.53 s pickled vs 0.13 s Arrow per run at m=410k
    # (round-14 decomposition — this was the dominant fixed cost of the
    # whole probe leg). With Arrow disabled the pandas input degrades to
    # the row-converted path but stays CORRECT, so no fallback branch —
    # a try/except here would only mask real errors (review finding).
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"__bloom_words": [model.words]})
    ).select(F.col("__bloom_words").cast("array<bigint>"))


def bloom_might_contain(
    df: DataFrame,
    col: str,
    model: BloomModel,
    out_col: str = "might_contain",
) -> DataFrame:
    """Tag each row with the filter's verdict: False = DEFINITELY not a
    member (the zero-false-negative guarantee); True = member or false
    positive (verify exactly downstream). Map-only — the bitmap rides a
    1-row broadcast; NULL values probe to False (a NULL fingerprint was
    never inserted)."""
    spark = df.sparkSession
    staged = df.crossJoin(F.broadcast(_bloom_words_df(spark, model)))
    c = F.col(col)
    # positions materialized as named columns so the bit tests can use
    # the SQL shiftleft form (dynamic shift counts — see bloom_build)
    pcols = {
        f"__bp{i}": p
        for i, p in enumerate(_positions(c, model.num_bits, model.num_hashes))
    }
    staged = staged.withColumns(pcols)
    bit_set = [
        F.expr(
            f"(element_at(__bloom_words, CAST(__bp{i} / 64 AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(pmod(__bp{i}, 64) AS INT))) != 0"
        )
        for i in range(model.num_hashes)
    ]
    might = bit_set[0]
    for b in bit_set[1:]:
        might = might & b
    return staged.withColumn(
        out_col, F.when(c.isNull(), F.lit(False)).otherwise(might)
    ).drop("__bloom_words", *pcols)


def incremental_new_docs(
    batch: DataFrame,
    prior: DataFrame,
    fp_col: str,
    num_bits: int | None = None,
    num_hashes: int | None = None,
    target_fpp: float = 0.01,
) -> DataFrame:
    """EXACT incremental dedup of ``batch`` against ``prior`` with the
    Bloom tier in front: rows the filter clears as definitely-new skip
    the join entirely; only might-contain candidates anti-join against
    the prior fingerprints. The result is EXACTLY
    ``batch ANTI JOIN prior ON fp`` (false positives die in the verify
    join, false negatives cannot exist) — the Bloom layer only changes
    how many rows the shuffle carries: |candidates| ≈ |true dups| +
    fpp·|batch| instead of |batch| + |prior|.

    When ``num_bits`` is not given the filter is sized from the actual
    prior count via :func:`bloom_size_for` at ``target_fpp`` (the count
    is one columnar scan of the fingerprint column — trivial next to the
    build scan it sizes, and the alternative is a fixed default that
    saturates at real corpus sizes).

    Returns the batch rows that are genuinely new, original columns
    only. Rows with a NULL fingerprint are new by definition (mirrors
    anti-join semantics: NULL never equals)."""
    if num_bits is None or num_hashes is None:
        m, k = bloom_size_for(prior.count(), target_fpp)
        num_bits = num_bits if num_bits is not None else m
        num_hashes = num_hashes if num_hashes is not None else k
    tagged = bloom_might_contain(
        batch, fp_col, bloom_build(prior, fp_col, num_bits, num_hashes)
    )
    # Both branches (clear rows kept as-is, candidates verified) consume
    # the same tagged lineage; without a persist the batch scan AND the
    # k-hash probe evaluate twice — once per union input. MEMORY_AND_DISK
    # so a giant batch spills instead of OOMing; Spark evicts it LRU
    # after the consuming action.
    from pyspark import StorageLevel

    tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)
    clear = tagged.filter(~F.col("might_contain")).drop("might_contain")
    candidates = tagged.filter(F.col("might_contain")).drop("might_contain")
    prior_keys = prior.select(F.col(fp_col).alias("__prior_fp")).distinct()
    verified = candidates.join(
        prior_keys, candidates[fp_col] == F.col("__prior_fp"), "left_anti"
    )
    return clear.unionByName(verified)
