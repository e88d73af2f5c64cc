"""Graph operators over edge-list DataFrames: k-hop expansion,
transitive closure, co-occurrence.

Reference parallel: the citation graph is edge lists (s2ag.citations 2.9B,
openalex.works_referenced_works 3.01B — SCHEMA.md:353-371) queried via
self-joins; ontology hierarchies traverse parent/child edges
(convert_ontologies.py hierarchy tables). Spark-first: graph ops =
iterative DataFrame joins (GraphFrames is the same thing packaged).

Scale: every hop is one shuffle on the join key. Transitive closure
checkpoints each iteration (breaks lineage growth) and stops at a fixed
point — on a 3B-edge citation graph you bound depth and pre-partition both
sides on the join key so hops reuse the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    FloatType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel


def _release_checkpoint(df: DataFrame | None) -> None:
    """Free the cached blocks behind a ``localCheckpoint`` result.

    ``localCheckpoint`` persists one RDD per call and ``DataFrame.
    unpersist`` does NOT release it (it only touches CacheManager entries),
    so iterative algorithms leak one cached RDD per iteration — the cache
    grows linearly with rounds (round-2/3 advice finding; measured: +1
    persistent RDD per iteration). The checkpointed RDD is reachable via
    the analyzed ``LogicalRDD`` plan node; unpersisting it there keeps the
    persistent-RDD count flat. Only call this AFTER the next iteration's
    checkpoint has been eagerly materialized: its blocks no longer read
    the previous ones (that ordering is the same no-recompute assumption
    localCheckpoint itself makes). Internal-API access is guarded — on any
    mismatch we degrade to the old leak-until-GC behavior, never to an
    error."""
    if df is None:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def k_hop(edges: DataFrame, start: DataFrame, k: int, src: str = "src", dst: str = "dst") -> DataFrame:
    """Nodes reachable from ``start`` (column ``node``) in exactly ≤k hops,
    with the minimum hop distance."""
    frontier = start.select(F.col("node"), F.lit(0).alias("hop"))
    seen = frontier
    for hop in range(1, k + 1):
        nxt = (
            frontier.join(edges, frontier.node == F.col(src))
            .select(F.col(dst).alias("node"), F.lit(hop).alias("hop"))
            .distinct()
            .join(seen.select("node"), "node", "left_anti")
        )
        if nxt.isEmpty():
            break
        seen = seen.unionByName(nxt)
        frontier = nxt
    return seen


def transitive_closure(
    edges: DataFrame,
    max_iters: int = 10,
    src: str = "src",
    dst: str = "dst",
    small_graph_rows: int | None = 65536,
) -> DataFrame:
    """All (ancestor, descendant) pairs by iterated self-join to a fixed
    point (ontology ancestor expansion). Each iteration doubles reachable
    path length; localCheckpoint truncates the exploding lineage.

    ``small_graph_rows``: bounded driver fast path. Ontology taxonomies —
    the operator's actual workload (SKOS broader*, OBO is_a walks) — are
    small by contract, yet the distributed loop pays ~2 scheduled jobs
    PER DOUBLING round just to reach its fixpoint (the sparql family's
    floor-class bench rows were 26 jobs for a 7-edge fixture). A
    ``limit(cap+1)`` probe (short-circuits, never scans a big relation)
    collects edge sets up to the cap and closes them in-process —
    ONE job total; bigger graphs fall through to the distributed loop
    unchanged. Pass None to force the distributed path. The in-process
    closure is exact (not length-capped by ``max_iters``); expansion
    never traverses a NULL endpoint, matching the join's null semantics,
    and pair dedup is null-safe, matching ``distinct()``."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("d"))
    if small_graph_rows:
        head = e.limit(small_graph_rows + 1).collect()
        if len(head) <= small_graph_rows:
            # the CLOSURE can still be quadratic in a deep chain even
            # when the edge set is small; bail to the distributed loop
            # (which spills) if the pair set outgrows driver comfort
            pair_cap = 2_000_000
            base = {(r["a"], r["d"]) for r in head}
            adj: dict = {}
            for a, d in base:
                adj.setdefault(a, set()).add(d)
            out: set = set()
            for a in {p[0] for p in base}:
                seen = set(adj[a])
                stack = [d for d in seen if d is not None]
                while stack:
                    mid = stack.pop()
                    for d2 in adj.get(mid, ()):
                        if d2 not in seen:
                            seen.add(d2)
                            if d2 is not None:
                                stack.append(d2)
                out.update((a, d) for d in seen)
                if len(out) > pair_cap:
                    out = None  # type: ignore[assignment]
                    break
            if out is not None:
                return e.sparkSession.createDataFrame(list(out), schema=e.schema)
    closure = e.distinct()
    prev_ckpt: DataFrame | None = None
    # carry the previous size in a Python variable, and materialize each
    # round's LAZY checkpoint through its count: ONE action per iteration
    # (eager-checkpoint + count was two jobs per round)
    prev_n = closure.count()
    for _ in range(max_iters):
        hop = (
            closure.alias("l")
            .join(closure.alias("r"), F.col("l.d") == F.col("r.a"))
            .select(F.col("l.a").alias("a"), F.col("r.d").alias("d"))
        )
        grown = closure.unionByName(hop).distinct().localCheckpoint(eager=False)
        n = grown.count()
        _release_checkpoint(prev_ckpt)
        prev_ckpt = grown
        if n == prev_n:
            return grown
        prev_n = n
        closure = grown
    return closure


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
    fallback_star: bool = True,
) -> DataFrame:
    """(node, component) labels — the stage that turns near-dup candidate
    PAIRS into duplicate CLUSTERS (each component keeps min(node) as its
    canonical id).

    Strategy: iterative min-label propagation first. Each iteration pushes
    every node's current label to its neighbors (one join on the
    symmetrized edge list) and takes the min (one agg); localCheckpoint
    truncates the growing lineage (and each round releases the previous
    round's checkpoint blocks, so the cache footprint is flat, not linear
    in rounds); stops at the fixpoint (no label changed). Iterations
    needed = component diameter — small for dedup clusters (near-dup
    graphs are dense blobs), so this is the cheap common case.

    If the diameter exceeds ``max_iters`` (long chains — e.g. citation
    threads), the partial labels are discarded and the computation
    switches to ``connected_components_star`` (O(log n) rounds regardless
    of diameter) instead of failing — set ``fallback_star=False`` to get
    the old fail-loudly behavior."""
    # Persist the symmetrized edge list: it is joined EVERY iteration, and
    # without a persist each round re-executes the edge relation's entire
    # upstream lineage — for dedup clustering that is the full
    # minhash/LSH candidate-pair pipeline re-run per round (the labels
    # frame was checkpoint-truncated all along, but the OTHER join input
    # never was). Pregel-style invariant cache, MEMORY_AND_DISK so a
    # 100 TB-derived pair list spills instead of OOMing.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        sym.select(F.col("a").alias("node")).distinct().withColumn("comp", F.col("node"))
    )
    converged = False
    prev_ckpt: DataFrame | None = None
    for _ in range(max_iters):
        pushed = (
            labels.join(sym, labels["node"] == sym["a"])
            .select(F.col("b").alias("node"), F.col("comp"))
        )
        # lazy checkpoint: the convergence probe below is the action that
        # materializes it, so each iteration runs ONE job (the old
        # eager-checkpoint + isEmpty pair ran two — round-3 verdict's
        # count-actions-per-iteration class of finding)
        new = (
            labels.unionByName(pushed)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .agg(
                F.sum(
                    F.when(F.col("n.comp") != F.col("o.comp"), 1).otherwise(0)
                ).alias("c")
            )
            .first()["c"]
        )
        converged = not changed
        _release_checkpoint(prev_ckpt)
        prev_ckpt = new
        labels = new
        if converged:
            break
    if not converged:
        _release_checkpoint(prev_ckpt)
        sym.unpersist()
        if fallback_star:
            # unconverged propagation labels look exactly like converged
            # ones, so they must not be returned — re-derive exactly with
            # the diameter-independent algorithm
            return connected_components_star(edges, src=src, dst=dst)
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            "iterations (component diameter exceeds max_iters); raise "
            "max_iters or use connected_components_star"
        )
    # the convergence probe already materialized the final labels into
    # checkpoint blocks (independent of the cache), so the invariant edge
    # cache can be released NOW instead of leaking for the session
    sym.unpersist()
    return labels


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round: every node u connects each strictly-LARGER
    neighbor to m = min(N(u) ∪ {u}). One groupBy + one join, both on u.

    The output is deliberately NOT distinct'd: its only consumer is
    ``_small_star``, whose min-aggregate is duplicate-insensitive and
    whose terminal distinct produces the round's set anyway — the
    removed (u,v) exchange was ~15-25% of the round (interleaved sf3
    A/B, identical labels), and the duplicate volume is bounded at one
    row per oriented input edge by construction."""
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .select("u", F.least("u", "__mv").alias("__m"))
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
    )


def _small_star(sym: DataFrame) -> DataFrame:
    """One small-star round: orient edges toward the smaller endpoint, then
    every node u connects each smaller neighbor AND itself to
    m = min of its smaller neighbors."""
    dn = sym.filter(F.col("v") < F.col("u"))
    m = dn.groupBy("u").agg(F.min("v").alias("__m"))
    nbr_edges = (
        dn.join(m, "u")
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
    )
    self_edges = m.select("u", F.col("__m").alias("v"))
    return (
        nbr_edges.unionByName(self_edges)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star_window(sym: DataFrame) -> DataFrame:
    """``_large_star`` with the per-node minimum attached by a window
    aggregate over the SAME relation instead of a groupBy + self-join.

    Why (round-14): inside the star loop the STATIC planner
    auto-broadcasts the tiny min relations (AQE is gated off at small
    scales; one round plans 3 BroadcastHashJoins fed by 4
    BroadcastExchanges — the large-star subtree is re-planned in both
    small-star legs), and each BroadcastExchange materializes as its
    own future job; at the loop's small per-round volumes those 4
    extra jobs per round cost more than the round's data work
    (26 -> 8 jobs per CC at sf0.1, identical labels, measured faster
    at sf0.1/sf1/sf3). The window form computes
    min(v) over the partition without re-reading or re-shuffling a
    second relation: one exchange on u, no join. Trade documented on
    ``connected_components_star``: AQE can split a skewed JOIN but not a
    skewed window partition, so the join form stays available."""
    w = Window.partitionBy("u")
    s = sym.withColumn("__m", F.least(F.col("u"), F.min("v").over(w)))
    return (
        s.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
    )


def _small_star_window(sym: DataFrame) -> DataFrame:
    """``_small_star`` via a window aggregate — see ``_large_star_window``.
    The self-edge leg is deduped before the union (one row per u, as the
    groupBy form emits) so the final distinct sees the same volume."""
    dn = sym.filter(F.col("v") < F.col("u"))
    w = Window.partitionBy("u")
    s = dn.withColumn("__m", F.min("v").over(w))
    nbr_edges = s.select(F.col("v").alias("u"), F.col("__m").alias("v"))
    self_edges = s.select("u", F.col("__m").alias("v")).distinct()
    return (
        nbr_edges.unionByName(self_edges)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _union_find_labels_local(us: list, vs: list) -> dict:
    """Driver-side union-find over a normalized (u >= v, distinct) edge
    list — the small-graph engine behind ``connected_components_star``'s
    bounded fast path. Attaching the larger root under the smaller keeps
    every root equal to its component's MINIMUM (the same canonical label
    the distributed rounds produce); path-halving keeps finds near-O(1).
    Self-loop rows mark isolated nodes: they label themselves unless some
    real edge also touches them. Python ``min``/``<`` on str compares by
    code point and Spark's UTF8String comparison is byte-wise — UTF-8
    byte order equals code-point order, so string labels agree."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    self_loops = []
    for u, v in zip(us, vs):
        if u == v:
            self_loops.append(u)
            continue
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                parent[ru] = rv
            else:
                parent[rv] = ru
    labels = {n: find(n) for n in parent}
    for s in self_loops:
        if s not in labels:
            labels[s] = s
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
    round_shape: str = "window",
    small_graph_edges: int = 200_000,
    small_graph_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """(node, component) labels by the large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log n) rounds INDEPENDENT of component diameter, so a
    billion-node citation chain costs ~30 rounds where min-label
    propagation would need a billion. Labels are identical to
    ``connected_components``: every node maps to its component's minimum.

    Each round is two min-per-node attachments on the node key — the
    same shuffle profile as one propagation step, just alternating edge
    orientations. Convergence = the edge multiset is a fixed set of stars
    (small-star changes nothing). Per-round localCheckpoint truncates
    lineage; the previous round's blocks are released each time.

    ``round_shape`` picks how the per-node minimum is attached
    (round-14, labels pinned identical by test at every shape/scale):

    - ``"window"`` (default): min(v) as a window aggregate over the
      round relation — no second relation, no join, and crucially no
      per-round BroadcastExchange FUTURE JOBS (the planner broadcasts
      the tiny min side every round otherwise; 26 -> 8 jobs per CC at
      sf0.1 and window won EVERY paired rep of the interleaved warm
      A/Bs on the dedup star edges, localCheckpoint-materialized input:
      3.32 vs 4.33 s sf0.1, 3.19 vs 3.90 s sf1, 5.13 vs 6.10 s sf3
      best-of-3).
    - ``"join"``: the groupBy + join form. Keep for graphs with extreme
      degree skew: AQE's skew-join splitting can break up a hot node's
      partition in the join form, while a window partition cannot be
      split. (The dedup consumer's star edges have construction-bounded
      degrees — max_bucket caps bucket size — so the default applies.)

    ``small_graph_edges`` (round-14 optimization 1, guide §3.1's
    "broadcast the side that fits" applied to graphs): when the
    normalized distinct edge set is at most this many rows, collect it
    via Arrow and label with a driver-side union-find instead of running
    the distributed rounds. Every round of the loop is a fixed ~0.4-0.5 s
    of pure job scheduling at small edge volumes (the sf0.1 dedup graph:
    2,260 edges, 8 jobs, ~4 s — measured by tools/decompose_cluster_sizes
    .py), while 200k normalized edges are a ~10 MB broadcast-class
    collect (same size discipline as autoBroadcastJoinThreshold) and a
    sub-0.3 s union-find. Labels are identical by construction (union
    attaches the larger root under the smaller, so every root is the
    component minimum) and pinned by test against the distributed rounds.
    The gate costs one count on the already-checkpointed normalized
    relation; above it, the rounds run exactly as before. Set 0 to
    disable. This is a size-adaptive engine tier, not a local-mode tune:
    at 100 TB the edge set blows past any such threshold and the O(log n)
    rounds carry the query, exactly like a sort-merge join past the
    broadcast threshold.

    Two r15 guards (round-14 ADVICE):

    - ``small_graph_bytes`` caps the COLLECTED size, not just the row
      count — with wide string node ids (long URLs/hashes) 200k edges
      can be hundreds of MB on the driver plus a comparable Python dict.
      For string/binary ids the byte estimate is ``sum(octet_length)``
      measured in the SAME single aggregation job as the row count (no
      extra pass); fixed-width ids are bounded by the row gate alone.
    - Fractional node ids (float/double) skip the fast path entirely:
      Spark's greatest/least order NaN as largest while Python NaN
      comparisons are always False, so a NaN-labeled graph could pick a
      different union-by-min root than the distributed rounds. The
      supported fast-path id types are string/integral/binary/date/
      timestamp/decimal, whose Python ``<`` agrees with Spark's
      ordering."""
    if round_shape == "window":
        large, small = _large_star_window, _small_star_window
    elif round_shape == "join":
        large, small = _large_star, _small_star
    else:
        raise ValueError(
            f"round_shape must be 'window' or 'join', got {round_shape!r}"
        )
    # One normalization both engines share: drop null endpoints (a null
    # src/dst never survived the src==dst / src!=dst comparisons of the
    # pre-r14 shape either), orient u >= v, dedup, checkpoint. Self-loops
    # stay in (they mark isolated nodes); the loop filters them out of
    # its working set below.
    norm = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    id_type = norm.schema["u"].dataType
    fast_path_type = not isinstance(id_type, (DoubleType, FloatType))
    if small_graph_edges and fast_path_type:
        if isinstance(id_type, (StringType, BinaryType)):
            gate = norm.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.octet_length(F.col("u")) + F.octet_length(F.col("v"))
                ).alias("b"),
            ).collect()[0]
            n_edges = gate["n"]
            est_bytes = int(gate["b"] or 0)
        else:
            n_edges = norm.count()
            est_bytes = n_edges * 16  # two fixed-width ids
        use_fast_path = n_edges <= small_graph_edges and (
            not small_graph_bytes or est_bytes <= small_graph_bytes
        )
    else:
        use_fast_path = False
    if use_fast_path:
        import pandas as pd

        pdf = norm.toPandas()
        _release_checkpoint(norm)
        labels = _union_find_labels_local(list(pdf["u"]), list(pdf["v"]))
        out_schema = StructType(
            [
                StructField("node", norm.schema["u"].dataType),
                StructField("comp", norm.schema["u"].dataType),
            ]
        )
        out_pdf = pd.DataFrame(
            {"node": list(labels.keys()), "comp": list(labels.values())}
        )
        return edges.sparkSession.createDataFrame(out_pdf, schema=out_schema)
    isolated = (
        edges.filter(F.col(src) == F.col(dst))
        .select(F.col(src).alias("node"))
        .distinct()
    )
    cur = norm.filter(F.col("u") != F.col("v"))
    prev_ckpt: DataFrame = norm
    converged = False
    for _ in range(max_rounds):
        sym = cur.unionByName(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star output is already oriented larger→smaller, which is
        # exactly the grouping small-star wants — no re-symmetrization.
        # Lazy checkpoint + one full-outer set-difference probe = ONE job
        # per round (both sides are distinct edge sets, so any row missing
        # from either side means the sets differ).
        nxt = small(large(sym)).localCheckpoint(eager=False)
        diff = (
            nxt.withColumn("__n", F.lit(1))
            .join(cur.withColumn("__c", F.lit(1)), ["u", "v"], "full_outer")
            .agg(
                F.sum(
                    F.when(F.col("__n").isNull() | F.col("__c").isNull(), 1).otherwise(0)
                ).alias("d")
            )
            .first()["d"]
        )
        _release_checkpoint(prev_ckpt)
        prev_ckpt = nxt
        cur = nxt
        if not diff:
            converged = True
            break
    if not converged:
        _release_checkpoint(prev_ckpt)
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} rounds"
        )
    # cur is a star forest pointing at component minima: (u → root).
    # Roots label themselves; nodes only ever seen as isolated self-loops
    # form singleton components.
    members = cur.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    singletons = (
        isolated.join(
            members.select("node").unionByName(roots.select("node")).distinct(),
            "node",
            "left_anti",
        ).withColumn("comp", F.col("node"))
    )
    return members.unionByName(roots).unionByName(singletons)


def cooccurrence(
    memberships: DataFrame,
    group_col: str,
    item_col: str,
    min_count: int = 1,
    max_group_size: int | None = None,
    num_partitions: int | None = None,
    pack_keys: bool = False,
) -> DataFrame:
    """Item pairs sharing a group (papers sharing a topic, parts sharing an
    order), with co-occurrence counts. The self-join key is the group —
    bucket sizes bound the quadratic term exactly like LSH bands.

    Plan: NOT a self-join. ``collect_set(item)`` per group (one shuffle,
    map-side partial sets, dedup included), then pairs are enumerated by
    TWO chained generators: posexplode the item array (one row per item,
    carrying the array), then explode each item's slice of LATER items.
    Both generators stream row-at-a-time through codegen, so the largest
    single value ever materialized is one group's O(n) item array (the
    same array collect_set already built) — never an O(n²) pair array.
    One more pair-count shuffle and done: two shuffles total, membership
    scanned ONCE. The self-join formulation scans and distinct-shuffles
    the relation once per join side (no ReusedExchange across a
    BroadcastExchange boundary; observed 1.8s → this shape ~1.5× faster
    at sf0.1) and streams the same O(Σ group²) pair rows anyway.

    ``max_group_size`` is the skew guard (round-1 verdict finding): one
    degenerate group — a mega-venue with 100k papers — still streams
    O(n²) pair ROWS from a single generator input; the guard is a plain
    ``size(items) <= cap`` filter after the group agg. Co-occurrence
    inside such groups is near-meaningless (everything co-occurs with
    everything), so cap when corpus skew is unknown. Same cap discipline
    as the LSH bucket guard (dedup.py).

    ``num_partitions``: width of BOTH shuffles (the group agg and the
    pair count). The pair stream is QUADRATIC in group size, so sizing
    reducers off input bytes (the usual shuffle.partitions rule)
    undersizes the expanded stage — at sf1 local[32] the input rule gave
    8 reducers and the suite ran 3.8 s; explicitly widening both
    exchanges to core count ran 1.69 s (decomposition in
    BENCH_NOTES.md r12). Default None = max(defaultParallelism,
    spark.sql.shuffle.partitions) — on a real cluster the configured
    thousands win, locally the core count wins. The explicit repartition
    trades away map-side partial aggregation, a loss only when the SAME
    pair repeats across many groups AND already co-lives in a partition
    — measured a net win here even so.

    ``pack_keys``: pack (item_a, item_b) into ONE bigint
    (``item_a << 32 | item_b``) for the count shuffle, unpacked after —
    the shuffle moves 8-byte keys and the final hash agg runs on a
    single primitive long (Spark's vectorized fast path) instead of a
    two-column row; measured ~10% at sf1. ONLY valid when item ids are
    non-negative and < 2^31 (OpenAlex work ids exceed it; TPC-H partkeys
    at bench scales do not), hence opt-in — and the contract is ENFORCED,
    not just documented: an assert_true is folded onto the grouped item
    arrays, so an out-of-range id fails the job loudly instead of
    sign-extending/overflowing into silently collided pairs (round-12
    advice). The check sits on the per-GROUP sorted array (collect_set
    output is sort_array'd), where range-validity is just first-element
    >= 0 AND last-element < 2^31 — two compares per group instead of two
    per input row (the per-row form measured 1.41 -> 1.55 s at sf1 and
    inverted the packing win; the per-group form is ~12x fewer
    evaluations on this data). NULL ids stay allowed — collect_set drops
    them on both layouts."""
    spark = memberships.sparkSession
    if num_partitions is None:
        num_partitions = max(
            spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        )
    grouped = (
        memberships.repartition(num_partitions, group_col)
        .groupBy(group_col)
        .agg(F.sort_array(F.collect_set(item_col)).alias("__items"))
    )
    if max_group_size is not None:
        grouped = grouped.filter(F.size("__items") <= max_group_size)
    if pack_keys:
        in_range = (F.size("__items") == 0) | (
            (F.element_at("__items", 1) >= 0)
            & (F.element_at("__items", F.size("__items")) < F.lit(2**31))
        )
        grouped = grouped.withColumn(
            "__items",
            F.when(
                F.assert_true(
                    in_range,
                    F.concat(
                        F.lit(
                            "cooccurrence(pack_keys=True) requires "
                            "0 <= item id < 2^31; group item range ["
                        ),
                        F.element_at("__items", 1).cast("string"),
                        F.lit(", "),
                        F.element_at("__items", F.size("__items")).cast("string"),
                        F.lit("]"),
                    ),
                ).isNull(),
                F.col("__items"),
            ),
        )
    exploded = grouped.select(
        F.col("__items"), F.posexplode("__items").alias("__i", "item_a")
    )
    later = F.expr("slice(__items, __i + 2, size(__items) - __i - 1)")
    pairs = exploded.select(F.col("item_a"), F.explode(later).alias("item_b"))
    if pack_keys:
        pk = pairs.select(
            F.shiftleft(F.col("item_a").cast("bigint"), 32)
            .bitwiseOR(F.col("item_b").cast("bigint"))
            .alias("__pk")
        )
        cnt = (
            pk.repartition(num_partitions, "__pk")
            .groupBy("__pk")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_count)
        )
        return cnt.select(
            F.shiftright(F.col("__pk"), 32).alias("item_a"),
            F.col("__pk").bitwiseAND(F.lit(0x7FFFFFFF)).alias("item_b"),
            "n_shared",
        )
    return (
        pairs.repartition(num_partitions, "item_a", "item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_count)
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    iter_round: int | None = None,
    checkpoint_every: int = 5,
    dedup_edges: bool = True,
    tol: float | None = None,
) -> DataFrame:
    """PageRank by power iteration — the second iterative graph workload
    beside connected_components (citation-impact ranking over a 100 TB
    citation graph is the scholarly-analytics flagship this serves).

    Per iteration: one rank⨝edges join keyed on the source (both sides
    hash-partition on the same key every round — the partitioning is
    reused across iterations), one groupBy(dst) partial-combinable sum,
    one left join back onto the node set for dangling-IN nodes. Simplified
    PR: rank leaving nodes with no out-edges is not redistributed (the
    standard teleport-only formulation; document the mass leak rather
    than hiding a driver-side dangling-sum action in the loop). The node
    count rides as a broadcast 1-row aggregate — no driver-side count,
    zero jobs run in this function.

    ``iter_round``: rounding applied to each iteration's rank (half-up,
    like SQL ROUND). For cross-engine oracle parity the twin must round
    identically per iteration so both engines iterate on IDENTICAL
    inputs — float summation order inside one iteration's aggregation
    then cannot accumulate across iterations. ``checkpoint_every``
    truncates lineage with a localCheckpoint every N rounds (the plan
    doubles per iteration otherwise; same discipline as
    connected_components).

    ``dedup_edges=True`` (default) treats the input as a SIMPLE graph —
    repeated (src, dst) rows collapse to one edge. A citation MULTIGRAPH
    where multiplicity should weight the contribution (cited 100× by one
    paper ≠ cited once) passes ``dedup_edges=False``: duplicate rows then
    each contribute rank/out_degree, which IS integer edge weighting
    (out-degree counts duplicates too).

    ``tol``: L1 convergence early-exit — when set, ``iters`` becomes a
    CAP and the loop stops once sum(|rank_i - rank_{i-1}|) <= tol. This
    trades the tol=None contract of ZERO in-loop driver actions for one
    delta aggregation per iteration; each iteration then materializes
    through an eager localCheckpoint (the delta action would otherwise
    replay the whole lineage every round, and the prev-rank-carrying
    build references the previous frame twice)."""
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    if dedup_edges:
        e = e.distinct()
    # The node set and the degree-annotated edge relation are read EVERY
    # iteration; without a persist each round re-derives them from the
    # raw edges (a scan + a distinct shuffle + a degree join per round —
    # 10 iterations paid 10×). Persist (columnar InMemoryRelation), NOT
    # localCheckpoint: checkpoint blocks are row-serialized InternalRows
    # and the 10 per-iteration reads through Scan ExistingRDD measured
    # 3× slower than InMemoryTableScan (r12 A/B: 1.6 s -> 4.7 s at sf1).
    # Session-lifetime is bounded: CacheManager canonicalizes plans, so
    # repeated pagerank runs over the same edges share ONE cache entry —
    # no per-run accumulation (the r11 advisor concern); MEMORY_AND_DISK
    # spills instead of OOMing.
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nn = nodes.agg(F.count("*").alias("__n"))
    deg = e.groupBy("__s").agg(F.count("*").alias("__deg"))
    e2 = e.join(deg, "__s").persist(StorageLevel.MEMORY_AND_DISK)
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    for i in range(iters):
        contrib = (
            e2.join(ranks, e2["__s"] == ranks["node"])
            .groupBy("__d")
            .agg(F.sum(F.col("rank") / F.col("__deg")).alias("__c"))
        )
        new_rank = (
            F.lit(1.0 - damping) / F.col("__n")
            + F.lit(damping) * F.coalesce(F.col("__c"), F.lit(0.0))
        )
        if iter_round is not None:
            new_rank = F.round(new_rank, iter_round)
        if tol is None:
            ranks = (
                nodes.join(contrib, nodes["node"] == contrib["__d"], "left")
                .crossJoin(F.broadcast(nn))
                .select("node", new_rank.alias("rank"))
            )
            if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iters:
                ranks = ranks.localCheckpoint(eager=False)
            continue
        # convergence mode: build from the rank frame itself (same node
        # set as `nodes`) so the previous rank rides along for the delta
        stepped = (
            ranks.withColumnRenamed("rank", "__prev")
            .join(contrib, F.col("node") == contrib["__d"], "left")
            .crossJoin(F.broadcast(nn))
            .select("node", "__prev", new_rank.alias("rank"))
            .localCheckpoint(eager=True)
        )
        delta = stepped.agg(
            F.sum(F.abs(F.col("rank") - F.col("__prev"))).alias("d")
        ).first()["d"]
        ranks = stepped.select("node", "rank")
        if delta is not None and delta <= tol:
            break
    if tol is not None:
        # convergence mode materialized the final ranks through an eager
        # checkpoint, so the invariant caches can be released NOW; the
        # tol=None result is lazy and still reads them at the caller's
        # action (one deduplicated CacheManager entry per edge relation —
        # bounded, see the persist comment above)
        nodes.unpersist()
        e2.unpersist()
    return ranks
