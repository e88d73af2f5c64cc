"""Encode→ANN loop: documents → deterministic embeddings → cosine top-k →
near-dup detection. The full text-side similarity pipeline end-to-end."""

from __future__ import annotations

import pyspark.sql.functions as F

from science_datalake_spark.catalog import table
from science_datalake_spark.operators.embedding import embed
from science_datalake_spark.operators.similarity import cosine_topk


def test_embedding_deterministic_and_normalized(spark, sf_oracle):
    d = table(spark, sf_oracle, "documents").limit(40)
    e1 = embed(d, "text").select("doc_id", "embedding")
    e2 = embed(d, "text").select("doc_id", "embedding")
    rows1 = {r["doc_id"]: r["embedding"] for r in e1.collect()}
    rows2 = {r["doc_id"]: r["embedding"] for r in e2.collect()}
    assert rows1 == rows2  # deterministic
    norm = sum(v * v for v in rows1[next(iter(rows1))])
    assert abs(norm - 1.0) < 1e-5  # L2-normalized


def test_encode_then_ann_finds_planted_near_dup(spark):
    """A near-duplicate document (one word changed) must be its source's
    nearest neighbor after encode→ANN."""
    base = "spark table merge scan filter join window sort group value " * 5
    near = base.replace("filter", "select", 1)
    other = "completely different vocabulary entirely unrelated words here " * 5
    docs = spark.createDataFrame(
        [(0, base), (1, near), (2, other), (3, "short text"), (4, base + " extra tail")],
        "doc_id LONG, text STRING",
    )
    vecs = embed(docs, "text")
    top = cosine_topk(vecs, vecs.filter(F.col("doc_id") == 0), "doc_id", "embedding", k=2)
    got = [(r["cand_id"], r["sim"]) for r in top.orderBy("rank").collect()]
    assert got[0][0] in (1, 4) and got[1][0] in (1, 4)  # the two near-dups
    assert got[0][1] > 0.95
    # the unrelated doc is NOT in the top-2
    assert 2 not in {c for c, _ in got}


def test_encode_ann_on_corpus(spark, sf_oracle):
    """Full corpus path: embed all documents, top-3 neighbors for 5 query
    docs — shapes and determinism, no model dependency."""
    d = table(spark, sf_oracle, "documents")
    vecs = embed(d, "text").select("doc_id", "embedding")
    q = vecs.filter(F.col("doc_id") < 5)
    top = cosine_topk(vecs, q, "doc_id", "embedding", k=3)
    assert top.count() == 15
    again = cosine_topk(vecs, q, "doc_id", "embedding", k=3)
    assert top.exceptAll(again).count() == 0


def test_ivf_nprobe_full_probe_equals_brute_force(spark, sf_oracle):
    """n_probe = K must recover exactly the brute-force top-k (IVF is
    exact within probed buckets; probing all buckets probes everything),
    and small n_probe is a subset-quality trade, never garbage."""
    import pyspark.sql.functions as F

    from science_datalake_spark.catalog import table
    from science_datalake_spark.operators.similarity import (
        cosine_topk,
        exemplar_centroids,
        ivf_assign,
        ivf_topk,
    )

    e = table(spark, sf_oracle, "embeddings")
    cents = exemplar_centroids(e, "vec_id", "embedding", k=8)
    assigned = ivf_assign(e, cents, "vec_id", "embedding").cache()
    assert assigned.count() == e.count()  # every vector lands in a bucket
    assert assigned.select("bucket").distinct().count() <= 8

    q = e.filter(F.col("vec_id") < 6)
    full = ivf_topk(assigned, cents, q, "vec_id", "embedding", k=4, n_probe=8)
    brute = cosine_topk(e, q, "vec_id", "embedding", k=4)
    f = {(r["query_id"], r["cand_id"], r["sim"]) for r in full.collect()}
    b = {(r["query_id"], r["cand_id"], r["sim"]) for r in brute.collect()}
    assert f == b

    narrow = ivf_topk(assigned, cents, q, "vec_id", "embedding", k=4, n_probe=1)
    n = {(r["query_id"], r["cand_id"]) for r in narrow.collect()}
    assert n  # non-empty
    assert len(n) <= len(b)
    # every narrow result is a genuinely scored candidate (real similarity)
    for r in narrow.collect():
        assert -1.0 <= r["sim"] <= 1.0


def test_ivf_index_amortizes_build(spark, sf_smoke):
    """ivf_index caches (centroids, assigned) per (session, corpus,
    columns, k): the second call returns the SAME persisted assigned frame
    (no rebuild — the round-4 verdict's in-loop index-build fix); another
    k builds fresh, and eviction keeps the registry bounded."""
    from science_datalake_spark.catalog import table
    from science_datalake_spark.operators import similarity as S

    e = table(spark, sf_smoke, "embeddings")
    c1, a1 = S.ivf_index(e, "vec_id", "embedding", k=4)
    c2, a2 = S.ivf_index(e, "vec_id", "embedding", k=4)
    assert a1 is a2 and c1 is c2
    assert a1.storageLevel.useMemory  # persisted, eagerly materialized
    _, a3 = S.ivf_index(e, "vec_id", "embedding", k=3)
    assert a3 is not a1
    # eviction: four more indexes fill the cap of 4 and unpersist the
    # oldest. Fill entries use other k values so their plans can't alias
    # a1's in the cache manager's plan-equality lookup.
    for k in range(5, 9):
        S.ivf_index(e, "vec_id", "embedding", k=k)
    assert not a1.storageLevel.useMemory  # evicted and unpersisted


def test_ivf_and_pq_caches_follow_rewritten_embeddings(spark, sf_oracle, tmp_path):
    """The IVF index and PQ codebook cache entries are keyed by the
    corpus plan, which a rewrite of embeddings.parquet in place does not
    change; the files' signature must rebuild them. After the vectors are
    rotated by one row, sim_ivf_topk and sim_ivfpq_topk in the same
    session equal a run with the registry cleared (and differ from the
    first run, so the rewrite is seen)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from science_datalake_spark import cache
    from science_datalake_spark.queries import load_all, load_aux

    registry = {**load_aux()[0], **load_all()[0]}
    names = ("sim_ivf_topk", "sim_ivfpq_topk")
    sf = str(tmp_path)
    path = str(tmp_path / "embeddings.parquet")
    shutil.copy(f"{sf_oracle}/embeddings.parquet", path)

    def run():
        return {n: [tuple(r) for r in registry[n](spark, sf).collect()] for n in names}

    first = run()
    tbl = pq.read_table(path)
    vecs = tbl.column("embedding").combine_chunks()
    rotated = pa.concat_arrays([vecs.slice(1), vecs.slice(0, 1)])
    i = tbl.schema.get_field_index("embedding")
    pq.write_table(tbl.set_column(i, tbl.schema.field(i), rotated), path)
    after = run()
    cache.clear()
    cleared = run()
    assert after == cleared
    assert all(after[n] != first[n] for n in names)


def test_ivf_index_write_read_roundtrip_and_pruning(spark, sf_smoke, tmp_path):
    """Persisted IVF layout: results through the written index equal the
    in-memory index exactly, and the bucket-partitioned assignment prunes
    directories on a probe-shaped scan (PartitionFilters in the plan)."""
    import pyspark.sql.functions as F

    from science_datalake_spark.catalog import table
    from science_datalake_spark.operators.similarity import (
        exemplar_centroids,
        ivf_assign,
        ivf_index_read,
        ivf_index_write,
        ivf_topk,
    )

    e = table(spark, sf_smoke, "embeddings")
    path = str(tmp_path / "ivf")
    ivf_index_write(e, "vec_id", "embedding", path, k=4)

    cents_mem = exemplar_centroids(e, "vec_id", "embedding", k=4)
    assigned_mem = ivf_assign(e, cents_mem, "vec_id", "embedding")
    cents_disk, assigned_disk = ivf_index_read(spark, path)

    q = e.filter(F.col("vec_id") < 5)
    got_mem = ivf_topk(assigned_mem, cents_mem, q, "vec_id", "embedding", k=3)
    got_disk = ivf_topk(assigned_disk, cents_disk, q, "vec_id", "embedding", k=3)
    assert sorted(map(tuple, got_mem.collect())) == sorted(
        map(tuple, got_disk.collect())
    )

    # the partitioned layout is what makes probes cheap: a bucket-keyed
    # read must hit the partition filter, not scan every directory
    one_bucket = assigned_disk.filter(F.col("bucket") == 0)
    plan = one_bucket._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan

    # the probe join itself must prune too: with broadcast probes, dynamic
    # partition pruning injects the probed-bucket IN-filter into the scan
    probe_plan = got_disk._jdf.queryExecution().sparkPlan().toString()
    assert "dynamicpruning" in probe_plan, probe_plan


def test_sim_ivf_durable_query_matches_in_memory(spark, sf_smoke):
    """The registered sim_ivf_durable query (write -> read -> probe) must
    return exactly sim_ivf_topk's rows — the shared-oracle contract —
    including on a second call that skips the build (read-only path)."""
    from science_datalake_spark.queries import load_all, load_aux
    from science_datalake_spark.queries.llm_pipeline import _ivf_durable_path
    import shutil

    # rotation-proof: a query lives in exactly one of the two registries
    # at any given round (tools/rotation_audit.py moves them)
    aq = {**load_aux()[0], **load_all()[0]}
    shutil.rmtree(_ivf_durable_path(sf_smoke), ignore_errors=True)
    want = sorted(map(tuple, aq["sim_ivf_topk"](spark, sf_smoke).collect()))
    first = sorted(map(tuple, aq["sim_ivf_durable"](spark, sf_smoke).collect()))
    again = sorted(map(tuple, aq["sim_ivf_durable"](spark, sf_smoke).collect()))
    assert first == want and again == want


# ---------------------------------------------------------------------------
# Exact tiers: the capped driver collect picks the numpy tier (at or under
# the cap) or the distributed column-expression tier (over it)
# ---------------------------------------------------------------------------


def _at_and_over_cap(monkeypatch, cap_name, n_queries, build):
    """``build()``'s sorted rows with the driver cap ``cap_name`` at
    ``n_queries`` (the numpy tier), then at ``n_queries - 1`` (the same
    query relation, now over the cap: the distributed tier). Each plan is
    checked for the tier it names."""
    from science_datalake_spark.operators import similarity as S
    from tests import plan_helpers as plans

    out = []
    for cap, numpy_tier in ((n_queries, True), (n_queries - 1, False)):
        monkeypatch.setattr(S, cap_name, cap)
        df = build()
        assert ("MapInPandas" in plans.physical_plan(df)) == numpy_tier, cap
        out.append(sorted(map(tuple, df.collect())))
    return out


def test_cosine_topk_engines_equal_on_fixture(spark, sf_oracle, monkeypatch):
    """The numpy tier must return row-for-row what the distributed
    column-expression tier returns on the real fixture (the
    rounded-to-4-digits boundary contract)."""
    e = table(spark, sf_oracle, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    np_rows, sql_rows = _at_and_over_cap(
        monkeypatch, "_COSINE_MAX_QUERY_ROWS", 5,
        lambda: cosine_topk(e, q, "vec_id", "embedding", k=10),
    )
    assert np_rows == sql_rows
    assert len(np_rows) == 50


def test_cosine_topk_engines_equal_on_degenerate_rows(spark, monkeypatch):
    """NULL, zero-norm, and wrong-length vectors must produce identical
    (NULL-sim, nulls-last, cand_id-tiebreak) rankings in both tiers —
    the numpy tier reproduces zip_with-pads-NULL / divide-by-zero-is-NULL
    semantics, not just the happy path."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, None),                 # NULL vector -> NULL sim
        (3, [0.0, 0.0, 0.0]),      # zero norm -> NULL sim
        (4, [1.0, 0.0]),           # ragged -> NULL sim
        (5, [-1.0, 0.0, 0.0]),
        (6, [0.5, 0.5]),           # ragged, the same width as 4
    ]
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    # a real, a NULL, a zero-norm and a ragged query: the ragged one
    # scores NULL against the equally ragged row 6 on both tiers too
    q = e.filter(F.col("vec_id").isin(0, 2, 3, 4))
    b, a = _at_and_over_cap(
        monkeypatch, "_COSINE_MAX_QUERY_ROWS", 4,
        lambda: cosine_topk(e, q, "vec_id", "embedding", k=4),
    )
    assert b == a and len(b) == 16
    assert all(sim is None for qid, _, sim, _ in b if qid != 0)


def test_pq_encode_decode_matches_numpy_mirror(spark):
    """PQ codes and reconstructions must match a plain-numpy mirror of
    the spec (per-subspace argmin of 6dp-rounded squared L2, centroid-
    index tie-break), and NULL/ragged vectors must code and reconstruct
    to NULL — never to centroid 0."""
    import numpy as np

    from science_datalake_spark.operators.embedding import (
        pq_codebooks,
        pq_decode,
        pq_encode,
    )

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(8).astype(float).tolist()) for i in range(40)]
    rows.append((100, None))
    rows.append((101, [1.0, 2.0]))  # ragged (short)
    # OVER-length (round-9 ADVICE): a per-subspace `size >= (j+1)*w`
    # guard would silently encode the first d dims; the wrong-length-to-
    # NULL contract demands NULL
    rows.append((102, rng.randn(12).astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    books = pq_codebooks(df, "vec_id", "embedding", m=4, k=5)
    assert len(books) == 4 and all(len(b) == 5 for b in books)
    got = {
        r["vec_id"]: (r["pq_code"], r["pq_vec"])
        for r in pq_decode(pq_encode(df, books), books).collect()
    }
    B = [np.array(b) for b in books]
    for i, v in rows:
        code, rec = got[i]
        if v is None or len(v) != 8:
            assert code is None and rec is None, (i, code, rec)
            continue
        vv = np.array(v)
        want = [
            int(np.argmin(np.round(((B[j] - vv[j * 2:(j + 1) * 2]) ** 2).sum(axis=1), 6)))
            for j in range(4)
        ]
        assert code == want, (i, code, want)
        assert np.allclose(rec, np.concatenate([B[j][code[j]] for j in range(4)]))


def test_pq_encode_is_map_only(spark):
    """The encode plan must contain no shuffle: the codebook rides a
    broadcast, the argmin is a projection — the 100 TB contract."""
    from science_datalake_spark.operators.embedding import pq_codebooks, pq_encode

    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1), 0.0, 1.0]) for i in range(20)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    books = pq_codebooks(df, "vec_id", "embedding", m=2, k=3)
    plan = (
        pq_encode(df, books)._jdf.queryExecution().sparkPlan().toString()
    )
    assert "Exchange" not in plan.replace("BroadcastExchange", ""), plan


def test_pq_codebooks_validation(spark):
    import pytest

    from science_datalake_spark.operators.embedding import pq_codebooks

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="divide"):
        pq_codebooks(df, "vec_id", "embedding", m=2, k=1)
    empty = df.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="non-empty"):
        pq_codebooks(empty, "vec_id", "embedding", m=3, k=1)


def test_cosine_topk_numpy_query_cap(spark, monkeypatch):
    """The numpy tier's driver collect of the query side is bounded: the
    one ``limit(cap+1)`` collect job that picks the tier never pulls more
    than cap+1 rows, and an over-cap query relation runs the distributed
    tier with the same rows instead of raising."""
    from science_datalake_spark.operators import similarity as S

    e = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(seed=1), F.rand(seed=2)).alias("embedding"),
    )
    assert S._COSINE_MAX_QUERY_ROWS == 65536
    seen = []
    probe = S._probe_query_side
    monkeypatch.setattr(
        S, "_probe_query_side",
        lambda *a: seen.append(len(rows := probe(*a))) or rows,
    )
    at_cap, over_cap = _at_and_over_cap(
        monkeypatch, "_COSINE_MAX_QUERY_ROWS", 20,
        lambda: cosine_topk(e, e, "vec_id", "embedding", k=2),
    )
    assert seen == [20, 20]  # at the cap 20 rows; over it cap+1 = 20
    assert at_cap == over_cap and len(at_cap) == 40


def test_knn_embedding_join_engines_equal(spark, sf_oracle, monkeypatch):
    """knn_embedding_join's two tiers return the same rows on the real
    fixture: 10 left rows at a cap of 10 (numpy), then at 9 (distributed)."""
    from science_datalake_spark.operators.linkage import knn_embedding_join

    e = table(spark, sf_oracle, "embeddings")
    left = e.filter(F.col("vec_id") < 10)
    right = e.filter(F.col("vec_id") >= 10)
    b, a = _at_and_over_cap(
        monkeypatch, "_COSINE_MAX_QUERY_ROWS", 10,
        lambda: knn_embedding_join(
            left, right, "vec_id", "vec_id", "embedding", "embedding", threshold=0.2
        ),
    )
    assert b == a and len(b) == 10


def test_knn_embedding_join_tiers_agree_on_degenerate_rows(spark, monkeypatch):
    """NULL, ragged and zero-norm vectors on BOTH sides: a NULL sim never
    passes the threshold on either tier, so the left rows with no finite
    candidate drop out identically."""
    from science_datalake_spark.operators.linkage import knn_embedding_join

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, None),
        (3, [0.0, 0.0, 0.0]),
        (4, [1.0, 0.0]),
        (5, [-1.0, 0.5, 0.0]),
        (10, [0.8, 0.2, 0.1]),
        (11, None),
        (12, [0.0, 0.0, 0.0]),
        (13, [1.0, 1.0]),
        (14, [-0.5, 0.5, 0.2]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    left = df.filter(F.col("vec_id") < 10)
    right = df.filter(F.col("vec_id") >= 10)
    b, a = _at_and_over_cap(
        monkeypatch, "_COSINE_MAX_QUERY_ROWS", 6,
        lambda: knn_embedding_join(
            left, right, "vec_id", "vec_id", "embedding", "embedding", threshold=-2.0
        ),
    )
    assert b == a
    assert [r[0] for r in b] == [0, 1, 5]


def _walk_plan(node, out):
    out.append(node)
    kids = node.children()
    for i in range(kids.size()):
        _walk_plan(kids.apply(i), out)


def test_knn_label_vote_never_builds_on_corpus(spark, sf_smoke):
    """Round-7 verdict "What's wrong" #1: the labels/truth projections of
    the FULL embeddings corpus must never be a broadcast build side (an
    executor OOM at real corpus scale). Every BroadcastExchange in the
    plan must sit on a k-bounded relation — i.e. its subtree contains a
    cardinality-reducing node (Window top-k / aggregate / the numpy
    partial-top-k MapInPandas), never a bare project-of-scan."""
    from science_datalake_spark.queries import load_all, load_aux

    aq = {**load_aux()[0], **load_all()[0]}
    df = aq["sim_knn_label_vote"](spark, sf_smoke)
    nodes: list = []
    # sparkPlan() is pre-exchange-insertion: broadcasts appear as the
    # buildSide of a BroadcastHashJoin, not yet as BroadcastExchange
    _walk_plan(df._jdf.queryExecution().sparkPlan(), nodes)
    reducing = ("Window", "Aggregate", "MapInPandas", "FlatMapGroupsInPandas")
    checked = 0
    for n in nodes:
        if "BroadcastHashJoin" not in n.nodeName():
            continue
        checked += 1
        build = n.children().apply(0 if "BuildLeft" in n.buildSide().toString() else 1)
        sub: list = []
        _walk_plan(build, sub)
        assert any(
            any(tag in s.nodeName() for tag in reducing) for s in sub
        ), f"corpus-side broadcast build: {build.treeString()}"
    # round 13: the labels broadcast join is GONE (carry_cols rides the
    # label through the cosine scan), leaving only winners x truth
    assert checked >= 1  # the hint exists and points at the small side


# ---------------------------------------------------------------------------
# int8 quantization (round 8)
# ---------------------------------------------------------------------------


def test_quantize_int8_roundtrip_and_edge_cases(spark):
    """Codes bounded to [-127, 127], reconstruction error <= scale/2 per
    element, zero vectors get scale 0 / all-zero codes, NULL embeddings
    pass through untouched."""
    import pyspark.sql.functions as F

    from science_datalake_spark.operators.embedding import (
        dequantize_int8,
        quantize_int8,
    )

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.001, 0.002, -0.003, 0.0015]),
        (3, [0.0, 0.0, 0.0, 0.0]),   # zero vector
        (4, None),                    # NULL embedding
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    q = quantize_int8(df)
    by_id = {r["vec_id"]: r for r in q.collect()}
    assert by_id[3]["q_scale"] == 0.0 and by_id[3]["q_vec"] == [0, 0, 0, 0]
    assert by_id[4]["q_vec"] is None and by_id[4]["q_scale"] == 0.0
    # the max-magnitude element maps to exactly +/-127
    assert by_id[1]["q_vec"][1] == -127
    assert all(-127 <= c <= 127 for c in by_id[1]["q_vec"])
    # roundtrip error bound: |v - q*s| <= s/2
    deq = dequantize_int8(q.filter(F.col("embedding").isNotNull()), out_col="recon")
    for r in deq.collect():
        s = r["q_scale"]
        for a, b in zip(r["embedding"], r["recon"]):
            assert abs(a - b) <= s / 2 + 1e-9, (r["vec_id"], a, b, s)


def test_quantize_int8_map_only_plan(spark):
    """Quantization must not shuffle — it is a narrow projection."""
    from tests import plan_helpers as plans
    from science_datalake_spark.operators.embedding import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.1, 0.2])], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    plan = plans.physical_plan(quantize_int8(df))
    assert "Exchange" not in plan


def test_quantized_ann_recall(spark):
    """int8 round-trip is near-lossless for ANN: top-1 neighbors over
    dequantized vectors match the float top-1 on the synthetic corpus."""
    import pyspark.sql.functions as F

    from science_datalake_spark.operators.embedding import (
        dequantize_int8,
        quantize_int8,
    )
    from science_datalake_spark.operators.similarity import cosine_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )
    qv = e.filter(F.col("vec_id") % 50 == 0)  # small query set
    exact = {
        r["query_id"]: r["cand_id"]
        for r in cosine_topk(e, qv, "vec_id", "embedding", k=1).collect()
    }
    deq = dequantize_int8(quantize_int8(e)).select("vec_id", "embedding")
    approx = {
        r["query_id"]: r["cand_id"]
        for r in cosine_topk(deq, qv.select("vec_id", "embedding"), "vec_id", "embedding", k=1).collect()
    }
    assert exact.keys() == approx.keys() and len(exact) > 0
    agree = sum(exact[q] == approx[q] for q in exact)
    assert agree / len(exact) >= 0.9, (agree, len(exact))


def test_int8_fidelity_matches_numpy_mirror(spark):
    """int8_fidelity must give the degenerates the contract names (NULL
    vector/codes/scale, empty arrays, length mismatch → all-NULL
    metrics; zero-norm → NULL cosine) and match a plain-numpy mirror of
    the spec on every other row."""
    import math

    import numpy as np

    from science_datalake_spark.operators.embedding import (
        int8_fidelity,
        quantize_int8,
    )

    rng = np.random.RandomState(11)
    rows = [(i, (rng.randn(16) * (1 + i)).astype(np.float32).tolist()) for i in range(25)]
    rows.append((100, [0.0] * 16))  # zero vector: scale 0, cosine NULL
    rows.append((101, None))        # NULL embedding
    base = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    qd = quantize_int8(base)
    # degenerates quantize_int8 can't produce: length mismatch, NULL scale
    extra = spark.createDataFrame(
        [
            (200, [1.0, 2.0], 0.02, [50, 100, 127]),   # len(v) != len(q)
            (201, [1.0, 2.0], None, [64, 127]),        # NULL scale
            (202, [], 0.0, []),                        # empty arrays
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>, q_scale DOUBLE, q_vec ARRAY<TINYINT>",
    )
    full = qd.unionByName(extra)

    cols = ("vec_id", "mse", "maxe", "cosf")
    got_np = {r["vec_id"]: r for r in int8_fidelity(full).select(*cols).collect()}
    assert set(got_np) == set(range(25)) | {100, 101, 200, 201, 202}

    # contract rows
    for vid in (101, 200, 201, 202):
        assert (got_np[vid]["mse"], got_np[vid]["maxe"], got_np[vid]["cosf"]) == (
            None, None, None
        ), vid
    assert got_np[100]["mse"] == 0.0 and got_np[100]["maxe"] == 0.0
    assert got_np[100]["cosf"] is None  # zero norm

    # happy-path mirror
    by_id = {r["vec_id"]: r for r in qd.collect()}
    for vid in range(25):
        v = np.asarray(by_id[vid]["embedding"], dtype=np.float64)
        dq = np.asarray(by_id[vid]["q_vec"], dtype=np.float64) * by_id[vid]["q_scale"]
        e = v - dq
        assert math.isclose(
            got_np[vid]["mse"], round(float((e * e).sum() / len(v)), 10), abs_tol=2e-10, rel_tol=0
        ), vid
        assert math.isclose(got_np[vid]["maxe"], float(np.abs(e).max()), abs_tol=0, rel_tol=1e-12), vid
        cos = float(np.dot(v, dq) / (np.linalg.norm(v) * np.linalg.norm(dq)))
        assert math.isclose(got_np[vid]["cosf"], round(cos, 8), abs_tol=2e-8, rel_tol=0), vid


def test_int8_fidelity_is_map_only(spark):
    """int8_fidelity must stay shuffle-free: one MapInPandas pass over
    the quantized rows."""
    from tests import plan_helpers as plans
    from science_datalake_spark.operators.embedding import (
        int8_fidelity,
        quantize_int8,
    )

    df = spark.createDataFrame(
        [(1, [0.1, -0.4, 0.25])], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    plan = plans.physical_plan(int8_fidelity(quantize_int8(df)))
    assert "Exchange" not in plan and "MapInPandas" in plan


def test_late_interaction_topk_matches_hand_maxsim(spark):
    """MaxSim on a tiny hand-checkable instance: 2 queries x 3 docs, 2
    token vectors of dim 2 stored flat. score(q,d) = sum over q tokens of
    max over d tokens of dot."""
    from science_datalake_spark.operators.similarity import late_interaction_topk

    # tokens: q1 = [1,0],[0,1]; q2 = [2,0],[0,0]
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 1.0]), (2, [2.0, 0.0, 0.0, 0.0])],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    # d10 tokens [1,0],[0,2]; d11 [0,1],[1,1]; d12 [-1,0],[0,-1]
    docs = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0, 2.0]),
            (11, [0.0, 1.0, 1.0, 1.0]),
            (12, [-1.0, 0.0, 0.0, -1.0]),
        ],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    out = late_interaction_topk(docs, queries, "vec_id", "embedding", num_tokens=2, k=2)
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in out.collect()
    }
    # q1: d10 = max(1,0)+max(0,2) = 3; d11 = max(0,1)+max(1,1) = 2;
    #     d12 = max(-1,0)+max(0,-1) = 0
    assert got[(1, 1)] == (10, 3.0)
    assert got[(1, 2)] == (11, 2.0)
    # q2: d10 = max(2,0)+max(0,0) = 2; d11 = max(0,2)+0 = 2 (tie -> doc_id
    #     asc puts d10 first); d12 = max(-2,0)+0 = 0
    assert got[(2, 1)] == (10, 2.0)
    assert got[(2, 2)] == (11, 2.0)
    assert len(got) == 4


def test_late_interaction_engines_agree(spark, monkeypatch):
    """The BLAS tier and the HOF column-expression tier must return the
    IDENTICAL ranked result (both round half-away to 6 dp before
    ranking) — the tier contract shared with cosine_topk."""
    import random

    from science_datalake_spark.operators.similarity import late_interaction_topk

    rng = random.Random(13)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(12)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    docs = df.filter("vec_id >= 6")
    queries = df.filter("vec_id < 6")
    ra, rb = _at_and_over_cap(
        monkeypatch, "_LATE_INTERACTION_MAX_QUERY_ROWS", 6,
        lambda: late_interaction_topk(
            docs, queries, "vec_id", "embedding", num_tokens=3, k=4
        ),
    )
    assert ra == rb
    assert len(ra) == 6 * 4


def test_cosine_topk_carry_cols_both_engines(spark, monkeypatch):
    """carry_cols rides corpus metadata through the scoring scan into the
    top-k output — identical rows to the join-it-back-on formulation, on
    both tiers (the sim_knn_label_vote round-13 rework)."""
    import random

    from science_datalake_spark.operators.similarity import cosine_topk

    rng = random.Random(23)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(8)], f"lab{i % 3}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>, label STRING")
    q = df.filter("vec_id < 4")
    tiers = _at_and_over_cap(
        monkeypatch, "_COSINE_MAX_QUERY_ROWS", 4,
        lambda: cosine_topk(
            df, q, "vec_id", "embedding", k=3, carry_cols=["label"]
        ).select("query_id", "cand_id", "sim", "label"),
    )
    plain = _at_and_over_cap(
        monkeypatch, "_COSINE_MAX_QUERY_ROWS", 4,
        lambda: cosine_topk(df, q, "vec_id", "embedding", k=3).select(
            "query_id", "cand_id", "sim"
        ),
    )
    for got, no_carry in zip(tiers, plain):
        # carried label must equal the candidate's own label
        assert all(lab == f"lab{cid % 3}" for _, cid, _, lab in got)
        # and the ranked (query, cand, sim) triples must be unchanged vs
        # the no-carry call
        assert [(a, b, c) for a, b, c, _ in got] == no_carry
    assert tiers[0] == tiers[1] and len(tiers[0]) == 12  # tiers agree
    import pytest

    with pytest.raises(ValueError, match="carry_cols"):
        cosine_topk(df, q, "vec_id", "embedding", k=3, carry_cols=["sim"])


def test_late_interaction_null_ragged_rank_last_when_scores_negative(spark, monkeypatch):
    """The round-12 advice scenario: raw MaxSim has no normalization, so a
    NULL/ragged doc vector zero-filled by the matrix builder would score
    exactly 0.0 and BEAT every real doc whenever all real dot products
    are negative. Both tiers must rank NULL and ragged docs last with a
    NULL score instead."""
    from science_datalake_spark.operators.similarity import late_interaction_topk

    queries = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 1.0])], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    docs = spark.createDataFrame(
        [
            # q tokens [1,0],[0,1]; d10 tokens [-1,-1],[-2,-1]:
            # m0 = max(-1,-2) = -1, m1 = max(-1,-1) = -1 -> score -2
            (10, [-1.0, -1.0, -2.0, -1.0]),
            # d11 tokens [-3,-2],[-2,-3]: m0 = -2, m1 = -2 -> score -4
            (11, [-3.0, -2.0, -2.0, -3.0]),
            (12, None),                      # NULL vec
            (13, [5.0, 5.0]),                # ragged (len 2 != 4)
        ],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    for rows in _at_and_over_cap(
        monkeypatch, "_LATE_INTERACTION_MAX_QUERY_ROWS", 1,
        lambda: late_interaction_topk(
            docs, queries, "vec_id", "embedding", num_tokens=2, k=4
        ).select("rank", "doc_id", "score"),
    ):
        # null/ragged docs take ranks 3-4 (doc_id asc) with NULL scores
        assert rows == [(1, 10, -2.0), (2, 11, -4.0), (3, 12, None), (4, 13, None)]


def test_late_interaction_ragged_mask_num_tokens_col(spark, monkeypatch):
    """num_tokens_col excludes padding token positions from the MaxSim
    max on BOTH tiers. d10 has 1 real token [-1,0] padded with a zero
    token: unmasked, the zero pad wins the max (0 > -1); masked, the
    score is the real token's dot. A doc with 0 real tokens scores NULL,
    ranked last."""
    from science_datalake_spark.operators.similarity import late_interaction_topk

    queries = spark.createDataFrame(
        [(1, [1.0, 0.0, 1.0, 0.0])], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    docs = spark.createDataFrame(
        [
            (10, [-1.0, 0.0, 0.0, 0.0], 1),  # masked: -1 + -1 = -2
            (11, [-3.0, 0.0, -4.0, 0.0], 2),  # max(-3,-4)*2 = -6
            (12, [9.0, 9.0, 9.0, 9.0], 0),    # no real tokens -> NULL
        ],
        "vec_id INT, embedding ARRAY<DOUBLE>, n_tok INT",
    )
    for rows in _at_and_over_cap(
        monkeypatch, "_LATE_INTERACTION_MAX_QUERY_ROWS", 1,
        lambda: late_interaction_topk(
            docs, queries, "vec_id", "embedding", num_tokens=2, k=3,
            num_tokens_col="n_tok",
        ).select("rank", "doc_id", "score"),
    ):
        assert rows == [(1, 10, -2.0), (2, 11, -6.0), (3, 12, None)]


def test_late_interaction_engines_agree_with_nulls(spark, monkeypatch):
    """Tier agreement on a fixture that CONTAINS null, ragged and
    zero-padded rows on both sides (the round-12 engines-agree test used
    only clean vectors, which is exactly why the null-vector divergence
    survived review). The ragged query 7 matches the width of the ragged
    docs, and still scores NULL on both tiers."""
    import random

    from science_datalake_spark.operators.similarity import late_interaction_topk

    rng = random.Random(17)
    rows = []
    for i in range(50):
        if i % 11 == 3:
            vec = None
        elif i % 11 == 7:
            vec = [1.0, 2.0]  # ragged
        else:
            # shift negative so zero-fill bugs surface as rank changes
            vec = [round(rng.uniform(-2, -0.1), 3) for _ in range(12)]
        rows.append((i, vec, rng.randint(0, 3)))
    df = spark.createDataFrame(
        rows, "vec_id INT, embedding ARRAY<DOUBLE>, n_tok INT"
    )
    docs = df.filter("vec_id >= 6")
    queries = df.filter("vec_id < 6 OR vec_id = 7")
    for ntc in (None, "n_tok"):
        ra, rb = _at_and_over_cap(
            monkeypatch, "_LATE_INTERACTION_MAX_QUERY_ROWS", 7,
            lambda: late_interaction_topk(
                docs, queries, "vec_id", "embedding", num_tokens=3, k=4,
                num_tokens_col=ntc,
            ),
        )
        assert ra == rb, ntc
        assert len(ra) == 7 * 4, ntc
        assert all(score is None for qid, _, score, _ in ra if qid in (3, 7)), ntc


def test_pq_codebooks_session_cache(spark):
    """pq_codebooks memoizes the codebook per (app, corpus, columns, m,
    k) — the ivf_index contract: repeat PQ queries measure
    encoding/probing, not a TakeOrdered rebuild per construction.
    Different m/k never share, and a filtered corpus gets its own entry."""
    from science_datalake_spark.operators.embedding import pq_codebooks

    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1), 0.5, 1.5]) for i in range(6)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    a = pq_codebooks(df, "vec_id", "embedding", m=2, k=3)
    b = pq_codebooks(df, "vec_id", "embedding", m=2, k=3)
    assert a is b
    c = pq_codebooks(df, "vec_id", "embedding", m=2, k=2)
    assert c is not a and len(c[0]) == 2
    d = pq_codebooks(df.filter(F.col("vec_id") >= 0), "vec_id", "embedding", m=2, k=3)
    assert d is not a and d == a


def test_vector_caches_key_on_corpus_and_columns(spark, sf_smoke):
    """ivf_index and pq_codebooks key each entry on the corpus itself and
    on its columns: two vector columns of one corpus, and a filtered
    variant of it, each get their own entry and their own result, and
    equal calls — the corpus built again by a second table() call
    included — return the same object."""
    from science_datalake_spark.catalog import table
    from science_datalake_spark.operators import similarity as S
    from science_datalake_spark.operators.embedding import pq_codebooks

    def corpus():
        e = table(spark, sf_smoke, "embeddings").filter(F.col("embedding").isNotNull())
        return e.withColumn("reversed", F.reverse("embedding"))

    e = corpus()
    odd = e.filter(F.col("vec_id") % 2 == 1)
    calls = [(e, "embedding"), (e, "reversed"), (odd, "embedding")]

    first = [S.ivf_index(df, "vec_id", col, k=4) for df, col in calls]
    assert len({id(assigned) for _, assigned in first}) == 3
    for (df, col), (cents, assigned) in zip(calls, first):
        want = {r["vec_id"]: [float(x) for x in r[col]] for r in df.collect()}
        got = {r["vec_id"]: list(r["vec"]) for r in assigned.collect()}
        assert got == want, col
        assert S.ivf_index(df, "vec_id", col, k=4)[1] is assigned
    assert S.ivf_index(corpus(), "vec_id", "reversed", k=4)[1] is first[1][1]

    books = [pq_codebooks(df, "vec_id", col, m=4, k=3) for df, col in calls]
    assert books[0] != books[1] and books[0] != books[2]
    rows = sorted(e.collect(), key=lambda r: r["vec_id"])
    assert books[1][0][0] == [float(x) for x in rows[0]["reversed"][:16]]
    for (df, col), b in zip(calls, books):
        assert pq_codebooks(df, "vec_id", col, m=4, k=3) is b
    assert pq_codebooks(corpus(), "vec_id", "embedding", m=4, k=3) is books[0]


def test_cosine_top1_prefix_dims_equals_independent_passes(spark):
    """The fused matryoshka engine (one corpus pass scoring the full
    retrieval plus prefix-sliced variants) is row-identical, per variant,
    to independent knn_embedding_join calls over F.slice'd inputs —
    including the _vec_matrix NULL/ragged contract: a corpus row whose
    (sliced) length differs from the query matrix width scores NULL and
    is dropped by the threshold, exactly as in the per-pass engine.
    Fixture includes NULL vectors, a short (ragged) vector, an over-long
    vector, and a zero vector on the corpus side."""
    from science_datalake_spark.operators.linkage import knn_embedding_join
    from science_datalake_spark.operators.similarity import cosine_top1_prefix_dims

    dim = 8
    rows = []
    # queries: ids 0-4 (one NULL vector among them)
    rows.append((0, [float(i + 1) for i in range(dim)]))
    rows.append((1, [1.0, -2.0, 3.0, -4.0, 5.0, -6.0, 7.0, -8.0]))
    rows.append((2, None))
    rows.append((3, [0.5] * dim))
    rows.append((4, [9.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]))
    # corpus: ids 10+ — normal, ragged-short (len 4), over-long (len 10),
    # zero vector, NULL
    rows.append((10, [float(dim - i) for i in range(dim)]))
    rows.append((11, [2.0, 2.0, 2.0, 2.0]))
    rows.append((12, [1.0] * 10))
    rows.append((13, [0.0] * dim))
    rows.append((14, None))
    rows.append((15, [-1.0, 4.0, -2.0, 3.0, 0.0, 1.0, 2.0, -3.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 10)
    c = df.filter(F.col("vec_id") >= 10)

    dims = [2, 4, None]
    fused = {
        (r["d"], r["query_id"]): (r["cand_id"], r["sim"])
        for r in cosine_top1_prefix_dims(
            c, q, "vec_id", "embedding", dims=dims, threshold=-2.0
        ).collect()
    }
    for d in dims:
        if d is None:
            qd, cd, tag = q, c, -1
        else:
            qd = q.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
            cd = c.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
            tag = d
        ref = {
            (tag, r["left_id"]): (r["right_id"], r["similarity"])
            for r in knn_embedding_join(
                qd, cd, "vec_id", "vec_id", "embedding", "embedding",
                threshold=-2.0,
            ).collect()
        }
        got = {k: v for k, v in fused.items() if k[0] == tag}
        assert got == ref, f"variant d={d}: {got} != {ref}"


def test_cosine_top1_prefix_dims_raises_over_its_cap(spark, monkeypatch):
    """cosine_top1_prefix_dims has no distributed tier: a query side over
    the driver cap raises, whether collected by the operator itself or
    passed in pre-collected as query_rows; at the cap it scores."""
    import pytest

    from science_datalake_spark.operators import similarity as S

    df = spark.range(12).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7 + 1).cast("double"), (F.col("id") % 5).cast("double")
        ).alias("embedding"),
    )
    q = df.filter(F.col("vec_id") < 4)
    c = df.filter(F.col("vec_id") >= 4)
    qrows = [(r["vec_id"], r["embedding"]) for r in q.collect()]
    monkeypatch.setattr(S, "_COSINE_MAX_QUERY_ROWS", 4)
    own = S.cosine_top1_prefix_dims(c, q, "vec_id", "embedding", dims=[1, None])
    given = S.cosine_top1_prefix_dims(
        c, q, "vec_id", "embedding", dims=[1, None], query_rows=qrows
    )
    assert sorted(map(tuple, own.collect())) == sorted(map(tuple, given.collect()))
    assert own.count() == 8
    monkeypatch.setattr(S, "_COSINE_MAX_QUERY_ROWS", 3)
    with pytest.raises(ValueError, match="exceeds 3 rows"):
        S.cosine_top1_prefix_dims(c, q, "vec_id", "embedding", dims=[1, None])
    with pytest.raises(ValueError, match="exceeds 3 rows"):
        S.cosine_top1_prefix_dims(
            c, q, "vec_id", "embedding", dims=[1, None], query_rows=qrows
        )


def test_late_interaction_width_must_split_into_num_tokens(spark, monkeypatch):
    """10-dim vectors do not split into 4 tokens: both tiers raise one
    ValueError naming num_tokens before any plan is built, instead of the
    driver tier failing in a reshape and the distributed tier scoring the
    first 8 dims."""
    import pytest

    from science_datalake_spark.operators import similarity as S

    df = spark.range(6).select(
        F.col("id").cast("int").alias("vec_id"),
        F.array(*[(F.col("id") + i).cast("double") for i in range(10)]).alias("embedding"),
    )
    queries = df.filter("vec_id < 2")
    for cap in (2, 1):
        monkeypatch.setattr(S, "_LATE_INTERACTION_MAX_QUERY_ROWS", cap)
        with pytest.raises(ValueError, match="num_tokens=4"):
            S.late_interaction_topk(df, queries, "vec_id", "embedding", num_tokens=4, k=2)
        # a width that splits still scores on this tier
        assert S.late_interaction_topk(
            df, queries, "vec_id", "embedding", num_tokens=5, k=2
        ).count() == 4
