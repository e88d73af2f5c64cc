"""Structured Streaming tests: each streaming plan, drained with
availableNow, must equal its batch twin over the same files."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

EVENT_SCHEMA = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
)


def run_available_now(result, checkpoint_dir: str, query_name: str) -> None:
    """Drain everything currently available into an in-memory append-mode
    sink named ``query_name``, then stop."""
    q = (
        result.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (view→click attribution)
    drained with availableNow must equal the same join on the batch read
    of the same files."""
    from science_datalake_spark.streaming.joins import view_click_attribution

    # purpose-built fixture: view/click alternate PER USER so same-user
    # pairs exist (the shared fixture's eid%3 / eid%9 structure makes
    # view and click rows never share a user)
    src_dir = tmp_path / "attrib_src"
    src_dir.mkdir()
    eid = 0
    for fi in range(4):
        with open(src_dir / f"ev-{fi}.json", "w") as f:
            for i in range(50):
                minute = (eid * 11) % (60 * 6)
                f.write(
                    json.dumps(
                        {
                            "event_id": eid,
                            "ts": f"2024-01-01T{minute // 60:02d}:{minute % 60:02d}:00.000Z",
                            "user_id": eid % 4,
                            "event_type": ["view", "click"][(eid // 4) % 2],
                            "value": 1.0,
                            "props": "{}",
                        }
                    )
                    + "\n"
                )
                eid += 1
    src = str(src_dir)
    stream = spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 4).json(src)
    result = view_click_attribution(stream, max_delay="90 minutes")
    assert result.isStreaming
    # append mode: stream-stream inner joins emit matches as the watermark
    # closes them; availableNow + finite input drains everything
    run_available_now(result, str(tmp_path / "ckpt_join"), "attrib_test")
    got = spark.sql("SELECT * FROM attrib_test").cache()

    batch_events = spark.read.schema(EVENT_SCHEMA).json(src)
    expected = view_click_attribution(batch_events, max_delay="90 minutes")
    assert got.count() == expected.count() > 0
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    # every attributed click is strictly after its view, within the bound
    bad = got.filter(
        (F.col("delay_us") <= 0) | (F.col("delay_us") > 90 * 60 * 1_000_000)
    )
    assert bad.count() == 0


def _write_attrib_events(path, first_eid: int, first_minute: int, n: int) -> None:
    with open(path, "w") as f:
        for i in range(n):
            eid, minute = first_eid + i, first_minute + 3 * i
            f.write(
                json.dumps(
                    {
                        "event_id": eid,
                        "ts": f"2024-01-01T{minute // 60:02d}:{minute % 60:02d}:00.000Z",
                        "user_id": eid % 4,
                        "event_type": ["view", "click"][(eid // 4) % 2],
                        "value": 1.0,
                        "props": "{}",
                    }
                )
                + "\n"
            )


def test_stream_checkpoint_resume(spark, tmp_path):
    """A file that arrives after a drain is picked up from the checkpoint,
    not reprocessed: the second drain emits only new pairs, including
    clicks matched to views held in the restored join state, and the two
    drains together equal the batch join over all files."""
    from science_datalake_spark.streaming.joins import view_click_attribution

    src = tmp_path / "resume_src"
    src.mkdir()
    _write_attrib_events(src / "ev-0.json", 0, 0, 40)  # minutes 0..117
    out, ckpt = str(tmp_path / "resume_out"), str(tmp_path / "ckpt_resume")

    def drain():
        stream = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
        q = (
            view_click_attribution(stream, max_delay="90 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [tuple(r) for r in spark.read.parquet(out).collect()]

    first = drain()
    _write_attrib_events(src / "ev-1.json", 40, 120, 20)  # minutes 120..177
    after = drain()

    batch = view_click_attribution(
        spark.read.schema(EVENT_SCHEMA).json(str(src)), max_delay="90 minutes"
    )
    want = sorted(tuple(r) for r in batch.collect())
    assert first and sorted(after) == want  # no pair emitted twice or lost
    new = set(after) - set(first)
    assert len(new) == len(after) - len(first) > 0
    # state carried over the restart: a first-file view pairs with a new click
    assert any(view_id < 40 <= click_id for _, view_id, _, click_id, _, _ in new)


def test_shard_shuffle_streams_unchanged(spark, tmp_path):
    """corpus.shard_shuffle is map-only, so the SAME operator runs on a
    stream without modification (stateless projection — no watermark, no
    state store) and assigns the identical (order_key, shard) per id as
    the batch twin: the durable training-shard write path can ingest
    incrementally."""
    import json as _json

    from science_datalake_spark.operators.corpus import shard_shuffle

    src = tmp_path / "docs_src"
    src.mkdir()
    for fi in range(2):
        with open(src / f"docs-{fi}.json", "w") as f:
            for i in range(25):
                f.write(_json.dumps({"doc_id": fi * 25 + i, "text": f"doc {i}"}) + "\n")
    schema = "doc_id LONG, text STRING"
    stream = spark.readStream.schema(schema).json(str(src))
    assert stream.isStreaming
    sharded = shard_shuffle(stream, "doc_id", seed=11)
    assert sharded.isStreaming  # stateless: still a plain streaming projection
    run_available_now(sharded, str(tmp_path / "ckpt_shard"), "shard_stream")
    got = {
        (r["doc_id"], r["order_key"], r["shard"])
        for r in spark.sql("SELECT doc_id, order_key, shard FROM shard_stream").collect()
    }
    batch = {
        (r["doc_id"], r["order_key"], r["shard"])
        for r in shard_shuffle(
            spark.read.schema(schema).json(str(src)), "doc_id", seed=11
        ).collect()
    }
    assert got == batch and len(got) == 50


def test_bloom_probe_streams_unchanged(spark, tmp_path):
    """bloom_might_contain is a stateless map-only projection (the bitmap
    rides a broadcast), so the SAME operator tags a STREAM of incoming
    documents with identical verdicts as the batch twin — the front half
    of a streaming incremental-dedup ingest (definitely-new rows can be
    routed straight to the sink; only might-contain candidates need the
    exact verify against the durable release)."""
    import json as _json

    from science_datalake_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
    )

    prior = spark.createDataFrame(
        [(f"fp-{i}",) for i in range(0, 40, 2)], "fp STRING"
    )
    model = bloom_build(prior, "fp", num_bits=1 << 12, num_hashes=4)

    src = tmp_path / "batch_src"
    src.mkdir()
    with open(src / "in.json", "w") as f:
        for i in range(40):
            f.write(_json.dumps({"doc_id": i, "fp": f"fp-{i}"}) + "\n")
    schema = "doc_id LONG, fp STRING"
    stream = spark.readStream.schema(schema).json(str(src))
    tagged = bloom_might_contain(stream, "fp", model)
    assert tagged.isStreaming  # stateless: still a plain streaming projection
    run_available_now(tagged, str(tmp_path / "ckpt_bloom"), "bloom_stream")
    got = {
        (r["doc_id"], r["might_contain"])
        for r in spark.sql("SELECT doc_id, might_contain FROM bloom_stream").collect()
    }
    batch = {
        (r["doc_id"], r["might_contain"])
        for r in bloom_might_contain(
            spark.read.schema(schema).json(str(src)), "fp", model
        ).collect()
    }
    assert got == batch and len(got) == 40
    # every prior member (even doc_ids) must test positive — no false negatives
    assert all(mc for (d, mc) in got if d % 2 == 0)
