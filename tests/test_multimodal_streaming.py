from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
    strict_decode,
)
from distributed_pagerank_spark.streaming.events import (
    sessionize,
    stream_events_from_parquet,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    return attach_binary_payload(docs, "doc_id", "text", kind="image")


def test_media_schema(media):
    names = [f.name for f in media.schema.fields]
    assert names == ["media_id", "kind", "payload", "meta"]
    row = media.first()
    assert isinstance(row.payload, (bytes, bytearray))
    assert row.meta.width >= 16 and row.meta.height >= 16


def test_extract_features_deterministic(media):
    f1 = {r.media_id: r.features for r in extract_features(media).collect()}
    f2 = {r.media_id: r.features for r in extract_features(media.repartition(7)).collect()}
    assert f1 == f2
    for feats in f1.values():
        assert len(feats) == 8
        assert abs(sum(feats) - 1.0) < 1e-9


def test_strict_decoder_raises(media):
    import py4j

    with pytest.raises(Exception) as ei:
        extract_features(media, decoder=strict_decode).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_windowed_counts_batch(spark):
    events = spark.read.parquet(f"{SF}/events.parquet")
    out = windowed_event_counts(events, window="1 hour")
    total = out.agg(F.sum("n")).first()[0]
    assert total == events.count()


def test_windowed_counts_streaming_matches_batch(spark, tmp_path):
    events = spark.read.parquet(f"{SF}/events.parquet")
    # FileStreamSource needs a directory, not a single parquet file
    srcdir = str(tmp_path / "events_dir")
    events.write.mode("overwrite").parquet(srcdir)
    stream = stream_events_from_parquet(spark, srcdir)
    agg = windowed_event_counts(stream, window="1 hour", streaming=True)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "sck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in windowed_event_counts(events, window="1 hour").collect()
    }
    assert got == want


def test_sessionize(spark):
    events = spark.read.parquet(f"{SF}/events.parquet")
    sessions = sessionize(events, gap_minutes=30)
    assert sessions.agg(F.sum("n_events")).first()[0] == events.count()
    bad = sessions.where(F.col("session_end") < F.col("session_start")).count()
    assert bad == 0


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState streaming sessionization: every session the
    watermark has closed must equal the batch sessionize result; each
    user's final (still-open) session may be withheld."""
    from distributed_pagerank_spark.streaming.events import sessionize_stream

    events = spark.read.parquet(f"{SF}/events.parquet").where("user_id < 40")
    srcdir = str(tmp_path / "ev_dir")
    events.write.mode("overwrite").parquet(srcdir)

    stream = stream_events_from_parquet(spark, srcdir)
    out = sessionize_stream(stream, gap_minutes=30, watermark="1 minute")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_sessions")
        .option("checkpointLocation", str(tmp_path / "sck2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM stream_sessions").collect()
    }
    batch = sessionize(events, gap_minutes=30).select(
        "user_id",
        F.col("session_start").cast("timestamp").alias("session_start"),
        F.col("session_end").cast("timestamp").alias("session_end"),
        "n_events",
    ).collect()
    # drop each user's last session (open at end-of-stream; the final
    # watermark may or may not have passed it)
    last_per_user = {}
    for r in batch:
        k = last_per_user.get(r.user_id)
        if k is None or r.session_start > k.session_start:
            last_per_user[r.user_id] = r
    want_closed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch if last_per_user[r.user_id] is not r
    }
    assert want_closed, "fixture must contain multiple sessions per user"
    # every batch-closed session was emitted identically by the stream
    missing = want_closed - got
    assert not missing, sorted(missing)[:3]
    # and the stream emitted nothing the batch doesn't know about
    all_batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events) for r in batch
    }
    assert got <= all_batch
