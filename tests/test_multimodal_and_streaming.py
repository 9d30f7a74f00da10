"""Multimodal plumbing + streaming/batch parity tests."""

from __future__ import annotations

import pytest

from map_reduce_for_dbpl_dataset_spark.operators.multimodal import (
    attach_payload,
    decode_media,
    extract_features,
)
from map_reduce_for_dbpl_dataset_spark.streaming.windows import (
    STREAM_DRAIN_TIMEOUT_S,
    StreamTimeoutError,
    await_drained,
)


def test_decode_media_stub_raises_for_non_text():
    assert decode_media(b"abc", "text/plain") == b"abc"
    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8", "image/jpeg")


def test_extract_features_byte_stats(spark):
    df = spark.createDataFrame([(1, "abcdefgh"), (2, "zz")], "doc_id long, text string")
    out = {r.doc_id: r for r in extract_features(attach_payload(df, "doc_id", "text")).collect()}
    assert out[1].n_bytes == 8
    assert out[1].first_byte == ord("a")
    assert out[1].mean8_micro == int(sum(b"abcdefgh") / 8.0 * 1_000_000)
    assert out[2].mean8_micro == -1  # < 8 bytes -> sentinel


def test_stream_batch_parity_tumbling(spark, sf_dir):
    from map_reduce_for_dbpl_dataset_spark.queries.tpch import q_events_tumbling
    from map_reduce_for_dbpl_dataset_spark.streaming.windows import (
        run_stream_to_table,
        stream_events,
        stream_tumbling_counts,
    )

    batch = {tuple(r) for r in q_events_tumbling(spark, sf_dir).collect()}
    stream = {
        tuple(r)
        for r in run_stream_to_table(
            stream_tumbling_counts(stream_events(spark, sf_dir)), spark
        ).collect()
    }
    assert batch == stream


class _FakeQuery:
    """Stands in for a StreamingQuery: awaitTermination reports whether
    the stream finished within the timeout."""

    def __init__(self, finished: bool):
        self.finished = finished
        self.timeout = None
        self.stopped = False

    def awaitTermination(self, timeout):  # noqa: N802 - Spark's name
        self.timeout = timeout
        return self.finished

    def stop(self):
        self.stopped = True


@pytest.mark.parametrize("finished", [True, False])
def test_await_drained_raises_and_stops_only_on_timeout(finished):
    q = _FakeQuery(finished)
    if finished:
        await_drained(q)
    else:
        with pytest.raises(StreamTimeoutError, match="STREAM_DRAIN_TIMEOUT_S"):
            await_drained(q)
    assert q.timeout == STREAM_DRAIN_TIMEOUT_S
    assert q.stopped is not finished
