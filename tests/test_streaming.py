"""Structured Streaming ingest tests: file-source envelopes, availableNow
drain, idempotent MERGE sink (exactly-once landing + URL dedup -- the
streaming semantics T1-T5 from SURVEY.md §2.10)."""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

import pytest

from sentiment_analysis_data_pipeline_spark.streaming import run_file_ingest


def _envelope(i: int, url: str | None = None, corrupt: bool = False) -> str:
    if corrupt:
        return '{"not": "an envelope"}'
    return json.dumps(
        {
            "source_api": "newsapi" if i % 2 == 0 else "gnews",
            "fetched_at": f"2024-01-01T0{i % 10}:00:00.000Z",
            "article": {
                "title": f"title {i}",
                "url": url or f"https://example.com/{i}",
                "publishedAt": "2024-01-01T00:00:00.000Z",
            },
        }
    )


@pytest.fixture()
def dirs():
    root = Path(tempfile.mkdtemp(prefix="ingest-test-"))
    (root / "src").mkdir()
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _drop(root: Path, name: str, lines: list[str]) -> None:
    (root / "src" / name).write_text("\n".join(lines) + "\n")


def test_ingest_dedup_and_exactly_once(spark, dirs):
    src, sink, ckpt = dirs / "src", str(dirs / "sink"), str(dirs / "ckpt")

    # epoch 1: 4 valid (one duplicate URL inside the batch) + 1 corrupt
    _drop(dirs, "a.json", [_envelope(0), _envelope(1), _envelope(1), _envelope(2), _envelope(0, corrupt=True)])
    run_file_ingest(spark, str(src), sink, ckpt).awaitTermination(120)
    landed = spark.read.parquet(sink)
    assert landed.count() == 3  # intra-batch URL dedup + corrupt dropped
    assert set(landed.select("url").toPandas()["url"]) == {
        "https://example.com/0", "https://example.com/1", "https://example.com/2"
    }

    # epoch 2: re-delivery of url 1 (cross-history dup) + one new article
    _drop(dirs, "b.json", [_envelope(1), _envelope(3)])
    run_file_ingest(spark, str(src), sink, ckpt).awaitTermination(120)
    landed = spark.read.parquet(sink)
    assert landed.count() == 4  # url 1 NOT landed twice
    assert landed.select("url").distinct().count() == 4

    # restart with same checkpoint and no new data: nothing re-lands
    run_file_ingest(spark, str(src), sink, ckpt).awaitTermination(120)
    assert spark.read.parquet(sink).count() == 4


def test_envelope_typing(spark, dirs):
    src, sink, ckpt = dirs / "src", str(dirs / "sink"), str(dirs / "ckpt")
    _drop(dirs, "a.json", [_envelope(7)])
    run_file_ingest(spark, str(src), sink, ckpt).awaitTermination(120)
    row = spark.read.parquet(sink).collect()[0]
    assert row["source_api"] in ("newsapi", "gnews")
    assert row["article"]["title"] == "title 7"
    assert row["fetched_at"] is not None  # parsed to a real timestamp


def test_streaming_session_window(spark):
    """Append-mode session windows: a session is emitted exactly once, after
    the watermark passes its end; still-open recent sessions stay in state."""
    from sentiment_analysis_data_pipeline_spark.streaming import sessionized_activity

    root = Path(tempfile.mkdtemp(prefix="sess-stream-"))
    try:
        src = root / "src"
        src.mkdir()
        out = str(root / "out")

        def _evt(user, ts):
            return json.dumps({"user_id": user, "ts": ts})

        # batch 1: an old burst for user 1 (session: 00:00 - 00:40)
        (src / "a.json").write_text(
            "\n".join(
                [
                    _evt(1, "2024-01-01T00:00:00Z"),
                    _evt(1, "2024-01-01T00:10:00Z"),
                    _evt(2, "2024-01-01T00:05:00Z"),
                ]
            )
            + "\n"
        )
        # batch 2: much later event -> watermark jumps past the old sessions
        (src / "b.json").write_text(_evt(1, "2024-01-01T10:00:00Z") + "\n")

        stream = (
            spark.readStream.schema("user_id LONG, ts TIMESTAMP")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            sessionized_activity(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", str(root / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        rows = {(r["user_id"], r["n_events"]) for r in spark.read.parquet(out).collect()}
        got = {r["user_id"]: r for r in spark.read.parquet(out).collect()}
        # both old sessions finalized; the 10:00 session is still open
        assert (1, 2) in rows and (2, 1) in rows and len(rows) == 2
        s1 = got[1]
        assert (s1["session_end"] - s1["session_start"]).total_seconds() == 40 * 60
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_batch_metrics_listener(spark):
    """The listener captures per-batch counters from real progress events."""
    from sentiment_analysis_data_pipeline_spark.plans.monitors import BatchMetricsListener
    from sentiment_analysis_data_pipeline_spark.streaming import file_article_stream

    listener = BatchMetricsListener()
    spark.streams.addListener(listener)
    root = Path(tempfile.mkdtemp(prefix="metrics-test-"))
    try:
        src = root / "src"
        src.mkdir()
        (src / "a.json").write_text(
            "\n".join(_envelope(i) for i in range(5)) + "\n"
        )
        q = (
            file_article_stream(spark, str(src))
            .writeStream.format("noop")
            .option("checkpointLocation", str(root / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        import time as _t

        for _ in range(20):  # listener events arrive asynchronously
            if any(r["num_input_rows"] == 5 for r in listener.records):
                break
            _t.sleep(0.5)
        assert any(r["num_input_rows"] == 5 for r in listener.records)
        assert all("batch_id" in r for r in listener.records)
    finally:
        spark.streams.removeListener(listener)
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_pii_scrub(spark, dirs):
    """scrub_pii applied inside the stream: landed titles carry redaction
    tags, never raw emails/phones (pure projection -> stream-safe)."""
    from sentiment_analysis_data_pipeline_spark.operators.validate import scrub_pii
    from sentiment_analysis_data_pipeline_spark.streaming.ingest import file_article_stream

    src = dirs / "src"
    env = json.loads(_envelope(4))
    env["article"]["title"] = "leak bob@corp.example.net or call +1-555-867-5309 now"
    _drop(dirs, "a.json", [json.dumps(env)])

    stream = file_article_stream(spark, str(src))
    flat = stream.selectExpr("article.url AS url", "article.title AS title")
    scrubbed = scrub_pii(flat, ["title"])
    q = (
        scrubbed.writeStream.format("memory")
        .queryName("pii_scrub_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM pii_scrub_sink").collect()
    assert len(rows) == 1
    t = rows[0]["title"]
    assert t == "leak [EMAIL] or call [PHONE] now"


def test_streaming_hopping_window(spark):
    """Append-mode hopping windows: an event is counted in window/hop
    overlapping windows; closed windows emit exactly once."""
    from sentiment_analysis_data_pipeline_spark.streaming import hopping_activity

    root = Path(tempfile.mkdtemp(prefix="hop-stream-"))
    try:
        src = root / "src"
        src.mkdir()
        out = str(root / "out")

        def _evt(user, ts):
            return json.dumps({"user_id": user, "ts": ts})

        # one event at 01:05 -> member of the 4 hour-long windows starting
        # 00:15, 00:30, 00:45, 01:00
        (src / "a.json").write_text(_evt(1, "2024-01-01T01:05:00Z") + "\n")
        # much later event pushes the watermark past all of them
        (src / "b.json").write_text(_evt(1, "2024-01-01T12:00:00Z") + "\n")

        stream = (
            spark.readStream.schema("user_id LONG, ts TIMESTAMP")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            hopping_activity(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", str(root / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = {
            (r["window_start"].hour, r["window_start"].minute): r["n_events"]
            for r in spark.read.parquet(out).collect()
        }
        assert got == {(0, 15): 1, (0, 30): 1, (0, 45): 1, (1, 0): 1}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_static_enrichment(spark):
    """Broadcast stream-static join: every stream row survives (left join),
    matched rows carry the dim attributes, and the static side is picked up
    per micro-batch."""
    from pyspark.sql import functions as F

    from sentiment_analysis_data_pipeline_spark.streaming import enrich_with_dim

    root = Path(tempfile.mkdtemp(prefix="enrich-stream-"))
    try:
        src = root / "src"
        src.mkdir()
        out = str(root / "out")
        (src / "a.json").write_text(
            json.dumps({"user_id": 1, "v": 10}) + "\n" + json.dumps({"user_id": 99, "v": 20}) + "\n"
        )
        dim = spark.createDataFrame([(1, "gold")], "user_id long, tier string")
        stream = spark.readStream.schema("user_id LONG, v LONG").json(str(src))
        q = (
            enrich_with_dim(stream, dim, "user_id")
            .writeStream.foreachBatch(lambda df, _b: df.write.mode("append").parquet(out))
            .option("checkpointLocation", str(root / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = {r["user_id"]: r["tier"] for r in spark.read.parquet(out).collect()}
        assert rows == {1: "gold", 99: None}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_stream_interval_join(spark):
    """Watermarked stream-stream interval join: clicks attribute to the
    same-user view within the horizon; outside-horizon and no-view clicks
    drop; state stays bounded by watermark + horizon."""
    from sentiment_analysis_data_pipeline_spark.streaming.ingest import attributed_clicks

    root = Path(tempfile.mkdtemp(prefix="ssjoin-"))
    try:
        vsrc, csrc = root / "views", root / "clicks"
        vsrc.mkdir(), csrc.mkdir()
        out = str(root / "out")

        def _v(user, ts, vid):
            return json.dumps({"user_id": user, "view_ts": ts, "view_id": vid})

        def _c(user, ts, cid):
            return json.dumps({"user_id": user, "click_ts": ts, "click_id": cid})

        (vsrc / "v.json").write_text(
            "\n".join(
                [
                    _v(1, "2024-01-01T10:00:00Z", "v1"),
                    _v(2, "2024-01-01T10:00:00Z", "v2"),
                ]
            )
            + "\n"
        )
        (csrc / "c.json").write_text(
            "\n".join(
                [
                    _c(1, "2024-01-01T10:10:00Z", "c1"),  # within 30 min -> match
                    _c(1, "2024-01-01T11:00:00Z", "c2"),  # past horizon -> drop
                    _c(2, "2024-01-01T10:20:00Z", "c3"),  # within -> match
                    _c(3, "2024-01-01T10:05:00Z", "c4"),  # no view -> drop
                ]
            )
            + "\n"
        )

        views = spark.readStream.schema("user_id LONG, view_ts TIMESTAMP, view_id STRING").json(
            str(vsrc)
        )
        clicks = spark.readStream.schema("user_id LONG, click_ts TIMESTAMP, click_id STRING").json(
            str(csrc)
        )
        q = (
            attributed_clicks(views, clicks)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", str(root / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = {(r["view_id"], r["click_id"]) for r in spark.read.parquet(out).collect()}
        assert got == {("v1", "c1"), ("v2", "c3")}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_delta_upgrade_never_overwrites_parquet_sink(spark, dirs, monkeypatch):
    """Upgrade safety (ADVICE r4): if delta-spark appears AFTER the anti-join
    fallback already landed parquet rows, the sink is not a Delta table and
    the first post-install epoch must NOT overwrite it -- it stays on the
    non-destructive parquet anti-join path. Delta availability is faked
    (no jars here); only the guard's routing is under test."""
    import sys
    import types

    from sentiment_analysis_data_pipeline_spark.streaming import ingest

    target = str(dirs / "sink")
    sink = ingest.merge_into_parquet(target, key="url")

    # Epoch 0 (pre-install): plain parquet rows land via the fallback.
    sink(spark.createDataFrame([("u1", "a"), ("u2", "b")], "url string, v string"), 0)
    assert spark.read.parquet(target).count() == 2

    # "Install" delta: availability probe true, isDeltaTable false (the path
    # holds plain parquet). An overwrite would raise in this fake (and would
    # have destroyed both rows in a real install).
    fake_tables = types.ModuleType("delta.tables")

    class FakeDeltaTable:
        @staticmethod
        def isDeltaTable(_spark, _path):
            return False

        @staticmethod
        def forPath(_spark, _path):
            raise AssertionError("MERGE branch must not run on a non-Delta path")

    fake_tables.DeltaTable = FakeDeltaTable
    fake_delta = types.ModuleType("delta")
    fake_delta.tables = fake_tables
    monkeypatch.setitem(sys.modules, "delta", fake_delta)
    monkeypatch.setitem(sys.modules, "delta.tables", fake_tables)
    monkeypatch.setattr(ingest, "delta_available", lambda _s: True)

    sink(spark.createDataFrame([("u2", "B"), ("u3", "c")], "url string, v string"), 1)
    rows = {r.url: r.v for r in spark.read.parquet(target).collect()}
    # u1/u2 survive (no overwrite), u2 not re-landed, u3 appended.
    assert rows == {"u1": "a", "u2": "b", "u3": "c"}

    # An existing sink directory with no data files (made in advance, or
    # emptied by a crashed first write) is empty like an absent path: the
    # epoch takes the Delta-create branch, which fails here only because no
    # Delta data source is on the classpath.
    empty = dirs / "empty_sink"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(Exception, match="(?i)delta"):
        ingest.merge_into_parquet(str(empty), key="url")(
            spark.createDataFrame([("u9", "z")], "url string, v string"), 0
        )
    assert not list(empty.glob("*.parquet"))
