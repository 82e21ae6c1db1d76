"""Full streaming sentiment pipeline (EP1+EP2+EP3 in one query) + corrupt
quarantine."""

from __future__ import annotations

import json
import shutil
import tempfile
import uuid
from pathlib import Path

import pytest

from sentiment_analysis_data_pipeline_spark.streaming.ingest import (
    run_sentiment_stream,
    split_valid_corrupt,
)


def _env(i, title, url=None):
    return json.dumps(
        {
            "source_api": "newsapi",
            "fetched_at": "2024-01-01T00:00:00.000Z",
            "article": {"title": title, "url": url or f"https://e.com/{i}", "publishedAt": "2024-01-01T00:00:00.000Z"},
        }
    )


def test_full_stream_pipeline(spark):
    root = Path(tempfile.mkdtemp(prefix="fullstream-"))
    try:
        (root / "src").mkdir()
        raw, proc, ckpt = str(root / "raw"), str(root / "proc"), str(root / "ckpt")
        (root / "src" / "a.json").write_text(
            "\n".join([_env(0, "great excellent best"), _env(1, "terrible worst hate"), _env(2, "table scan merge")]) + "\n"
        )
        run_sentiment_stream(spark, str(root / "src"), raw, proc, ckpt).awaitTermination(120)
        processed = spark.read.parquet(proc)
        labels = {r["url"]: r["sentiment"]["overall"] for r in processed.collect()}
        assert labels["https://e.com/0"] == "positive"
        assert labels["https://e.com/1"] == "negative"
        assert labels["https://e.com/2"] == "neutral"
        assert spark.read.parquet(raw).count() == 3

        # epoch 2: redelivered url 0 + one new -> exactly one new processed row
        (root / "src" / "b.json").write_text(_env(0, "great excellent best") + "\n" + _env(9, "good fast win") + "\n")
        run_sentiment_stream(spark, str(root / "src"), raw, proc, ckpt).awaitTermination(120)
        assert spark.read.parquet(proc).count() == 4
        assert spark.read.parquet(raw).count() == 4
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_sentiment_stream_replay_after_partial_commit(spark):
    """Crash between the two appends: processed landed, raw did not. The
    replay must re-score the batch and land raw WITHOUT duplicating the
    already-committed processed rows (processed-first + doc_id anti-join +
    raw-last ordering)."""
    root = Path(tempfile.mkdtemp(prefix="replaystream-"))
    try:
        (root / "src").mkdir()
        raw, proc = str(root / "raw"), str(root / "proc")
        (root / "src" / "a.json").write_text(
            "\n".join([_env(0, "great excellent best"), _env(1, "terrible worst hate")]) + "\n"
        )
        run_sentiment_stream(spark, str(root / "src"), raw, proc, str(root / "ckpt1")).awaitTermination(120)
        assert spark.read.parquet(proc).count() == 2

        # simulate the torn epoch: processed committed, raw lost pre-commit
        shutil.rmtree(raw)
        run_sentiment_stream(spark, str(root / "src"), raw, proc, str(root / "ckpt2")).awaitTermination(120)
        assert spark.read.parquet(proc).count() == 2  # no duplicate scoring landed
        assert spark.read.parquet(raw).count() == 2  # raw recovered on replay
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _merge_epoch(spark, work, sink):
    from sentiment_analysis_data_pipeline_spark.streaming.ingest import merge_into_parquet

    batch = spark.createDataFrame([("https://e.com/1", 1)], "url string, x int")
    merge_into_parquet(sink)(batch, 0)


def _curated_epoch(spark, work, sink):
    """One full_pipeline.curated_epoch from a one-doc bootstrapped corpus
    and band index, landing its curated rows in `sink`."""
    from sentiment_analysis_data_pipeline_spark.operators.dedup import minhash_band_keys
    from sentiment_analysis_data_pipeline_spark.sources.tables import (
        drop_table_with_files,
        write_bucketed,
    )
    from sentiment_analysis_data_pipeline_spark.streaming import dedup_stream, full_pipeline

    schema = dedup_stream.DOC_STREAM_SCHEMA
    corpus, table = str(work / "corpus"), f"corrupt_sink_idx_{uuid.uuid4().hex[:8]}"
    seed = spark.createDataFrame([(1, "quiet rivers run past old stone mills")], schema)
    seed.write.parquet(corpus)
    write_bucketed(minhash_band_keys(seed, "text", "doc_id"), table, "band_key", dedup_stream.INDEX_BUCKETS)
    try:
        batch = spark.createDataFrame([(2, "great excellent best work by the fine team today")], schema)
        full_pipeline.curated_epoch(spark, batch, 0, table, corpus, str(work / "pairs"), sink)
    finally:
        drop_table_with_files(spark, table)


def _users_epoch(spark, work, sink):
    from sentiment_analysis_data_pipeline_spark.streaming import experiment_stream

    batch = spark.createDataFrame([(1, 0, 7, "view")], experiment_stream.EVENT_STREAM_SCHEMA)
    experiment_stream.append_batch(spark, batch, str(work / "daily"), sink, 0)


@pytest.mark.parametrize(
    "land_epoch",
    [_merge_epoch, _curated_epoch, _users_epoch],
    ids=["merge", "curated", "users"],
)
def test_merge_sink_transient_read_error_raises(spark, land_epoch):
    """The shared absent-sink rule, over every sink that uses it: an absent
    sink, or an empty sink directory (a first write that crashed), lands the
    first epoch, and a non-missing-path read failure (corrupt footer
    standing in for any transient FS error) must FAIL the batch -- not
    silently skip the anti-join and double-land rows."""
    from pyspark.errors import AnalysisException

    root = Path(tempfile.mkdtemp(prefix="corrupt-sink-"))
    try:
        for case in ("absent", "empty"):
            (root / case).mkdir()
            sink = root / case / "sink"
            if case == "empty":
                sink.mkdir()
            land_epoch(spark, root / case, str(sink))
            assert spark.read.parquet(str(sink)).count() == 1, case

        (root / "corrupt").mkdir()
        sink = root / "corrupt" / "sink"
        sink.mkdir()
        (sink / "part-00000.parquet").write_bytes(b"this is not a parquet file")
        with pytest.raises(Exception) as ei:
            land_epoch(spark, root / "corrupt", str(sink))
        assert not isinstance(ei.value, AnalysisException)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_split_valid_corrupt(spark):
    rows = [(_env(1, "ok"),), ("not json at all",), ('{"source_api": "x"}',)]
    df = spark.createDataFrame(rows, "json string")
    valid, rejects = split_valid_corrupt(df)
    assert valid.count() == 1
    kept = [r["raw_payload"] for r in rejects.collect()]
    assert "not json at all" in kept and len(kept) == 2
