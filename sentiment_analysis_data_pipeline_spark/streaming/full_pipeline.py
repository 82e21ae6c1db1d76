"""The composed streaming twins, end-to-end (round 7, VERDICT r6 item 8):
ingest -> validate -> curation gate -> near-dup probe -> sentiment in ONE
foreachBatch epoch -- every piece is the already-parity-tested component,
chained the way a continuous training-data ingest actually runs.

Epoch shape per micro-batch:

  1. VALIDATE: the epoch prologue of streaming/_log.py over the doc store
     (a doc already landed keeps its original record and signatures).
  2. CURATION GATE (streaming/curation_stream.curation_gate): the
     stateless flag projection -- too_short / too_repetitive /
     low_quality / non_english / kept -- flag-for-flag equal to the batch
     filter_reasons semantics.
  3. DEDUP PROBE (streaming/dedup_stream.dedup_micro_batch) over the KEPT
     docs only (curation upstream of dedup, as in the batch
     curation_pipeline): batch-vs-corpus pairs via the persisted band
     index (corpus never re-signatured) plus in-batch pairs.
  4. SENTIMENT (plans/pipeline.sentiment_enrich) over ALL gated rows --
     rejected docs keep their scores too, so the curated store stays
     fully explainable without a re-run.
  5. LAND (the land rules of streaming/_log.py): pairs batch_id-stamped
     (replay-dedupable downstream); curated rows (flags + sentiment
     struct) landed idempotently on doc_id; index append (internally
     idempotent, append_to_band_index's anti-join); doc-store append
     LAST -- the probe-before-append ordering means a replayed epoch
     re-emits the same pairs rather than missing any.

100 TB shape: everything per-epoch is projection + broadcast/bucketed
joins sized by the BATCH (the corpus side of the probe reads bucket files
in place); no streaming aggregation state, no watermark -- the only
cross-batch state is the persisted index + stores, exactly the artifacts
a deployment already maintains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._log import fresh_epoch, land, start_epochs
from .curation_stream import curation_gate
from .dedup_stream import DOC_STREAM_SCHEMA, append_to_band_index, dedup_micro_batch


def curated_epoch(
    bs: SparkSession,
    batch: DataFrame,
    batch_id: int,
    index_table: str,
    corpus_path: str,
    pairs_path: str,
    curated_path: str,
    threshold: float = 0.5,
) -> None:
    """One composed epoch (factored out so tests can drive it directly on a
    batch frame -- foreachBatch hands a CLONED session, so all reads here
    use `bs`)."""
    from ..plans.pipeline import sentiment_enrich

    batch = fresh_epoch(batch, "doc_id", corpus_path, payload="text")
    if not batch.take(1):
        return

    gated = curation_gate(batch).localCheckpoint(eager=True)
    kept = gated.filter("kept").select("doc_id", "text")

    pairs = dedup_micro_batch(bs, kept, index_table, corpus_path, threshold)
    (
        pairs.withColumn("batch_id", F.lit(batch_id))
        .write.mode("append")
        .parquet(pairs_path)
    )

    scored = sentiment_enrich(gated).select(
        "doc_id",
        "text",
        "too_short",
        "too_repetitive",
        "low_quality",
        "non_english",
        "kept",
        F.struct(
            F.col("overall"),
            F.col("confidence"),
            F.col("vader_compound"),
            F.col("textblob_polarity"),
        ).alias("sentiment"),
    )
    land(scored, curated_path, "doc_id")

    append_to_band_index(bs, kept, index_table)
    kept.write.mode("append").parquet(corpus_path)


def run_curated_ingest(
    spark: SparkSession,
    source_dir: str,
    index_table: str,
    corpus_path: str,
    pairs_path: str,
    curated_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
):
    """File-source composed ingest: json docs (doc_id, text) land in
    `source_dir`; availableNow trigger drains what is present, then
    stops."""
    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).json(source_dir)

    def epoch(batch: DataFrame, batch_id: int) -> None:
        curated_epoch(
            batch.sparkSession,
            batch,
            batch_id,
            index_table,
            corpus_path,
            pairs_path,
            curated_path,
            threshold,
        )

    return start_epochs(stream, epoch, checkpoint_dir)
