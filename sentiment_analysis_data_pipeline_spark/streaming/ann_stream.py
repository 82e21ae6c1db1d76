"""Streaming vector ingest into the persisted IVF index -- the ANN sibling
of streaming/dedup_stream.py.

Each micro-batch of embeddings is (1) deduped against the ids already in
the index by the epoch prologue of streaming/_log.py (anti-join on the
assignments' vec_id column only -- parquet prunes to the one column, never
the vectors), then (2) assigned against the FROZEN codebook and appended
into its cells' partition directories
(operators/ann_index.append_to_ivf_index). The historical index is never
re-read or rewritten; queries see new vectors at the next probe with
partition pruning intact. Codebook drift is handled by periodic re-training
as a separate snapshot build -- FAISS add-after-train semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.ann_index import append_to_ivf_index
from ._log import fresh_epoch, start_epochs

VEC_STREAM_SCHEMA = "vec_id long, embedding array<float>, label int"


def run_streaming_vector_ingest(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
):
    """json vector files land in `source_dir`; the IVF index at `index_dir`
    grows in place. availableNow trigger (drain-then-stop)."""
    stream = spark.readStream.schema(VEC_STREAM_SCHEMA).json(source_dir)

    def epoch(batch: DataFrame, batch_id: int) -> None:
        fresh = fresh_epoch(batch, "vec_id", f"{index_dir}/assignments", payload="embedding")
        if fresh.take(1):
            append_to_ivf_index(batch.sparkSession, fresh, index_dir)

    return start_epochs(stream, epoch, checkpoint_dir)
