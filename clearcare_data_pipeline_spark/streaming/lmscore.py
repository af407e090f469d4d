"""Streaming LM quality scoring: filter-at-ingest for a document feed.

The batch trigram-LM operator (operators/textstats.py) splits into a
trainable half (model table) and an inference half (score counts
against the model). Here the inference half runs over an unbounded
document stream via ``foreachBatch`` — the same pattern as the charges
cleaning pipeline (streaming/pipeline.py): each microbatch is a
closed set of whole documents, so per-document aggregation is a plain
batch groupBy INSIDE the batch and the streaming query itself carries
no state store. A windowed streaming aggregate would instead keep
per-doc state forever (doc_ids never expire) — the wrong shape.

The model is a static DataFrame: Spark re-reads a table-backed static
side each microbatch, so a periodically retrained model picks up
refreshes without restarting the query. Broadcast by default
(vocabulary-sized), keyed join for very large vocabularies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from clearcare_data_pipeline_spark.operators.textstats import (
    broadcast_if_small,
    doc_trigram_counts,
    score_trigram_counts,
)


def run_lm_scoring_stream(
    stream_docs: DataFrame,
    model: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Score an unbounded stream of documents against a static trigram
    LM; append (id, n_trigrams, avg_logprob, perplexity) to parquet.

    Exactly-once: foreachBatch + checkpoint gives at-least-once batch
    replay with idempotent per-batch overwrite semantics handled by
    the parquet append + batch id (replayed batch ids overwrite their
    own output partition)."""
    # The model is static across batches: probe its size ONCE here
    # rather than per micro-batch.
    model = broadcast_if_small(model)

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        out = score_trigram_counts(
            doc_trigram_counts(batch_df, id_col, text_col), model, id_col=id_col
        )
        (
            out.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
        )

    writer = (
        stream_docs.writeStream.foreachBatch(_score)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()
