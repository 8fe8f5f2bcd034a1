"""Streaming incremental dedup: admit a STREAM of new documents against a
static, already-deduplicated corpus.

Each micro-batch runs the same broadcast-probe plan as the batch operator
(operators/pipeline_ops_corpus.incremental_verdicts): the micro-batch's
digests, MinHash band keys, and word arrays broadcast; the corpus is only
streamed.
That makes per-batch cost O(|micro-batch|) — the property that lets a
continuously-ingesting pipeline keep its corpus deduped without ever
re-running a full corpus×corpus job.

foreachBatch (not a stateful operator) is the right Spark surface here:
the dedup state is the corpus itself — far too large for the state store —
and the probe side is inherently batch-shaped. This mirrors how the
reference treats the stream as a sequence of bounded PutRecords batches
(KinesisWriter.scala's per-partition batching) rather than per-record
state.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..operators._util import release_checkpoint
from ..operators.pipeline_ops_corpus import incremental_verdicts


def dedup_stream_against_corpus(
    stream_docs: DataFrame,
    corpus_docs: DataFrame,
    sink: Callable[[DataFrame, int], None],
    grow_corpus: bool = False,
):
    """Wire a document stream through per-micro-batch incremental dedup.

    ``stream_docs``: streaming DataFrame with (doc_id, text, lang).
    ``corpus_docs``: static DataFrame with the same columns.
    ``sink``: called per micro-batch with the verdict DataFrame
    (doc_id, lang, verdict ∈ {exact_dup, near_dup, kept}) and batch id —
    e.g. append kept docs to the corpus table and route dups to a log.
    ``grow_corpus``: when True, each batch's KEPT documents join the
    corpus for subsequent batches — without this, a duplicate arriving
    two micro-batches after its original sails through (cross-batch dups
    are invisible to a static-corpus probe). The kept side accumulates as
    unioned micro-batch frames; in production the corpus is a table the
    kept docs append to and this wrapper reads per batch, which keeps the
    lineage flat — the union form is correct for bounded replays/tests
    and documents the semantics.

    Returns the DataStreamWriter (caller picks trigger/checkpoint/start).
    Note: with ``grow_corpus`` the verdicts depend on micro-batch
    BOUNDARIES (two dups inside one batch are both 'kept' vs the corpus);
    that is the standard semantics of batch-incremental dedup.
    """
    state = {"corpus": corpus_docs}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch can hand over a streaming-tagged frame whose plan
        # can't be re-joined by a second query; localCheckpoint pins it
        batch_df = batch_df.localCheckpoint(eager=True)
        verdicts = incremental_verdicts(batch_df, state["corpus"])
        if grow_corpus:
            kept_ids = verdicts.filter(verdicts.verdict == "kept").select("doc_id")
            kept_docs = batch_df.join(kept_ids, "doc_id").select(
                *state["corpus"].columns
            ).localCheckpoint(eager=True)
            state["corpus"] = state["corpus"].unionByName(kept_docs)
        sink(verdicts, batch_id)
        # release what this batch cached; the grown corpus reads only its
        # own eager kept-docs checkpoint, which stays
        verdicts._batch_cache.unpersist()
        release_checkpoint(batch_df)

    return stream_docs.writeStream.foreachBatch(handle)
