"""Streaming ingest into the persisted vector indexes: every micro-batch
of (vec_id, embedding) rows is appended with the index's STORED
quantizers via `ann_add_vectors` / `ivf_add_vectors` / `ivfpq_add_vectors`
— the same foreachBatch pattern as `attach_incremental_indexer` (BM25)
and `percolate_stream`.

Each batch is one generation: O(batch) assignment + append, never
O(index). Deletes still go through `delete_vectors` on a loaded handle;
`compact_vector_index` folds them in. Readers see old-consistent data
until the batch's lifecycle commit publishes (a concurrent reader's scan
snapshot simply predates it).

The handle is RELOADED once per batch (cheap: genmeta + tombstones +
plane/centroid side tables) so generation numbers stay correct across
restarts — the in-memory max_gen of a long-lived handle would go stale
if another writer or a previous run advanced it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def attach_vector_indexer(
    stream_vectors: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    kind: str = "ann",
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    trigger_available_now: bool = True,
):
    """writeStream wiring: each micro-batch appends into the vector index
    at `index_dir`. `kind`: 'ann' (LSH), 'ivf', or 'ivfpq' — must match
    what `build_*_index` created there (the index must exist; quantizers
    are never trained here)."""
    from ..operators.similarity import (ann_add_vectors, ivf_add_vectors,
                                        ivfpq_add_vectors, load_ann_index,
                                        load_ivf_index, load_ivfpq_index)

    loaders = {"ann": (load_ann_index, ann_add_vectors),
               "ivf": (load_ivf_index, ivf_add_vectors),
               "ivfpq": (load_ivfpq_index, ivfpq_add_vectors)}
    if kind not in loaders:
        raise ValueError(f"unknown vector index kind {kind!r}; "
                         f"expected one of {sorted(loaders)}")
    load, add = loaders[kind]
    spark = stream_vectors.sparkSession

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        add(load(spark, index_dir), batch_df,
            emb_col=emb_col, id_col=id_col)

    from .wiring import start_foreach_batch
    return start_foreach_batch(stream_vectors, handle, checkpoint_dir,
                               trigger_available_now)


def attach_trigram_indexer(
    stream_docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = True,
):
    """Streaming ingest into a persisted trigram index: each micro-batch
    appends via `add_documents` (per-document-independent postings, so a
    batch is O(batch) appends in the existing bucket layout). The handle
    is reloaded per batch for restart-safe generation numbers — same
    contract as `attach_vector_indexer`. Deletes/replaces go through
    `delete_documents` + re-ingest; `compact_trigram_index` folds them."""
    from ..operators.trigram import add_documents, load_trigram_index

    spark = stream_docs.sparkSession

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        add_documents(load_trigram_index(spark, index_dir), batch_df,
                      id_col=id_col, text_col=text_col)

    from .wiring import start_foreach_batch
    return start_foreach_batch(stream_docs, handle, checkpoint_dir,
                               trigger_available_now)


def attach_fielded_indexer(
    stream_docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    trigger_available_now: bool = True,
):
    """Streaming ingest into a persisted fielded (BM25F) index: each
    micro-batch is analyzed field-by-field and appended at the next
    generation via `plans.fielded.add_documents` — O(batch) analysis, a
    metadata-scale dictionary/stats recompute per batch. The handle is
    reloaded per batch for restart-safe generation numbers, the same
    contract as the other attachers; the stream columns must include
    the index's field columns."""
    from ..plans.fielded import add_documents, load_fielded_index

    spark = stream_docs.sparkSession

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        add_documents(load_fielded_index(spark, index_dir), batch_df,
                      id_col=id_col)

    from .wiring import start_foreach_batch
    return start_foreach_batch(stream_docs, handle, checkpoint_dir,
                               trigger_available_now)
