"""Structured Streaming sink: continuous ingest into warehouse collections.

The reference ingests only batch frames over HTTP
(``xcube_geodb/core/geodb.py:1430`` ``insert_into_collection``); a Spark
engine can close the loop with ``writeStream`` → ``foreachBatch`` →
:func:`~xcube_geodb_spark.operators.dml.insert_into_collection`, giving a
live feed (files, Kafka, socket) a path into the same mutable-table format
the batch API uses — clustering, schema conformance, id assignment and
event log included.

**Exactly-once** despite foreachBatch's at-least-once replay contract:
every committed batch records ``stream_epochs[query_name] = batch_id``
inside the SAME atomic metadata swap as the data files
(``catalog.commit_version(extra_meta=...)``). A replayed batch (crash
between the data commit and Spark's checkpoint advance) sees its batch_id
already recorded and becomes a no-op — data and epoch cannot diverge
because they are one ``os.replace``. This is the standard idempotent-sink
recipe from the Spark docs, with the transactional store being the
collection manifest itself.

Scale notes: each micro-batch is one manifest commit (O(new data), no
rewrite — appends never touch existing files), so commit cost is
independent of table size; the epoch check is a driver-side metadata read.
Compaction of the resulting small files is `optimize_collection`'s job —
run it periodically beside a long-lived stream.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from xcube_geodb_spark.operators.dml import insert_into_collection

__all__ = [
    "collection_batch_writer",
    "write_stream_to_collection",
    "bm25_index_batch_writer",
    "write_stream_to_bm25_index",
]


def collection_batch_writer(
    catalog,
    collection: str,
    database: str = "public",
    *,
    query_name: str = "stream",
    upsert: bool = False,
    crs: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function: idempotent per ``batch_id``
    under the ``query_name`` epoch key (one collection can absorb several
    independent streams, each tracking its own epoch)."""

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        m = catalog.meta(collection, database)
        done = m.d.get("stream_epochs", {}).get(query_name, -1)
        if batch_id <= done:
            return  # replayed batch: already durably committed
        if batch_df.isEmpty():
            return
        # merge_meta (not a replace): the merge applies against the FRESH
        # metadata inside the commit swap, so a second stream committing
        # concurrently can't have its epoch clobbered by this driver-side
        # read going stale
        insert_into_collection(
            catalog,
            collection,
            batch_df,
            upsert=upsert,
            crs=crs,
            database=database,
            merge_meta={"stream_epochs": {query_name: int(batch_id)}},
            operation="STREAM",
        )

    return _write_batch


def write_stream_to_collection(
    stream_df: DataFrame,
    catalog,
    collection: str,
    database: str = "public",
    *,
    checkpoint_dir: str,
    query_name: str = "stream",
    upsert: bool = False,
    crs: int | None = None,
    trigger: dict | None = None,
):
    """Start a streaming query appending ``stream_df`` into a collection.

    ``trigger`` is passed to ``DataStreamWriter.trigger`` (e.g.
    ``{"availableNow": True}`` for catch-up-and-stop ingest,
    ``{"processingTime": "1 minute"}`` for steady micro-batching).
    Returns the ``StreamingQuery``.
    """
    writer = (
        stream_df.writeStream.foreachBatch(
            collection_batch_writer(
                catalog,
                collection,
                database,
                query_name=query_name,
                upsert=upsert,
                crs=crs,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def dedup_batch_writer(
    catalog,
    collection: str,
    database: str = "public",
    *,
    query_name: str = "stream",
    text_col: str = "text",
    near: bool = False,
    jaccard_threshold: float = 0.6,
    crs: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function for continuously-deduplicated ingest: each
    micro-batch is deduplicated within itself, then against everything the
    collection already holds — exact ``md5(text)`` anti-join, plus
    optionally MinHash-LSH near-dedup (``near=True``, via
    :func:`~xcube_geodb_spark.functions.dedup.dedup_against`) — before the
    survivors append. The "dedup each new crawl increment against the
    corpus" loop as a live stream.

    Exactly-once composes with the dedup: a replayed batch is skipped by
    the epoch guard before any dedup runs, and a batch whose rows ALL turn
    out to be duplicates commits nothing — its replay re-dedups to empty
    again, so skipping the epoch write is harmless.

    Scale: the corpus side is only scanned and hash-joined (fingerprints
    keyed by md5; LSH banding new-vs-corpus only) — per-batch cost grows
    with corpus size only through one keyed join per enabled stage, never
    a corpus self-join.
    """
    from pyspark.sql import functions as F

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        m = catalog.meta(collection, database)
        done = m.d.get("stream_epochs", {}).get(query_name, -1)
        if batch_id <= done:
            return
        if batch_df.isEmpty():
            return
        batch = batch_df.dropDuplicates([text_col])
        existing = catalog.load_df(collection, database, include_system=True)
        fp = existing.select(
            F.md5(F.col(text_col).cast("string")).alias("__fp")
        ).distinct()
        batch = batch.join(
            fp,
            F.md5(F.col(text_col).cast("string")) == F.col("__fp"),
            "left_anti",
        )
        if near:
            from xcube_geodb_spark.functions.dedup import dedup_against

            tagged = batch.withColumn(
                "__nid", F.monotonically_increasing_id()
            )
            corpus = existing.select(
                F.col("id").alias("__nid"), F.col(text_col)
            )
            batch = dedup_against(
                tagged,
                corpus,
                text_col=text_col,
                id_col="__nid",
                jaccard_threshold=jaccard_threshold,
            ).drop("__nid")
        if batch.isEmpty():
            return  # all duplicates; replay re-dedups to empty (idempotent)
        insert_into_collection(
            catalog,
            collection,
            batch,
            crs=crs,
            database=database,
            merge_meta={"stream_epochs": {query_name: int(batch_id)}},
            operation="STREAM",
        )

    return _write_batch


def write_stream_dedup_to_collection(
    stream_df: DataFrame,
    catalog,
    collection: str,
    database: str = "public",
    *,
    checkpoint_dir: str,
    query_name: str = "stream",
    text_col: str = "text",
    near: bool = False,
    jaccard_threshold: float = 0.6,
    crs: int | None = None,
    trigger: dict | None = None,
):
    """Start a continuously-deduplicated ingest stream (see
    :func:`dedup_batch_writer`). Returns the ``StreamingQuery``."""
    writer = (
        stream_df.writeStream.foreachBatch(
            dedup_batch_writer(
                catalog,
                collection,
                database,
                query_name=query_name,
                text_col=text_col,
                near=near,
                jaccard_threshold=jaccard_threshold,
                crs=crs,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def bm25_index_batch_writer(
    catalog,
    collection: str,
    database: str = "public",
    *,
    query_name: str = "bm25_index",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function maintaining an at-rest BM25 inverted
    index continuously: each micro-batch's postings append and the corpus
    scalars advance in the SAME atomic commit as the epoch record —
    exactly-once despite replays, and a reader always scores against a
    consistent (postings, totals) pair.

    The additive totals update assumes ONE indexing stream per
    collection (which the single epoch key already implies); concurrent
    batch extenders should serialize through the commit-conflict error.
    """

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from xcube_geodb_spark.functions.retrieval import (
            extend_bm25_collection,
        )

        m = catalog.meta(collection, database)
        done = m.d.get("stream_epochs", {}).get(query_name, -1)
        if batch_id <= done:
            return  # replayed batch: already durably committed
        if batch_df.isEmpty():
            return
        extend_bm25_collection(
            catalog,
            collection,
            batch_df,
            text_col,
            id_col,
            database,
            extra_merge_meta={
                "stream_epochs": {query_name: int(batch_id)}
            },
        )

    return _write_batch


def write_stream_to_bm25_index(
    stream_df: DataFrame,
    catalog,
    collection: str,
    database: str = "public",
    *,
    checkpoint_dir: str,
    query_name: str = "bm25_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger: dict | None = None,
):
    """Continuously index a document stream into a BM25 postings
    collection built by ``build_bm25_collection`` (start from an empty
    corpus frame for a from-scratch index). Returns the StreamingQuery."""
    writer = (
        stream_df.writeStream.foreachBatch(
            bm25_index_batch_writer(
                catalog,
                collection,
                database,
                query_name=query_name,
                text_col=text_col,
                id_col=id_col,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
