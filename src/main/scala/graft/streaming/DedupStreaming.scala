package graft.streaming

import graft.dedup.Dedup
import graft.operators.Pin.PinOps
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming twin of incremental (batch-append) dedup — SURVEY.md §2
  * #102's stream shape, the one a daily-ingest pipeline actually runs:
  * each micro-batch of new documents is mined against the ACCUMULATED
  * band table (the persisted corpus bands plus every previously seen
  * batch's bands — Dedup.minhashBands is row-local, so the table is
  * append-only), emits exactly the near-dup pairs touching the batch,
  * then appends its own bands. The corpus text is never re-hashed.
  *
  * This is a foreachBatch pipeline, not a stream-static join: the
  * oversized-bucket refinement inside minhashIncrementalPairs needs the
  * UNION's bucket counts (an aggregation over static ∪ stream state that
  * append-mode stream joins can't express), and the band table must GROW
  * as batches arrive — both are exactly what foreachBatch's batch-DF view
  * provides. In production the accumulated state is a warehouse table the
  * job appends to; here it is pinned (operators.Pin) per batch to cut lineage.
  *
  * Sequential appends COMPOSE (StreamingSpec): after batches B1..Bn the
  * union of emitted pair sets equals
  *   full-mine(corpus ∪ B1 ∪ … ∪ Bn) \ full-mine(corpus)
  * — each batch's run sees every earlier batch through the band table, so
  * B_i × B_j pairs (i < j) surface when B_j arrives, by the same
  * union-equivalence contract the batch operator pins in DedupSpec.
  */
final class IncrementalDedup(corpus: DataFrame, tau: Double = 0.95) {

  @volatile private var allDocs =
    corpus.select("doc_id", "text").pin()
  @volatile private var bands =
    Dedup.minhashBands(allDocs).pin()

  /** Mine one batch against the accumulated state, then absorb it.
    * Returns the batch's near-dup pairs (batch×seen and batch×batch). */
  def processBatch(batch: DataFrame): DataFrame = synchronized {
    val b = batch.select("doc_id", "text")
    val pairs = Dedup.minhashIncrementalPairs(
      allDocs.unionByName(b), bands, b, tau).pin()
    allDocs = allDocs.unionByName(b).pin()
    bands = bands.unionByName(Dedup.minhashBands(b)).pin()
    pairs
  }

  /** foreachBatch writer over a streaming (doc_id, text) frame; `sink`
    * receives each micro-batch's pair frame. */
  def writer(docsStream: DataFrame,
             sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docsStream.writeStream
      .outputMode("append")
      .foreachBatch((df: Dataset[Row], batchId: Long) =>
        sink(processBatch(df.toDF()), batchId))
}
