package graft.streaming

import graft.dedup.SemDedup
import graft.operators.Pin.PinOps
import graft.search.IvfModel
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming twin of dedup_semantic_inc (SURVEY.md §2 #161) — the
  * SemDeDup keep-list maintained over an unbounded embedding stream, the
  * IncrementalIvf / incremental-minhash symmetry on the semantic axis.
  *
  * foreachBatch, not a stateful stream join: the verdict is CORPUS state
  * (which member of each near-dup component currently holds the kept
  * slot), and a batch may REVOKE a resident's kept status — first-wins
  * streaming dedup (dropDuplicates) cannot express that. Each
  * micro-batch assigns to the FROZEN resident quantizer, recomputes only
  * its touched clusters (SemDedup.appendVerdict's discipline inlined
  * over the accumulated assignment), and publishes the post-batch
  * keep-list snapshot — per-batch cost is the batch's cluster footprint,
  * never the corpus. StreamingSpec pins: streamed batches compose to the
  * frozen-model batch verdict over everything ingested.
  */
final class IncrementalSemDedup(model: IvfModel, resident: DataFrame, tau: Double) {

  @volatile private var assignedAll: DataFrame =
    SemDedup.assignWith(model, resident).pin()
  @volatile private var verdictCur: DataFrame =
    SemDedup.verdictFor(assignedAll, tau).pin()

  /** The current keep-list snapshot (resident ∪ every batch so far). */
  def verdict: DataFrame = verdictCur

  /** Absorb one micro-batch; returns the new keep-list snapshot. */
  def processBatch(batch: DataFrame): DataFrame = synchronized {
    val aBat = SemDedup.assignWith(model, batch).pin()
    val affected = aBat.select("list_id").distinct()
    val recomputed = SemDedup.verdictFor(
      assignedAll.join(broadcast(affected), Seq("list_id"), "left_semi")
        .unionByName(aBat), tau)
    verdictCur = verdictCur
      .join(broadcast(affected), Seq("list_id"), "left_anti")
      .unionByName(recomputed)
      .select("vec_id", "list_id", "centroid_cos", "sem_group", "kept")
      .pin()
    assignedAll = assignedAll.unionByName(aBat).pin()
    verdictCur
  }

  /** foreachBatch writer over a streaming embeddings frame; `sink`
    * receives each micro-batch's post-append keep-list snapshot. */
  def writer(vecStream: DataFrame,
             sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch((df: Dataset[Row], batchId: Long) =>
        sink(processBatch(df.toDF()), batchId))
}
