package graft.streaming

import graft.operators.Pin.PinOps
import graft.queries.PipelineQueries
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming twin of corpus_dsir (SURVEY.md §2 #162): the DSIR
  * importance-weight model maintained over an unbounded document stream.
  *
  * DSIR's entire model is the ≤4096-row bucket histogram (b, cq, cp) —
  * ADDITIVE integer sufficient statistics, so absorbing micro-batches is
  * EXACT: histogram(B₁ ∪ … ∪ Bₙ) equals the running sum, bucket for
  * bucket, and scoring any corpus under the streamed model is
  * bit-identical to the batch corpus_dsir over the union (spec-pinned,
  * StreamingSpec). Per-batch cost is one feature explode of the BATCH
  * plus a ≤4096-row full-outer merge — the corpus is never re-read.
  *
  * foreachBatch, not a stateful aggregation: the model is GLOBAL state a
  * later scorer consumes (every doc's score changes when the model
  * absorbs new mass), which windowed/keyed streaming state cannot
  * express. Each batch is scored PREQUENTIALLY (under the post-absorb
  * model) — the standard online-classifier discipline; re-score any
  * corpus on demand with [[scoreWith]].
  */
final class IncrementalDsir(initial: DataFrame) {

  @volatile private var histCur: DataFrame =
    initial.pin()

  /** The current (b, cq, cp) model state. */
  def histogram: DataFrame = histCur

  /** Absorb one micro-batch of documents; returns the batch scored
    * under the post-absorb model. */
  def processBatch(batch: DataFrame): DataFrame = synchronized {
    val feats = PipelineQueries.dsirFeatures(batch).pin()
    val bh = PipelineQueries.dsirHistogram(feats)
    histCur = histCur.as("o").join(bh.as("n"), Seq("b"), "full_outer")
      .select(col("b"),
        (coalesce(col("o.cq"), lit(0L)) + coalesce(col("n.cq"), lit(0L))).as("cq"),
        (coalesce(col("o.cp"), lit(0L)) + coalesce(col("n.cp"), lit(0L))).as("cp"))
      .pin()
    PipelineQueries.dsirScore(feats, PipelineQueries.dsirRatio(histCur))
  }

  /** Score any corpus under the CURRENT streamed model — equals the
    * batch corpus_dsir when the stream has absorbed exactly that
    * corpus (additivity contract). */
  def scoreWith(docs: DataFrame): DataFrame =
    PipelineQueries.dsirScore(
      PipelineQueries.dsirFeatures(docs),
      PipelineQueries.dsirRatio(histCur))

  /** foreachBatch writer over a streaming documents frame; `sink`
    * receives each micro-batch's prequential scores. */
  def writer(docStream: DataFrame,
             sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docStream.writeStream
      .outputMode("append")
      .foreachBatch((df: Dataset[Row], batchId: Long) =>
        sink(processBatch(df.toDF()), batchId))
}

object IncrementalDsir {
  /** Fresh model: the empty histogram (a cold-started stream). */
  def empty(spark: org.apache.spark.sql.SparkSession): IncrementalDsir = {
    import spark.implicits._
    new IncrementalDsir(Seq.empty[(String, Long, Long)].toDF("b", "cq", "cp"))
  }
}
