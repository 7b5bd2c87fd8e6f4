package graft.streaming

import graft.operators.Pin.PinOps
import graft.search.{IvfModel, VecMath}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** Streaming vector search (SURVEY.md §2 #51): maintain the running
  * top-K inner-product neighbours of each registered query over an
  * UNBOUNDED stream of embeddings — online, index-free similarity
  * search. The batch twin is VectorSearch.knnJoin (oracle-checked
  * vec_knn_join); StreamingSpec asserts the stream's final answer equals
  * the batch answer on the same data.
  *
  * Scale shape: scoring is a stateless flatMap (each arriving vector is
  * scored against the broadcast query set — the same partition-local
  * work as knnJoin stage 1); state per query is a BOUNDED K-entry heap,
  * keyed by qid, so Q queries shard across the cluster and state never
  * grows with the stream. Each micro-batch emits each updated query's
  * current top-K (Update mode).
  */
object VectorStreaming {

  case class Neighbor(qid: Long, vec_id: Long, score: Double)

  def knnStream(
      vecs: Dataset[(Long, Array[Float])],
      queries: Seq[(Long, Array[Float])],
      k: Int): Dataset[Neighbor] = {
    val spark = vecs.sparkSession
    import spark.implicits._

    def update(qid: Long, it: Iterator[Neighbor],
               state: GroupState[Seq[Neighbor]]): Iterator[Neighbor] = {
      // dedupe by vec_id BEFORE the cut: at-least-once delivery replays
      // vectors, and a replayed id must not occupy several heap slots and
      // evict genuine neighbours (idempotent under redelivery)
      val merged = (state.getOption.getOrElse(Seq.empty) ++ it)
        .groupBy(_.vec_id).valuesIterator.map(_.head).toSeq
        .sortBy(n => (-n.score, n.vec_id)) // score desc, id tiebreak — knnJoin order
        .take(k)
      state.update(merged)
      merged.iterator
    }

    vecs
      .flatMap { case (id, v) =>
        queries.map { case (qid, q) =>
          Neighbor(qid, id, VecMath.round6(VecMath.dot(v, q)))
        }
      }
      .groupByKey(_.qid)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }
}

/** Streaming twin of vec_ivf_append — the ANN ingest pipeline's stream
  * shape (the IncrementalDedup symmetry): each micro-batch of embeddings
  * is centroid-assigned against the FROZEN resident quantizer
  * (IvfModel.assign — one codegen pass, no retraining) and unioned into
  * the serving index. foreachBatch, not a stream-static join, because
  * the index must GROW across batches — accumulated state append-mode
  * joins can't hold; in production the accumulated assignment is the
  * list_id-partitioned warehouse table the job appends to, here it is
  * pinned (operators.Pin) per batch to cut lineage. The sink receives the
  * post-append model, so a serving layer can swap index snapshots
  * atomically per micro-batch. StreamingSpec pins: streamed appends
  * compose to the batch append (same model state), and full-probe
  * search over the final model is exact over everything ingested. */
final class IncrementalIvf(resident: IvfModel) {

  @volatile private var current =
    resident.copy(indexed = resident.indexed.pin())

  /** The serving snapshot: resident ∪ every batch absorbed so far. */
  def model: IvfModel = current

  /** Assign + union one batch; returns the new serving snapshot. */
  def processBatch(batch: DataFrame): IvfModel = synchronized {
    current = current.copy(indexed = current.indexed
      .unionByName(current.assign(batch)).pin())
    current
  }

  /** foreachBatch writer over a streaming embeddings frame (the
    * embeddings schema: vec_id, embedding, label); `sink` receives each
    * micro-batch's post-append index snapshot. */
  def writer(vecStream: DataFrame,
             sink: (IvfModel, Long) => Unit): DataStreamWriter[Row] =
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch((df: Dataset[Row], batchId: Long) =>
        sink(processBatch(df.toDF()), batchId))
}
