package graft.search

import graft.sources.LocalArtifacts
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one lifecycle for persisted ANN indexes (IVF, PQ, SQ8, BQ, IVFPQ,
  * residual IVFPQ). The reference builds its FAISS index once and keeps it
  * in memory after artifact load (loaders.py:141); every family here
  * opens through the same two layers:
  *  - on disk: one index per (family, corpus key, row count, source
  *    mtime, family params) under the system temp dir (stand-in for the
  *    warehouse path a cluster deployment would use), published by
  *    [[LocalArtifacts.publish]], so a corpus is trained at most once
  *    across all JVMs on the machine. The source mtime invalidates the
  *    index when the corpus is regenerated with an unchanged row count;
  *  - in the JVM: one memo entry per (family, corpus key, params, row
  *    count), guarded by the source mtime AND by the SparkSession the
  *    model's DataFrames belong to — a regenerated corpus or a caller in
  *    another session replaces the entry instead of being served a model
  *    built for another frame or session. A hit launches no Spark job.
  *
  * A family contributes only its own format: the parts whose `_SUCCESS`
  * marks a complete index, a build-and-write into a path, and a load.
  * The row count is the caller's (it already has it — the harness's
  * `total`, `Tables.rowCount`), so opening never runs a count job.
  */
object IndexStore {

  private val memo = new graft.MtimeCache[(SparkSession, AnyRef)]

  /** Open the `family` index of `emb`, building and publishing it on the
    * first open. `params` is the family's requested build parameters as a
    * path suffix (e.g. "-i10"). A non-file source (mtime 0) carries no
    * invalidation signal, so it bypasses the memo and reopens the on-disk
    * index (keyed by row count alone) on every call. `write` and `load`
    * run under the memo's per-key lock (concurrent same-key callers build
    * once), so they must not open another index: open the parts a
    * composed index needs first and pass them in, as IvfPq.open does. */
  def open[M <: AnyRef](family: String, params: String, emb: DataFrame, corpusKey: String,
                        rows: Long, parts: String*)(write: String => Unit)(
                        load: String => M): M = {
    val spark = emb.sparkSession
    val key = corpusKey.replaceAll("[^A-Za-z0-9.]", "_")
    val mtime = LocalArtifacts.inputMtime(emb)
    def body: M = openAt(
      s"${sys.props("java.io.tmpdir")}/graft-$family/$key-n$rows-m$mtime$params", parts: _*)(
      write)(load)
    if (mtime == 0L) body
    else memo(s"$family/$key$params-n$rows", mtime, _._1 eq spark)((spark, body))
      ._2.asInstanceOf[M]
  }

  /** Publish-or-load at an explicit path, without the memo. */
  def openAt[M](path: String, parts: String*)(write: String => Unit)(load: String => M): M = {
    LocalArtifacts.publish(path, LocalArtifacts.succeeded(parts: _*))(write)
    load(path)
  }
}
