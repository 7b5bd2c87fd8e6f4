package graft.sources

/** Shared local-filesystem helpers for the publish-by-rename artifact
  * discipline (ANN indexes, pair/cluster/band tables, the vectors.npy
  * artifact, bucketed catalog tables). */
object LocalArtifacts {

  /** Recursive delete (files then dirs); no-op on a missing path. */
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Resolve a Spark warehouse/artifact dir STRING (plain path or file
    * URI, possibly percent-encoded) to a java.io.File. */
  def asFile(dir: String): java.io.File =
    try new java.io.File(new java.net.URI(dir))
    catch { case _: Exception => new java.io.File(dir.stripPrefix("file:")) }

  /** Newest mtime among a frame's source files — the staleness key of
    * every artifact derived from it. No Spark job; 0 for a non-file
    * source (no invalidation signal). */
  def inputMtime(df: org.apache.spark.sql.DataFrame): Long =
    df.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f).getPath).lastModified()).foldLeft(0L)(math.max)

  /** `complete` test for an artifact made of parquet parts: every named
    * part under the path carries its `_SUCCESS` marker ("." = the path
    * itself is the table). */
  def succeeded(parts: String*): String => Boolean =
    path => parts.forall(p => new java.io.File(s"$path/$p/_SUCCESS").exists())

  /** Publish-by-rename — the one build-once discipline for every
    * persisted index and artifact. When `complete(path)` already holds,
    * nothing runs. Otherwise `writeTo` fills a private tmp path (pid AND
    * thread id, so neither two JVMs nor two threads of one JVM interleave
    * writes) and ONE rename publishes it, so a reader never sees a
    * half-written artifact. A rename loser (a concurrent builder won)
    * discards its copy and re-checks that a complete winner exists;
    * anything else — a stale partial directory at `path`, permissions —
    * throws instead of surfacing later as an unreadable artifact. */
  def publish(path: String, complete: String => Boolean)(writeTo: String => Unit): Unit =
    if (!complete(path)) {
      val tmp = s"$path.tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}"
      val dst = new java.io.File(path)
      dst.getParentFile.mkdirs()
      writeTo(tmp)
      if (!new java.io.File(tmp).renameTo(dst)) {
        deleteRecursively(new java.io.File(tmp))
        if (!complete(path))
          throw new IllegalStateException(
            s"publish failed: rename to $path lost without a complete artifact " +
              "present (stale/partial directory? permissions?) — remove the " +
              "target path and rebuild")
      }
    }
}
