package graft.fs

import org.apache.spark.sql.SparkSession

/** Crash-safe directory replacement — the one swap recipe every artifact
  * rewrite in the engine shares (the epoch-artifact rewrites in
  * [[graft.streaming.OnlineRefresh]], the incremental layout-index
  * refreshes in [[Layout]]): write the replacement to `dir_tmp`, move the
  * live dir aside to `dir_old`, move tmp in, drop old. A crash between
  * the renames leaves `dir` or `dir_old` intact — never zero copies
  * (plain delete-then-rename has exactly that window) — and
  * [[recoverSwap]] restores the set-aside copy on the next touch.
  *
  * An epoch artifact swaps only its ROOT, whatever the rewrite changes
  * under it (OnlineRefresh's `rewriteEpochs`): no sub-dir of a root is
  * swapped on its own, so its tables change together and a reader or
  * mutator heals the whole artifact with one `recoverSwap(root)`.
  *
  * Hadoop FS rename/delete report failure via `false`, not exceptions;
  * every transition here throws on `false` so a failed move can never be
  * silently treated as committed. */
object AtomicDir {

  /** Self-heal a directory whose last swap crashed mid-rename: dst missing
    * but the set-aside `_old` copy intact ⇒ restore it. Public entry
    * points that read or rewrite a swapped dir call this FIRST — the
    * recovery branch inside [[swapDir]] alone is unreachable when the
    * caller's own read touches the missing dst before the swap runs. */
  def recoverSwap(spark: SparkSession, dirPath: String): Unit =
    recoverSwapAt(spark, dirPath, dirPath + "_old")

  /** The recovery step with an EXPLICIT set-aside path — for swaps whose
    * dir lives inside a partition-discovered table, where the default
    * `<dir>_old` sibling would surface as a bogus partition; callers
    * pass a dot-prefixed (hidden) set-aside path instead. */
  def recoverSwapAt(spark: SparkSession, dirPath: String, oldPath: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(dirPath)
    val fs = dst.getFileSystem(conf)
    val oldP = new org.apache.hadoop.fs.Path(oldPath)
    if (!fs.exists(dst) && fs.exists(oldP) && !fs.rename(oldP, dst))
      throw new java.io.IOException(s"recovery rename $oldP -> $dst failed")
  }

  /** Replace `dirPath` with whatever `write` lands at the tmp path, via
    * the crash-safe rename chain above. The `write` callback runs while
    * the live dir is still intact, so its plan may READ `dirPath` (the
    * compaction/refresh pattern: old rows union new rows → tmp). */
  def swapDir(spark: SparkSession, dirPath: String)(write: String => Unit): Unit =
    swapDirAt(spark, dirPath, dirPath + "_tmp", dirPath + "_old")(write)

  /** The swap with EXPLICIT tmp/set-aside paths (see [[recoverSwapAt]] —
    * hidden names for dirs inside partition-discovered tables). */
  def swapDirAt(spark: SparkSession, dirPath: String, tmpPath: String,
      oldPath: String)(write: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(dirPath)
    val fs = dst.getFileSystem(conf)
    val oldP = new org.apache.hadoop.fs.Path(oldPath)
    val tmp = new org.apache.hadoop.fs.Path(tmpPath)
    def must(ok: Boolean, what: String): Unit =
      if (!ok) throw new java.io.IOException(s"dir swap failed: $what")
    recoverSwapAt(spark, dirPath, oldPath)
    fs.delete(tmp, true)
    write(tmp.toString)
    fs.delete(oldP, true)
    if (fs.exists(dst)) must(fs.rename(dst, oldP), s"rename $dst -> $oldP")
    must(fs.rename(tmp, dst), s"rename $tmp -> $dst")
    fs.delete(oldP, true)
    ()
  }
}
