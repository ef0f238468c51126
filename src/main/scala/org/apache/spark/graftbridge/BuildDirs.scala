package org.apache.spark.graftbridge

import java.io.File

import org.apache.spark.util.Utils

/** Spark's private[spark] temp-dir helpers, for `graft.SparkEntry.buildOnce`
  * (the [[BlockResidue]] convention). `create` registers the dir with
  * Spark's `ShutdownHookManager`, which deletes it at JVM exit. */
object BuildDirs {
  def create(prefix: String, root: String = System.getProperty("java.io.tmpdir")): File =
    Utils.createTempDir(root, prefix)
  def delete(dir: File): Unit = Utils.deleteRecursively(dir)
}
