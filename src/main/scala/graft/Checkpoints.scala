package graft

import java.io.File

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The resources an operator or query creates and must give back: eager
  * local checkpoints, and the local scratch dirs that fixtures, rendered
  * batch files and query outputs live in.
  *
  * A frame's `unpersist()` drops cache entries only: a localCheckpoint's
  * blocks belong to the RDD under the checkpointed frame's `LogicalRDD`
  * leaf, and that RDD is what a checkpoint's release unpersists.
  *
  * A scratch dir is owned by the SparkContext it was made under. A dir
  * that a returned frame still reads cannot be deleted when the call
  * returns, so every owned dir is deleted when its context stops (one
  * `SparkListenerApplicationEnd` listener per context). A dir no frame
  * reads after the call is released at once by its creator. */
object Checkpoints {

  /** `df` eagerly local-checkpointed, and the release of its blocks: the
    * caller runs it once its last action over the frame has finished. */
  def owned(df: DataFrame): (DataFrame, () => Unit) = {
    val cp = df.localCheckpoint(true)
    val pinned = cp.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    (cp, () => pinned.foreach(_.unpersist(blocking = false)))
  }

  private val ownedDirs = TrieMap.empty[SparkContext, TrieMap[String, Unit]]

  /** A new empty dir named `prefix*` under java.io.tmpdir, deleted when
    * `spark`'s context stops unless [[release]]d before. */
  def scratchDir(spark: SparkSession, prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val sc = spark.sparkContext
    ownedDirs.putIfAbsent(sc, TrieMap(dir -> ())) match {
      case Some(dirs) => dirs.put(dir, ())
      case None => sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          ownedDirs.remove(sc).foreach(_.keys.foreach(release))
      })
    }
    dir
  }

  /** Delete `dir` and everything under it now. A context's stop calls
    * this on every dir it still owns. */
  def release(dir: String): Unit = {
    ownedDirs.values.foreach(_.remove(dir))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new File(dir))
  }

  private val memos = TrieMap.empty[(String, String), String]

  /** The dir of a per-dataset fixture: built once by `build` (which
    * writes into the dir it is given) and reused by every later call for
    * the same `name` and `dataset`. An entry is valid while its dir
    * exists — and, for fixtures with handles outside the dir such as
    * catalog tables, while `alsoValid` holds; otherwise it is rebuilt,
    * so a later session rebuilds what a stopped one released. The dir is
    * named `graft-<name>*`. */
  def memo(spark: SparkSession, name: String, dataset: String,
      alsoValid: => Boolean = true)(build: String => Unit): String =
    memos.get((name, dataset))
      .filter(d => new File(d).isDirectory && alsoValid)
      .getOrElse {
        val dir = scratchDir(spark, s"graft-$name")
        try build(dir) catch { case e: Throwable => release(dir); throw e }
        memos.put((name, dataset), dir)
        dir
      }

  /** Render `df` into the existing dir `dest` as one `format` file named
    * `name(k)` per value k of its non-negative integer column `key`, with
    * mtimes strictly increasing in key order: a file stream source replays
    * files in (mtime, path) order, so with maxFilesPerTrigger=1 the k-th
    * smallest key is the stream's k-th trigger. ONE partitioned write
    * renders every file (partitionBy drops `key` from the bodies); a
    * per-key filter and write would scan `df` once per key. The
    * partitioned write's own dir is deleted before this returns. Returns
    * the number of files. */
  def renderBatches(df: DataFrame, key: String, format: String,
      dest: String)(name: Int => String): Int = {
    val part = new File(dest, "_partitioned")
    try {
      df.coalesce(1).write.partitionBy(key).format(format).save(part.toString)
      val keyed = s"$key=(\\d+)".r
      val batches = Option(part.listFiles).getOrElse(Array.empty)
        .flatMap(d => d.getName match {
          case keyed(k) => Some(k.toInt -> d)
          case _ => None
        }).sortBy(_._1)
      batches.zipWithIndex.foreach { case ((k, d), i) =>
        val file = Option(d.listFiles).getOrElse(Array.empty)
          .find(_.getName.endsWith(s".$format"))
          .getOrElse(throw new IllegalStateException(s"no $format part for batch $k"))
        val out = new File(dest, name(k))
        java.nio.file.Files.move(file.toPath, out.toPath)
        require(out.setLastModified((i + 1) * 60000L),
          s"could not stamp batch $k's replay order")
      }
      batches.length
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(part)
  }
}
