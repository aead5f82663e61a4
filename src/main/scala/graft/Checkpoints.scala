package graft

import java.io.File

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The resources an operator or query creates and must give back: local
  * checkpoints, and the local scratch dirs that fixtures, rendered batch
  * files and query outputs live in.
  *
  * A frame's `unpersist()` drops cache entries only: a localCheckpoint's
  * blocks (eager or lazy) belong to the RDD under the checkpointed frame's
  * `LogicalRDD` leaf, and that RDD is what a release unpersists. An
  * iterative operator runs its rounds through [[fixpoint]]; an operator
  * releases every checkpoint its returned frame does not read.
  *
  * A scratch dir is owned by the SparkContext it was made under. A dir
  * that a returned frame still reads cannot be deleted when the call
  * returns, so every owned dir is deleted when its context stops (one
  * `SparkListenerApplicationEnd` listener per context). A dir no frame
  * reads after the call is released at once by its creator. */
object Checkpoints {

  /** `df` local-checkpointed (eagerly unless `eager` is false), and the
    * release of its blocks: the caller runs it once its last action over
    * the frame has finished. */
  def owned(df: DataFrame, eager: Boolean = true): (DataFrame, () => Unit) = {
    val cp = df.localCheckpoint(eager)
    (cp, () => releaseRead(cp))
  }

  /** Release the checkpoints under `df`'s plan now: for a caller that has
    * materialized all it reads of a lazy frame an operator checkpointed
    * inside, when no other frame reads those checkpoints. */
  def releaseRead(df: DataFrame): Unit =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))

  /** `body`'s value, given an `own` that checkpoints a frame as [[owned]]
    * does and releases it when `body` returns or throws. */
  def scoped[A](body: (DataFrame => DataFrame) => A): A = {
    val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    try body { df => val (cp, release) = owned(df); releases += release; cp }
    finally releases.foreach(_())
  }

  /** The round loop of an iterative operator: round 0 is `init`, round r
    * is `step(round r-1, r)`, each an eager [[owned]] checkpoint. After
    * each round, `done(prev, next, r)` decides whether to stop; it is first
    * asked of round 0 alone (prev = next). A round is released once its
    * successor has materialized and `done` has read both; a throwing
    * `step` or `done` releases all. Returns the last round, whether `done`
    * held (false at the `maxRounds` bound), and the last round's release. */
  def fixpoint(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame)(
      done: (DataFrame, DataFrame, Int) => Boolean): (DataFrame, Boolean, () => Unit) = {
    var (last, release) = owned(init)
    try {
      var (round, held) = (0, done(last, last, 0))
      while (!held && round < maxRounds) {
        round += 1
        val (next, releaseNext) = owned(step(last, round))
        held = try done(last, next, round)
          catch { case e: Throwable => releaseNext(); throw e }
        release()
        last = next; release = releaseNext
      }
      (last, held, release)
    } catch { case e: Throwable => release(); throw e }
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
