package graft.migration

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Fail-fast validation gates (SyncTickets.php:70-115): every Groove
  * mailbox must match a HelpScout mailbox by ci name (J7, ST:84-92) and
  * every Groove agent a HelpScout user by ci email (J8, ST:100-108);
  * misses abort the run. The four dims are mailbox- and agent-sized, so
  * the gate collects their ci keys in one job before the main scan (the
  * plan order the reference hand-rolls, which also holds these dims in
  * memory, AH:41-69) and evaluates both anti-joins over the collected rows.
  */
object Validation {

  /** The gate: Left(unmatched report) to abort, Right(()) to proceed.
    * The report has the left-anti joins' rows: one per unmatched Groove
    * row, duplicates and null keys included (a null key matches nothing). */
  def gate(grooveMailboxes: DataFrame, hsMailboxes: DataFrame,
           grooveAgents: DataFrame, hsUsers: DataFrame): Either[DataFrame, Unit] = {
    def keys(tag: String, df: DataFrame, key: String): DataFrame =
      df.select(lit(tag).as("tag"), lower(col(key)).as("ci"), col(key).as("raw"))
    val keyed = keys("unmatched_mailbox", grooveMailboxes, "name")
      .unionByName(keys("unmatched_agent", grooveAgents, "email"))
      .unionByName(keys("hs_mailbox", hsMailboxes, "name"))
      .unionByName(keys("hs_user", hsUsers, "email"))
    val byTag = keyed.collect().groupBy(_.getString(0))
    def rows(tag: String): Seq[Row] = byTag.getOrElse(tag, Array.empty[Row]).toSeq
    def unmatched(tag: String, against: String): Seq[Row] = {
      val known = rows(against).flatMap(r => Option(r.getString(1))).toSet
      rows(tag).collect { case r if r.isNullAt(1) || !known(r.getString(1)) => Row(tag, r.get(2)) }
    }
    val bad = unmatched("unmatched_mailbox", "hs_mailbox") ++ unmatched("unmatched_agent", "hs_user")
    if (bad.isEmpty) Right(())
    else Left(keyed.sparkSession.createDataFrame(bad.asJava, StructType(Seq(
      StructField("error_type", StringType, nullable = false),
      StructField("detail", keyed.schema("raw").dataType)))))
  }
}
