package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** The driver-sortability contract, asserted: the correctness driver sorts
  * every registered query's output frame in pandas before hashing, and
  * pandas cannot sort array/map/struct cells (numpy ndarray is unhashable
  * in sort_values) — a query that exports such a column dies with a RED
  * `err` row indistinguishable from a broken query (CORRECTNESS_r06
  * q77/q79/q80). Every entry in SparkEntry.queries must therefore emit
  * scalar columns only; complex values are exported exploded
  * (one element per row) or serialized. This spec would have failed in
  * round 6 and exists so the contract can never silently break again.
  *
  * Schema-only: each query's frame is CONSTRUCTED (plans analyze; model
  * training in the ANN queries runs driver-side at sf0.001) but never
  * executed, so the suite stays cheap. The same loop checks that no body
  * leaves a session conf changed: a query's confs are scoped to its call
  * ([[graft.GraftSession.withSessionConfs]]), and session-wide ones are
  * set by [[graft.GraftSession.builder]].
  */
class RegisteredQuerySpec extends SparkSpec {

  test("every registered query emits only driver-sortable scalar columns") {
    // a key a body sets that was unset before had its default then: the
    // default is what a fresh session on the same context reads
    val defaults = spark.newSession().conf
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val before = spark.conf.getAll
        val schema = fn(spark, sfDir).schema
        val changed = (before.keySet ++ spark.conf.getAll.keySet).toSeq.sorted
          .flatMap { k =>
            val was = before.get(k).orElse(defaults.getOption(k))
            val now = spark.conf.getOption(k)
            if (was == now) None else Some(s"$name leaves conf $k: $was -> $now")
          }
        changed ++ schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
                    f.dataType.isInstanceOf[MapType] ||
                    f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"driver-unsortable columns or leaked confs in registered queries:\n  " +
        offenders.mkString("\n  "))
  }

  test("every oracleSql key has a matching registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("every __VERIFY_OUT__ fixture an oracle reads is a registered query") {
    // a typo'd fixture path would make DuckDB read an empty glob and fail
    // the dependent oracle with a confusing error — catch it at the source
    val ref = "__VERIFY_OUT__/([A-Za-z0-9_]+)/".r
    val bad = SparkEntry.oracleSql.toSeq.flatMap { case (name, sql) =>
      ref.findAllMatchIn(sql).map(_.group(1)).filterNot(SparkEntry.queries.contains)
        .map(f => s"$name reads unknown fixture $f")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
