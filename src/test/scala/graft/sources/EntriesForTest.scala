package graft.sources

import org.apache.spark.sql.SparkSession

/** Test access to a version's manifest entries from outside the
  * package: (table-root-relative path, stats keys, bloom keys).
  */
object EntriesForTest {
  def apply(spark: SparkSession, dir: String,
      v: Long): Seq[(String, Set[String], Set[String])] =
    Snapshot.readManifest(spark, dir, v).files.map(e =>
      (e.path, e.stats.keySet, e.blooms.keySet))

  /** The entries version `v` added over version `v - 1`. */
  def added(spark: SparkSession, dir: String,
      v: Long): Seq[(String, Set[String], Set[String])] = {
    val before = apply(spark, dir, v - 1).map(_._1).toSet
    apply(spark, dir, v).filterNot(e => before.contains(e._1))
  }
}
