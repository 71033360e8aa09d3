package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.jdbc.JdbcDialects

/** Partitioned JDBC snapshot scan options (SURVEY §2.1 S2) — the
  * Spark-native form of the reference's server-side streaming
  * cursor + 100k-row fetch loop (tablemigrator.py:180-224,
  * SSDictCursor at :67,198 in /root/reference): the fetch loop
  * becomes `numPartitions` parallel range scans on
  * `partitionColumn`, and `fetchsize` replaces
  * `fetchmany(pool_max_rows_num)`.
  *
  * Tested against a LIVE embedded Derby database (the JDBC engine
  * Spark ships for its metastore): partitioned range-scan fan-out,
  * server-side WHERE pushdown, and fetch-size plumbing execute
  * against real JDBC (JdbcSnapshotSpec); MySQL's backtick quoting,
  * which the URL's dialect picks, is covered by option-assembly
  * tests.
  */
object JdbcSnapshot {

  final case class Partitioning(column: String, lower: Long, upper: Long,
      numPartitions: Int)

  /** Build the JDBC reader option map: table-or-query pushdown
    * (`WHERE` folds into a dbtable subquery so filtering happens
    * server-side, like tablemigrator.py:191-194), partitioned range
    * scan, batch fetch size. `db` and `table` are quoted the way the
    * URL's dialect quotes identifiers.
    */
  def options(url: String, db: String, table: String,
      where: Option[String] = None,
      partitioning: Option[Partitioning] = None,
      fetchSize: Int = 100000): Map[String, String] = {
    val d = JdbcDialects.get(url)
    val qualified = s"${d.quoteIdentifier(db)}.${d.quoteIdentifier(table)}"
    val dbtable = where match {
      case Some(w) => s"(SELECT * FROM $qualified WHERE $w) AS t"
      case None    => qualified
    }
    Map(
      "url" -> url,
      "dbtable" -> dbtable,
      "fetchsize" -> fetchSize.toString) ++
      partitioning.fold(Map.empty[String, String]) { p =>
        Map(
          "partitionColumn" -> p.column,
          "lowerBound" -> p.lower.toString,
          "upperBound" -> p.upper.toString,
          "numPartitions" -> p.numPartitions.toString)
      }
  }

  def read(spark: SparkSession, opts: Map[String, String]): DataFrame =
    spark.read.format("jdbc").options(opts).load()
}
