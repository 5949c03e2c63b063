package graft

import org.apache.spark.sql.SparkSession

/** The one package-private call the traced runs need to time the read
  * path's index open exactly as the facade performs it. */
object BenchAccess {
  def recoverSwap(spark: SparkSession, table: String): Unit =
    graft.sources.IndexBuild.recoverSwap(spark, table)
}
