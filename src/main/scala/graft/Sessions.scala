package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for every graft main and the test base: the
  * caller picks the master and the shuffle width, the policy is fixed —
  * UTC session zone ([[Tables.table]] requires it), UI off, the SQL
  * registry injected through [[GraftExtensions]] (and attached by
  * [[GraftFunctions.ensureAttached]] when `getOrCreate` reuses a live
  * session), WARN logging.
  */
object Sessions {
  def local(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.ensureAttached(spark)
    spark
  }
}
