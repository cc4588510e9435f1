package graft

import org.apache.spark.sql.SparkSession

/** The one place this project builds a SparkSession. Every driver main and
  * the test suites share one policy: adaptive execution on, ANSI off
  * (JSON-Schema semantics want null-on-overflow casts, not exceptions), UTC
  * session time zone, UI off, one shuffle partition per core, WARN logging.
  * Only what callers genuinely vary is a parameter. */
private[graft] object Sessions {

  /** @param cores       task slots of the default `local[cores]` master, and
    *                    the shuffle partition count
    * @param master      master URL overriding `local[cores]` (e.g. a cluster)
    * @param smallSplits 16 MB scan splits at a 1 MB open cost: without it
    *                    the clips scan coalesces into ~128 MB splits and a
    *                    many-core run starves */
  def create(cores: Int, master: Option[String] = None,
             smallSplits: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (smallSplits) b
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${1024 * 1024}")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
