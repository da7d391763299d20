package graft.examples

import org.apache.spark.sql.SparkSession

/** Shared probe plumbing: ONE definition of the bench-matching
  * session conf and the median helper. The probes exist to explain
  * bench numbers, so they must measure under the bench's exact
  * settings — before this, each probe carried its own copy and a
  * conf-key added to Bench (rangeExchange sampling, the
  * objectHashAggregate threshold) silently left older probes
  * measuring under different settings than the board they explain.
  */
object ProbeUtil {

  /** graft.Bench's session knobs (minus env overrides), with the task
    * slots and shuffle partitions sized to the host's cores.
    */
  def benchSession(appName: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.sql.execution.rangeExchange.sampleSizePerPartition", "20")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
