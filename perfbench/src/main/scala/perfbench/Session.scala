package perfbench

import org.apache.spark.sql.SparkSession

/** The engine session every workload runs in.
  *
  * The confs are the ones `graft.Bench` sets, so numbers taken here are
  * comparable with the program's own bench, with three differences:
  * cores come from the caller (the host's processor count), no
  * `SPARK_GRAFT_*` switch is read, and there is no fixture cache, so a
  * change to the scan layer stays visible. Spark's scratch directory
  * lives under the benchmark's work directory instead of tmpfs, so a
  * run writes only inside its checkout.
  */
object Session {

  def confs(cores: Int, localDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.maxPlanStringLength" -> "65536",
    "spark.sql.ui.explainMode" -> "simple",
    "spark.sql.ui.retainedExecutions" -> "4",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1048576",
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.sources.GraftRawLocalFs",
    "spark.hadoop.fs.file.impl" -> "graft.sources.GraftLocalFileSystem",
    "spark.local.dir" -> localDir,
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "15s")

  def start(cores: Int, localDir: String): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    confs(cores, localDir).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
