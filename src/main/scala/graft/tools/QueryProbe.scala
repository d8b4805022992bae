package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Per-query measurement probe on the engine session ([[GraftSession]]),
  * so a plan or timing read here is the plan the bench executes. For
  * each name in $SPARK_GRAFT_PROBE_ONLY (comma-separated): warm once
  * on sf0.001, then run N timed counts at $SPARK_GRAFT_SF_DIR and write
  * the post-run `explain("formatted")` (final AQE plan) to
  * $SPARK_GRAFT_PROBE_OUT/<name>_<tag>.txt when that env is set.
  * SPARK_GRAFT_PROBE_CACHE=1 replicates the bench fixture cache. */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start()

    val names = sys.env.getOrElse("SPARK_GRAFT_PROBE_ONLY", "q12_multi_agg")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "3").toInt
    val outDir = sys.env.get("SPARK_GRAFT_PROBE_OUT")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PROBE_TAG", "before")

    if (sys.env.getOrElse("SPARK_GRAFT_PROBE_CACHE", "1") != "0") {
      import graft.Tables
      val tables = Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame](
        Tables.region, Tables.nation, Tables.customer, Tables.supplier,
        Tables.part, Tables.orders, Tables.lineitem, Tables.events,
        Tables.documents, Tables.embeddings)
      tables.foreach { t =>
        try t(spark, sfDir).persist().count() catch { case _: Throwable => }
      }
    }

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      try fn(spark, "/root/testdata/sf0.001").count()
      catch { case t: Throwable =>
        System.err.println(s"WARMUP FAIL $name: ${t.getMessage}") }
      var lastDf: org.apache.spark.sql.DataFrame = null
      for (r <- 1 to runs) {
        spark.sparkContext.setJobDescription(s"$name run$r")
        val t0 = System.nanoTime()
        val ok = try { lastDf = fn(spark, sfDir); lastDf.count(); true }
          catch { case t: Throwable =>
            System.err.println(s"PROBE FAIL $name: ${t.getMessage}"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"PROBE $name run$r ${sec}%.3f s ok=$ok")
        spark.sparkContext.setJobDescription(null)
      }
      outDir.foreach { dir =>
        try {
          val txt = lastDf.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val f = new java.io.File(dir, s"${name}_$tag.txt")
          f.getParentFile.mkdirs()
          java.nio.file.Files.writeString(f.toPath, txt)
          println(s"PLAN  $name -> ${f.getPath}")
        } catch { case t: Throwable =>
          System.err.println(s"PLAN FAIL $name: ${t.getMessage}") }
      }
    }
    spark.stop()
  }
}
