package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** The table-read contract of [[Tables.read]]: the schema is taken from
  * the parquet footer on the driver, so a read runs no Spark job, and the
  * result is the relation `spark.read.parquet` gives: same schema, same
  * optimized plan, same footer choice, same errors. */
class TableReadSpec extends SparkSpec {

  private val sfDirs =
    Seq("sf0.001", "sf0.01", "sf0.1").map(n => new File(new File(sf).getParentFile, n))

  private def fixtureTables(dir: File): Seq[String] =
    dir.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq

  /** Jobs this thread submits while `body` runs. The listener bus is
    * asynchronous but in order, so once a marker job submitted after
    * `body` has been seen, every job `body` submitted has been seen. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val tag = "graft.test.tableRead"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val result = try body finally sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(tag, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("marker"), "the marker job never reached the listener")
      (result, seen.asScala.count(_ == "body"))
    } finally sc.removeSparkListener(listener)
  }

  private def plan(df: DataFrame) = df.queryExecution.optimizedPlan.canonicalized

  private def tempDir(prefix: String): File =
    TempDirs.deleteOnExit(Files.createTempDirectory(prefix).toFile)

  test("every fixture table at three scale factors: same schema and optimized plan as spark.read.parquet") {
    // the second pass flips a schema-affecting conf: the fixtures' naive
    // timestamps read as TIMESTAMP_NTZ by default, as TIMESTAMP without it
    for (confs <- Seq(Nil, Seq("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"));
         dir <- sfDirs) operators.Sessions.withConfs(spark, confs: _*) {
      val names = fixtureTables(dir)
      assert(names.size == 10, s"$dir: $names")
      for (name <- names) {
        val ours = Tables(spark, dir.getPath, name)
        val inferred = spark.read.parquet(s"$dir/$name.parquet")
        assert(ours.schema == inferred.schema, s"$dir/$name schema under $confs")
        assert(plan(ours) == plan(inferred), s"$dir/$name optimized plan under $confs")
      }
    }
  }

  test("Tables.apply submits no Spark job") {
    val (_, jobs) = jobsDuring {
      for (dir <- sfDirs; name <- fixtureTables(dir)) Tables(spark, dir.getPath, name)
    }
    assert(jobs == 0)
  }

  test("a file rewritten at the same path with another schema is read with the new schema") {
    val file = new File(tempDir("graft_tableread_rewrite_"), "t.parquet")
    def writeAs(df: DataFrame): Unit = {
      val stage = tempDir("graft_tableread_stage_")
      df.coalesce(1).write.mode("overwrite").parquet(new File(stage, "out").getPath)
      val part = new File(stage, "out").listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, file.toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    writeAs(spark.range(3).selectExpr("id AS a"))
    val (first, jobs1) = jobsDuring(Tables.read(spark, file.getPath))
    assert(first.columns.toSeq == Seq("a"))
    writeAs(spark.range(2).selectExpr("cast(id AS string) AS b", "id * 2.5 AS c"))
    val (second, jobs2) = jobsDuring(Tables.read(spark, file.getPath))
    assert(second.schema == spark.read.parquet(file.getPath).schema)
    assert(second.columns.toSeq == Seq("b", "c"))
    assert(second.orderBy("b").collect().map(_.getString(0)).toSeq == Seq("0", "1"))
    assert(jobs1 == 0 && jobs2 == 0)
  }

  test("a Spark-written multi-file directory and a zero-row file give the inferred schema") {
    val multi = new File(tempDir("graft_tableread_multi_"), "t").getPath
    spark.range(40).selectExpr("id", "cast(id AS string) AS s", "array(id, id + 1) AS xs",
        "named_struct('k', id % 3, 'v', cast(id AS double)) AS st")
      .repartition(4).write.parquet(multi)
    assert(new File(multi).listFiles().count(_.getName.endsWith(".parquet")) == 4)
    val empty = new File(tempDir("graft_tableread_empty_"), "t").getPath
    spark.range(0).selectExpr("id", "cast(id AS string) AS s").coalesce(1).write.parquet(empty)
    val emptyFile = new File(empty).listFiles().find(_.getName.endsWith(".parquet")).get.getPath
    // a summary footer outranks the data files, as in Spark's own choice
    val summarized = new File(tempDir("graft_tableread_summary_"), "t")
    Files.copy(new File(multi).toPath, summarized.toPath)
    new File(multi).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, new File(summarized, f.getName).toPath))
    Files.copy(new File(emptyFile).toPath, new File(summarized, "_common_metadata").toPath)
    for (path <- Seq(multi, empty, emptyFile, summarized.getPath)) {
      val (ours, jobs) = jobsDuring(Tables.read(spark, path))
      val inferred = spark.read.parquet(path)
      assert(ours.schema == inferred.schema, path)
      assert(plan(ours) == plan(inferred), path)
      assert(jobs == 0, path)
    }
    assert(Tables.read(spark, summarized.getPath).columns.toSeq == Seq("id", "s"))
    assert(Tables.read(spark, multi).count() == 40)
    assert(Tables.read(spark, empty).count() == 0)
  }

  test("a missing path or a directory without data files throws what spark.read.parquet throws") {
    val base = tempDir("graft_tableread_missing_")
    val emptyDir = new File(base, "empty")
    assert(emptyDir.mkdir())
    for (path <- Seq(new File(base, "absent.parquet").getPath, emptyDir.getPath)) {
      val expected = intercept[Exception](spark.read.parquet(path))
      val actual = intercept[Exception](Tables.read(spark, path))
      assert(actual.getClass == expected.getClass, path)
      assert(actual.getMessage == expected.getMessage, path)
    }
  }
}
