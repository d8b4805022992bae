package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The table-read contract of [[Tables.read]]: the schema is taken from
  * the parquet footer on the driver, so a read runs no Spark job, and the
  * result is the relation `spark.read.parquet` gives: same schema, same
  * optimized plan, same footer choice, same errors. A fixture table
  * ([[Tables.apply]]) is that relation too, resolved once per session. */
class TableReadSpec extends SparkSpec {

  private val sfDirs =
    Seq("sf0.001", "sf0.01", "sf0.1").map(n => new File(new File(sf).getParentFile, n))

  private def fixtureTables(dir: File): Seq[String] =
    dir.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq

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

  private def relationOf(df: DataFrame): LogicalRelation =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r }.get

  /** `<new temp dir>/<name>.parquet`, copied from the sf0.001 fixture. */
  private def fixtureCopy(names: String*): String = {
    val dir = tempDir("graft_tableread_fixture_")
    names.foreach(n => Files.copy(new File(sf, s"$n.parquet").toPath,
      new File(dir, s"$n.parquet").toPath))
    dir.getPath
  }

  test("a second Tables.apply in a session reuses the relation, runs no job, gives fresh ids") {
    val first = Tables(spark, sf, "orders")
    val (second, jobs) = jobsDuring(Tables(spark, sf, "orders"))
    assert(jobs == 0)
    assert(relationOf(second).relation.isInstanceOf[HadoopFsRelation])
    assert(relationOf(second).relation eq relationOf(first).relation)
    assert(first.queryExecution.analyzed.output.map(_.exprId)
      .intersect(second.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
  }

  test("two Tables.documents reads joined on doc_id give the rows of two parquet reads") {
    val path = s"$sf/documents.parquet"
    def selfJoin(a: DataFrame, b: DataFrame) = {
      val rows = a.join(b, a("doc_id") === b("doc_id"))
        .select(a("doc_id"), a("lang"), b("source"), b("n_chars")).collect().toSeq
      rows.map(_.toString).sorted
    }
    val ours = selfJoin(Tables.documents(spark, sf), Tables.documents(spark, sf))
    assert(ours.nonEmpty)
    assert(ours == selfJoin(spark.read.parquet(path), spark.read.parquet(path)))
  }

  test("a fixture file rewritten with another schema and length is resolved again") {
    val dir = fixtureCopy("region")
    val file = new File(dir, "region.parquet")
    val before = Tables.region(spark, dir)
    assert(before.columns.contains("r_name"))
    val stage = tempDir("graft_tableread_stage_")
    spark.range(5).selectExpr("id AS k", "id * 2.5 AS v").coalesce(1)
      .write.parquet(new File(stage, "out").getPath)
    val part = new File(stage, "out").listFiles().find(_.getName.endsWith(".parquet")).get
    assert(part.length != file.length)
    Files.move(part.toPath, file.toPath, StandardCopyOption.REPLACE_EXISTING)
    val after = Tables.region(spark, dir)
    assert(after.columns.toSeq == Seq("k", "v"))
    assert(relationOf(after).relation ne relationOf(before).relation)
    assert(after.count() == 5)
  }

  test("a new session resolves a fixture table on its own") {
    val ours = Tables(spark, sf, "nation")
    val other = spark.newSession()
    val theirs = Tables(other, sf, "nation")
    assert(relationOf(theirs).relation ne relationOf(ours).relation)
    assert(relationOf(Tables(other, sf, "nation")).relation eq relationOf(theirs).relation)
    assert(theirs.sparkSession eq other)
    assert(theirs.collect().map(_.toString).sorted.toSeq == ours.collect().map(_.toString).sorted.toSeq)
  }

  test("after Tables.cacheAll a fixture read is served from the columnar cache") {
    val dir = fixtureCopy("region", "nation")
    Tables.cacheAll(spark, dir)
    try for (name <- Seq("region", "nation")) {
      val plan = Tables(spark, dir, name).queryExecution.optimizedPlan
      assert(plan.collectFirst { case r: InMemoryRelation => r }.nonEmpty, name)
    } finally Seq("region", "nation").foreach(n => Tables(spark, dir, n).unpersist(blocking = true))
  }
}
