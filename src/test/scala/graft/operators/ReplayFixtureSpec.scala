package graft.operators

import graft.SparkSpec

/** The replay contract of [[StreamingQueries]]: `replayFixture`
  * pins batch i to file i, the fixture cache is keyed by (application,
  * key), and every replay leaves the session's confs as it found them. */
class ReplayFixtureSpec extends SparkSpec {
  import spark.implicits._

  private def uniqueKey(tag: String): String =
    s"spec-$tag-" + java.util.UUID.randomUUID()

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq.sortBy(_.getName)

  test("one file per batch, named in batch order, with strictly ascending mtimes") {
    val batches = (0 until 4).map(n => Seq(n * 10L, n * 10L + 1).toDF("v"))
    val dir = StreamingQueries.replayFixture(spark, uniqueKey("order"))(batches)
    val files = parquetFiles(dir)
    assert(files.size == 4, files.map(_.getName))
    assert(dir.listFiles().forall(_.isFile), "staging dirs left behind")
    val mtimes = files.map(_.lastModified())
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
      s"mtimes not strictly ascending in name order: $mtimes")
    files.zipWithIndex.foreach { case (f, n) =>
      val got = spark.read.parquet(f.getAbsolutePath).as[Long].collect().toSet
      assert(got == Set(n * 10L, n * 10L + 1), s"${f.getName} holds $got")
    }
  }

  test("an empty batch still yields its file") {
    val batches = Seq(Seq(1L).toDF("v"), Seq.empty[Long].toDF("v"), Seq(3L).toDF("v"))
    val files = parquetFiles(
      StreamingQueries.replayFixture(spark, uniqueKey("empty"))(batches))
    assert(files.size == 3, files.map(_.getName))
    val middle = spark.read.parquet(files(1).getAbsolutePath)
    assert(middle.count() == 0)
    assert(middle.columns.toSeq == Seq("v"))
  }

  test("same (app, key) returns the same dir without rebuilding; another key another dir") {
    val key = uniqueKey("cache")
    var builds = 0
    def batches = { builds += 1; Seq(Seq(1L).toDF("v")) }
    val a = StreamingQueries.replayFixture(spark, key)(batches)
    val b = StreamingQueries.replayFixture(spark, key)(batches)
    val c = StreamingQueries.replayFixture(spark, uniqueKey("cache"))(batches)
    assert(a == b)
    assert(builds == 2, "a cache hit rebuilt the fixture")
    assert(a != c)
  }

  private val replayKeys = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.stateStore.providerClass")

  private def explicitConfs(): Map[String, Option[String]] = {
    val set = spark.conf.getAll
    replayKeys.map(k => k -> set.get(k)).toMap
  }

  test("s01, s01_tws, s15 and s17 leave the replay confs as they found them") {
    // two keys explicitly set (one to a non-default value), the rest
    // unset: each must come back exactly, unset ones unset
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    Seq("spark.sql.streaming.checkpoint.fileChecksum.enabled",
      "spark.sql.streaming.stateStore.providerClass").foreach(spark.conf.unset)
    try {
      val before = explicitConfs()
      assert(before("spark.sql.streaming.stateStore.providerClass").isEmpty)
      for (row <- Seq("s01_undelivered_stream", "s01_tws_stream",
          "s15_late_drop", "s17_stream_admission")) {
        StreamingQueries.queries(row)(spark, sf).count()
        assert(explicitConfs() == before, s"$row changed the session confs")
      }
    } finally Seq("spark.sql.adaptive.enabled",
      "spark.sql.streaming.noDataMicroBatches.enabled").foreach(spark.conf.unset)
  }

  test("withConfs restores a pre-set key and unsets an unset key, also on a throw") {
    val preset = "spark.sql.streaming.stateStore.minDeltasForSnapshot"
    val unset = "spark.sql.streaming.stateStore.compression.codec"
    spark.conf.set(preset, "7")
    spark.conf.unset(unset)
    try {
      def check(): Unit = {
        assert(spark.conf.getAll.get(preset).contains("7"))
        assert(!spark.conf.getAll.contains(unset))
      }
      val seen = Sessions.withConfs(spark, preset -> "3", unset -> "zstd") {
        (spark.conf.get(preset), spark.conf.get(unset))
      }
      assert(seen == ("3", "zstd"))
      check()
      intercept[IllegalStateException] {
        Sessions.withConfs(spark, preset -> "3", unset -> "zstd") {
          throw new IllegalStateException("body failed")
        }
      }
      check()
    } finally spark.conf.unset(preset)
  }

  test("pinned carries the parent's runtime confs, keeps its pins off the parent, and drops a pin its next use does not set") {
    val carried = "spark.sql.streaming.stateStore.minDeltasForSnapshot"
    val pin = "spark.sql.streaming.stateStore.compression.codec"
    val purpose = uniqueKey("pinned")
    spark.conf.set(carried, "7")
    spark.conf.unset(pin)
    try {
      val ss = Sessions.pinned(spark, purpose, pin -> "zstd")
      assert(ss ne spark)
      assert(ss.conf.get(carried) == "7")
      assert(ss.conf.get(pin) == "zstd")
      assert(!spark.conf.getAll.contains(pin), "a pin reached the parent")
      val next = Sessions.pinned(spark, purpose)
      assert(next eq ss, "the clone of one purpose was not reused")
      assert(!next.conf.getAll.contains(pin), "a pin of the previous use survived")
      assert(next.conf.get(carried) == "7")
    } finally spark.conf.unset(carried)
  }
}
