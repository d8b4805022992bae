package graft

import java.time.Instant
import java.time.temporal.ChronoUnit.MICROS

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, timestampType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.parquet.schema.Types

/** The events-fixture encoding contract: a session WITHOUT the legacy
  * parquet-nanos flag must still read a TIMESTAMP(NANOS) `events.ts`
  * through [[Tables.events]] — via the once-per-app normalized copy —
  * with the same instants as the TIMESTAMP(MICROS) encoding, and the
  * loader must not leave any session configuration behind. (Sessions
  * that carry the flag, like every graft entry point, read the original
  * file directly; the shipped fixtures are MICROS, which every other
  * suite reads.) */
class TablesSpec extends SparkSpec {

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Instants in micros since the epoch: the epoch, pre-1970, a
    * sub-second fixture-era value and a far-future one. */
  private val micros =
    Seq(0L, -86400000001L, 1700000000123456L, 4102444800999999L)

  /** `<dir>/events.parquet` with (event_id, ts), ts a naive INT64
    * timestamp in `unit` — the encoding pyarrow writes for
    * `timestamp[ns]` / `timestamp[us]`. */
  private def writeEvents(dir: java.nio.file.Path, unit: TimeUnit,
      ts: Seq[Long]): String = {
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(timestampType(false, unit)).named("ts")
      .named("events")
    val w = ExampleParquetWriter
      .builder(new LocalOutputFile(dir.resolve("events.parquet")))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", t))
    } finally w.close()
    dir.toString
  }

  test("events reads a NANOS fixture without the session flag, no conf leak") {
    // fresh fixture dirs => fresh eventsPath cache keys, so the probe
    // runs under this test's session state
    val tmpD = java.nio.file.Files.createTempDirectory("graft_tables_")
    try {
      def sub(n: String) =
        java.nio.file.Files.createDirectory(tmpD.resolve(n))
      val nanosDir = writeEvents(sub("nanos"), TimeUnit.NANOS,
        micros.map(_ * 1000L))
      val microsDir = writeEvents(sub("micros"), TimeUnit.MICROS, micros)
      spark.conf.unset(NanosKey)
      // unset reverts a registered conf to its DEFAULT ("false"), not
      // to absence — capture that baseline and require the loader to
      // leave it untouched
      val baseline = spark.conf.getOption(NanosKey)
      assert(!baseline.contains("true"))
      try {
        // the raw probe fails without the flag, so the normalize-copy
        // branch is the one taken
        intercept[Exception](Tables.schemaOf(spark, s"$nanosDir/events.parquet"))
        assert(Tables.eventsPath(spark, nanosDir) != s"$nanosDir/events.parquet")
        def instants(d: String) = {
          val df = Tables.events(spark, d)
          assert(df.schema("ts").dataType ==
            org.apache.spark.sql.types.TimestampType)
          df.orderBy("event_id").collect()
            .map(r => (r.getLong(0), r.getTimestamp(1).toInstant)).toSeq
        }
        val fromMicros = instants(microsDir)
        assert(fromMicros.map(_._2) == micros.map(Instant.EPOCH.plus(_, MICROS)))
        assert(instants(nanosDir) == fromMicros)
        assert(spark.conf.getOption(NanosKey) == baseline,
          "the loader must not leak the legacy flag into the session")
      } finally spark.conf.set(NanosKey, "true")
    } finally TempDirs.deleteRecursively(tmpD.toFile)
  }
}
