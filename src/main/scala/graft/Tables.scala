package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** Parquet table loader over a driver-provided scale-factor directory
  * (TESTDATA.md). One parquet file per table. A fixture table ([[apply]],
  * [[events]]) is resolved once per session; any other path is read
  * afresh through [[read]]. Either way no Spark job runs to infer the
  * schema, and predicate pushdown and column pruning apply from the
  * scan.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    fixture(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(paths: _*)` without its schema-inference job:
    * the read is handed [[schemaOf]]. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(schemaOf(spark, paths: _*)).parquet(paths: _*)

  /** The schema `spark.read.parquet(paths: _*)` infers, taken from the
    * footer Spark would consult, read on the driver ([[FooterSchema]]).
    * No cache: every call reads the footer afresh, so a file rewritten
    * with another schema is read with the new one. Only the fixture reads
    * of [[apply]] and [[events]] keep a resolved relation, and they
    * resolve a file again when its length or modification time changes.
    * With no footer to read (a missing path, no data file), Spark's own
    * inference runs and raises its own error. */
  def schemaOf(spark: SparkSession, paths: String*): StructType =
    FooterSchema(spark, paths).getOrElse(spark.read.parquet(paths: _*).schema)

  /** A fixture file's analyzed relation and the file state it was
    * resolved from. */
  private final case class Resolved(length: Long, modified: Long,
      relation: MultiInstanceRelation)

  /** Keyed by session (identity), path and [[FooterSchema.confs]]: one
    * entry per fixture file and conf set a session reads, kept for the
    * life of the JVM. */
  private val resolved =
    new ConcurrentHashMap[(SparkSession, String, Seq[Boolean]), Resolved]()

  /** [[read]] of a fixture file, resolved once per session. The first
    * read keeps the analyzed relation: the schema from the footer and the
    * file index with its listing. A later read stats the file, and reuses
    * the relation when the length and modification time are the same and
    * so are the session's schema-affecting parquet confs; otherwise it
    * resolves the file again. Every read returns `relation.newInstance()`,
    * so attribute ids are fresh on each call and self-joins resolve as
    * with [[read]]. A path that is not a plain file (a directory, a
    * missing path) is read uncached. */
  private def fixture(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      .toOption.filter(_.isFile).fold(read(spark, path)) { f =>
        val key = (spark, path, FooterSchema.confs(spark))
        val relation = Option(resolved.get(key))
          .filter(r => r.length == f.getLen && r.modified == f.getModificationTime)
          .fold {
            val r = read(spark, path).queryExecution.analyzed.asInstanceOf[MultiInstanceRelation]
            resolved.put(key, Resolved(f.getLen, f.getModificationTime, r))
            r
          }(_.relation)
        Bridge.ofRows(spark, relation.newInstance())
      }
  }

  def region(s: SparkSession, d: String): DataFrame   = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** `events.ts` has shipped in two physical encodings across fixture
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects unless read as Long via the legacy nanosAsLong
    * session flag) and plain TIMESTAMP(MICROS) (which reads natively).
    * Normalize BOTH to a session-zone TimestampType column carrying the
    * same instant, so every downstream query is fixture-encoding
    * agnostic. The NTZ->LTZ cast is instant-preserving because every
    * graft entry point pins spark.sql.session.timeZone=UTC, matching
    * DuckDB's naive-timestamp reading of the same file.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(fixture(s, eventsPath(s, d)))

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private val eventsPathCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A parquet path for the events fixture that THIS session can read
    * natively, without mutating session configuration: the original
    * file when the session's reader accepts it (TIMESTAMP(MICROS)
    * encoding, or a session that already carries the legacy nanos
    * flag — all graft entry points do); otherwise a once-per-app
    * normalized temp copy with ts rewritten to standard
    * TIMESTAMP(MICROS). The legacy flag is set only around the EAGER
    * normalization write — safe to save/restore, unlike around a lazy
    * scan, which consults the conf later at physical-planning time —
    * so no configuration leaks into co-tenant queries of a caller's
    * session. Shared by the batch loader and both streaming replay
    * sources, so every path reads one encoding. First call per
    * (app, dir) pays one read+write job of the events table (the
    * fixture-normalization cost the session-wide flag used to hide);
    * cached and cleaned at JVM exit after that. */
  def eventsPath(s: SparkSession, d: String): String =
    eventsPathCache.computeIfAbsent(
      s"${s.sparkContext.applicationId}|$d", _ => {
        val raw = s"$d/events.parquet"
        val readable =
          try { schemaOf(s, raw); true }
          catch { case _: Exception => false }
        if (readable) raw
        else normalizeLock.synchronized {
          // the global lock serializes only NORMALIZATIONS (rare: once
          // per fixture dir per app) so two concurrent normalizations
          // of different dirs cannot interleave their set/restore of
          // the session flag and leak a stale value
          TempDirs.derived(s, s"events-norm::$d") { dir =>
            operators.Sessions.withConfs(s, NanosKey -> "true") {
              normalizeEventTs(read(s, raw))
                .write.mode("overwrite").parquet(dir.getAbsolutePath)
            }
          }.getAbsolutePath
        }
      })

  private val normalizeLock = new Object

  /** Nanos-as-long => integer DIV to micros (a double roundtrip would
    * lose precision above 2^53); native timestamp => cast to the
    * session-zone type. Shared by the batch loader and the streaming
    * replay source so the two paths cannot drift. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Persist and materialize the ten fixture tables at `d` (a table
    * that fails to load is skipped): the fixture cache of the timing
    * mains, so their scans are served from the columnar cache. */
  def cacheAll(s: SparkSession, d: String): Unit =
    Seq[(SparkSession, String) => DataFrame](region, nation, customer,
        supplier, part, orders, lineitem, events, documents, embeddings)
      .foreach(t => try t(s, d).persist().count() catch { case _: Throwable => })

  /** Spread a narrow input across the cluster when it arrives in fewer
    * splits than the session's parallelism. The shingle operators
    * multiply input bytes ~8× in their map stage (explode + one md5 per
    * character position), so a small-file input — one row group at test
    * scale factors — serializes exactly the most compute-heavy stage on
    * one core (measured: x18's shingle stage ran at ~1.2 cores of 32).
    * The repartition shuffles only the raw input bytes, trivial next to
    * the blowup behind it. At corpus scale the scan already carries
    * >= cores splits and this is an identity — no shuffle is added.
    *
    * Use ONLY on linear single-consumer pipelines (x18). On the LSH
    * dedup family it was measured 1.2-4× SLOWER: their signature
    * relation feeds multiple join branches whose exchange-reuse pattern
    * the extra repartition breaks (x02 0.83s -> 3.48s). */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(2, target / 2))
      df.repartition(target)
    else df
  }

  /** Partition count for an exchange whose row volume scales with the
    * byte size of a file-backed input: `max(defaultParallelism,
    * inputBytes / bytesPerPartition)`, capped at 1024. Partition COUNT
    * never changes a result — only where a fixed count would sort/spill
    * partitions far larger than executor memory at a rehearsal scale
    * the session's parallelism was not sized for (x18's one pinned
    * shingle exchange ships ~500 M rows at the 100× corpus; 32
    * partitions sort-spilled it to 69 s). Non-file inputs (or any
    * listing failure) fall back to the floor — identical to the old
    * fixed behavior. */
  def sizeScaledPartitions(df: DataFrame,
      bytesPerPartition: Long = 1L << 20): Int = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism.toLong
    val bytes = inputBytes(df)
    // The parallelism floor only applies as far as the DATA can fill
    // it: a pinned 32-way exchange under a sub-MB input is 32 task
    // launches for a handful of near-empty sorts/aggregations (r14
    // scaling table: x18's 8-core run beat its 32-core run ~2x on
    // identical code). One floor "slot" per bytesPerPartition/16 of
    // input (64 KB at the 1 MB default) reproduces the measured-good
    // counts: sf0.1 (~0.6 MB) -> ~9, the 10x rehearsal (~6 MB) -> the
    // full parallelism, exactly as before. Non-file inputs (bytes 0)
    // keep the old fixed-parallelism behavior.
    val floor =
      if (bytes == 0L) parallelism
      else math.min(parallelism,
        math.max(2L, bytes / math.max(1L, bytesPerPartition / 16)))
    math.min(1024L, math.max(floor, bytes / bytesPerPartition)).toInt
  }

  /** As [[sizeScaledPartitions]] but with NO parallelism floor: purely
    * `clamp(inputBytes / bytesPerPartition, 1, 1024)`. For exchanges a
    * query PINS because AQE's byte-based coalescing under-parallelizes
    * its CPU-heavy follow-up work (x14's per-key window): the count
    * must track the DATA, not the machine — at bench scale a
    * core-count floor put 32 near-empty tasks under a ~2 MB input
    * (measured 1.9x the 8-partition wall), while at the 10x rehearsal
    * the same bytes rule yields >= the core count. Partition count
    * never changes a result. */
  def bytesScaledPartitions(df: DataFrame, bytesPerPartition: Long): Int =
    math.min(1024L, math.max(1L, inputBytes(df) / bytesPerPartition)).toInt

  /** Total length of the file-backed inputs of `df`; 0 for non-file
    * inputs or on any listing failure. Reads the ANALYZED plan, not
    * `df.inputFiles`: the latter walks the optimized plan, where cache
    * substitution (e.g. the bench's fixture cache) has already replaced
    * the file relation with an InMemoryRelation and the file list comes
    * back empty — which silently collapsed every byte-scaled partition
    * count to its floor. */
  private def inputBytes(df: DataFrame): Long =
    try {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val files: Seq[String] = df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fr: org.apache.spark.sql.execution.FileRelation =>
              fr.inputFiles.toSeq
            case _ => Seq.empty[String]
          }
      }.flatten
      files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }.sum
    } catch { case scala.util.control.NonFatal(t) =>
      System.err.println(s"inputBytes fallback (0): ${t.getClass.getName}: ${t.getMessage}")
      0L
    }
}
