package graft.tools

import graft.{GraftSession, SparkEntry, Verify}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.sql.Timestamp
import scala.util.Random

/** Differential fuzz harness for the relational core (round-13 verdict
  * ask #6): per seed, generate a perturbed fixture directory whose
  * tables carry the edge cases the driver fixtures never exercise —
  * empty tables, single-row tables, NULLs in filter/join/sort/agg
  * columns, 0-byte and whitespace-only documents, unicode (CJK,
  * emoji, combining accents), duplicate texts, dangling foreign keys,
  * boundary values on q11's CASE bands — then run the target queries
  * through the REAL gated entries (`SparkEntry.queries`) and dump
  * results exactly as graft.Verify does, so `tools/fuzz_gate.py` can
  * replay the same oracle SQL in DuckDB over the same parquet and
  * diff. One JVM handles every seed (a per-seed sbt launch would pay
  * ~30 s of session warmup 20×).
  *
  *   sbt "runMain graft.tools.Fuzz 1 20 /tmp/graft_fuzz"
  *   python3 tools/fuzz_gate.py /tmp/graft_fuzz
  *
  * Tables are written as single parquet FILES (part file moved up to
  * `<dir>/<table>.parquet`) to match the driver fixture layout that
  * compare_oracle.py's table views expect.
  *
  * Determinism: everything derives from the seed via one
  * scala.util.Random stream per table — FuzzSpec pins same-seed
  * equality, so a failing seed replays exactly.
  */
object Fuzz {

  /** The differential surface: the relational core + the text ops the
    * verdict called out. Streaming/sketch/ANN rows are excluded — their
    * oracles assume fixture-specific cardinalities (signature state,
    * codebooks) that a perturbed corpus legitimately changes. */
  val Targets: Seq[String] = Seq(
    "q01_scan_project", "q02_topk", "q03_filter_neq", "q04_filter_eq",
    "q05_count_all", "q06_groupby_count", "q07_join_agg", "q08_distinct",
    "q09_subquery_avg", "q10_anti_join", "q11_case_buckets",
    "q12_multi_agg", "q13_window_hourly", "q14_key_latency",
    "q15_timeout_alert", "q16_hash_sample",
    "x01_dedup_exact", "x08_lang_id", "x10_token_count")

  // ----------------------------------------------------------- pools
  private val MktSegs = Seq("BUILDING", "AUTOMOBILE", "MACHINERY",
    "HOUSEHOLD", "", "naïve-ségment", "家具部門")
  private val Statuses = Seq("F", "O", "P")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW", "")
  private val EventTypes = Seq("view", "cart", "purchase", "click", "")
  private val Langs = Seq("en", "de", "es", "fr", "")
  private val Sources = Seq("web", "crawl", "books", "wiki")
  // stopword hits for x08's scoring plus content words, unicode words
  // (CJK has no case, emoji is an astral code point, combining accent
  // and ß exercise lower()), numeric and punctuation tokens for x10's
  // regex tokenizer
  private val Words = Seq(
    "the", "a", "of", "and", "in", "to", "is",
    "der", "die", "und", "das", "ein", "ist",
    "el", "la", "los", "las", "una", "de", "es",
    "le", "les", "une", "est", "et",
    "quick", "brown", "fox", "data", "Engine", "SPARK",
    "héllo", "wörld", "straße", "ß", "日本語", "😀", "é́",
    "123", "3.14", "a.b,c", "!!!", "x-y_z")

  // 2024-01-01T00:00:00Z .. +2y, micros
  private val T0 = 1704067200000000L
  private val TSpanUs = 2L * 365 * 24 * 3600 * 1000000L

  private def rowCount(r: Random): Int = r.nextInt(10) match {
    case 0 => 0
    case 1 => 1
    case 2 => 2
    case _ => 20 + r.nextInt(280)
  }

  /** ~5% NULL on nullable columns. */
  private def orNull[T](r: Random, v: => T): Any =
    if (r.nextInt(20) == 0) null else v

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  private def cents(r: Random, maxUnits: Int): Double =
    r.nextInt(maxUnits * 100) / 100.0

  private def ts(r: Random): Timestamp =
    // millisecond precision keeps epoch_ms exact in both engines
    new Timestamp((T0 + (r.nextLong(TSpanUs / 1000)) * 1000L) / 1000L)

  /** Event times drawn from a 3-day window so q13's hourly groups and
    * q14/q15's per-user sequences actually collide. */
  private def eventTs(r: Random): Timestamp =
    new Timestamp(T0 / 1000L + r.nextLong(3L * 24 * 3600 * 1000))

  private def docText(r: Random, prior: scala.collection.Seq[String]): String =
    r.nextInt(10) match {
      case 0 => ""
      case 1 => pick(r, Words)
      case 2 if prior.nonEmpty => pick(r, prior.toSeq) // exact dup for x01
      case 3 => // whitespace pathologies: empty tokens on split(' ')
        " " + Seq.fill(3 + r.nextInt(5))(pick(r, Words)).mkString("  ") + " "
      case 4 => "   " // whitespace-only
      case _ => Seq.fill(5 + r.nextInt(55))(pick(r, Words)).mkString(" ")
    }

  // ------------------------------------------------------- schemas
  private def st(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t, nullable = true) })

  private val CustomerSchema = st("c_custkey" -> LongType,
    "c_name" -> StringType, "c_nationkey" -> IntegerType,
    "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)
  private val OrdersSchema = st("o_orderkey" -> LongType,
    "o_custkey" -> LongType, "o_orderstatus" -> StringType,
    "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType,
    "o_orderpriority" -> StringType)
  private val LineitemSchema = st("l_orderkey" -> LongType,
    "l_partkey" -> LongType, "l_suppkey" -> LongType,
    "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
    "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
    "l_tax" -> DoubleType, "l_returnflag" -> StringType,
    "l_linestatus" -> StringType, "l_shipdate" -> TimestampType)
  private val EventsSchema = st("event_id" -> LongType,
    "ts" -> TimestampType, "user_id" -> LongType,
    "event_type" -> StringType, "value" -> DoubleType,
    "props" -> StringType)
  private val DocumentsSchema = st("doc_id" -> LongType,
    "text" -> StringType, "lang" -> StringType, "source" -> StringType,
    "n_chars" -> LongType)
  private val RegionSchema = st("r_regionkey" -> IntegerType,
    "r_name" -> StringType)
  private val NationSchema = st("n_nationkey" -> IntegerType,
    "n_name" -> StringType, "n_regionkey" -> IntegerType)
  private val SupplierSchema = st("s_suppkey" -> LongType,
    "s_name" -> StringType, "s_nationkey" -> IntegerType,
    "s_acctbal" -> DoubleType)
  private val PartSchema = st("p_partkey" -> LongType,
    "p_name" -> StringType, "p_brand" -> StringType,
    "p_type" -> StringType, "p_size" -> IntegerType,
    "p_retailprice" -> DoubleType)
  private val EmbeddingsSchema = st("vec_id" -> LongType,
    "embedding" -> ArrayType(FloatType), "label" -> IntegerType)

  // ------------------------------------------------------ generation
  /** All ten fixture tables for one seed. Returns the table→rows map
    * (also used by FuzzSpec's determinism pin). `forcedRows` pins every
    * table's cardinality for the degenerate-corpus sweep (0 = empty
    * corpus, 1 = one-row corpus — the shapes where empty-aggregate and
    * NULL semantics classically diverge across engines); degenerate
    * corpora also suppress NULL injection so a 1-row table is a real
    * row, not a row of NULLs. */
  def genRows(seed: Long,
      forcedRows: Option[Int] = None): Map[String, (StructType, Seq[Row])] = {
    def tableRandom(name: String) = new Random(seed * 1000003L + name.hashCode)
    def rowCount(r: Random): Int =
      forcedRows.getOrElse(Fuzz.rowCount(r))
    def orNull[T](r: Random, v: => T): Any =
      if (forcedRows.isEmpty) Fuzz.orNull(r, v) else v

    val rc = tableRandom("customer")
    val nCust = rowCount(rc)
    val customer = (1 to nCust).map { i =>
      Row(i.toLong,
        orNull(rc, if (rc.nextInt(10) == 0) s"Cüstömer#$i😀" else s"Customer#$i"),
        orNull(rc, rc.nextInt(25)),
        orNull(rc, cents(rc, 20000) - 5000.0),
        orNull(rc, pick(rc, MktSegs)))
    }

    val ro = tableRandom("orders")
    val nOrd = rowCount(ro)
    val orders = (1 to nOrd).map { i =>
      Row(i.toLong,
        // dangling keys (> nCust) exercise join misses and the
        // anti-join's "customer with no P order" branch
        orNull(ro, (ro.nextInt(nCust + 3) + 1).toLong),
        orNull(ro, pick(ro, Statuses)),
        orNull(ro, cents(ro, 500000)),
        orNull(ro, ts(ro)),
        orNull(ro, pick(ro, Priorities)))
    }

    val rl = tableRandom("lineitem")
    val nLine = rowCount(rl)
    val lineitem = (1 to nLine).map { i =>
      val qty: Double = rl.nextInt(10) match {
        case 0 => 10.0 // q11 band boundaries, exact
        case 1 => 25.0
        case _ => (1 + rl.nextInt(50)).toDouble
      }
      Row((rl.nextInt(nOrd + 2) + 1).toLong, (1 + rl.nextInt(200)).toLong,
        (1 + rl.nextInt(50)).toLong, 1 + rl.nextInt(7),
        orNull(rl, qty),
        orNull(rl, cents(rl, 100000)),
        orNull(rl, rl.nextInt(100000) / 1000000.0),
        orNull(rl, rl.nextInt(80000) / 1000000.0),
        orNull(rl, pick(rl, Seq("A", "N", "R"))),
        orNull(rl, pick(rl, Seq("F", "O"))),
        orNull(rl, ts(rl)))
    }

    val re = tableRandom("events")
    val nEv = rowCount(re)
    val events = (1 to nEv).map { i =>
      Row(i.toLong, orNull(re, eventTs(re)),
        orNull(re, re.nextInt(30).toLong),
        orNull(re, pick(re, EventTypes)),
        orNull(re, cents(re, 1000)),
        orNull(re, pick(re, Seq("{}", "", "{\"k\":1}", "ünï©ode"))))
    }

    val rd = tableRandom("documents")
    val nDoc = rowCount(rd)
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val documents = (1 to nDoc).map { i =>
      val t = orNull(rd, docText(rd, texts)) match {
        case s: String => texts += s; s
        case _ => null
      }
      Row(i.toLong, t, orNull(rd, pick(rd, Langs)),
        orNull(rd, pick(rd, Sources)),
        if (t == null) null else t.length.toLong)
    }

    val region = (0 until forcedRows.getOrElse(5)).map(i => Row(i, s"REGION_$i"))
    val rn = tableRandom("nation")
    val nation = (0 until forcedRows.getOrElse(25))
      .map(i => Row(i, s"NATION_$i", rn.nextInt(5)))
    val rs = tableRandom("supplier")
    val supplier = (1 to rowCount(rs)).map { i =>
      Row(i.toLong, orNull(rs, s"Supplier#$i"), orNull(rs, rs.nextInt(25)),
        orNull(rs, cents(rs, 10000) - 2000.0))
    }
    val rp = tableRandom("part")
    val part = (1 to rowCount(rp)).map { i =>
      Row(i.toLong, orNull(rp, s"part $i"), orNull(rp, s"Brand#${rp.nextInt(5)}"),
        orNull(rp, pick(rp, Seq("STANDARD", "SMALL", "LARGE"))),
        orNull(rp, 1 + rp.nextInt(50)), orNull(rp, cents(rp, 2000)))
    }
    val rv = tableRandom("embeddings")
    // dim 64 matches the driver fixtures — the PQ/OPQ/PCA operators pin
    // the model dimension, so a different dim is a fixture mismatch,
    // not an engine edge case
    val embeddings = (1 to rowCount(rv)).map { i =>
      Row(i.toLong, Seq.fill(64)(rv.nextFloat()), rv.nextInt(4))
    }

    Map(
      "customer" -> ((CustomerSchema, customer)),
      "orders" -> ((OrdersSchema, orders)),
      "lineitem" -> ((LineitemSchema, lineitem)),
      "events" -> ((EventsSchema, events)),
      "documents" -> ((DocumentsSchema, documents)),
      "region" -> ((RegionSchema, region)),
      "nation" -> ((NationSchema, nation)),
      "supplier" -> ((SupplierSchema, supplier)),
      "part" -> ((PartSchema, part)),
      "embeddings" -> ((EmbeddingsSchema, embeddings)))
  }

  /** Write one seed's tables as single-file `<dir>/<t>.parquet`. */
  def writeSeed(spark: SparkSession, seed: Long, dir: String,
      forcedRows: Option[Int] = None): Unit = {
    val d = new java.io.File(dir)
    d.mkdirs()
    genRows(seed, forcedRows).foreach { case (name, (schema, rows)) =>
      val df: DataFrame = spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), schema)
      val tmp = new java.io.File(d, s"_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name seed $seed"))
      java.nio.file.Files.move(part.toPath,
        new java.io.File(d, s"$name.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }

  def main(args: Array[String]): Unit = {
    // modes: "<lo> <hi> <outBase>" = differential fuzz seeds;
    //        "empty <dir>" / "one <dir>" = degenerate fixture dirs for
    //        the full-inventory sweep (no queries run — the sweep goes
    //        through graft.Verify so all 143 rows are exercised)
    args match {
      case Array("empty", dir) => degenerate(dir, 0); return
      case Array("one", dir) => degenerate(dir, 1); return
      case _ => ()
    }
    val Array(lo, hi, outBase) = args
    val spark = GraftSession.start()
    for (seed <- lo.toLong to hi.toLong) {
      val dir = s"$outBase/seed$seed"
      writeSeed(spark, seed, dir)
      val outDir = s"$dir/_out"
      new java.io.File(outDir).mkdirs()
      Targets.foreach { name =>
        try SparkEntry.queries(name)(spark, dir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[fuzz] seed $seed $name failed: ${e.getMessage}")
        }
      }
      Verify.writeOracleJson(
        SparkEntry.oracleSql.view.filterKeys(Targets.contains).toMap,
        s"$outDir/oracle_sql.json")
      println(s"[fuzz] seed $seed dumped")
    }
    spark.stop()
  }

  private def degenerate(dir: String, rows: Int): Unit = {
    val spark = GraftSession.start()
    writeSeed(spark, seed = 424242L, dir, forcedRows = Some(rows))
    println(s"[fuzz] degenerate fixture ($rows rows/table) at $dir")
    spark.stop()
  }
}
