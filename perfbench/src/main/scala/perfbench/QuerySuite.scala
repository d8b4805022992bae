package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** Workload `query_suite`: one client runs the queries of [[Suite]] in
  * name order, in the run's fresh session, pass after pass. The first,
  * cold pass pays each query's first-execution planning and codegen the
  * way a job submitter does; the warm passes after it measure the engine
  * once those costs are paid, which is what run-to-run comparisons can
  * rest on on a shared host.
  *
  * A query is timed in three spans, build (the query function), plan
  * (`executedPlan`) and exec (`collect`). After the suite, the rows of
  * every query of the cold pass are written to parquet for the oracle
  * check; that write is benchmark work and is kept out of the timings.
  */
object QuerySuite {

  /** Twenty `SparkEntry.queries` entries, each the cheapest query of a
    * batch operator module in one cold pass of all 143 at sf0.001 on four
    * cores. That pass takes about three minutes there, more than a run may
    * last, so eight of the 28 modules are left out: StreamingQueries, whose
    * micro-batch engine and detector the alert_stream workload measures
    * (this suite is its control); Propagate and Clusters, whose cheapest
    * queries cost about 4 s cold; and AsOf, Pipeline, Hybrid, SketchSim and
    * Funnel, to keep a run within its time. Twenty samples are the fewest
    * that support a median under the ten-beyond rule. */
  val Suite: Seq[String] = Seq(
    "m04_audio_features", "q16_hash_sample", "q22_salted_join", "q24_partition_prune",
    "x01_dedup_exact", "x10_token_count", "x15_range_join", "x23_merge_upsert",
    "x25_embed_quantize", "x31_json_extract", "x41_bloom_decontaminate",
    "x46_user_sequences", "x48_pca_diag", "x49_bm25_topk", "x54_doc_chunks",
    "x59_sample_quantiles", "x69_corpus_diff", "x73_bpe_encode", "x75_priority_sample",
    "x76_exact_containment")

  /** Module that defines a query: the object whose lambda it is
    * (`graft.operators.Relational$$$Lambda...` -> `Relational`). */
  def moduleOf(fn: AnyRef): String =
    fn.getClass.getName.takeWhile(_ != '$')
      .stripPrefix("graft.").stripPrefix("operators.")

  /** Warm passes run before the measured ones: the JIT compiler is still
    * catching up during them, and they ran 10-35% slower than the passes
    * after them. */
  val WarmUpPasses = 2
  /** Measured passes the suite runs at least, whatever `seconds` says. */
  val MinMeasuredPasses = 2

  type Outcome = Either[String, (Array[Row], StructType)]

  /** One pass over `queries`: per query its outcome and its build, plan,
    * exec and wall seconds. */
  private def pass(spark: SparkSession, dataDir: String, tracer: Tracer, label: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(Outcome, Seq[Double])] =
    tracer.span(label) {
      queries.map { case (name, fn) =>
        var build, plan, exec = 0L
        val q0 = System.nanoTime()
        val out: Outcome =
          try tracer.span("query") {
            val df = tracer.span("query.build")(fn(spark, dataDir))
            val b = System.nanoTime(); build = b - q0
            tracer.span("query.plan")(df.queryExecution.executedPlan)
            val p = System.nanoTime(); plan = p - b
            val rows = tracer.span("query.exec")(df.collect())
            exec = System.nanoTime() - p
            Right(rows -> df.schema)
          } catch {
            case t: Throwable => Left(s"${t.getClass.getName}: ${t.getMessage}")
          }
        val wall = System.nanoTime() - q0
        if (label == "suite.cold")
          System.err.println(f"[perfbench] $name%-32s ${wall / 1e9}%8.3f s")
        (out, Seq(build, plan, exec, wall).map(_ / 1e9))
      }
    }

  /** Rows in an order- and float-noise-free form, to compare the rows of
    * one query across passes: values are rendered recursively (doubles
    * to ten significant digits, as the oracle gate does) and rows sorted. */
  def canonical(rows: Array[Row]): Seq[String] = {
    def v(x: Any): String = x match {
      case null => "null"
      case d: Double => f"$d%.10g"
      case f: Float => f"${f.toDouble}%.10g"
      case b: Array[Byte] => b.map(y => f"$y%02x").mkString
      case r: Row => r.toSeq.map(v).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, y) => s"${v(k)}->${v(y)}" }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
      case o => o.toString
    }
    rows.toSeq.map(v).sorted
  }

  /** The cold pass, [[WarmUpPasses]] warm-up passes, then measured passes
    * until `seconds` have gone by (at least [[MinMeasuredPasses]]). The
    * cold pass's rows are written to parquet for the oracle check; the
    * rows of every later pass must equal the cold pass's. A traced run
    * records spans on every other measured pass only. */
  def run(spark: SparkSession, dataDir: String, outDir: String,
      tracer: Tracer, seconds: Int): Map[String, Any] = {
    val all = SparkEntry.queries
    val queries = Suite.sorted.map(n =>
      n -> all.getOrElse(n, throw new NoSuchElementException(s"query $n is gone")))
    val c0 = System.nanoTime()
    val cold = pass(spark, dataDir, tracer, "suite.cold", queries)
    val coldS = (System.nanoTime() - c0) / 1e9
    val want = cold.map(_._1.map { case (rows, _) => canonical(rows) })

    val warm = Seq.newBuilder[(Double, Seq[(Outcome, Seq[Double])])]
    val traced = Seq.newBuilder[Boolean]
    var m0 = 0L
    var k = 0
    while (k < WarmUpPasses + MinMeasuredPasses ||
        System.nanoTime() - m0 < seconds * 1000000000L) {
      if (k == WarmUpPasses) m0 = System.nanoTime()
      tracer.recording = tracer.traced && (k < WarmUpPasses || (k - WarmUpPasses) % 2 == 1)
      val p0 = System.nanoTime()
      val runs = pass(spark, dataDir, tracer, "suite.warm", queries)
      val passS = (System.nanoTime() - p0) / 1e9
      System.err.println(f"[perfbench] warm pass $k%d ${passS}%8.3f s")
      warm += passS -> runs
      traced += tracer.recording
      k += 1
    }
    tracer.recording = tracer.traced
    val warmPasses = warm.result()
    // a warm query fails when it throws or its rows differ from the cold pass's
    val warmErrors = warmPasses.map { case (_, runs) =>
      runs.zip(queries).zip(want).map { case (((out, _), (name, _)), w) =>
        out match {
          case Left(e) => e
          case Right((rows, _)) if w.exists(_ != canonical(rows)) =>
            s"$name: warm rows differ from the cold pass's"
          case _ => null
        }
      }
    }

    // rows to parquet for the oracle check, off the clock and in parallel
    val d0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val dumps = cold.zip(queries).map { case ((out, _), (name, _)) =>
      pool.submit(() => out.flatMap { case (rows, schema) =>
        try {
          spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
          Right(rows.length)
        } catch { case t: Throwable => Left(s"dump: ${t.getMessage}") }
      })
    }.map(_.get())
    pool.shutdown()
    val dumpS = (System.nanoTime() - d0) / 1e9

    def times(runs: Seq[(Outcome, Seq[Double])], i: Int) = {
      val Seq(b, p, e, w) = runs(i)._2
      Map("build_s" -> b, "plan_s" -> p, "exec_s" -> e, "wall_s" -> w)
    }
    Map(
      "queries" -> queries.indices.map { i =>
        val (name, fn) = queries(i)
        Map("name" -> name, "module" -> moduleOf(fn), "rows" -> dumps(i).getOrElse(-1),
          "error" -> dumps(i).left.toOption.orNull, "cold" -> times(cold, i),
          "warm" -> warmPasses.map { case (_, runs) => times(runs, i) },
          "warm_errors" -> warmErrors.map(_(i)).filter(_ != null))
      },
      "cold_s" -> coldS,
      "warm_pass_s" -> warmPasses.map(_._1),
      "warm_pass_traced" -> traced.result(),
      "warmup_passes" -> WarmUpPasses,
      "dump_s" -> dumpS)
  }
}
