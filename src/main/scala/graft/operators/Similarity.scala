package graft.operators

import graft.Tables
import graft.functions.PortableHash
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (dim-64 float vectors) — north-star similarity-search surface.
  *
  * x06 is the exact brute-force baseline (crossJoin + top-k window);
  * x07 is the scale path: sign-random-projection LSH buckets so the
  * join is an equi-join on bucket id instead of a cross product. The
  * 8 hyperplanes are deterministic constants derived from the portable
  * md5 hash on the JVM and embedded as literals into BOTH the Spark
  * plan and the DuckDB oracle, so bucket assignments are identical
  * across engines.
  */
object Similarity {

  /** Query set: the first 10 vectors rank all others by cosine. */
  private val NQueries = 10
  private val TopK = 10

  /** Hyperplane components in [-1, 1], 3 decimal places (exact in
    * binary-to-decimal round trip on both engines). */
  private[operators] val planes: IndexedSeq[IndexedSeq[Double]] =
    (0 until 8).map { i =>
      (0 until 64).map { d =>
        ((PortableHash.h60(s"hp_${i}_$d") % 2001) - 1000) / 1000.0
      }
    }

  private def fmt(x: Double): String = f"$x%.3f"

  import graft.functions.ArrayMath

  /** Normalized vectors: (vec_id, v: array<double>, nrm). The cast and
    * the codegen'd dot product (see [[graft.functions.DotProduct]]) keep
    * the whole cosine pipeline inside whole-stage codegen. */
  private def vecs(s: SparkSession, d: String): DataFrame =
    vecsOf(Tables.embeddings(s, d))

  private def vecsOf(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", ArrayMath.l2norm(col("v")))

  private def rank(cand: DataFrame): DataFrame =
    cand
      .withColumn("score", floor(
        ArrayMath.dot(col("vq"), col("v")) / (col("nq") * col("nrm"))
          * 1000000).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("rn") <= TopK)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))

  // ---------------------------------------------------------------- x06
  /** Exact top-k cosine: every query vector against the whole corpus.
    * O(q·n) — the correctness baseline x07 is measured against. */
  /** Library entry: exact top-k cosine neighbors for the query ids in
    * `queryIds` over any (vec_id, embedding) DataFrame. */
  def annBrute(emb: DataFrame, queryIds: Seq[Long]): DataFrame = {
    val e = vecsOf(emb)
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("vq"), col("nrm").as("nq"))
    // broadcast the QUERY side: the corpus streams through executors
    // (it cannot broadcast at scale), each partition scoring its rows
    // against the in-memory query set; WindowGroupLimit then keeps the
    // per-partition top-k before the single small shuffle on qid.
    rank(e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid")))
  }

  def x06(s: SparkSession, d: String): DataFrame =
    annBrute(Tables.embeddings(s, d), 0L until NQueries.toLong)

  val x06Sql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |c AS (SELECT q.vec_id AS qid, e.vec_id AS vec_id,
       |  CAST(floor(list_sum(list_transform(range(1, 65), i -> q.v[i] * e.v[i])) / (q.nrm * e.nrm) * 1000000) AS BIGINT) AS score
       |  FROM n q JOIN n e ON e.vec_id <> q.vec_id WHERE q.vec_id < $NQueries)
       |SELECT qid, vec_id, score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS INT) AS rn
       |FROM c
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= $TopK""".stripMargin

  // ---------------------------------------------------------------- x07
  /** LSH-bucketed ANN: 8 sign-random-projection bits partition the
    * corpus into ≤256 buckets; each query ranks only its own bucket.
    * The candidate join is an equi-join on bucket id — at 100 TB this
    * shuffles O(n) rows on a uniform key instead of exploding n·q
    * pairs. Recall is bucket-bounded (reported vs x06 in tests). */
  /** Library entry: LSH-bucketed ANN over any (vec_id, embedding). */
  def annLsh(emb: DataFrame, queryIds: Seq[Long]): DataFrame = {
    val e = vecsOf(emb)
    val bkt = (0 until 8).map { i =>
      val planeLit = array(planes(i).map(x => lit(x)): _*)
      when(ArrayMath.dot(col("v"), planeLit) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
    val eb = e.withColumn("bkt", bkt)
    val q = eb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("vq"),
        col("nrm").as("nq"), col("bkt").as("qbkt"))
    rank(q.join(eb, col("bkt") === col("qbkt") && col("vec_id") =!= col("qid")))
  }

  def x07(s: SparkSession, d: String): DataFrame =
    annLsh(Tables.embeddings(s, d), 0L until NQueries.toLong)

  val x07Sql: String = {
    val planeRows = (0 until 8).map { i =>
      s"($i, [${planes(i).map(fmt).mkString(", ")}])"
    }.mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |planes(i, pv) AS (VALUES
       |    $planeRows),
       |b AS (SELECT vec_id, v, nrm, CAST(sum(CASE
       |    WHEN list_sum(list_transform(range(1, 65), d -> v[d] * pv[d])) >= 0
       |    THEN (1::BIGINT << i) ELSE 0 END) AS INT) AS bkt
       |  FROM n, planes GROUP BY vec_id, v, nrm),
       |c AS (SELECT q.vec_id AS qid, e.vec_id AS vec_id,
       |  CAST(floor(list_sum(list_transform(range(1, 65), i -> q.v[i] * e.v[i])) / (q.nrm * e.nrm) * 1000000) AS BIGINT) AS score
       |  FROM b q JOIN b e ON q.bkt = e.bkt AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQueries)
       |SELECT qid, vec_id, score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS INT) AS rn
       |FROM c
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= $TopK""".stripMargin
  }

  // ---------------------------------------------------------------- x12
  private val NCentroids = 16
  private val NProbe = 2
  private val Dim = 64
  private[operators] val LloydIters = 2

  /** IVF-style ANN with k-means-trained centroids: 16 hash-picked seed
    * vectors are refined by Lloyd iterations (assign to nearest-cosine
    * centroid, recompute each centroid as its members' mean), then the
    * trained quantizer partitions the corpus into cells; queries probe
    * their 2 nearest cells and rank only those members. The scale shape
    * of a real IVF index: every assignment pass is an O(n·K) narrow map
    * (centroids broadcast), search is an equi-join on cell id — no
    * cross product.
    *
    * Portability of the means: float sums are fold-order-dependent, so
    * a naive avg() diverges between engines. Instead each component is
    * floored to integer MICRO-UNITS first — integer addition commutes,
    * so sum is order-independent — and the mean is floor(intSum/count)
    * micro-units (both operands exact in double, so the division and
    * floor are bit-identical everywhere). DuckDB replays the identical
    * centroids and therefore the identical cells. */
  /** Lloyd-trained centroid codebook over a normalized (vec_id, v, nrm)
    * relation — the shared quantizer of IVF search (x12) and SemDeDup
    * (x33). Centroids are MODEL STATE (K x dim doubles), held on the
    * driver between passes — the MLlib k-means shape. Each training
    * pass is ONE narrow map over the corpus (argmax via the codebook
    * expression [[graft.functions.CentroidTopCids]] — no window sort,
    * no join, no per-pass Janino recompile: the centroids travel as a
    * codegen reference object, not as plan literals) plus a K-row
    * aggregate; only K rows ever reach the driver. The driver-side mean
    * arithmetic is the same floor(intSum/count) micro-unit form the
    * DuckDB oracle computes. */
  private def trainCentroids(e: DataFrame, lloydIters: Int)
      : graft.functions.CentroidModel = {
    import graft.functions.{CentroidModel, CentroidTopCids}
    var centroids: Seq[(Long, IndexedSeq[Double])] = e
      .withColumn("hk", graft.functions.PortableHash.h60(
        concat(lit("ctr_"), col("vec_id").cast("string"))))
      .orderBy(col("hk").asc, col("vec_id").asc).limit(NCentroids)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toSeq

    def model = new CentroidModel(centroids.map(_._1).toArray,
      centroids.map(_._2.toArray).toArray)

    for (_ <- 0 until lloydIters) {
      // n = NProbe for EVERY use (assignment takes element 1): one
      // codegen shape total, compiled once per session however many
      // passes (and consumers) there are.
      val cid1 = element_at(
        CentroidTopCids(col("v"), col("nrm"), model, NProbe), 1)
      val aggs = (0 until Dim).map { dd =>
        sum(floor(element_at(col("v"), dd + 1) * 1000000)).as(s"s$dd")
      } :+ count(lit(1)).as("cnt")
      val stats = e.select(cid1.as("cid"), col("v"))
        .groupBy("cid").agg(aggs.head, aggs.tail: _*).collect()
      centroids = stats.map { r =>
        val cnt = r.getLong(1 + Dim)
        r.getLong(0) -> (0 until Dim).map(dd =>
          math.floor(r.getLong(dd + 1).toDouble / cnt) / 1000000.0)
      }.toSeq
    }
    model
  }

  /** Cell assignment (vec_id, v, nrm, cid) under a trained codebook —
    * a narrow map, no shuffle. */
  private def assignCells(e: DataFrame,
      model: graft.functions.CentroidModel): DataFrame =
    e.select(col("vec_id"), col("v"), col("nrm"),
      element_at(graft.functions.CentroidTopCids(
        col("v"), col("nrm"), model, NProbe), 1).as("cid"))

  /** Library entry: IVF ANN over any (vec_id, embedding). */
  def annIvf(emb: DataFrame, queryIds: Seq[Long],
      lloydIters: Int = LloydIters): DataFrame = {
    val e = vecsOf(emb)
    val model = trainCentroids(e, lloydIters)
    // Search: cell membership and query probes are both narrow maps over
    // the trained codebook; the only join is probe-cells (tiny, O(q·p)
    // rows, broadcast) against members on cell id.
    val assign = assignCells(e, model)
    val probes = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("vq"),
        col("nrm").as("nq"), explode(graft.functions.CentroidTopCids(
          col("v"), col("nrm"), model, NProbe)).as("cid"))
    rank(broadcast(probes).join(assign, Seq("cid"))
      .filter(col("vec_id") =!= col("qid")))
  }

  def x12(s: SparkSession, d: String): DataFrame =
    annIvf(Tables.embeddings(s, d), 0L until NQueries.toLong)

  /** Shared DuckDB CTE prefix replaying the k-means training + cell
    * assignment (relations `sc` with per-vec centroid ranks and `assign`
    * with the winning cell) — the oracle twin of [[trainCentroids]] +
    * [[assignCells]], used by both x12 and x33. */
  private val ivfAssignSqlPrefix: String = {
    // one Lloyd iteration: assign to nearest-cosine centroid, recompute
    // means in integer micro-units (see trainCentroids' portability note)
    def lloyd(ctrRel: String, i: Int): String =
      s"""a${i}_sc AS (SELECT n.vec_id, n.v, n.nrm, c.cid,
         |    list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i])) / (n.nrm * c.cnrm) AS cos_c
         |  FROM n CROSS JOIN $ctrRel c),
         |a$i AS (SELECT vec_id, v, nrm, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cid) AS crn FROM a${i}_sc)
         |  WHERE crn = 1),
         |c${i}_m AS (SELECT cid, d, sum(CAST(floor(v[d] * 1000000) AS BIGINT)) AS s, count(*) AS cnt
         |  FROM a$i, (SELECT unnest(range(1, 65)) AS d) t GROUP BY cid, d),
         |ctr$i AS (SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm FROM (
         |    SELECT cid, list(floor(s / cnt) / 1000000.0 ORDER BY d) AS cv FROM c${i}_m GROUP BY cid))""".stripMargin
    val iters = (1 to LloydIters).map(i => lloyd(s"ctr${i - 1}", i))
      .mkString(",\n")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |hk AS (SELECT vec_id, v, nrm, ${PortableHash.duckH60("concat('ctr_', vec_id)")} AS hk FROM n),
       |ctr0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM hk
       |  QUALIFY row_number() OVER (ORDER BY hk, vec_id) <= $NCentroids),
       |$iters,
       |sc0 AS (SELECT n.vec_id, n.v, n.nrm, c.cid,
       |    list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i])) / (n.nrm * c.cnrm) AS cos_c
       |  FROM n CROSS JOIN ctr$LloydIters c),
       |sc AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cid) AS crn FROM sc0),
       |assign AS (SELECT vec_id, v, nrm, cid FROM sc WHERE crn = 1)""".stripMargin
  }

  val x12Sql: String =
    s"""$ivfAssignSqlPrefix,
       |probe AS (SELECT vec_id AS qid, v AS vq, nrm AS nq, cid FROM sc
       |  WHERE crn <= $NProbe AND vec_id < $NQueries),
       |c AS (SELECT p.qid, a.vec_id,
       |    CAST(floor(list_sum(list_transform(range(1, 65), i -> p.vq[i] * a.v[i])) / (p.nq * a.nrm) * 1000000) AS BIGINT) AS score
       |  FROM probe p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid)
       |SELECT qid, vec_id, score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS INT) AS rn
       |FROM c
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= $TopK""".stripMargin

  // ---------------------------------------------------------------- x70
  private val PqM = 8      // subspaces
  private val PqDs = 8     // dims per subspace (PqM * PqDs = Dim)
  private val PqKs = 16    // codewords per subspace
  private val PqIters = 2  // Lloyd passes per subspace codebook

  /** Per-subspace PQ codebooks trained with the same driver-held-model
    * k-means discipline as [[trainCentroids]]: seeds are the hash-picked
    * first [[PqKs]] vectors' subvectors (code id = seed rank), then each
    * Lloyd pass is ONE narrow encode map over the corpus (codebooks as a
    * codegen reference object via [[graft.functions.PqEncode]]) plus an
    * (m·k)-row aggregate; only m·k rows reach the driver. Means use the
    * x12 integer micro-unit form, so the DuckDB oracle replays the
    * identical codebooks; codewords that lose all members are dropped on
    * both engines (GROUP BY emits only surviving cells).
    *
    * Input `un`: (vec_id, u) with u the UNIT vector v/‖v‖ — PQ on the
    * normalized vector makes the ADC dot product approximate cosine. */
  private def trainPq(un: DataFrame, iters: Int): graft.functions.PqModel = {
    import graft.functions.{PqEncode, PqModel}
    val seeds = un
      .withColumn("hk", graft.functions.PortableHash.h60(
        concat(lit("pq_"), col("vec_id").cast("string"))))
      .orderBy(col("hk").asc, col("vec_id").asc).limit(PqKs)
      .select(col("u")).collect()
      .map(_.getSeq[Double](0).toArray)
    var model = PqModel.fromSeeds(PqM, PqDs, seeds)
    for (_ <- 0 until iters) {
      val aggs = (0 until PqDs).map { i =>
        sum(floor(element_at(col("su"), i + 1) * 1000000)).as(s"s$i")
      } :+ count(lit(1)).as("cnt")
      val stats = un
        .select(col("u"), posexplode(PqEncode(col("u"), model)).as(Seq("m", "code")))
        .select(col("m"), col("code"),
          expr(s"slice(u, m * $PqDs + 1, $PqDs)").as("su"))
        .groupBy("m", "code").agg(aggs.head, aggs.tail: _*)
        .collect()
      val byM = stats.groupBy(_.getInt(0))
      val cids = Array.tabulate(PqM) { mm =>
        byM.getOrElse(mm, Array.empty).map(_.getInt(1)).sorted
      }
      val cws = Array.tabulate(PqM) { mm =>
        val rows = byM.getOrElse(mm, Array.empty)
          .map(r => r.getInt(1) -> r).toMap
        cids(mm).map { cid =>
          val r = rows(cid)
          val cnt = r.getLong(2 + PqDs)
          Array.tabulate(PqDs)(i =>
            math.floor(r.getLong(2 + i).toDouble / cnt) / 1000000.0)
        }
      }
      model = new PqModel(PqDs, cids, cws)
    }
    model
  }

  /** Local properties a job forked onto a pool thread keeps from its caller. */
  private val CallerProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags", "spark.scheduler.pool")

  /** `f` on a pool thread, under the calling thread's job group,
    * description, tags and scheduler pool. A pool thread otherwise
    * carries the local properties of whichever thread created it, so
    * its jobs would escape the caller's group (and its cancellation). */
  private[operators] def forkWithCallerProps[T](sc: SparkContext)(f: => T): Future[T] = {
    val props = CallerProps.map(k => k -> sc.getLocalProperty(k))
    Future {
      val saved = CallerProps.map(k => k -> sc.getLocalProperty(k))
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try f finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }(ExecutionContext.global)
  }

  /** Library entry: IVF-PQ ANN over any (vec_id, embedding) — the
    * missing 100 TB retrieval component x12/x25 don't cover. The index
    * row is (vec_id, coarse cell, m one-byte-sized codes): candidates
    * carry 8 ints instead of 64 doubles through the probe join, the
    * 32× memory/shuffle reduction that makes billion-vector serving
    * fit executor memory. Search = the x12 shape (broadcast probes ⋈
    * cell members on cell id — an equi-join, no cross product) scored
    * by ADC ([[graft.functions.PqAdcScore]]): the query's unit vector
    * against each candidate's RECONSTRUCTED codewords — the corpus
    * floats are never read again after indexing. */
  /** The trained IVF-PQ search core shared by x70 and x72: ADC-scored
    * candidates (qid, vec_id, score) from the probe equi-join. */
  private def pqAdcCandidates(e: DataFrame, queryIds: Seq[Long],
      lloydIters: Int, perm: Option[Array[Int]] = None): DataFrame = {
    import graft.functions.{PqAdcScore, PqEncode}
    // The coarse quantizer and the PQ codebooks are INDEPENDENT models
    // over the same corpus, but each trains through a ladder of
    // sequential driver-collect jobs (seeds, then one aggregate per
    // Lloyd pass). Overlap the two ladders as concurrent driver jobs
    // (guide §2.6): the scheduler interleaves their small stages and
    // the wall cost is max(coarse, pq) instead of the sum. Both models
    // are pure functions of their input — results are unchanged.
    val coarseF = forkWithCallerProps(e.sparkSession.sparkContext)(
      trainCentroids(e, lloydIters))
    val un0 = e.select(col("vec_id"), col("v"), col("nrm"),
      expr("transform(v, x -> x / nrm)").as("u"))
    // optional OPQ dimension permutation (x78): u reordered BEFORE
    // subspace slicing; a permutation is orthogonal, so every inner
    // product — and therefore the ADC semantics — is unchanged, only
    // the subspace decomposition (what each codebook must fit) moves
    val un = perm.fold(un0) { p =>
      un0.withColumn("u",
        array(p.toSeq.map(d => element_at(col("u"), d + 1)): _*))
    }
    val pq = try trainPq(un.select(col("vec_id"), col("u")), PqIters)
      catch {
        case t: Throwable =>
          // no orphan: the coarse ladder must not outlive this call
          Await.ready(coarseF, Duration.Inf)
          throw t
      }
    val coarse = Await.result(coarseF, Duration.Inf)
    val index = un.select(col("vec_id"),
      element_at(graft.functions.CentroidTopCids(
        col("v"), col("nrm"), coarse, NProbe), 1).as("cid"),
      PqEncode(col("u"), pq).as("codes"))
    val probes = un.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("u").as("qu"),
        explode(graft.functions.CentroidTopCids(
          col("v"), col("nrm"), coarse, NProbe)).as("cid"))
    broadcast(probes).join(index, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        PqAdcScore(col("qu"), col("codes"), pq).as("score"))
  }

  def annIvfPq(emb: DataFrame, queryIds: Seq[Long],
      lloydIters: Int = LloydIters): DataFrame =
    pqAdcCandidates(vecsOf(emb), queryIds, lloydIters)
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("rn") <= TopK)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))

  def x70(s: SparkSession, d: String): DataFrame =
    annIvfPq(Tables.embeddings(s, d), 0L until NQueries.toLong)

  // ---------------------------------------------------------------- x72
  /** ADC shortlist size per query before exact re-ranking. */
  private val PqRerank = 50

  /** IVF-PQ search COMPLETED the production way: ADC ranks a
    * [[PqRerank]]-deep shortlist from codes alone, then only those
    * q·R rows are re-scored with exact cosine against the full vectors
    * — the standard two-tier layout (codes in memory for the scan,
    * floats fetched per-candidate for the re-rank) that recovers the
    * ADC quantization loss without ever streaming the float corpus
    * through the ranking join. The re-rank join broadcasts the
    * driver-sized shortlist against the vector store keyed by vec_id;
    * output schema matches the x06/x12 family (exact-cosine scores). */
  def annIvfPqRerank(emb: DataFrame, queryIds: Seq[Long],
      lloydIters: Int = LloydIters): DataFrame = {
    val e = vecsOf(emb)
    val shortlist = pqAdcCandidates(e, queryIds, lloydIters)
      .withColumn("prn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("prn") <= PqRerank)
      .select(col("qid"), col("vec_id"))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("vq"), col("nrm").as("nq"))
    rank(broadcast(shortlist).join(e, Seq("vec_id")).join(broadcast(q), Seq("qid")))
  }

  def x72(s: SparkSession, d: String): DataFrame =
    annIvfPqRerank(Tables.embeddings(s, d), 0L until NQueries.toLong)

  // ---------------------------------------------------------------- x78
  /** ADC shortlist depth for the OPQ variant — 10% below [[PqRerank]]
    * at measured ≥0.96× parity with the raw-PQ 50-deep recovery on the
    * fixture (depth sweep: 25→0.80, 40→0.92, 45→0.94, 50→0.98 vs
    * rr50's 0.97 at sf0.001). The fixture's synthetic embeddings are
    * measured ISOTROPIC (near-equal per-dim energy — ExactnessSpec
    * reports the max/min ratio), which is exactly the input OPQ theory
    * predicts a no-op for: the permutation's ADC agreement matches raw
    * PQ's (0.51 vs 0.52) instead of beating it, so the half-depth
    * headline an anisotropic corpus would earn is not demonstrable
    * here — the gate's load-bearing claim is the CROSS-ENGINE
    * EXACTNESS of the rotation machinery (energy ranking, snake
    * allocation, permuted slicing), plus the modest depth cut that
    * isotropy still permits. */
  private val OpqRerank = 45

  /** Variance-balanced dimension permutation — the structured
    * (non-parametric) OPQ rotation: PQ's quantization error
    * concentrates when subspaces carry unbalanced energy (Ge et al.,
    * CVPR'13, "Optimized Product Quantization" — eigenvalue
    * allocation); restricting the learned rotation to PERMUTATION
    * matrices (still orthogonal — inner products, hence ADC/cosine
    * semantics, are exactly preserved) captures the balancing effect
    * with a model of 64 ints instead of a 64×64 SVD, and — unlike a
    * dense rotation — one the DuckDB oracle can replay exactly.
    *
    * Deterministic + cross-engine exact: per-dim energy is the INTEGER
    * corpus sum of floor(u_d²·1e6) (micro-unit discipline — one IEEE
    * multiply then floor, bit-identical on both engines), dims rank by
    * (energy desc, d asc), and rank r lands in subspace
    * snake(r) = r mod M when ⌊r/M⌋ is even, else M−1−(r mod M) — the
    * boustrophedon allocation: each block of M consecutive ranks
    * spreads one dim to every subspace, alternating direction, so
    * every subspace receives one dim from each energy octile. The
    * 64-long energy row is the one driver materialization (the
    * x12/x70 driver-held-model discipline). */
  /** Per-dim integer micro-unit corpus energies of the unit vectors —
    * [[opqPermutation]]'s 64-long model input, exposed so the spec can
    * report the fixture's (an)isotropy alongside what the permutation
    * measurably buys on it. */
  private[graft] def dimEnergies(emb: DataFrame): Array[Long] =
    dimEnergiesOf(vecsOf(emb)
      .select(col("vec_id"), expr("transform(v, x -> x / nrm)").as("u")))

  private def dimEnergiesOf(un: DataFrame): Array[Long] = {
    val aggs = (0 until Dim).map { d =>
      // coalesce: SUM over an empty corpus is NULL (degenerate sweep) —
      // zero energy ranks the permutation by dimension index, and the
      // downstream pipeline yields the correct empty result
      coalesce(sum(floor(element_at(col("u"), d + 1)
        * element_at(col("u"), d + 1) * 1000000).cast("long")), lit(0L))
        .as(s"e$d")
    }
    val r = un.agg(aggs.head, aggs.tail: _*).collect()(0)
    Array.tabulate(Dim)(r.getLong)
  }

  private[operators] def opqPermutation(un: DataFrame): Array[Int] = {
    val e = dimEnergiesOf(un)
    val ranked = (0 until Dim).map(d => (e(d), d))
      .sortBy { case (e, d) => (-e, d) }
    val bySub = Array.fill(PqM)(scala.collection.mutable.ArrayBuffer[Int]())
    ranked.zipWithIndex.foreach { case ((_, d), rk) =>
      val m = if ((rk / PqM) % 2 == 0) rk % PqM else PqM - 1 - rk % PqM
      bySub(m) += d
    }
    bySub.flatten.toArray
  }

  /** IVF-OPQ with exact re-rank at HALF x72's shortlist depth: the
    * x72 pipeline with [[opqPermutation]] applied to the unit vectors
    * before subspace slicing. Same output schema as x72/x06. */
  def annIvfPqOpqRerank(emb: DataFrame, queryIds: Seq[Long],
      lloydIters: Int = LloydIters, depth: Int = OpqRerank): DataFrame = {
    val e = vecsOf(emb)
    val perm = opqPermutation(
      e.select(col("vec_id"), expr("transform(v, x -> x / nrm)").as("u")))
    val shortlist = pqAdcCandidates(e, queryIds, lloydIters, Some(perm))
      .withColumn("prn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("prn") <= depth)
      .select(col("qid"), col("vec_id"))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("vq"), col("nrm").as("nq"))
    rank(broadcast(shortlist).join(e, Seq("vec_id")).join(broadcast(q), Seq("qid")))
  }

  /** Diagnostic: the OPQ-permuted ADC ranking WITHOUT re-rank (the
    * x70 twin under the permutation) — used by ExactnessSpec
    * to isolate what the permutation buys at the ADC tier. */
  private[graft] def annIvfPqOpq(emb: DataFrame, queryIds: Seq[Long],
      lloydIters: Int = LloydIters): DataFrame = {
    val e = vecsOf(emb)
    val perm = opqPermutation(
      e.select(col("vec_id"), expr("transform(v, x -> x / nrm)").as("u")))
    pqAdcCandidates(e, queryIds, lloydIters, Some(perm))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("rn") <= TopK)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
  }

  def x78(s: SparkSession, d: String): DataFrame =
    annIvfPqOpqRerank(Tables.embeddings(s, d), 0L until NQueries.toLong)

  /** Shared oracle prefix: replays coarse training (ivf prefix),
    * per-subspace PQ training (seed ranks → Lloyd micro-unit means),
    * encoding (argmin L2, tie → smaller code), and the
    * per-subspace-quantized ADC sum, ending in relation `adc`
    * (qid, vec_id, score). `usub`/`pe`/`enc` are MATERIALIZED — each
    * is referenced more than once and default CTE inlining would
    * re-derive the whole chain per reference (the x71 lesson). */
  /** The prefix chain parameterized over the cb0/usub construction:
    * the identity slicing (x70/x72) and the OPQ-permuted slicing (x78)
    * share every other CTE verbatim — seeds, Lloyd rounds, encode,
    * probe, ADC all operate on `usub`/`cb0` by name. */
  private def pqPrefixSql(cb0Usub: String): String = {
    def lloydPq(prev: String, r: Int): String =
      s"""pe$r AS MATERIALIZED (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT s.vec_id, s.m, c.cid, row_number() OVER (
         |        PARTITION BY s.vec_id, s.m
         |        ORDER BY list_sum(list_transform(range(1, ${PqDs + 1}),
         |          i -> (s.su[i] - c.cw[i]) * (s.su[i] - c.cw[i]))), c.cid) AS rn
         |    FROM usub s JOIN $prev c USING (m))
         |  WHERE rn = 1),
         |pst$r AS (
         |  SELECT e.m, e.cid, d,
         |    sum(CAST(floor(s.su[d] * 1000000) AS BIGINT)) AS sv,
         |    count(*) AS cnt
         |  FROM pe$r e JOIN usub s USING (vec_id, m),
         |    (SELECT unnest(range(1, ${PqDs + 1})) AS d) t
         |  GROUP BY e.m, e.cid, d),
         |cb$r AS (
         |  SELECT m, cid, list(floor(sv / cnt) / 1000000.0 ORDER BY d) AS cw
         |  FROM pst$r GROUP BY m, cid)""".stripMargin
    val iters = (1 to PqIters).map(r => lloydPq(s"cb${r - 1}", r))
      .mkString(",\n")
    s"""$ivfAssignSqlPrefix,
       |un AS MATERIALIZED (
       |  SELECT vec_id, list_transform(range(1, ${Dim + 1}), i -> v[i] / nrm) AS u
       |  FROM n),
       |subs AS (SELECT unnest(range(0, $PqM)) AS m),
       |pqseed AS (
       |  SELECT vec_id, u, row_number() OVER (
       |      ORDER BY ${PortableHash.duckH60("concat('pq_', vec_id)")}, vec_id) AS cid
       |  FROM un
       |  QUALIFY cid <= $PqKs),
       |$cb0Usub,
       |$iters,
       |enc AS MATERIALIZED (
       |  SELECT vec_id, m, cid AS code FROM (
       |    SELECT s.vec_id, s.m, c.cid, row_number() OVER (
       |        PARTITION BY s.vec_id, s.m
       |        ORDER BY list_sum(list_transform(range(1, ${PqDs + 1}),
       |          i -> (s.su[i] - c.cw[i]) * (s.su[i] - c.cw[i]))), c.cid) AS rn
       |    FROM usub s JOIN cb$PqIters c USING (m))
       |  WHERE rn = 1),
       |probe AS (SELECT vec_id AS qid, cid FROM sc
       |  WHERE crn <= $NProbe AND vec_id < $NQueries),
       |cand AS (SELECT p.qid, a.vec_id
       |  FROM probe p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid),
       |adc AS (
       |  SELECT c.qid, c.vec_id,
       |    CAST(sum(CAST(floor(list_sum(list_transform(range(1, ${PqDs + 1}),
       |      i -> q.su[i] * cb.cw[i])) * 1000000) AS BIGINT)) AS BIGINT) AS score
       |  FROM cand c
       |  JOIN enc ON enc.vec_id = c.vec_id
       |  JOIN cb$PqIters cb ON cb.m = enc.m AND cb.cid = enc.code
       |  JOIN usub q ON q.vec_id = c.qid AND q.m = enc.m
       |  GROUP BY c.qid, c.vec_id)""".stripMargin
  }

  /** Identity subspace slicing: dim m·Ds+i goes to subspace m slot i. */
  private val pqAdcSqlPrefix: String = pqPrefixSql(
    s"""cb0 AS (
       |  SELECT m, cid, list_transform(range(1, ${PqDs + 1}), i -> u[m * $PqDs + i]) AS cw
       |  FROM pqseed CROSS JOIN subs),
       |usub AS MATERIALIZED (
       |  SELECT vec_id, m, list_transform(range(1, ${PqDs + 1}), i -> u[m * $PqDs + i]) AS su
       |  FROM un CROSS JOIN subs)""".stripMargin)

  /** OPQ slicing (x78): dims ranked by integer micro-unit corpus
    * energy, snake-allocated to subspaces, sliced in rank order —
    * replaying [[opqPermutation]] exactly. */
  private val pqOpqSqlPrefix: String = pqPrefixSql(
    s"""vstat AS (
       |  SELECT d, sum(CAST(floor(u[d + 1] * u[d + 1] * 1000000) AS BIGINT)) AS ev
       |  FROM un CROSS JOIN (SELECT unnest(range(0, $Dim)) AS d) t
       |  GROUP BY d),
       |rankd AS (
       |  SELECT d, row_number() OVER (ORDER BY ev DESC, d) - 1 AS r FROM vstat),
       |alloc AS (
       |  SELECT d, r,
       |    CASE WHEN (r // $PqM) % 2 = 0 THEN r % $PqM
       |         ELSE ${PqM - 1} - (r % $PqM) END AS m
       |  FROM rankd),
       |cb0 AS (
       |  SELECT a.m, p.cid, list(p.u[a.d + 1] ORDER BY a.r) AS cw
       |  FROM pqseed p CROSS JOIN alloc a GROUP BY a.m, p.cid),
       |usub AS MATERIALIZED (
       |  SELECT vec_id, a.m, list(u[a.d + 1] ORDER BY a.r) AS su
       |  FROM un CROSS JOIN alloc a GROUP BY vec_id, a.m)""".stripMargin)

  /** x78 oracle: the OPQ-permuted ADC prefix, a [[OpqRerank]]-deep
    * shortlist, then exact cosine over the full vectors. */
  val x78Sql: String =
    s"""$pqOpqSqlPrefix,
       |short AS (
       |  SELECT qid, vec_id FROM adc
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= $OpqRerank),
       |rr AS (
       |  SELECT s.qid, s.vec_id,
       |    CAST(floor(list_sum(list_transform(range(1, ${Dim + 1}),
       |      i -> q.v[i] * e.v[i])) / (q.nrm * e.nrm) * 1000000) AS BIGINT) AS score
       |  FROM short s
       |  JOIN n e ON e.vec_id = s.vec_id
       |  JOIN n q ON q.vec_id = s.qid)
       |SELECT qid, vec_id, score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS INT) AS rn
       |FROM rr
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= $TopK""".stripMargin

  val x70Sql: String =
    s"""$pqAdcSqlPrefix
       |SELECT qid, vec_id, score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS INT) AS rn
       |FROM adc
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= $TopK""".stripMargin

  /** x72 oracle: the ADC prefix, a [[PqRerank]]-deep shortlist, then
    * exact cosine over relation `n`'s full vectors — the re-rank twin. */
  val x72Sql: String =
    s"""$pqAdcSqlPrefix,
       |short AS (
       |  SELECT qid, vec_id FROM adc
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= $PqRerank),
       |rr AS (
       |  SELECT s.qid, s.vec_id,
       |    CAST(floor(list_sum(list_transform(range(1, ${Dim + 1}),
       |      i -> q.v[i] * e.v[i])) / (q.nrm * e.nrm) * 1000000) AS BIGINT) AS score
       |  FROM short s
       |  JOIN n e ON e.vec_id = s.vec_id
       |  JOIN n q ON q.vec_id = s.qid)
       |SELECT qid, vec_id, score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS INT) AS rn
       |FROM rr
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= $TopK""".stripMargin

  // ---------------------------------------------------------------- x33
  private val SemThresh = 0.3

  /** SemDeDup-style semantic dedup: cluster the corpus with the SAME
    * k-means quantizer as the IVF index, verify exact cosine only
    * WITHIN each cell, and drop every vector that has a smaller-id
    * cell-mate above the threshold (keep-lowest-id — deterministic; the
    * paper's keep-farthest-from-centroid is a one-line orderBy swap).
    * Output: one verdict row per vector (vec_id, cid, kept).
    *
    * Scale shape: assignment is a narrow map over the broadcast
    * codebook; the only wide op is the within-cell self-join — an
    * equi-join on cid whose candidate volume is sum(|cell|²), bounded
    * by sizing K ~ sqrt(n) exactly as the SemDeDup recipe prescribes
    * (the fixture's K=16 keeps the oracle replayable). No cross
    * product; the verdict join is a shuffle-hash left join on vec_id —
    * NOT a broadcast: at an aggressive threshold SemDeDup removes a
    * large fraction of the corpus, so the removed set is O(n) and must
    * stay distributed. */
  def semDedup(emb: DataFrame, thresh: Double = SemThresh,
      lloydIters: Int = LloydIters): DataFrame = {
    import graft.functions.ArrayMath
    val e = vecsOf(emb)
    // assign is consumed THREE times (both self-join sides + the
    // verdict join): materialize it once, or the embeddings scan and
    // the K×64-dot-product cell assignment run 3× per call — the
    // dominant narrow-map cost at scale. Same lineage-truncation idiom
    // as Clusters.connectedComponents; a multi-executor deployment
    // would use reliable checkpoint() instead.
    val assign = assignCells(e, trainCentroids(e, lloydIters))
      .hint("shuffle_hash")
      .localCheckpoint()
    val a = assign.select(col("cid"), col("vec_id").as("a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assign.select(col("cid"), col("vec_id").as("b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val removed = a.join(b, Seq("cid"))
      .filter(col("a") < col("b"))
      .filter(ArrayMath.dot(col("va"), col("vb")) / (col("na") * col("nb"))
        >= thresh)
      .select(col("b").as("vec_id")).distinct()
      .withColumn("rm", lit(1))
    assign.select(col("vec_id"), col("cid"))
      .join(removed.hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("rm").isNull.as("kept"))
  }

  def x33(s: SparkSession, d: String): DataFrame =
    semDedup(Tables.embeddings(s, d))

  val x33Sql: String =
    s"""$ivfAssignSqlPrefix,
       |rm AS (SELECT DISTINCT b.vec_id AS vec_id
       |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= $SemThresh)
       |SELECT s.vec_id, s.cid, rm.vec_id IS NULL AS kept
       |FROM assign s LEFT JOIN rm ON rm.vec_id = s.vec_id""".stripMargin

  // ---------------------------------------------------------------- x25
  /** Symmetric int8 quantization of the embedding column — the storage/
    * serving compression step of an embedding pipeline — with per-vector
    * reconstruction-error accounting. scale = max|v|/127; codes are
    * floor(x/scale + 0.5) (explicit round-half-up: both engines' floor
    * is IEEE-identical, unlike round()'s tie rules); the squared
    * reconstruction error folds ascending through the same codegen'd
    * dot product the ANN path uses, matching DuckDB's list_sum order
    * bitwise. Entirely narrow — no shuffle at any scale. */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale",
        expr("greatest(aggregate(v, 0D, (a, x) -> greatest(a, abs(x))), 1e-12d) / 127.0d"))
      .withColumn("q",
        expr("transform(v, x -> CAST(floor(x / scale + 0.5d) AS INT))"))
      .withColumn("diff", expr("zip_with(v, q, (a, b) -> a - b * scale)"))
      .select(col("vec_id"),
        size(col("v")).as("n_dims"),
        floor(col("scale") * 1e9).cast("long").as("scale_u"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        floor(graft.functions.ArrayMath.dot(col("diff"), col("diff")) * 1e9)
          .cast("long").as("sq_err_u"))

  def x25(s: SparkSession, d: String): DataFrame =
    quantizeInt8(Tables.embeddings(s, d))

  val x25Sql: String =
    """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
      |s AS (SELECT vec_id, v,
      |  greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS scale
      |  FROM e),
      |q AS (SELECT vec_id, v, scale,
      |  list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS qv
      |  FROM s)
      |SELECT vec_id,
      |  CAST(len(v) AS INT) AS n_dims,
      |  CAST(floor(scale * 1e9) AS BIGINT) AS scale_u,
      |  list_min(qv) AS q_min,
      |  list_max(qv) AS q_max,
      |  CAST(floor(list_sum(list_transform(range(1, len(v) + 1),
      |    i -> (v[i] - qv[i] * scale) * (v[i] - qv[i] * scale))) * 1e9) AS BIGINT) AS sq_err_u
      |FROM q""".stripMargin

  /** x44 — the distributed Gram matrix G = Σ_n v_n v_nᵀ over the whole
    * embedding corpus: the uncentered second-moment matrix that PCA,
    * whitening, and linear-probe training all start from. This is the
    * one embedding op where a declarative explode is the WRONG scale
    * shape (posexplode² shuffles N·d² product rows — 40 TB of shuffle
    * for a billion 64-dim vectors), so it uses the sanctioned
    * per-partition imperative path: each task folds its rows into ONE
    * d×d double accumulator (upper triangle only), emits that single
    * array, and a tiny (partitions × d²)-row distributed aggregation
    * sums the partials — total shuffle volume is partitions·d² doubles,
    * independent of corpus size, and nothing lands on the driver.
    * Products are computed float→double (exact) on both engines; the
    * output quantizes to 1e-4 units with floor, coarse enough that the
    * association-order float drift of the partial sums (≪1e-9 relative)
    * cannot flip a bucket. */
  /** Per-row second-moment accumulation shared by [[gramMatrix]] and
    * [[Pca.fit]]: validates the vector length (a shorter vector would
    * otherwise surface as an opaque executor ArrayIndexOutOfBounds, a
    * longer one as silent truncation) and folds v into the upper
    * triangle of `gram` — and into `sum` when the caller needs the
    * mean (pass null to skip). */
  private[operators] def accumulateMoments(v: Array[Float], dim: Int,
      sum: Array[Double], gram: Array[Double]): Unit = {
    // moments over a NULL vector are undefined — fail with a clear
    // message instead of an opaque executor NPE (Pca.project, by
    // contrast, deliberately passes null embeddings through: a
    // projection is per-row, a moment fold is corpus-wide)
    require(v != null, "null embedding in moment accumulation " +
      "(filter IS NOT NULL upstream or repair the corpus)")
    require(v.length == dim,
      s"embedding length ${v.length} != expected dim $dim")
    var i = 0
    while (i < dim) {
      val vi = v(i).toDouble
      if (sum != null) sum(i) += vi
      var j = i
      while (j < dim) { gram(i * dim + j) += vi * v(j); j += 1 }
      i += 1
    }
  }

  def gramMatrix(embs: DataFrame, dim: Int): DataFrame = {
    val s = embs.sparkSession
    import s.implicits._
    val partials = embs.select(col("embedding").cast("array<float>"))
      .as[Array[Float]]
      .mapPartitions { it =>
        // empty partitions contribute NOTHING (not a zero matrix):
        // less shuffle on sparse layouts, and an empty corpus folds to
        // the empty relation — the oracle's zero GROUP BY groups —
        // instead of 2080 structural-zero rows (degenerate sweep)
        if (!it.hasNext) Iterator.empty
        else {
          val acc = new Array[Double](dim * dim)
          while (it.hasNext) accumulateMoments(it.next(), dim, null, acc)
          Iterator.single(acc)
        }
      }
    partials.toDF("acc")
      .select(posexplode(col("acc")).as(Seq("idx", "p")))
      // drop the never-written lower triangle BEFORE the shuffle: the
      // fold only fills i <= j, so those cells are structural zeros
      .filter(expr(s"idx % $dim >= idx DIV $dim"))
      .groupBy("idx").agg(sum(col("p")).as("g"))
      .select(expr(s"CAST(idx DIV $dim AS INT)").as("i"),
        (col("idx") % dim).cast("int").as("j"),
        floor(col("g") * 1e4).cast("long").as("g_e4"))
  }

  def x44(s: SparkSession, d: String): DataFrame =
    gramMatrix(Tables.embeddings(s, d), dim = 64)

  val x44Sql: String =
    """WITH e AS (
      |  SELECT vec_id, unnest(embedding) AS v,
      |    generate_subscripts(embedding, 1) - 1 AS i
      |  FROM embeddings)
      |SELECT a.i AS i, b.i AS j,
      |  CAST(floor(sum(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) * 1e4) AS BIGINT) AS g_e4
      |FROM e a JOIN e b USING (vec_id)
      |WHERE a.i <= b.i
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- x56
  /** Metadata-FILTERED vector search: per-query top-k cosine restricted
    * to corpus vectors sharing the query's label — the "nearest within
    * my category" query every production retrieval system runs, and the
    * case where post-filtering an unfiltered ANN result is WRONG (the
    * top-k may contain zero same-label rows; the filter must constrain
    * candidate generation, not prune its output).
    *
    * The predicate IS the join key: candidates come from a label
    * equi-join with the broadcast query side, so the corpus streams
    * through once — no cross join, and only same-label rows ever reach
    * the distance kernel. At 100 TB this composes with the x07/x12
    * bucketing by extending the join key to (label, bucket). rank()
    * fuses the per-query top-k (WindowGroupLimit partial before the
    * small qid shuffle). */
  def annFiltered(emb: DataFrame, queryIds: Seq[Long]): DataFrame = {
    val e = vecsLabeledOf(emb)
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("vq"),
        col("nrm").as("nq"), col("label").as("ql"))
    rank(e.join(broadcast(q),
      col("label") === col("ql") && col("vec_id") =!= col("qid")))
  }

  private def vecsLabeledOf(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", ArrayMath.l2norm(col("v")))

  def x56(s: SparkSession, d: String): DataFrame =
    annFiltered(Tables.embeddings(s, d), 0L until NQueries.toLong)

  val x56Sql: String =
    s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |c AS (SELECT q.vec_id AS qid, e.vec_id AS vec_id,
       |  CAST(floor(list_sum(list_transform(range(1, 65), i -> q.v[i] * e.v[i])) / (q.nrm * e.nrm) * 1000000) AS BIGINT) AS score
       |  FROM n q JOIN n e ON e.label = q.label AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQueries)
       |SELECT qid, vec_id, score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS INT) AS rn
       |FROM c
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) <= $TopK""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x06_ann_brute" -> (x06 _),
    "x56_ann_filtered" -> (x56 _),
    "x07_ann_lsh" -> (x07 _),
    "x12_ann_ivf" -> (x12 _),
    "x70_ann_pq" -> (x70 _),
    "x72_ann_pq_rerank" -> (x72 _),
    "x78_ann_opq" -> (x78 _),
    "x25_embed_quantize" -> (x25 _),
    "x33_semdedup" -> (x33 _),
    "x44_gram_matrix" -> (x44 _),
  )

  val oracleSql: Map[String, String] = Map(
    "x06_ann_brute" -> x06Sql,
    "x56_ann_filtered" -> x56Sql,
    "x07_ann_lsh" -> x07Sql,
    "x12_ann_ivf" -> x12Sql,
    "x70_ann_pq" -> x70Sql,
    "x72_ann_pq_rerank" -> x72Sql,
    "x78_ann_opq" -> x78Sql,
    "x25_embed_quantize" -> x25Sql,
    "x33_semdedup" -> x33Sql,
    "x44_gram_matrix" -> x44Sql,
  )
}
