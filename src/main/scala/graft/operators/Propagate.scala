package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative score propagation over the near-duplicate graph — the
  * "quality smoothing" pass a curation pipeline runs after per-doc
  * scoring: a document's quality estimate is pulled toward its
  * near-duplicates' (CommonCrawl-style pipelines propagate quality
  * over link/dup graphs the same way; the fixpoint family is
  * PageRank's). Per iteration, for every doc v with neighbors N(v):
  *
  *   s'(v) = (15·s0(v) + 85·(Σ_{u∈N(v)} s(u) DIV deg(v))) DIV 100
  *
  * and s'(v) = s0(v) for isolated docs. All arithmetic is INTEGER
  * (micro-unit scores, floor division), so the result is bit-portable
  * across engines — a floating PageRank would drift on summation
  * order; this one cannot (long sums are order-independent, DIV is
  * exact).
  *
  * Scale shape: round 1 pays one equi-join of the edge list to the
  * |V|-row score relation plus a groupBy-sum on the node id — the
  * standard distributed Pregel step as Catalyst joins, shuffling
  * O(|E|) rows on uniform keys. Later rounds are BOUNDED-FRONTIER:
  * the per-node neighbor sums are carried forward and only the nodes
  * whose score changed (Δs ≠ 0) re-emit their delta along their
  * edges, so round i shuffles O(|E(frontier)|) — on smoothing
  * workloads the frontier collapses after round 1 and the fixed-round
  * loop costs ~one full wave, not `iters` of them. The edge list and
  * base scores are materialized
  * once (lazy localCheckpoint, the Clusters.scala discipline) so the
  * LSH pair derivation runs once, not once per iteration; each
  * round's output is checkpointed so the plan tree stays flat instead
  * of nesting (analysis would otherwise go exponential in rounds).
  * Iteration count is fixed (smoothing, not convergence detection) —
  * at 100 TB each round is one bounded shuffle wave.
  */
object Propagate {

  private val Iters = 3
  private val TopN = 50

  /** Library entry: propagate `scores` (id, s0) over undirected
    * `pairs` (a, b) for `iters` rounds; returns (id, s0, s) for every
    * scored id. N(v) is defined over SCORED endpoints only: an edge
    * touching an id absent from `scores` is dropped (semi-join on both
    * endpoints) before deg is counted, so deg and the neighbor sum
    * always range over the same set — an unscored neighbor can neither
    * dilute the average nor leave a node with deg>0 but NULL sum_s
    * (which would otherwise surface as a NULL score and let NULL
    * ordering decide the top-N). PropagateSpec pins both properties. */
  def qualityPropagate(scores: DataFrame, pairs: DataFrame,
      iters: Int = Iters): DataFrame = {
    val base = scores
      .select(col("id").cast("long").as("id"), col("s0").cast("long").as("s0"))
      .localCheckpoint(eager = false)
    // symmetric distinct neighbor view: u ∈ N(v) — pairs arrive once
    // per unordered pair, so mirror and dedupe; then keep only edges
    // whose BOTH endpoints are scored (see scaladoc above)
    val edges = pairs
      .select(col("a").cast("long").as("v"), col("b").cast("long").as("u"))
      .unionByName(pairs
        .select(col("b").cast("long").as("v"), col("a").cast("long").as("u")))
      .where(col("v") =!= col("u"))
      .distinct()
      .join(base.select(col("id").as("v")), Seq("v"), "left_semi")
      .join(base.select(col("id").as("u")), Seq("u"), "left_semi")
      .localCheckpoint(eager = false)
    val deg = edges.groupBy("v").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    // BOUNDED-FRONTIER iteration: the recurrence needs, per round, the
    // per-node neighbor sum Σ_{u∈N(v)} s(u). Only round 1 computes it
    // with the full O(|E|) edge join; every later round carries the
    // sums forward and joins the edge list against the CHANGED nodes
    // only (Δs ≠ 0), adding Σ_{u changed} Δs(u) to each neighbor's
    // carried sum. Long addition is exact and order-independent, so
    // the carried sum equals a full recomputation bit-for-bit
    // (PropagateSpec pins the scores against the driver-side
    // recurrence) — but round i's shuffle is
    // O(|E restricted to the frontier|), and integer floor-division
    // scores stabilize fast: on the smoothing fixture most nodes stop
    // changing after round 1, which is what cut the 100×-rehearsal
    // wall-clock (the full-join form re-shuffled every edge every
    // round regardless of change).
    def scoreOf(sums: DataFrame): DataFrame = base
      .join(deg.withColumnRenamed("v", "id"), Seq("id"), "left")
      .join(sums.withColumnRenamed("v", "id"), Seq("id"), "left")
      .select(col("id"), col("s0"),
        when(col("deg").isNull, col("s0"))
          .otherwise(expr("(15 * s0 + 85 * (sum_s div deg)) div 100"))
          .as("s"))
      .localCheckpoint(eager = false)
    var cur = base.select(col("id"), col("s0"), col("s0").as("s"))
      .localCheckpoint(eager = false)
    var sums = edges.join(cur.select(col("id").as("u"), col("s")), Seq("u"))
      .groupBy("v").agg(sum(col("s")).as("sum_s"))
      .localCheckpoint(eager = false)
    for (i <- 1 to iters) {
      val next = scoreOf(sums)
      if (i < iters) {
        // frontier: nodes whose score changed this round; their Δ
        // flows along edges into the carried sums
        val delta = next.select(col("id").as("u"), col("s").as("ns"))
          .join(cur.select(col("id").as("u"), col("s").as("ps")), Seq("u"))
          .select(col("u"), (col("ns") - col("ps")).as("ds"))
          .where(col("ds") =!= 0L)
        val dsum = edges.join(delta, Seq("u"))
          .groupBy("v").agg(sum(col("ds")).as("dsum"))
        sums = sums.join(dsum, Seq("v"), "left")
          .select(col("v"),
            (col("sum_s") + coalesce(col("dsum"), lit(0L))).as("sum_s"))
          .localCheckpoint(eager = false)
      }
      cur = next
    }
    cur
  }

  // ---------------------------------------------------------------- x64
  /** x64 — top-N docs after propagating x09's quality score over x02's
    * near-dup graph (shared relations: the score formula and the LSH
    * pair derivation are the gated x09/x02 code and SQL verbatim, so
    * the three gates cannot drift). */
  def x64(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scores = TextOps.x09(s, d)
      .select(col("doc_id").as("id"), col("score_u").as("s0"))
    qualityPropagate(scores, Dedup.nearDupWordPairs(docs))
      .select(col("id").as("doc_id"), col("s0").as("s0_u"), col("s").as("s_u"))
      .orderBy(col("s_u").desc, col("doc_id"))
      .limit(TopN)
  }

  /** One unrolled iteration of the oracle recurrence. */
  private def iterSql(prev: String, i: Int): String =
    s"""nb$i AS (
       |  SELECT e.v, CAST(sum(p.s) AS BIGINT) AS sum_s
       |  FROM edges e JOIN $prev p ON p.id = e.u GROUP BY e.v),
       |it$i AS (
       |  SELECT b.id, b.s0,
       |    CASE WHEN d.deg IS NULL THEN b.s0
       |         ELSE (15 * b.s0 + 85 * (nb.sum_s // d.deg)) // 100 END AS s
       |  FROM s0 b
       |  LEFT JOIN deg d ON d.v = b.id
       |  LEFT JOIN nb$i nb ON nb.v = b.id)""".stripMargin

  val x64Sql: String = {
    val iters = (1 to Iters).map(i => iterSql(s"it${i - 1}", i))
      .mkString(",\n")
    s"""WITH sc AS (${TextOps.x09Sql}),
       |s0 AS (SELECT doc_id AS id, score_u AS s0 FROM sc),
       |pairs AS (${Dedup.x02Sql}),
       |edges AS (
       |  SELECT DISTINCT v, u FROM (
       |    SELECT a AS v, b AS u FROM pairs
       |    UNION ALL SELECT b AS v, a AS u FROM pairs)
       |  WHERE v <> u
       |    AND v IN (SELECT id FROM s0) AND u IN (SELECT id FROM s0)),
       |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY v),
       |it0 AS (SELECT id, s0, s0 AS s FROM s0),
       |$iters
       |SELECT id AS doc_id, s0 AS s0_u, s AS s_u
       |FROM it$Iters
       |ORDER BY s_u DESC, doc_id
       |LIMIT $TopN""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x64_quality_propagate" -> (x64 _))

  val oracleSql: Map[String, String] = Map(
    "x64_quality_propagate" -> x64Sql)
}
