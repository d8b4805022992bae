package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities. AQE's skew-join handling covers sort-merge
  * joins it can observe at runtime; explicit salting remains the tool
  * when a known-hot key must never land on one reducer (or when the
  * skewed side feeds a non-SMJ plan). The salted AGGREGATION twin of
  * this technique is oracle-checked as q21.
  */
object Skew {

  /** Inner equi-join with the big side's rows scattered across
    * `saltBuckets` sub-partitions per key and the small side replicated
    * once per bucket: the hot key's probe rows spread over saltBuckets
    * reducers instead of one. Result is exactly `big.join(small, key)`.
    *
    * The salt mixes a whole-row hash with a partition-local row index
    * (`monotonically_increasing_id` = partitionId << 33 | row counter):
    * the index term guarantees spread even when a hot key's rows are
    * byte-identical duplicates (all hashing to one bucket otherwise —
    * the exact pathology salting exists to fix). Salt values can differ
    * across task retries, but the salt never reaches the output and any
    * bucket assignment yields the same join result. Inputs must not
    * already carry a `__salt` column. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltBuckets: Int = 16): DataFrame = {
    require(!big.columns.contains("__salt") && !small.columns.contains("__salt"),
      "saltedJoin: inputs must not already have a __salt column")
    val b = big.withColumn("__salt",
      pmod(hash(big.columns.map(col): _*) + monotonically_increasing_id(),
        lit(saltBuckets)))
    val s = small.withColumn("__salt",
      explode(array((0 until saltBuckets).map(i => lit(i)): _*)))
    b.join(s, Seq(key, "__salt")).drop("__salt")
  }

  /** Hot-key probe side for q22: half of lineitem lands on key 0 (the
    * pathology salting exists for), the rest spreads over nation's 25
    * keys. Both engines derive it with the same integer arithmetic. */
  private def hotKeyed(lineitem: DataFrame): DataFrame =
    lineitem.select(
      when(col("l_orderkey") % 10 < 5, lit(0L))
        .otherwise(col("l_orderkey") % 25).as("k"),
      col("l_quantity"))

  /** q22 — salted join, oracle-checked: result must equal the PLAIN
    * join (the salt is pure partitioning mechanics and never reaches
    * the output), aggregated to a stable integer-only shape. */
  def q22(s: SparkSession, d: String): DataFrame =
    saltedJoin(
      hotKeyed(Tables.lineitem(s, d)),
      Tables.nation(s, d).select(col("n_nationkey").as("k"), col("n_name")),
      "k")
      .groupBy("k", "n_name")
      .agg(count(lit(1)).as("n_rows"),
        // quantities are small exact integers stored as double: the
        // double sum is exact and the long cast loses nothing
        sum(col("l_quantity")).cast("long").as("sum_qty"))

  val q22Sql: String =
    """SELECT k, n_name, count(*) AS n_rows,
      |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      |FROM (SELECT CASE WHEN l_orderkey % 10 < 5 THEN 0
      |             ELSE l_orderkey % 25 END AS k, l_quantity
      |      FROM lineitem)
      |JOIN (SELECT n_nationkey AS k, n_name FROM nation) USING (k)
      |GROUP BY k, n_name""".stripMargin

  /** Once-per-(app, dir) 8-file copy of the hot-keyed fact projection.
    * AQE's skew splitter can only split a skewed reduce partition at
    * MAP-output boundaries, and the fixture parquet is ONE row group —
    * every scan of it is one map task, so there is no boundary to split
    * at and OptimizeSkewedJoin (correctly) reports nothing splittable.
    * A production fact table arrives as thousands of files/row groups;
    * the 8-file copy restores that property at fixture scale. Same
    * one-time-layout amortization and build-outside-lock discipline as
    * [[Bucketed.partitionedOrders]]. */
  private val splitPath =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def splitFact(s: SparkSession, d: String): DataFrame = {
    val key = s"${s.sparkContext.applicationId}/$d"
    val p = Option(splitPath.get(key)).getOrElse {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q36_split_").toFile
      // the md5 payload keeps the hot partition's shuffle BYTES skewed
      // at every scale factor: without it the hot key's rows are
      // (constant, small-int double) and lz4 flattens the 5x row skew
      // to <2x in bytes at sf<=0.01 — real fact rows carry payloads
      Tables.lineitem(s, d).select(
          when(col("l_orderkey") % 10 < 5, lit(0L))
            .otherwise(col("l_orderkey") % 25).as("k"),
          col("l_quantity"),
          md5(concat_ws("|", col("l_orderkey"), col("l_linenumber")))
            .as("payload"))
        .repartition(8)
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
      val built = graft.TempDirs.deleteOnExit(dir).getAbsolutePath
      Option(splitPath.putIfAbsent(key, built)).getOrElse(built)
    }
    Tables.read(s, p)
  }

  /** The 25-row aggregated customer dim, materialized to parquet once
    * per (app, dir). Materialized — not left as an inline Aggregate —
    * because OptimizeSkewedJoin only matches a sort-merge join whose
    * children are Sort-over-shuffle-stage; an aggregate BETWEEN shuffle
    * and join (which is what groupBy(k) directly under a join on k
    * plans to, the agg shuffle doubling as the join shuffle) hides the
    * stage and the rule skips the join. A real deployment's dim is a
    * stored table, which is exactly this. */
  private val dimSplitPath =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def custDim(s: SparkSession, d: String): DataFrame = {
    val key = s"${s.sparkContext.applicationId}/$d"
    val p = Option(dimSplitPath.get(key)).getOrElse {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q36_dim_").toFile
      Tables.customer(s, d)
        .groupBy((col("c_custkey") % 25).as("k"))
        .agg(count(lit(1)).as("n_cust"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
      val built = graft.TempDirs.deleteOnExit(dir).getAbsolutePath
      Option(dimSplitPath.putIfAbsent(key, built)).getOrElse(built)
    }
    Tables.read(s, p)
  }

  /** Confs under which AQE's OptimizeSkewedJoin fires at fixture scale,
    * restored after `f`. The thresholds exist so tiny skews aren't
    * worth splitting — at 100 TB the DEFAULTS (256 MB partition, 5×
    * median) catch exactly this hot-key shape; at fixture scale they
    * must be scaled down with the data or the rule (correctly) judges
    * every partition small. Broadcast is disabled because skew-join
    * handling only exists for joins where neither side broadcasts —
    * the conf models the target scale, as in
    * [[Bucketed.withBloomConfs]]. The window must cover EXECUTION (AQE
    * reads these while re-optimizing between stages), which is why
    * [[q36]] materializes inside it. As with [[Bucketed.withBloomConfs]]
    * the pins live on a CLONED session handed to `f`, so a concurrent
    * query on the parent session never inherits the tiny skew
    * thresholds or the disabled broadcast. */
  private[graft] def withAqeSkewConfs[T](s: SparkSession)(f: SparkSession => T): T = {
    // runtime conf deltas carried onto the clone — see
    // [[Sessions.cloneWithRuntimeConfs]]
    val ss = Sessions.cachedCloneWithRuntimeConfs(s, "aqe-skew")
    val pins = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    pins.foreach { case (k, v) => ss.conf.set(k, v) }
    f(ss)
  }

  /** The join q36 gates: the hot-keyed fact (half the rows on key 0)
    * against a 25-row aggregated customer dim, neither side
    * broadcastable under the conf window, so the hot key lands on one
    * sort-merge reduce partition — which AQE then SPLITS at map-output
    * boundaries, replicating the dim side's matching partition per
    * chunk (`skew=true` on the join, PlanSpec-asserted). This is the
    * AUTOMATIC counterpart of q22's manual salting: same pathology,
    * zero query rewrite, the lever you actually reach for first on a
    * 1000-executor cluster. */
  private[graft] def skewJoin(s: SparkSession, d: String): DataFrame =
    splitFact(s, d).hint("merge").join(custDim(s, d), "k")

  /** q36 — AQE skew-join split, oracle-checked: the split is pure
    * partitioning mechanics, so the result must equal the plain join
    * (same contract as q22's salt). Materializes inside the conf
    * window, as [[Bucketed.q35]] does and for the same reason. */
  def q36(s: SparkSession, d: String): DataFrame = withAqeSkewConfs(s) { ss =>
    // min(payload) forces the payload through the scan and the skewed
    // shuffle (column pruning would otherwise drop it at the source)
    val agg = skewJoin(ss, d)
      .groupBy("k", "n_cust")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        min(col("payload")).as("min_payload"))
    val rows = agg.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
  }

  val q36Sql: String =
    """SELECT k, n_cust, count(*) AS n_rows,
      |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
      |  min(payload) AS min_payload
      |FROM (SELECT CASE WHEN l_orderkey % 10 < 5 THEN 0
      |             ELSE l_orderkey % 25 END AS k, l_quantity,
      |             md5(concat_ws('|', l_orderkey, l_linenumber)) AS payload
      |      FROM lineitem)
      |JOIN (SELECT c_custkey % 25 AS k, count(*) AS n_cust
      |      FROM customer GROUP BY 1) USING (k)
      |GROUP BY k, n_cust""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q22_salted_join" -> (q22 _),
    "q36_aqe_skew_join" -> (q36 _),
  )

  val oracleSql: Map[String, String] = Map(
    "q22_salted_join" -> q22Sql,
    "q36_aqe_skew_join" -> q36Sql,
  )
}
