package graft.operators

import graft.Tables
import graft.sources.ParquetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout techniques, both gated end-to-end:
  *
  * Bucketed zero-shuffle join (q23) — the decisive 100 TB repeated-join
  * technique (SURVEY §4): pay the shuffle ONCE at write time
  * (`bucketBy` on the join key, both sides, same bucket count), then
  * every subsequent equi-join on that key reads co-partitioned bucket
  * files and joins with NO exchange at all. At 100 TB this converts a
  * per-query two-sided shuffle of the fact table into a one-time
  * layout cost amortized over every join that follows.
  *
  * Partition-pruned scan (q24) — the reference's secondary indexes
  * (A15, idx_messages_status) re-expressed as directory layout: write
  * partitioned by the hot filter column and an equality predicate
  * never opens non-matching directories (PartitionFilters in the scan,
  * zero rows read from other partitions) — the columnar analogue of an
  * index seek, and the first pruning lever at 100 TB.
  */
object Bucketed {

  private[graft] val NBuckets = 8

  /** Write both sides bucketed on the join key (the one-time layout
    * pass) and return the bucket-scan relations. Catalog table names
    * are caller-scoped; SaveMode.Overwrite makes re-runs idempotent. */
  def writeBucketedPair(s: SparkSession, left: DataFrame, leftTable: String,
      leftKey: String, right: DataFrame, rightTable: String,
      rightKey: String, nBuckets: Int = NBuckets)
      : (DataFrame, DataFrame) = {
    ParquetStore.writeBucketed(left, leftTable, leftKey, nBuckets)
    ParquetStore.writeBucketed(right, rightTable, rightKey, nBuckets)
    (s.table(leftTable), s.table(rightTable))
  }

  /** The join both bucket scans feed — exposed separately so PlanSpec
    * can assert the exchange-free shape of the JOIN subtree itself
    * (the aggregation above it legitimately shuffles on its own key). */
  def bucketedJoin(cust: DataFrame, ord: DataFrame): DataFrame =
    // merge hint: at fixture scale the planner would broadcast the
    // small side, bypassing the bucket layout entirely; at the target
    // scale NEITHER side is broadcastable — the hint pins the plan
    // shape bucketing exists for (exchange-free sort-merge on buckets)
    cust.hint("merge").join(ord, cust("c_custkey") === ord("o_custkey"))

  /** One bucketed layout per (session, source dir) — the write is the
    * ONE-TIME cost the technique amortizes over every subsequent join,
    * so repeated q23 calls (the bench's interleaved rounds, verify
    * re-runs) pay it once and measure the join, exactly the production
    * read pattern. Table names are suffixed per source dir so scale
    * factors never cross-contaminate. The write block is synchronized
    * (TrieMap.getOrElseUpdate does not make a side-effecting builder
    * atomic; two threads would race the DROP/delete/save sequence on
    * identical names); SEPARATE drivers sharing one warehouse still
    * must not run this concurrently — same single-writer caveat as
    * every plain-parquet path in [[graft.sources.ParquetStore]]. */
  private val written = scala.collection.mutable.Map[String, (String, String)]()

  private def bucketedTables(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val suffix = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(d).toLong & 0xffffffffL)
    val (ct, ot) = written.synchronized {
      written.getOrElseUpdate(s"${s.sparkContext.applicationId}/$d", {
        val names = (s"g23_customer_bkt_$suffix", s"g23_orders_bkt_$suffix")
        ParquetStore.writeBucketed(
          Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
          names._1, "c_custkey", NBuckets)
        ParquetStore.writeBucketed(
          Tables.orders(s, d).select("o_custkey", "o_orderkey"),
          names._2, "o_custkey", NBuckets)
        names
      })
    }
    (s.table(ct), s.table(ot))
  }

  /** q23 — customer ⋈ orders through the bucketed layout, aggregated to
    * a stable integer-only result. The oracle runs the plain join on
    * the raw parquet: identical output proves the bucketed path is a
    * pure layout change, and PlanSpec proves it joins with zero
    * exchanges. */
  def q23(s: SparkSession, d: String): DataFrame = {
    val (cust, ord) = bucketedTables(s, d)
    bucketedJoin(cust, ord)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("sum_okey"))
  }

  val q23Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** One partitioned layout per (session, source dir), mirroring
    * [[bucketedTables]]' amortization — including its synchronization:
    * TrieMap.getOrElseUpdate does not make the side-effecting
    * writePartitioned atomic, and two concurrent q24 calls would race
    * SaveMode.Overwrite's delete-and-write on the same directory. */
  private val writtenPart = scala.collection.mutable.Map[String, String]()

  /** Orders laid out as o_orderstatus=X directories under /tmp. The
    * read-back pins the writer's schema explicitly: a partitioned
    * layout of an EMPTY relation has no `status=X` directories to
    * infer from (degenerate-corpus sweep), and at scale an explicit
    * schema also skips the footer-sampling inference pass. */
  private[graft] def partitionedOrders(s: SparkSession, d: String): DataFrame = {
    val src = Tables.orders(s, d).select("o_orderkey", "o_custkey",
      "o_orderpriority", "o_orderstatus")
    val path = writtenPart.synchronized {
      writtenPart.getOrElseUpdate(
        s"${s.sparkContext.applicationId}/$d", {
          val suffix = java.lang.Long.toHexString(
            scala.util.hashing.MurmurHash3.stringHash(d).toLong & 0xffffffffL)
          val p = s"${System.getProperty("java.io.tmpdir")}/graft_q24_$suffix"
          ParquetStore.writePartitioned(src, p, "o_orderstatus")
          p
        })
    }
    s.read.schema(src.schema).parquet(path)
  }

  /** The pruned scan q24 aggregates — exposed for PlanSpec to assert
    * the predicate lands in PartitionFilters (directory pruning), not
    * a row-level filter. */
  def prunedScan(s: SparkSession, d: String): DataFrame =
    partitionedOrders(s, d).filter(col("o_orderstatus") === "F")

  /** q24 — equality filter served by partition pruning. The oracle
    * aggregates the raw parquet with a row filter: identical output
    * proves the partitioned layout is a pure access-path change. */
  def q24(s: SparkSession, d: String): DataFrame =
    prunedScan(s, d)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("sum_okey"))

  val q24Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority""".stripMargin

  /** The tiny status dimension q33 filters: phase is the "user-facing"
    * attribute, status the physical partition key. Written to parquet
    * once per app (not kept as an inline relation) because Catalyst's
    * ConvertToLocalRelation folds a filtered LocalRelation into a bare
    * one BEFORE the PartitionPruning rule runs — the selective filter
    * disappears from the plan and DPP never fires. A file-backed dim is
    * also the honest shape: at scale dimensions live in storage. */
  private val dimPath =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def statusDim(s: SparkSession): DataFrame = {
    import s.implicits._
    // build OUTSIDE any lock: the write is a Spark job and must not
    // serialize unrelated concurrent callers behind it. Two racing
    // first-callers may both build; putIfAbsent picks one winner and
    // the loser's dir is just an extra JVM-exit cleanup entry.
    val key = s.sparkContext.applicationId
    val p = Option(dimPath.get(key)).getOrElse {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_statusdim_").toFile
      Seq(("F", "closed"), ("O", "open"), ("P", "pending"))
        .toDF("status", "phase")
        .coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val built = graft.TempDirs.deleteOnExit(dir).getAbsolutePath
      Option(dimPath.putIfAbsent(key, built)).getOrElse(built)
    }
    Tables.read(s, p)
  }

  /** q33 — DYNAMIC partition pruning: the filter is on the dimension's
    * `phase` column, not the fact's partition key, so static pruning
    * (q24) cannot apply — at planning time nothing constrains
    * o_orderstatus. Spark inserts a DynamicPruningExpression on the
    * fact scan's PartitionFilters that reuses the broadcast of the
    * filtered dim, so only the surviving status directories are read.
    * THE 100 TB pattern: fact tables are date/category-partitioned and
    * every realistic predicate arrives via a dimension, not the raw
    * partition column. PlanSpec asserts the dynamicpruning filter is
    * really present in the scan. */
  def q33(s: SparkSession, d: String): DataFrame =
    partitionedOrders(s, d)
      .join(statusDim(s).filter(col("phase") === "closed"),
        col("o_orderstatus") === col("status"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("sum_okey"))

  val q33Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey
      |FROM orders
      |JOIN (VALUES ('F', 'closed'), ('O', 'open'), ('P', 'pending'))
      |  AS dim(status, phase)
      |ON o_orderstatus = status
      |WHERE phase = 'closed'
      |GROUP BY o_orderpriority""".stripMargin

  /** A table whose schema EVOLVED between writer generations: the first
    * writer knew (o_orderkey, o_custkey, o_totalprice); a later writer
    * appended files that also carry o_orderstatus. One directory, two
    * footer schemas — the normal state of any long-lived ingestion
    * path. Split parity on the unique key so both generations exist at
    * every scale factor. */
  private val evolPath =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def evolvedOrders(s: SparkSession, d: String): DataFrame = {
    // same build-outside-lock + putIfAbsent discipline as statusDim:
    // each racing builder writes its own fresh temp dir, so a losing
    // duplicate can never interleave files with the winner
    val key = s"${s.sparkContext.applicationId}/$d"
    val p = Option(evolPath.get(key)).getOrElse {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_evolve_").toFile
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .write.mode("append").parquet(dir.getAbsolutePath)
      val built = graft.TempDirs.deleteOnExit(dir).getAbsolutePath
      Option(evolPath.putIfAbsent(key, built)).getOrElse(built)
    }
    // mergeSchema reconciles the two footer generations into the union
    // schema; old-generation rows read the missing column as NULL. The
    // per-file footer merge is a planning-time cost proportional to
    // file count, not data — the schema-drift answer for a path whose
    // writers upgraded mid-stream.
    s.read.option("mergeSchema", "true").parquet(p)
  }

  /** q34 — schema-evolution read: aggregate over the merged relation;
    * the oracle reconstructs the same view from the ORIGINAL table
    * (parity decides which generation a row came from), so the gate
    * proves the evolved read neither loses rows nor invents values. */
  def q34(s: SparkSession, d: String): DataFrame =
    evolvedOrders(s, d)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))

  val q34Sql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
      |  ELSE o_orderstatus END AS status,
      |  count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders GROUP BY 1""".stripMargin

  /** Confs under which the optimizer injects a runtime bloom filter
    * (InjectRuntimeFilter) for q35, restored after `f`. The two
    * thresholds exist to stop tiny-scan injections that cannot pay for
    * themselves — at 100 TB the DEFAULTS (application scan > 10 GB,
    * creation side < 10 MB) fire on exactly this query shape; at
    * fixture scale they must be widened or the rule (correctly) judges
    * the scan too small to bother. The conf window must cover
    * OPTIMIZATION, not just construction, which is why [[q35]]
    * materializes inside it. The pins live on a CLONED session
    * (`newSession`: same SparkContext and warehouse, isolated SQLConf),
    * handed to `f` — a concurrent query planned on the parent session
    * during the window keeps its broadcast joins; nothing global is
    * mutated, so no restore is needed. Builder-time `spark.sql.*`
    * settings (shuffle partitions etc.) live in the SparkConf and so
    * carry over to the clone. */
  private[graft] def withBloomConfs[T](s: SparkSession)(f: SparkSession => T): T = {
    // clone carries the parent's RUNTIME conf deltas too (a bare
    // newSession inherits only builder-time SparkConf settings — a
    // harness-applied runtime override would silently vanish here)
    val ss = Sessions.cachedCloneWithRuntimeConfs(s, "runtime-bloom")
    val pins = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "64MB",
      // the rule only fires on a PROBABLY-SHUFFLE join, decided by size
      // (hints are only consulted for broadcast): at fixture scale both
      // sides fit the broadcast threshold, so model the target scale —
      // where neither side broadcasts — explicitly
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    pins.foreach { case (k, v) => ss.conf.set(k, v) }
    f(ss)
  }

  /** The join q35 gates: big fact (lineitem) ⋈ selectively-filtered
    * orders. The merge hint pins the shuffle-join shape the technique
    * exists for — at the target scale neither side broadcasts, and
    * InjectRuntimeFilter only pays off when the application side
    * shuffles. Under [[withBloomConfs]] the optimizer builds a bloom
    * filter over the surviving o_orderkey set (a `bloom_filter_agg`
    * subquery on the creation side) and applies
    * `bloom_filter_might_contain(l_orderkey)` INSIDE the fact scan's
    * filter — rows of the 100 TB side that cannot join are dropped at
    * the scan, before the shuffle, the row-level analogue of q33's
    * directory-level dynamic pruning. */
  private[graft] def bloomJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_returnflag", "l_quantity")
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    li.hint("merge").join(urgent, col("l_orderkey") === col("o_orderkey"))
  }

  /** q35 — runtime bloom-filter join pruning, gated end-to-end: the
    * oracle runs the plain join, so identical output proves the
    * injected filter is a pure access-path change (no row the bloom
    * passes is double-counted, none it should pass is dropped). The
    * aggregate materializes inside the conf window because the
    * InjectRuntimeFilter rule reads its confs at optimization time —
    * returning a lazy plan and restoring the confs would silently
    * optimize WITHOUT the filter (the streaming replays set the same
    * precedent for returning a computed result). PlanSpec asserts the
    * bloom is really in the executed plan and that the conf-off twin
    * matches. */
  def q35(s: SparkSession, d: String): DataFrame = withBloomConfs(s) { ss =>
    val agg = bloomJoin(ss, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_quantity") * 100, 0).cast("long")).as("qty_cents"))
    val rows = agg.collect()
    // materialized under the clone's confs; handed back on the caller's
    // session so downstream writes see the caller's settings
    s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
  }

  val q35Sql: String =
    """SELECT l_returnflag, count(*) AS n_items,
      |  CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS qty_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q23_bucketed_join" -> (q23 _),
    "q24_partition_prune" -> (q24 _),
    "q33_dynamic_prune" -> (q33 _),
    "q34_schema_evolution" -> (q34 _),
    "q35_runtime_bloom" -> (q35 _),
  )

  val oracleSql: Map[String, String] = Map(
    "q23_bucketed_join" -> q23Sql,
    "q24_partition_prune" -> q24Sql,
    "q33_dynamic_prune" -> q33Sql,
    "q34_schema_evolution" -> q34Sql,
    "q35_runtime_bloom" -> q35Sql,
  )
}
