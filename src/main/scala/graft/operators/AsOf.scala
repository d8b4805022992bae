package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed AS-OF join — for every left row, the single right row
  * with the greatest timestamp at-or-before (or strictly before) the
  * left row's timestamp, per key. Spark has no native ASOF operator;
  * the engine expresses it as the classic union + per-key ordered
  * window: tag both sides, sort each key's rows by (ts, tag) so
  * visibility at equal timestamps encodes strictness, and carry the
  * last-seen right row forward with a running `last(..., ignoreNulls)`.
  *
  * Scale: ONE shuffle (hash on the key) and a per-key sort — no join
  * node, no range explosion, no per-row probing. This is the shape
  * that survives 100 TB: both inputs stream through the same exchange,
  * and AQE's skew handling applies to the single window shuffle. The
  * DuckDB oracle uses its native ASOF JOIN, pinning the semantics
  * (inner, greatest-prior, strictness) across engines.
  */
object AsOf {

  /** Generic library entry: left columns plus an `asof` struct holding
    * the matched right row (null when no prior right row exists).
    * `strict = true` matches rightTs < leftTs; false allows equality.
    * Right side should be unique per (key, ts) — pre-aggregate if not,
    * or the tie-winner among equal timestamps is unspecified.
    *
    * `leftTs`/`rightTs` are epoch-MS long columns, the same unit
    * contract as [[RangeJoin.rangeCount]]. TimestampType columns are
    * converted with `unix_millis` (a bare long cast would silently
    * yield SECONDS and mis-order against ms-based data). */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, strict: Boolean = true): DataFrame = {
    val rType = org.apache.spark.sql.types.StructType(right.schema.fields)
    def ms(df: DataFrame, c: String) = df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_millis(col(c))
      case _ => col(c).cast("long")
    }
    // at equal ts the row sorting FIRST is invisible to the other side:
    // strict => left first (left must not see same-ts right rows)
    val (lTag, rTag) = if (strict) (0, 1) else (1, 0)
    val l2 = left.select(
      col(key).as("__k"), ms(left, leftTs).as("__t"),
      lit(lTag).as("__tag"),
      struct(left.columns.map(col): _*).as("__l"),
      lit(null).cast(rType).as("__r"))
    val r2 = right.select(
      col(key).as("__k"), col(rightTs).cast("long").as("__t"),
      lit(rTag).as("__tag"),
      lit(null).cast(org.apache.spark.sql.types.StructType(left.schema.fields)).as("__l"),
      struct(right.columns.map(col): _*).as("__r"))
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.unionByName(r2)
      .withColumn("asof", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__l").isNotNull)
      .select(col("__l.*"), col("asof"))
  }

  /** Range-bucketed AS-OF join — same semantics and output shape as
    * [[asofJoin]], different physical plan. The union+window form
    * globally sorts EVERY row of both inputs inside one exchange; a
    * native engine's merge-based ASOF beats that easily. This form
    * replaces the global sort with hash work proportional to the data
    * plus a window over per-BUCKET summaries:
    *
    *  1. both sides get a coarse time bucket `__b = floor(ts / W)`;
    *  2. the right side is hash-aggregated per (key, bucket) into a
    *     ts-sorted array of its rows — the only pass over the full
    *     right side, a map-side-combinable aggregation, no sort
    *     exchange (arrays are bucket-sized, W is the knob);
    *  3. a window over (key, bucket) SUMMARIES — |distinct buckets|
    *     rows, not |rows| — carries the latest right row from
    *     strictly-earlier buckets to each left bucket (left entries
    *     order before same-bucket summaries, so equal buckets are
    *     invisible);
    *  4. each left row equi-joins its (key, bucket) to the combined
    *     per-bucket record: the in-bucket match is a binary-search-ish
    *     `array_max(filter(arr, ts < t))` over the sorted array, the
    *     cross-bucket match is the carried summary. Any in-bucket hit
    *     has ts ≥ bucket start > every earlier-bucket ts, so
    *     `coalesce(inBucket, carried)` is the as-of winner.
    *
    * Scale: the big sides see one hash aggregation (right) and one
    * equi-join shuffle (left) — both AQE-skew-splittable; nothing
    * global-sorts. `bucketMs` trades array length against summary
    * count: pick W ≈ span·keys/|right| so per-(key,bucket) occupancy
    * stays O(1..100); a hot key's oversized bucket degrades that one
    * array, not the plan. Right-row fields must be orderable (they
    * ride in sorted arrays), the same practical contract as the
    * union+window form's struct comparisons. */
  def asofJoinBucketed(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, strict: Boolean = true,
      bucketMs: Long = 86400000L): DataFrame = {
    require(bucketMs > 0, "bucketMs must be positive")
    def ms(df: DataFrame, c: String) = df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_millis(col(c))
      case _ => col(c).cast("long")
    }
    // floor division in pure integer arithmetic (sign-safe; a double
    // round-trip could misplace exact multiples by one bucket)
    def bucket(t: org.apache.spark.sql.Column) =
      (t - pmod(t, lit(bucketMs))) / lit(bucketMs)
    val l2 = left.select(
      col(key).as("__k"), ms(left, leftTs).as("__lt"),
      struct(left.columns.map(col): _*).as("__l"))
      .withColumn("__b", bucket(col("__lt")).cast("long"))
    val r2 = right.select(
      col(key).as("__k"), ms(right, rightTs).as("__t"),
      struct(right.columns.map(col): _*).as("__r"))
      .withColumn("__b", bucket(col("__t")).cast("long"))
    val rb = r2.groupBy(col("__k"), col("__b"))
      .agg(sort_array(collect_list(struct(col("__t"), col("__r")))).as("__arr"))
    // carried summary: latest right row in strictly-earlier buckets,
    // computed over bucket GRANULARITY (small), not row granularity
    val lb = l2.select(col("__k"), col("__b")).distinct()
      .withColumn("__side", lit(0))
      .withColumn("__s", lit(null).cast(rb.schema("__arr").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType))
    val rs = rb.select(col("__k"), col("__b"), lit(1).as("__side"),
      element_at(col("__arr"), -1).as("__s"))
    val w = Window.partitionBy(col("__k")).orderBy(col("__b"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = lb.unionByName(rs)
      .withColumn("__prev", last(col("__s"), ignoreNulls = true).over(w))
      .filter(col("__side") === 0)
      .select(col("__k"), col("__b"), col("__prev"))
    // one record per LEFT bucket: sorted in-bucket array + carry-in
    val perBucket = carried.join(rb, Seq("__k", "__b"), "left_outer")
    val inBucket = array_max(filter(col("__arr"),
      x => if (strict) x.getField("__t") < col("__lt")
           else x.getField("__t") <= col("__lt")))
    l2.join(perBucket, Seq("__k", "__b"), "inner")
      .withColumn("__best", coalesce(inBucket, col("__prev")))
      .select(col("__l.*"), col("__best.__r").as("asof"))
  }

  /** Event-time interval join: every left row paired with the right
    * rows sharing the key whose `rightTs` lies in the closed interval
    * [leftTs, leftTs + boundMs]. Both ts columns must be TimestampType
    * (event time). Works on batch AND streaming inputs with the same
    * plan; for stream-stream use, the caller puts a watermark on each
    * ts column first — the bounded predicate then lets Spark derive
    * eviction watermarks for both join buffers, so state is bounded by
    * the interval span (the s05 replay drives exactly that). The join
    * condition is side-qualified, so `leftKey == rightKey` (and any
    * other shared column names) analyze fine; the output is
    * left.* ++ right.* with Spark's usual duplicate-name caveat —
    * select through the same `l`/`r` qualifiers to disambiguate.
    *
    * `joinType` admits the outer variants: with "left_outer" a left row
    * with no in-interval match is emitted once with nulls on the right
    * — in streaming, that emission happens when the watermark passes
    * `leftTs + boundMs` (the row provably can no longer match), which
    * is the join-shaped form of the timeout alert (the s08 replay). */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String, boundMs: Long,
      joinType: String = "inner"): DataFrame = {
    val l = left.alias("l")
    val r = right.alias("r")
    l.join(r,
      col(s"l.$leftKey") === col(s"r.$rightKey") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") +
          expr(s"INTERVAL $boundMs MILLISECOND"),
      joinType)
  }

  // ---------------------------------------------------------------- x14
  /** Purchase attribution over the events stream: each `purchase` is
    * joined as-of to the user's latest strictly-prior non-purchase
    * event; ties at the prior timestamp resolve to the max event_type
    * (the same contract as pre-aggregating the right side).
    *
    * Because this is a SELF as-of (both sides derive from `events`),
    * the whole operator fuses into ONE window pass over the raw
    * table — no pre-aggregation shuffle, no union, no join. The sort
    * order (ts, isPurchase DESC, event_type) encodes the semantics
    * positionally: purchases sort BEFORE same-ts non-purchases (so a
    * running `last` over preceding rows never sees a simultaneous
    * event — strictness), and same-ts non-purchases sort ascending by
    * event_type (so the running last lands on the max — the
    * tie-break). One exchange + one per-key sort of the single input
    * is the minimum any engine pays here; the generic two-input forms
    * ([[asofJoin]], [[asofJoinBucketed]]) remain for distinct-table
    * inputs.
    *
    * GATED PLAN: the fused single-window form ([[x14Window]]). The
    * range-bucketed form ([[asofJoinBucketed]], via [[x14Bucketed]])
    * was TRIED as the gated plan this round on the bucket-probe-
    * beats-per-key-sort hypothesis and measured WORSE on this
    * fixture's shape at both scales — 2.0 vs ~1.4 s at sf0.1 and
    * 7.4 vs ~1.4 s at 10× (vs DuckDB's native ASOF at 0.35 s): with
    * few keys (150·SF users) and long per-key history, the fixture is
    * sort-friendly — one exchange + per-key merge beats three hash
    * stages whose per-(key, day) array aggregation re-materializes
    * the whole right side as structs. The bucketed form remains the
    * library's many-keys/short-history option, pinned equal on
    * adversarial inputs in AsOfSpec; both forms hash-gate identically
    * against DuckDB's native ASOF.
    *
    * RETIRED AS DOCUMENTED FLOOR (round 13): with both formulations
    * measured and committed, the residual gap vs DuckDB is the cost
    * of expressing as-of through a window versus a NATIVE merge-ASOF
    * operator — a formulation floor, not a plan defect (BASELINE.md
    * "Per-query floor notes"). Absolute cost ~2 s at sf0.1, linear
    * growth; not carried as an open perf item. */
  def x14(s: SparkSession, d: String): DataFrame = x14Window(s, d)

  /** The bucketed-plan variant of x14 (kept callable for measurement;
    * see the gated-plan note above). */
  def x14Bucketed(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_millis(col("ts")).as("tms"), col("event_type"))
    val right = ev.filter(col("event_type") =!= "purchase")
      .groupBy(col("user_id"), col("tms"))
      .agg(max(col("event_type")).as("event_type"))
    val left = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tms"))
    asofJoinBucketed(left, right, "user_id", "tms", "tms", strict = true)
      .filter(col("asof").isNotNull)
      .select(col("user_id"), col("tms").as("purchase_ms"),
        col("asof.event_type").as("prior_event_type"),
        col("asof.tms").as("prior_ms"),
        (col("tms") - col("asof.tms")).as("gap_ms"))
  }

  /** The fused single-window self-ASOF form (the gated plan). AQE is
    * pinned OFF (a [[Sessions.pinned]] clone): the plan is a single
    * hash exchange feeding a window, and AQE's only lever on that shape
    * is bytes-based partition coalescing — which folds the CPU-bound
    * per-key sort into a handful of tasks
    * (measured: the 10× window collapsed to one ~20 MB partition,
    * 2.4× slower), while AQE's actual value (join re-plans, skew
    * splits) has no join to act on and cannot split a window
    * exchange. */
  def x14Window(s: SparkSession, d: String): DataFrame = {
    // With AQE pinned off, the window's one exchange would inherit the
    // session's static (core-count) partition count — 32 near-empty
    // sorts under a ~2 MB input at bench scale (r14 scaling table: the
    // 8-core run beat the 32-core run 2x on this row). Size it from
    // the input instead: ~256 KB of compressed events per partition
    // reproduces the measured-good counts at BOTH scales (sf0.1 -> 8,
    // the 10x rehearsal -> ~80 >= the core count that was measured
    // good there). Partition count never changes the result. The count
    // is memoized per (app, dir): the sizing itself reads the parquet
    // footer + file listing (~0.2 s), which would otherwise erase the
    // saving on every call.
    val parts = x14PartsCache.computeIfAbsent(
      s.sparkContext.applicationId + "::" + d,
      _ => graft.Tables.bytesScaledPartitions(
        graft.Tables.events(s, d), 256L << 10))
    x14WindowPlan(Sessions.pinned(s, "x14-window",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> parts.toString), d)
  }

  private val x14PartsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def x14WindowPlan(s: SparkSession, d: String): DataFrame = {
    val tagged = Tables.events(s, d).select(
      col("user_id"), unix_millis(col("ts")).as("tms"),
      (col("event_type") === "purchase").as("isP"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tms"), col("isP").desc, col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("prior", last(
        when(!col("isP"), struct(col("tms"), col("event_type"))),
        ignoreNulls = true).over(w))
      .filter(col("isP") && col("prior").isNotNull)
      .select(col("user_id"), col("tms").as("purchase_ms"),
        col("prior.event_type").as("prior_event_type"),
        col("prior.tms").as("prior_ms"),
        (col("tms") - col("prior.tms")).as("gap_ms"))
  }

  val x14Sql: String =
    """WITH ev AS (SELECT user_id, ts, max(event_type) AS prior_event_type
      |            FROM events WHERE event_type <> 'purchase' GROUP BY user_id, ts),
      |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT p.user_id, p.ts AS pts, e.prior_event_type, e.ts AS ets
      |      FROM p ASOF JOIN ev e ON p.user_id = e.user_id AND p.ts > e.ts)
      |SELECT user_id, epoch_ms(pts) AS purchase_ms, prior_event_type,
      |       epoch_ms(ets) AS prior_ms, epoch_ms(pts) - epoch_ms(ets) AS gap_ms
      |FROM j""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x14_asof_join" -> (x14 _),
  )

  val oracleSql: Map[String, String] = Map(
    "x14_asof_join" -> x14Sql,
  )
}
