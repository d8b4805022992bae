package graft

/** Structural plan audit: for every batch query in the driver contract,
  * count the physical-plan features that decide 100 TB behavior —
  * shuffle exchanges, broadcast exchanges, whole-stage-codegen spans,
  * top-k fusion, and any nested-loop/cartesian joins — and write the
  * table to PLANS.md. PlanSpec guards the critical per-query
  * properties; this audit makes the whole surface reviewable at a
  * glance and catches a regression in ANY query, not just the guarded
  * ones (the only sanctioned nested-loop is x06's deliberate
  * brute-force ANN baseline).
  *
  * Streaming replays (s01..s04) are excluded: building their DataFrame
  * executes the replay, and their scale contract (bounded state,
  * watermarking) is covered by the streaming suites instead.
  */
object PlanAudit {

  /** Queries whose plan is ALLOWED to contain a nested-loop join, and
    * why the nested loop is the right plan at scale. */
  private val nestedLoopSanctioned = Map(
    "x06_ann_brute" ->
      "exact all-pairs baseline; broadcast query side is the point",
    "q09_subquery_avg" ->
      "scalar subquery: the build side is ONE aggregated row",
    "x45_bigram_lm" ->
      "vocabulary-size attach: broadcast cross join of ONE aggregated row",
    "x49_bm25_topk" ->
      "BM25 corpus stats (N, Σdl, df_t): broadcast cross join of ONE aggregated row",
    "x53_mixture_sample" ->
      "mixture totals (T, W): ONE aggregated row attached to the |sources|-row stats frame",
    "x36_unigram_score" ->
      "corpus token total: ONE aggregated row attached to the |vocab|-row frequency frame (replaced the no-partition vocab window)",
    "x57_training_assembly" ->
      "inherits x53's mixture-totals attach: ONE aggregated row onto the |sources|-row stats frame",
    "x63_hybrid_rrf" ->
      "inherits x49's 1-row stats attach plus the x06 idiom: the ONE-row query vector broadcast onto the streaming corpus",
    "x65_sketch_jaccard" ->
      "all-pairs compare of the |sources|-row SKETCH table (16·k-byte rows): both sides driver-sized by construction, the x06 broadcast idiom",
    "x69_corpus_diff" ->
      "max(doc_id)+1 addition offset: ONE aggregated row broadcast onto the re-ingested slice",
    // x66/x71 left this list in round 11: the per-round winning-pair
    // attach became a driver-held literal fold (the x12 model
    // discipline), so no join of any kind remains in their plans.
  )

  /** Plan features counted over the TREE (not the rendered string,
    * which inlines cached plans and truncates deep trees — both of
    * which corrupt counts): the audited plan PLUS every distinct
    * cached-relation build plan reachable from it, recursively. A
    * persisted intermediate would otherwise hide its upstream exchanges
    * (and any nested-loop join!) behind an InMemoryTableScan. Relations
    * are deduped by identity — one persisted signature relation scanned
    * from both sides of a band join is one build, not two. */
  private[graft] case class PlanFeatures(shuffles: Int, bcasts: Int,
      codegen: Int, nlj: Int, topk: Boolean, cachedBuilds: Int,
      ckptTruncated: Boolean)

  private[graft] def planFeatures(
      root: org.apache.spark.sql.execution.SparkPlan): PlanFeatures = {
    import org.apache.spark.sql.execution._
    // identity semantics, not identityHashCode (31-bit, can collide and
    // would silently drop a distinct cached build from the audit)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def cachedPlans(p: SparkPlan): Seq[SparkPlan] = {
      val fresh = p.collect {
        case s: columnar.InMemoryTableScanExec => s.relation
      }.filter(seen.add(_)).map(_.cachedPlan)
      fresh ++ fresh.flatMap(cachedPlans)
    }
    val cached = cachedPlans(root)
    val all = root +: cached
    def count(pf: PartialFunction[SparkPlan, Unit]): Int =
      all.map(_.collect(pf).size).sum
    PlanFeatures(
      shuffles = count {
        case e: exchange.ShuffleExchangeExec
          if e.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => ()
      },
      bcasts = count { case _: exchange.BroadcastExchangeExec => () },
      codegen = count { case _: WholeStageCodegenExec => () },
      nlj = count {
        case _: joins.CartesianProductExec => ()
        case _: joins.BroadcastNestedLoopJoinExec => ()
      },
      topk = all.exists(_.collectFirst {
        case _: TakeOrderedAndProjectExec => () }.nonEmpty),
      cachedBuilds = cached.size,
      // an RDD scan (localCheckpoint/checkpoint) has no child plan: its
      // upstream cost is structurally unrecoverable — a lower bound
      ckptTruncated = all.exists(_.collectFirst {
        case r: RDDScanExec => r }.nonEmpty))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.start()
    // static plans: AQE's pre-execution explain hides codegen stage
    // markers and can re-plan exchanges at runtime — the audit wants
    // the deterministic Catalyst output
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      // every streaming replay (s01..s11): their gated result is a
      // post-replay scan/local relation, so a batch-plan row would
      // audit nothing — their kernels are audited by the streaming
      // suites and the PlanSpec un-truncated-kernel tests instead
      .filterNot(_._1.matches("^s\\d.*"))
      // q35/q36 materialize inside their conf windows for the same
      // reason (the optimizer rules they gate read conf at
      // optimize/execute time), so their audited plan would also be a
      // blind LocalTableScan — their join subtrees are plan-asserted
      // by PlanSpec INSIDE the conf windows instead
      .filterNot(n => n._1 == "q35_runtime_bloom" || n._1 == "q36_aqe_skew_join")
      .map { case (name, fn) =>
        val f = planFeatures(fn(spark, sfDir).queryExecution.executedPlan)
        val topk = if (f.topk) "✓" else ""
        val flag =
          if (f.nlj > 0 && !nestedLoopSanctioned.contains(name)) "NESTED-LOOP!"
          else if (f.nlj > 0) "sanctioned-nl"
          else ""
        val cachedNote =
          if (f.cachedBuilds > 0) s" (+${f.cachedBuilds} cached)" else ""
        // checkpointed lineage is UNRECOVERABLE from the plan tree (an
        // RDD scan has no child plan): mark those rows as lower bounds
        // instead of silently blessing them; their per-pass kernel is
        // separately audited un-truncated in PlanSpec.
        val ckpt =
          if (f.ckptTruncated) " (ckpt-truncated: lower bound)" else ""
        (name, f.shuffles, f.bcasts, f.codegen, topk,
          flag + cachedNote + ckpt)
      }

    val bad = rows.filter(_._6 == "NESTED-LOOP!")
    val md = new StringBuilder
    md ++= "# PLANS — structural audit of every batch query\n\n"
    md ++= s"Generated by `graft.PlanAudit` on `$sfDir`. Columns: shuffle\n"
    md ++= "exchanges / broadcast exchanges / whole-stage-codegen spans in\n"
    md ++= "the physical plan (pre-AQE), top-k fusion, and a flag if a\n"
    md ++= "nested-loop or cartesian join appears anywhere. The audit walks\n"
    md ++= "INTO cached relations (recursively, deduped by identity), so a\n"
    md ++= "persisted intermediate cannot hide its upstream exchanges — a\n"
    md ++= "`(+N cached)` note marks rows counting N cached builds.\n"
    md ++= "Sanctioned nested loops:\n\n"
    nestedLoopSanctioned.toSeq.sortBy(_._1).foreach { case (k, why) =>
      md ++= s"- `$k` — $why\n"
    }
    md ++= "\nStreaming replays are audited by their own suites, not here.\n\n"
    md ++= "| query | shuffles | broadcasts | codegen spans | top-k | flag |\n"
    md ++= "|---|---|---|---|---|---|\n"
    rows.foreach { case (name, s, b, c, t, f) =>
      md ++= s"| $name | $s | $b | $c | $t | $f |\n"
    }
    md ++= s"\n${rows.size} batch queries audited; "
    md ++= (if (bad.isEmpty) "no unsanctioned nested-loop joins.\n"
            else s"UNSANCTIONED NESTED LOOPS: ${bad.map(_._1).mkString(", ")}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), md.toString)
    spark.stop()
    println(s"wrote $out; unsanctioned nested loops: ${bad.size}")
    if (bad.nonEmpty) sys.exit(1)
  }
}
