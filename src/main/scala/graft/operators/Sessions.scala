package graft.operators

import org.apache.spark.sql.SparkSession

/** Conf windows: the cloned-session helper for conf-window operators
  * (q35's bloom pins, q36's AQE skew pins), and [[withConfs]] for
  * windows set on the caller's own session (the streaming replays, the
  * events-fixture normalization). */
object Sessions {

  /** Run `f` with each `key -> value` set on `s`, then put every key
    * back as it was on EVERY exit, a throw from `f` included: a key
    * that was set gets its prior value, a key that was not set is
    * unset again (so it reads its default, not a pinned copy of it). */
  private[graft] def withConfs[T](s: SparkSession, kv: (String, String)*)(f: => T): T = {
    val set = s.conf.getAll
    val prev = kv.map { case (k, _) => k -> set.get(k) }
    try {
      kv.foreach { case (k, v) => s.conf.set(k, v) }
      f
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** `s.newSession()` plus the parent's RUNTIME SQLConf deltas.
    *
    * A bare `newSession()` inherits only builder-time (SparkConf)
    * settings; anything set via `s.conf.set(...)` at runtime — a
    * harness-applied shuffle-partition override, a timezone pin — would
    * be silently dropped inside the conf window, unlike the old
    * set/restore formulation which preserved them. Copying the parent's
    * conf map restores that behavior while keeping the window's
    * isolation (pins applied on the clone never leak to the parent).
    *
    * Static SQL confs (warehouse dir, extensions) cannot be set on a
    * live session; they are identical on the clone by construction
    * (same SparkContext), so the copy skips them. */
  private[graft] def cloneWithRuntimeConfs(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    syncConfs(s, ss)
    ss
  }

  /** Copy the parent's runtime conf deltas onto the clone, and CLEAR
    * any key set on the clone that the parent does not carry — a
    * reused cached clone must not inherit pins from its previous use
    * (a caller that pins conditionally, or two purposes sharing a
    * string, would otherwise silently see stale pins). Keys present
    * in both maps with equal values (builder-time confs, statics) are
    * untouched. */
  private def syncConfs(s: SparkSession, ss: SparkSession): Unit = {
    val parent = s.conf.getAll
    // Only a static/non-modifiable conf is skippable in either
    // direction (it is already equal on the clone — same SparkContext).
    // Any other failure is a genuinely dropped conf and must propagate.
    ss.conf.getAll.keysIterator
      .filterNot(parent.contains).foreach { k =>
        try ss.conf.unset(k)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "CANNOT_MODIFY_CONFIG" => ()
        }
      }
    parent.foreach { case (k, v) =>
      if (!ss.conf.getOption(k).contains(v)) {
        try ss.conf.set(k, v)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "CANNOT_MODIFY_CONFIG" => ()
        }
      }
    }
  }

  /** CACHED conf-window clone, keyed by (parent session, purpose).
    *
    * `newSession()` is not cheap when a query pays it per CALL: the
    * clone's SessionState (analyzer, optimizer, catalog, data-source
    * resolution caches) initializes from scratch and the first query
    * on it re-lists and re-infers every parquet relation — measured
    * ~1.1 s of the conf-window queries' per-run cost (q35/q36 build
    * phase, Bench trace). A conf window applies THE SAME pins on
    * every call, so the clone is reusable: reuse re-syncs the
    * parent's runtime conf deltas (a few hundred string compares,
    * ~ms) and the caller re-applies its pins on top, exactly as it
    * did on the fresh clone. Single-writer discipline matches the
    * call sites (harness queries run sequentially); the cache is
    * per-application and bounded by the number of distinct purposes. */
  private val cloneCache =
    new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()

  private[graft] def cachedCloneWithRuntimeConfs(
      s: SparkSession, purpose: String): SparkSession = {
    val key = s.sparkContext.applicationId + "::" +
      System.identityHashCode(s) + "::" + purpose
    val ss = cloneCache.computeIfAbsent(key, _ => s.newSession())
    syncConfs(s, ss)
    ss
  }
}
