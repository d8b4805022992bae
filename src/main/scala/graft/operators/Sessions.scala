package graft.operators

import org.apache.spark.sql.SparkSession

/** Conf windows: [[pinned]], the cloned session of the conf-window
  * operators (q35's bloom pins, q36's AQE skew pins, x14's AQE-off
  * window), and [[withConfs]] for windows set on the caller's own
  * session (the streaming replays, the events-fixture normalization). */
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

  private val cloneCache =
    new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()

  /** A conf-window session: `s`'s cached clone for `purpose` with the
    * parent's RUNTIME SQLConf deltas and then `pins` set on it.
    *
    * A bare `newSession()` (same SparkContext and warehouse, isolated
    * SQLConf) inherits only builder-time (SparkConf) settings; anything
    * set via `s.conf.set(...)` at runtime — a harness-applied
    * shuffle-partition override, a timezone pin — would be silently
    * dropped inside the conf window. Copying the parent's conf map keeps
    * them while keeping the window's isolation: a pin set on the clone
    * never reaches the parent. Static SQL confs (warehouse dir,
    * extensions) cannot be set on a live session; they are identical on
    * the clone by construction (same SparkContext), so the copy skips
    * them.
    *
    * The clone is CACHED, keyed by (parent session, purpose):
    * `newSession()` is not cheap when a query pays it per CALL — the
    * clone's SessionState (analyzer, optimizer, catalog, data-source
    * resolution caches) initializes from scratch and the first query on
    * it re-lists and re-infers every parquet relation, measured ~1.1 s
    * of the conf-window queries' per-run cost (q35/q36 build phase,
    * Bench trace). Reuse re-syncs the parent's runtime conf deltas (a
    * few hundred string compares, ~ms), which also clears a key the
    * previous use pinned, and sets `pins` on top. Single-writer
    * discipline matches the call sites (harness queries run
    * sequentially); the cache is per-application and bounded by the
    * number of distinct purposes. */
  private[graft] def pinned(s: SparkSession, purpose: String,
      pins: (String, String)*): SparkSession = {
    val key = s.sparkContext.applicationId + "::" +
      System.identityHashCode(s) + "::" + purpose
    val ss = cloneCache.computeIfAbsent(key, _ => s.newSession())
    syncConfs(s, ss)
    pins.foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }
}
