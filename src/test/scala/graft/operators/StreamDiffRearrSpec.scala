package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** s19 and s24 — the streaming diff, one body over two fixtures.
  * s24 is the re-arrival-tolerant run. The CORRECTNESS gate
  * faces the DuckDB oracle; this suite pins the semantics the gate
  * cannot see from one run:
  *   - exactly ONE verdict per key (suppression actually suppresses);
  *   - the verdict set equals the Spark-built batch twin (first file
  *     wins, min content hash within the file);
  *   - re-arrivals really exist in the fixture (the gate is not
  *     vacuous) and their later copies did NOT decide the verdict.
  */
class StreamDiffRearrSpec extends SparkSpec {

  test("s24: one verdict per key; equals the first-arrival batch twin") {
    import graft.functions.PortableHash.h60
    val got = StreamingQueries.s24(spark, sf)
    val dups = got.groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dups == 0L, "re-arrival suppression must leave one verdict per key")

    // batch twin: rebuild the augmented crawl exactly as the replay
    // source does, resolve each key to its FIRST file's minimum-hash
    // copy, then diff against the snapshot
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val next = Diff.nextCrawl(docs)
    val aug = next
      .select(col("doc_id"), col("text"), pmod(col("doc_id"), lit(3)).as("b"))
      .unionByName(next
        .filter(col("doc_id") % 4 === 1 && pmod(col("doc_id"), lit(3)) < 2)
        .select(col("doc_id"), concat(col("text"), lit(" re")).as("text"),
          (pmod(col("doc_id"), lit(3)) + 1).as("b")))
      .unionByName(next.filter(col("doc_id") % 9 === 2)
        .select(col("doc_id"), concat(col("text"), lit(" dup")).as("text"),
          pmod(col("doc_id"), lit(3)).as("b")))
      .filter(col("text").isNotNull)
    val fb = aug.groupBy("doc_id").agg(min(col("b")).as("b0"))
    val res = aug.join(fb, Seq("doc_id"))
      .filter(col("b") === col("b0"))
      .select(col("doc_id"), h60(col("text")).as("hb"))
      .groupBy("doc_id").agg(min(col("hb")).as("hb"))
    val snap = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), h60(col("text")).as("h"))
    val want = snap.join(res, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h").isNull, "added")
          .when(col("hb").isNull, "removed")
          .when(col("h") === col("hb"), "unchanged")
          .otherwise("changed").as("status"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val gotSet = got.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gotSet == want)

    // non-vacuous: the fixture contains cross-batch re-arrivals AND
    // within-batch duplicates
    val reArr = next.filter(col("doc_id") % 4 === 1 &&
      pmod(col("doc_id"), lit(3)) < 2).count()
    val dupRows = next.filter(col("doc_id") % 9 === 2).count()
    assert(reArr > 0, "fixture must contain cross-batch re-arrivals")
    assert(dupRows > 0, "fixture must contain within-batch duplicates")
  }

  test("s19: one verdict per key; equals the batch corpus diff") {
    // s19 runs s24's body over a crawl in which no key arrives twice,
    // so its answer must be x69's plain diff of snapshot and crawl
    val got = StreamingQueries.s19(spark, sf)
    val dups = got.groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dups == 0L, "one verdict per key")
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val want = Diff.corpusDiff(docs, Diff.nextCrawl(docs))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val gotSet = got.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gotSet == want)
    // non-vacuous: every verdict kind occurs
    assert(gotSet.map(_._2) == Set("added", "removed", "changed", "unchanged"))
  }
}
