package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions=graft.GraftExtensions` makes a session being
  * built call `GraftExtensions.apply` on its extensions. A session built
  * in a JVM that already has one gets the existing session back, so this
  * calls `apply` directly; it lives in Spark's package because reading
  * the injected functions back (`registerFunctions`) is `private[sql]`. */
class GraftExtensionsApplySpec extends AnyFunSuite {

  test("apply injects all 15 functions") {
    val e = new SparkSessionExtensions
    new _root_.graft.GraftExtensions().apply(e)
    val registry = e.registerFunctions(new SimpleFunctionRegistry)
    assert(registry.listFunction().map(_.funcName).toSet == Set(
      "dot_product", "sorted_intersect_size", "md5_prefix60", "bigram_stats",
      "term_counts", "hll_sketch", "hll_registers", "hll_union", "cms_sketch",
      "cms_union", "topk_rows", "bottomk_sample", "bottomk_pairs",
      "bottomk_union", "bounded_set"))
    val built = registry.lookupFunction(FunctionIdentifier("md5_prefix60"),
      Seq(Literal(Array[Byte](1, 2))))
    assert(built.isInstanceOf[_root_.graft.functions.Md5Prefix60])
  }
}
