package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PCA has no SQL oracle (eigendecomposition), so the operator is
  * pinned by its algebraic invariants instead. */
class PcaSpec extends SparkSpec {

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum

  test("jacobi recovers a hand-built spectrum") {
    // A = Q diag(5, 2) Qᵀ with Q a 45° rotation
    val q = math.sqrt(2.0) / 2.0
    val a = Array(
      Array(5 * q * q + 2 * q * q, 5 * q * q - 2 * q * q),
      Array(5 * q * q - 2 * q * q, 5 * q * q + 2 * q * q))
    val (values, vectors) = Pca.jacobiEigen(a)
    assert(values.sorted.zip(Array(2.0, 5.0)).forall {
      case (got, want) => math.abs(got - want) < 1e-9 })
    // eigen residual: A v = λ v
    (0 until 2).foreach { c =>
      val v = Array(vectors(0)(c), vectors(1)(c))
      val av = Array(dot(a(0), v), dot(a(1), v))
      av.zip(v.map(_ * values(c))).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9) }
    }
  }

  test("fitted basis is orthonormal and captures the planted axis") {
    import spark.implicits._
    // points spread along direction (3,4)/5 in 4-d space plus a tiny
    // orthogonal wiggle: top component must align with the planted axis
    val axis = Array(0.6, 0.8, 0.0, 0.0)
    val rows = (0 until 200).map { i =>
      val t = (i % 21) - 10.0 // deterministic spread, mean 0
      val w = ((i % 7) - 3.0) * 0.01
      (i.toLong, Array(
        (t * axis(0) + w * 0.0).toFloat, (t * axis(1)).toFloat,
        (w * 1.0).toFloat, (5.0 + w).toFloat)) // constant-ish last dim
    }
    val df = rows.toDF("vec_id", "embedding")
    val m = Pca.fit(df, dim = 4)
    // orthonormal: BBᵀ = I
    (0 until 4).foreach { i =>
      (0 until 4).foreach { j =>
        val want = if (i == j) 1.0 else 0.0
        assert(math.abs(dot(m.basis(i), m.basis(j)) - want) < 1e-9,
          s"basis($i)·basis($j)")
      }
    }
    // eigenvalues descending and the top one dominates
    assert(m.eigenvalues.zip(m.eigenvalues.tail).forall {
      case (a, b) => a >= b - 1e-12 })
    assert(m.eigenvalues(0) > 0.99 * m.eigenvalues.sum)
    // the top component IS the planted axis (up to the canonical sign)
    val align = math.abs(dot(m.basis(0), axis))
    assert(align > 0.999, s"alignment $align")
    // total variance is preserved: Σλ = tr(C)
    val n = rows.length.toDouble
    val byDim = (0 until 4).map { d =>
      val xs = rows.map(_._2(d).toDouble)
      val mu = xs.sum / n
      xs.map(x => (x - mu) * (x - mu)).sum / n
    }
    assert(math.abs(m.eigenvalues.sum - byDim.sum) < 1e-6)
  }

  test("projection variance equals the eigenvalues, reconstruction exact at k=d") {
    import spark.implicits._
    val m = Pca.fit(graft.Tables.embeddings(spark, sf), dim = 64)
    val proj = Pca.project(graft.Tables.embeddings(spark, sf), m, k = 8)
      .select(col("vec_id"), col("projection"))
    val rows = proj.collect().map(_.getSeq[Double](1).toArray)
    val n = rows.length.toDouble
    (0 until 8).foreach { c =>
      val xs = rows.map(_(c))
      val mu = xs.sum / n
      val varc = xs.map(x => (x - mu) * (x - mu)).sum / n
      assert(math.abs(varc - m.eigenvalues(c)) <
        1e-6 * math.max(1.0, m.eigenvalues(c)),
        s"component $c variance $varc vs eigenvalue ${m.eigenvalues(c)}")
      // components are centered by construction
      assert(math.abs(mu) < 1e-9)
    }
  }

  test("x48 folds the embeddings in one job; an empty corpus gives no rows, fit still throws") {
    val (diag, jobs) = jobsDuring(Pca.x48(spark, sf))
    assert(jobs == 1)
    assert(diag.count() == 64)
    val dir = graft.TempDirs.deleteOnExit(
      java.nio.file.Files.createTempDirectory("graft_pca_empty_").toFile).getPath
    graft.Tables.embeddings(spark, sf).limit(0).write.parquet(s"$dir/embeddings.parquet")
    val (empty, emptyJobs) = jobsDuring(Pca.x48(spark, dir))
    assert(emptyJobs == 1)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("i", "mean_e4", "var_e4"))
    intercept[IllegalArgumentException](Pca.fit(graft.Tables.embeddings(spark, dir), 64))
  }
}
