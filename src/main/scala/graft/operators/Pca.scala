package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PCA over the embedding corpus, built on the distributed second-moment
  * machinery ([[Similarity.gramMatrix]]'s fold): one pass computes
  * (count, mean, Gram) with per-partition accumulators, the d×d
  * covariance is eigendecomposed ON THE DRIVER (Jacobi rotations — the
  * model is d²-bounded and corpus-size-independent, exactly the k-means
  * centroid shape MLlib uses), and the top-k basis is broadcast back
  * into a narrow projection expression.
  *
  * No SQL oracle exists for an eigendecomposition directly, but the
  * eigensystem is still CORRECTNESS-gated through x48: the covariance
  * diagonal RECONSTRUCTED from the full eigensystem (Σ_c λ_c·b_ci²)
  * must match DuckDB's var_pop per dimension — a wrong eigenvalue,
  * basis vector, or moment fold breaks the reconstruction. The purely
  * algebraic invariants (orthonormal basis, eigen residual, projection
  * reconstruction) stay spec-pinned in PcaSpec.
  */
object Pca {

  /** Eigenvectors (rows) and eigenvalues of the covariance, descending,
    * ties broken by original index for determinism. */
  final case class PcaModel(mean: Array[Double], eigenvalues: Array[Double],
      basis: Array[Array[Double]])

  /** One distributed pass: per-partition (n, Σv, Σv·vᵀ) folds, reduced
    * on the driver into the model. The reduce moves partitions·(d²+d)
    * doubles — the same scale posture as gramMatrix, independent of
    * corpus size. */
  def fit(embs: DataFrame, dim: Int): PcaModel = {
    val (n, sums, gram) = moments(embs, dim)
    require(n > 0, "pca.fit on an empty corpus")
    modelOf(n, sums, gram, dim)
  }

  /** The moment fold of [[fit]] in one job: (n, Σv, Σv·vᵀ). An empty
    * corpus gives n = 0 and zero sums. */
  private def moments(embs: DataFrame,
      dim: Int): (Long, Array[Double], Array[Double]) = {
    val s = embs.sparkSession
    import s.implicits._
    embs
      .select(col("embedding").cast("array<float>")).as[Array[Float]]
      .mapPartitions { it =>
        var n = 0L
        val sum = new Array[Double](dim)
        val g = new Array[Double](dim * dim)
        while (it.hasNext) {
          Similarity.accumulateMoments(it.next(), dim, sum, g)
          n += 1
        }
        Iterator.single((n, sum, g))
      }
      .collect()
      .foldLeft((0L, new Array[Double](dim), new Array[Double](dim * dim))) { (a, b) =>
        val (na, sa, ga) = a; val (nb, sb, gb) = b
        var i = 0
        while (i < dim) { sa(i) += sb(i); i += 1 }
        i = 0
        while (i < dim * dim) { ga(i) += gb(i); i += 1 }
        (na + nb, sa, ga)
      }
  }

  /** The model of a nonempty moment fold: covariance, Jacobi
    * eigensystem, descending order, canonical signs. */
  private def modelOf(n: Long, sums: Array[Double], gram: Array[Double],
      dim: Int): PcaModel = {
    val mean = sums.map(_ / n)
    // covariance C = G/n - mean meanᵀ (symmetrize from the upper fold)
    val c = Array.ofDim[Double](dim, dim)
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val v = gram(i * dim + j) / n - mean(i) * mean(j)
        c(i)(j) = v; c(j)(i) = v
        j += 1
      }
      i += 1
    }
    val (values, vectors) = jacobiEigen(c)
    // descending eigenvalue, index tie-break; flip each vector to a
    // canonical sign (first nonzero component positive) so the basis is
    // deterministic — eigenvectors are only defined up to sign
    val order = values.zipWithIndex.sortBy { case (v, ix) => (-v, ix) }
    val eigenvalues = order.map(_._1)
    val basis = order.map { case (_, ix) =>
      val v = vectors.map(_(ix))
      val firstNz = v.find(math.abs(_) > 1e-12).getOrElse(1.0)
      if (firstNz < 0) v.map(-_) else v
    }
    PcaModel(mean, eigenvalues, basis)
  }

  /** Cyclic Jacobi for a symmetric matrix: rotate away the largest
    * off-diagonal entries until convergence. O(d³) per sweep on a
    * d×d DRIVER-SIDE matrix — never distributed, never data-sized. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
      maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    // converge the off-diagonal mass to machine precision RELATIVE to
    // the matrix scale: Jacobi is quadratically convergent, so the last
    // sweeps are nearly free and the eigen residual ends ~sqrt(eps)·‖A‖
    // tighter than a fixed absolute cutoff would leave it
    val scale = math.max(1e-300, offDiag(a) +
      (0 until d).map(i => a(i)(i) * a(i)(i)).sum)
    var off = offDiag(a)
    while (off > 1e-26 * scale && sweep < maxSweeps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val cth = 1.0 / math.sqrt(t * t + 1.0)
            val sth = t * cth
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = cth * akp - sth * akq
              a(k)(q) = sth * akp + cth * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = cth * apk - sth * aqk
              a(q)(k) = sth * apk + cth * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = cth * vkp - sth * vkq
              v(k)(q) = sth * vkp + cth * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    s
  }

  /** Project embeddings onto the model's top-k components: mean-center,
    * then k dot products per row against the broadcast literal basis —
    * a narrow codegen'd expression, no shuffle, no UDF. */
  def project(embs: DataFrame, model: PcaModel, k: Int): DataFrame = {
    require(k >= 1 && k <= model.basis.length, s"k=$k out of range")
    // public facade API (Graft.pcaProject): adding the output column
    // must never silently clobber caller data, and the internal
    // staging column must not collide with caller columns either
    require(!embs.columns.contains("projection"),
      "input already has a 'projection' column — rename it before projecting")
    val stage = Iterator.from(0)
      .map(i => if (i == 0) "_centered" else s"_centered_$i")
      .find(n => !embs.columns.contains(n)).get
    val dim = model.mean.length
    val meanLit = array(model.mean.map(lit).toIndexedSeq: _*)
    // zip_with pads a shorter array with nulls — a dim mismatch would
    // silently project to [null, …]; fail loudly per row instead (the
    // assert_true stays inside the expression the projection consumes,
    // so column pruning cannot drop it). A NULL embedding is not a
    // mismatch: it passes the guard and projects to NULL, the same
    // pass-through every other narrow operator gives null input.
    val guard = assert_true(
      col("embedding").isNull || size(col("embedding")) === lit(dim),
      lit(s"embedding length != model dim $dim"))
    val centered: Column = when(guard.isNull && col("embedding").isNotNull,
      zip_with(
        col("embedding").cast("array<double>"), meanLit, (x, m) => x - m))
    val comps = (0 until k).map { c =>
      val b = array(model.basis(c).map(lit).toIndexedSeq: _*)
      aggregate(zip_with(col(stage), b, (x, w) => x * w),
        lit(0.0), (acc, x) => acc + x)
    }
    embs.withColumn(stage, centered)
      .withColumn("projection", array(comps: _*))
      .drop(stage)
  }

  // ---------------------------------------------------------------- x48
  /** The PCA gate: fit the full eigensystem on the embedding corpus,
    * then emit per dimension the model mean and the covariance diagonal
    * reconstructed FROM the eigensystem, C_ii = Σ_c λ_c·b_ci². The
    * oracle computes avg / var_pop per dimension straight from the
    * data, so the row hashes match only if (a) the distributed moment
    * fold, (b) the Jacobi eigenvalues, and (c) the basis vectors are
    * all right — the one SQL-checkable projection of an
    * eigendecomposition. 1e-4 units with floor, the x44 quantization:
    * the Jacobi residual (~1e-13 relative) and the float-sum
    * association drift both sit orders of magnitude under a bucket.
    * The 64-row output is model state (d-bounded, corpus-independent),
    * the same sanctioned driver shape as the IVF codebook. */
  def x48(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = 64
    val (n, sums, gram) = moments(Tables.embeddings(s, d), dim)
    // empty corpus: no model, no per-dimension rows — exactly the
    // oracle's zero GROUP BY groups (degenerate sweep); fit() itself
    // stays strict because a mean/basis from nothing is undefined
    if (n == 0)
      return Seq.empty[(Int, Long, Long)].toDF("i", "mean_e4", "var_e4")
    val model = modelOf(n, sums, gram, dim)
    val rows = (0 until dim).map { i =>
      var v = 0.0
      var c = 0
      while (c < model.basis.length) {
        val b = model.basis(c)(i)
        v += model.eigenvalues(c) * b * b
        c += 1
      }
      (i, math.floor(model.mean(i) * 1e4).toLong,
        math.floor(v * 1e4).toLong)
    }
    rows.toDF("i", "mean_e4", "var_e4")
  }

  val x48Sql: String =
    """WITH e AS (
      |  SELECT unnest(embedding) AS v,
      |    generate_subscripts(embedding, 1) - 1 AS i
      |  FROM embeddings)
      |SELECT CAST(i AS INT) AS i,
      |  CAST(floor(avg(CAST(v AS DOUBLE)) * 1e4) AS BIGINT) AS mean_e4,
      |  CAST(floor(var_pop(CAST(v AS DOUBLE)) * 1e4) AS BIGINT) AS var_e4
      |FROM e GROUP BY i""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x48_pca_diag" -> (x48 _),
  )

  val oracleSql: Map[String, String] = Map(
    "x48_pca_diag" -> x48Sql,
  )
}
