package graft.canon

import graft.core.VectorExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dimensionality reduction (reference A23: StandardScaler + PCA(50),
  * similarity_pipeline.py:129-135; t-SNE substituted by PCA per the
  * SURVEY §7.5 deviations ledger — deterministic, distributed).
  */
object Reduce {

  /** (id, group, vec array<double>) → (id, group, vec array<double> of
    * dimension k), standardized then PCA-projected, engineered so an
    * independent engine can reproduce it bit-for-bit (the DuckDB
    * oracle does; OperatorSpec checks it against MLlib's PCA):
    *
    *  - per-dim mean/std come from 1e-7-quantized INTEGER sums — exact
    *    and summation-order-independent, so the fit does not depend on
    *    partitioning;
    *  - the covariance matrix comes from 1e-6-quantized standardized
    *    values, again integer sums (accumulated per partition in a
    *    long array, merged associatively — one tiny collect of d² longs);
    *  - the top-k eigenvectors are a FIXED-iteration power method with
    *    deflation on the driver (d×d is small; this is how PCA on tall
    *    100 TB data works anyway: distributed Gram matrix, driver
    *    eigensolve, broadcast projection);
    *  - each component's sign is canonicalized (largest-|loading|
    *    coordinate positive), removing eigenvector sign indeterminacy;
    *  - the projection is a codegen'd dot product against broadcast
    *    component literals.
    *
    * The integer quantization bounds: |v|·1e7 and |z|·1e6 must keep
    * Σ q² inside int64 — holds to ~1e5 rows at these magnitudes; at
    * larger n, fit on a bounded sample (the IVF-centroid pattern) and
    * project everything.
    */
  def pcaDet(feat: DataFrame, k: Int, iters: Int = 100)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dims = feat.select(size(col("vec"))).first().getInt(0)
    val nRows = feat.count()
    require(nRows > 1, "pcaDet needs at least 2 rows")
    // the covariance accumulator sums q_i·q_j products in int64; past
    // ~1e5 rows at |z|·1e6 magnitudes it would WRAP silently — fail
    // loudly instead (fit on a bounded sample and project everything,
    // the IVF-centroid pattern, when the corpus is bigger)
    require(nRows <= 200000L,
      s"pcaDet fit is bounded to 200k rows (got $nRows): fit on a sample, project all")
    val n = nRows.toInt

    // per-dim mean/std from exact integer sums of round(x*1e7) —
    // decimal sums so wide-magnitude inputs can't overflow int64 (the
    // oracle's hugeint sum is 128-bit for the same reason); the final
    // integer → double conversion is correctly rounded in both engines
    val stats = feat.select(posexplode(col("vec")).as(Seq("j", "x")))
      .select(col("j"), expr("cast(round(x * 1e7, 0) as decimal(28,0))").as("r"))
      .groupBy("j").agg(sum(col("r")).as("s1"), sum(col("r") * col("r")).as("s2"))
      .collect().map(r => (r.getInt(0), r.getDecimal(1), r.getDecimal(2)))
    val mu = new Array[Double](dims)
    val sdg = new Array[Double](dims)
    stats.foreach { case (j, s1, s2) =>
      val m = s1.doubleValue / 1e7 / n
      val varj = math.max((s2.doubleValue / 1e14 - m * m * n) / (n - 1), 0.0)
      val sd = math.sqrt(varj)
      mu(j) = m
      sdg(j) = if (sd > 1e-12) sd else 1.0
    }
    val sv = feat.withColumn("sv",
      VectorExprs.vec_zscore(col("vec"), typedLit(mu.toSeq), typedLit(sdg.toSeq)))

    // covariance from exact integer sums of round(z*1e6) products
    val covSums = sv
      .select(expr("transform(sv, x -> cast(round(x * 1e6, 0) as bigint))").as("q"))
      .as[Seq[Long]]
      .mapPartitions { it =>
        val acc = new Array[Long](dims * dims)
        it.foreach { qs =>
          val a = qs.toArray
          var i = 0
          while (i < dims) {
            val ai = a(i); val base = i * dims
            var j = 0
            while (j < dims) { acc(base + j) += ai * a(j); j += 1 }
            i += 1
          }
        }
        Iterator.single(acc)
      }
      .reduce { (x, y) =>
        var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x
      }
    val m0 = Array.tabulate(dims, dims)((i, j) =>
      covSums(i * dims + j).toDouble / 1e12 / (n - 1))

    // fixed-iteration power method + deflation; all index-order
    // arithmetic (the oracle mirrors every operation)
    def matvec(m: Array[Array[Double]], v: Array[Double]): Array[Double] = {
      val w = new Array[Double](dims)
      var i = 0
      while (i < dims) {
        var s = 0.0; var j = 0
        while (j < dims) { s += m(i)(j) * v(j); j += 1 }
        w(i) = s; i += 1
      }
      w
    }
    def normalize(v: Array[Double]): Array[Double] = {
      var s = 0.0; var j = 0
      while (j < dims) { s += v(j) * v(j); j += 1 }
      val nrm = math.sqrt(s)
      // zero vector ⇒ zero covariance (all inputs identical): fail with
      // the real cause instead of NaN-poisoning the canonicalization
      require(nrm > 0, "pcaDet: zero covariance — degenerate input (all vectors identical?)")
      v.map(_ / nrm)
    }
    val m = m0.map(_.clone())
    val comps = (1 to math.min(k, dims)).map { c =>
      var v = normalize(Array.tabulate(dims)(j0 =>
        (((j0 + 1) * 2654435761L + c * 97L) % 1000L + 1L).toDouble))
      var t = 0
      while (t < iters) { v = normalize(matvec(m, v)); t += 1 }
      val w = matvec(m, v)
      var lam = 0.0
      var lj = 0
      while (lj < dims) { lam += v(lj) * w(lj); lj += 1 }
      var i = 0
      while (i < dims) {
        var j = 0
        while (j < dims) { m(i)(j) = m(i)(j) - lam * v(i) * v(j); j += 1 }
        i += 1
      }
      // sign canonicalization: largest-|loading| coordinate positive
      val maxAbs = v.map(math.abs).max
      val idx = v.indexWhere(x => math.abs(x) == maxAbs)
      if (v(idx) < 0) v.map(x => -x) else v
    }

    val compCols = comps.map(c => VectorExprs.vec_dot(col("sv"), typedLit(c.toSeq)))
    sv.select(col("id"), col("group"), array(compCols: _*).as("vec"))
  }
}
