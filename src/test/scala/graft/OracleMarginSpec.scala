package graft

import graft.core.VectorExprs.cosine
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Guards the float-equality contract of the value-gated oracles.
  *
  * The driver's comparer requires bit-exact float equality, while three
  * oracles compute their values via different-but-equivalent arithmetic
  * on the two engines (q25: sequential product vs exp·sum·ln, ~1e-12
  * apart; q26: sq_dist multiplication vs DuckDB `**` at the eps²
  * boundary; q27: threshold + round-4). Those gates only stay stable if
  * every value keeps a margin from its rounding/threshold boundary that
  * is orders of magnitude above the cross-engine arithmetic noise. This
  * spec asserts those margins on the gate corpus (sf0.01), so a future
  * corpus regeneration that lands a value near a boundary fails HERE
  * with a diagnosable message instead of flipping the driver gate.
  */
class OracleMarginSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark

  val dir = "/root/testdata/sf0.01"

  // distance of x's scaled fraction from the round-half-up boundary:
  // round(x, digits) flips when frac(x·10^digits) crosses 0.5
  private def roundMargin(c: org.apache.spark.sql.Column, digits: Int) =
    abs(pmod(c * math.pow(10, digits), lit(1.0)) - 0.5)

  lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))

  test("q27: all-pairs cosine keeps margin from the 0.45 threshold and round-4 grid") {
    val a = emb.select(col("vec_id").as("a"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("b"), col("v").as("vb"))
    val cos = a.join(b, col("a") < col("b"))
      .select(cosine(col("va"), col("vb")).as("c"))
      .localCheckpoint(true)
    val thr = cos.agg(min(abs(col("c") - 0.45))).collect()(0).getDouble(0)
    info(f"min |cosine - 0.45| over all pairs: $thr%.2e")
    assert(thr > 1e-4, f"a pair's cosine sits $thr%.2e from the q27 threshold")
    val r4 = cos.where(col("c") >= 0.45)
      .agg(min(roundMargin(col("c"), 4))).collect()(0).getDouble(0)
    info(f"min round-4 boundary margin of kept cosines: $r4%.2e")
    assert(r4 > 1e-6, f"a kept cosine sits $r4%.2e from a round-4 boundary")
  }

  test("q26: same-group squared distances keep margin from eps^2 = 1.5625") {
    val a = emb.select(col("vec_id").as("a"), col("label").as("g"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("b"), col("label").as("g"), col("v").as("vb"))
    val m = a.join(b, Seq("g")).where(col("a") < col("b"))
      .select(graft.core.VectorExprs.sq_dist(col("va"), col("vb")).as("d2"))
      .agg(min(abs(col("d2") - 1.25 * 1.25))).collect()(0).getDouble(0)
    info(f"min |d2 - eps2| over same-group pairs: $m%.2e")
    assert(m > 1e-6, f"a pair's squared distance sits $m%.2e from the DBSCAN eps boundary")
  }

  test("q25: union coverage arithmetic paths agree and keep round-6 margin") {
    import org.apache.spark.sql.expressions.Window
    // same frame synthesis as SparkEntry's q25 (events -> telemetry analog)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_type"), col("value"))
    val frames = spark.read.parquet(s"$dir/events.parquet").select(
      col("user_id").as("inspection_id"),
      row_number().over(w).as("framenumber"),
      pmod(col("value") * 7.3, lit(360.0)).as("Heading"),
      (pmod(col("value"), lit(25.0)) / 10.0).as("Depth"),
      (pmod(col("value"), lit(1.0)) * 0.9).as("cov"))
    val clamped = greatest(lit(1.0) - least(greatest(col("cov"), lit(0.0)), lit(1.0)),
      lit(1e-300))
    val sessions = graft.materialize.Mosaics.withSessions(frames)
      .groupBy("inspection_id", "session")
      .agg(
        graft.materialize.Mosaics.unionCoverage(col("cov")).as("uc"),
        (lit(1.0) - exp(sum(log(clamped)))).as("uc_ln"),
        (lit(1.0) + max("Depth") - min("Depth")).as("size_raw"),
        count(lit(1)).as("n"))
      .localCheckpoint(true)
    val pathDiff = sessions.agg(max(abs(col("uc") - col("uc_ln"))))
      .collect()(0).getDouble(0)
    info(f"max |product - expSumLn| union coverage: $pathDiff%.2e")
    assert(pathDiff < 1e-9, f"arithmetic paths diverge by $pathDiff%.2e")
    val r6 = sessions.agg(min(roundMargin(col("uc"), 6))).collect()(0).getDouble(0)
    info(f"min round-6 boundary margin of union coverage: $r6%.2e")
    // What stability requires is RELATIVE: the boundary margin must
    // dominate the cross-engine path divergence, or the two engines can
    // round the same session to different 6-digit values. Measured on
    // this corpus: margin 4.7e-10 (a dyadic cov sum lands near a .5
    // grid point) vs divergence 2.2e-16 — 3 orders of magnitude spare.
    assert(r6 > math.max(1e-12, 1000 * pathDiff),
      f"a union coverage sits $r6%.2e from a round-6 boundary " +
        f"(cross-engine divergence $pathDiff%.2e) — regenerated corpus would flake the q25 gate")
    // No margin assertion for the 1.5 size_increase gate arm: it is
    // computed with IDENTICAL arithmetic on both engines (pmod/div/max/
    // min in the same op order), so even a boundary hit or a 1-ulp
    // near-miss — this corpus has both — decides identically on both
    // sides; the driver's q25 hash gate itself proves that bit-equality
    // every round. Margin guards are only meaningful above, where the
    // two engines reach the value via DIFFERENT arithmetic.
    val gm = sessions.agg(min(abs(col("size_raw") - 1.5))).collect()(0).getDouble(0)
    info(f"min |size_raw - 1.5| gate distance (identical-arithmetic, informational): $gm%.2e")
  }
}
