package graft

import graft.canon.Reduce
import graft.extract.TelemetryInterpolation
import graft.materialize.Upsert
import org.apache.spark.ml.feature.{PCA, StandardScaler}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, size, udf}
import org.scalatest.funsuite.AnyFunSuite

class OperatorSpec extends AnyFunSuite {
  lazy implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark
  import spark.implicits._

  // ---- A4 interpolation ----

  test("interpolation: linear between samples, hand-computed values") {
    val samples = Seq(
      (1L, 0.0, "Depth", 10.0), (1L, 10.0, "Depth", 20.0)
    ).toDF("inspection_id", "ts", "channel", "value")
    // 5 frames over [0,10]: 0, 2.5, 5, 7.5, 10
    val got = TelemetryInterpolation.interpolate(samples, 5)
      .orderBy("frame_index").select("value").as[Double].collect()
    assert(got.toSeq === Seq(10.0, 12.5, 15.0, 17.5, 20.0))
  }

  test("interpolation: heading wraps through 360, not through 180") {
    val samples = Seq(
      (1L, 0.0, "Heading", 350.0), (1L, 10.0, "Heading", 10.0)
    ).toDF("inspection_id", "ts", "channel", "value")
    val got = TelemetryInterpolation.interpolate(samples, 3)
      .orderBy("frame_index").select("value").as[Double].collect()
    // midpoint must be 0 (through north), not 180
    assert(math.abs(got(1) - 0.0) < 1e-9)
    assert(math.abs(got(0) - 350.0) < 1e-9)
    assert(math.abs(got(2) - 10.0) < 1e-9)
  }

  test("interpolation: duplicate timestamps deduped, constant extrapolation at edges") {
    val samples = Seq(
      (1L, 5.0, "Depth", 7.0), (1L, 5.0, "Depth", 7.0), (1L, 6.0, "Depth", 9.0)
    ).toDF("inspection_id", "ts", "channel", "value")
    val got = TelemetryInterpolation.interpolate(samples, 3)
      .orderBy("frame_index").select("value").as[Double].collect()
    assert(got.length === 3)
    assert(math.abs(got(0) - 7.0) < 1e-9 && math.abs(got(2) - 9.0) < 1e-9)
  }

  test("telemetry event parse extracts (ts, channel, value)") {
    val lines = Seq("t=1.5 Depth=12.25", "t=2.0 Heading=-3.5", "garbage").toDF("value")
    val got = TelemetryInterpolation.parseEvents(lines, 7L).collect()
    assert(got.length === 2)
    assert(got(0).getDouble(1) === 1.5 && got(0).getString(2) === "Depth")
    assert(got(1).getDouble(3) === -3.5)
  }

  // ---- A17 upsert / A20 retract ----

  test("upsert adds only new keys; insertNew fails on clash") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val incoming = Seq((2L, "B"), (3L, "c"), (3L, "c2")).toDF("id", "v")
    val up = Upsert.upsert(existing, incoming, Seq("id"))
    assert(up.count() === 3)
    assert(up.where("id = 2").select("v").as[String].collect()(0) === "b") // kept
    intercept[IllegalArgumentException] {
      Upsert.insertNew(existing, incoming, Seq("id"))
    }
  }

  test("snapshotDiff: liveness changes only, latest-op-wins at each cut") {
    // ledger: c lives before T1 (unchanged → absent from the diff);
    // a lives at T1 but is deleted by T2; b appears between the cuts;
    // d is added AND deleted between the cuts (no liveness change)
    val ledger = Seq(
      ("c", "P", "x", "add", 0L, 0L),
      ("a", "P", "x", "add", 1L, 1L),
      ("b", "P", "y", "add", 5L, 2L),
      ("a", "P", "x", "del", 6L, 3L),
      ("d", "P", "z", "add", 7L, 4L),
      ("d", "P", "z", "del", 8L, 5L)
    ).toDF("subj", "pred", "obj", "op", "ts_us", "event_id")
    val got = Upsert.snapshotDiff(ledger, 2L, 9L)
      .collect().map(r => (r.getString(0), r.getString(3))).toSeq.sorted
    assert(got === Seq(("a", "removed"), ("b", "added")), s"diff was $got")
  }

  test("retractSimilarity drops only similarity preds of the target inspections") {
    val triples = Seq(
      ("100.1", "SIMILAR_TO", "100.2"), ("200.1", "SIMILAR_TO", "200.2"),
      ("100.1", "DEPICTS", "c_X_413"), ("100.1", "IN_CLUSTER", "c100.0")
    ).toDF("subj", "pred", "obj")
    val kept = Upsert.retractSimilarity(triples, Seq(100L))
      .select("subj", "pred").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(kept === Set(("200.1", "SIMILAR_TO"), ("100.1", "DEPICTS")))
  }

  // ---- A11 intersection percentage / A29 anonymize ----

  test("intersection percentage = |A∩B|/|A|") {
    val df = Seq((true, true), (true, false), (true, true), (false, true))
      .toDF("a", "b")
    assert(math.abs(graft.materialize.Mosaics.intersectionPercentage(df, "a", "b")
      - 2.0 / 3.0) < 1e-12)
  }

  test("anonymizeName is deterministic and differs from the input") {
    val n1 = graft.link.ShipCatalog.anonymizeName("vessel_00001")
    assert(n1 === graft.link.ShipCatalog.anonymizeName("vessel_00001"))
    assert(n1 !== "vessel_00001")
  }

  // ---- A23 PCA ----

  /** MLlib StandardScaler + PCA(k): the reference that pcaDet is checked
    * against. (id, group, vec array<double>) → same, vec of dimension k.
    */
  private def mllibPca(feat: DataFrame, k: Int): DataFrame = {
    val asVec = udf((a: Seq[Double]) => Vectors.dense(a.toArray))
    val asArr = udf((v: org.apache.spark.ml.linalg.Vector) => v.toArray)
    val df = feat.withColumn("fv", asVec(col("vec")))
    val scaler = new StandardScaler().setInputCol("fv").setOutputCol("sv")
      .setWithMean(true).setWithStd(true).fit(df)
    val scaled = scaler.transform(df)
    val dims = feat.select(size(col("vec"))).first().getInt(0)
    val model = new PCA().setInputCol("sv").setOutputCol("pv")
      .setK(math.min(k, dims)).fit(scaled)
    model.transform(scaled)
      .select(col("id"), col("group"), asArr(col("pv")).as("vec"))
  }

  test("PCA projects to k dims and preserves the dominant direction ordering") {
    val rnd = new scala.util.Random(7)
    val pts = (0 until 200).map { i =>
      val t = i.toDouble / 10
      (s"p$i", 1L, Array(t + rnd.nextGaussian() * 0.01,
        2 * t + rnd.nextGaussian() * 0.01, rnd.nextGaussian() * 0.01))
    }.toDF("id", "group", "vec")
    val red = mllibPca(pts, 2)
    val row = red.limit(1).collect()(0)
    assert(row.getSeq[Double](2).length === 2)
    assert(red.count() === 200)
  }

  test("pcaDet agrees with MLlib PCA on the dominant component (up to sign)") {
    val rnd = new scala.util.Random(7)
    val pts = (0 until 200).map { i =>
      val t = i.toDouble / 10
      (s"p$i", 1L, Array(t + rnd.nextGaussian() * 0.01,
        2 * t + rnd.nextGaussian() * 0.01, rnd.nextGaussian() * 0.01))
    }.toDF("id", "group", "vec")
    def comp0(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.collect().map(r => r.getString(0) -> r.getSeq[Double](2).head).toMap
    val a = comp0(Reduce.pcaDet(pts, 2))
    val b = comp0(mllibPca(pts, 2))
    val keys = a.keys.toSeq
    val (xs, ys) = (keys.map(a), keys.map(b))
    val corr = {
      val n = keys.size
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val cov = keys.indices.map(i => (xs(i) - mx) * (ys(i) - my)).sum
      val (vx, vy) = (xs.map(x => (x - mx) * (x - mx)).sum,
        ys.map(y => (y - my) * (y - my)).sum)
      cov / math.sqrt(vx * vy)
    }
    assert(math.abs(corr) > 0.999)
  }

  test("pcaDet is partition-invariant bit-for-bit (integer-sum fit)") {
    val rnd = new scala.util.Random(11)
    val pts = (0 until 120).map { i =>
      (s"p$i", 1L, Array.fill(6)(rnd.nextGaussian()))
    }.toDF("id", "group", "vec")
    def vals(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Double]] =
      df.collect().map(r => r.getString(0) -> r.getSeq[Double](2)).toMap
    val one = vals(Reduce.pcaDet(pts.repartition(1), 3))
    val many = vals(Reduce.pcaDet(pts.repartition(7), 3))
    assert(one === many) // exact equality, no tolerance
  }
}
