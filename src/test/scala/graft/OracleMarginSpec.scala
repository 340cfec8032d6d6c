package graft

import graft.ops.SimilaritySearch
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
      .select(SimilaritySearch.cosine(col("va"), col("vb")).as("c"))
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

  test("portable ANN twins keep decision margins and round-6 grid clearance") {
    // ann_ivf_portable / ann_lsh_portable reach every intermediate value
    // via the same IEEE op order on both engines, but the COMPARISONS
    // (argmin over centroids, the nProbe cut, the sign of a projection)
    // ride library code that differs (sqrt∘sq_dist vs list_distance,
    // vec_dot vs list_inner_product) — a 1-ulp divergence at a decision
    // boundary would flip a bucket on one engine only. Margins must
    // dominate that noise; the final round-6 grid margin guards the
    // Spark-BigDecimal vs DuckDB-float rounding split (CLAUDE.md).
    val query = emb.where(col("vec_id") === 0)
      .select(col("v")).collect()(0).getSeq[Double](0).toArray
    val rest = emb.where(col("vec_id") =!= 0).localCheckpoint(true)

    val cents = SimilaritySearch.portableSeedCentroids(
      spark.read.parquet(s"$dir/embeddings.parquet").where(col("vec_id") =!= 0), 8)
    val dcols = array(cents.map(c =>
      sqrt(graft.core.VectorExprs.sq_dist(col("v"), lit(c)))).toIndexedSeq: _*)
    val gap = rest.select(sort_array(dcols).as("d"))
      .select((element_at(col("d"), 2) - element_at(col("d"), 1)).as("g"))
      .agg(min("g")).collect()(0).getDouble(0)
    info(f"IVF min best-vs-second centroid gap: $gap%.2e")
    assert(gap > 1e-9, f"a vector's two nearest centroids sit $gap%.2e apart")

    val qd = cents.map(c =>
      math.sqrt(c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum)).sorted
    info(f"IVF probe cut (2nd vs 3rd centroid to query): ${qd(2) - qd(1)}%.2e")
    assert(qd(2) - qd(1) > 1e-9, "the nProbe=2 cut sits on a distance tie")

    val planes = SimilaritySearch.portablePlanes(4, query.length)
    val adots = array(planes.map(p =>
      abs(graft.core.VectorExprs.vec_dot(col("v"), lit(p)))).toIndexedSeq: _*)
    val minDot = rest.select(array_min(adots).as("m"))
      .agg(min("m")).collect()(0).getDouble(0)
    val qMinDot = planes.map(p =>
      math.abs(p.zip(query).map { case (a, b) => a * b }.sum)).min
    info(f"LSH min |projection| (corpus $minDot%.2e, query $qMinDot%.2e)")
    assert(minDot > 1e-9 && qMinDot > 1e-9,
      "a sign projection sits at the hyperplane — bucket could flip cross-engine")

    val qlit = lit(query)
    val r6cos = rest
      .select(SimilaritySearch.cosine(col("v"), qlit).as("c"))
      .agg(min(roundMargin(col("c"), 6))).collect()(0).getDouble(0)
    val r6dist = rest
      .select(sqrt(graft.core.VectorExprs.sq_dist(col("v"), qlit)).as("d"))
      .agg(min(roundMargin(col("d"), 6))).collect()(0).getDouble(0)
    info(f"round-6 margins: cosine $r6cos%.2e, distance $r6dist%.2e")
    assert(r6cos > 1e-9 && r6dist > 1e-9,
      "an emitted ANN value sits on the round-6 grid boundary")
  }

  test("ann_matryoshka: pool full-dim cosines keep round-6 margins") {
    // stage 1 orders on RAW prefix-cosine doubles (bit-identical fold
    // both engines — no margin needed); only the stage-2 OUTPUT cosine
    // is rounded, so the audit is the round-6 grid over the pool
    val query = emb.where(col("vec_id") === 0)
      .select(col("v")).collect()(0).getSeq[Double](0).toArray
    val pv = expr("transform(slice(v, 1, 16), x -> x)")
    val pool = emb.where(col("vec_id") =!= 0)
      .withColumn("pcos",
        SimilaritySearch.cosine(pv, lit(query.take(16))))
      .orderBy(desc("pcos"), asc("vec_id")).limit(50)
    val m = pool
      .select(SimilaritySearch.cosine(col("v"), lit(query)).as("c"))
      .agg(min(roundMargin(col("c"), 6))).collect()(0).getDouble(0)
    info(f"min round-6 margin of matryoshka pool cosines: $m%.2e")
    assert(m > 1e-9, f"a pool cosine sits $m%.2e from a round-6 boundary")
  }

  test("ann_mmr: candidate-pool cosines keep round-6 margins; greedy is arithmetic-identical") {
    // The MMR gate's cross-engine inputs are the round-6 relevances
    // (covered by the portable-ANN r6 cosine audit over the whole
    // corpus) and the round-6 PAIRWISE pool cosines — audited here.
    // Everything downstream (0.7·rel − 0.3·maxsim, argmax, vec_id
    // ties) is IDENTICAL IEEE arithmetic over those rounded doubles on
    // both engines, so no score/tie margin is needed (q25's
    // identical-arithmetic argument); the pool cut itself is safe even
    // on a rounded-rel tie because both engines break it by vec_id.
    val query = emb.where(col("vec_id") === 0)
      .select(col("v")).collect()(0).getSeq[Double](0).toArray
    val pool = emb.where(col("vec_id") =!= 0)
      .withColumn("rel", round(SimilaritySearch.cosine(col("v"), lit(query)), 6))
      .orderBy(desc("rel"), asc("vec_id")).limit(24)
      .select(col("vec_id"), col("v")).localCheckpoint(true)
    val m = pool.select(col("vec_id").as("a"), col("v").as("va"))
      .join(pool.select(col("vec_id").as("b"), col("v").as("vb")), col("a") < col("b"))
      .select(SimilaritySearch.cosine(col("va"), col("vb")).as("c"))
      .agg(min(roundMargin(col("c"), 6))).collect()(0).getDouble(0)
    info(f"min round-6 margin of MMR pool pairwise cosines: $m%.2e")
    assert(m > 1e-9, f"a pool pair's cosine sits $m%.2e from a round-6 boundary")
  }

  test("PQ encode argmins and the ADC round-6 grid keep cross-engine margins") {
    // per-(vector, block) code assignment compares sqrt'd block
    // distances across engine library code (sqrt(sq_dist) vs
    // list_distance) — a tie or 1-ulp gap would flip a code on one
    // engine only; the emitted round(approx, 6) must clear the grid
    val query = emb.where(col("vec_id") === 0)
      .select(col("v")).collect()(0).getSeq[Double](0).toArray
    val rest = emb.where(col("vec_id") =!= 0).localCheckpoint(true)
    val seeds = SimilaritySearch.portableSeedCentroids(
      spark.read.parquet(s"$dir/embeddings.parquet").where(col("vec_id") =!= 0), 8)
    val blockLen = query.length / 8
    val gaps = (0 until 8).map { b =>
      val dcols = array(seeds.map(c => sqrt(graft.core.VectorExprs.sq_dist(
        expr(s"slice(v, ${b * blockLen + 1}, $blockLen)"),
        lit(c.slice(b * blockLen, (b + 1) * blockLen))))).toIndexedSeq: _*)
      rest.select(sort_array(dcols).as("d"))
        .select((element_at(col("d"), 2) - element_at(col("d"), 1)).as("g"))
        .agg(min("g")).collect()(0).getDouble(0)
    }
    info(f"PQ min per-block best-vs-second codeword gap: ${gaps.min}%.2e")
    assert(gaps.min > 1e-9, s"a block's two nearest codewords tie (gaps $gaps)")
    val m = SimilaritySearch.pqApproxRaw(
        spark.read.parquet(s"$dir/embeddings.parquet").where(col("vec_id") =!= 0),
        query)
      .agg(min(roundMargin(col("approx"), 6))).collect()(0).getDouble(0)
    info(f"PQ raw approx-distance round-6 margin: $m%.2e")
    assert(m > 1e-9, "a PQ approx distance sits on the round-6 grid boundary")

    // SQ int8: the floor(x*127/scale + 0.5) chain is PURE IEEE
    // primitives (*, /, +, floor) — correctly rounded and therefore
    // bit-identical on both engines even exactly ON the .5 grid (the
    // max-abs element always lands on 127.5), so no code-boundary
    // audit is needed; what still splits cross-engine is the final
    // round(score, 6) (Spark BigDecimal vs DuckDB float — CLAUDE.md)
    val rawEmb = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") =!= 0)
    val sqm = SimilaritySearch.sqApproxRaw(rawEmb, query)
      .agg(min(roundMargin(col("approx_dot"), 6))).collect()(0).getDouble(0)
    info(f"SQ raw score round-6 margin: $sqm%.2e")
    assert(sqm > 1e-9, "an SQ score sits on the round-6 grid boundary")
  }

  test("rp_reduce: projection values keep margin from the round-6 grid") {
    val m = graft.ops.SimilaritySearch.rpReduce(
        spark.read.parquet(s"$dir/embeddings.parquet"))
      .select((col("value") * 1e6).as("s")) // already rounded; audit the raw twin
    // recompute unrounded to audit the boundary the rounding crossed
    val planes = (0 until 8).map(b => Array.tabulate(64)(d =>
      graft.canon.KnnJoin.portablePlaneCoef(s"rp_${b}_${d}")))
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(expr("transform(embedding, x -> cast(x as double))").as("vec"))
    val raw = e.select(array(planes.map(p =>
        graft.ops.SimilaritySearch.dot(col("vec"), lit(p))): _*).as("vs"))
      .select(explode(col("vs")).as("v"))
    val margin = raw.agg(min(roundMargin(col("v"), 6))).collect()(0).getDouble(0)
    info(f"min round-6 boundary margin of rp projections: $margin%.2e")
    assert(margin > 1e-9, f"an rp projection sits $margin%.2e from a round-6 boundary")
    assert(m.limit(1).count() === 1) // sanity: the gated shape materializes
  }
}
