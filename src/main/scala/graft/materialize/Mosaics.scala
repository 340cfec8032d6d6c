package graft.materialize

import graft.core.{Ontology, SmallSide}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mosaic sessionization (reference A12-A14, LIACI_stitcher.py).
  *
  * The reference stitches consecutive frames into a mosaic until a
  * data-dependent break (drift > 100 px or warpiness > 260,
  * stitcher.py:152-172), gates sessions (< 180 frames AND
  * size_increase < 1.5 discarded, pipeline.py:153-156), and aggregates
  * per-label coverage over the OR-merged masks (stitcher.py:338-346).
  *
  * Spark-first: the break becomes a per-row-computable predicate on
  * adjacent telemetry (heading jump or depth jump — SURVEY §7.4.3
  * documents this semantic mapping), sessions are `lag` + running
  * `sum(when(break,1))` window ids, the gate is a HAVING-style filter,
  * and mask-union coverage is a declarative product aggregate
  * (1 − Π(1−cov_i): union of per-frame coverage fractions under an
  * independence model — the OR-merge analog).
  */
object Mosaics {

  val headingBreak = 45.0
  val depthBreak = 2.0

  /** Session gate analog. Default 3 is the fixture-scale analog of the
    * reference's 180-frame gate (6 s at 30 fps, pipeline/pipeline.py:
    * 153-156) — our synthetic corpora emit ~1 frame per telemetry
    * sample, not 30 fps. [[build]] takes it as a parameter so a
    * realistic 30 fps corpus runs at `referenceMinFrames` unmodified.
    */
  val minFrames = 3
  val referenceMinFrames = 180 // the reference's own constant

  /** Session-keep threshold on the size_increase analog. The reference
    * discards a session only when BOTH arms fail: `frames < 180 AND
    * size_increase < 1.5` (pipeline/pipeline.py:153-156) — i.e. keep if
    * long OR if the mosaic canvas grew. Our canvas-growth stand-in is
    * the depth spread the camera covered (§7.5 deviations ledger):
    * size_increase = 1 + (max(Depth) − min(Depth)).
    */
  val sizeIncreaseKeep = 1.5

  /** Union coverage 1 − Π(1 − clamp(cov, 0, 1)), commutative and
    * associative through the product of complements, so safe for
    * partial aggregation. Catalyst's declarative Product aggregate keeps
    * the mosaic rollup in codegen'd HashAggregate with primitive doubles;
    * 25 typed-Aggregator columns forced it into ObjectHashAggregate with
    * a boxed encoder round-trip per label per row. Product's update chain
    * is ((1·v₁)·v₂)·… and its merge is pairwise multiplication; the clamp
    * CASE keeps NaN (a −0.0 vs +0.0 clamp difference is erased by the 1−x
    * complement).
    */
  def unionCoverage(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    val clamped = when(c < 0.0, 0.0).when(c > 1.0, 1.0).otherwise(c)
    val prod = Bridge.column(
      org.apache.spark.sql.catalyst.expressions.aggregate.Product(
        Bridge.expression(lit(1.0) - clamped)).toAggregateExpression())
    lit(1.0) - prod
  }

  /** A11 (LIACi_segmenter.getPercentage, segmenter.py:152-172):
    * |A∩B| / |A| as a ratio of conditional aggregates over boolean
    * membership columns.
    */
  def intersectionPercentage(df: org.apache.spark.sql.DataFrame,
                             aCol: String, bCol: String): Double = {
    val row = df.agg(
      sum(when(col(aCol) && col(bCol), 1).otherwise(0)).as("inter"),
      sum(when(col(aCol), 1).otherwise(0)).as("a")).collect()(0)
    val a = row.getLong(1)
    if (a == 0) 0.0 else row.getLong(0).toDouble / a
  }

  /** Assign session (mosaic) ids per inspection: break on telemetry
    * discontinuity, id = running count of breaks.
    */
  def withSessions(frames: DataFrame): DataFrame = {
    val w = Window.partitionBy("inspection_id").orderBy("framenumber")
    val headingJump = abs(col("Heading") - lag("Heading", 1).over(w))
    // heading wraps at 360: take circular distance
    val circJump = least(headingJump, lit(360.0) - headingJump)
    val isBreak = when(lag("Heading", 1).over(w).isNull, lit(1))
      .when(circJump > headingBreak, lit(1))
      .when(abs(col("Depth") - lag("Depth", 1).over(w)) > depthBreak, lit(1))
      .otherwise(lit(0))
    frames
      .withColumn("session_break", isBreak)
      .withColumn("session",
        sum("session_break").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("session_break")
  }

  /** (IN_MOSAIC triples, Mosaic nodes). Mosaic id = "m" + first frame id
    * of the session (pipeline/pipeline.py:138). Sessions below the
    * frame gate are discarded (A13).
    */
  def build(frames: DataFrame, labels: Seq[String] = Ontology.allLabels,
            minFrames: Int = Mosaics.minFrames,
            sizeIncreaseKeep: Double = Mosaics.sizeIncreaseKeep)(
      implicit spark: SparkSession): (DataFrame, DataFrame) = {
    // project early (guide §2.3): the mosaic aggregates and IN_MOSAIC
    // emit touch only these columns — the session window was shuffling
    // and sorting the full ~90-column frame row. Materialize the
    // sessioned slim table once: it feeds BOTH the per-session agg and
    // the IN_MOSAIC join, which previously re-ran the window shuffle.
    val needed = Seq("inspection_id", "framenumber", "frame_id",
      "Heading", "Depth") ++ labels.map(l => s"${l}_segmentation")
    val sessioned = withSessions(
        frames.select(needed.map(col): _*))
      .localCheckpoint(true)

    val covAggs = labels.map(l =>
      unionCoverage(col(s"${l}_segmentation")).as(s"${l}_percentage"))
    val aggs = Seq(
      count("*").as("n_frames"),
      min("frame_id").as("start_frame"),
      max("frame_id").as("end_frame"),
      min("framenumber").as("start_no"),
      (lit(1.0) + max("Depth") - min("Depth")).as("size_increase")
    ) ++ covAggs
    // materialized once: the per-session aggregate feeds BOTH the
    // IN_MOSAIC key join and the Mosaic nodes, which are separate
    // outputs — without the checkpoint the 25-label aggregation ran
    // twice. Small (one row per kept session).
    val mosaics = sessioned.groupBy("inspection_id", "session")
      .agg(aggs.head, aggs.tail: _*)
      // A13 gate, both arms (pipeline.py:153-156): discard only sessions
      // that are short AND didn't grow
      .where(col("n_frames") >= minFrames ||
        col("size_increase") >= sizeIncreaseKeep)
      .withColumn("mosaic_id", concat(lit("m"), col("start_frame")))
      .localCheckpoint(true)

    // key attach: the checkpointed keys are fetched once and broadcast up
    // to 2M sessions (graft.core.SmallSide); above that the shuffle join runs
    val keysSide = SmallSide.broadcastIfSmall(
      mosaics.select("inspection_id", "session", "mosaic_id"), 2000000L)
    // IN_MOSAIC with homography: deterministic per-frame 3x3 (translation
    // by in-session offset — the stitcher's accumulated-H analog)
    val inMosaic = sessioned
      .join(keysSide, Seq("inspection_id", "session"))
      .select(
        col("frame_id").as("subj"), lit("IN_MOSAIC").as("pred"),
        col("mosaic_id").as("obj"),
        lit(null).cast("double").as("classification"),
        lit(null).cast("double").as("segmentation"),
        lit(null).cast("double").as("distance"),
        array(lit(1.0), lit(0.0), col("framenumber").cast("double"),
          lit(0.0), lit(1.0), col("Depth"),
          lit(0.0), lit(0.0), lit(1.0)).as("homography"))

    val pctEntries = labels.flatMap(l =>
      Seq(lit(s"${l}_percentage"), round(col(s"${l}_percentage"), 6).cast("string")))
    // {label}_coco: the reference stores a COCO-RLE mask per label
    // (image_node.py:6-10); with no raster in this pipeline the prop is a
    // deterministic stand-in carrying the union coverage
    val cocoEntries = labels.flatMap(l =>
      Seq(lit(s"${l}_coco"),
        concat(lit("coco:"), round(col(s"${l}_percentage"), 6).cast("string"))))
    // canvas-dimension analogs (image_node.py:6-10): the stitched canvas
    // widens per appended frame and deepens with the depth spread
    val xDim = (lit(1920L) + lit(16L) * (col("n_frames") - 1)).cast("long")
    val yDim = (lit(1080L) +
      round((col("size_increase") - 1.0) * 100).cast("long")).cast("long")
    val nodes = mosaics.select(
      col("mosaic_id").as("id"), lit("Mosaic").as("label"),
      map(
        (Seq(lit("start_frame"), col("start_frame"),
          lit("end_frame"), col("end_frame"),
          lit("n_frames"), col("n_frames").cast("string"),
          lit("x_dim"), xDim.cast("string"),
          lit("y_dim"), yDim.cast("string"),
          // reference image artifacts (pipeline/pipeline.py:172-173):
          // image_file "{id}.jpg", seg_image_file "{id}_seg.jpg". The
          // Mosaic node carries NO uciqe prop — B3's coalesce(m.uciqe,
          // i.uciqe) always falls through to the frame's value.
          lit("image_file"), concat(col("mosaic_id"), lit(".jpg")),
          lit("seg_image_file"), concat(col("mosaic_id"), lit("_seg.jpg")),
          lit("size_increase"), round(col("size_increase"), 6).cast("string"))
          ++ pctEntries ++ cocoEntries): _*
      ).as("props"))
    (inMosaic, nodes)
  }
}
