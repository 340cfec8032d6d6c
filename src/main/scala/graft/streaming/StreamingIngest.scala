package graft.streaming

import graft.core.CorpusRow
import graft.extract.{CompiledDict, DictAnalyzer}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface: the construction pipeline's frame loop
  * re-expressed as a stream (SURVEY §2 checklist, streaming row).
  * The reference's per-frame loop is conceptually a stream with
  * data-dependent session windows (pipeline/pipeline.py:71-190); here:
  *
  *  - [[scoredStream]]: streaming mention scoring — the same compiled
  *    per-partition dictionary, applied to a streaming Dataset;
  *  - [[sessionCounts]]: event sessionization with `session_window` +
  *    watermark (the mosaic-session analog with late-data handling).
  */
object StreamingIngest {

  /** Streaming mention scores: works on any streaming Dataset[CorpusRow]
    * (e.g. `spark.readStream.schema(...).parquet(dir)`).
    */
  def scoredStream(stream: Dataset[CorpusRow], dict: Seq[(String, String)])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    stream.mapPartitions { rows =>
      val compiled = CompiledDict(dict)
      rows.map { r =>
        val counts = compiled.countAll(r.content)
        val scores = counts.zipWithIndex.map { case (c, i) =>
          DictAnalyzer.score(
            DictAnalyzer.classifierProb(c),
            DictAnalyzer.coverage(c, compiled.terms(i).length, r.content.length))
        }
        (r.repo, r.path, scores.sum, counts.sum)
      }
    }.toDF("repo", "path", "total_score", "total_mentions")
  }

  /** Session windows over an event stream (gap-based, watermark for
    * late data): streaming twin of the batch q12 sessionization.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("session"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session.start").as("session_start"),
        col("n_events"))

  /** Streaming exact dedup with custom keyed state
    * (`flatMapGroupsWithState`): the first document seen per content
    * hash passes (lowest doc_id inside a micro-batch, for determinism);
    * every later duplicate — same batch or any later batch — is dropped
    * by the per-key seen-flag state. This is the streaming twin of an
    * exact md5 group-by: at 100 TB the state store holds one boolean
    * per distinct content hash, partitioned by key.
    *
    * `stateTtl` (e.g. `Some("30 days")`) bounds that state for a real
    * deployment: a key untouched for the TTL is evicted
    * (ProcessingTimeTimeout) and a LATER re-arrival of the same content
    * is re-admitted — the deliberate trade of exact first-seen-wins for
    * bounded state. Touching a key (a dropped duplicate) refreshes its
    * TTL, so hot boilerplate never re-admits. Default `None` keeps
    * NoTimeout: exact first-seen-wins forever.
    *
    * Trigger caveat: with a TTL set, drive the query with a continuous
    * trigger (ProcessingTime) or Trigger.Once — NOT Trigger.AvailableNow,
    * whose run-until-done executor loops forever because the stateful
    * exec reports shouldRunAnotherBatch=true unconditionally under
    * ProcessingTimeTimeout (it schedules empty batches to service
    * pending timeouts; StreamingSpec's TTL phases pin the Once pattern).
    *
    * docs: streaming (doc_id long, text string) → (doc_id, hash).
    */
  def dedupStream(docs: DataFrame, stateTtl: Option[String] = None)(
      implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    docs.select(col("doc_id").cast("long"), md5(col("text")))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append(), timeout) {
        (key: String, rows: Iterator[(Long, String)], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            stateTtl.foreach(state.setTimeoutDuration) // refresh on touch
            Iterator.empty
          } else {
            state.update(true)
            stateTtl.foreach(state.setTimeoutDuration)
            Iterator.single((rows.map(_._1).min, key))
          }
      }
      .toDF("doc_id", "hash")
  }

  /** Streaming NEAR-duplicate candidates with keyed LSH-bucket state:
    * minhash signatures are banded exactly like the batch path
    * ([[graft.canon.MinHash.bandedBuckets]]), and each (band, band_hash)
    * bucket keeps one anchor (the first-seen minimum doc_id) in
    * `flatMapGroupsWithState` state. Every arriving bucket member pairs
    * with its bucket's anchor — the streaming twin of the batch
    * hot-bucket cap at `maxBucket = 1`: pairs stay LINEAR in bucket
    * size (one long of state per distinct bucket at 100 TB), and
    * duplicate GROUPS keep full recall under the transitive closure
    * that consumes these pairs. When all data arrives in one
    * micro-batch the emitted pair set equals
    * `MinHash.minhashCandidates(sigs, maxBucket = 1)` (StreamingSpec
    * proves it). Pairs may repeat across bands — the consumer
    * distincts, as the batch path does.
    *
    * `stateTtl` (e.g. `Some("30 days")`) bounds the anchor state: a
    * bucket untouched for the TTL drops its anchor, and the next
    * arrival in that bucket becomes a fresh anchor (pairs across the
    * expiry horizon are forgone — bounded state for bounded recall,
    * the standard streaming-dedup trade). Touches refresh the TTL.
    * Default `None` keeps NoTimeout: anchors live forever. Same trigger
    * caveat as [[dedupStream]]: with a TTL, use ProcessingTime or
    * Trigger.Once, never AvailableNow.
    *
    * docs: streaming (doc_id long, text string) → (a, b) oriented pairs.
    */
  def neardupStream(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
                    shingle: Int = 5, stateTtl: Option[String] = None)(
      implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    val sigs = graft.canon.MinHash.minhashSignatures(docs, numHashes, shingle)
    graft.canon.MinHash.bandedBuckets(sigs, bands)
      .as[(Long, Int, Int)]
      .groupByKey { case (_, band, bh) => (band, bh) }
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), timeout) {
        (_: (Int, Int), rows: Iterator[(Long, Int, Int)], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val ids = rows.map(_._1).toArray
            val anchor =
              if (state.exists) state.get
              else { val a = ids.min; state.update(a); a }
            stateTtl.foreach(state.setTimeoutDuration)
            ids.iterator.filter(_ != anchor)
              .map(d => if (d < anchor) (d, anchor) else (anchor, d))
          }
      }
      .toDF("a", "b")
  }

  /** Portable-arithmetic twin of [[neardupStream]]: signatures and band
    * keys come from [[graft.canon.MinHash.portableMinhashSignatures]] /
    * `portableBandKeys` — no engine-internal hash anywhere in the
    * bucket keys — so the anchor-pair stream this emits is recomputable
    * by an external engine: the DuckDB oracle replays banding +
    * first-seen (min-id) anchors and must reproduce the pair set
    * exactly. Same keyed-state shape, state size and scale behavior as
    * the production variant; what changes is only that the machinery
    * becomes externally checkable, which a streaming dedup deployment
    * needs for audits as much as a batch one does.
    */
  def neardupStreamPortable(docs: DataFrame, numHashes: Int = 16,
                            bands: Int = 4, shingle: Int = 5)(
      implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val sigs = graft.canon.MinHash.portableMinhashSignatures(docs, numHashes, shingle)
    graft.canon.MinHash.portableBandKeys(sigs, bands, numHashes)
      .as[(Long, Int, String)]
      .groupByKey { case (_, band, bk) => (band, bk) }
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: (Int, String), rows: Iterator[(Long, Int, String)], state: GroupState[Long]) =>
          val ids = rows.map(_._1).toArray
          val anchor =
            if (state.exists) state.get
            else { val a = ids.min; state.update(a); a }
          ids.iterator.filter(_ != anchor)
            .map(d => if (d < anchor) (d, anchor) else (anchor, d))
      }
      .toDF("a", "b")
  }
}
