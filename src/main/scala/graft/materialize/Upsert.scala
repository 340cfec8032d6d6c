package graft.materialize

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Idempotent write primitives (reference A17/A20).
  *
  * The reference's find-before-create upserts (datastore.py:10-15,
  * frame.py:23-29, cluster.py:14-23) become dedup + anti-join — the
  * MERGE-INTO shape realized on plain partitioned tables; cascading
  * deletes (datastore.py:51-58, similarity_pipeline.py:32-40) become
  * predicate-scoped rewrites (partition drop when the predicate is the
  * partition key).
  */
object Upsert {

  /** MERGE-style upsert: keep all existing rows, add incoming rows whose
    * key is absent. Incoming dupes collapse to one row per key via
    * `dropDuplicates(keys)`, which keeps an arbitrary one of them: rows
    * that share a key but differ in other columns give no guaranteed
    * winner.
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val deduped = incoming.dropDuplicates(keys)
    // the live keys are not deduplicated: repeats on the right of an
    // anti-join cannot change which rows it keeps, and a distinct would
    // cost a shuffle and an aggregate over the whole live graph per batch
    existing.unionByName(
      deduped.join(existing.select(keys.map(col): _*), keys, "left_anti"))
  }

  /** `fail_on_exists` analog (ship.py:10-16): throws if any incoming key
    * already exists.
    */
  def insertNew(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val clash = incoming.join(existing, keys, "left_semi").limit(1).count()
    require(clash == 0, s"insertNew: key(s) already exist for $keys")
    existing.unionByName(incoming.dropDuplicates(keys))
  }

  /** Per-inspection cascading retract (datastore.py:54-58): drop all
    * triples whose subject or object belongs to the inspections' frames
    * or derived nodes. Returns the surviving triple set (a partition
    * rewrite in table terms).
    */
  def retractInspections(triples: DataFrame, inspectionIds: Seq[Long]): DataFrame = {
    val ids = inspectionIds.map(_.toString)
    val ownedBy = (c: org.apache.spark.sql.Column) =>
      ids.map(i => c === s"i_$i" || c.startsWith(s"$i.") ||
        c.startsWith(s"c$i.") || c.startsWith(s"m$i.")).reduce(_ || _)
    triples.where(!(ownedBy(col("subj")) || ownedBy(col("obj"))))
  }

  /** Time-travel over a triple CHANGE LEDGER: reconstruct the graph as
    * of `tsUs` from an append-only stream of `add`/`del` operations —
    * the snapshot query every versioned store supports, and the natural
    * readback for the upsert/retract ledger this file writes (the
    * reference rebuilds state by replaying datastore.py's
    * create/delete calls in order; here the replay is one window).
    *
    * Input columns: subj, pred, obj, op ∈ {add, del}, ts_us, event_id
    * (the per-key tiebreak for equal timestamps). A key is IN the
    * snapshot iff its latest operation at-or-before `tsUs` is an `add`;
    * `since_us` reports that operation's timestamp.
    *
    * Plan: timestamp filter (pushed to the scan) → one window keyed by
    * (subj, pred, obj) — a hash shuffle on the triple key, rank-1
    * filter, nothing quadratic and no global ordering; at 100 TB this
    * is the same shape as any keyed dedup and AQE skew-split applies.
    */
  def asOfSnapshot(ledger: DataFrame, tsUs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("subj", "pred", "obj")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    ledger.where(col("ts_us") <= tsUs)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("op") === "add")
      .select(col("subj"), col("pred"), col("obj"),
        col("ts_us").as("since_us"), col("event_id").as("last_event_id"))
  }

  /** Graph diff between two ledger snapshots: every (subj, pred, obj)
    * whose LIVENESS changed between T1 and T2 — `added` (live at T2,
    * not at T1) or `removed` (live at T1, gone at T2) — the
    * change-audit view over the same add/del ledger [[asOfSnapshot]]
    * reads (what a downstream consumer syncs on instead of re-reading
    * the full graph). Scale shape: each snapshot is one triple-keyed
    * latest-op-wins window over its `ts <= T` slice; the diff is two
    * triple-keyed anti-joins — all exchanges keyed on the triple, no
    * global state.
    */
  def snapshotDiff(ledger: DataFrame, t1Us: Long, t2Us: Long): DataFrame = {
    require(t1Us <= t2Us, s"snapshotDiff: t1 $t1Us > t2 $t2Us")
    // one scan, one triple-keyed aggregation (optimization round 6):
    // the previous shape ran asOfSnapshot twice (two scans + two
    // windows) and diffed with two anti-joins. The latest operation
    // at-or-before each boundary is a conditional max over
    // (ts_us, event_id, op) structs — lexicographic max = the window's
    // rank-1 row — and liveness-changed is a plain predicate on the
    // two argmax results. Row set identical to the anti-join diff.
    val l1 = max(when(col("ts_us") <= t1Us,
      struct(col("ts_us"), col("event_id"), col("op")))).as("l1")
    val l2 = max(when(col("ts_us") <= t2Us,
      struct(col("ts_us"), col("event_id"), col("op")))).as("l2")
    ledger.where(col("ts_us") <= t2Us)
      .groupBy("subj", "pred", "obj").agg(l1, l2)
      .withColumn("live1", coalesce(col("l1.op") === "add", lit(false)))
      .withColumn("live2", coalesce(col("l2.op") === "add", lit(false)))
      .where(col("live1") =!= col("live2"))
      .select(col("subj"), col("pred"), col("obj"),
        when(col("live2"), lit("added")).otherwise(lit("removed")).as("change"))
  }

  /** Similarity-only retract (similarity_pipeline.py:32-40): drop
    * similarity/cluster predicates for the given inspections, keep the
    * construction triples.
    */
  def retractSimilarity(triples: DataFrame, inspectionIds: Seq[Long]): DataFrame = {
    val simPreds = Seq("SIMILAR_TO", "VISUALLY_SIMILAR_TO", "IN_CLUSTER")
    val ids = inspectionIds.map(_.toString)
    val owned = (c: org.apache.spark.sql.Column) =>
      ids.map(i => c.startsWith(s"$i.") || c.startsWith(s"c$i.")).reduce(_ || _)
    triples.where(!(col("pred").isin(simPreds: _*) &&
      (owned(col("subj")) || owned(col("obj")))))
  }
}
