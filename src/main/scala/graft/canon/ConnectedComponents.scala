package graft.canon

import graft.core.SmallSide
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative connected components over a (src, dst) edge table — the
  * canonicalization primitive (reference A25's DBSCAN grouping and the
  * north rule's entity-canonicalization stage), with no GraphFrames
  * dependency.
  *
  * Hash-min label propagation: every vertex repeatedly adopts the
  * minimum component id in its closed neighborhood until fixpoint.
  * Deterministic (min is order-free), partition-count independent.
  * Lineage is truncated with `localCheckpoint` every iteration, and the
  * messages stage aggregates BEFORE the join-back (partial aggregation
  * = map-side combine), so hot vertices (star graphs from ubiquitous
  * entities) don't concentrate on one task.
  */
object ConnectedComponents {

  /** edges: (src: long, dst: long). Returns (id: long, component: long)
    * where component = min vertex id of the component.
    *
    * Up to `collectThreshold` edges are fetched once
    * ([[graft.core.SmallSide]]) and joined on the driver by [[minRoots]],
    * which saves the ~4 barrier stages + checkpoint of every distributed
    * iteration; above it the distributed loop runs, so a billion-edge
    * graph never lands on the driver (≤ threshold longs ≈ 8 MB).
    */
  def run(edges: DataFrame, maxIter: Int = 25,
          collectThreshold: Long = 500000L)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val e0 = edges.select(col("src"), col("dst"))
    SmallSide.collect(e0, collectThreshold) match {
      // same vertex set as the distributed path: every endpoint of a
      // non-self edge (a vertex appearing ONLY in self-loops is absent
      // in both paths)
      case Some(rows) => minRoots(rows.map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => a != b }).toSeq.toDF("id", "component")
      case None => runDistributed(e0, maxIter)
    }
  }

  private def runDistributed(edges: DataFrame, maxIter: Int)(
      implicit spark: SparkSession): DataFrame = {
    // undirected: symmetrize once
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(eager = true)

    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(eager = true)

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // 1) min component among neighbors, partial-aggregated map-side
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .groupBy(col("dst").as("id2"))
        .agg(min(col("component")).as("nbrMin"))
      val stepped = labels.join(msgs, labels("id") === msgs("id2"), "left")
        .select(
          col("id"),
          least(col("component"), coalesce(col("nbrMin"), col("component"))).as("component"),
          (col("nbrMin").isNotNull && col("nbrMin") < col("component")).as("changed")
        )

      // 2) pointer jumping: component := component(component) — collapses
      // long chains in O(log diameter) rounds instead of O(diameter)
      val reps = stepped.select(col("id").as("rid"), col("component").as("rcomp"))
      val updated = stepped.join(reps, stepped("component") === reps("rid"), "left")
        .select(
          stepped("id"),
          least(stepped("component"), coalesce(col("rcomp"), stepped("component")))
            .as("component"),
          (stepped("changed") ||
            (col("rcomp").isNotNull && col("rcomp") < stepped("component"))).as("changed")
        )
        .localCheckpoint(eager = true)

      val nChanged = updated.where(col("changed")).count()
      labels = updated.drop("changed")
      converged = nChanged == 0
      iter += 1
    }
    labels
  }

  /** Same algorithm over string vertex ids (used for contracted graphs
    * like grid cells); representative = lexicographic min id.
    * edges: (srcS, dstS) → (sid, component_s).
    */
  def runString(edges: DataFrame, maxIter: Int = 25)(
      implicit spark: SparkSession): DataFrame =
    runDistributed(edges.select(col("srcS").as("src"), col("dstS").as("dst")), maxIter)
      .select(col("id").as("sid"), col("component").as("component_s"))

  /** Driver union-find: each endpoint of `edges` → the minimum vertex
    * of its component, the hash-min loop's representative (min-root union
    * keeps every root the minimum of its set). `find` halves paths in a
    * loop: min-root union can chain a whole component, too deep to recurse. */
  private[graft] def minRoots[T](edges: Iterable[(T, T)])(
      implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map[T, T]()
    @annotation.tailrec def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { parent(x) = parent(p); find(parent(x)) }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toList.map(k => k -> find(k)).toMap
  }
}
