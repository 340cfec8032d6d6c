package graft.canon

import graft.core.SmallSide
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Density clustering re-expressed Spark-first (reference A25:
  * sklearn DBSCAN(eps, min_samples=5) per inspection,
  * similarity_pipeline.py:139-150):
  *
  *   ε-neighbor join → core-point filter (≥ minPts neighbors incl.
  *   self) → connected components over core-core edges → border
  *   points attach to their minimum-id core neighbor's cluster.
  *
  * Same cluster semantics as DBSCAN for deterministic fixtures; noise
  * (non-core, no core neighbor) gets cluster number −1 exactly like
  * the reference (filtered by its queries, data_manager.py:137,254).
  */
object Dbscan {

  /** points: (id long, group string/long, vec array<double>).
    * Returns (id, group, cluster long) where cluster is a dense number
    * per group ordered by min member id; noise = −1.
    */
  def cluster(points: DataFrame, eps: Double, minPts: Int)(
      implicit spark: SparkSession): DataFrame =
    clusterFromNeighbors(points, exactNeighbors(points, eps), minPts)

  /** Web-scale variant: grid-DBSCAN. Points land in ε-sized grid cells
    * (map-only); a cell with ≥ minPts points is core; core cells that
    * are face-adjacent merge via connected components over the *cell*
    * graph — orders of magnitude smaller than the point graph, so the
    * iterative CC converges on a contracted problem. Density semantics
    * are the standard grid approximation of DBSCAN (cell diagonal ≤ ε
    * merge guarantee in each axis direction).
    *
    * The core cells are fetched once (graft.core.SmallSide). Up to
    * `collectThreshold` of them, the driver finishes the cell graph and
    * broadcasts the cell→cluster map; above it the cell graph, its
    * components and the numbering run distributed.
    */
  def clusterApprox(points: DataFrame, eps: Double, minPts: Int,
                    collectThreshold: Long = 2000000L)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // project early (guide §2.3): the vectors are consumed entirely by
    // the cell expression — dropping them keeps them out of every exchange
    val pts = points.select(col("id"), col("group"),
      concat_ws(",", col("group"),
        expr("array_join(transform(vec, v -> cast(floor(v / " + eps + ") as string)), '_')"))
        .as("cell"))

    val coreCells = pts.groupBy("group", "cell").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minPts)
      .select("group", "cell")
    val cellMap = SmallSide.collect(coreCells.select("cell"), collectThreshold) match {
      case Some(rows) => broadcast(numberCells(rows.map(_.getString(0))).toDF("cell", "cluster"))
      case None => numberCellsDistributed(
        coreCells.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }
    pts.join(cellMap, Seq("cell"), "left")
      .select(col("id"), col("group"), coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }

  /** The cell→cluster map of [[clusterApprox]] on the driver, equal to
    * [[numberCellsDistributed]]'s: a cell "<group>,<c0>_<c1>_…" links to
    * each face-adjacent core cell (one coordinate ±1, spelled as the SQL
    * spells it); a component is named by its lexicographically smallest
    * cell (`String` order is Spark's for these ASCII ids), and clusters
    * number the components of a group densely in that order. The edges
    * are a lazy view: only the union-find map (≤ one entry per cell) is held.
    */
  private def numberCells(cells: Array[String]): Seq[(String, Long)] = {
    val core = cells.toSet
    val edges = for {
      cell <- cells.view
      comma = cell.indexOf(',')
      coords = cell.substring(comma + 1).split('_').filter(_.nonEmpty).map(_.toLong)
      d <- coords.indices
      off <- Seq(1L, -1L)
      nbr = cell.substring(0, comma + 1) + coords.updated(d, coords(d) + off).mkString("_")
      if core(nbr)
    } yield (cell, nbr)
    val root = ConnectedComponents.minRoots(edges)
    cells.groupBy(c => c.substring(0, c.indexOf(','))).values.toSeq.flatMap { group =>
      val comp = group.map(c => c -> root.getOrElse(c, c))
      val rank = comp.map(_._2).distinct.sorted.zipWithIndex.toMap
      comp.map { case (c, k) => (c, rank(k).toLong) }
    }
  }

  /** [[numberCells]] as Spark jobs, for more core cells than the driver
    * holds: the cell graph's components via
    * [[ConnectedComponents.runString]], numbered by a window per group. */
  private def numberCellsDistributed(coreCells: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    // face-adjacent neighbor cells (±1 along each axis d)
    val withCoords = coreCells.withColumn("coords",
      split(element_at(split(col("cell"), ","), 2), "_").cast("array<long>"))
    val nbrCells = withCoords.select(col("group"), col("cell"), explode(flatten(
      transform(sequence(lit(0), size(col("coords")) - 1), d => array(Seq(1, -1).map(off =>
        concat_ws(",", col("group"), array_join(transform(col("coords"), (v, i) =>
          when(i === d, v + off).otherwise(v).cast("string")), "_"))): _*)))).as("nbr"))
    val cellEdges = nbrCells
      .join(coreCells.select(col("cell").as("nbr")), Seq("nbr"), "left_semi")
      .select(col("cell").as("srcS"), col("nbr").as("dstS"))

    // CC over the contracted cell graph (string ids, min-lexicographic rep)
    val comps = ConnectedComponents.runString(cellEdges)
    val cellComp = coreCells
      .join(comps, coreCells("cell") === comps("sid"), "left")
      .select(col("group"), col("cell"),
        coalesce(col("component_s"), col("cell")).as("component"))

    val w = Window.partitionBy("group").orderBy("component")
    cellComp.withColumn("cluster", (dense_rank().over(w) - 1).cast("long"))
      .select("cell", "cluster")
  }

  /** Exact in-group ε-ball join (fixture scale). */
  private def exactNeighbors(points: DataFrame, eps: Double): DataFrame = {
    val a = points.select(col("id").as("src"), col("group"), col("vec").as("va"))
    val b = points.select(col("id").as("dst"), col("group"), col("vec").as("vb"))
    a.join(b, Seq("group"))
      .where(col("src") =!= col("dst") &&
        KnnJoin.sqDist(col("va"), col("vb")) <= lit(eps * eps))
      .select("group", "src", "dst")
  }

  private def clusterFromNeighbors(points: DataFrame, neighborEdges: DataFrame,
                                   minPts: Int)(implicit spark: SparkSession): DataFrame = {
    val nbrs = neighborEdges.localCheckpoint(eager = true)

    val degrees = nbrs.groupBy("src").agg(count("*").as("deg"))
    // core: |N_eps(p)| >= minPts counting the point itself
    val core = degrees.where(col("deg") >= minPts - 1).select(col("src").as("id"))

    val coreEdges = nbrs
      .join(core.withColumnRenamed("id", "src"), Seq("src"))
      .join(core.withColumnRenamed("id", "dst"), Seq("dst"))
      .select("src", "dst")
    val comps = ConnectedComponents.run(coreEdges) // (id, component)

    // isolated core points (no core neighbor) are their own cluster
    val coreClusters = core
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))

    // border points: non-core with ≥1 core neighbor → min core neighbor's comp
    val borderClusters = nbrs
      .join(coreClusters.withColumnRenamed("id", "dst")
        .withColumnRenamed("component", "dstComp"), Seq("dst"))
      .join(coreClusters.withColumnRenamed("id", "src2"),
        col("src") === col("src2"), "left_anti") // src not core
      .groupBy(col("src").as("id"))
      .agg(min(col("dstComp")).as("component"))

    val assigned = coreClusters.unionByName(borderClusters)

    // dense per-group cluster numbers, deterministic by component id
    val withGroup = points.select("id", "group")
      .join(assigned, Seq("id"), "left")
    val wNum = Window.partitionBy("group").orderBy("component")
    val numbered = withGroup.where(col("component").isNotNull)
      .withColumn("cluster", dense_rank().over(wNum) - 1)
      .select("id", "group", "cluster")
    withGroup.where(col("component").isNull)
      .select(col("id"), col("group"), lit(-1L).as("cluster"))
      .unionByName(numbered.withColumn("cluster", col("cluster").cast("long")))
  }
}
