package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Fixed-point PageRank over an edge list — graph centrality as a
  * source/document ranking signal (the host-rank filter a CommonCrawl
  * curation pipeline applies, here runnable over any graft edge set:
  * the kNN similarity graph, DEPICTS co-mention edges, …).
  *
  * Determinism contract: all arithmetic is int64 — ranks live in
  * `scale` fixed-point units, every division is a truncating integer
  * div, and the per-vertex message reduce is an order-free integer sum,
  * so the result is bit-identical across partitionings, reruns, and
  * engines (the DuckDB oracle replays all iterations as chained CTEs).
  * Damping 0.85 is the integer pair (85, 100); dangling mass (vertices
  * with no out-edges) is dropped, the standard simplification, applied
  * identically on both engines.
  *
  * Scale shape (the DataFrame Pregel idiom, same as
  * `canon/ConnectedComponents`): per iteration one equi-join of the
  * rank table against the degree-annotated edge list (shuffle keyed on
  * vertex id, AQE-skew-splittable) and one partial-agg sum keyed on the
  * destination — work is O(|E|) per iteration with no corpus-sized
  * state on any single task. `localCheckpoint(true)` truncates the
  * plan each iteration so the analyzer never walks an unrolled
  * 5-iteration lineage (the wide-plan cost CLAUDE.md documents).
  */
object GraphRank {

  /** @param nodes one column `id` (long) — every vertex, including
    *              sinks that only receive rank
    * @param edges columns `src`, `dst` (long) — directed, parallel
    *              edges count twice
    * @return (id, rank_fp): rank in `scale` fixed-point units; the
    *         column sums to ~scale (minus truncation dust)
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 5,
               scale: Long = 1000000000000L): DataFrame = {
    val n = nodes.count()
    require(n > 0, "pageRank: empty vertex set")
    val init = scale / n
    val base = 15L * init / 100L
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // the degree-annotated edge list is reused every iteration
    val ed = edges.join(deg, Seq("src"))
      .select(col("src"), col("dst"), col("deg")).localCheckpoint(true)
    val ids = nodes.select(col("id")).localCheckpoint(true)
    var rank = ids.select(col("id"), lit(init).as("r"))
    for (_ <- 0 until iters) {
      val msgs = ed.join(rank, ed("src") === rank("id"))
        .select(col("dst").as("id"), expr("r div deg").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      rank = ids.join(msgs, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr("(85L * coalesce(s, 0L)) div 100L")).as("r"))
        .localCheckpoint(true)
    }
    rank.select(col("id"), col("r").as("rank_fp"))
  }

  /** Per-vertex triangle counts on the symmetrized edge set — the
    * local-clustering signal (a vertex in many triangles sits in a
    * tight near-dup/topic cluster; a high-centrality vertex in none is
    * a hub worth inspecting).
    *
    * The standard distributed enumeration: orient every undirected edge
    * a < b, build wedges with one equi-join (e1.b = e2.a keeps a<b<c
    * ordered, so each triangle is enumerated exactly once), close them
    * with a second equi-join. On a kNN graph degree ≤ 2k, so work is
    * O(N·k²) — never the m^1.5 worst case a power-law graph would
    * need skew handling for (AQE skew-split applies if fed one).
    */
  def triangleCounts(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct().localCheckpoint(true)
    val wedge = und.as("e1").join(und.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    val tri = wedge.join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
    val per = tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    nodes.join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Synchronous label propagation — community detection (topic /
    * near-dup neighborhoods) over the symmetrized edge set, made fully
    * deterministic: every vertex starts labeled with its own id, each
    * of the `iters` rounds every vertex adopts the MOST FREQUENT label
    * among its neighbors with ties broken by the SMALLEST label (the
    * classic LPA randomization replaced by a total order, so reruns,
    * partitionings and engines agree bit for bit — the oracle unrolls
    * every round). Unlike connected components (pure reachability),
    * the frequency argmax pulls dense subgraphs together while
    * resisting single bridge edges. Vertices with no neighbors keep
    * their own label.
    *
    * Scale shape per round: one edge⋈label equi-join, one
    * (vertex, label) partial-agg count, one vertex-keyed window argmax
    * — all corpus-keyed shuffles, no global ordering anywhere;
    * localCheckpoint truncates the plan per round.
    */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
                       iters: Int = 4): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val ids = nodes.select(col("id")).localCheckpoint(true)
    var lab = ids.select(col("id"), col("id").as("label"))
    for (_ <- 0 until iters) {
      val cnt = und.join(lab, und("src") === lab("id"))
        .select(col("dst").as("id"), col("label"))
        .groupBy("id", "label").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("id").orderBy(col("c").desc, col("label").asc)
      val newLab = cnt.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).select(col("id"), col("label"))
      lab = ids.join(newLab, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
        .localCheckpoint(true)
    }
    lab
  }

  /** One-hop neighbor mean aggregation — the GraphSAGE/GCN message-
    * passing primitive as a batch job: every vertex's aggregated
    * feature is the per-dimension MEAN of its (symmetrized) neighbors'
    * embeddings, in exact int64 fixed point — each coordinate
    * quantizes to micro units by the audited round-half-up recipe
    * (`floor(x·10⁶ + 0.5)`, the integer-cents pattern), the per-(vertex,
    * dim) reduce is an order-free integer sum, and the mean is one
    * truncating division — so the aggregated features are bit-identical
    * across partitionings and engines (float summation order never
    * enters).
    *
    * Output: (id, dim, n_nbrs, mean_fp) exploded rows. Scale shape:
    * map-side posexplode of the feature vectors → ONE vertex-keyed
    * equi-join against the edge list → (vertex, dim) partial-agg sum;
    * work O(|E|·dims) with no corpus-sized state per task, AQE
    * skew-split on power-law hubs.
    */
  def neighborMean(features: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct()
    val f = features
      .select(col("id"), posexplode(col("vec")).as(Seq("dim", "x")))
      .select(col("id"), col("dim").cast("long").as("dim"),
        floor(col("x") * lit(1000000.0) + lit(0.5)).cast("long").as("q"))
    und.join(f, und("src") === f("id"))
      .groupBy(col("dst").as("id2"), col("dim"))
      .agg(count(lit(1)).as("n_nbrs"), sum("q").as("s"))
      .select(col("id2").as("id"), col("dim"), col("n_nbrs"),
        expr("s div n_nbrs").as("mean_fp"))
  }

  /** Personalized PageRank: the teleport mass restarts at the SEED SET
    * instead of uniformly — rank measures proximity to the seeds, the
    * seed-expansion primitive of curation ("documents like the curated
    * anchors", the Wikipedia-seeded quality-propagation trick) and of
    * KG relevance ("entities near this component"). Same integer
    * determinism contract and per-iteration shape as [[pageRank]]
    * (truncating int64 fixed point, order-free message sums,
    * localCheckpoint plan truncation); non-seeds start at 0 and receive
    * no restart mass, so rank decays with graph distance from the
    * seeds. Dangling mass is dropped, as in [[pageRank]].
    */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
                           seeds: DataFrame, iters: Int = 5,
                           scale: Long = 1000000000000L): DataFrame = {
    val ns = seeds.count()
    require(ns > 0, "personalizedPageRank: empty seed set")
    val init = scale / ns
    val base = 15L * init / 100L
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, Seq("src"))
      .select(col("src"), col("dst"), col("deg")).localCheckpoint(true)
    val ids = nodes.select(col("id"))
      .join(seeds.select(col("id"), lit(true).as("is_seed")), Seq("id"), "left")
      .select(col("id"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .localCheckpoint(true)
    var rank = ids.select(col("id"),
      when(col("is_seed"), lit(init)).otherwise(lit(0L)).as("r"))
    for (_ <- 0 until iters) {
      val msgs = ed.join(rank, ed("src") === rank("id"))
        .select(col("dst").as("id"), expr("r div deg").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      rank = ids.join(msgs, Seq("id"), "left")
        .select(col("id"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
            expr("(85L * coalesce(s, 0L)) div 100L")).as("r"))
        .localCheckpoint(true)
    }
    rank.select(col("id"), col("r").as("ppr_fp"))
  }

  /** HITS hubs & authorities (Kleinberg) over the DIRECTED edge set —
    * the complementary centrality pair to [[pageRank]]: an authority is
    * pointed at by good hubs, a hub points at good authorities (for a
    * kNN curation graph: authorities are consensus near-centroids of a
    * topic cluster, hubs the documents whose neighbor lists cover it).
    *
    * Determinism contract: UNNORMALIZED integer mutual recursion —
    * h⁰ = 1, aʳ_i = Σ_{j→i} hʳ⁻¹_j, hʳ_i = Σ_{i→j} aʳ_j — pure
    * order-free int64 sums with NO division anywhere, so scores are
    * bit-identical across partitionings and engines and the oracle
    * unrolls every round as chained CTEs. Magnitudes grow as
    * maxdeg^(2·iters) — bounded on a kNN graph (deg ≤ 2k); production
    * on a power-law graph adds the usual per-round scalar normalization
    * (a one-row fold), which this fixed-round exact variant deliberately
    * omits to keep the contract division-free.
    *
    * Scale shape per round: two vertex-keyed equi-joins + partial-agg
    * sums (messages reduce map-side before the shuffle), work O(|E|),
    * `localCheckpoint(true)` truncating the iteration lineage — the
    * [[pageRank]] discipline exactly.
    */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int = 4): DataFrame = {
    val ed = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val ids = nodes.select(col("id")).localCheckpoint(true)
    var hub = ids.select(col("id"), lit(1L).as("h"))
    var auth = ids.select(col("id"), lit(0L).as("a"))
    for (_ <- 0 until iters) {
      val am = ed.join(hub, ed("src") === hub("id"))
        .select(col("dst").as("id"), col("h"))
        .groupBy("id").agg(sum("h").as("s"))
      auth = ids.join(am, Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0L)).as("a"))
        .localCheckpoint(true)
      val hm = ed.join(auth, ed("dst") === auth("id"))
        .select(col("src").as("id"), col("a"))
        .groupBy("id").agg(sum("a").as("s"))
      hub = ids.join(hm, Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0L)).as("h"))
        .localCheckpoint(true)
    }
    hub.join(auth, Seq("id"))
      .select(col("id"), col("h").as("hub_score"), col("a").as("auth_score"))
  }

  /** Adamic–Adar link prediction over the symmetrized edge set: score
    * every NON-adjacent pair (a < b) that shares at least one common
    * neighbor by Σ_z 1/log(deg z) — rare shared neighbors count more —
    * the classic missing-edge ranker (here: kNN edges the blocked
    * candidate generation missed, i.e. near-dup pairs worth a second
    * verify pass).
    *
    * Integer contract: the per-vertex weight is
    * 1000000 div milliLog2(deg z) (the interpolated floor-log2 recipe
    * every scoring op here shares), so scores are exact int64 micro
    * units an external engine replays bit for bit. A common neighbor
    * has degree ≥ 2 by construction, so the divisor is ≥ 1000 — never
    * zero.
    *
    * Scale shape: wedge enumeration is ONE self-equi-join on the hub
    * vertex (work Σ deg² — bounded by (2k)² per vertex on a kNN graph;
    * AQE skew-split handles power-law hubs), existing edges leave via
    * a broadcast-able anti-join, then a (a,b)-keyed partial agg and a
    * bounded TakeOrdered. No global sort, no cartesian.
    */
  def adamicAdar(nodes: DataFrame, edges: DataFrame, k: Int = 50): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val inv = und.groupBy(col("dst").as("z"))
      .agg(count(lit(1)).as("deg"))
      // only deg >= 2 vertices can BE common neighbors; the filter also
      // keeps milliLog2(deg) >= 1000, so the ANSI div never sees zero
      .where(col("deg") >= 2)
      .withColumn("inv_micro",
        expr(s"1000000L div (${Selection.logRatioMilli("deg", "1")})"))
      .select("z", "inv_micro")
    val wedge = und.as("e1")
      .join(und.as("e2"),
        col("e1.dst") === col("e2.src") && col("e1.src") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e2.dst").as("b"), col("e1.dst").as("z"))
    val nonEdge = wedge.join(
      und.select(col("src").as("a"), col("dst").as("b")),
      Seq("a", "b"), "left_anti")
    nonEdge.join(inv, Seq("z"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum("inv_micro").as("aa_micro"))
      .orderBy(desc("aa_micro"), asc("a"), asc("b"))
      .limit(k)
  }

  /** k-core onion peel: the iterative-removal decomposition (Seidman's
    * k-core via Batagelj-Zaveršnik peeling, round-synchronous) — each
    * round every vertex with CURRENT degree < k leaves, edges touching
    * it vanish, and the cascade repeats. Output is one row per vertex:
    * `layer` = the round (1-based) it fell out, 0 = still in the
    * k-core after `rounds` rounds. Peel depth reads as embeddedness —
    * layer-1 vertices are fringe, layer-0 the dense core (for a
    * curation graph: how tightly a document sits in its near-dup
    * neighborhood).
    *
    * Deterministic by construction (the synchronous cascade has no
    * tie-breaks), so a fixed `rounds` unrolls into an exact external
    * replay. Scale shape per round: one partial-agg degree count, a
    * left join onto the alive-vertex set, two semi-joins to drop dead
    * edges — all key-partitioned shuffles, localCheckpoint truncating
    * the iteration's lineage (the CC/label-prop discipline).
    */
  def kCorePeel(nodes: DataFrame, edges: DataFrame, k: Int,
                rounds: Int = 4): DataFrame = {
    var alive = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    var verts = nodes.select(col("id")).localCheckpoint(true)
    var layers = verts.select(col("id"), lit(0L).as("layer")).limit(0)
    for (r <- 1 to rounds) {
      val deg = verts.join(
          alive.groupBy(col("dst").as("id")).agg(count(lit(1)).as("d")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("d"), lit(0L)).as("d"))
      val dropped = deg.where(col("d") < k)
        .select(col("id"), lit(r.toLong).as("layer"))
      layers = layers.unionAll(dropped).localCheckpoint(true)
      verts = deg.where(col("d") >= k).select("id").localCheckpoint(true)
      alive = alive
        .join(verts.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(verts.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst").localCheckpoint(true)
    }
    layers.unionAll(verts.select(col("id"), lit(0L).as("layer")))
  }

  /** Multi-source BFS layers: every vertex labeled with the round at
    * which the expanding frontier first reaches it (0 = seed, -1 =
    * unreached after `rounds`) — distance labeling from a seed set,
    * the reachability primitive under "how far is this document from
    * the curated anchors" queries.
    *
    * Round-synchronous and tie-free (a vertex reached by several
    * frontier members gets the same round regardless), so a fixed
    * `rounds` unrolls into an exact oracle replay. Per round: one
    * frontier⋈edges equi-join, a distinct, an anti-join against the
    * settled set — frontier-sized work, never corpus², with
    * localCheckpoint truncating the iteration lineage.
    */
  /** Weighted multi-source shortest path, Bellman-Ford style: `rounds`
    * synchronous relaxation sweeps over INTEGER edge weights (column
    * `w`) — after round r every shortest path of ≤ r hops is settled,
    * so a fixed `rounds` is an exact ≤-r-hop distance labeling and
    * unrolls into an exact oracle replay (integer sums have no
    * accumulation-order ambiguity, unlike float weights). Unreached
    * vertices report -1.
    *
    * Per round: one settled⋈edges equi-join + a (vertex) min partial
    * agg — |reached-edges| work per sweep, never corpus², with
    * localCheckpoint truncating the iteration lineage exactly like
    * [[bfsLayers]]. Edges are symmetrized inside; weights must be
    * direction-symmetric (derive from the unordered endpoint pair).
    */
  def ssspRounds(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                 rounds: Int = 4): DataFrame = {
    val und = edges.select(col("src"), col("dst"), col("w"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    var dist = nodes.join(seeds, Seq("id"), "left_semi")
      .select(col("id"), lit(0L).as("dist")).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val relaxed = und.join(dist.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionAll(relaxed).groupBy("id").agg(min("dist").as("dist"))
        .localCheckpoint(true)
    }
    nodes.join(dist, Seq("id"), "left")
      .select(col("id"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }

  /** DeepWalk-style random-walk corpus generation: one walk of
    * `steps` hops from every vertex, producing the (walk, position,
    * node) sequences a skip-gram embedding trains on (Perozzi et al.
    * 2014 — the graph-to-training-data bridge; the walked graph here is
    * any graft edge set, e.g. the kNN similarity graph).
    *
    * The "random" neighbor choice is DERANDOMIZED the portable way:
    * hop `t` of walk `w` at node `u` goes to the out-neighbor `d`
    * minimizing `md5("w_t_d") % 10^6` (ties by `d`) — per-walk,
    * per-step independent pseudo-randomness that both engines compute
    * from their own md5, so the whole corpus is bit-reproducible
    * across partitionings, reruns, and engines (same derandomization
    * every portable twin here uses; true RNG would also break resume).
    * Walks stop early at sinks (no out-edges) — positions are then
    * simply absent, the skip-gram consumer's natural contract.
    *
    * Scale shape: per hop ONE equi-join of the frontier (≤ one row per
    * walk) against the edge list keyed on the current node — AQE-skew-
    * splittable when a hub node hosts many walks — and one partial-agg
    * `min_by` keyed on walk id, so hop cost is O(walks · out-degree)
    * with no corpus-sized state anywhere; `localCheckpoint` truncates
    * the per-hop lineage exactly like [[bfsLayers]]. The union of
    * `steps`+1 bounded frontiers is the output.
    */
  def randomWalks(nodes: DataFrame, edges: DataFrame, steps: Int = 4): DataFrame = {
    val ed = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var frontier = nodes
      .select(col("id").as("walk_id"), col("id").as("node"))
      .localCheckpoint(true)
    val parts = Seq.newBuilder[DataFrame]
    parts += frontier.withColumn("step", lit(0L))
    for (t <- 1 to steps) {
      frontier = frontier
        .join(ed.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("walk_id"), col("dst"),
          hashBucket(
            concat_ws("_", col("walk_id"), lit(t), col("dst"))).as("h"))
        .groupBy("walk_id")
        .agg(min_by(col("dst"), struct(col("h"), col("dst"))).as("node"))
        .localCheckpoint(true)
      parts += frontier.withColumn("step", lit(t.toLong))
    }
    parts.result().reduce(_ unionByName _)
      .select(col("walk_id"), col("step"), col("node"))
  }

  def bfsLayers(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                rounds: Int = 4): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    var dist = nodes.join(seeds, Seq("id"), "left_semi")
      .select(col("id"), lit(0L).as("dist")).localCheckpoint(true)
    var frontier = dist.select("id")
    for (r <- 1 to rounds) {
      val next = und
        .join(frontier.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .select(col("dst").as("id")).distinct()
        .join(dist, Seq("id"), "left_anti")
        .select(col("id"), lit(r.toLong).as("dist")).localCheckpoint(true)
      dist = dist.unionAll(next).localCheckpoint(true)
      frontier = next.select("id")
    }
    nodes.join(dist, Seq("id"), "left")
      .select(col("id"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }
}
