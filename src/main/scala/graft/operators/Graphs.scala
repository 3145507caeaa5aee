package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph-shaped post-processing for dedup pipelines.
  *
  * Near-dup detection yields PAIRS; deduplication needs CLUSTERS (keep one
  * doc per connected component of the similarity graph). This is min-label
  * propagation expressed as joins, accelerated with pointer jumping:
  * each round a vertex adopts the minimum of its own label, its neighbours'
  * labels, and its label's label (`component(component(v))`). The jump step
  * doubles the effective propagation distance per round, so convergence is
  * O(log diameter) rounds instead of O(diameter) — a 2^30-diameter chain
  * (beyond any real corpus) finishes inside the default iteration budget.
  *
  * Small graphs never reach those rounds: [[connectedComponentsAuto]],
  * [[pageRank]] and [[personalizedPageRank]] materialise the edge list,
  * count it, and at or under `DriverEdgeLimit` edges collect it and run
  * the same exact algorithm on the driver, with no per-round Spark job
  * ([[Materialize.collectIfAtMost]]). Above the cap every round of the
  * distributed loop materialises through [[Materialize]] (localCheckpoint by
  * default: bounded lineage, no leaked cache entries; replicated persist
  * via `spark.graft.materialize.mode=persist` when executors can be lost);
  * iteration state is one narrow (vertex, component) frame shuffled on the
  * vertex id.
  */
object Graphs {

  /** Edge count at or under which the graph operators collect the edge list
    * and iterate on the driver: a million edges is tens of MB of driver
    * memory, and per-round Spark jobs cost more than the arithmetic. */
  private val DriverEdgeLimit = 1000000L

  /** Connected components over an undirected edge list.
    *
    * @param edges  (srcCol, dstCol) pairs
    * @return (vertex, component) — component = min vertex id reachable.
    * @throws IllegalStateException if the labels have not converged after
    *         `maxIterations` rounds (returning non-converged — i.e. wrong —
    *         cluster ids silently is never acceptable).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int = 25): DataFrame = {
    // materialise the edge list BEFORE symmetrising: both union legs read
    // it, and the upstream pair pipeline (shingling + blocked join + verify)
    // is far too expensive to execute twice. The union itself stays lazy —
    // it is a narrow op over the checkpointed blocks, and min-propagation is
    // idempotent over duplicate edges, so no distinct (a full extra shuffle
    // of the edge list) and no second checkpoint are needed
    val mat = Materialize(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val sym = mat.union(mat.select(col("dst").as("src"), col("src").as("dst")))

    // init already folds one neighbour-min round: component0(v) =
    // min(v, N(v)) — same aggregation cost as building the plain vertex
    // list, one fewer loop iteration
    // matState is the materialized frame of the round (release target in
    // persist mode); labels is the (vertex, component) view over it
    var matState = sym.groupBy(col("src").as("vertex"))
      .agg(least(min(col("dst")), col("src")).as("component"))
      .transform(Materialize.apply)
    var labels = matState

    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // min label over the vertex's neighbours
      val viaNeighbours = sym
        .join(labels.withColumnRenamed("vertex", "dst")
          .withColumnRenamed("component", "n_component"), Seq("dst"))
        .groupBy(col("src").as("vertex"))
        .agg(min(col("n_component")).as("n_component"))
      // pointer jump: the label of the vertex's current label
      val viaJump = labels.select(col("vertex").as("component"), col("component").as("j_component"))
      val next = labels
        .join(viaNeighbours, Seq("vertex"), "left")
        .join(viaJump, Seq("component"), "left")
        .select(col("vertex"),
          least(
            col("component"),
            coalesce(col("n_component"), col("component")),
            coalesce(col("j_component"), col("component"))).as("component"),
          col("component").as("old"))
        .transform(Materialize.apply)
      converged = next.where(col("component") =!= col("old")).limit(1).count() == 0
      Materialize.release(matState) // superseded round state (persist mode only)
      matState = next
      labels = next.select(col("vertex"), col("component"))
      iter += 1
    }
    Materialize.release(mat)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIterations rounds; " +
          "raise maxIterations (rounds needed ~ log2 of the largest component's diameter)")
    labels
  }

  /** Adaptive connected components: near-dup graphs are SPARSE (edges ≪
    * vertices after LSH banding), so after materialising the edge list the
    * actual edge count is known for the price of a count over checkpointed
    * blocks — the same runtime-statistics trick AQE uses to pick broadcast
    * joins. At or below `driverEdgeLimit` integral-keyed edges the
    * component labels come from a driver union-find (milliseconds, zero
    * iterative Spark jobs); above it, or for non-integral vertex ids, the
    * distributed pointer-jumping loop runs unchanged. Both paths produce
    * identical labels (component = min reachable vertex id). */
  def connectedComponentsAuto(edges: DataFrame, srcCol: String, dstCol: String,
      driverEdgeLimit: Long = DriverEdgeLimit, maxIterations: Int = 25): DataFrame = {
    val sel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val integral = sel.schema.fields.forall(f =>
      Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType))
    if (!integral) return connectedComponents(edges, srcCol, dstCol, maxIterations)
    val mat = Materialize(sel)
    val result = Materialize.collectIfAtMost(mat, driverEdgeLimit) match {
      case Some(rows) =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        val verts = scala.collection.mutable.HashSet.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        rows.foreach { row =>
          if (!row.isNullAt(0) && !row.isNullAt(1)) {
            val (a, b) = (row.getAs[Number](0).longValue(), row.getAs[Number](1).longValue())
            verts += a; verts += b
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) { // min-label union: the smaller root wins
              if (ra < rb) parent(rb) = ra else parent(ra) = rb
            }
          }
        }
        val labels = verts.iterator.map(v => (v, find(v))).toSeq
        val spark = edges.sparkSession
        import spark.implicits._
        labels.toDF("vertex", "component")
          .select(col("vertex").cast(sel.schema("src").dataType),
            col("component").cast(sel.schema("src").dataType))
      case None => connectedComponents(mat, "src", "dst", maxIterations)
    }
    Materialize.release(mat)
    result
  }

  /** Fixed-iteration PageRank over an edge list — the importance/centrality
    * primitive (seed-page weighting, spam-domain discounting, entity
    * salience). Deterministic by construction: a FIXED number of power
    * iterations (no convergence test — runs are reproducible and the
    * computation is SQL-unrollable for verification), each score rounded to
    * `iterScale` decimals per round so independent engines cannot drift
    * apart through float sum ordering.
    *
    * Dangling vertices (no out-edges) leak their mass — the plain
    * power-iteration variant; total mass is then < 1, which rescales
    * rankings identically and keeps each iteration a single join + agg
    * (dangling redistribution would add a global barrier per round).
    * Multi-edges count multiplicity (a src with two edges to the same dst
    * sends it double weight); pre-`distinct` the edges to change that.
    * Edges with a null endpoint are dropped.
    *
    * Scale shape: at or under `DriverEdgeLimit` edges whose endpoints share
    * one integral or string type, the rounds run on the driver over the
    * collected edge list, with no per-round Spark job. Otherwise each
    * iteration is one shuffle joining scores to edges on src (out-degree
    * pre-attached) and one map-combined aggregation by dst; the score
    * relation is |V|-sized and edges never re-shuffle once bucketed.
    * Output: (vertex, pagerank) over ALL vertices, including dangling ones,
    * with the input's vertex type.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, damping: Double = 0.85,
      iterScale: Int = 9, scale: Int = 6): DataFrame =
    powerIterate(edges, srcCol, dstCol, None, iterations, damping, iterScale, scale)

  /** Personalized PageRank: teleport mass restarts ONLY at the `seeds`
    * (compared on the vertex's string form), so scores measure proximity
    * to the seed set — the trust/quality-propagation variant ("rank pages
    * by closeness to hand-vetted domains"). Same determinism contract and
    * scale shape as [[pageRank]]: fixed iterations, per-round rounding,
    * dangling leak. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[String], iterations: Int = 3, damping: Double = 0.85,
      iterScale: Int = 9, scale: Int = 6): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    powerIterate(edges, srcCol, dstCol, Some(seeds), iterations, damping, iterScale, scale)
  }

  /** Spark's `round` on a double: HALF_UP on the double's decimal string;
    * NaN and the infinities pass through. */
  private def roundHalfUp(d: Double, scale: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Vertex types whose collected values (boxed integers, `String`) are
    * equal on the driver exactly when Spark's grouping puts them together. */
  private val driverVertexTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, StringType)

  /** Shared core of [[pageRank]] (`seeds` None: teleport to every vertex)
    * and [[personalizedPageRank]] (teleport to the seeds only). Null
    * endpoints are dropped and the edge list is materialized once. At or
    * under `driverEdgeLimit` edges whose endpoints share one type in
    * `driverVertexTypes`, [[powerIterateLocal]] runs the rounds on the
    * driver; otherwise [[powerIterateDistributed]] runs them on the same
    * materialized edges. `driverEdgeLimit = 0` forces the distributed
    * rounds on any non-empty graph (a negative one on any graph), which is
    * how the specs pin the two paths to identical rows. */
  private[graft] def powerIterate(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Option[Seq[String]], iterations: Int, damping: Double, iterScale: Int,
      scale: Int, driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val sel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val e = Materialize(sel) // reused every iteration
    val vertexType = sel.schema("src").dataType
    val collected =
      if (vertexType == sel.schema("dst").dataType && driverVertexTypes(vertexType))
        Materialize.collectIfAtMost(e, driverEdgeLimit)
      else None
    collected match {
      case Some(rows) =>
        Materialize.release(e)
        powerIterateLocal(edges.sparkSession, rows, vertexType, seeds,
          iterations, damping, iterScale, scale)
      case None =>
        powerIterateDistributed(e, seeds, iterations, damping, iterScale, scale)
    }
  }

  /** [[powerIterate]]'s rounds in plain Scala over the collected (src, dst)
    * rows, with the distributed rounds' arithmetic: out-degrees count
    * multi-edges and self-loops, each round sums pr/deg per destination
    * (dangling vertices send nothing), and `teleport + damping * in_mass`
    * is rounded to `iterScale` decimals. Only the order inside each
    * destination's sum can differ, and the per-round rounding absorbs it.
    * Vertices keep their collected values, so the output keeps the vertex
    * type and the seed test sees the same string form as Spark's cast. */
  private def powerIterateLocal(spark: SparkSession, rows: Array[Row], vertexType: DataType,
      seeds: Option[Seq[String]], iterations: Int, damping: Double, iterScale: Int,
      scale: Int): DataFrame = {
    val index = scala.collection.mutable.HashMap.empty[Any, Int]
    val verts = scala.collection.mutable.ArrayBuffer.empty[Any]
    def vertexId(v: Any): Int = index.getOrElseUpdate(v, { verts += v; verts.length - 1 })
    val src = rows.map(r => vertexId(r.get(0)))
    val dst = rows.map(r => vertexId(r.get(1)))
    val n = verts.length
    val deg = new Array[Long](n)
    src.foreach(s => deg(s) += 1)

    val (init, teleport) = seeds match {
      case None =>
        require(n > 0, "pageRank over an empty edge list (no non-null vertices)")
        (Array.fill(n)(roundHalfUp(1.0 / n, iterScale)), Array.fill(n)((1 - damping) / n))
      case Some(s) =>
        val seedSet = s.toSet
        val tp = verts.map(v => if (seedSet(v.toString)) (1 - damping) / s.size else 0.0).toArray
        val seedInit = roundHalfUp(1.0 / s.size, iterScale)
        (tp.map(t => if (t > 0.0) seedInit else 0.0), tp)
    }
    var pr = init
    for (_ <- 0 until iterations) {
      val inMass = new Array[Double](n)
      var k = 0
      while (k < src.length) {
        val s = src(k)
        if (pr(s) != 0.0) inMass(dst(k)) += pr(s) / deg(s)
        k += 1
      }
      pr = Array.tabulate(n)(v => roundHalfUp(teleport(v) + damping * inMass(v), iterScale))
    }
    val out = Seq.tabulate(n)(v => Row(verts(v), roundHalfUp(pr(v), scale)))
    spark.createDataFrame(out.asJava, StructType(Seq(
      StructField("vertex", vertexType), StructField("pagerank", DoubleType))))
  }

  /** [[powerIterate]]'s rounds as Spark jobs over the materialized edges `e`
    * (src, dst). One aggregation yields the vertex set with out-degrees;
    * personalized runs store their per-vertex teleport weight in it. */
  private def powerIterateDistributed(e: DataFrame, seeds: Option[Seq[String]],
      iterations: Int, damping: Double, iterScale: Int, scale: Int): DataFrame = {
    // vertex set AND out-degrees in ONE aggregation: both edge endpoints
    // flow into a single map-combined groupBy (src endpoints count toward
    // the degree, dst endpoints only assert existence) — replaces a
    // union-distinct, a second groupBy and a join
    val base0 = e.select(col("src").as("vertex"), lit(1L).as("c"))
      .unionByName(e.select(col("dst").as("vertex"), lit(0L).as("c")))
      .groupBy(col("vertex"))
      .agg(sum(col("c")).as("_deg0"))
      .withColumn("deg", when(col("_deg0") > 0, col("_deg0"))) // dangling -> null
      .drop("_deg0")
      .transform(Materialize.apply)

    // Broadcast gate sized in estimated BYTES, not rows: a 5M-vertex relation
    // with wide string keys is hundreds of MB and would OOM the driver if
    // force-broadcast by row count alone. One tiny agg over the materialized
    // base estimates the payload (key bytes + ~32B/row of numerics and
    // overhead); under the cap we ship the score relation to the edges
    // instead of shuffling the edge relation through a sort-merge join every
    // round — per-iteration work becomes map-side join + map-combined agg.
    // Past the cap (a real web graph) the shuffled join is the correct plan
    // and nothing changes. The same aggregation carries the vertex count
    // for pageRank's 1/n init — one sizing job, not two.
    val sizing = base0.agg(count(lit(1)).as("n"), coalesce(
      sum(octet_length(col("vertex").cast("string")).cast("long")), lit(0L)).as("kb")).head
    val estBytes = sizing.getLong(1) + sizing.getLong(0) * 32L
    val broadcastScores = estBytes <= 256L * 1024 * 1024

    val (base, initExpr, teleport) = seeds match {
      case None =>
        val n = sizing.getLong(0).toDouble
        require(n > 0, "pageRank over an empty edge list (no non-null vertices)")
        (base0, lit(roundHalfUp(1.0 / n, iterScale)), lit((1 - damping) / n))
      case Some(s) =>
        // the seed test is evaluated ONCE into a stored per-vertex teleport
        // column, not re-evaluated in every iteration's projection and
        // re-analyzed in every round's growing plan
        val aug = Materialize(base0.withColumn("_tp",
          when(col("vertex").cast("string").isin(s: _*), lit((1 - damping) / s.size))
            .otherwise(lit(0.0))))
        Materialize.release(base0)
        (aug, when(col("_tp") > 0.0, lit(roundHalfUp(1.0 / s.size, iterScale)))
          .otherwise(lit(0.0)), col("_tp"))
    }
    var scores = base.withColumn("pr", initExpr)
    var prevMat: DataFrame = null
    var it = 0
    while (it < iterations) {
      // Contribution frontier: dangling vertices have nothing to send, and
      // a vertex whose score is EXACTLY 0.0 sends exactly 0.0 to every
      // out-neighbour — dropping it leaves every dst's sum bit-identical
      // (IEEE x + 0.0 == x; an all-zero in-mass arrives as the same
      // coalesce(null, 0.0) either way), so the oracle's full-join unroll
      // still matches. For personalized PageRank this is delta-style
      // propagation for free: scores start 0 everywhere but the seeds, so
      // round r joins only the <= r-hop neighbourhood of the seed set
      // instead of |V| rows — on a 100-TB graph with a handful of trust
      // seeds, early rounds touch a vanishing fraction of the corpus.
      val active = scores.where(col("deg").isNotNull && col("pr") =!= 0.0)
      val contrib = (if (broadcastScores) broadcast(active) else active)
        .join(e, col("vertex") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("deg")).as("in_mass"))
      scores = base.join(contrib.withColumnRenamed("dst", "vertex"),
        Seq("vertex"), "left")
        .withColumn("pr", round(
          teleport + lit(damping) * coalesce(col("in_mass"), lit(0.0)),
          iterScale))
        .drop("in_mass")
      if (broadcastScores && iterations > 1 && it < iterations - 1) {
        // Cut lineage every round: each round otherwise nests the previous
        // round's broadcast exchange inside its own subtree, so plan
        // analysis, codegen, and the driver's in-flight broadcast set all
        // grow with the chain. Re-measured at sf0.1 (600k edges, 16k
        // vertices, 3 rounds): per-round materialization beats the fused
        // single-plan variant BOTH one-shot (4.0s vs 4.8s — the deep nested
        // plan's analysis+codegen dominates) and steady-state (2.3s vs
        // 2.7s), and it keeps every broadcast collection O(|V|) with
        // constant-size plans at any iteration count.
        val m = Materialize(scores)
        if (prevMat != null) Materialize.release(prevMat)
        prevMat = m
        scores = m
      }
      it += 1
    }
    val out = scores.select(col("vertex"), round(col("pr"), scale).as("pagerank"))
      .transform(Materialize.apply)
    Materialize.release(e); Materialize.release(base)
    if (prevMat != null) Materialize.release(prevMat)
    out
  }

  /** Dedup clusters from a document frame + near-dup pair frame: every doc
    * mapped to its cluster id (min doc id in the component; singletons map
    * to themselves) plus a keep flag. The components frame covers only
    * vertices that appear in a pair — at corpus scale it is far smaller than
    * `docs`, so AQE turns the left join into a broadcast. */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      idACol: String, idBCol: String): DataFrame = {
    val components = connectedComponentsAuto(pairs, idACol, idBCol)
      .withColumnRenamed("vertex", idCol)
    docs.select(col(idCol))
      .join(components, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_id"))
      .withColumn("keep", col(idCol) === col("cluster_id"))
  }
}
