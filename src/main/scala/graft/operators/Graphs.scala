package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative fixpoint computations over edge lists — the graph family the
  * corpus pipeline needs beyond connected components ([[Dedup.connectedComponents]]
  * labels WHO is connected; centrality ranks who MATTERS inside the
  * similarity / citation / link structure, the standard coreset- and
  * crawl-prioritization signal).
  *
  * Everything here is edge-list dataflow: per-iteration cost is one
  * equi-join of ranks against edges plus a hash aggregation on the
  * destination — both shuffle on node ids only, never materializing a
  * matrix. Iterations are FIXED-count (deterministic output, replayable by
  * an oracle) rather than convergence-tested; production sweeps would wrap
  * the loop with a drift check like [[Similarity.kmeansCentroids]] does.
  */
object Graphs {

  /** Directed k-nearest-neighbor edges over an embedding table:
    * src -> its k most cosine-similar other vectors.
    *
    * Two exact tiers, size-gated: while the table fits one broadcast page
    * (`matrixRowLimit` rows of FLOAT vectors with BIGINT ids — the default
    * 256k × 64 dims ≈ 64 MB, a bounded documented collect) the candidate
    * set rides into every task as a [[graft.functions.NeighborMatrix]]
    * literal and each row emits its k winners from ONE codegen'd scan —
    * zero shuffles, no n²-row join intermediate, bit-identical scores (see
    * MatrixTopK's scaladoc for the arithmetic-parity argument; GraphsSpec
    * pins the tiers equal). Past the gate the generic broadcast
    * batch-retrieval kernel runs ([[Similarity.topKPerQuery]] with the
    * table as its own query set); at true corpus scale swap the candidate
    * generator for [[Similarity.ivfTopKPerQuery]] (same output shape,
    * bucket-pruned scan) and keep the downstream identical.
    */
  def knnEdges(
      vectors: DataFrame,
      k: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      matrixRowLimit: Long = BoundedCells.Limit): DataFrame =
    knnNeighbors(vectors, k, vecCol, idCol, matrixRowLimit)
      .select(col("src"), col("dst"))

  /** [[knnEdges]] with the evidence kept: (src, dst, cos, rnk 1..k). Same
    * two tiers, same arithmetic — this is the shared kernel; `knnEdges`
    * is its projection.
    */
  def knnNeighbors(
      vectors: DataFrame,
      k: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      matrixRowLimit: Long = BoundedCells.Limit): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val typed = vectors.schema(idCol).dataType == LongType &&
      (vectors.schema(vecCol).dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
    if (typed && matrixRowLimit > 0 && vectors.count() <= matrixRowLimit) {
      val rows = vectors.select(col(idCol), col(vecCol)).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val dim = if (rows.isEmpty) 0 else rows.head._2.length
      val matrix = new graft.functions.NeighborMatrix(
        rows.map(_._1), rows.flatMap(_._2), math.max(dim, 1))
      vectors
        .select(col(idCol).as("src"),
          posexplode(graft.functions.MatrixTopK.matrix_top_k(
            col(vecCol), col(idCol), matrix, k)))
        .select(col("src"), col("col.id").as("dst"),
          col("col.score").as("cos"), (col("pos") + 1).cast("long").as("rnk"))
    } else
      Similarity
        .topKPerQuery(
          vectors,
          vectors.select(col(idCol).as("query_id"), col(vecCol)),
          k, vecCol, idCol)
        .select(col("query_id").as("src"), col(idCol).as("dst"),
          col("cos"), col("rnk"))
  }

  /** Local clustering coefficient over the MUTUAL kNN graph (Watts &
    * Strogatz 1998's C_i, computed node-iterator style — Schank & Wagner
    * 2005): for each vector, the fraction of its mutual-neighbor pairs
    * that are themselves mutual neighbors, C = 2T / d(d−1). On an
    * embedding corpus this is the manifold-quality signal: high C = the
    * point sits in a coherent cluster; C ≈ 0 at degree ≥ 2 = a hub
    * stitching unrelated regions (embedding-space "bridge" docs — often
    * templated or mixed-topic text worth reviewing).
    *
    * Mutualization (keep a↔b only if each is in the other's top-k) is
    * the standard symmetrization that kills the asymmetric-hub artifact
    * of raw kNN digraphs.
    *
    * Shape: edge build is [[knnEdges]] (map-side matrix scan under the
    * gate, IVF path above it); mutualization is one (src,dst)=(dst,src)
    * equi-join of the n·k edge list; wedges fan out at most deg² ≤ k²
    * rows per node and close against the canonical edge set by an 8-byte
    * pair join — total work O(n·k²), never n².
    */
  def clusteringCoefficient(
      vectors: DataFrame,
      k: Int = 5,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      matrixRowLimit: Long = BoundedCells.Limit): DataFrame =
    clusteringCoefficientFromEdges(
      vectors.select(col(idCol)),
      knnEdges(vectors, k, vecCol, idCol, matrixRowLimit), idCol)

  /** Graph kernel of [[clusteringCoefficient]], reusable over any directed
    * neighbor list: mutualize, count wedges that close, C = 2T/d(d−1)
    * (0 below degree 2).
    */
  def clusteringCoefficientFromEdges(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String = "vec_id"): DataFrame = {
    val mutual = edges.as("e1")
      .join(edges.as("e2"),
        col("e1.src") === col("e2.dst") && col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("src"), col("e1.dst").as("dst"))
      .persist() // feeds degree, wedges (twice), and the canonical set
    val deg = mutual.groupBy(col("src").as("v")).agg(count(lit(1)).as("degree"))
    val canonical = mutual.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    val wedges = mutual.as("m1")
      .join(mutual.as("m2"),
        col("m1.src") === col("m2.src") && col("m1.dst") < col("m2.dst"))
      .select(col("m1.src").as("v"), col("m1.dst").as("a"), col("m2.dst").as("b"))
    val tri = wedges.join(canonical, Seq("a", "b"))
      .groupBy(col("v")).agg(count(lit(1)).as("triangles"))
    nodes
      .join(deg, nodes(idCol) === deg("v"), "left").drop("v")
      .join(tri, nodes(idCol) === tri("v"), "left").drop("v")
      .select(col(idCol),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(coalesce(col("degree"), lit(0L)) >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L))
            / (col("degree") * (col("degree") - 1)), 4))
          .otherwise(lit(0.0)).as("coefficient"))
  }

  /** kNN label-consistency check (Wilson-editing / kNN label-noise
    * screening): predict each vector's label as the MAJORITY label of its
    * k nearest neighbors (ties: smaller label) and flag disagreement —
    * the standard first pass for mislabeled / out-of-place examples, and
    * an embedding-space "are the labels real?" audit (a high disagreement
    * rate on a corpus says the labels carry little geometric signal).
    *
    * Shape: the neighbor build is [[knnNeighbors]] (map-side matrix scan
    * under the gate); the vote is a (src, label) hash agg over ≤ k rows
    * per node; the argmax is a min_by hash agg (map-side partials, no
    * window sort). One id-keyed equi-join brings neighbor labels in, one
    * brings the prediction back to the owner.
    */
  def labelConsistency(
      vectors: DataFrame,
      k: Int = 5,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val votes = knnNeighbors(vectors, k, vecCol, idCol)
      .join(vectors.select(col(idCol).as("dst"), col(labelCol).as("_nl")), "dst")
      .groupBy(col("src"), col("_nl"))
      .agg(count(lit(1)).as("c"))
    // argmax vote as a min_by hash agg on (-count, label) — same
    // (count desc, label asc) winner as the former row_number window,
    // without the window's extra exchange + sort (r13, the q67 shape)
    val predicted = votes
      .groupBy(col("src"))
      .agg(min_by(col("_nl"), struct(negate(col("c")), col("_nl")))
        .as("predicted"))
      .select(col("src").as(idCol), col("predicted"))
    vectors.select(col(idCol), col(labelCol))
      .join(predicted, idCol)
      .select(col(idCol), col(labelCol), col("predicted"),
        (col(labelCol) =!= col("predicted")).as("noisy"))
  }

  /** Hard-negative mining for contrastive training: each vector's
    * neighbors inside a cosine band [lo, hi) — similar enough to be
    * informative negatives, below the near-duplicate zone that would make
    * them false negatives. The band filter runs on the k-bounded neighbor
    * stream, so the output is at most k rows per anchor, never a
    * threshold join over all pairs.
    */
  def hardNegatives(
      vectors: DataFrame,
      k: Int = 5,
      lo: Double = 0.25,
      hi: Double = 0.35,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(lo < hi, "need lo < hi")
    knnNeighbors(vectors, k, vecCol, idCol)
      .filter(col("cos") >= lo && col("cos") < hi)
      .select(col("src").as(idCol), col("dst").as("neg_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** PageRank (Brin & Page 1998) over a directed edge list: fixed
    * `iterations` rounds of r' = (1-d)/N + d·(Σ_in r/outdeg + danglingMass/N).
    *
    * Two tiers, size-gated like [[Dedup.connectedComponents]]: an explicit
    * similarity/citation edge list is a sliver of the corpus, so when it
    * fits one driver page (`localEdgeLimit`, default 1M edges ≈ 16 MB — a
    * bounded, documented collect) the fixpoint runs in-process over arrays:
    * one cached-scan count + one bounded collect, versus ~4 driver jobs PER
    * ROUND of the distributed loop (contribution join, dangling aggregate,
    * broadcast materialization, eager checkpoint — fixed cost that dwarfs
    * the data at this size). Both tiers execute the identical arithmetic;
    * only double-summation ORDER differs (hash-agg partition order vs array
    * order), a sub-ulp-per-term effect the 4-decimal display rounding
    * absorbs — GraphsSpec pins the tiers equal to 1e-12.
    *
    * Past the gate (or non-long ids, or `localEdgeLimit = 0` — specs force
    * this to exercise the scale path): `nodes`/`outdeg` are computed once
    * and persisted; each round is edges ⋈ ranks (equi-join on src, bare-id
    * payloads) + one hash agg on dst + a LEFT join back to the node frame
    * so rank mass reaches nodes with no inbound edges. Dangling mass (nodes
    * with no OUTBOUND edges) is a one-row aggregate entering the plan as a
    * broadcast — the centroid-literal discipline, never a driver-side
    * collect of ranks. `localCheckpoint` per round truncates lineage so
    * round t+1 reads materialized partitions instead of recomputing rounds
    * 1..t twice (the dangling aggregate and the contribution join both
    * consume ranks_t — an unpersisted plan would fork the whole prefix).
    *
    * Returns (v, rank); `normalized=true` rescales so the mean rank is 1
    * (sum = N), the display-friendly centrality convention.
    *
    * `teleport` non-empty makes it PERSONALIZED PageRank (Haveliwala,
    * WWW 2002): the restart distribution concentrates on the seed set
    * instead of uniform — p_v = 1/|S∩nodes| on seeds, 0 elsewhere; r₀ = p
    * and each round is r' = (1−d)·p + d·(Σ_in r/outdeg + danglingMass·p).
    * Relevance flows OUT from trusted seeds along similarity/link edges —
    * the crawl-frontier-prioritization / trusted-subcorpus-expansion
    * signal. The seed list is a plan literal (an `isin` predicate); seeds
    * absent from the graph carry no mass. The uniform path keeps its own
    * literal arithmetic ((1−d)/N, dm/N) so its oracle replays unchanged.
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int = 5,
      damping: Double = 0.85,
      srcCol: String = "src",
      dstCol: String = "dst",
      normalized: Boolean = false,
      localEdgeLimit: Long = 1L << 20,
      teleport: Seq[Long] = Nil): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).persist()
    val longIds = e.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (localEdgeLimit > 0 && longIds && e.count() <= localEdgeLimit) {
      val out = localPageRank(e.collect().map(r => (r.getLong(0), r.getLong(1))),
        iterations, damping, normalized, teleport)
      val spark = e.sparkSession
      e.unpersist()
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("v", LongType, nullable = false),
        StructField("r", DoubleType, nullable = false)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(
          out.toIndexedSeq.map { case (v, r) => org.apache.spark.sql.Row(v, r) },
          math.max(1, math.min(32, out.length / 4096 + 1))),
        schema)
    }
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v")))
      .distinct()
      .persist()
    val n = nodes.count().toDouble // bounded driver scalar: one long
    val outdeg = e.groupBy("src").agg(count(lit(1)).cast("double").as("od")).persist()

    // restart distribution: uniform, or concentrated on the seed set; the
    // uniform branch keeps its pre-folded literals ((1-d)/N, dm/N) so the
    // two modes are arithmetically self-consistent with their oracles
    val pcol =
      if (teleport.isEmpty) lit(1.0 / n)
      else {
        val ns = nodes.filter(col("v").isin(teleport: _*)).count().toDouble
        require(ns > 0, "no teleport seed is present in the graph")
        when(col("v").isin(teleport: _*), lit(1.0 / ns)).otherwise(lit(0.0))
      }
    var ranks = nodes.select(col("v"), pcol.as("r")).localCheckpoint()
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(outdeg, "src")
        .join(ranks.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(sum(col("r") / col("od")).as("c"))
      val dangling = ranks
        .join(outdeg, ranks("v") === outdeg("src"), "left_anti")
        .agg(coalesce(sum("r"), lit(0.0)).as("dm"))
      val next =
        if (teleport.isEmpty)
          lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("c"), lit(0.0)) + col("dm") / lit(n))
        else
          lit(1.0 - damping) * pcol +
            lit(damping) * (coalesce(col("c"), lit(0.0)) + col("dm") * pcol)
      ranks = nodes
        .join(contribs, Seq("v"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("v"), next.as("r"))
        .localCheckpoint()
    }
    // the final ranks are materialized by the last localCheckpoint, so the
    // cached inputs can go immediately
    e.unpersist(); nodes.unpersist(); outdeg.unpersist()
    if (normalized) ranks.select(col("v"), (col("r") * lit(n)).as("r")) else ranks
  }

  /** In-process tier: same rounds, same terms, array-indexed. */
  private def localPageRank(
      es: Array[(Long, Long)],
      iterations: Int,
      damping: Double,
      normalized: Boolean,
      teleport: Seq[Long] = Nil): Array[(Long, Double)] = {
    val ids = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    val idx = ids.zipWithIndex.toMap
    val n = ids.length.toDouble
    val src = es.map(e => idx(e._1))
    val dst = es.map(e => idx(e._2))
    val outdeg = new Array[Double](ids.length)
    src.foreach(outdeg(_) += 1.0)
    val seedSet = teleport.toSet
    val p: Array[Double] =
      if (teleport.isEmpty) Array.fill(ids.length)(1.0 / n)
      else {
        val ns = ids.count(seedSet.contains).toDouble
        require(ns > 0, "no teleport seed is present in the graph")
        ids.map(id => if (seedSet.contains(id)) 1.0 / ns else 0.0)
      }
    var ranks = p.clone()
    for (_ <- 1 to iterations) {
      val contrib = new Array[Double](ids.length)
      var i = 0
      while (i < src.length) {
        contrib(dst(i)) += ranks(src(i)) / outdeg(src(i))
        i += 1
      }
      var dm = 0.0
      var j = 0
      while (j < ids.length) {
        if (outdeg(j) == 0.0) dm += ranks(j)
        j += 1
      }
      ranks = Array.tabulate(ids.length)(v =>
        if (teleport.isEmpty)
          (1.0 - damping) / n + damping * (contrib(v) + dm / n)
        else
          (1.0 - damping) * p(v) + damping * (contrib(v) + dm * p(v)))
    }
    val scale = if (normalized) n else 1.0
    ids.zip(ranks.map(_ * scale))
  }
}
