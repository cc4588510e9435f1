package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connected components over a near-duplicate pair list — turns pairwise
  * dedup output (`minhashNearDups` / `ngramJaccardPairs` / `simhashNearDups`)
  * into duplicate GROUPS with a canonical representative (the minimum id),
  * so a pipeline can keep exactly one document per group.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the standard
  * shuffle-parallel formulation. Each round is two self-equijoins on the
  * node id (hash-partitioned, map-side combinable); no driver-side graph
  * state, no collect. Converges in O(log^2 n) rounds on adversarial long
  * paths and 2-3 rounds on the tight clusters dedup actually produces.
  * Per-round `localCheckpoint` truncates lineage so the plan does not grow
  * exponentially with iterations (the classic iterative-DataFrame trap).
  *
  * At 100 TB scale the edge list (near-dup pairs) is orders of magnitude
  * smaller than the corpus, and every round shuffles only (node, parent)
  * longs — this is the same shape GraphFrames/GraphX use for CC, without
  * the RDD round-trip.
  */
object Components {

  /** (id_a, id_b) pair list → (id, component) where component = min id of
    * the connected component. Every node appearing in any pair is present
    * exactly once. Ids must be non-null; any orderable type works but ids
    * are compared with `<`, so mixed-type ids must share one column type.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 25,
                          localThreshold: Long = 1L << 20): DataFrame = {
    // Oriented undirected edges (u < v), deduped BEFORE symmetrizing:
    // the old form unioned both orientations first and distinct'd 2×E
    // rows — deduping the canonical orientation shuffles half the bytes
    // for the identical edge set, and the small-graph path collects half
    // the rows to the driver. Both orientations are derived lazily from
    // the checkpointed canonical list where needed.
    val canon = pairs.select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    def e0 = canon.union(canon.select(col("v").as("u"), col("u").as("v")))

    // Adaptive small-input path (AQE-spirit): the alternating-star loop
    // costs ~4 scheduled jobs per round, which dominates when the edge
    // list is tiny relative to the cluster. Near-dup edge lists are
    // usually orders of magnitude smaller than the corpus, so below the
    // threshold union-find on the driver is both exact and faster; the
    // shuffle-parallel loop below remains the path for big graphs.
    val idType = canon.schema.fields(0).dataType
    val localOrd: Option[Ordering[Any]] = idType match {
      case LongType => Some(Ordering.by(_.asInstanceOf[java.lang.Long].longValue))
      case IntegerType => Some(Ordering.by(_.asInstanceOf[java.lang.Integer].intValue))
      case org.apache.spark.sql.types.StringType => Some(Ordering.by(_.asInstanceOf[String]))
      case _ => None // other id types: distributed path only
    }
    // decision boundary unchanged: localThreshold counts SYMMETRIC edges
    // (2 per undirected pair), as before
    val nEdges = canon.count() * 2
    if (nEdges > 0 && nEdges <= localThreshold && localOrd.nonEmpty) {
      implicit val ord: Ordering[Any] = localOrd.get
      val spark = pairs.sparkSession
      val edges = canon.collect().map(r => (r.get(0), r.get(1)))
      val parent = scala.collection.mutable.HashMap[Any, Any]()
      val rank = scala.collection.mutable.HashMap[Any, Int]().withDefaultValue(0)
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (rank(ra) < rank(rb)) parent(ra) = rb
          else if (rank(ra) > rank(rb)) parent(rb) = ra
          else { parent(rb) = ra; rank(ra) += 1 }
        }
      }
      // normalize: component = min id (same contract as the distributed path)
      val roots = parent.keys.map(k => k -> find(k)).toVector
      val minOf = roots.groupBy(_._2).map { case (r, kv) => r -> kv.map(_._1).min }
      val rows = roots.map { case (k, r) =>
        org.apache.spark.sql.Row(k, minOf(r))
      }
      val out = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("component", idType))))
      canon.unpersist(false)
      return out.localCheckpoint(true)
    }

    // large-star: for each u over the SYMMETRIZED neighborhood,
    // m = min(N(u) ∪ {u}); emit (v, m) for v > u — hooks every larger
    // neighbor directly to the local minimum. Output edges all satisfy
    // second < first (child → parent).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.join(m, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star: over parent-pointing edges (v < u), m = min parent;
    // emit (u, m) and (p, m) for the non-min parents p. Flattens chains.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.where(col("v") < col("u"))
      val m = dir.groupBy("u").agg(min(col("v")).as("m"))
      val relink = dir.join(m, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val keep = m.select(col("u"), col("m").as("v"))
      relink.union(keep).distinct()
    }

    // Fixed point ⇔ identical edge set: same size and same order-free
    // checksum (sum of per-edge hashes). Carried across iterations so each
    // round costs ONE materialization job + ONE aggregate job.
    def checksum(d: DataFrame) =
      d.agg(count(lit(1)), sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).collect()(0)
    var e = smallStar(e0).localCheckpoint(true) // orient toward smaller ids
    var cs = checksum(e)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      val csN = checksum(next)
      converged = cs == csN
      e.unpersist(false)
      e = next
      cs = csN
      i += 1
    }
    val out = canon.select(col("u")).union(canon.select(col("v"))).distinct()
      .join(e.withColumnRenamed("v", "component"), Seq("u"), "left")
      .select(col("u").as("id"), coalesce(col("component"), col("u")).as("component"))
    val res = out.localCheckpoint(true)
    e.unpersist(false); canon.unpersist(false)
    res
  }

  /** The end-to-end dedup a training pipeline actually runs: drop every
    * document that belongs to a near-duplicate group but is NOT its
    * canonical (min-id) representative. One anti join against the
    * (tiny relative to the corpus) non-canonical id set — broadcast at
    * scale when the dup fraction is small. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, threshold: Double = 0.5,
                  maxDocFreq: Int = 10000): DataFrame = {
    // non-canonical ids come straight from connectedComponents: the
    // group_size aggregation+join that jaccardDupGroups adds is unused
    // here (Catalyst cannot prune an inner join it cannot prove
    // non-filtering), so skip it — one fewer shuffle + join per run
    val pairs = TextOps.ngramJaccardPairs(df, idCol, textCol, n, threshold, maxDocFreq)
    val losers = connectedComponents(pairs)
      .where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** End-to-end duplicate grouping: exact n-gram-Jaccard pairs above
    * `threshold` → connected components → (id, component, group_size),
    * group_size > 1 only (singletons are not duplicates). `keepOne`
    * downstream = filter `id =!= component`. */
  def jaccardDupGroups(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.5,
                       maxDocFreq: Int = 10000): DataFrame = {
    val pairs = TextOps.ngramJaccardPairs(df, idCol, textCol, n, threshold, maxDocFreq)
    val cc = connectedComponents(pairs)
    val sizes = cc.groupBy("component").agg(count(lit(1)).cast(LongType).as("group_size"))
    cc.join(sizes, "component")
      .select(col("id"), col("component"), col("group_size"))
  }
}
