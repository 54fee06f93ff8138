package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** HNSW — Hierarchical Navigable Small World graphs (Malkov &
  * Yashunin, TPAMI 2018): the graph-index ANN tier that is the
  * faiss/industry default at high recall, completing the family next
  * to IVF (`Sim.cosineTopKIvfKmeans`), IVF-PQ, SQ8, and LSH.
  *
  * Distribution model — SEGMENT-LOCAL graphs with scatter-gather
  * merge, the production shape of every distributed HNSW deployment
  * (Vespa per-disk-chunk graphs, Milvus per-segment indexes, Lucene
  * per-leaf HNSW since 9.0): each partition builds an in-memory graph
  * over ITS vectors, every query searches every segment graph, and the
  * per-segment top-k lists merge with one skinny (q_id-keyed)
  * exchange. The corpus never shuffles to build or search; segment
  * graphs rebuild independently on compaction. At 100 TB the named
  * next step is a coarse router (the IVF centroids already in the
  * model store) in front of the segments so a query fans out to a cell
  * subset instead of all segments — that composes with this operator
  * unchanged, because the merge contract is already
  * any-subset-of-segments.
  *
  * Determinism (the oracle-gate requirement): insertion order is
  * vec_id-sorted within each partition, level assignment hashes the
  * vec_id (splitmix64 → uniform(0,1) → geometric, the paper's mL =
  * 1/ln M), neighbor selection breaks score ties on smaller id, and
  * the final merge re-ranks candidates by EXACT cosine (rounded 4dp,
  * id tiebreak). With `ef ≥` segment size the search degenerates to
  * exhaustive, so recall bounds are provable at small scale while the
  * spec grades production-sized `ef` by recall against brute force.
  */
object Hnsw {

  /** One segment-local graph over dense vectors. Pure JVM, no Spark
    * types — built and queried inside a single `mapPartitions` task.
    */
  final class Graph(m: Int, efConstruction: Int) {
    private val mL = 1.0 / math.log(m.toDouble)
    private val maxM0 = 2 * m // level-0 degree cap, per the paper
    private var entry: Int = -1
    private var topLevel: Int = -1
    private val vecs = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    private val norms = scala.collection.mutable.ArrayBuffer[Double]()
    private val ids = scala.collection.mutable.ArrayBuffer[Long]()
    private val levels = scala.collection.mutable.ArrayBuffer[Int]()
    // neighbors(node)(level) = sorted ArrayBuffer of node indexes
    private val neighbors =
      scala.collection.mutable.ArrayBuffer[Array[scala.collection.mutable.ArrayBuffer[Int]]]()

    private def splitmix64(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }

    private def levelOf(id: Long): Int = {
      // uniform(0,1) from the top 53 bits, then the paper's
      // floor(-ln(u)·mL); hash-derived so the graph is a pure function
      // of the (id, vector) set, not of arrival order
      val u = ((splitmix64(id) >>> 11).toDouble + 0.5) / (1L << 53).toDouble
      math.min((-math.log(u) * mL).toInt, 31)
    }

    private def cos(a: Int, b: Array[Double], bNorm: Double): Double = {
      val va = vecs(a)
      var s = 0.0; var i = 0
      while (i < va.length) { s += va(i) * b(i); i += 1 }
      val d = norms(a) * bNorm
      if (d == 0) 0.0 else s / d
    }

    /** ef-bounded best-first search at one level; returns (score, node)
      * max-heap contents as a sorted-desc array. Greedy when ef == 1.
      */
    private def searchLayer(q: Array[Double], qNorm: Double, ep: Seq[Int],
                            ef: Int, level: Int): Array[(Double, Int)] = {
      val visited = new java.util.HashSet[Integer]()
      // candidates: best-score-first; results: worst-score-first (cap ef)
      val byScoreDescIdAsc: Ordering[(Double, Int)] =
        Ordering.by((t: (Double, Int)) => (t._1, -t._2))
      val cand = scala.collection.mutable.PriorityQueue
        .empty[(Double, Int)](byScoreDescIdAsc)
      val res = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
        byScoreDescIdAsc.reverse)
      ep.foreach { p =>
        if (visited.add(p)) {
          val s = cos(p, q, qNorm)
          cand.enqueue((s, p)); res.enqueue((s, p))
        }
      }
      while (res.size > ef) res.dequeue()
      while (cand.nonEmpty) {
        val (cs, c) = cand.dequeue()
        val worst = if (res.isEmpty) Double.NegativeInfinity else res.head._1
        if (cs < worst && res.size >= ef) {
          cand.clear() // every remaining candidate is worse: done
        } else {
          val ns = neighbors(c)(level)
          var i = 0
          while (i < ns.length) {
            val n = ns(i)
            if (visited.add(n)) {
              val s = cos(n, q, qNorm)
              val w = if (res.isEmpty) Double.NegativeInfinity else res.head._1
              if (res.size < ef || s > w ||
                  (s == w && res.nonEmpty && n < res.head._2)) {
                cand.enqueue((s, n)); res.enqueue((s, n))
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      res.dequeueAll.reverse.toArray // best first
    }

    private def addLink(from: Int, to: Int, level: Int, cap: Int): Unit = {
      val ns = neighbors(from)(level)
      if (!ns.contains(to)) {
        ns += to
        if (ns.length > cap) {
          // prune to the `cap` closest (score desc, id asc) — the
          // paper's simple neighbor selection, deterministic
          val v = vecs(from); val nv = norms(from)
          val scored = ns.toArray.map { n =>
            (cos(n, v, nv), n)
          }.sortBy(t => (-t._1, t._2)).take(cap)
          ns.clear(); ns ++= scored.map(_._2)
        }
      }
    }

    def insert(id: Long, v: Array[Double]): Unit = {
      var nrm = 0.0
      var i = 0
      while (i < v.length) { nrm += v(i) * v(i); i += 1 }
      val node = vecs.length
      val lvl = levelOf(id)
      vecs += v; norms += math.sqrt(nrm); ids += id; levels += lvl
      neighbors += Array.fill(lvl + 1)(scala.collection.mutable.ArrayBuffer[Int]())
      if (entry < 0) { entry = node; topLevel = lvl; return }
      var ep = Seq(entry)
      // zoom down with greedy hops to the insertion level
      var l = topLevel
      while (l > lvl) {
        ep = Seq(searchLayer(v, norms(node), ep, 1, l).head._2)
        l -= 1
      }
      // connect at each level from min(topLevel, lvl) down to 0
      l = math.min(topLevel, lvl)
      while (l >= 0) {
        val found = searchLayer(v, norms(node), ep, efConstruction, l)
        val cap = if (l == 0) maxM0 else m
        found.take(m).foreach { case (_, n) =>
          addLink(node, n, l, cap)
          addLink(n, node, l, if (levels(n) == 0 || l == 0) maxM0 else m)
        }
        ep = found.map(_._2).toSeq
        l -= 1
      }
      if (lvl > topLevel) { entry = node; topLevel = lvl }
    }

    /** Level-0 connectivity repair — run once after the last insert.
      *
      * The paper's SIMPLE neighbor selection (used here for
      * determinism) can disconnect a tight cluster's level-0 component
      * on clustered data: every member's degree cap fills with
      * same-cluster links and pruning drops the only bridge, after
      * which no ef bound — not even ef ≥ N — can reach the cluster
      * (measured: 240-vector blob segments detach whole blobs).
      * Production engines guard the same way (Lucene's HNSW
      * connected-components check, Vespa's reachability repair): BFS
      * from the entry at level 0; for each unreached component (taken
      * in node order, so deterministically), link its first node to
      * its EXACT nearest visited node, bidirectionally and uncapped —
      * appended after all pruning, so the bridge can never be dropped.
      */
    def repairConnectivity(): Unit = {
      if (entry < 0) return
      val n = vecs.length
      val seen = new Array[Boolean](n)
      val stack = scala.collection.mutable.ArrayDeque[Int]()
      def bfs(start: Int): Unit = {
        seen(start) = true; stack.append(start)
        while (stack.nonEmpty) {
          val c = stack.removeLast()
          val ns = neighbors(c)(0)
          var i = 0
          while (i < ns.length) {
            val nb = ns(i)
            if (!seen(nb)) { seen(nb) = true; stack.append(nb) }
            i += 1
          }
        }
      }
      bfs(entry)
      var node = 0
      while (node < n) {
        if (!seen(node)) {
          // exact nearest among the already-reachable set
          var best = -1; var bestS = Double.NegativeInfinity
          val v = vecs(node); val nv = norms(node)
          var j = 0
          while (j < n) {
            if (seen(j)) {
              val s = cos(j, v, nv)
              if (s > bestS || (s == bestS && j < best)) { best = j; bestS = s }
            }
            j += 1
          }
          neighbors(node)(0) += best
          neighbors(best)(0) += node
          bfs(node) // absorbs the whole newly-bridged component
        }
        node += 1
      }
    }

    /** Top-`k` (vec_id, cosine) for a query vector, ef-bounded. */
    def search(q: Array[Double], k: Int, ef: Int): Array[(Long, Double)] = {
      if (entry < 0) return Array.empty
      var qn = 0.0
      var i = 0
      while (i < q.length) { qn += q(i) * q(i); i += 1 }
      qn = math.sqrt(qn)
      var ep = Seq(entry)
      var l = topLevel
      while (l > 0) {
        ep = Seq(searchLayer(q, qn, ep, 1, l).head._2)
        l -= 1
      }
      searchLayer(q, qn, ep, math.max(ef, k), 0)
        .take(k).map { case (s, n) => (ids(n), s) }
    }

    /** Top-`k` by the MERGE key — (4dp-rounded cosine desc, vec_id
      * asc), the exact total order the global merge ranks by. Cutting
      * the per-segment shortlist on the SAME key the merge uses makes
      * segment-local top-k provably sufficient (ids are unique and
      * segment-disjoint, so the global top-k is contained in the union
      * of per-segment top-k under any shared total order) — no
      * data-dependent "+headroom" constant whose ties could demote the
      * smallest-id candidate below a raw-cosine cut. `excludeId` drops
      * a query living in this segment before the cut.
      */
    def searchByMergeKey(q: Array[Double], k: Int, ef: Int,
                         excludeId: Long): Array[(Long, Double)] = {
      // pull the whole ef-bounded candidate pool (saturated mode: the
      // entire segment), then rank by the merge key
      val poolK = math.max(ef, k + 1)
      search(q, poolK, poolK)
        .iterator.filter(_._1 != excludeId)
        .map { case (id, s) => (id, s, round4(s)) }
        .toArray
        .sortBy { case (id, _, r) => (-r, id) }
        .take(k)
        .map { case (id, s, _) => (id, s) }
    }

    /** SERIALIZE the graph — the seal step: one tuple per node with
      * its vector, level, per-level neighbor VEC_IDs (adjacency taken
      * verbatim, post-[[repairConnectivity]]), and the entry flag.
      * [[loadSealed]] reconstructs the identical graph from these rows
      * in linear time — no re-insertion, no re-repair.
      */
    def sealedNodes(): Iterator[(Long, Array[Double], Int, Array[Array[Long]], Boolean)] =
      ids.indices.iterator.map { n =>
        (ids(n), vecs(n), levels(n),
          neighbors(n).map(_.toArray.map(ids(_))), n == entry)
      }

    /** Rebuild a sealed graph from [[sealedNodes]] output — the load
      * path of the sealed-segment tier. Linear in the segment; the
      * adjacency and entry point are restored verbatim, so searches
      * over the loaded graph are bit-identical to searches over the
      * graph that was sealed.
      */
    def loadSealed(nodes: Seq[(Long, Array[Double], Int, Array[Array[Long]], Boolean)]): Unit = {
      require(vecs.isEmpty, "loadSealed requires a fresh graph")
      val index = nodes.iterator.map(_._1).zipWithIndex.toMap
      nodes.foreach { case (id, v, lvl, nbrs, isEntry) =>
        var nrm = 0.0
        var i = 0
        while (i < v.length) { nrm += v(i) * v(i); i += 1 }
        val node = vecs.length
        vecs += v; norms += math.sqrt(nrm); ids += id; levels += lvl
        neighbors += nbrs.map(arr =>
          scala.collection.mutable.ArrayBuffer(arr.map(index): _*))
        if (isEntry) { entry = node; topLevel = lvl }
      }
    }
  }

  /** Driver/executor twin of Spark's `round(col, 4)` on DoubleType
    * (BigDecimal HALF_UP) — used so the shortlist cut and the SQL merge
    * rank by bit-identical keys.
    */
  private def round4(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Segment-local HNSW top-k: queries = the first `nQueries` vectors
    * (the family convention), broadcast; each partition builds a graph
    * over its vectors and answers all queries; per-segment lists merge
    * on one skinny exchange with EXACT-cosine re-rank (4dp, id
    * tiebreak), self-matches excluded.
    */
  def hnswTopK(embeddings: DataFrame, nQueries: Int, k: Int, m: Int = 8,
               efConstruction: Int = 64, efSearch: Int = 64,
               queryRows: Option[Seq[(Long, Array[Double])]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
    // pre-collected query slice (memoized caller) skips the collect
    // job; validated loudly so a wrong-nQ slice cannot silently search
    // for a different query set
    queryRows.foreach { qs =>
      require(qs.forall(_._1 < nQueries) &&
          qs.map(_._1).distinct.size == qs.size,
        s"hnswTopK queryRows must be DISTINCT vec_ids < $nQueries, got " +
          s"${qs.size} rows; COMPLETENESS (one row per existing vec_id < " +
          s"$nQueries) is the caller's obligation — a partial slice searches " +
          "a smaller query set")
    }
    val queries = queryRows.map(_.toArray.sortBy(_._1)).getOrElse(
      base.filter(col("vec_id") < nQueries).collect().sortBy(_._1))
    val bq = spark.sparkContext.broadcast(queries)
    val perSegment = base.mapPartitions { rows =>
      val seg = rows.toArray.sortBy(_._1) // id-sorted insertion: deterministic
      if (seg.isEmpty) Iterator.empty
      else {
        val g = new Graph(m, efConstruction)
        seg.foreach { case (id, v) => g.insert(id, v) }
        g.repairConnectivity()
        bq.value.iterator.flatMap { case (qId, qv) =>
          // shortlist cut on the merge key itself (rounded desc, id
          // asc) — per-segment top-k is then provably sufficient; see
          // searchByMergeKey
          g.searchByMergeKey(qv, k, efSearch, excludeId = qId)
            .map { case (cId, s) => (qId, cId, s) }
        }
      }
    }.toDF("q_id", "c_id", "cos")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("c_id").asc)
    perSegment
      .withColumn("cos_r", round(col("cos"), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
  }

  /** IVF-routed HNSW — the coarse router named in the object scaladoc,
    * composed: the trained k-means centroids (the same corpus-versioned
    * model `q_sim_ann_kmeans` serves) route each query to its
    * `nProbe` best cells, vectors repartition BY CELL, one HNSW graph
    * builds per cell inside its partition, and a query walks only its
    * probed cells' graphs — the faiss IVF+graph / Milvus
    * partition-routed layout. Fan-out per query drops from
    * all-segments ([[hnswTopK]]) to `nProbe` cells; the merge contract
    * is unchanged (any subset of segments).
    *
    * Assignment and probing reuse [[Sim.argmaxCell]]/[[Sim.probeCells]]
    * — bit-identical to `q_sim_ann_kmeans`'s search, which is what
    * makes the saturated configuration (efSearch ≥ every cell)
    * oracle-checkable: an exhaustive walk within exactly the probed
    * cells IS multi-probe IVF exact search, so
    * [[Sim.ivfSearchOracleSql]] pins this operator row-for-row with the
    * same pinned-centroid-literal SQL. A routing bug, a detached graph
    * component, or a merge defect each breaks the hash gate; HnswSpec
    * grades the production (ef-bounded) configuration by recall.
    */
  /** The routed search's query model — each query vector with its
    * `nProbe` best cells — built by the SAME probe expressions the
    * search uses (one arithmetic, no driver re-implementation to
    * drift). Exposed so a caller can collect it once, memoize it, and
    * replay it through `hnswTopKRouted`'s `queryModel` parameter.
    */
  def routedQueryModel(embeddings: DataFrame, cents: Sim.Centroids,
                       nQueries: Int, nProbe: Int): Array[(Long, Array[Double], Array[Int])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Sim.norm(col("v")))
      .withColumn("cell",
        Sim.argmaxCell(cents)(col("v"), col("nrm")).cast("int"))
      .filter(col("vec_id") < nQueries)
      .withColumn("probe",
        if (nProbe <= 1) array(col("cell"))
        else Sim.probeCells(cents, nProbe)(col("v"), col("nrm")))
      .select(col("vec_id"), col("v"), col("probe").cast("array<int>"))
      .as[(Long, Array[Double], Array[Int])]
      .collect().sortBy(_._1)
  }

  /** GROWING-SEGMENT search — the production incremental shape of the
    * routed graph tier, and the "segment graphs" half of incremental
    * ANN (the vector-store design Milvus ships
    * and faiss users hand-roll: SEALED segments carry graphs built
    * once per segment and never touched again; the GROWING segment —
    * the not-yet-sealed arriving batch — is small, so it is
    * brute-force scanned instead of indexed; a query fans out to both
    * tiers and merges). Standing vectors answer through the per-cell
    * graphs ([[hnswTopKRouted]], unchanged); the batch assigns
    * map-side to the SAME frozen cells ([[Sim.ivfAssign]] — zero
    * shuffles) and is scored exactly within each query's probed cells
    * via one broadcast join; the per-query union re-ranks to top-k.
    * The merge is LOSSLESS by construction: the overall top-k is a
    * subset of (sealed-tier top-k) ∪ (every probed growing candidate),
    * so no graph is rebuilt and no standing vector is rescored when a
    * batch lands. At the saturated configuration (efSearch ≥ every
    * cell) this ≡ multi-probe IVF exact search over standing ∪ batch —
    * the same law, spec (IvfIncrementSpec), and pinned-centroid oracle
    * as [[Sim.cosineTopKIvfIncrement]].
    */
  def hnswTopKRoutedGrowing(standing: DataFrame, batch: DataFrame,
      cents: Sim.Centroids, nQueries: Int, k: Int, nProbe: Int, m: Int = 8,
      efConstruction: Int = 64, efSearch: Int = 512,
      queryModel: Option[Seq[(Long, Array[Double], Array[Int])]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = standing.sparkSession
    import spark.implicits._
    val sealedTop = hnswTopKRouted(standing, cents, nQueries, k, nProbe,
        m, efConstruction, efSearch, queryModel)
      .select(col("q_id"), col("c_id"), col("cos_r"))
    val queries = queryModel.map(_.toArray.sortBy(_._1)).getOrElse(
      routedQueryModel(standing, cents, nQueries, nProbe))
    val qdf = queries.toSeq.toDF("q_id", "qv", "probe")
      .select(col("q_id"), col("qv"), explode(col("probe")).as("cell"))
      .withColumn("qn", Sim.norm(col("qv")))
    val growing = Sim.ivfAssign(batch, cents)
      .join(broadcast(qdf), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        round(Sim.dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4)
          .as("cos_r"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("c_id").asc)
    sealedTop.unionByName(growing)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
  }

  /** SEAL the growing segment (faiss/Milvus compaction): the accumulated batch builds its per-cell HNSW
    * graphs ONCE off the frozen coarse quantizer and serializes them
    * as a sealed-segment store — one row per node `(cell, vec_id, v,
    * level, nbrs, is_entry)`, adjacency emitted verbatim after
    * connectivity repair. Seal cost ∝ the SEGMENT: the standing corpus
    * is never scanned, shuffled, or rebuilt, exactly like a Milvus
    * growing→sealed flush. The emitted rows are what
    * [[hnswTopKRoutedSealedFrom]] walks, retiring the per-query
    * brute-force growing path the moment the segment seals.
    * Deterministic (id-sorted insertion, hash-derived levels), so
    * sealing the same batch twice writes identical rows.
    */
  def hnswSealSegment(batch: DataFrame, cents: Sim.Centroids,
                      m: Int = 8, efConstruction: Int = 64): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    Sim.ivfAssign(batch, cents)
      .select(col("vec_id"), col("v"), col("cell").cast("int").as("cell"))
      .repartition(col("cell"))
      .as[(Long, Array[Double], Int)]
      .mapPartitions { rows =>
        val byCell = rows.toArray.groupBy(_._3)
        byCell.toSeq.sortBy(_._1).iterator.flatMap { case (cell, vecs) =>
          val g = new Graph(m, efConstruction)
          vecs.sortBy(_._1).foreach { case (id, v, _) => g.insert(id, v) }
          g.repairConnectivity()
          g.sealedNodes().map { case (id, v, lvl, nbrs, isE) =>
            (cell, id, v, lvl, nbrs, isE)
          }
        }
      }
      .toDF("cell", "vec_id", "v", "level", "nbrs", "is_entry")
  }

  /** Search the standing per-cell graphs PLUS a SEALED segment store
    * ([[hnswSealSegment]] output) and merge per query — the
    * post-compaction deployment shape in which the growing
    * brute-force tier has retired: the sealed segment's graphs load
    * linearly inside their cell partitions (no re-insertion) and
    * answer through the same ef-bounded walks as the standing tier.
    * At saturated efSearch this ≡ [[hnswTopKRoutedGrowing]] ≡
    * multi-probe IVF exact search over standing ∪ batch — one law,
    * three physical tiers, the same pinned-centroid oracle
    * (HnswSealSpec pins seal→load→search ≡ growing Spark-vs-Spark).
    */
  def hnswTopKRoutedSealedFrom(standing: DataFrame, sealedSeg: DataFrame,
      cents: Sim.Centroids, nQueries: Int, k: Int, nProbe: Int, m: Int = 8,
      efConstruction: Int = 64, efSearch: Int = 512,
      queryModel: Option[Seq[(Long, Array[Double], Array[Int])]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = standing.sparkSession
    import spark.implicits._
    val standingTop = hnswTopKRouted(standing, cents, nQueries, k, nProbe,
        m, efConstruction, efSearch, queryModel)
      .select(col("q_id"), col("c_id"), col("cos_r"))
    val queries = queryModel.map(_.toArray.sortBy(_._1)).getOrElse(
      routedQueryModel(standing, cents, nQueries, nProbe))
    val bq = spark.sparkContext.broadcast(queries)
    val segTop = sealedSeg
      .select(col("cell").cast("int").as("cell"), col("vec_id"),
        col("v").cast("array<double>").as("v"),
        col("level").cast("int").as("level"), col("nbrs"), col("is_entry"))
      .repartition(col("cell"))
      .as[(Int, Long, Array[Double], Int, Array[Array[Long]], Boolean)]
      .mapPartitions { rows =>
        val byCell = rows.toArray.groupBy(_._1)
        byCell.toSeq.sortBy(_._1).iterator.flatMap { case (cell, nodes) =>
          val g = new Graph(m, efConstruction)
          g.loadSealed(nodes.sortBy(_._2).toSeq
            .map { case (_, id, v, lvl, nbrs, e) => (id, v, lvl, nbrs, e) })
          bq.value.iterator
            .filter(_._3.contains(cell))
            .flatMap { case (qId, qv, _) =>
              g.searchByMergeKey(qv, k, efSearch, excludeId = qId)
                .map { case (cId, s) => (qId, cId, s) }
            }
        }
      }.toDF("q_id", "c_id", "cos")
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("cos_r"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("c_id").asc)
    standingTop.unionByName(segTop)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
  }

  def hnswTopKRouted(embeddings: DataFrame, cents: Sim.Centroids,
                     nQueries: Int, k: Int, nProbe: Int, m: Int = 8,
                     efConstruction: Int = 64, efSearch: Int = 512,
                     queryModel: Option[Seq[(Long, Array[Double], Array[Int])]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val assigned = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Sim.norm(col("v")))
      .withColumn("cell",
        Sim.argmaxCell(cents)(col("v"), col("nrm")).cast("int"))
    // query model build: nQueries rows with their probe lists (driver-
    // sized, the searchCells shape); memoized callers pass it in —
    // validated loudly against the declared nQueries/nProbe
    queryModel.foreach { qs =>
      require(qs.forall(q => q._1 < nQueries && q._3.length == nProbe.max(1)),
        s"hnswTopKRouted queryModel must carry vec_ids < $nQueries with " +
          s"$nProbe probes each, got ${qs.size} rows")
    }
    val queries = queryModel.map(_.toArray.sortBy(_._1)).getOrElse(
      routedQueryModel(embeddings, cents, nQueries, nProbe))
    val bq = spark.sparkContext.broadcast(queries)
    val perCell = assigned
      .select(col("vec_id"), col("v"), col("cell"))
      .repartition(col("cell"))
      .as[(Long, Array[Double], Int)]
      .mapPartitions { rows =>
        // a hash partition may hold several cells — one graph per cell,
        // each built in deterministic vec_id order
        val byCell = rows.toArray.groupBy(_._3)
        byCell.toSeq.sortBy(_._1).iterator.flatMap { case (cell, vecs) =>
          val g = new Graph(m, efConstruction)
          vecs.sortBy(_._1).foreach { case (id, v, _) => g.insert(id, v) }
          g.repairConnectivity()
          bq.value.iterator
            .filter(_._3.contains(cell))
            .flatMap { case (qId, qv, _) =>
              g.searchByMergeKey(qv, k, efSearch, excludeId = qId)
                .map { case (cId, s) => (qId, cId, s) }
            }
        }
      }.toDF("q_id", "c_id", "cos")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("c_id").asc)
    perCell
      .withColumn("cos_r", round(col("cos"), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
  }
}
