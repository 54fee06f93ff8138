package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.plans.{AllCosines, AllCosinesI8, CellTopIds, DotProduct, PqEncode}

/** Similarity search over the `embeddings` table (SURVEY.md §7.5).
  *
  * The hot loops are the codegen'd `graft.plans` kernels, built as
  * plain Columns: [[dot]] (and so every norm and cosine), IVF cell
  * ranking, PQ encoding and the all-cosines scans. Each folds in
  * array-index order, so the double arithmetic is deterministic and
  * matches any engine that folds in order.
  */
object Sim {

  /** Left-fold dot product of two array<double> columns — the
    * codegen'd graft_dot kernel (graft.plans.DotProduct).
    */
  def dot(a: Column, b: Column): Column = DotProduct.column(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** L2-normalize an array<double> embedding (unit length; zero vector
    * stays zero). After this, dot product IS cosine — normalize once
    * at ingest, save a sqrt per comparison forever.
    */
  def l2Normalize(a: Column): Column = {
    val n = norm(a)
    when(n === 0.0, a).otherwise(transform(a, x => x / n))
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions
    * with a DETERMINISTIC ±1 sign matrix (Achlioptas 2003: Rademacher
    * entries preserve pairwise distances like Gaussian ones): the sign
    * of cell (i, j) is the parity of the first hex digit of
    * md5("rp|i|j"), so both engines derive the SAME matrix from first
    * principles and the projection is oracle-restatable. Components
    * scale by 1/√outDim, so E‖p‖² = ‖x‖² — the output carries both
    * norms and their ratio as the distance-preservation audit.
    *
    * Shape: the matrix is outDim·inDim literals baked into the plan
    * (a bounded model artifact — never a join); the projection is a
    * map-side zip_with/aggregate fold per component, no shuffle at
    * any scale. This is the standard cheap dimension cut in front of
    * ANN indexing (64→16 here): index build and search cost drop
    * ~4×, recall loss is the JL epsilon.
    */
  /** The deterministic ±1 JL sign matrix: cell (i, j) is +1 when the
    * first hex digit of md5("rp|i|j") is even — derivable from first
    * principles by any engine, so projections are oracle-restatable.
    */
  private[graft] def rpSigns(inDim: Int, outDim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim, inDim) { (i, j) =>
      val hex = md.digest(s"rp|$i|$j".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      if ((Character.digit(hex.charAt(0), 16) & 1) == 0) 1.0 else -1.0
    }
  }

  /** The outDim-d projected vector of an array<double> column — one
    * ordered left-fold dot per component against a literal sign row,
    * scaled by 1/√outDim so norms are preserved in expectation. Each
    * component is one compiled [[dot]], because an interpreted
    * transform-over-matrix fold pays one lambda call per (vector,
    * component, input dim) — d·outDim calls per vector.
    */
  private[graft] def rpProject(emb: Column, inDim: Int, outDim: Int): Column = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    array(rpSigns(inDim, outDim).map(row => dot(emb, typedLit(row.toSeq)) * scale): _*)
  }

  /** The same projection as a driver-side fold (identical j-ascending
    * summation order, so results are bit-equal to [[rpProject]]) —
    * for the bounded query side of [[cosineTopKRp]].
    */
  private[graft] def rpProjectLocal(v: Array[Double], signs: Array[Array[Double]],
                                    outDim: Int): Array[Double] =
    Array.tabulate(outDim) { i =>
      var s = 0.0
      var j = 0
      while (j < v.length) { s += v(j) * signs(i)(j); j += 1 }
      s * (1.0 / math.sqrt(outDim.toDouble))
    }

  def randomProjection(embeddings: DataFrame, inDim: Int, outDim: Int,
                       sampleComponents: Int = 4): DataFrame = {
    val emb = col("embedding").cast("array<double>")
    // full projected vector computed ONCE, then bound through the
    // array+transform let-idiom (see quantizeInt8) so the norm /
    // sample-component reads never re-run the O(outDim·inDim) fold
    val projExpr = rpProject(emb, inDim, outDim)
    val bound = element_at(
      transform(array(projExpr), p => struct(
        (Seq.tabulate(sampleComponents)(i =>
          round(element_at(p, i + 1), 4).as(s"p${i}_r")) ++ Seq(
          round(sqrt(aggregate(p, lit(0.0d), (acc, x) => acc + x * x)), 4)
            .as("pnorm_r"),
          round(norm(emb), 4).as("onorm_r"),
          round(sqrt(aggregate(p, lit(0.0d), (acc, x) => acc + x * x)) / norm(emb), 4)
            .as("ratio_r"))): _*)),
      1)
    embeddings
      .select(col("vec_id"), bound.as("b"))
      .select(Seq(col("vec_id")) ++
        (Seq.tabulate(sampleComponents)(i => s"p${i}_r") ++
          Seq("pnorm_r", "onorm_r", "ratio_r"))
          .map(f => col("b").getField(f).as(f)): _*)
  }

  /** Symmetric int8 quantization: scale by 127/maxAbs and round —
    * 4× smaller embeddings for ANN shortlisting; rescore survivors at
    * full precision. Returns struct(scale, q) so dequantization is
    * self-contained.
    */
  def quantizeInt8(a: Column): Column = {
    val maxAbs = aggregate(a, lit(0.0d), (acc, x) => greatest(acc, abs(x)))
    // round-half-away-from-zero via floor: identical to round()'s
    // BigDecimal HALF_UP on this domain (|x/scale| ≤ 127, where every
    // half-way point k.5 is exactly representable, so the decimal and
    // binary boundaries coincide — note the floor(y+0.5) form can
    // differ from true half-away when y sits one ulp BELOW a .5
    // boundary and the addition rounds up across it; kept because the
    // oracle recomputes the identical formula, so the engines agree
    // by construction) — and ~free per element where round() pays a
    // BigDecimal round-trip per evaluation (the plans/PqEncode
    // lesson; this transform runs dim× per row)
    def halfAway(y: Column): Column =
      when(y >= 0, floor(y + 0.5d)).otherwise(-floor(-y + 0.5d))
    // Spark has no scalar `let`, so bind the per-row scale ONCE by
    // routing it through a single-element array + transform lambda:
    // without this, every element of the codes transform re-evaluates
    // the O(dim) maxAbs fold (and `when` branches evaluate it again)
    // — O(dim²) interpreted lambda calls per row, measured as the
    // dominant cost of the sf0.1 SQ index build (~1.3-2.0 s of the
    // old 1.6-1.8 s q_sim_sq total)
    element_at(
      transform(
        array(when(maxAbs === 0.0, lit(1.0)).otherwise(maxAbs / 127.0)),
        scale => struct(
          scale.as("scale"),
          transform(a, x => halfAway(x / scale).cast("byte")).as("q"))),
      1)
  }

  /** Brute-force cosine top-k: for each of a SMALL query set (queries
    * broadcast), score against all candidates, keep top `k` per query.
    *
    * Shape at scale: the query side is broadcast, so the candidate
    * table streams through map-side only — no shuffle of the 100 TB
    * side for scoring; the only shuffle is the tiny
    * (n_queries × n_candidates→k) top-k window. Ranking is done on the
    * ROUNDED score with doc-id tiebreak so results are reproducible
    * across engines and runs.
    *
    * 100 TB path: pre-bucket candidates with LSH
    * ([[cosineTopKLsh]]) or IVF ([[cosineTopKIvf]]) and score only the
    * probed buckets — turns O(Q×N) into O(Q×N/buckets).
    */
  def cosineTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val asDouble = embeddings.select(
      col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cands = asDouble.select(
      col("vec_id").as("c_id"), col("v").as("cv"), norm(col("v")).as("cn"))
    val queries = asDouble.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"), col("v").as("qv"), norm(col("v")).as("qn"))
    val scored = cands
      .join(broadcast(queries), col("q_id") =!= col("c_id"))
      .select(
        col("q_id"), col("c_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4).as("cos_r"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("c_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** The SQ8 index layout: (c_id, scale double, codes array<tinyint>)
    * — what [[cosineTopKSq]] caches as its resident working set.
    * Exposed so the spec can pin that the index never grows a
    * full-precision array column back.
    */
  def sqIndex(asDouble: DataFrame): DataFrame = asDouble
    .withColumn("sq", quantizeInt8(col("v")))
    .select(
      col("vec_id").as("c_id"),
      col("sq").getField("scale").as("scale"),
      col("sq").getField("q").as("codes"))

  /** Scalar-quantized (int8) cosine top-k with full-precision refine —
    * the simplest production ANN compression, sitting between
    * brute-force [[cosineTopK]] and [[cosineTopKIvfPq]]: every
    * candidate vector is stored as ([[quantizeInt8]]) one scale + d
    * int8 codes — the ONLY per-vector data the index holds (8× smaller
    * resident than the double math, 4× smaller than float32) — and the
    * shortlist scan scores ENTIRELY in the quantized domain: the query
    * is quantized once, the kernel runs integer multiply-accumulates
    * over the byte codes, and nothing is dequantized (faiss
    * `IndexScalarQuantizer` + refine). Per-vector scales cancel out of
    * the cosine (cos(s_q·q, s_c·c) = cos(q, c)), so the quantized
    * cosine needs only the codes; the scale column stays in the index
    * for dot/L2 metrics. Only the `shortlist` best per query are
    * re-scored at full precision, reading the full vectors from the
    * BASE table — production keeps them in a separate store; the index
    * never carries them. No training, no codebooks — the trade against
    * PQ is memory (SQ8 keeps d bytes/vector where PQ keeps m) for zero
    * model risk.
    *
    * Shape: quantization and code scoring are map-side; the query-code
    * matrix is a planning-time model (nQueries×d ints); the refine
    * shortlist (queries×shortlist ids) broadcasts back against the
    * corpus so full vectors are read only for shortlisted rows. The
    * shortlist rank uses 6dp rounding + id tiebreak, and the integer
    * dot is EXACT (|code| ≤ 127 → a d=4096 dot fits a double
    * losslessly), so the boundary is reproducible across engines
    * regardless of accumulation order — strictly safer than the old
    * dequantized-double fold.
    *
    * `queryRows` optionally supplies the pre-collected query slice
    * (vec_id < nQueries, id-ascending, exactly what the internal
    * collect fetches) so a caller that memoizes the bounded query side
    * constructs this plan without launching the collect job — results
    * are identical either way (QueryModelMemoSpec).
    */
  def cosineTopKSq(embeddings: DataFrame, nQueries: Int, k: Int,
                   shortlist: Int,
                   queryRows: Option[Seq[(Long, Array[Double])]] = None): DataFrame = {
    val asDouble = embeddings.select(
      col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // the stored index: id + scale + int8 codes, nothing else — this
    // is the resident working set at 100 TB, so no array<double> may
    // be cached here (schema pinned by Batch19OpsSpec "sq index is
    // codes-only")
    val index = CacheScope.cached(sqIndex(asDouble))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("adc_r").desc, col("c_id").asc)
    // Quantize the QUERY side once, DRIVER-side (nQueries rows — a
    // model build, same bounded-collect family as the IVF centroids):
    // one collect fetches the full query vectors; codes, norms and the
    // kernel's query-code matrix are then computed locally with the
    // exact same double arithmetic as the distributed formula
    // (x/scale then floor(y+0.5) half-away; left-fold dots), so no
    // second cluster pass or giant quantize expression tree is planned
    // for 10 rows.
    val spark = embeddings.sparkSession
    queryRows.foreach { qs =>
      require(qs.map(_._1) == qs.map(_._1).sorted && qs.forall(_._1 < nQueries),
        s"cosineTopKSq queryRows must be ascending vec_ids < $nQueries, got ${qs.size} rows")
    }
    val qRows: Seq[(Long, Array[Double])] = queryRows.getOrElse(
      asDouble.filter(col("vec_id") < nQueries)
        .orderBy(col("vec_id")).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)))
    val qIds = qRows.map(_._1).toArray
    val qVecs = qRows.map(_._2).toArray
    def codesOf(v: Array[Double]): Array[Int] = {
      var maxAbs = 0.0
      v.foreach(x => maxAbs = math.max(maxAbs, math.abs(x)))
      val scale = if (maxAbs == 0.0) 1.0 else maxAbs / 127.0
      v.map { x =>
        val y = x / scale
        (if (y >= 0) math.floor(y + 0.5) else -math.floor(-y + 0.5)).toInt
      }
    }
    val qFlat = qVecs.flatMap(codesOf)
    // one compiled pass per candidate: byte loads, long accumulate —
    // the integer-SIMD scan SQ exists to enable
    val adc = index
      .select(col("c_id"),
        posexplode(AllCosinesI8.column(
          col("codes"), typedlit(qFlat), lit(qRows.length)))
          .as(Seq("q_idx", "cos")))
      .select(
        element_at(typedlit(qIds), col("q_idx") + 1).as("q_id"),
        col("c_id"), round(col("cos"), 6).as("adc_r"))
      .filter(col("q_id") =!= col("c_id"))
    val short = adc
      .withColumn("srnk", row_number().over(wTop))
      .filter(col("srnk") <= shortlist)
      .select(col("q_id"), col("c_id"))
    // refine: candidate full vectors come from the BASE table, not the
    // index (the index stays codes-only); the query side is the
    // already-collected rows as a LOCAL relation — no second scan, and
    // the driver left-fold norm is the same sequential sum as the
    // distributed fold
    val queries = {
      import spark.implicits._
      qIds.zip(qVecs).toIndexedSeq.map { case (id, v) =>
        var s = 0.0; v.foreach(x => s += x * x)
        (id, v, math.sqrt(s))
      }.toDF("q_id", "qv", "qn")
    }
    val wFinal = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("c_id").asc)
    asDouble.select(col("vec_id").as("c_id"), col("v").as("cv"), norm(col("v")).as("cn"))
      .join(broadcast(short), Seq("c_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("c_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4).as("cos_r"))
      .withColumn("rnk", row_number().over(wFinal).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Two-stage ANN through the JL projection: shortlist by cosine in
    * the outDim-d PROJECTED space (the resident index is vec_id +
    * outDim doubles — inDim/outDim× smaller than the base vectors, the
    * same memory argument as [[cosineTopKSq]]'s int8 codes but via
    * dimension cut instead of quantization), then refine survivors
    * with the exact inDim-d cosine from the BASE table. Recall loss
    * is the JL epsilon; the shortlist width buys it back.
    *
    * Shape: queries are a bounded driver-side collect (model-build
    * family) projected locally with the identical fold order; the
    * index streams map-side against the broadcast query matrix; the
    * only shuffles are the two skinny rank windows. Ranking uses the
    * ROUNDED score + id tiebreak (repo convention) so both engines
    * rank identically.
    */
  def cosineTopKRp(embeddings: DataFrame, nQueries: Int, k: Int,
                   shortlist: Int, inDim: Int = 64, outDim: Int = 16,
                   queryRows: Option[Seq[(Long, Array[Double])]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val asDouble = embeddings.select(
      col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // the resident RP index: id + outDim doubles, nothing else
    val index = CacheScope.cached(asDouble.select(
      col("vec_id").as("c_id"), rpProject(col("v"), inDim, outDim).as("pv")))
    val signs = rpSigns(inDim, outDim)
    queryRows.foreach { qs =>
      require(qs.map(_._1) == qs.map(_._1).sorted && qs.forall(_._1 < nQueries),
        s"cosineTopKRp queryRows must be ascending vec_ids < $nQueries, got ${qs.size} rows")
    }
    val qRows: Seq[(Long, Array[Double])] = queryRows.getOrElse(
      asDouble.filter(col("vec_id") < nQueries)
        .orderBy(col("vec_id")).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)))
    val queries = qRows.map { case (id, v) =>
      var s = 0.0; v.foreach(x => s += x * x)
      (id, rpProjectLocal(v, signs, outDim), v, math.sqrt(s))
    }.toIndexedSeq.toDF("q_id", "qp", "qv", "qn")
    val wShort = Window.partitionBy(col("q_id")).orderBy(col("pcos_r").desc, col("c_id").asc)
    val short = index
      .join(broadcast(queries.select(col("q_id"), col("qp"))), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(dot(col("qp"), col("pv")) / (norm(col("qp")) * norm(col("pv"))), 4)
          .as("pcos_r"))
      .withColumn("srnk", row_number().over(wShort))
      .filter(col("srnk") <= shortlist)
      .select(col("q_id"), col("c_id"), col("pcos_r"))
    val wFinal = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("c_id").asc)
    asDouble.select(col("vec_id").as("c_id"), col("v").as("cv"), norm(col("v")).as("cn"))
      .join(broadcast(short), Seq("c_id"))
      .join(broadcast(queries.select(col("q_id"), col("qv"), col("qn"))), Seq("q_id"))
      .select(col("q_id"), col("c_id"), col("pcos_r"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4).as("cos_r"))
      .withColumn("rnk", row_number().over(wFinal).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** ColBERT-style late-interaction MaxSim scoring (Khattab & Zaharia,
    * SIGIR 2020) — the multi-vector retrieval model between
    * single-vector cosine and full cross-attention: a "document" is a
    * BAG of token vectors (here: embeddings grouped `groupEvery`
    * consecutive vec_ids per doc), and
    *
    *   score(q, d) = Σ_{qt ∈ q} max_{dt ∈ d} cos(qt, dt)
    *
    * — every query token finds its best-matching document token
    * independently, which preserves token-level matching that pooled
    * single vectors average away.
    *
    * Shape: the query token set (nQueryDocs × groupEvery vectors) is
    * BROADCAST; candidate token vectors stream map-side through the
    * pair scoring; the (q_doc, c_doc, q_token) max and the (q_doc,
    * c_doc) sum are ordinary two-level aggregates with map-side
    * partials, keyed by doc pairs — the corpus never shuffles its
    * vectors. At 100 TB the candidate set is first pruned per query
    * token by ANN ([[cosineTopKIvf]] / PLAID's centroid pruning) and
    * MaxSim rescores only survivors — same algebra, bounded pairs.
    */
  def maxSimTopK(embeddings: DataFrame, groupEvery: Int, nQueryDocs: Int,
                 k: Int,
                 queryRows: Option[Seq[(Long, Array[Double])]] = None): DataFrame = {
    val toks = embeddings.select(
      (col("vec_id") / groupEvery).cast("long").as("did"),
      col("vec_id").as("tid"),
      col("embedding").cast("array<double>").as("v"))
    val cands = toks.filter(col("did") >= nQueryDocs).select(
      col("did").as("c_doc"), col("v").as("cv"), norm(col("v")).as("cn"))
    val w = Window.partitionBy(col("q_doc"))
      .orderBy(col("maxsim_r").desc, col("c_doc").asc)
    // pre-collected form: the first nQueryDocs*groupEvery vec_ids in
    // id order ARE the query tokens in tid order; did = tid/groupEvery.
    // Validated LOUDLY — a slice of the wrong size would silently
    // mis-attribute q_docs (the kernel matrix is positional).
    queryRows.foreach { qs =>
      require(qs.map(_._1) == (0L until nQueryDocs.toLong * groupEvery),
        s"maxSimTopK queryRows must be vec_ids 0..${nQueryDocs * groupEvery - 1} " +
          s"in order, got ${qs.size} rows")
    }
    // per-(q_doc, c_doc, q_token) best, then per-(q_doc, c_doc) sum.
    // Query tokens become a planning-time MATRIX model (nQueryDocs ×
    // groupEvery rows — bounded) and the native kernel scores each
    // candidate token against all of them in one compiled loop — no
    // vector-carrying pair join (the knnLabelVote lesson)
    val qRows: Seq[(Long, Array[Double])] = queryRows.getOrElse(
      toks.filter(col("did") < nQueryDocs)
        .orderBy(col("tid")).collect().toSeq
        .map(r => (r.getLong(1), r.getSeq[Double](2).toArray)))
    val qDocs = qRows.map(_._1 / groupEvery).toArray
    val flat = qRows.toArray.flatMap(_._2)
    cands
      .select(col("c_doc"),
        posexplode(AllCosines.column(
          col("cv"), col("cn"), typedlit(flat), lit(qRows.length)))
          .as(Seq("q_idx", "cos")))
      .groupBy(
        element_at(typedlit(qDocs), col("q_idx") + 1).as("q_doc"),
        col("c_doc"), col("q_idx"))
      .agg(max(round(col("cos"), 6)).as("best"))
      .groupBy(col("q_doc"), col("c_doc"))
      .agg(round(sum(col("best")), 4).as("maxsim_r"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  // -------------------------------------------------------------------------
  // Coarse quantizers: driver-resident centroid models + map-side assignment
  // -------------------------------------------------------------------------

  /** A coarse-quantizer centroid set, resident at the driver — the same
    * contract as Spark MLlib's KMeansModel: tiny by design (nCells
    * vectors, not data-sized), shipped to every task inside the plan,
    * so cell assignment is a pure map-side expression with NO join and
    * NO shuffle of the vector table.
    */
  type Centroids = Seq[(Long, Array[Double])]

  private def l2(v: Array[Double]): Double =
    math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))

  /** Top-`nProbe` cells for a query vector, best first — multi-probe
    * IVF recovers the neighbors that fell just across a cell boundary.
    * The codegen'd graft_cell_top kernel (graft.plans.CellTopIds)
    * ranks the cosine to each centroid rounded to 6dp (score DESC,
    * cent_id ASC), so cell boundaries stay reproducible across
    * engines. Cell ids are model POSITIONS (Centroids ids are 0..k-1 by
    * construction). A declarative k-struct `greatest` form overruns
    * Janino's method budget at k=64 and runs interpreted: measured
    * 214 s vs ~4 s to assign 1M 64-d vectors to 64 cells.
    */
  private[ops] def probeCells(cents: Centroids, nProbe: Int)(
      v: Column, nrm: Column): Column =
    CellTopIds.column(v, nrm,
      typedlit(cents.flatMap(_._2.toSeq)), lit(cents.size), lit(nProbe))

  /** Map-side argmax cell assignment — zero joins, zero shuffles. */
  private[ops] def argmaxCell(cents: Centroids)(v: Column, nrm: Column): Column =
    probeCells(cents, 1)(v, nrm).getItem(0)

  /** Shared IVF search path: map-side cell assignment for the corpus,
    * multi-probe cell selection for the queries, scoring restricted to
    * probed cells.
    */
  private def searchCells(
      withNorm: DataFrame,
      cents: Centroids, nQueries: Int, k: Int, nProbe: Int): DataFrame =
    searchAssigned(
      CacheScope.cached(
        withNorm
          .withColumn("cell", argmaxCell(cents)(col("v"), col("nrm")))
          .select(col("vec_id"), col("v"), col("nrm"), col("cell"))),
      cents, nQueries, k, nProbe)

  /** [[searchCells]] after assignment — the tail shared with the
    * incremental form, whose standing side arrives PRE-ASSIGNED from
    * the materialized index store.
    */
  private def searchAssigned(
      assigned: DataFrame,
      cents: Centroids, nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    val queries = assigned.filter(col("vec_id") < nQueries)
      .withColumn("probe",
        if (nProbe <= 1) array(col("cell"))
        else probeCells(cents, nProbe)(col("v"), col("nrm")))
      .select(
        col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(col("probe")).as("cell"))
    val scored = assigned
      .join(broadcast(queries), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(
        col("q_id"), col("vec_id").as("c_id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("cos_r"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("c_id").asc)
    scored
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= k)
  }

  private def withNormed(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))

  /** IVF (inverted-file) approximate nearest neighbour — the coarse
    * quantizer of Jégou/Douze/Schmid's IVF-PQ family ("Product
    * quantization for nearest neighbor search", TPAMI 2011) without
    * the PQ residual codes — and the 100 TB scale path for
    * [[cosineTopK]]:
    *
    *  1. centroids: the first `nCells` vectors, deterministically, so
    *     the DuckDB oracle can mirror the exact cells (the TRAINED
    *     model is [[kmeansCentroidsSampledLocal]] + [[cosineTopKIvfKmeans]],
    *     spec-checked by recall instead);
    *  2. assign every vector to its best centroid by cosine — a pure
    *     MAP-SIDE argmax over the driver-resident centroid array: no
    *     join, no Exchange, the vector table never shuffles for
    *     assignment (the previous row_number-over-expanded-join form
    *     shuffled an ×nCells-expanded table);
    *  3. answer a query by scoring ONLY its own cell — N/nCells of the
    *     corpus instead of N.
    *
    * The centroid collect is the MODEL BUILD (nCells tiny rows), not a
    * per-row driver loop — the standard MLlib KMeansModel shape.
    */
  def cosineTopKIvf(embeddings: DataFrame, nQueries: Int, k: Int, nCells: Int): DataFrame = {
    val withNorm = withNormed(embeddings)
    val cents: Centroids = withNorm.filter(col("vec_id") < nCells)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1).toSeq
    searchCells(withNorm, cents, nQueries, k, nProbe = 1)
  }

  /** Deterministic Lloyd's k-means for IVF centroid training, on a
    * bounded sample and driver-local — the coarse-quantizer training
    * shape faiss uses in production: a coarse quantizer needs only
    * ~100·k training vectors regardless of corpus size, so collect a
    * deterministic modulo-sample (vec_id % sampleMod == 0, BOUNDED by
    * the caller's choice of sampleMod — the model build input,
    * k×dim-ish, never data-sized; sampleMod = 1 trains on every
    * vector) and iterate entirely at the driver: ONE Spark job for the
    * sample instead of one per Lloyd round.
    *
    *  - init: `k` sample vectors at evenly-spaced positions (stride,
    *    not first-k, which over-samples one neighborhood when ids
    *    correlate with content);
    *  - assign: the search's cosine argmax (score DESC, cent_id ASC via
    *    6dp rounding), so training optimizes exactly the metric search
    *    uses;
    *  - update: per-cell coordinate means rounded to 9dp, so float
    *    jitter can't flip boundary assignments; empty cells keep their
    *    previous centroid.
    *
    * The model (k×dim doubles) lives at the driver like MLlib's
    * KMeansModel.
    */
  def kmeansCentroidsSampledLocal(embeddings: DataFrame, k: Int, iters: Int,
                                  sampleMod: Int): Centroids = {
    val sample: Array[(Long, Array[Double])] =
      withNormed(embeddings)
        .filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
        .select(col("vec_id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val n = sample.length
    // empty sample → empty model: callers that can see an empty table
    // (clusterPurity) map it to an empty result; search paths document
    // a nonempty-corpus precondition
    if (n == 0) return Nil
    val stride = math.max(n / k, 1)
    var cents: Centroids = (0 until k).map(i =>
      (i.toLong, sample(math.min(i * stride, n - 1))._2)).toSeq
    val dim = cents.head._2.length
    def nrm(v: Array[Double]): Double = l2(v)
    for (_ <- 0 until iters) {
      // same cell rule as the map-side expression: round(cos, 6) max,
      // smallest cent_id on ties
      val assigned = sample.map { case (_, v) =>
        val vn = nrm(v)
        val best = cents.map { case (id, c) =>
          val dot = {
            var s = 0.0; var i = 0
            while (i < dim) { s += v(i) * c(i); i += 1 }; s
          }
          (BigDecimal(dot / (vn * nrm(c))).setScale(6, BigDecimal.RoundingMode.HALF_UP), id)
        }.maxBy { case (score, id) => (score, -id) }._2
        (best, v)
      }
      val byCell = assigned.groupBy(_._1).map { case (cell, vs) =>
        val mean = new Array[Double](dim)
        vs.foreach { case (_, v) => var i = 0; while (i < dim) { mean(i) += v(i); i += 1 } }
        var i = 0
        while (i < dim) {
          mean(i) = BigDecimal(mean(i) / vs.length)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
          i += 1
        }
        cell -> mean
      }
      cents = cents.map { case (id, old) => (id, byCell.getOrElse(id, old)) }
    }
    cents
  }

  /** IVF search over TRAINED centroids with multi-probe — the
    * production configuration. Not oracle-matched (k-means in SQL is
    * not worth mirroring); its contract is the recall spec against
    * [[cosineTopK]] ground truth. Training is the bounded-sample
    * driver-local build ([[kmeansCentroidsSampledLocal]]); pass
    * `sampleMod` so the sample is ~100·nCells vectors.
    */
  def cosineTopKIvfKmeans(embeddings: DataFrame, nQueries: Int, k: Int,
                          nCells: Int, iters: Int = 4, nProbe: Int = 2,
                          sampleMod: Int = 1): DataFrame = {
    val cents = kmeansCentroidsSampledLocal(embeddings, nCells, iters, sampleMod)
    cosineTopKIvfFrom(embeddings, cents, nQueries, k, nProbe)
  }

  /** [[cosineTopKIvfKmeans]] under a PRE-TRAINED coarse quantizer —
    * the production separation: the model is a corpus-versioned
    * artifact (faiss index training is a build step, not a query
    * step), so a search invocation pays zero training jobs.
    */
  def cosineTopKIvfFrom(embeddings: DataFrame, cents: Centroids,
                        nQueries: Int, k: Int, nProbe: Int = 2): DataFrame = {
    searchCells(withNormed(embeddings), cents, nQueries, k, nProbe)
  }

  /** Map-side frozen-cell assignment — the IVF index-MAINTENANCE
    * primitive (faiss `IndexIVF.add`: route new vectors to existing
    * cells, never retrain the coarse quantizer per batch): each vector
    * gets (v, nrm, cell) where cell is the same 6dp-rounded cosine
    * argmax the search uses. Zero joins, zero shuffles — a batch of
    * any size assigns in one map pass, which is what makes nightly
    * index maintenance batch-proportional. `ivf_assigned` in prepare()
    * materializes this over the standing corpus PARTITIONED BY cell,
    * so a probe-side filter on cell prunes standing partitions at
    * scan time.
    */
  def ivfAssign(embeddings: DataFrame, cents: Centroids): DataFrame = {
    withNormed(embeddings)
      .withColumn("cell",
        argmaxCell(cents)(col("v"), col("nrm")).cast("int"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
  }

  /** INCREMENTAL IVF search — the ANN twin of
    * [[graft.ops.Dedup.incrementalNewDocs]]:
    * the standing corpus arrives PRE-ASSIGNED from the materialized
    * cell-partitioned index store (it is never re-assigned, never
    * reshuffled — the index was built once per corpus version), the
    * batch assigns map-side against the SAME frozen centroids
    * ([[ivfAssign]]), and the multi-probe search runs over
    * standing ∪ batch. Law (IvfIncrementSpec): ≡
    * [[cosineTopKIvfFrom]] over the unioned raw embeddings with the
    * same frozen model — adding a batch through maintenance loses
    * nothing vs re-assigning the world, because assignment is a pure
    * per-row function of (vector, frozen centroids).
    */
  def cosineTopKIvfIncrement(assignedStanding: DataFrame, batch: DataFrame,
                             cents: Centroids, nQueries: Int, k: Int,
                             nProbe: Int = 2): DataFrame = {
    val all = assignedStanding
      .select(col("vec_id"), col("v"), col("nrm"),
        col("cell").cast("int").as("cell"))
      .unionByName(ivfAssign(batch, cents))
    searchAssigned(CacheScope.cached(all), cents, nQueries, k, nProbe)
  }

  /** DuckDB oracle SQL for the TRAINED-centroid IVF search — the
    * [[gaussianPlanes]] trick applied to k-means: the trained model is
    * DATA, not code, so the oracle embeds the centroid doubles as SQL
    * literals and independently recomputes the whole search — map-side
    * argmax cell assignment (6dp round, cent_id tiebreak), top-nProbe
    * multi-probe cell selection per query, scoring restricted to probed
    * cells, (cos_r DESC, c_id ASC) ranking. Training quality itself is
    * graded by the recall spec (KmeansIvfSpec); this makes the SEARCH
    * oracle-checkable, which the cross-engine float-summation argument
    * only ever blocked for the training step.
    *
    * Mirrors [[searchCells]] stage for stage; `Double.toString` gives
    * shortest-roundtrip literals so DuckDB parses the identical
    * doubles.
    */
  def ivfSearchOracleSql(cents: Centroids, nQueries: Int, k: Int, nProbe: Int,
                         extraCorpusSql: String = ""): String = {
    val centRows = cents.map { case (id, v) =>
      s"($id, [${v.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n       ")
    s"""WITH cent(cent_id, cv) AS (VALUES
       |       $centRows),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings$extraCorpusSql),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cn AS (SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM cent),
       |sc AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cent_id,
       |         round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) AS score
       |  FROM n, cn c),
       |assign AS (
       |  SELECT vec_id, v, nrm, cent_id AS cell FROM (
       |    SELECT vec_id, v, nrm, cent_id,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY score DESC, cent_id) AS rn
       |    FROM sc) t WHERE rn = 1),
       |probe AS (
       |  SELECT vec_id AS q_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY score DESC, cent_id) AS rn
       |    FROM sc WHERE vec_id < $nQueries) t WHERE rn <= $nProbe),
       |q AS (SELECT a.vec_id AS q_id, a.v AS qv, a.nrm AS qn, p.cell
       |      FROM assign a JOIN probe p ON p.q_id = a.vec_id),
       |scored AS (
       |  SELECT q.q_id, a.vec_id AS c_id,
       |         round(list_dot_product(q.qv, a.v) / (q.qn * a.nrm), 4) AS cos_r
       |  FROM assign a JOIN q ON a.cell = q.cell AND a.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, c_id, cos_r,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY cos_r DESC, c_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT q_id, c_id, cos_r, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Semantic dedup (SemDeDup)
  // -------------------------------------------------------------------------

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication", arXiv:2303.09540):
    * embedding-space near-dup detection that bounds the all-pairs
    * blow-up by k-means clustering — pairwise cosine is computed ONLY
    * within a cluster, on the theory (and the paper's measurement)
    * that semantic duplicates land in the same cluster. This is the
    * semantic complement to [[graft.ops.Dedup.minhashLshCandidates]]:
    * MinHash catches lexical near-dups, SemDeDup catches paraphrases
    * and re-encodings that share no shingles.
    *
    * Returns one row per vector: (vec_id, cell, keep_id) where
    * keep_id = min(vec_id, smallest within-cell neighbor with
    * cosine ≥ `minCos`) — the same deterministic min-id keeper rule as
    * [[graft.ops.Dedup.lshDedupKeepers]], so `keep_id <> vec_id` IS
    * the paper's "discard" set and downstream can
    * `filter(col("keep_id") === col("vec_id"))` to dedup.
    *
    * Shape, stage by stage:
    *  1. coarse centroids from a bounded driver-local sample
    *     ([[kmeansCentroidsSampledLocal]] — faiss-style: a coarse
    *     quantizer needs ~100·k training points regardless of corpus
    *     size);
    *  2. cell assignment is a pure MAP-SIDE argmax over the
    *     driver-resident model (native kernel when registered) — the
    *     vector table is never shuffled for assignment;
    *  3. ONE hash shuffle on `cell` co-locates each cluster, and the
    *     within-cell self-join scores Σ|cell|² pairs instead of N² —
    *     the paper's bound: with k clusters of even size that is
    *     N²/k work, and k is chosen to make each cluster
    *     executor-sized (they run k≈11k over 100M+ embeddings);
    *  4. the neighbor-min fold and singleton fold-in reuse the
    *     lshDedupKeepers pattern: the min-neighbor table is
    *     dup-set-sized, so it broadcasts and the corpus never
    *     shuffles again.
    *
    * At 100 TB: the only data-sized exchange is the single hash
    * partition on `cell`. Skewed (oversized) clusters are the known
    * failure mode — the mitigations are raising `nCells` (the paper's
    * lever) or LSH-bucketing within the hot cell; both preserve this
    * operator's output contract. Cosine is rounded to 4dp BEFORE the
    * threshold compare (and the cell argmax to 6dp, matching
    * [[ivfSearchOracleSql]]) so the pair set is reproducible across
    * engines and float-summation orders.
    */
  def semanticDedupKeepers(embeddings: DataFrame, nCells: Int, iters: Int,
                           sampleMod: Int, minCos: Double): DataFrame = {
    val cents = kmeansCentroidsSampledLocal(embeddings, nCells, iters, sampleMod)
    semanticDedupKeepersFrom(embeddings, cents, minCos)
  }

  /** [[semanticDedupKeepers]] under a pre-trained coarse quantizer
    * (see [[cosineTopKIvfFrom]] — models are build-step artifacts). */
  def semanticDedupKeepersFrom(embeddings: DataFrame, cents: Centroids,
                               minCos: Double): DataFrame = {
    val assigned = CacheScope.cached(
      withNormed(embeddings)
        .withColumn("cell", argmaxCell(cents)(col("v"), col("nrm")))
        .select(col("vec_id"), col("v"), col("nrm"), col("cell")))
    val pairs = assigned.as("x")
      .join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .filter(round(dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")), 4)
        >= minCos)
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
    // Undirected neighbor view in one explode, min-folded to one row
    // per dup-participating vector (dup-set-sized → broadcast), then a
    // single broadcast left join folds singletons in — the corpus
    // never shuffles after the cell co-location.
    val minNb = pairs
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .groupBy(col("e.a").as("vec_id")).agg(min(col("e.b")).as("nb"))
    assigned.select(col("vec_id"), col("cell"))
      .join(broadcast(minNb), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        least(col("vec_id"), coalesce(col("nb"), col("vec_id"))).as("keep_id"))
  }

  /** INCREMENTAL SemDeDup — the dedup twin of
    * [[cosineTopKIvfIncrement]] (same frozen coarse quantizer, same materialized
    * cell-partitioned standing store, now deciding keep/discard
    * instead of top-k): a batch of new vectors assigns map-side
    * ([[ivfAssign]]), scores against its cell's STANDING vectors (the
    * store side never re-assigns and never shuffles — the batch
    * broadcasts onto it) and against its in-batch cell-mates, and each
    * batch vector gets the union keeper rule
    * `keep_id = min(vec_id, min cell-neighbor with cos ≥ minCos)`.
    * Standing keep_ids are untouched BY CONSTRUCTION: batch ids sit
    * above all standing ids, so no standing minimum can change — which
    * is exactly why the increment restricted to batch rows ≡ the full
    * [[semanticDedupKeepersFrom]] re-run over standing ∪ batch
    * (IvfIncrementSpec pins it; the declared oracle re-runs the union
    * in DuckDB restricted to batch ids). Work is the SemDeDup bound
    * applied across corpora: Σ_cell |standing_cell|·|batch_cell| +
    * |batch_cell|², never |standing|².
    */
  def semanticDedupIncrement(assignedStanding: DataFrame, batch: DataFrame,
                             cents: Centroids, minCos: Double): DataFrame = {
    val bAssigned = CacheScope.cached(ivfAssign(batch, cents))
    val standingNb = assignedStanding
      .select(col("vec_id"), col("v"), col("nrm"),
        col("cell").cast("int").as("cell")).as("s")
      .join(broadcast(bAssigned.as("b")), col("s.cell") === col("b.cell"))
      .filter(round(dot(col("s.v"), col("b.v")) /
        (col("s.nrm") * col("b.nrm")), 4) >= minCos)
      .select(col("b.vec_id").as("vec_id"), col("s.vec_id").as("nb"))
    val batchPairs = bAssigned.as("x")
      .join(bAssigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .filter(round(dot(col("x.v"), col("y.v")) /
        (col("x.nrm") * col("y.nrm")), 4) >= minCos)
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
    val batchNb = batchPairs
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("vec_id"), col("e.b").as("nb"))
    val minNb = standingNb.unionByName(batchNb)
      .groupBy(col("vec_id")).agg(min(col("nb")).as("nb"))
    bAssigned.select(col("vec_id"), col("cell"))
      .join(broadcast(minNb), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("bigint").as("cell"),
        least(col("vec_id"), coalesce(col("nb"), col("vec_id"))).as("keep_id"))
  }

  /** DuckDB oracle for [[semanticDedupKeepers]] — the pinned-model
    * trick of [[ivfSearchOracleSql]]: the trained centroids are DATA,
    * so the oracle embeds them as literals and independently
    * recomputes assignment (6dp round, cent_id tiebreak), the
    * within-cell pair set (4dp round vs `minCos`), the undirected
    * min-neighbor fold, and the keeper rule. `extraCorpusSql` widens
    * the corpus (the incremental form's planted batch);
    * `restrictSql` filters the final keeper rows (e.g. to batch ids —
    * the increment ≡ union-rerun law, cross-engine).
    */
  def semanticDedupOracleSql(cents: Centroids, minCos: Double,
                             extraCorpusSql: String = "",
                             restrictSql: String = ""): String = {
    val centRows = cents.map { case (id, v) =>
      s"($id, [${v.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n       ")
    s"""WITH cent(cent_id, cv) AS (VALUES
       |       $centRows),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings$extraCorpusSql),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cn AS (SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM cent),
       |sc AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cent_id,
       |         round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) AS score
       |  FROM n, cn c),
       |assign AS (
       |  SELECT vec_id, v, nrm, CAST(cell AS BIGINT) AS cell FROM (
       |    SELECT vec_id, v, nrm, cent_id AS cell,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY score DESC, cent_id) AS rn
       |    FROM sc) t WHERE rn = 1),
       |pairs AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b
       |  FROM assign x JOIN assign y
       |    ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) >= $minCos),
       |und AS (SELECT a AS vec_id, b AS nb FROM pairs
       |        UNION ALL SELECT b, a FROM pairs),
       |mn AS (SELECT vec_id, min(nb) AS nb FROM und GROUP BY vec_id)
       |SELECT s.vec_id, s.cell,
       |       least(s.vec_id, coalesce(mn.nb, s.vec_id)) AS keep_id
       |FROM assign s LEFT JOIN mn USING (vec_id)
       |$restrictSql
       |ORDER BY s.vec_id""".stripMargin
  }

  /** Cluster-label purity audit: assign every vector to its trained
    * k-means cell (the same coarse quantizer the ANN/SemDeDup family
    * uses) and report, per cell, the population, the majority label,
    * and the majority fraction — the embedding-space sanity check run
    * before trusting clusters for curriculum/pruning decisions: cells
    * that mix labels badly mean the embedding (or k) does not capture
    * the taxonomy. Ties break (count DESC, label ASC), the repo-wide
    * determinism contract.
    *
    * Shape: one map-side argmax assignment against the broadcast
    * centroid model (native kernel when registered), one (cell, label)
    * count aggregate — |cells|·|labels| rows — then a cell-sized fold;
    * nothing downstream of the scan is ever data-sized. At 100 TB this
    * is a scan plus a KB-sized aggregate.
    */
  def clusterPurity(embeddings: DataFrame, nCells: Int, iters: Int = 4,
                    sampleMod: Int = 1): DataFrame = {
    val cents = kmeansCentroidsSampledLocal(embeddings, nCells, iters, sampleMod)
    clusterPurityFrom(embeddings, cents)
  }

  /** [[clusterPurity]] under a pre-trained quantizer. */
  def clusterPurityFrom(embeddings: DataFrame, cents: Centroids): DataFrame = {
    if (cents.isEmpty) {
      // empty table → empty audit, never a fault (EmptyInputSpec contract)
      val spark = embeddings.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Int, Double)]
        .toDF("cell", "n_vecs", "top_label", "purity")
    }
    val assigned = embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
      .select(col("label"),
        argmaxCell(cents)(col("v"), col("nrm")).as("cell"))
    assigned
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("c"))
      .groupBy(col("cell"))
      .agg(
        sum(col("c")).as("n_vecs"),
        max(struct(col("c").as("c"), (-col("label")).cast("long").as("neg"))).as("b"))
      .select(
        col("cell"), col("n_vecs"),
        (-col("b.neg")).cast("int").as("top_label"),
        round(col("b.c") / col("n_vecs").cast("double"), 4).as("purity"))
  }

  /** DuckDB oracle for [[clusterPurity]] — same pinned-centroid trick
    * as [[ivfSearchOracleSql]]: the trained model is data, so the
    * oracle embeds the centroid literals and independently recomputes
    * assignment (6dp round, cent_id tiebreak) and the purity fold.
    */
  def clusterPurityOracleSql(cents: Centroids): String = {
    val centRows = cents.map { case (id, v) =>
      s"($id, [${v.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n       ")
    s"""WITH cent(cent_id, cv) AS (VALUES
       |       $centRows),
       |e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cn AS (SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM cent),
       |sc AS (
       |  SELECT n.vec_id, n.label, c.cent_id,
       |         round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) AS score
       |  FROM n, cn c),
       |assign AS (
       |  SELECT vec_id, label, CAST(cell AS BIGINT) AS cell FROM (
       |    SELECT vec_id, label, cent_id AS cell,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY score DESC, cent_id) AS rn
       |    FROM sc) t WHERE rn = 1),
       |pc AS (SELECT cell, label, count(*) AS c FROM assign GROUP BY cell, label),
       |tot AS (SELECT cell, CAST(sum(c) AS BIGINT) AS n_vecs FROM pc GROUP BY cell),
       |top AS (
       |  SELECT cell, label AS top_label, c FROM (
       |    SELECT cell, label, c,
       |           row_number() OVER (PARTITION BY cell
       |                              ORDER BY c DESC, label) AS rn
       |    FROM pc) t WHERE rn = 1)
       |SELECT t.cell, t.n_vecs, p.top_label,
       |       round(p.c / t.n_vecs, 4) AS purity
       |FROM tot t JOIN top p USING (cell)
       |ORDER BY t.cell""".stripMargin
  }

  // -------------------------------------------------------------------------
  // IVF-PQ: product-quantized ANN
  // -------------------------------------------------------------------------

  /** Per-subspace PQ codebooks: `codebooks(j)(c)` is code `c`'s
    * (dim/m)-double reproduction vector for subspace `j`. Like
    * [[Centroids]], a driver-resident model shipped inside the plan.
    */
  type Codebooks = Seq[Seq[Array[Double]]]

  /** Squared L2 via an in-order left fold — the ONE shared definition
    * both the Spark literal and the oracle literal derive from, so the
    * `bn2` doubles embedded in the two plans are bit-identical.
    */
  private def l2sq(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }; s
  }

  /** Driver-local L2 Lloyd's over a point array — PQ codebook
    * training. Same determinism discipline as
    * [[kmeansCentroidsSampledLocal]]: stride init, 6dp-rounded
    * distances with smallest-code tiebreak, 9dp-rounded means, empty
    * cells keep their centroid. L2 (not cosine) because PQ minimizes
    * RECONSTRUCTION error — the reproduction vectors approximate the
    * subvector itself, not its direction (Jégou/Douze/Schmid, TPAMI
    * 2011, §II).
    */
  private def lloydL2Local(points: Array[Array[Double]], k: Int,
                           iters: Int): Seq[Array[Double]] = {
    val n = points.length
    val dim = points.head.length
    val stride = math.max(n / k, 1)
    var cents: Seq[Array[Double]] =
      (0 until k).map(i => points(math.min(i * stride, n - 1)))
    for (_ <- 0 until iters) {
      val assigned = points.map { v =>
        // argmin over 6dp-ROUNDED distances with smallest-code
        // tiebreak, via the monotone-round shortcut (see
        // plans/PqEncode.compute — identical winner, BigDecimal only
        // for the near-ties of the minimum instead of every code)
        val dists = cents.map { c =>
          var s = 0.0; var i = 0
          while (i < dim) { val dl = v(i) - c(i); s += dl * dl; i += 1 }
          s
        }.toArray
        val dmin = dists.min
        def r6(x: Double) = java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val r = r6(dmin)
        val best = dists.indexWhere(dc => dc <= dmin + 1.0000001e-6 && r6(dc) == r)
        (best, v)
      }
      val byCode = assigned.groupBy(_._1).map { case (code, vs) =>
        val mean = new Array[Double](dim)
        vs.foreach { case (_, v) =>
          var i = 0; while (i < dim) { mean(i) += v(i); i += 1 } }
        var i = 0
        while (i < dim) {
          mean(i) = BigDecimal(mean(i) / vs.length)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
          i += 1
        }
        code -> mean
      }
      cents = cents.zipWithIndex.map { case (old, ci) => byCode.getOrElse(ci, old) }
    }
    cents
  }

  /** Train the full IVF-PQ model on the bounded modulo sample: coarse
    * centroids (cosine Lloyd's, shared with [[cosineTopKIvfKmeans]])
    * plus one L2 codebook of `ks` codes per each of the `m` subspaces.
    * Two bounded collects (the sample is the contract, as in faiss);
    * both are model builds, never data-sized.
    */
  def pqTrainLocal(embeddings: DataFrame, nCells: Int, m: Int, ks: Int,
                   iters: Int, sampleMod: Int): (Centroids, Codebooks) = {
    val cents = kmeansCentroidsSampledLocal(embeddings, nCells, iters, sampleMod)
    val dim = cents.head._2.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val d = dim / m
    val sample = withNormed(embeddings)
      .filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    val cbs = (0 until m).map { j =>
      lloydL2Local(
        sample.map(v => java.util.Arrays.copyOfRange(v, j * d, (j + 1) * d)),
        ks, iters)
    }
    (cents, cbs)
  }

  /** Map-side PQ encoding: for each subspace, the code minimizing
    * round(‖sv‖² − 2·sv·bv + ‖bv‖², 6) with smallest-code tiebreak —
    * that exact expansion (NOT a fused Σ(x−y)² fold) because both
    * factors are then computed by the already-oracle-proven dot fold
    * and a driver literal, so DuckDB reproduces the argmin bit-for-bit.
    * Yields `array<int>` of m codes: dim×8 bytes → m bytes per vector,
    * the memory story that makes billion-vector ANN fit
    * (64-d doubles = 512 B → 8 B at m=8).
    *
    * Computed by the codegen'd graft_pq_encode kernel
    * (graft.plans.PqEncode): primitive loops plus a monotone-round
    * shortcut, because Spark round() on double allocates a BigDecimal
    * per evaluation and a declarative struct-min form pays m·ks of
    * them per row.
    */
  private def pqCodes(cb: Codebooks)(v: Column): Column =
    PqEncode.column(v, typedlit(cb.flatMap(_.flatMap(_.toSeq))), lit(cb.size),
      lit(cb.head.size))

  /** Reconstruction from codes: concatenate each subspace's looked-up
    * reproduction vector. A pure projection over the m-byte codes —
    * the full vector column is NOT needed at scoring time, which is
    * the point of PQ.
    */
  private def pqRecon(cb: Codebooks)(codes: Column): Column =
    concat(cb.zipWithIndex.map { case (cbj, j) =>
      element_at(typedlit(cbj.map(_.toSeq)), element_at(codes, j + 1) + 1)
    }: _*)

  /** IVF-PQ approximate top-k (Jégou/Douze/Schmid, "Product
    * quantization for nearest neighbor search", TPAMI 2011) — the
    * standard billion-scale ANN configuration, completing the family
    * after [[cosineTopKIvf]] (cells only) and [[cosineTopKIvfKmeans]]
    * (trained cells): coarse cells bound WHICH vectors are scored;
    * PQ codes bound WHAT is read to score them.
    *
    *  - encode: map-side cell argmax + per-subspace code argmin — the
    *    corpus never shuffles; the "index" is (cell, m codes) = a few
    *    bytes per vector;
    *  - search: queries keep their full vector (asymmetric distance —
    *    ADC — is the accurate variant, TPAMI 2011 §III.B) and score
    *    candidates in probed cells against their RECONSTRUCTIONS;
    *  - PQ here encodes the raw vector, not the cell residual
    *    (faiss `by_residual=false`): residual encoding couples the
    *    codebooks to the coarse quantizer and complicates the oracle
    *    for ~1 extra bit of accuracy at this m; the flag is the
    *    documented production knob.
    *
    * At 100 TB: the scored payload per candidate is m bytes + the
    * broadcast codebooks (m·ks·d doubles, model-sized); everything
    * else is the [[searchCells]] shape — one cell-key join against
    * broadcast queries, no corpus shuffle.
    */
  def cosineTopKIvfPq(embeddings: DataFrame, nQueries: Int, k: Int,
                      nCells: Int, m: Int, ks: Int, iters: Int = 4,
                      nProbe: Int = 2, sampleMod: Int = 1,
                      refine: Int = 0): DataFrame = {
    val (cents, cb) = pqTrainLocal(embeddings, nCells, m, ks, iters, sampleMod)
    cosineTopKIvfPqFrom(embeddings, cents, cb, nQueries, k, nProbe, refine)
  }

  /** [[cosineTopKIvfPq]] under a pre-trained (centroids, codebooks)
    * model (see [[cosineTopKIvfFrom]]). */
  def cosineTopKIvfPqFrom(embeddings: DataFrame, cents: Centroids,
                          cb: Codebooks, nQueries: Int, k: Int,
                          nProbe: Int = 2, refine: Int = 0): DataFrame = {
    val assigned = CacheScope.cached(
      withNormed(embeddings)
        .withColumn("cell", argmaxCell(cents)(col("v"), col("nrm")))
        .withColumn("codes", pqCodes(cb)(col("v")))
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"), col("codes")))
    val queries = assigned.filter(col("vec_id") < nQueries)
      .withColumn("probe",
        if (nProbe <= 1) array(col("cell"))
        else probeCells(cents, nProbe)(col("v"), col("nrm")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(col("probe")).as("cell"))
    val scored = assigned
      .join(broadcast(queries), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("rv", pqRecon(cb)(col("codes")))
      .select(col("q_id"), col("vec_id").as("c_id"),
        round(dot(col("qv"), col("rv"))
          / (col("qn") * norm(col("rv"))), 4).as("cos_r"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("c_id").asc)
    val pqRanked = scored
      .withColumn("rnk", row_number().over(wTop).cast("long"))
    if (refine <= 0) pqRanked.filter(col("rnk") <= k)
    else {
      // Refine stage (faiss's IndexRefine — two-stage retrieval): the
      // PQ scan only SHORTLISTS `refine` candidates per query; the
      // shortlist (queries×refine rows, model-sized) broadcasts back
      // against the corpus for a full-precision rescore of just those
      // rows. Codes decide WHO gets read; full vectors decide the
      // final order — how production PQ recovers exact ranking when
      // code resolution ties out within a cluster.
      val short = pqRanked.filter(col("rnk") <= refine)
        .select(col("q_id"), col("c_id"))
      val qv = assigned.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      assigned
        .join(broadcast(short), col("vec_id") === col("c_id"))
        .join(broadcast(qv), Seq("q_id"))
        .select(col("q_id"), col("c_id"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4)
            .as("cos_r"))
        .withColumn("rnk", row_number().over(wTop).cast("long"))
        .filter(col("rnk") <= k)
    }
  }

  /** DuckDB oracle for [[cosineTopKIvfPq]] — pinned-model trick, third
    * application: centroids AND codebooks (with their pre-folded
    * ‖bv‖², the same [[l2sq]] doubles the Spark plan embeds) become
    * SQL literals, and DuckDB independently recomputes assignment,
    * per-subspace code argmin, reconstruction, ADC scoring, and
    * ranking. Training quality is graded by the recall spec.
    */
  def ivfPqSearchOracleSql(cents: Centroids, cb: Codebooks,
                           nQueries: Int, k: Int, nProbe: Int,
                           refine: Int = 0): String = {
    val dim = cents.head._2.length
    val m = cb.size
    val d = dim / m
    val centRows = cents.map { case (id, v) =>
      s"($id, [${v.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n       ")
    val cbRows = cb.zipWithIndex.flatMap { case (cbj, j) =>
      cbj.zipWithIndex.map { case (bv, ci) =>
        s"($j, $ci, [${bv.map(_.toString).mkString(", ")}]::DOUBLE[], " +
          s"${l2sq(bv).toString})"
      }
    }.mkString(",\n       ")
    val sv = s"list_slice(a.v, cb.j*$d + 1, (cb.j+1)*$d)"
    s"""WITH cent(cent_id, cv) AS (VALUES
       |       $centRows),
       |cb(j, code, bv, bn2) AS (VALUES
       |       $cbRows),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cn AS (SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM cent),
       |sc AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cent_id,
       |         round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) AS score
       |  FROM n, cn c),
       |assign AS (
       |  SELECT vec_id, v, nrm, cent_id AS cell FROM (
       |    SELECT vec_id, v, nrm, cent_id,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY score DESC, cent_id) AS rn
       |    FROM sc) t WHERE rn = 1),
       |enc AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT a.vec_id, cb.j, cb.code,
       |           row_number() OVER (PARTITION BY a.vec_id, cb.j
       |             ORDER BY round(list_dot_product($sv, $sv)
       |                            - 2*list_dot_product($sv, cb.bv)
       |                            + cb.bn2, 6),
       |                      cb.code) AS rn
       |    FROM assign a, cb) t WHERE rn = 1),
       |recon AS (
       |  SELECT enc.vec_id, flatten(list(cb.bv ORDER BY enc.j)) AS rv
       |  FROM enc JOIN cb ON cb.j = enc.j AND cb.code = enc.code
       |  GROUP BY enc.vec_id),
       |probe AS (
       |  SELECT vec_id AS q_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY score DESC, cent_id) AS rn
       |    FROM sc WHERE vec_id < $nQueries) t WHERE rn <= $nProbe),
       |q AS (SELECT a.vec_id AS q_id, a.v AS qv, a.nrm AS qn, p.cell
       |      FROM assign a JOIN probe p ON p.q_id = a.vec_id),
       |scored AS (
       |  SELECT q.q_id, a.vec_id AS c_id,
       |         round(list_dot_product(q.qv, r.rv)
       |               / (q.qn * sqrt(list_dot_product(r.rv, r.rv))), 4) AS cos_r
       |  FROM assign a
       |  JOIN q ON a.cell = q.cell AND a.vec_id <> q.q_id
       |  JOIN recon r ON r.vec_id = a.vec_id),
       |ranked AS (
       |  SELECT q_id, c_id, cos_r,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY cos_r DESC, c_id) AS BIGINT) AS rnk
       |  FROM scored)${if (refine <= 0) "" else s"""
       |, shortlist AS (SELECT q_id, c_id FROM ranked WHERE rnk <= $refine),
       |rescored AS (
       |  SELECT s.q_id, s.c_id,
       |         round(list_dot_product(qa.v, ca.v) / (qa.nrm * ca.nrm), 4) AS cos_r
       |  FROM shortlist s
       |  JOIN assign qa ON qa.vec_id = s.q_id
       |  JOIN assign ca ON ca.vec_id = s.c_id),
       |ranked2 AS (
       |  SELECT q_id, c_id, cos_r,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY cos_r DESC, c_id) AS BIGINT) AS rnk
       |  FROM rescored)"""}
       |SELECT q_id, c_id, cos_r, rnk FROM ${if (refine <= 0) "ranked" else "ranked2"}
       |WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Hyperplane LSH
  // -------------------------------------------------------------------------

  /** Random-hyperplane LSH (Charikar, STOC 2002): signature bit i =
    * sign(v · r_i) for `nPlanes` fixed pseudo-random hyperplanes.
    * P[bit agrees] = 1 − θ/π, so high-cosine vectors collide into the
    * same bucket with high probability and the all-pairs search
    * becomes per-bucket. Planes are generated from a fixed seed, so
    * bucketing is deterministic across runs and executors. Identical
    * vectors always share a bucket; recall for near-but-not-identical
    * pairs is tuned by nPlanes (fewer planes = bigger buckets = higher
    * recall, more work) and multi-probe (see [[cosineTopKLsh]]'s
    * `nProbe`).
    */
  /** The deterministic Gaussian hyperplane family behind
    * [[hyperplaneLshBuckets]] — factored out so the DuckDB oracle for
    * `q_sim_lsh` can embed the IDENTICAL doubles as SQL literals (the
    * oracle can't reproduce java.util.Random, but it doesn't need to:
    * the planes are data, not code).
    */
  def gaussianPlanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  def hyperplaneLshBuckets(embeddings: DataFrame, dim: Int, nPlanes: Int, seed: Long = 42L): DataFrame = {
    val planes: Seq[Seq[Double]] = gaussianPlanes(dim, nPlanes, seed)
    val v = col("embedding").cast("array<double>")
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, typedlit(p)) > 0.0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    embeddings.select(col("vec_id"), v.as("v"), bucket.as("bucket"))
  }

  /** LSH-bucketed approximate top-k: score a query only against
    * candidates sharing one of its probed buckets. Same shape as
    * [[cosineTopKIvf]] but the partitioner is data-independent (no
    * centroid build step) — the right choice when the corpus drifts
    * faster than you want to re-train centroids.
    *
    * `probeHamming1 = true` turns on multi-probe: each query also
    * searches the `nPlanes` buckets at Hamming distance 1 from its own
    * signature (the sign bits most likely to have flipped for a true
    * neighbor). Recall rises at the cost of probing nPlanes+1 buckets —
    * still N·(nPlanes+1)/2^nPlanes of the corpus, sub-linear for
    * nPlanes ≥ 4. Candidates live in exactly one bucket and probe
    * buckets are distinct, so no pair-dedup pass is needed.
    */
  def cosineTopKLsh(embeddings: DataFrame, nQueries: Int, k: Int, nPlanes: Int,
                    probeHamming1: Boolean = false): DataFrame = {
    val bucketed = CacheScope.cached(
      hyperplaneLshBuckets(embeddings, dim = 64, nPlanes = nPlanes)
        .withColumn("nrm", norm(col("v"))))
    val probes =
      if (!probeHamming1) array(col("bucket"))
      else array(col("bucket") +:
        (0 until nPlanes).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*)
    val queries = bucketed.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
      explode(probes).as("bucket"))
    val scored = bucketed
      .join(broadcast(queries), Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(
        col("q_id"), col("vec_id").as("c_id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("cos_r"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("c_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k highest-cosine vectors carrying a DIFFERENT
    * label — the pairs an embedding model most needs to push apart
    * (high-similarity, wrong-class; random negatives are trivially
    * easy and teach nothing). The mined (anchor, hard-negative) pairs
    * are the training-data artifact.
    *
    * Shape: identical to [[cosineTopK]] — queries broadcast, one
    * map-side cosine pass over the candidate table, per-query rank
    * window — with the label-mismatch predicate folded into the join
    * condition so same-class pairs never materialize. At 100 TB the
    * brute-force pass swaps for the IVF/PQ shortlist exactly like the
    * ANN family; the mining predicate is unchanged.
    */
  def hardNegatives(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val asDouble = embeddings.select(
      col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val cands = asDouble.select(
      col("vec_id").as("c_id"), col("label").as("c_label"),
      col("v").as("cv"), norm(col("v")).as("cn"))
    val queries = asDouble.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"), col("label").as("q_label"),
      col("v").as("qv"), norm(col("v")).as("qn"))
    val scored = cands
      .join(broadcast(queries), col("q_label") =!= col("c_label"))
      .select(
        col("q_id"), col("c_id"), col("c_label"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4).as("cos_r"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("c_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** k-NN label audit: hold out every vector whose id hits the modulus
    * as "unlabeled", predict its class by majority vote of its k
    * highest-cosine LABELED neighbors (count desc, label asc on ties),
    * and emit prediction vs truth — the cheap label-noise detector run
    * before training on labeled data (a vector whose neighbors
    * consistently outvote its own label is a likely annotation error —
    * the intuition behind confident-learning cleanup).
    *
    * Shape: the held-out queries become a MODEL — collected once
    * (bounded by 1/modulus of the table) into a flat matrix shipped
    * per task as a codegen reference object. One compiled
    * [[graft.plans.AllCosines]] pass per corpus row then scores every
    * query WITHOUT materializing pair rows that carry the dense
    * vectors (a broadcast-nested-loop form copies qv+cv — ~1 KB — per
    * scored pair); the pair stream is (c_id, label, q_idx, cos). The
    * vote then aggregates ≤ q·k rows. Same ANN-shortlist substitution
    * as [[hardNegatives]] at scale.
    */
  def knnLabelVote(embeddings: DataFrame, modulus: Int, k: Int,
                   holdoutRows: Option[Seq[(Long, Int, Array[Double])]] = None): DataFrame = {
    val asDouble = embeddings.select(
      col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val labeled = asDouble.filter(pmod(col("vec_id"), lit(modulus.toLong)) =!= 0)
      .select(col("vec_id").as("c_id"), col("label").as("c_label"),
        col("v").as("cv"), norm(col("v")).as("cn"))
    // pre-collected holdout validated LOUDLY: ids must be ascending
    // multiples of `modulus` (a wrong-modulus slice would silently
    // score the wrong holdout — the positional-matrix trap).
    // An EMPTY slice is accepted (consistent with an empty embeddings
    // table, so memo-fed ≡ collect-path on empty input — EmptyInputSpec
    // pins this) but is completeness-checked IN-PLAN below: if the
    // table actually has holdout rows, the guard branch raises instead
    // of silently returning zero rows
    holdoutRows.foreach { hs =>
      require(hs.map(_._1) == hs.map(_._1).sorted &&
          hs.forall(_._1 % modulus == 0),
        s"knnLabelVote holdoutRows must be ascending vec_ids % $modulus == 0, " +
          s"got ${hs.size} rows")
    }
    // query-matrix model build (bounded: |holdout| rows of dim doubles)
    val qRows: Seq[(Long, Int, Array[Double])] = holdoutRows.getOrElse(
      asDouble.filter(pmod(col("vec_id"), lit(modulus.toLong)) === 0)
        .orderBy(col("vec_id"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray)))
    val qIds = qRows.map(_._1).toArray
    val qLabels = qRows.map(_._2).toArray
    val flat = qRows.toArray.flatMap(_._3)
    // top-k per query: the codegen'd expression form (collect_list →
    // array_sort → slice; struct packs (-cos, c_id) so the natural
    // ASC sort is cos DESC, id ASC — the same ordering contract as
    // TopK.TopKAggregator). Partial lists are unbounded but rows are
    // 24-byte skinny structs. A bounded-state typed aggregator with
    // the label as payload caps each partial at k, but measured ~1
    // µs/row of encoder+buffer overhead at sf0.1, 2.5× this aggregate;
    // it pays off only once the candidate side is a full corpus.
    val neighbors = labeled
      .select(col("c_id"), col("c_label").cast("long").as("c_label"),
        posexplode(AllCosines.column(
          col("cv"), col("cn"), typedlit(flat), lit(qRows.length)))
          .as(Seq("q_idx", "cos")))
      .groupBy(col("q_idx"))
      .agg(slice(array_sort(collect_list(struct(
        (-round(col("cos"), 4)).as("ns"), col("c_id"), col("c_label")))), 1, k).as("top"))
      .select(
        element_at(typedlit(qIds), col("q_idx") + 1).as("q_id"),
        element_at(typedlit(qLabels), col("q_idx") + 1).as("q_label"),
        expr("transform(top, t -> t.c_label)").as("labels"))
    // majority vote IN-ARRAY: k is small, so the per-query vote is a
    // map-side HOF over the top-k label array — no explode, no second
    // aggregation exchange, no rank window. Winner = max votes, label
    // asc on ties (packed as (votes, -label) so array_max's natural
    // struct order applies).
    val best = expr(
      """array_max(transform(array_distinct(labels),
        |  l -> struct(size(filter(labels, x -> x = l)) as votes,
        |              -l as neg)))""".stripMargin)
    val voted = neighbors
      .withColumn("b", best)
      .select(
        col("q_id").as("vec_id"), col("q_label").as("label"),
        (-col("b.neg")).cast("int").as("pred_label"),
        col("b.votes").cast("long").as("votes"),
        when((-col("b.neg")).cast("int") === col("q_label"), 1L).otherwise(0L).as("correct"))
    // empty pre-collected slice: consistent with an EMPTY embeddings
    // table (both paths return zero rows there), but against a
    // NON-empty table it means a stale/wrong memo that would silently
    // fake "no holdout" — so the plan itself checks: union a guard
    // branch that raises iff any holdout-eligible row exists (limit 1
    // — one short-circuiting probe, no rows when the table is truly
    // empty). The loud-validation contract of the SPM segRows path.
    holdoutRows match {
      case Some(hs) if hs.isEmpty =>
        val guard = asDouble
          .filter(pmod(col("vec_id"), lit(modulus.toLong)) === 0)
          .limit(1)
          .select(
            raise_error(concat(
              lit("knnLabelVote holdoutRows slice is EMPTY but the embeddings " +
                "table has holdout row vec_id="),
              col("vec_id").cast("string"))).cast("long").as("vec_id"),
            lit(null).cast("int").as("label"),
            lit(null).cast("int").as("pred_label"),
            lit(null).cast("long").as("votes"),
            lit(null).cast("long").as("correct"))
        voted.unionByName(guard)
      case _ => voted
    }
  }

  /** Prototypicality ranking: cosine of each vector to its class
    * centroid, ranked within class — the data-pruning signal of
    * Sorscher et al. 2022 ("Beyond neural scaling laws"): prototypical
    * examples (near the centroid) are redundant when data is abundant
    * and keepable when it's scarce; the rank is what a pruning policy
    * cuts on from either end. Also the SemDeDup paper's within-cluster
    * ordering, applied to labeled classes instead of k-means cells.
    *
    * Shape: centroids come from ONE per-(label, dim) mean aggregate
    * over the posexploded vectors — map-side combinable, |labels|·dim
    * result rows — re-assembled into |labels| arrays and broadcast;
    * the cosine is then pure map-side against the broadcast centroid
    * and the only corpus-wide shuffle is the per-label rank window.
    * At 100 TB: the aggregate is the classic mergeable shape, the
    * centroid table is KB-sized, and the rank window swaps for an
    * approx-quantile threshold when only a keep/cut verdict is needed.
    */
  def prototypicality(embeddings: DataFrame): DataFrame = {
    val cast = embeddings.select(
      col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val cents = cast
      .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i")).agg(avg(col("x")).as("cx"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("i"), col("cx")))).as("cs"))
      .select(col("label"), transform(col("cs"), s => s("cx")).as("cv"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    cast.join(broadcast(cents), Seq("label"))
      .select(
        col("vec_id"), col("label"),
        round(dot(col("v"), col("cv")) /
          (norm(col("v")) * norm(col("cv"))), 4)
          .as("cos_r"))
      .withColumn("proto_rnk", row_number().over(w).cast("long"))
  }
}
