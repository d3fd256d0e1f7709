package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.GQuery
import graft.GQuery.{oracled, rowsOnly, sqlOver, sqlSurface}
import graft.sources.Tables

/** Second-ring relational surface: pivot, correlated subqueries, ALL set
  * variants — plus an IVF-style (k-means-bucketed) ANN as the clustered
  * alternative to sign-LSH.
  */
object Advanced {

  /** q60 — pivot: order counts per (priority × status) matrix. The
    * oracle uses portable conditional aggregation; Spark uses the
    * first-class `pivot` operator (which compiles to the same single
    * hash aggregate — pivot values are declared, so no extra pass).
    */
  val q60 = oracled(
    "q60_pivot",
    "pivot orderstatus into columns per priority",
    """SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
       FROM orders
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority""") { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy(col("o_orderpriority"))
  }

  /** q61 — correlated scalar subquery: customers richer than their
    * nation's average balance. The oracle text itself runs through
    * spark.sql, so Catalyst's subquery decorrelation
    * (RewriteCorrelatedScalarSubquery) is the machinery under test.
    */
  val q61 = sqlSurface(
    "q61_correlated_subquery",
    "correlated scalar subquery (decorrelated to an agg+join by Catalyst)",
    """SELECT c_custkey, c_nationkey, c_acctbal
       FROM customer c1
       WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer c2
                          WHERE c2.c_nationkey = c1.c_nationkey)
       ORDER BY c_custkey""",
    "customer")

  /** q62 — multiset (ALL) set operations: bag semantics preserve
    * duplicate cardinality, unlike q16/q17's set semantics.
    */
  val q62 = oracled(
    "q62_set_ops_all",
    "INTERSECT ALL / EXCEPT ALL bag semantics",
    """SELECT status_pair, COUNT(*) AS n FROM (
         SELECT 'intersect_all' AS status_pair FROM
           (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            INTERSECT ALL
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
         UNION ALL
         SELECT 'except_all' AS status_pair FROM
           (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            EXCEPT ALL
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'))
       GROUP BY status_pair
       ORDER BY status_pair""") { (s, dir) =>
    def keys(status: String) =
      Tables.orders(s, dir).filter(col("o_orderstatus") === status)
        .select(col("o_custkey"))
    val ia = keys("F").intersectAll(keys("O")).select(lit("intersect_all").as("status_pair"))
    val ea = keys("F").exceptAll(keys("O")).select(lit("except_all").as("status_pair"))
    ia.union(ea)
      .groupBy(col("status_pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status_pair"))
  }

  /** One IVF index build per (context, data dir): the k-means fit is the
    * index-construction phase of an IVF ANN — a production system builds
    * it once and serves many probes, exactly like the memoized ALS fit
    * (`ml.Recommender.alsModel`). Re-fitting per invocation was the
    * round-2 bench regression (5.9→9.2 s). The memoized value is the
    * cell-assigned vector table, localCheckpoint'd (eager) so the
    * feature-vector working cache can be released immediately.
    */
  private val ivfCellsCache = scala.collection.concurrent.TrieMap
    .empty[String, (org.apache.spark.sql.DataFrame, Array[Array[Double]])]

  /** One k-means fit per (context, dir): the assigned-cell frame PLUS
    * the 16 centroid vectors (the coarse quantizer itself — q323's
    * multi-probe needs per-query distances to the OTHER centroids,
    * which only the model knows; re-fitting per consumer would be the
    * round-3 q63 leak again). Both halves persist as parquet artifacts
    * — the cell table as the big scan-side relation, the centroids as
    * a 16-row sidecar — so a fresh context (or a later RUN under a
    * stable SPARK_GRAFT_ARTIFACT_DIR) reloads the index instead of
    * re-fitting; the in-context memo only holds the reconstructed
    * driver-side centroid array and the cell-scan handle.
    */
  private def ivfIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, Array[Array[Double]]) =
    graft.Memo.sync(ivfCellsCache, graft.Memo.key(s, dir))( {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      import graft.functions.VecOps.l2Norm
      // fitted at most once: evaluated only when an artifact is absent
      lazy val fitted: (org.apache.spark.sql.DataFrame, Array[Array[Double]]) = {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"),
            array_to_vector(col("embedding")).as("features"))
          .cache()
        try {
          val model = new KMeans().setK(16).setSeed(42L).setMaxIter(5).fit(e)
          val cells = model.transform(e)
            .select(col("vec_id"), col("embedding"), col("nrm"), col("prediction").as("cell"))
            .localCheckpoint() // eager: materialize before releasing e
          (cells, model.clusterCenters.map(_.toArray))
        } finally e.unpersist()
      }
      val cells = graft.Memo.artifact(s, dir, "ivf_cells")(fitted._1)
      val cents = graft.Memo.artifact(s, dir, "ivf_centroids")( {
        import s.implicits._
        fitted._2.zipWithIndex.toSeq
          .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("cell", "vec")
      })
      (cells, cents.orderBy(col("cell")).collect()
        .map(_.getSeq[Double](1).toArray))
    })

  private def ivfCells(s: org.apache.spark.sql.SparkSession, dir: String) =
    ivfIndex(s, dir)._1

  /** The q63 candidate listing (query_id, vec_b, cos_sim, rn): each
    * query probes ONLY its own k-means cell and takes top-5 by cosine.
    * The clustered counterpart to q51's sign-LSH. Consumed by q63's
    * recall contract below and by ScaleSpec's recall measurement.
    */
  private[graft] def ivfTopK(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val cells = ivfCells(s, dir)
    Similarity.topK(
      Similarity.cosineScored(cells.filter(col("vec_id") < 10), cells,
        col("x.cell") === col("y.cell")), 5)
  }

  /** Oracle floor for q63's overall recall@5 vs the exact cosine top-5.
    * Measured 0.32 at sf0.01 / 0.22 at sf0.1 (single probed cell of 16,
    * k-means seed 42 — recall is bounded by how often true neighbors
    * share the query's cell); the floor sits at ~half the observed
    * minimum so the contract survives fixture regeneration without
    * tracking noise.
    */
  private val IvfRecallFloor = 0.10

  /** q63 — IVF-style ANN: k-means coarse quantizer (seeded) assigns each
    * vector to a centroid cell; queries probe only their own cell. The
    * centroids depend on the seeded MLlib fit, so the LISTING can't be
    * oracle-hashed; instead the query emits the ANN's service contract
    * as data — overall recall@5 against the exact cosine top-5 (computed
    * in-engine, brute force) is at least [[IvfRecallFloor]] — which the
    * DuckDB oracle derives from exact counts alone (n_queries, TRUE).
    */
  val q63 = oracled(
    "q63_ann_ivf_kmeans",
    "IVF ANN (k-means cells, seeded): recall@5 contract vs exact cosine top-5",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
       FROM embeddings WHERE vec_id < 10""") { (s, dir) =>
    val ann = ivfTopK(s, dir).select(col("query_id"), col("vec_b"))
    val e = Similarity.withNorm(Tables.embeddings(s, dir))
    val exact = Similarity.topK(
      Similarity.cosineScored(e.filter(col("vec_id") < 10), e, lit(true)), 5)
      .select(col("query_id"), col("vec_b"))
    exact.join(ann.withColumn("hit", lit(1)), Seq("query_id", "vec_b"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= IvfRecallFloor).as("recall_ok"))
  }

  /** q323 — IVF MULTI-PROBE (nprobe = 2): each query probes its own
    * k-means cell PLUS its nearest OTHER centroid — the clustered-index
    * sibling of q51/q315's bit-flip probing, completing the r14
    * multi-probe family across both bucketed indexes. The second probe
    * is chosen by exact per-query centroid distance (argmin over
    * −2·x·c + ‖c‖² with the centroids as literals — ‖x‖² is constant
    * per row, and the model-assigned own cell is EXCLUDED rather than
    * re-derived, so an fp disagreement with MLlib's assignment can
    * never flip probe 1). Like q63, the listing depends on the seeded
    * MLlib fit and cannot be oracle-hashed; the query emits the
    * service contract as data: per-query DOMINANCE (multi candidates ⊇
    * single ⟹ counts and recall@5 monotone — the q315 displacement
    * argument verbatim) and the overall multi-probe recall floor. At
    * 100 TB the index is unchanged — probing is query-side, one extra
    * cell scan per query (2/16 of the corpus instead of 1/16).
    */
  val q323 = oracled(
    "q323_ivf_multiprobe",
    "IVF multi-probe (nprobe=2): dominance + recall@5 contract vs single-cell probing",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         TRUE AS dominance_ok, TRUE AS recall_ok
       FROM embeddings WHERE vec_id < 10""") { (s, dir) =>
    import graft.functions.VecOps.dotF
    val (cells, cents) = ivfIndex(s, dir)
    val centArr = cents.zipWithIndex.map { case (c, j) =>
      struct(
        (lit(-2.0) * dotF(col("embedding"), typedLit(c.toSeq))
          + lit(c.map(v => v * v).sum)).as("d"),
        lit(j).as("j"))
    }
    val q10 = cells.filter(col("vec_id") < 10)
      .withColumn("ds", array_sort(array(centArr.toIndexedSeq: _*)))
      .withColumn("cell2",
        filter(col("ds"), e => e.getField("j") =!= col("cell"))
          .getItem(0).getField("j"))
      .drop("ds")
      .localCheckpoint() // spine of both candidate joins + the ledger
    val qp = q10.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(array(col("cell"), col("cell2"))).as("probe"))
    val cs1 = Similarity.cosineScored(q10, cells,
      col("x.cell") === col("y.cell")).localCheckpoint()
    val csm = Similarity.cosineScored(qp, cells,
      col("x.probe") === col("y.cell")).localCheckpoint()
    val e = Similarity.withNorm(Tables.embeddings(s, dir))
    val exact = Similarity.topK(
      Similarity.cosineScored(q10, e, lit(true)), 5)
      .select(col("query_id"), col("vec_b"), lit(1L).as("hit"))
    def perQuery(cs: org.apache.spark.sql.DataFrame, sfx: String) = {
      val rc = Similarity.topK(cs, 5)
        .join(exact, Seq("query_id", "vec_b"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as(s"rc_$sfx"))
      val nc = cs.groupBy(col("query_id")).agg(count(lit(1)).as(s"nc_$sfx"))
      rc.join(nc, Seq("query_id"))
    }
    perQuery(cs1, "s").join(perQuery(csm, "m"), Seq("query_id"))
      .agg(
        count(lit(1)).as("n_queries"),
        every(col("nc_m") >= col("nc_s") && col("rc_m") >= col("rc_s"))
          .as("dominance_ok"),
        (sum(col("rc_m")).cast("double") / (count(lit(1)) * 5)
          >= IvfRecallFloor).as("recall_ok"))
  }

  // --------------------------------------------------- product quantization

  private val PqSub = 8        // subspaces over the 64-dim embedding
  private val PqK = 16         // centroids per subspace -> 4 bits/code
  private val PqDim = 8        // dims per subspace
  private val PqShortlist = 50     // ADC candidates re-ranked exactly
  private val PqTrainCap = 8192L   // codebook training sample bound

  /** One PQ codebook + encoded-corpus build per (context, dir) — the
    * index-construction phase of a product-quantization ANN (Jégou et
    * al., "Product Quantization for Nearest Neighbor Search", TPAMI
    * 2011): [[PqSub]] seeded k-means fits over 8-dim subvectors, then a
    * SCAN-LOCAL encode via 128 codegen'd [[graft.functions.VecOps]] dot
    * products against the literal codebook (argmin by the -2·x·c + ‖c‖²
    * expansion — ‖x_m‖² is constant per row per subspace, so it can't
    * change the argmin). 64 float dims compress to 8 nibbles per vector:
    * at 100 TB of embeddings the ADC scan touches 32× fewer bytes than
    * the raw vectors, which is the entire point of PQ.
    *
    * Memo value: (codebook[m][k][d], codes frame (vec_id, embedding,
    * codes ARRAY<INT>)) — persisted as the "pq_codes" parquet artifact
    * plus a [[PqSub]]×[[PqK]]-row "pq_codebook" sidecar (m, k, vec), so
    * the index reloads across contexts/runs instead of re-training; the
    * codebook readback is a bounded-artifact collect (128 rows), the
    * same class as the training-sample collect below.
    */
  private val pqCache = scala.collection.concurrent.TrieMap
    .empty[String, (Array[Array[Array[Double]]], org.apache.spark.sql.DataFrame)]

  private[graft] def pqIndex(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Array[Array[Array[Double]]], org.apache.spark.sql.DataFrame) =
    graft.Memo.sync(pqCache, graft.Memo.key(s, dir))( {
      lazy val fitted: (Array[Array[Array[Double]]], org.apache.spark.sql.DataFrame) = {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")).cache()
      try {
        // Codebooks train DRIVER-SIDE on a bounded content-deterministic
        // sample (every stride-th vec_id, ≤ PqTrainCap rows ≈ 2 MB) —
        // the standard PQ practice: centroid quality saturates long
        // before the corpus is exhausted, the sample is a bounded
        // artifact (like a broadcast var or the q103 bloom bytes), and
        // 8 tiny Lloyd fits cost milliseconds where 8 MLlib jobs cost
        // seconds of per-fit overhead. Fully deterministic: stride
        // selection depends on content only, never on partitioning.
        val n = e.count()
        val stride = math.max(1L, (n + PqTrainCap - 1) / PqTrainCap)
        val sample = e.filter(pmod(col("vec_id"), lit(stride)) === 0)
          .orderBy(col("vec_id"))
          .collect().map(_.getSeq[Float](1).toArray)
        val codebook = Array.tabulate(PqSub) { m =>
          val pts = sample.map(v => Array.tabulate(PqDim)(d => v(m * PqDim + d).toDouble))
          lloyd(pts, PqK, iters = 5)
        }
        // pre-project the 8 subvector slices once, so the 128 generated
        // dot products reference plain columns instead of re-slicing
        // (meaningfully smaller generated code => faster janino compile)
        val withSubs = e.select(Seq(col("vec_id"), col("embedding")) ++
          (0 until PqSub).map(m =>
            slice(col("embedding"), m * PqDim + 1, PqDim).as(s"sub$m")): _*)
        val codes = withSubs.select(col("vec_id"), col("embedding"),
          array((0 until PqSub).map(m => pqCode(col(s"sub$m"), codebook, m)): _*)
            .as("codes"))
          .localCheckpoint() // eager: release the raw-vector cache below
        (codebook, codes)
      } finally e.unpersist()
      }
      val codes = graft.Memo.artifact(s, dir, "pq_codes")(fitted._2)
      val cb = graft.Memo.artifact(s, dir, "pq_codebook")( {
        import s.implicits._
        (for { m <- fitted._1.indices; k <- fitted._1(m).indices }
          yield (m.toLong, k.toLong, fitted._1(m)(k).toSeq))
          .toDF("m", "k", "vec")
      })
      val rows = cb.orderBy(col("m"), col("k")).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt,
          r.getSeq[Double](2).toArray))
      val codebook = Array.tabulate(PqSub, PqK)((m, k) =>
        rows.find(t => t._1 == m && t._2 == k).get._3)
      (codebook, codes)
    })

  /** Deterministic Lloyd k-means: evenly-spaced init over the (ordered)
    * sample, ties to the lowest centroid id, empty clusters keep their
    * previous centroid.
    */
  private def lloyd(pts: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val dim = pts.head.length
    var centroids = Array.tabulate(k)(i => pts((i.toLong * pts.length / k).toInt).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, dim)(0.0)
      val counts = Array.fill(k)(0L)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = p(i) - centroids(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(k)(c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(dim)(i => sums(c)(i) / counts(c)))
    }
    centroids
  }

  /** Nearest-centroid code for subspace m: argmin_k ‖x_m − c_mk‖² via
    * the dot-product expansion (codegen'd dots, no HOF in the distance).
    * `sub` must already be the m-th subvector slice.
    */
  private def pqCode(sub: Column, cb: Array[Array[Array[Double]]], m: Int): Column = {
    import graft.functions.VecOps.dotF
    val scores = array((0 until PqK).map { k =>
      val c = cb(m)(k)
      val cNorm2 = c.map(x => x * x).sum
      lit(-2.0) * dotF(sub, typedLit(c)) + lit(cNorm2)
    }: _*)
    (array_position(scores, array_min(scores)) - 1).cast("int")
  }

  /** q108 — PQ ANN, shortlist + re-rank: each query row precomputes its
    * 8×16 lookup table of exact subspace distances to every centroid
    * (scan-local against the literal codebook), every corpus vector is
    * ADC-scored by summing 8 LUT lookups through its codes — never
    * touching raw corpus vectors — and the ADC top-[[PqShortlist]]
    * shortlist is then re-ranked with the exact L2 distance, fetching
    * raw vectors ONLY for shortlist members. That is the production PQ
    * serving shape: the exhaustive pass reads N×8 nibbles instead of
    * N×256 bytes (the 32× compression is the point), and the expensive
    * exact math touches shortlist×queries rows. Composing the scan
    * inside q63's IVF cells would bound the probe set too — same
    * operators, one more filter. The codes depend on the deterministic
    * driver-side Lloyd fits, which no SQL oracle can reproduce; the
    * listing is consumed by q108's recall contract and PqAnnSpec.
    */
  private[graft] def pqTopK(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.VecOps.dotF
    import org.apache.spark.sql.expressions.Window
    val (cb, codes) = pqIndex(s, dir)
    // The query set is bounded by definition (an ANN probe batch), so
    // the 8×16 LUTs — exact subspace distances query→centroid — are
    // computed driver-side per query and shipped as a 10-row broadcast
    // relation: zero query-side codegen, the corpus-side scan stays
    // distributed.
    val qRows = codes.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
    val lutRows = qRows.map { r =>
      val emb = r.getSeq[Float](1)
      val lut: Seq[Seq[Double]] = (0 until PqSub).map { m =>
        (0 until PqK).map { k =>
          var d = 0.0; var i = 0
          while (i < PqDim) {
            val t = emb(m * PqDim + i) - cb(m)(k)(i); d += t * t; i += 1
          }
          d
        }
      }
      (r.getLong(0), emb.map(_.toDouble), lut)
    }.toSeq
    import s.implicits._
    val queries = lutRows.toDF("query_id", "q_emb", "lut")
    val adc = broadcast(queries)
      .join(codes.select(col("vec_id").as("vec_b"), col("codes")),
        col("vec_b") =!= col("query_id"))
      .select(col("query_id"), col("q_emb"), col("vec_b"),
        // 8 codegen'd LUT lookups summed directly — a zip_with/aggregate
        // HOF here would run interpreted per pair (the hot path)
        (0 until PqSub).map(m =>
          element_at(element_at(col("lut"), m + 1),
            element_at(col("codes"), m + 1) + 1))
          .reduce(_ + _).as("adc_dist"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc_dist"), col("vec_b"))
    val shortlist = adc.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= PqShortlist).drop("rn", "adc_dist")
    // selective fetch: raw vectors join ONLY the shortlist
    val exact = shortlist
      .join(codes.select(col("vec_id").as("vec_b"), col("embedding").as("b_emb")), "vec_b")
      .select(col("query_id"), col("vec_b"),
        (dotF(col("q_emb"), col("q_emb"))
          - lit(2.0) * dotF(col("q_emb"), col("b_emb"))
          + dotF(col("b_emb"), col("b_emb"))).as("l2_dist"))
    val wExact = Window.partitionBy(col("query_id")).orderBy(col("l2_dist"), col("vec_b"))
    exact.withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= 5)
      .orderBy(col("query_id"), col("rn"))
  }

  /** Oracle floor for q108's overall recall@5 vs the exact L2 top-5.
    * Measured 0.84 at sf0.01 / 0.54 at sf0.1 (PqAnnSpec bounds the
    * sf0.001 fixture at 0.4); ~half the observed minimum, same
    * rationale as [[IvfRecallFloor]].
    */
  private val PqRecallFloor = 0.25

  /** q108 — PQ ANN recall contract: the [[pqTopK]] listing must recall
    * at least [[PqRecallFloor]] of the exact L2 top-5 (computed
    * in-engine over raw vectors). Like q63, the DuckDB oracle derives
    * the expected row from exact data alone (n_queries, TRUE) — the
    * approximate listing itself is seedless-deterministic but not
    * SQL-expressible (driver-side Lloyd fits).
    */
  val q108 = oracled(
    "q108_pq_ann",
    "PQ ANN (8x16 codebook, ADC + re-rank): recall@5 contract vs exact L2 top-5",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
       FROM embeddings WHERE vec_id < 10""") { (s, dir) =>
    import graft.functions.VecOps.dotF
    import org.apache.spark.sql.expressions.Window
    val ann = pqTopK(s, dir).select(col("query_id"), col("vec_b"))
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 10).alias("x")
    val scored = q.join(e.alias("y"), col("y.vec_id") =!= col("x.vec_id"))
      .select(col("x.vec_id").as("query_id"), col("y.vec_id").as("vec_b"),
        (dotF(col("x.embedding"), col("x.embedding"))
          - lit(2.0) * dotF(col("x.embedding"), col("y.embedding"))
          + dotF(col("y.embedding"), col("y.embedding"))).as("d2"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("vec_b"))
    val exact = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_b"))
    exact.join(ann.withColumn("hit", lit(1)), Seq("query_id", "vec_b"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= PqRecallFloor).as("recall_ok"))
  }

  /** q77 — null-safe equality join (`<=>`) + `unionByName`: two
    * customer projections with DIFFERENT column orders are unioned by
    * name (the positional union would silently mis-zip them — the
    * classic schema-evolution bug), nation keys on both sides are
    * nulled for one key value, and the join uses null-safe equality so
    * null keys MATCH null keys (plain `=` would drop them). The output
    * proves both: the null-bucket row exists, and every row appears
    * twice (once per union branch).
    */
  val q77 = oracled(
    "q77_nullsafe_join_union",
    "unionByName + null-safe (<=>) join across nulled keys",
    """WITH c AS (
         SELECT c_custkey, NULLIF(c_nationkey, 3) AS k FROM customer
         UNION ALL
         SELECT c_custkey, NULLIF(c_nationkey, 3) AS k FROM customer),
       n AS (SELECT NULLIF(n_nationkey, 3) AS nk, n_name FROM nation)
       SELECT COALESCE(n.n_name, '<unmatched>') AS nation_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers
       FROM c JOIN n ON c.k IS NOT DISTINCT FROM n.nk
       GROUP BY n.n_name
       ORDER BY nation_name""") { (s, dir) =>
    val base = Tables.customer(s, dir)
    val d1 = base.select(col("c_custkey"),
      nullif(col("c_nationkey"), lit(3)).as("k"))
    val d2 = base.select(nullif(col("c_nationkey"), lit(3)).as("k"),
      col("c_custkey")) // reversed column order on purpose
    val c = d1.unionByName(d2)
    val n = Tables.nation(s, dir)
      .select(nullif(col("n_nationkey"), lit(3)).as("nk"), col("n_name"))
    c.join(n, col("k") <=> col("nk"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("c_custkey")).as("n_customers"))
      .select(coalesce(col("n_name"), lit("<unmatched>")).as("nation_name"),
        col("n_rows"), col("n_customers"))
      .orderBy(col("nation_name"))
  }

  /** q78 — map higher-order functions: the events props JSON parsed to
    * MAP<STRING,BIGINT>, run through transform_values / map_filter /
    * map_concat, then exploded back to flat (key, value) rows so the
    * result is engine-portable. Map HOFs are per-row operations — no
    * shuffle beyond the final presentation sort.
    */
  val q78 = oracled(
    "q78_map_hofs",
    "transform_values/map_filter/map_concat over parsed JSON maps",
    """WITH m AS (
         SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
         FROM events WHERE event_id < 50)
       SELECT event_id, mk AS key, mv AS value FROM (
         SELECT event_id, 'k_scaled' AS mk, k_val * 10 AS mv FROM m
         UNION ALL
         SELECT event_id, 'k_orig', k_val FROM m WHERE k_val >= 50
         UNION ALL
         SELECT event_id, 'bonus', 7 FROM m)
       ORDER BY event_id, key""") { (s, dir) =>
    val m = Tables.events(s, dir)
      .filter(col("event_id") < 50)
      .select(col("event_id"),
        map(lit("k_orig"), get_json_object(col("props"), "$.k").cast("long")).as("props_map"))
    val built = m.select(col("event_id"),
      map_concat(
        // scaled copy of every entry, renamed via transform_keys
        transform_keys(
          transform_values(col("props_map"), (_, v) => v * 10),
          (k, _) => concat(regexp_replace(k, "_orig", ""), lit("_scaled"))),
        // original entries kept only when the value clears a threshold
        map_filter(col("props_map"), (_, v) => v >= 50),
        map(lit("bonus"), lit(7L))).as("m"))
    built.select(col("event_id"), explode(col("m")).as(Seq("key", "value")))
      .orderBy(col("event_id"), col("key"))
  }

  /** q79 — time-series gap fill: each customer's order-date span
    * densified to one row per calendar day via `sequence()` + explode
    * against the per-customer min/max, left-joined back to real daily
    * totals with missing days zero-filled. The dates dimension is
    * GENERATED per key (span-bounded), not cross-joined from a global
    * calendar — the shape that survives when the key count is 10^9.
    * Restricted to 3 customers for a bounded, fully-checkable output.
    */
  val q79 = oracled(
    "q79_calendar_gap_fill",
    "per-customer daily calendar densification with zero-fill",
    """WITH o AS (
         SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice
         FROM orders WHERE o_custkey IN (1, 2, 3)),
       daily AS (
         SELECT o_custkey, d,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS day_total
         FROM o GROUP BY o_custkey, d),
       spans AS (
         SELECT o_custkey, MIN(d) AS d0, MAX(d) AS d1 FROM o GROUP BY o_custkey),
       cal AS (
         SELECT o_custkey, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
         FROM spans)
       SELECT cal.o_custkey, CAST(cal.d AS VARCHAR) AS day,
         COALESCE(daily.day_total, 0.0) AS day_total,
         (daily.day_total IS NULL) AS gap_filled
       FROM cal LEFT JOIN daily ON cal.o_custkey = daily.o_custkey AND cal.d = daily.d
       ORDER BY cal.o_custkey, day""") { (s, dir) =>
    import graft.functions.GraftFunctions.dec2
    val o = Tables.orders(s, dir)
      .filter(col("o_custkey").isin(1, 2, 3))
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("d"),
        col("o_totalprice"))
    val daily = o.groupBy(col("o_custkey"), col("d"))
      .agg(dec2(sum(dec2(col("o_totalprice")))).cast("double").as("day_total"))
    val cal = o.groupBy(col("o_custkey"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("o_custkey"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("d"))
    cal.join(daily, Seq("o_custkey", "d"), "left")
      .select(col("o_custkey"), col("d").cast("string").as("day"),
        coalesce(col("day_total"), lit(0.0)).as("day_total"),
        col("day_total").isNull.as("gap_filled"))
      .orderBy(col("o_custkey"), col("day"))
  }

  /** q118 — LATERAL correlated subquery: per nation, the top-2
    * customers by balance via a LATERAL derived table referencing the
    * outer row — the SQL-standard spelling Catalyst plans as a
    * DomainJoin/decorrelated ranked join (the operator q12 expresses
    * with a window, here exercised through the planner's lateral-join
    * machinery instead).
    */
  val q118 = sqlSurface(
    "q118_lateral_topk",
    "LATERAL per-nation top-2 customers (planner's lateral join under test)",
    """SELECT n_name, c_custkey, c_acctbal
       FROM nation, LATERAL (
         SELECT c_custkey, c_acctbal FROM customer
         WHERE c_nationkey = n_nationkey
         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
       ORDER BY n_name, c_acctbal DESC, c_custkey""",
    "nation", "customer")

  /** q119 — recursive CTE (Spark 4's WITH RECURSIVE): walk the
    * deterministic doc_id DIV 3 parent hierarchy from the root and
    * report per-depth fan-out — the iterative-traversal operator
    * (org charts, BOM explosion, reachability) expressed in SQL and
    * executed by the engine's recursion operator rather than a
    * hand-rolled driver loop. Identical integer arithmetic recursion in
    * DuckDB; depth is bounded by log₃(corpus), so the recursion
    * terminates at any scale. Spark runs the oracle's text with DuckDB's
    * integer division `//` spelled `DIV`.
    */
  private val q119Sql =
    """WITH RECURSIVE d(doc_id, depth) AS (
         SELECT CAST(0 AS BIGINT) AS doc_id, 0 AS depth
         UNION ALL
         SELECT c.doc_id, d.depth + 1
         FROM documents c JOIN d ON c.doc_id // 3 = d.doc_id
         WHERE c.doc_id <> 0)
       SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(MIN(doc_id) AS BIGINT) AS min_doc,
         CAST(MAX(doc_id) AS BIGINT) AS max_doc
       FROM d GROUP BY depth ORDER BY depth"""
  val q119 = oracled(
    "q119_recursive_hierarchy",
    "WITH RECURSIVE parent-chain walk (doc_id DIV 3), per-depth fan-out",
    q119Sql) { (s, dir) =>
    sqlOver(s, dir, "documents")(q119Sql.replace(" // ", " DIV "))
  }

  /** q291 — hierarchical SUBTREE ROLLUP (BOM explosion / org-chart
    * subtotals — the aggregation HALF of the hierarchy story: q119
    * walks the doc_id DIV 3 tree top-down and counts fan-out, this
    * rolls VALUES bottom-up: every node's descendant count and
    * subtree character total). Spark has no recursive-aggregate
    * operator, so the rebuild flattens each node's ancestor CHAIN —
    * node, node÷3, node÷9, … , 0 — with one explode over a LITERAL
    * powers-of-3 array (3⁰..3³³ as BIGINTs: no pow(), whose
    * double-rounding is engine-flavored past 2⁵³; the array bound
    * owns doc_id < 3³³ ≈ 5.6e15) and aggregates ONCE on the ancestor
    * key. Depth falls out of the same frame (chain length − 1) — one
    * definition, zero extra passes. The oracle is the genuinely
    * different formulation: a recursive CTE climbing the chain.
    * Root-sum law visible in the output: node 0's subtree_chars is
    * the whole corpus.
    *
    * Scale shape: the flatten costs Σ chain = N·log₃N rows into ONE
    * partial-aggregable groupBy(anc) — the standard hierarchy
    * flattening; for deeper/unbalanced trees the level-synchronous
    * leaf-up alternative (≤ depth rounds of child→parent aggregates,
    * the q263 loop discipline) trades the log-factor blowup for
    * sequential rounds — this tree is log₃-shallow by construction,
    * so the one-shot flatten wins. Output bounded to nodes < 40.
    */
  val q291 = oracled(
    "q291_subtree_rollup",
    "bottom-up subtree rollup over the DIV-3 hierarchy == recursive-CTE oracle",
    """WITH RECURSIVE a(node, anc) AS (
         SELECT doc_id, doc_id FROM documents
         UNION ALL
         SELECT node, anc // 3 FROM a WHERE anc <> 0),
       d AS (SELECT node, CAST(COUNT(*) - 1 AS BIGINT) AS depth
         FROM a GROUP BY node),
       r AS (SELECT a.anc, CAST(COUNT(*) AS BIGINT) AS n_desc,
           CAST(SUM(c.n_chars) AS BIGINT) AS subtree_chars
         FROM a JOIN documents c ON c.doc_id = a.node GROUP BY a.anc)
       SELECT r.anc AS doc_id, d.depth, r.n_desc, r.subtree_chars
       FROM r JOIN d ON d.node = r.anc
       WHERE r.anc < 40 ORDER BY doc_id""") { (s, dir) =>
    val pow3: Seq[Long] =
      Iterator.iterate(1L)(_ * 3).take(34).toSeq
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"))
    val pairs = docs
      .select(col("doc_id").as("node"), col("n_chars"),
        explode(sequence(lit(0), lit(33))).as("k"))
      .withColumn("pw", element_at(
        array(pow3.map(lit): _*), col("k") + 1))
      // keep each chain's single terminal 0: k = 0 always, k > 0 only
      // while the PREVIOUS hop was still nonzero (greatest(k,1) keeps
      // element_at's 1-based index legal on the k=0 rows, which the
      // first disjunct admits regardless)
      .filter(col("k") === 0 || expr(
        "node div element_at(array(" +
          pow3.mkString("", "L,", "L") + "), greatest(k, 1)) > 0"))
      .select(col("node"), col("n_chars"),
        expr("node div pw").as("anc"))
      .localCheckpoint(false)
    val depth = pairs.groupBy(col("node"))
      .agg((count(lit(1)) - 1).as("depth"))
    val roll = pairs.groupBy(col("anc"))
      .agg(count(lit(1)).as("n_desc"),
        sum(col("n_chars")).as("subtree_chars"))
    roll.join(depth, col("anc") === col("node"))
      .filter(col("anc") < 40)
      .select(col("anc").as("doc_id"), col("depth"), col("n_desc"),
        col("subtree_chars"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[GQuery] = Seq(q60, q61, q62, q63, q77, q78, q79, q108, q118,
    q119, q291, q323)
}
