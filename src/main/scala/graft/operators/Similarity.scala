package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane LSH-bucketed variant as the scale path.
  *
  * Scale design: queries are broadcast (top-k is per-query, the corpus
  * never shuffles for the brute-force path); the LSH path prunes the
  * corpus to matching buckets before any distance math, turning a full
  * scan into a bucket-join — the difference between O(Q*N) and
  * O(Q*N/2^bits) dot products at 100 TB.
  *
  * All math is a left-fold over doubles — deterministic, identical in the
  * SQL oracle.
  */
object Similarity {

  /** Element-wise cast to double (float math is neither associative nor
    * engine-portable; do everything in double).
    */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity; 0 where either norm is 0.
    *
    * Implemented as a JVM kernel, not the `aggregate`/`zip_with`
    * expression fold: Catalyst evaluates higher-order-function lambdas
    * interpreted (no codegen), so at |pairs| x dim evaluations the
    * expression form dominates every verify stage (the same measured
    * ~100x that moved the MinHash signatures to a kernel). The loop
    * accumulates in the exact order of the expression fold —
    * ((0+x_1y_1)+x_2y_2)+..., norms multiplied as sqrt(na)*sqrt(nb) —
    * so results are bit-identical to the oracle's list_reduce.
    */
  def cosine(a: Column, b: Column): Column = cosineUdf(a, b)

  // Array[Double] (not Seq[Double]) parameters: Spark converts ArrayData
  // via toDoubleArray — a primitive copy, no per-element boxing. At
  // |pairs| x dim evaluations the boxed Seq path was measurable in the
  // verify stages (q27 isolated: 9.2 s -> 6.5 s at sf0.1).
  private lazy val cosineUdf = udf((a: Array[Double], b: Array[Double]) => {
    if (a == null || b == null) 0.0
    else {
      val n = math.min(a.length, b.length)
      var i = 0
      var d = 0.0
      var na = 0.0
      var nb = 0.0
      while (i < n) {
        d += a(i) * b(i)
        na += a(i) * a(i)
        nb += b(i) * b(i)
        i += 1
      }
      var j = n // squares of any tail elements still count toward norms
      while (j < a.length) { na += a(j) * a(j); j += 1 }
      j = n
      while (j < b.length) { nb += b(j) * b(j); j += 1 }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom > 0) d / denom else 0.0
    }
  })

  /** Exact top-k neighbors for each query vector: broadcast the (small)
    * query set over the corpus, one window per query id. Self-matches
    * excluded when ids collide.
    */
  def bruteForceTopK(
      corpus: DataFrame,   // (idCol, vecCol)
      queries: DataFrame,  // (idCol, vecCol)
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("__cv"), col("__qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Fixed-seed random hyperplanes for sign-LSH. */
  private def hyperplanes(dim: Int, bits: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** The fixed-seed hyperplane matrix (bits x dim), public so an external
    * oracle can replay sign-bucket assignment with the exact constants —
    * same contract as [[TextDedup.permParams]]. Double.toString literals
    * round-trip exactly (shortest-repr), so inlining them into SQL
    * reproduces each `sign(v . h_i)` bit-for-bit.
    */
  def hyperplaneParams(dim: Int, bits: Int, seed: Long): Seq[Seq[Double]] =
    hyperplanes(dim, bits, seed)

  /** Sign-LSH bucket id: bit i = sign(v . h_i). */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (h, i) =>
      val hCol = array(h.map(lit): _*)
      when(dot(v, hCol) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Johnson-Lindenstrauss random projection: `dim -> outDim` via the
    * same seeded gaussian matrix family as the sign-LSH planes
    * ([[hyperplaneParams]] exposes the exact constants for oracle
    * replay), scaled by `1/sqrt(outDim)` so expected norms — and hence
    * cosines and distances, within the JL distortion bound — are
    * preserved. The cheap preprocessing step before any of the ANN
    * paths when 64+ dims cost more than they buy: brute-force/IVF/SQ8
    * distance loops all shrink by `dim/outDim`, and the projection
    * composes with every one of them (it is just a new vector column).
    *
    * One per-row kernel (index-ordered accumulation per output dim —
    * the oracle contract), no shuffle, no state; null vectors stay
    * null, wrong-dimension vectors fail typed.
    */
  def randomProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      outDim: Int,
      seed: Long = 42L,
      outCol: String = "proj"): DataFrame = {
    require(dim >= 1 && outDim >= 1, s"need dim, outDim >= 1: $dim/$outDim")
    val planes = hyperplanes(dim, outDim, seed).map(_.toArray).toArray
    val scale = math.sqrt(outDim.toDouble)
    val projUdf = udf((v: Array[Double]) =>
      if (v == null) null
      else {
        require(v.length == dim, s"vector has ${v.length} dims, projection expects $dim")
        val out = new Array[Double](outDim)
        var j = 0
        while (j < outDim) {
          val h = planes(j)
          var t = 0.0
          var i = 0
          while (i < dim) { t += v(i) * h(i); i += 1 }
          out(j) = t / scale
          j += 1
        }
        out
      })
    df.select(col(idCol), projUdf(asDouble(col(vecCol))).as(outCol))
  }

  /** Approximate top-k: candidates share the query's LSH bucket (plus all
    * buckets at Hamming distance 1 — standard multi-probe), then exact
    * cosine + window inside the candidate set.
    */
  def annTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      bits: Int = 8,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, bits, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("__bucket", lshBucket(col("__cv"), planes))
    // multi-probe: each query probes its bucket and the `bits` neighbors
    val probes = (0 until bits).map(i => lit(1L << i))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qbucket", lshBucket(col("__qv"), planes))
      .withColumn("__bucket",
        explode(array_union(array(col("__qbucket")),
          array(probes.map(p => col("__qbucket").bitwiseXOR(p)): _*))))
    val scored = c.join(broadcast(q), "__bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("__cv"), col("__qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .select("query_id", "neighbor_id", "sim").distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nCentroids` cells; each query probes its
    * `nProbe` nearest cells and runs exact cosine only inside them —
    * O(Q * N * nProbe / nCentroids) distance evaluations instead of
    * O(Q * N). Centroids are model-sized (driver/broadcast); the corpus
    * shuffles once at assignment time and can be written bucketed by
    * cell for repeated query workloads.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 2,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("__features", array_to_vector(col("__cv")))
    val model = new KMeans()
      .setK(nCentroids).setSeed(seed).setFeaturesCol("__features")
      .fit(c)
    val assigned = model.transform(c)
      .withColumnRenamed(model.getPredictionCol, "__cell")
      .drop("__features")

    // centroids are tiny: rank a query's probe cells via a literal array
    // of centroid vectors, by the same metric KMeans assigns with (L2)
    val centroids = model.clusterCenters.map(_.toArray.toSeq)
    def l2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)
    val centroidCols = centroids.zipWithIndex.map { case (ctr, i) =>
      struct(lit(i).as("cell"), l2(col("__qv"), array(ctr.map(lit): _*)).as("d"))
    }
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
      .withColumn("__cells",
        slice(
          transform(
            array_sort(
              array(centroidCols: _*),
              (a, b) => when(a("d") < b("d"), -1).when(a("d") > b("d"), 1).otherwise(0)),
            s => s("cell")),
          1, nProbe))
      .withColumn("__cell", explode(col("__cells")))
      .drop("__cells")

    scoreProbedCells(assigned, q, k)
  }

  /** Shared IVF tail: join corpus cells to the (broadcast) probe rows,
    * score inside the candidate set (exact cosine of `__cv` and `__qv`
    * unless an index family passes its own), top-k per query. `distinct`
    * before the window because a neighbor can appear via several probed
    * cells... it can't within one IVF (a corpus row lives in exactly one
    * cell), but the dedup is free after the bucket join and keeps the
    * tail safe for any multi-assignment caller.
    */
  private[operators] def scoreProbedCells(
      assigned: DataFrame, q: DataFrame, k: Int,
      score: Column = cosine(col("__cv"), col("__qv")),
      scoreName: String = "sim"): DataFrame = {
    val scored = assigned.join(broadcast(q), "__cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn(scoreName, score)
    rankTopK(scored.select("query_id", "neighbor_id", scoreName).distinct(), k, scoreName)
  }

  /** Top-k per query by (`scoreName` desc, neighbor asc):
    * (`query_id`, `rank`, `neighbor_id`, `scoreName`).
    */
  private[operators] def rankTopK(scored: DataFrame, k: Int, scoreName: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreName).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col(scoreName))
  }

  /** Nearest `take` cell ids for a vector against a frozen centroid
    * matrix, ordered by (L2², cell). JVM kernel, not an expression tree:
    * 16 interpreted 64-wide zip_with folds per corpus row would dominate
    * the scan (the cosine/minhash lesson). The distance accumulates in
    * strict index order — ((0+d₀)+d₁)+… — so the oracle's list_reduce
    * over the same literals is bit-identical, and ties break on the
    * lower cell id in both engines.
    */
  private[operators] def nearestCells(ctrs: Array[Array[Double]], v: Array[Double], take: Int): Array[Int] = {
    val ds = new Array[Double](ctrs.length)
    var ci = 0
    while (ci < ctrs.length) {
      val c = ctrs(ci)
      val n = math.min(c.length, v.length)
      var d = 0.0
      var i = 0
      while (i < n) { val t = v(i) - c(i); d += t * t; i += 1 }
      ds(ci) = d
      ci += 1
    }
    ctrs.indices.sortBy(i => (ds(i), i)).take(take).toArray
  }

  /** IVF top-k against a FROZEN coarse quantizer ([[IvfCentroids]] or any
    * pre-fitted centroid matrix): the production deployment shape — the
    * quantizer is trained once on a sample ([[graft.tools.FitIvf]]) and
    * shipped as a constant; only assignment runs at corpus scale. No ML
    * fit job, no extra pass over the corpus: assignment is a per-row
    * kernel in the scan, queries broadcast, one shuffle-free bucket join.
    * Fully oracle-replayable because the centroids are literals both
    * engines share (the q28 hyperplane recipe, applied to a fitted
    * model).
    */
  def ivfTopKFrozen(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Seq[Double]],
      nProbe: Int = 2): DataFrame = {
    val ctrs = centroids.map(_.toArray).toArray
    val assignUdf = udf((v: Array[Double]) =>
      if (v == null) -1 else nearestCells(ctrs, v, 1)(0))
    val probeUdf = udf((v: Array[Double]) =>
      if (v == null) Array.empty[Int] else nearestCells(ctrs, v, nProbe))
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cell", assignUdf(col("__cv")))
    val q = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
      .withColumn("__cell", explode(probeUdf(col("__qv"))))
    scoreProbedCells(assigned, q, k)
  }

  /** Guard for the PQ packing scheme: [[pqEncodeKernel]] packs one
    * 4-bit nibble per subspace into a single Int (`best << (4*j)`) and
    * [[pqAdcCosUdf]] decodes with `& (kCb - 1)` — both silently corrupt
    * codes if the codebook tensor exceeds 8 subspaces, has a
    * non-power-of-two centroid count, or more than 16 centroids
    * (r8 ADVICE: e.g. kCb = 10 decodes code 6 & 9 = 0). Every public
    * PQ entry point ([[pqEncode]], [[pqTopKAgainst]],
    * [[IvfPqIndex.build]]) validates the shape here so a custom
    * codebook fails typed instead of mis-encoding.
    */
  private[operators] def requirePqShape(cbs: Array[Array[Array[Double]]]): Unit = {
    require(cbs.nonEmpty && cbs.length <= 8,
      s"PQ codebooks must have 1..8 subspaces (4-bit codes pack into one Int), got ${cbs.length}")
    val kCb = cbs(0).length
    require(cbs.forall(_.length == kCb),
      "PQ codebooks must share one centroid count across subspaces")
    require(kCb >= 1 && kCb <= 16 && Integer.bitCount(kCb) == 1,
      s"PQ centroid count must be a power of two <= 16 (nibble packing), got $kCb")
    val dsub = cbs(0)(0).length
    require(dsub >= 1 && cbs.forall(_.forall(_.length == dsub)),
      "PQ codebook centroids must share one subvector dimensionality")
  }

  /** Product-quantization encode kernel: per subspace, the index of the
    * nearest codebook centroid (L2², strict `<` so ties keep the LOWER
    * index — matching the oracle's `ORDER BY d, c` replay), packed
    * little-endian as 4-bit nibbles into one Int. Distances accumulate
    * in strict index order (the [[nearestCells]] contract), so the SQL
    * oracle's left-fold over the same literals is bit-identical.
    */
  private[operators] def pqEncodeKernel(
      cbs: Array[Array[Array[Double]]], v: Array[Double]): Int = {
    val dsub = cbs(0)(0).length
    var code = 0
    var j = 0
    while (j < cbs.length) {
      val off = j * dsub
      val ctrs = cbs(j)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ctrs.length) {
        val ctr = ctrs(c)
        var d = 0.0
        var i = 0
        while (i < dsub) { val t = v(off + i) - ctr(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      code |= best << (4 * j)
      j += 1
    }
    code
  }

  /** Product-quantization encoding: each vector becomes one Int of
    * packed 4-bit subspace codes (`pq_code`) — 32x smaller than the
    * float32 vector it replaces. THIS is the persistable artifact of
    * the PQ family: write `(id, pq_code)` to Parquet once, and every
    * later [[pqTopKAgainst]] probe scans 8 bytes a row instead of 256
    * (at 100 TB of embeddings, the difference between re-reading the
    * corpus and re-reading 3 TB). Codebooks are frozen literals
    * ([[PqCodebooks]], fitted once by [[graft.tools.FitPq]]); encoding
    * is a per-row kernel in the scan — no fit job, no shuffle, no
    * state. Null vectors encode as NULL — the packed nibbles cover the
    * ENTIRE Int range (a subspace-7 code >= 8 sets the sign bit, and
    * -1 is the legitimate all-codes-15 vector), so no in-band sentinel
    * exists; NULL is the only out-of-band value.
    */
  def pqEncode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]] = PqCodebooks.codebooks): DataFrame = {
    val cbs = codebooks.map(_.map(_.toArray).toArray).toArray
    requirePqShape(cbs)
    val enc = udf((v: Array[Double]) =>
      if (v == null) null
      else java.lang.Integer.valueOf(pqEncodeKernel(cbs, v)))
    df.select(col(idCol), enc(asDouble(col(vecCol))).as("pq_code"))
  }

  /** ADC lookup table for one query: entry `j*16 + c` is the inner
    * product of the query's j-th subvector with codebook centroid
    * `(j, c)`, accumulated in index order.
    */
  private[operators] def pqAdcTable(
      cbs: Array[Array[Array[Double]]], q: Array[Double]): Array[Double] = {
    val dsub = cbs(0)(0).length
    val k = cbs(0).length
    val tab = new Array[Double](cbs.length * k)
    var j = 0
    while (j < cbs.length) {
      val off = j * dsub
      var c = 0
      while (c < k) {
        val ctr = cbs(j)(c)
        var t = 0.0
        var i = 0
        while (i < dsub) { t += q(off + i) * ctr(i); i += 1 }
        tab(j * k + c) = t
        c += 1
      }
      j += 1
    }
    tab
  }

  /** Squared norms of every codebook centroid, laid out like the ADC
    * table (`j*16 + c`), each accumulated in index order. Because a PQ
    * reconstruction is the CONCATENATION of one centroid per subspace,
    * `||decode(code)||² = Σ_j n2[j][code_j]` exactly — the corpus-side
    * norm is a table lookup, no vector needed.
    */
  private[operators] def pqNormTable(cbs: Array[Array[Array[Double]]]): Array[Double] = {
    val k = cbs(0).length
    val n2 = new Array[Double](cbs.length * k)
    var j = 0
    while (j < cbs.length) {
      var c = 0
      while (c < k) {
        val ctr = cbs(j)(c)
        var t = 0.0
        var i = 0
        while (i < ctr.length) { t += ctr(i) * ctr(i); i += 1 }
        n2(j * k + c) = t
        c += 1
      }
      j += 1
    }
    n2
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: queries stay
    * full-precision, the corpus is its packed `pq_code` Ints (from
    * [[pqEncode]] — typically read back from the persisted code
    * artifact). Per query one 8x16 table of subspace inner products is
    * computed ONCE ([[pqAdcTable]]); each candidate then costs 16 table
    * lookups + adds instead of 64 multiplies — and, the real point, the
    * corpus side scans 32x fewer bytes. Score `adc_cos` is the COSINE
    * of the query with the RECONSTRUCTED (decoded) corpus vector — the
    * reconstruction norm is itself a table lookup ([[pqNormTable]]), so
    * no corpus vector is ever touched; 0 where either norm is 0 (the
    * [[cosine]] convention). Rank quality vs exact cosine is pinned by
    * spec. Ties break on the lower neighbor id; self-matches excluded
    * when ids collide.
    *
    * Scale shape: same as [[bruteForceTopK]] — queries broadcast with
    * their tables, the code scan never shuffles, one per-query window
    * top-k. For cell-pruned scans compose with [[IvfCentroids]]: store
    * `(cell, id, pq_code)` partitioned by cell and filter to probed
    * cells before scoring (the IVF-PQ layout).
    */
  def pqTopKAgainst(
      codes: DataFrame,    // (idCol, pq_code)
      queries: DataFrame,  // (idCol, vecCol)
      idCol: String,
      vecCol: String,
      k: Int,
      codebooks: Seq[Seq[Seq[Double]]] = PqCodebooks.codebooks): DataFrame = {
    val cbs = codebooks.map(_.map(_.toArray).toArray).toArray
    requirePqShape(cbs)
    val c = codes.select(col(idCol).as("neighbor_id"), col("pq_code"))
      .filter(col("pq_code").isNotNull)
    // broadcastable query side: the per-query IP lookup table and norm
    val q = queries
      .select(col(idCol).as("query_id"),
        pqTableUdf(cbs)(asDouble(col(vecCol))).as("__tab"),
        vecNorm(asDouble(col(vecCol))).as("__qn"))
      .filter(col("__tab").isNotNull)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_cos", pqAdcCosUdf(cbs)(col("__tab"), col("__qn"), col("pq_code")))
    rankTopK(scored, k, "adc_cos")
  }

  /** A query's ADC table ([[pqAdcTable]]); null on a null vector. */
  private[operators] def pqTableUdf(cbs: Array[Array[Array[Double]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((q: Array[Double]) => if (q == null) null else pqAdcTable(cbs, q))

  /** L2 norm of a double vector, dims accumulated in index order (the
    * oracle contract); 0 on a null vector.
    */
  private[operators] val vecNorm: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((q: Array[Double]) =>
      if (q == null) 0.0
      else {
        var t = 0.0
        var i = 0
        while (i < q.length) { t += q(i) * q(i); i += 1 }
        math.sqrt(t)
      })

  /** ADC cosine kernel over `(table, queryNorm, code)`: both sums run
    * in subspace order, the division is `ip / (sqrt(rn2) * qn)` — the
    * exact shape the oracle replays.
    */
  private[operators] def pqAdcCosUdf(cbs: Array[Array[Array[Double]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val nSub = cbs.length
    val kCb = cbs(0).length
    val n2 = pqNormTable(cbs)
    udf((tab: Array[Double], qn: Double, code: Int) => {
      var ip = 0.0
      var rn2 = 0.0
      var j = 0
      while (j < nSub) {
        val c = (code >> (4 * j)) & (kCb - 1)
        ip += tab(j * kCb + c)
        rn2 += n2(j * kCb + c)
        j += 1
      }
      val denom = math.sqrt(rn2) * qn
      if (denom > 0) ip / denom else 0.0
    })
  }

  // ---- SQ8 scalar quantization ---------------------------------------

  /** Per-dimension [lo, hi] calibration for [[sq8Encode]]: the exact
    * min/max of every dimension over the calibration corpus — one
    * posexplode + groupBy(pos) agg (min/max are exact, no float-order
    * sensitivity), collected as the frozen 2 x dim artifact (model-sized,
    * the [[PqCodebooks]] contract: fit once, then a pair of literal
    * arrays every encode/probe reuses). Null vectors are skipped;
    * requires at least one non-null vector.
    */
  def sq8Fit(df: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val rows = df.select(posexplode(asDouble(col(vecCol))).as(Seq("__pos", "__x")))
      .groupBy("__pos")
      .agg(min(col("__x")).as("__lo"), max(col("__x")).as("__hi"))
      .orderBy("__pos")
      .collect()
    require(rows.nonEmpty, "sq8Fit needs at least one non-null vector")
    require(rows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      "vectors must share one dimensionality with no null elements")
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  private def requireSqShape(lo: Array[Double], hi: Array[Double]): Unit = {
    require(lo.nonEmpty && lo.length == hi.length,
      s"SQ8 calibration arrays must be non-empty and equal-length, got ${lo.length}/${hi.length}")
    require(lo.indices.forall(i => lo(i) <= hi(i)),
      "SQ8 calibration must satisfy lo <= hi per dimension")
  }

  /** SQ8 encode kernel: per dimension, `floor((x - lo) * 255 / (hi -
    * lo) + 0.5)` clamped to [0, 255] (floor(+0.5) — not language
    * "round" — because engines disagree on half-rounding; floor is
    * exact everywhere). A constant dimension (hi == lo) encodes 0 and
    * reconstructs `lo`. Out-of-calibration values clamp — encoding a
    * later batch under a frozen calibration degrades gracefully at the
    * range edge instead of wrapping.
    */
  private[operators] def sq8EncodeKernel(
      lo: Array[Double], hi: Array[Double], v: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](lo.length)
    var i = 0
    while (i < lo.length) {
      val span = hi(i) - lo(i)
      val c =
        if (span <= 0) 0
        else {
          val t = math.floor((v(i) - lo(i)) * 255.0 / span + 0.5)
          if (t < 0) 0 else if (t > 255) 255 else t.toInt
        }
      out(i) = c.toByte
      i += 1
    }
    out
  }

  /** Scalar (int8) quantization encoding: each vector becomes `dim`
    * bytes (`sq_code` binary) — 4x smaller than the float32 it
    * replaces, the middle rung of the compression ladder between raw
    * vectors and [[pqEncode]]'s 32x nibble codes, at far higher
    * fidelity (max error half a step per dimension instead of a
    * centroid residual). THIS is the persistable artifact: write
    * `(id, sq_code)` once, probe forever under the frozen `(lo, hi)`
    * calibration from [[sq8Fit]]. Encoding is a per-row kernel in the
    * scan — no fit job in the hot path, no shuffle. Null vectors
    * encode as NULL; vectors of the wrong dimensionality fail typed.
    */
  def sq8Encode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      lo: Seq[Double],
      hi: Seq[Double]): DataFrame = {
    val (l, h) = (lo.toArray, hi.toArray)
    requireSqShape(l, h)
    val enc = udf((v: Array[Double]) =>
      if (v == null) null
      else {
        require(v.length == l.length,
          s"vector has ${v.length} dims, calibration has ${l.length}")
        sq8EncodeKernel(l, h, v)
      })
    df.select(col(idCol), enc(asDouble(col(vecCol))).as("sq_code"))
  }

  /** ADC cosine kernel over SQ8 codes: reconstruct each dimension as
    * `lo + code * (hi - lo) / 255` and accumulate `ip` and the
    * reconstruction norm in index order — the exact association the
    * oracle's list_reduce replays. Cosine of the query with the
    * reconstructed vector; 0 where either norm is 0.
    */
  private[operators] def sq8AdcCosUdf(lo: Array[Double], hi: Array[Double])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((q: Array[Double], qn: Double, code: Array[Byte]) => {
      require(code.length == lo.length,
        s"sq_code has ${code.length} bytes, calibration has ${lo.length} dims: " +
          "the probed artifact was encoded under a different dimensionality " +
          "than the supplied (lo, hi) calibration")
      var ip = 0.0
      var rn2 = 0.0
      var i = 0
      while (i < lo.length) {
        val r = lo(i) + (code(i) & 0xff) * (hi(i) - lo(i)) / 255.0
        ip += q(i) * r
        rn2 += r * r
        i += 1
      }
      val denom = math.sqrt(rn2) * qn
      if (denom > 0) ip / denom else 0.0
    })

  /** Asymmetric top-k over SQ8 codes: queries stay full-precision, the
    * corpus is its byte codes (typically read back from the persisted
    * artifact). Same output contract as [[pqTopKAgainst]]
    * (`query_id, rank, neighbor_id, adc_cos`), same scale shape
    * (queries broadcast, the code scan never shuffles, one per-query
    * window top-k), 4x corpus-scan compression with near-exact ranks —
    * pinned against [[bruteForceTopK]] by spec. Ties break on the
    * lower neighbor id; self-matches excluded when ids collide.
    */
  def sq8TopKAgainst(
      codes: DataFrame,    // (idCol, sq_code)
      queries: DataFrame,  // (idCol, vecCol)
      idCol: String,
      vecCol: String,
      k: Int,
      lo: Seq[Double],
      hi: Seq[Double]): DataFrame = {
    val (l, h) = (lo.toArray, hi.toArray)
    requireSqShape(l, h)
    val q = queries
      .select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("__qv"),
        vecNorm(asDouble(col(vecCol))).as("__qn"))
      .filter(col("__qv").isNotNull)
    val c = codes.select(col(idCol).as("neighbor_id"), col("sq_code"))
      .filter(col("sq_code").isNotNull)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_cos", sq8AdcCosUdf(l, h)(col("__qv"), col("__qn"), col("sq_code")))
    rankTopK(scored, k, "adc_cos")
  }

  /** Embedding near-duplicate pairs: cosine >= threshold within blocks
    * (block on an LSH bucket or a provided key to bound the quadratic
    * term).
    */
  def embeddingDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      blockCols: Seq[String]): DataFrame = {
    val v = df.select(
      (idCol +: blockCols).map(col) :+ asDouble(col(vecCol)).as("__v"): _*)
    val a = v.select(col(idCol).as("id_a") +: col("__v").as("__va") +: blockCols.map(col): _*)
    val b = v.select(col(idCol).as("id_b") +: col("__v").as("__vb") +: blockCols.map(col): _*)
    a.join(b, blockCols)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("__va"), col("__vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Self-blocked embedding dedup: sign-LSH buckets (with Hamming-1
    * multi-probe so near-identical vectors straddling one hyperplane
    * still meet) replace an external blocking key — the fully automatic
    * scale path. High-cosine pairs share most hyperplane signs, so few
    * probes recover them; exact cosine verifies.
    *
    * Skew design (same scheme as [[TextDedup.minHashLshDedup]]): the
    * multi-probe explode is a bits+1 amplification, and a near-dup-
    * saturated corpus collapses most vectors into a few sign buckets, so
    * the naive bucket self-join is quadratic on one hot key. Here the
    * bucket assignment shuffles only (id, bucket) — never the vectors —
    * oversized buckets are dropped (no discriminative signal; count
    * surfaced via [[embeddingDupLsh]]), the per-bucket self-join is
    * chunked so no join key exceeds `chunkSize` rows per side, and pairs
    * are deduped *before* the two vector payloads are joined back for the
    * cosine verify.
    */
  def embeddingDupPairsLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      bits: Int = 8,
      seed: Long = 42L,
      maxBucketSize: Int = 2000): DataFrame =
    embeddingDupLsh(df, idCol, vecCol, threshold, dim, bits, seed, maxBucketSize).pairs

  /** [[embeddingDupPairsLsh]] plus dropped-bucket observability; `pairs`
    * is persisted (intermediates released), call `unpersist()` when done.
    */
  def embeddingDupLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      bits: Int = 8,
      seed: Long = 42L,
      maxBucketSize: Int = 2000,
      chunkSize: Int = 500): EmbeddingDupResult = {
    val planes = hyperplanes(dim, bits, seed)
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__b", lshBucket(col("__v"), planes))
      .persist() // read twice: bucket expansion + two-sided verify join
    v.count()
    // Each vector lands in its bucket plus all bits+1 Hamming-1 buckets.
    // Because BOTH sides probe, a pair whose buckets differ in bits
    // {i, j} meets in the middle (a emits bucket^i, b emits bucket^j ==
    // bucket^i): symmetric probing guarantees co-occurrence up to
    // Hamming distance 2, not just 1. Only (id, bucket) is exploded —
    // the amplification never touches the vector payload.
    val probes = (0 until bits).map(i => lit(1L << i))
    val expanded = v.select(col(idCol),
      explode(array_union(array(col("__b")),
        array(probes.map(p => col("__b").bitwiseXOR(p)): _*))).as("__bucket"))
      .persist()
    expanded.count()
    val bucketSizes = expanded.groupBy("__bucket").count().persist()
    val droppedBuckets = bucketSizes.filter(col("count") > maxBucketSize).count()
    // cnt >= 2: singleton buckets cannot pair (the TextDedup.lshCore
    // argument) — the pair set is unchanged, the self-join window's
    // shuffle drops its singleton rows
    val small = bucketSizes.filter(col("count") <= maxBucketSize && col("count") >= 2)
      .select("__bucket")
    val pruned = expanded.join(small, Seq("__bucket"))
    val candidates = SelfJoin.pairsWithinGroups(
        pruned, Seq("__bucket"), idCol, payloadCols = Seq.empty, chunkSize = chunkSize)
      .select("id_a", "id_b").distinct()
    val result = candidates
      .join(v.select(col(idCol).as("id_a"), col("__v").as("__va")), "id_a")
      .join(v.select(col(idCol).as("id_b"), col("__v").as("__vb")), "id_b")
      .withColumn("sim", cosine(col("__va"), col("__vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
      .persist()
    result.count()
    expanded.unpersist()
    bucketSizes.unpersist()
    v.unpersist()
    EmbeddingDupResult(result, droppedBuckets)
  }

  final case class EmbeddingDupResult(pairs: DataFrame, droppedBuckets: Long) {
    def unpersist(): Unit = pairs.unpersist()
  }
}
