package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for text corpora — the dedup ladder of a
  * training-data pipeline: exact (see [[Dedup.exactByColumns]]),
  * n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: the quadratic step (pair verification) only ever runs
  * inside LSH buckets / blocking keys — never a global cross join. All
  * shingling/hashing is `functions._` expressions (codegen); signatures
  * are fixed-seed, so results are reproducible across runs and cluster
  * layouts.
  */
object TextDedup {

  /** Character n-gram shingles of the lowercased text (distinct).
    *
    * Texts shorter than `n` (and nulls) yield an EMPTY set — the guard
    * matters because `sequence(1, 0)` evaluates DESCENDING in Spark
    * (`[1, 0]`), so the unguarded form would emit spurious truncated-text
    * shingles for short docs and make all empty docs mutual near-dups.
    */
  def shingles(c: Column, n: Int): Column = {
    val lc = lower(c)
    when(length(lc) >= n,
      array_distinct(
        transform(
          sequence(lit(1), length(lc) - (n - 1)),
          i => lc.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** JVM-kernel twin of [[shingles]] — identical string sets (parity-
    * tested), one compiled pass per row instead of an interpreted
    * `transform` HOF per shingle. Use on corpus-linear paths (e.g.
    * contamination scans every training doc); the expression form
    * remains the oracle recipe.
    */
  def shinglesKernel(c: Column, n: Int): Column =
    udf((text: String) => shingleSet(text, n)).apply(c)

  /** The row-level shingle loop behind [[shinglesKernel]], shared with
    * the streaming decontamination gate so both paths produce the exact
    * same distinct-gram sets.
    */
  private[graft] def shingleSet(text: String, n: Int): Array[String] = {
    if (text == null) Array.empty[String]
    else {
      val lc = text.toLowerCase(java.util.Locale.ROOT)
      if (lc.length < n) Array.empty[String]
      else {
        val seen = new scala.collection.mutable.LinkedHashSet[String]
        var i = 0
        while (i + n <= lc.length) {
          seen.add(lc.substring(i, i + n))
          i += 1
        }
        seen.toArray
      }
    }
  }

  /** Jaccard similarity of two distinct-element arrays. Uses
    * |A∪B| = |A|+|B|-|A∩B| — one hash-set pass instead of two (array_union
    * over large shingle sets doubles the per-pair cost).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a).cast("double") + size(b).cast("double") - inter
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** All pairs (idA < idB) within the same blocking key whose character
    * n-gram Jaccard reaches `threshold`. Blocking bounds the quadratic
    * term; pick keys with bounded group sizes (language, length band,
    * LSH bucket).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      blockCols: Seq[String]): DataFrame = {
    val withSh = df.select(
      (idCol +: blockCols).map(col) :+ shingles(col(textCol), n).as("__sh"): _*)
    val a = withSh.select(
      col(idCol).as("id_a") +: col("__sh").as("__sh_a") +: blockCols.map(col): _*)
    val b = withSh.select(
      col(idCol).as("id_b") +: col("__sh").as("__sh_b") +: blockCols.map(col): _*)
    a.join(b, blockCols)
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccard(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Fixed-seed universal-hash parameters for MinHash permutations. */
  private def perms(numPerm: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPerm)((1L + rnd.nextInt(Int.MaxValue - 1).toLong,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  private val MersennePrime = 2147483647L // 2^31 - 1

  /** JVM kernel for MinHash signatures. Catalyst higher-order-function
    * lambdas evaluate interpreted (no codegen), so an expression-tree
    * formulation costs ~100x a compiled loop at |shingles| x numPerm per
    * row; a JVM function keeps the whole signature one tight loop with
    * the shingle hashed once.
    */
  private def minHashKernel(n: Int, numPerm: Int, seed: Long): String => Array[Long] = {
    val ps = perms(numPerm, seed).toArray
    (text: String) => {
      val sig = Array.fill(numPerm)(MersennePrime)
      if (text != null) {
        val lc = text.toLowerCase(java.util.Locale.ROOT)
        val seen = new scala.collection.mutable.HashSet[String]
        var i = 0
        while (i + n <= lc.length) {
          val sh = lc.substring(i, i + n)
          if (seen.add(sh)) {
            val h = java.lang.Math.floorMod(
              scala.util.hashing.MurmurHash3.stringHash(sh).toLong, MersennePrime)
            var j = 0
            while (j < numPerm) {
              val v = (h * ps(j)._1 + ps(j)._2) % MersennePrime
              if (v < sig(j)) sig(j) = v
              j += 1
            }
          }
          i += 1
        }
      }
      sig
    }
  }

  /** MinHash signature (array<long> of length numPerm) over character
    * n-gram shingles: sig_j = min over distinct shingles of
    * (a_j*h(s)+b_j mod p), h = murmur3. Empty text -> p (sentinel max).
    */
  def minHashSignature(c: Column, n: Int = 3, numPerm: Int = 64, seed: Long = 42L): Column =
    udf(minHashKernel(n, numPerm, seed)).apply(c)

  /** Same signature as [[minHashSignature]] but computed from the already
    * hashed shingle set ([[shingleHashes]] / [[shingleHashesPortable]]) —
    * lets the LSH path shingle each document exactly once and share the
    * hashes between signing and verification.
    */
  private[operators] def sigFromHashesKernel(numPerm: Int, seed: Long): Seq[Long] => Array[Long] = {
    val ps = perms(numPerm, seed).toArray
    (hs: Seq[Long]) => {
      val sig = Array.fill(numPerm)(MersennePrime)
      if (hs != null) {
        val it = hs.iterator
        while (it.hasNext) {
          val h = java.lang.Math.floorMod(it.next(), MersennePrime)
          var j = 0
          while (j < numPerm) {
            val v = (h * ps(j)._1 + ps(j)._2) % MersennePrime
            if (v < sig(j)) sig(j) = v
            j += 1
          }
        }
      }
      sig
    }
  }

  /** Drops the hashes in the stop set `stop` from a shingle-hash array. */
  private[operators] def pruneUdf(stop: Array[Long]) = {
    val stopSet = stop.toSet
    udf((hs: Seq[Long]) => if (hs == null) null else hs.filterNot(stopSet.contains).toArray)
  }

  /** Bucket key of band `b` of signature column `sig`, `rows` signature
    * values a band. Production uses codegen'd murmur3 of the signature slice
    * (salted by the band index — an int key, the smallest shuffle).
    * Portable mode keys on the literal signature values so an external
    * engine groups bit-for-bit identically (no cross-engine hash, no
    * collision asymmetry); only correctness replay pays the wider
    * string key.
    */
  private[operators] def bandKey(sig: Column, rows: Int, portable: Boolean): Column => Column =
    if (portable) b => concat_ws(",", transform(slice(sig, b * rows + 1, lit(rows)), _.cast("string")))
    else b => hash(slice(sig, b * rows + 1, lit(rows)), b)

  /** The fixed-seed permutation parameters (a_j, b_j), public so an
    * external oracle can replay `sig_j = min (a_j*(h mod p) + b_j) mod p`
    * with the exact constants the kernel uses.
    */
  def permParams(numPerm: Int, seed: Long): Seq[(Long, Long)] = perms(numPerm, seed)

  /** [[minHashLshPairs]] output plus the knobs' observability: how many
    * LSH buckets were discarded by `maxBucketSize` and how many shingles
    * by document-frequency pruning — "found all pairs" vs "found all
    * pairs outside degenerate buckets" must be distinguishable to the
    * caller. `pairs` is pinned (the operator's intermediates are
    * already released): persisted, or a local checkpoint where several
    * index generations' pairs are unioned; [[unpersist]] releases
    * either once consumed.
    */
  final case class LshPairs(pairs: DataFrame, droppedBuckets: Long, prunedShingles: Int) {
    def unpersist(): Unit = graft.Pins.release(pairs)
  }

  /** LSH candidate pairs from banded MinHash signatures: signatures agree
    * on all rows of at least one band -> candidate. Returns verified
    * pairs with true n-gram Jaccard >= threshold, computed over the
    * document-frequency-pruned shingle sets.
    *
    * Document-frequency pruning (`maxDocFreqRatio`): shingles present in
    * more than that fraction of documents are removed before signing AND
    * verifying. On template-heavy corpora (the common web-scrape case)
    * boilerplate shingles otherwise dominate every signature, collapsing
    * the corpus into few buckets and flooding verification with pairs
    * whose only similarity is the template. Pruned semantics: Jaccard is
    * measured over each document's *distinctive* content. Exact template
    * copies (identical after pruning both ways to the empty set) score 0
    * — run [[Dedup.exactByColumns]] first for exact duplicates, as the
    * dedup ladder prescribes. Set 1.0 to disable.
    *
    * `minDocFreq` is the ABSOLUTE floor under the ratio bar: a shingle
    * is stopped only when its document frequency exceeds
    * `max(maxDocFreqRatio * N, minDocFreq)`. The ratio alone is
    * mix-sensitive on small corpora — at N = 20, "df > 10" prunes
    * ordinary content words, silently blinding Jaccard to real
    * similarity — so corpora smaller than `2 * minDocFreq` docs (at the
    * default ratio) run effectively un-pruned. Both bars recompute per
    * call, from the corpus actually passed. Set 0 to restore the pure
    * ratio policy (the frozen SQL replay oracles pin that form).
    *
    * Plan shape: one shingle-hash pass (persisted, shared by signing and
    * verify), one int shuffle for document frequencies, explode to
    * (bandIdx, bandHash, id) — one shuffle on the bucket key; the
    * self-join is per-bucket and chunked, then one distinct on pairs and
    * a verify join back to the pruned shingle hashes. All intermediate
    * caches are released before returning; the returned result holds the
    * only remaining cache.
    */
  def minHashLshDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      seed: Long = 42L,
      maxBucketSize: Int = 2000,
      maxDocFreqRatio: Double = 0.5,
      portableHash: Boolean = false,
      minDocFreq: Long = DefaultMinDocFreq): LshPairs =
    lshCore(df.select(col(idCol), col(textCol)), idCol, textCol,
      n, numPerm, bands, threshold, seed, maxBucketSize, maxDocFreqRatio,
      portableHash, minDocFreq, crossSide = false, outA = "id_a", outB = "id_b",
      countDropped = true)

  /** Cross-corpus near-dup pairs: every (existing, incoming) pair whose
    * verified Jaccard reaches `threshold` — the incremental-ingest shape
    * (dedup a new crawl AGAINST the corpus already kept, dropping only
    * incoming docs). Exactly [[minHashLshDedup]]'s machinery — ONE shared
    * [[lshCore]]: shingle pass, DF pruning and bucket caps over the
    * UNION of both corpora, chunked skew-proof bucket join — but
    * candidates pair across sides only: existing-existing and
    * incoming-incoming duplicates are not this operator's business.
    *
    * PRECONDITION: ids are unique across BOTH frames together (disjoint
    * id ranges — true for any ingest pipeline with monotonic ids).
    *
    * @return (id_existing, id_incoming, jaccard) — persisted; call
    *         `.unpersist()` once consumed.
    */
  def minHashLshPairsAgainst(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      seed: Long = 42L,
      maxBucketSize: Int = 2000,
      maxDocFreqRatio: Double = 0.5,
      portableHash: Boolean = false,
      minDocFreq: Long = DefaultMinDocFreq): DataFrame = {
    val tagged = existing
      .select(col(idCol), col(textCol)).withColumn("__side", lit(0))
      .union(incoming.select(col(idCol), col(textCol)).withColumn("__side", lit(1)))
    lshCore(tagged, idCol, textCol,
      n, numPerm, bands, threshold, seed, maxBucketSize, maxDocFreqRatio,
      portableHash, minDocFreq, crossSide = true,
      outA = "id_existing", outB = "id_incoming", countDropped = false).pairs
  }

  /** Default [[minHashLshDedup]] `minDocFreq`: chosen so the floor only
    * engages where the ratio bar stops being meaningful (corpora under
    * ~2000 docs at the default ratio) — large-corpus pruning behavior,
    * and every recorded sf0.1 benchmark (5000 docs, ratio bar 2500),
    * is unchanged.
    */
  val DefaultMinDocFreq: Long = 1000L

  /** The one LSH pipeline both the self-dedup and the cross-corpus
    * entry points run (a divergent copy would rot: a banding or pruning
    * fix in one path must reach the other). `crossSide = true` expects a
    * `__side` column (0 = existing, 1 = incoming) and pairs across
    * sides only, orienting output as (outA = side 0, outB = side 1);
    * the self path emits (outA < outB) within buckets. `countDropped =
    * false` is for callers that discard `droppedBuckets` (it reads 0):
    * the cap is applied all the same, only its tally is skipped.
    */
  private def lshCore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numPerm: Int,
      bands: Int,
      threshold: Double,
      seed: Long,
      maxBucketSize: Int,
      maxDocFreqRatio: Double,
      portableHash: Boolean,
      minDocFreq: Long,
      crossSide: Boolean,
      outA: String,
      outB: String,
      countDropped: Boolean): LshPairs = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    require(maxDocFreqRatio > 0.0, "maxDocFreqRatio must be positive")
    require(minDocFreq >= 0, "minDocFreq must be non-negative")
    val rows = numPerm / bands
    val sideCols = if (crossSide) Seq("__side") else Seq.empty[String]

    val shCol =
      if (portableHash) shingleHashesPortable(col(textCol), n)
      else shingleHashes(col(textCol), n)
    val shCached = df
      .select(col(idCol) +: sideCols.map(col) :+ shCol.as("__sh"): _*).persist()
    // Document-frequency pruning: the stop set is tiny by construction
    // (at most totalShingleOccurrences / (ratio * nDocs) distinct values),
    // so collecting it to the driver and baking it into a kernel closure
    // is a broadcast-sized operation, same as an ML model's parameters.
    // The ratio bar (with the absolute floor under it — see
    // minHashLshDedup scaladoc) needs THIS corpus's doc count: folded
    // into the same collect as a broadcast 1-row aggregate, so the
    // whole stop-set computation is ONE scheduled job (a separate
    // count() was one extra job per call — real wall at
    // composite-pipeline job counts, r11). When pruning is off there is
    // no eager action at all: the first bucket-size aggregate fills
    // this persist in the same pass.
    val stop: Array[Long] =
      if (maxDocFreqRatio >= 1.0) Array.empty
      else {
        val nDocsDf = shCached.groupBy().agg(count(lit(1)).as("__n"))
        shCached.select(explode(col("__sh")).as("__h"))
          .groupBy("__h").agg(count(lit(1)).as("__c"))
          .join(broadcast(nDocsDf))
          .filter(col("__c") > greatest(lit(minDocFreq),
            (col("__n") * maxDocFreqRatio).cast("long")))
          .select("__h").collect().map(_.getLong(0))
      }
    val sh =
      if (stop.isEmpty) shCached
      // filled by the first bucket-size aggregate, from shCached
      // (which the stop pass above filled; released at the end)
      else shCached.withColumn("__sh", pruneUdf(stop)(col("__sh"))).persist()

    val bucketOf = bandKey(col("__sig"), rows, portableHash)
    val banded = sh.select(
      col(idCol) +: sideCols.map(col) :+
        udf(sigFromHashesKernel(numPerm, seed)).apply(col("__sh")).as("__sig"): _*)
      .select(
        col(idCol) +: sideCols.map(col) :+
          posexplode(transform(sequence(lit(0), lit(bands - 1)), bucketOf))
            .as(Seq("__band", "__bucket")): _*)
      .persist()
    // (no count here: the bucket-size aggregate below is banded's first
    // action and fills the persist in the same pass — an explicit count
    // was one extra scheduled job per call, which at composite-pipeline
    // job counts is real wall; r11)
    // Cap bucket sizes: a bucket holding a large fraction of the corpus
    // carries no discriminative signal (template-heavy corpora produce
    // them) but turns the self-join quadratic on one hot key — runtime
    // then depends on whether AQE happens to split it (measured 25s vs
    // 175s run-to-run). Dropping oversized buckets bounds the join
    // deterministically; true near-dups still meet in their many small,
    // discriminating buckets. The dropped count is surfaced on the
    // result so callers can see the recall trade actually taken: an
    // observed counter on the bucket sizes, read off the pair action.
    val bucketSizes = banded.groupBy("__band", "__bucket").count()
    val over = col("count") > maxBucketSize
    val dropMetric = s"lsh_dropped_${java.util.UUID.randomUUID()}"
    val sized =
      if (countDropped) bucketSizes.observe(dropMetric, count(when(over, 1)).as("n"))
      else bucketSizes
    // cnt >= 2: a singleton bucket can never produce a pair, and on real
    // corpora MOST band-buckets are singletons (53,960 buckets for 80k
    // banded rows at sf0.1) — dropping them here removes the majority of
    // the rows shuffled into the chunked self-join's window without
    // changing the pair set (guide §2.3: shuffle fewer bytes).
    val smallBuckets = sized
      .filter(!over && col("count") >= 2)
      .select("__band", "__bucket")
    val pruned = banded.join(smallBuckets, Seq("__band", "__bucket"))
    // chunked join: bounded key groups regardless of bucket skew
    val rawPairs = SelfJoin.pairsWithinGroups(
      pruned, Seq("__band", "__bucket"), idCol, payloadCols = sideCols,
      chunkSize = 500)
    val candidates =
      (if (crossSide)
        rawPairs.filter(col("__side_a") =!= col("__side_b"))
          .select(
            when(col("__side_a") === 0, col("id_a")).otherwise(col("id_b")).as(outA),
            when(col("__side_a") === 0, col("id_b")).otherwise(col("id_a")).as(outB))
      else rawPairs.select(col("id_a").as(outA), col("id_b").as(outB)))
        .distinct()
    // Exact verify on hashed-int shingles: set semantics are identical
    // modulo murmur3 collisions (negligible at 3-gram cardinality), and
    // integer set intersection is ~7x cheaper than UTF8String intersection
    // — it carries 6M candidate pairs in seconds where string shingles
    // took minutes.
    val result = candidates
      .join(sh.select(col(idCol).as(outA), col("__sh").as("__sh_a")), outA)
      .join(sh.select(col(idCol).as(outB), col("__sh").as("__sh_b")), outB)
      .withColumn("jaccard", jaccard(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col(outA), col(outB), col("jaccard"))
      .persist()
    val droppedBuckets =
      if (!countDropped) { result.count(); 0L }
      else countObserved(result, dropMetric).getOrElse(bucketSizes.filter(over).count())
    banded.unpersist()
    sh.unpersist()
    shCached.unpersist() // no-op when nothing was pruned (sh is shCached)
    LshPairs(result, droppedBuckets, stop.length)
  }

  /** Fill `df`'s persist with one action, and return the `n` field of
    * the counter that `df`'s plan observes under `metric`, read off that
    * action's own plan: no listener, so it never waits. None when the
    * executed plan lost the counter: AQE replaces a subtree whose output
    * it found empty with an empty relation, observed nodes included.
    * That happens whenever the action's result is empty, so callers
    * count the observed frame directly in that case.
    */
  private[operators] def countObserved(df: DataFrame, metric: String): Option[Long] = {
    val counted = df.groupBy().count()
    counted.collect()
    counted.queryExecution.observedMetrics.get(metric).map(_.getAs[Long]("n"))
  }

  /** Incremental ingest filter: `incoming` minus near-dups of `existing`
    * — the rows safe to append to the corpus. Exact-text duplicates are
    * near-dups at any threshold, so they are dropped too — including
    * texts shorter than `n`, which shingle to the empty set and are
    * invisible to the LSH path (Jaccard 0); an anti-join on the text's
    * md5 digest catches them. Residual scope: a short text that is a
    * NEAR-dup (not byte-identical) of an existing short text has no
    * shingles to compare and survives — below `n` characters there is
    * no n-gram signal to rank it by.
    */
  def dedupAgainst(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      n: Int = 3): DataFrame = {
    val pairs = minHashLshPairsAgainst(
      existing, incoming, idCol, textCol, n = n, threshold = threshold)
    // materialize the (ids-only) drop set BEFORE releasing the pair
    // cache — a lazy anti-join against the unpersisted frame would
    // re-run the whole LSH pipeline at the caller's first action
    val dupIds = pairs.select(col("id_incoming").as(idCol))
      .distinct().localCheckpoint()
    pairs.unpersist()
    // exact-text match via md5 of the text, not the raw text: the
    // anti-join then shuffles 32-byte digests instead of full document
    // bodies (the LSH path's own shuffles are signatures/shingle
    // hashes, and this join must stay in that scale class at 100 TB).
    // A false drop needs an md5 collision (~2^-128); null-text incoming
    // rows keep their null join key and survive, as before.
    // internal column name guaranteed absent from the caller's frame
    // (withColumn would silently OVERWRITE a caller column of the same
    // name and the final select would then project digests as data)
    val th = Iterator.from(0).map(i => s"__th$i")
      .find(n => !incoming.columns.contains(n)).get
    val exTextHashes = existing
      .select(md5(col(textCol)).as(th)).na.drop().distinct()
    incoming.join(dupIds, Seq(idCol), "left_anti")
      .withColumn(th, md5(col(textCol)))
      .join(exTextHashes, Seq(th), "left_anti")
      .select(incoming.columns.map(col): _*) // drop the digest; restore order
  }

  /** DataFrame-only view of [[minHashLshDedup]] (call `.unpersist()` on
    * the returned frame once consumed).
    */
  def minHashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      seed: Long = 42L,
      maxBucketSize: Int = 2000,
      maxDocFreqRatio: Double = 0.5,
      portableHash: Boolean = false,
      minDocFreq: Long = DefaultMinDocFreq): DataFrame =
    lshCore(df.select(col(idCol), col(textCol)), idCol, textCol,
      n, numPerm, bands, threshold, seed, maxBucketSize, maxDocFreqRatio,
      portableHash, minDocFreq, crossSide = false, outA = "id_a", outB = "id_b",
      countDropped = false).pairs

  /** Distinct murmur3-hashed character n-gram shingles (JVM kernel, same
    * rationale as [[minHashKernel]]). Long-typed so the LSH path is
    * hash-representation-agnostic (the portable md5 variant needs the
    * unsigned 32-bit range).
    */
  def shingleHashes(c: Column, n: Int): Column = {
    val f = (text: String) => {
      if (text == null) Array.empty[Long]
      else {
        val lc = text.toLowerCase(java.util.Locale.ROOT)
        val seen = new scala.collection.mutable.LinkedHashSet[Long]
        var i = 0
        while (i + n <= lc.length) {
          seen.add(scala.util.hashing.MurmurHash3.stringHash(lc.substring(i, i + n)).toLong)
          i += 1
        }
        seen.toArray
      }
    }
    udf(f).apply(c)
  }

  /** Engine-portable variant of [[shingleHashes]]: distinct
    * [[md5TokenHash]]es of the character n-gram shingles, in [0, 2^32).
    * A JVM kernel (MessageDigest MD5, first 4 digest bytes unsigned =
    * `CAST('0x'||substr(md5(t),1,8) AS BIGINT)`), bit-identical to the
    * expression recipe [[shingleHashesPortableExpr]] — parity-tested —
    * but one compiled pass per row instead of an interpreted
    * `transform`+`md5`+`conv` HOF chain per shingle (measured: the HOF
    * form made oracle-mode q24 2x the murmur3 production path).
    */
  def shingleHashesPortable(c: Column, n: Int): Column = {
    val f = (text: String) => {
      if (text == null) Array.empty[Long]
      else {
        val lc = text.toLowerCase(java.util.Locale.ROOT)
        if (lc.length < n) Array.empty[Long]
        else {
          val seen = new scala.collection.mutable.LinkedHashSet[Long]
          var i = 0
          while (i + n <= lc.length) {
            seen.add(TokenHasher.PortableMd5.hashToken(lc.substring(i, i + n)))
            i += 1
          }
          seen.toArray
        }
      }
    }
    udf(f).apply(c)
  }

  /** Expression form of [[shingleHashesPortable]] — the oracle RECIPE:
    * built from `substr`/`md5`/`conv` so the bytes hashed are exactly
    * what any SQL engine's `md5(substr(lower(text), i, n))` hashes.
    * Kept as the documented replay contract and the kernel's parity
    * reference; the hot path uses the kernel.
    */
  def shingleHashesPortableExpr(c: Column, n: Int): Column = {
    val lc = lower(c)
    // Same short-text guard as [[shingles]]: sequence(1, 0) is the
    // DESCENDING [1, 0] in Spark, which would hash the truncated text
    // instead of producing the empty set the JVM kernel and the DuckDB
    // oracle (`range(1, 1)` = empty) both produce. Null text also lands
    // in the otherwise-branch (null >= n is null).
    when(length(lc) >= n,
      array_distinct(
        transform(
          sequence(lit(1), length(lc) - (n - 1)),
          i => md5TokenHash(lc.substr(i, lit(n))))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Engine-portable 32-bit token hash: the first 8 hex digits of md5.
    * Unlike murmur3 (JVM-specific seeding) this is computable bit-for-bit
    * in any SQL engine (`CAST('0x'||substr(md5(t),1,8) AS BIGINT)`), so a
    * SimHash built on it can be verified against an external oracle.
    */
  def md5TokenHash(w: Column): Column =
    conv(substring(md5(w), 1, 8), 16, 10).cast("long")

  /** Engine-portable SIGNED 64-bit token hash: the first 16 md5 hex
    * digits, folded as `signed(hi32) * 2^32 + lo32`. The high half is
    * wrapped to signed BEFORE the multiply so every intermediate fits
    * int64 EXACTLY (max = (2^31-1)*2^32 + (2^32-1) = 2^63-1, min =
    * -2^63) — no HUGEINT widening, no ANSI overflow, and DuckDB replays
    * it bit-for-bit as
    * `(CASE WHEN h >= 2147483648 THEN h - 4294967296 ELSE h END)
    *    * 4294967296 + l`
    * with `h`/`l` = `CAST('0x'||substr(md5(t),1,8|9,8) AS BIGINT)`
    * (16 hex digits cast directly would overflow DuckDB's BIGINT
    * parse). 64 bits is the artifact-hash width: at 10^9 distinct
    * grams the expected number of colliding pairs is ~0.03
    * (n^2 / 2^65), vs certain heavy collision at 32 bits.
    */
  def md5TokenHash64(w: Column): Column = {
    val hex = md5(w)
    val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
    when(hi >= 2147483648L, hi - 4294967296L).otherwise(hi) * 4294967296L + lo
  }

  /** Token-hash mode for [[simHash]]: each mode carries both its
    * expression form (the oracle recipe, kept for parity testing and SQL
    * generation) and the compiled per-token JVM form the kernel uses.
    */
  sealed trait TokenHasher extends Serializable {
    /** The name an index meta row records (`hasher=<name>`). */
    def name: String
    /** Column-level hash — what an external SQL engine replays. */
    def expr: Column => Column
    /** The same hash as a compiled JVM function over the token string. */
    def hashToken(t: String): Long
  }
  object TokenHasher {
    /** The hasher recorded as `name` in an index meta row. */
    def named(name: String): TokenHasher = Seq(Murmur3, PortableMd5).find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"unknown token hasher in SimHash index meta: $name"))

    /** Production default: Spark's `hash()` (murmur3_x86_32, seed 42,
      * over the token's UTF-8 bytes) — fastest, not SQL-portable.
      */
    case object Murmur3 extends TokenHasher {
      val name = "murmur3"
      val expr: Column => Column = w => hash(w)
      def hashToken(t: String): Long = {
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(t)
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.numBytes, 42).toLong
      }
    }
    /** Engine-portable: [[md5TokenHash]] (first 8 md5 hex digits), the
      * mode the DuckDB oracle replays bit-for-bit.
      */
    case object PortableMd5 extends TokenHasher {
      val name = "md5"
      val expr: Column => Column = w => md5TokenHash(w)
      private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }
      def hashToken(t: String): Long = {
        val md = mdLocal.get(); md.reset()
        val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      }
    }
  }

  /** 32-bit SimHash over whitespace tokens (unit weights): bit i is set
    * iff the sum over tokens of ±1 (by token-hash bit i) is positive.
    *
    * Implemented as a JVM kernel: the expression form
    * ([[simHashExpr]]) is 32 interpreted `aggregate()` folds per row
    * (Catalyst higher-order-function lambdas don't codegen — the same
    * measured ~100x that moved MinHash signatures to a kernel at
    * [[minHashKernel]]); the kernel hashes each token ONCE and updates
    * all 32 bit counters in one pass. Bit-for-bit equal to the
    * expression form (parity-tested) and to the DuckDB oracle in
    * portable mode.
    */
  def simHash(c: Column, hasher: TokenHasher = TokenHasher.Murmur3): Column =
    udf(simHashKernel(hasher)).apply(c)

  /** Whitespace regex of Spark's `split(_, "\\s+")`. */
  private val WsPattern = java.util.regex.Pattern.compile("\\s+")

  private def simHashKernel(hasher: TokenHasher): String => Long = {
    (text: String) => {
      val counts = new Array[Int](32)
      if (text != null) {
        // Replicate TextAnalysis.tokens exactly: Spark `trim` strips
        // ASCII 0x20 only (not \t/\n), and `split` keeps trailing empty
        // strings (limit -1) — both differ from the java.lang defaults.
        var from = 0
        var to = text.length
        while (from < to && text.charAt(from) == ' ') from += 1
        while (to > from && text.charAt(to - 1) == ' ') to -= 1
        if (to > from) {
          val toks = WsPattern.split(
            text.substring(from, to).toLowerCase(java.util.Locale.ROOT), -1)
          var ti = 0
          while (ti < toks.length) {
            val h = hasher.hashToken(toks(ti))
            var i = 0
            while (i < 32) {
              if (((h >> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
              i += 1
            }
            ti += 1
          }
        }
      }
      var out = 0L
      var i = 0
      while (i < 32) { if (counts(i) > 0) out |= (1L << i); i += 1 }
      out
    }
  }

  /** The expression-tree form of [[simHash]] — 32 interpreted folds per
    * row, so NOT for hot paths; kept as the executable statement of the
    * recipe the SQL oracle replays, and as the parity baseline the
    * kernel is tested against.
    */
  def simHashExpr(c: Column, hasher: TokenHasher = TokenHasher.Murmur3): Column = {
    val toks = TextAnalysis.tokens(c)
    val bitCols = (0 until 32).map { i =>
      val contrib = aggregate(toks, lit(0),
        (acc, w) => acc + when(shiftright(hasher.expr(w), i).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(contrib > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs by SimHash: block on the high byte-s of the hash
    * (cheap LSH: near hashes share high bits for small distances is NOT
    * guaranteed — so block on provided keys instead) and verify
    * hamming <= maxDistance.
    */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int,
      blockCols: Seq[String],
      hasher: TokenHasher = TokenHasher.Murmur3): DataFrame = {
    val withH = df.select(
      (idCol +: blockCols).map(col) :+ simHash(col(textCol), hasher).as("__sh"): _*)
    val a = withH.select(
      col(idCol).as("id_a") +: col("__sh").as("__h_a") +: blockCols.map(col): _*)
    val b = withH.select(
      col(idCol).as("id_b") +: col("__sh").as("__h_b") +: blockCols.map(col): _*)
    a.join(b, blockCols)
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hamming(col("__h_a"), col("__h_b")))
      .filter(col("hamming") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Self-blocking SimHash near-dup pairs — no external block columns.
    *
    * Standard Hamming-LSH: split the 32-bit hash into `segments`
    * near-equal bit segments ([[HammingIndex.segmentValues]], the layout
    * [[SimHashIndex]] stores); two hashes within Hamming distance
    * `maxDistance` differ in at most `maxDistance` segments, so with
    * `segments > maxDistance` (pigeonhole) they agree EXACTLY on at
    * least one segment — candidate generation has 100% recall, and the
    * hamming verify makes the result exact (identical to brute-force
    * all-pairs, modulo buckets dropped by `maxBucketSize`).
    *
    * Scale shape mirrors [[minHashLshDedup]]: explode to (segment,
    * value) — one shuffle on the bucket key; degenerate buckets (a
    * segment value shared by a huge corpus fraction carries no signal)
    * are dropped deterministically by the cap; the per-bucket self-join
    * is chunked ([[SelfJoin.pairsWithinGroups]]) so no join key ever
    * exceeds `chunkSize` rows per side; pairs dedup BEFORE the two
    * hash rejoins. Only (id, segment, value) shuffles — hashes stay
    * out of the explode. Call `.unpersist()` on the result when done.
    */
  def simHashPairsSelfBlocked(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int,
      segments: Int = 0, // <=0 -> maxDistance + 1 (tightest guarantee)
      hasher: TokenHasher = TokenHasher.Murmur3,
      maxBucketSize: Int = 2000,
      chunkSize: Int = 500): DataFrame = {
    val k = if (segments > 0) segments else maxDistance + 1
    require(k > maxDistance, s"segments ($k) must exceed maxDistance ($maxDistance) for the pigeonhole guarantee")
    require(k <= 32, "at most one segment per bit")

    val withH = df.select(col(idCol), simHash(col(textCol), hasher).as("__h")).persist()
    withH.count()
    val exploded = withH.select(
      col(idCol),
      posexplode(array(HammingIndex.segmentValues(col("__h"), k, bits = 32): _*)).as(Seq("__seg", "__val")))
    val bucketSizes = exploded.groupBy("__seg", "__val").count()
    // cnt >= 2: singleton segment buckets cannot pair (same argument as
    // the MinHash path — the pair set is unchanged, the window shuffle
    // drops its singleton majority)
    val small = bucketSizes.filter(col("count") <= maxBucketSize && col("count") >= 2)
      .select("__seg", "__val")
    val pruned = exploded.join(small, Seq("__seg", "__val"))
    val cands = SelfJoin.pairsWithinGroups(
        pruned, Seq("__seg", "__val"), idCol, payloadCols = Seq.empty, chunkSize)
      .select("id_a", "id_b").distinct()
    val result = cands
      .join(withH.select(col(idCol).as("id_a"), col("__h").as("__h_a")), "id_a")
      .join(withH.select(col(idCol).as("id_b"), col("__h").as("__h_b")), "id_b")
      .withColumn("hamming", hamming(col("__h_a"), col("__h_b")))
      .filter(col("hamming") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .persist()
    result.count()
    withH.unpersist()
    result
  }
}
