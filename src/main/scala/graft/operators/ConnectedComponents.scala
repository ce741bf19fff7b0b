package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the step that turns near-dup
  * PAIRS (MinHash/SimHash/Jaccard output) into dedup GROUPS, so a
  * training-data pipeline can keep exactly one canonical document per
  * duplicate cluster instead of dropping both ends of every pair.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each
  * iteration is two groupBy-min shuffles over the CURRENT edge set —
  * never a global collect, never a driver-side graph — and the edge set
  * only shrinks toward the final star forest, so the shuffle volume
  * decays as components contract. Converges in O(log^2 n) iterations on
  * adversarial graphs (a chain) and 2-3 iterations on the shallow, dense
  * clusters duplicate detection actually produces. Lineage is truncated
  * every iteration with localCheckpoint (iterative DataFrame plans
  * otherwise grow unboundedly and re-trigger the whole prefix).
  *
  * At 100 TB: dup clusters are overwhelmingly tiny (2-20 docs), so the
  * neighbor-min aggregations partial-combine map-side and the per-round
  * shuffle is O(|pairs|) ints. The convergence check is a count+sum
  * aggregate on the star edges — one cheap pass, no edge-set join.
  */
object ConnectedComponents {

  /** Distinct-edge bar under which [[connectedComponents]] solves on
    * the driver instead of iterating Spark rounds. 100k oriented
    * edges collect to ~1.6 MB of longs — meta-sized by the same
    * contract-bounded argument as Bm25Index's 4096-term literal
    * pushdown — and a union-find over them replaces ~8-12 scheduled
    * actions (2-3 alternation rounds x checkpoint+fingerprint) with
    * ONE collect. That fixed cost is exactly what dominates the
    * nightly-turn composites on real batch sizes (a 2k-doc media
    * batch pays the same orchestration as a 2M one); at corpus scale
    * the edge count blows the bar and the distributed alternation
    * runs unchanged. The choice is one collect bounded by the bar
    * (a `limit` over the distinct oriented pairs): below it that
    * collect IS the solve's whole input, above it the distributed path
    * pays one extra bounded pass.
    */
  val DefaultDriverSolveMax: Int = 100000

  /** Component id (= min member id) for every node appearing in `edges`.
    *
    * @param edges two LONG columns `srcCol`, `dstCol`; treated as
    *              undirected, self-loops and duplicates tolerated.
    * @param jumpSteps pointer-jump (path-halving) passes appended to
    *              each alternation round; see the loop comment. 0
    *              restores the pure alternating-star schedule. Measured
    *              at 1M edges + 10k chain: 15 rounds / 41 s at 0,
    *              8 / 34 s at 1, 6 / 31 s at 2.
    * @param driverSolveMax distinct-edge bar for the driver fast path
    *              ([[DefaultDriverSolveMax]]; self-loops do not count
    *              against it, but more than as many again also send
    *              the graph down the distributed path); 0 forces the
    *              distributed alternation at any size. Both paths
    *              return identical labels (spec-pinned) — this is a
    *              latency knob, never a semantics knob.
    * @return DataFrame(id LONG, component LONG) — one row per distinct
    *         node, component = least id reachable from it.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 50,
      jumpSteps: Int = 2,
      driverSolveMax: Int = DefaultDriverSolveMax): DataFrame =
    componentsWithRounds(edges, srcCol, dstCol, maxIter, jumpSteps, driverSolveMax)._1

  /** [[connectedComponents]] together with the number of alternation
    * rounds it ran (0 when the bounded driver solve answered) — for the
    * round-count specs. The count is a local of the call,
    * so concurrent callers never see each other's rounds.
    */
  private[graft] def componentsWithRounds(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 50,
      jumpSteps: Int = 2,
      driverSolveMax: Int = DefaultDriverSolveMax): (DataFrame, Int) = {
    val spark = edges.sparkSession
    import spark.implicits._

    val valid = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter($"u".isNotNull && $"v".isNotNull)
    // Pairs oriented child >= parent, deduplicated: the star edges plus
    // one (x, x) row per self-loop.
    def oriented(pairs: DataFrame): DataFrame = pairs
      .select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      .distinct()

    // Bounded driver solve: ONE collect, bounded by the bar, tells a
    // batch-sized graph apart before anything is pinned or any round is
    // scheduled. It carries the oriented edges and, up to as many again,
    // the self-loops, so every node is on the driver (a self-loop-only
    // node is a singleton component) and the labels come back as a
    // driver-local frame with no lineage to re-analyze. Union-find with
    // min-label roots (attach the larger root under the smaller — the
    // root IS the set minimum by invariant) over the collected edges.
    if (driverSolveMax > 0) {
      val cap = math.min(2L * driverSolveMax + 1, Int.MaxValue - 1L).toInt
      val rows = oriented(valid).limit(cap + 1).as[(Long, Long)].collect()
      val arr = rows.filter { case (u, v) => u != v }
      if (rows.length <= cap && arr.length <= driverSolveMax) {
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          while (parent.getOrDefault(x, x) != x) x = parent.getOrDefault(x, x)
          var y = x0 // path compression
          while (parent.getOrDefault(y, y) != y) { val n = parent.get(y); parent.put(y, x); y = n }
          x
        }
        arr.foreach { case (u, v) =>
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) {
            if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
          }
        }
        val labels: Seq[(Long, Long)] = rows.iterator
          .flatMap(e => Iterator(e._1, e._2)).toSet.toSeq
          .map((x: Long) => (x, find(x)))
        return (labels.toDF("id", "component"), 0)
      }
    }

    // Materialize the pair list ONCE up front: the upstream that feeds
    // this operator (MinHash/Jaccard pair generation) is expensive, and
    // without this checkpoint every downstream action — star init, the
    // node list, cluster sizing, the final collect — re-runs it from
    // scratch (measured 4x the pair-gen cost on q50).
    val raw = valid.localCheckpoint()
    // Nodes from the UNfiltered pairs: a node seen only in a self-loop
    // is still a (singleton) component.
    val nodes = raw.select($"u".as("id"))
      .union(raw.select($"v".as("id"))).distinct()
    // Star edges oriented child > parent; start from the input pairs.
    var star = oriented(raw.filter($"u" =!= $"v")).localCheckpoint()

    var iter = 0
    var signature = fingerprint(star)
    var converged = signature._1 == 0L

    while (!converged && iter < maxIter) {
      // Large-star: every strictly-larger neighbor of u links to the
      // minimum of u's neighborhood (including u itself).
      val sym = star.union(star.select($"v".as("u"), $"u".as("v")))
      val mins = sym.groupBy($"u")
        .agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      // No distinct here: duplicates collapse in small-star's groupBy
      // and final distinct — skipping it saves a full shuffle per
      // round. (v > u >= m, so u != v needs no filter either.)
      val large = sym.join(mins, "u")
        .filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))

      // Small-star: every node and its smaller neighbors link to the
      // minimum of that (child > parent invariant holds afterwards).
      val minsS = large.groupBy($"u").agg(min($"v").as("m"))
      val small = large.join(minsS, "u")
        .select($"v".as("u"), $"m".as("v"))
        .union(minsS.select($"u", $"m".as("v")))
        .filter($"u" =!= $"v")
        .distinct()

      // Pointer jumping (path halving) between alternation rounds: with
      // m(x) = min parent of x, rewrite every edge (u, v) to (u, m(v))
      // (v keeps its own rewritten parent edge, so nothing is added or
      // dropped — row count is invariant). Component-preserving: m(v)
      // is in v's component, and by induction on ids every child stays
      // connected to its min parent, so old adjacencies survive via
      // u ~ m(v) ~ v. Orientation survives too (m(v) < v < u — no
      // self-loops, no distinct needed). Effect: a surviving path
      // contracts ~2x more per jump step on top of the alternation's
      // ~2x, cutting the adversarial chain regime's round count in half
      // (the common shallow-cluster regime converges in 2-3 rounds
      // either way); at the star-forest fixpoint every parent is a
      // root, the rewrite is the identity, and the convergence
      // fingerprint is untouched. Cost: one groupBy-min + one
      // same-key join per step — cheap next to the two-star round
      // (transient duplicate edges are possible when two parents share
      // a min; the next round's aggregations collapse them).
      var cur = small
      var j = 0
      while (j < jumpSteps) {
        val mp = cur.groupBy($"u").agg(min($"v").as("m"))
        cur = cur.join(mp.select($"u".as("v"), $"m"), Seq("v"), "left")
          .select($"u", coalesce($"m", $"v").as("v"))
        j += 1
      }
      cur = cur.localCheckpoint()

      val sig = fingerprint(cur)
      converged = sig == signature
      signature = sig
      star = cur
      iter += 1
    }
    // A non-converged star can map one node to SEVERAL labels — the
    // final join would then fan out to duplicate (id, component) rows
    // and silently corrupt downstream dedup. Fail loudly instead;
    // maxIter = 50 covers graphs far beyond any real dup-pair diameter
    // (a 1000-node chain converges in ~14 rounds).
    require(converged,
      s"connectedComponents did not converge within $maxIter iterations — " +
        "raise maxIter (diameter of the pair graph exceeds the bound)")

    (nodes.join(star.select($"u".as("id"), $"v".as("__root")), Seq("id"), "left")
      .select($"id", coalesce($"__root", $"id").as("component")), iter)
  }

  /** Cheap order-independent edge-set signature for the convergence
    * check: (count, sum of a per-edge hash). One aggregate pass. The sum
    * runs in decimal(38,0) — ANSI mode makes a long sum of 2^63-range
    * hashes an overflow error, not a wrap.
    */
  private def fingerprint(star: DataFrame): (Long, String) = {
    val spark = star.sparkSession
    import spark.implicits._
    star
      .agg(
        count(lit(1)),
        coalesce(sum(xxhash64($"u", $"v").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).cast("string"))
      .as[(Long, String)].head()
  }

  /** Assign every document its duplicate-cluster id and flag the one
    * canonical survivor (least id) per cluster.
    *
    * @param docs  one row per document; `idCol` must be unique LONG.
    * @param pairs near-dup pairs as two columns `aCol`, `bCol` of ids.
    * @return docs + `cluster_id` (least DOC id in the component; own id
    *         when the doc matched nothing), `cluster_size`,
    *         `is_canonical` (1/0 — keep rows where it is 1 to dedup the
    *         corpus). The cluster id and canonical flag are grounded in
    *         `docs`, not in the raw component label: `pairs` may carry
    *         ids absent from `docs` (stale edges, a pair list computed
    *         on a superset corpus), and a component whose least id is
    *         such a ghost must still elect one of its REAL members —
    *         labeling by the raw component minimum would leave the whole
    *         cluster with `is_canonical = 0` and a keep-canonical filter
    *         would silently drop every row of it.
    */
  def canonicalize(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    requireOutputsFree(docs)
    val comp = freshName("__comp", docs.columns)
    val labeled = labelComponents(docs, pairs, idCol, aCol, bCol, comp)
    val groups = labeled.groupBy(col(comp))
      .agg(count(lit(1)).as("cluster_size"), min(col(idCol)).as("cluster_id"))
    labeled.join(groups, comp)
      .drop(comp)
      .withColumn(
        "is_canonical",
        when(col(idCol) === col("cluster_id"), lit(1)).otherwise(lit(0)))
  }

  /** [[canonicalize]] with a SURVIVORSHIP POLICY: per duplicate
    * cluster, the canonical member is the one with the highest
    * `scoreCol` (ties broken by least id) instead of the least id —
    * the keep-the-best-copy rule corpus curation actually wants (drop
    * the truncated/boilerplate variant, keep the clean one).
    * `cluster_id` stays the least DOC id so cluster identity is stable
    * across policies; only the elected survivor changes.
    *
    * The election is one `max(struct(score, -id))` per cluster —
    * partial-aggregatable (map-side combine), so a pathologically hot
    * cluster costs a merge of per-partition maxima, never a per-group
    * sort; no window over the corpus. Same ghost-id grounding as
    * [[canonicalize]]: survivors are elected among rows of `docs` only.
    */
  def canonicalizeBy(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      scoreCol: String,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    requireOutputsFree(docs)
    val comp = freshName("__comp", docs.columns)
    val best = freshName("__best", docs.columns)
    val labeled = labelComponents(docs, pairs, idCol, aCol, bCol, comp)
    val groups = labeled.groupBy(col(comp))
      .agg(
        count(lit(1)).as("cluster_size"),
        min(col(idCol)).as("cluster_id"),
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("nid"))).as(best))
    labeled.join(groups, comp)
      .withColumn(
        "is_canonical",
        when(col(idCol) === -col(s"$best.nid"), lit(1)).otherwise(lit(0)))
      .drop(comp, best)
  }

  /** The outputs both canonicalizers add. A docs frame already carrying
    * one (plausible when re-clustering an earlier run's output) would be
    * silently overwritten by `withColumn`/`agg` — the same
    * column-collision class [[TextDedup.dedupAgainst]] guards against —
    * so the contract is loud: drop or rename them before re-clustering.
    */
  private val OutputCols = Seq("cluster_id", "cluster_size", "is_canonical")

  private def requireOutputsFree(docs: DataFrame): Unit = {
    val clash = docs.columns.intersect(OutputCols)
    require(clash.isEmpty,
      s"docs already has column(s) ${clash.mkString(", ")} — canonicalize " +
        "would overwrite these outputs; drop or rename them first " +
        "(re-clustering a previous canonicalize output does this)")
  }

  /** First name in `base`, `base0`, `base1`, … absent from `taken` —
    * internal columns must never collide with caller data (a caller
    * column named `__comp` would otherwise be consumed as the component
    * label and projected away).
    */
  private def freshName(base: String, taken: Array[String]): String =
    (Iterator(base) ++ Iterator.from(0).map(i => s"$base$i"))
      .find(n => !taken.contains(n)).get

  /** docs + component label (own id for unmatched docs) under `comp`,
    * ghost-id-grounded as documented on [[canonicalize]].
    */
  private def labelComponents(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      aCol: String,
      bCol: String,
      comp: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    // "component" could shadow a caller column after the join; project
    // the cc side to fresh names before joining.
    val compIn = freshName("__component", docs.columns)
    docs
      .join(
        cc.select(col("id").as(idCol), col("component").as(compIn)),
        Seq(idCol), "left")
      .withColumn(comp, coalesce(col(compIn), col(idCol)))
      .drop(compIn)
  }
}
