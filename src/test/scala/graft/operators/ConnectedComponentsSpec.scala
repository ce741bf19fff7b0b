package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side union-find reference. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("matches union-find on a random graph (multiple components)") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300) {
      // Three disjoint id ranges -> guaranteed >= 3 components.
      val block = rnd.nextInt(3) * 1000L
      (block + rnd.nextInt(40), block + rnd.nextInt(40))
    }.filter(e => e._1 != e._2)
    val got = ConnectedComponents
      .connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    val want = unionFind(0, edges)
    assert(got == want)
    // Component labels are the component minimum.
    got.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.keys.min == comp)
    }
    // the same graph through the FORCED distributed alternation: the
    // driver fast path is a latency knob, never a semantics knob
    val (distributedCc, rounds) = ConnectedComponents
      .componentsWithRounds(edges.toDF("src", "dst"), driverSolveMax = 0)
    val distributed = distributedCc.as[(Long, Long)].collect().toMap
    assert(distributed == got)
    assert(rounds > 0)
  }

  test("driver solve fires at the bar (inclusive) and reports zero rounds") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (1L, 1L), (9L, 9L))
    // 3 distinct oriented non-self-loop edges: bar 3 takes the driver
    // path (<= is inclusive), bar 2 forces the alternation — identical
    // answers, self-loop-only node 9 a singleton on both
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L)
    val (atBarCc, atBarRounds) = ConnectedComponents
      .componentsWithRounds(edges.toDF("src", "dst"), driverSolveMax = 3)
    val atBar = atBarCc.as[(Long, Long)].collect().toMap
    assert(atBar == want && atBarRounds == 0)
    val (belowCc, belowRounds) = ConnectedComponents
      .componentsWithRounds(edges.toDF("src", "dst"), driverSolveMax = 2)
    val below = belowCc.as[(Long, Long)].collect().toMap
    assert(below == want && belowRounds > 0)
  }

  test("the driver solve is reached in at most 2 jobs") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (1L, 1L), (9L, 9L)).toDF("src", "dst")
    val ((cc, rounds), jobs) = jobsDuring(ConnectedComponents.componentsWithRounds(edges))
    assert(rounds == 0 && jobs <= 2, s"$rounds rounds, $jobs jobs")
    assert(cc.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("converges on a 1000-node chain (worst-case diameter)") {
    // driverSolveMax = 0 throughout: this spec measures the
    // DISTRIBUTED alternation's round counts
    val edges = (1L until 1000L).map(i => (i, i + 1))
    val (gotCc, withJump) = ConnectedComponents
      .componentsWithRounds(edges.toDF("src", "dst"), driverSolveMax = 0)
    val got = gotCc.as[(Long, Long)].collect().toMap
    assert(got.size == 1000 && got.values.forall(_ == 1L))

    // same chain without pointer jumping: the pure alternating-star
    // schedule (the pre-jump baseline, ~2x contraction per round)
    val noJump = {
      val (cc, rounds) = ConnectedComponents
        .componentsWithRounds(edges.toDF("src", "dst"), jumpSteps = 0,
          driverSolveMax = 0)
      val r = cc.as[(Long, Long)].collect().toMap
      assert(r == got) // identical labeling either way
      rounds
    }
    // path halving contracts ~4x per round vs ~2x: the adversarial
    // diameter case must finish in at most half the rounds
    assert(withJump * 2 <= noJump,
      s"pointer jumping did not halve the rounds: $withJump vs $noJump")
  }

  test("empty edge set yields empty result") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(ConnectedComponents.connectedComponents(empty).isEmpty)
  }

  test("self-loops and duplicate/reversed pairs are tolerated") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 3L), (9L, 9L)).toDF("src", "dst")
    val got = ConnectedComponents.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
  }

  test("canonicalize keeps one survivor per cluster, singletons canonical") {
    val docs = (1L to 8L).toDF("doc_id")
    val pairs = Seq((2L, 5L), (5L, 7L), (3L, 4L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.canonicalize(docs, pairs, "doc_id")
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    val want = Seq(
      (1L, 1L, 1L, 1), (2L, 2L, 3L, 1), (3L, 3L, 2L, 1), (4L, 3L, 2L, 0),
      (5L, 2L, 3L, 0), (6L, 6L, 1L, 1), (7L, 2L, 3L, 0), (8L, 8L, 1L, 1))
    assert(got.toSeq == want)
    // Keeping is_canonical rows dedups to one doc per cluster.
    assert(got.count(_._4 == 1) == 5)
  }

  test("canonicalize grounds cluster_id in docs when pairs carry ghost ids") {
    // pairs computed on a superset corpus: id 0 was since deleted from
    // docs, yet the (0,2),(2,5) component must still elect a real
    // survivor — min DOC id 2 — not ghost label 0 (which would strand
    // the cluster with no canonical row at all)
    val docs = Seq(2L, 3L, 5L).toDF("doc_id")
    val pairs = Seq((0L, 2L), (2L, 5L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.canonicalize(docs, pairs, "doc_id")
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    val want = Seq((2L, 2L, 2L, 1), (3L, 3L, 1L, 1), (5L, 2L, 2L, 0))
    assert(got.toSeq == want)
    // every cluster has exactly one canonical member
    assert(got.groupBy(_._2).forall { case (_, rows) => rows.count(_._4 == 1) == 1 })
  }

  test("canonicalizeBy elects the best-scored member; ties fall to least id") {
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (5L, 0.9), (7L, 0.1), // cluster {2,5,7}: tie 2 vs 5 -> 2
      (3L, 0.1), (4L, 0.8))                       // cluster {3,4}: 4 wins on score
      .toDF("doc_id", "quality")
    val pairs = Seq((2L, 5L), (5L, 7L), (3L, 4L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.canonicalizeBy(docs, pairs, "doc_id", "quality")
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    val want = Seq(
      (1L, 1L, 1L, 1), (2L, 2L, 3L, 1), (3L, 3L, 2L, 0), (4L, 3L, 2L, 1),
      (5L, 2L, 3L, 0), (7L, 2L, 3L, 0))
    assert(got.toSeq == want)
    // cluster labels agree with the min-id policy; only survivors differ
    val minId = ConnectedComponents.canonicalize(docs, pairs, "doc_id")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(got.forall { case (id, cid, _, _) => minId(id) == cid })
  }

  test("canonicalizeBy keeps ghost-id grounding: survivor elected among real docs") {
    val docs = Seq((2L, 0.1), (3L, 0.5), (5L, 0.9)).toDF("doc_id", "quality")
    val pairs = Seq((0L, 2L), (2L, 5L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.canonicalizeBy(docs, pairs, "doc_id", "quality")
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((2L, 2L, 2L, 0), (3L, 3L, 1L, 1), (5L, 2L, 2L, 1)))
  }

  test("canonicalizers refuse docs already carrying an output column") {
    // re-clustering a previous run's output without dropping its labels
    // would silently overwrite them — the contract is a loud error
    val pairs = Seq((2L, 5L)).toDF("id_a", "id_b")
    val relabeled = Seq((2L, 9L), (5L, 9L)).toDF("doc_id", "cluster_id")
    val e1 = intercept[IllegalArgumentException] {
      ConnectedComponents.canonicalize(relabeled, pairs, "doc_id")
    }
    assert(e1.getMessage.contains("cluster_id"))
    val e2 = intercept[IllegalArgumentException] {
      ConnectedComponents.canonicalizeBy(
        Seq((2L, 0.1, 1), (5L, 0.2, 0)).toDF("doc_id", "quality", "is_canonical"),
        pairs, "doc_id", "quality")
    }
    assert(e2.getMessage.contains("is_canonical"))
  }

  test("internal label/election names never collide with caller columns") {
    // a docs frame that already carries __comp / __component / __best
    // (plausible leftovers of other tooling) must ride through as DATA —
    // the fresh-name scan keeps the operator's internals off them
    val docs = Seq(
      (2L, "x", 7L, 0.3), (5L, "y", 8L, 0.9), (9L, "z", 9L, 0.1))
      .toDF("doc_id", "__comp", "__component", "quality")
      .withColumn("__best", $"quality" * 2)
    val pairs = Seq((2L, 5L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.canonicalizeBy(docs, pairs, "doc_id", "quality")
      .select("doc_id", "__comp", "__component", "__best", "cluster_id", "is_canonical")
      .as[(Long, String, Long, Double, Long, Int)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (2L, "x", 7L, 0.6, 2L, 0), (5L, "y", 8L, 1.8, 2L, 1), (9L, "z", 9L, 0.2, 9L, 1)))
    val gotMin = ConnectedComponents.canonicalize(docs, pairs, "doc_id")
      .select("doc_id", "__comp", "cluster_id", "is_canonical")
      .as[(Long, String, Long, Int)].collect().sortBy(_._1)
    assert(gotMin.toSeq == Seq((2L, "x", 2L, 1), (5L, "y", 2L, 0), (9L, "z", 9L, 1)))
  }
}
