package graft.streaming

import graft.SparkSpec
import graft.operators.{IvfCentroids, IvfIndex, LineDedup, LineFreqIndex, LshIndex, Quantiles}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.length

/** The contract of [[GateState]], the one fold behind the eight stateful
  * gates (NearDup, EmbeddingDup, FingerprintDup/HammingDup, Span,
  * Boilerplate, Manifest, Hist, Binned): every N batches a gate writes
  * its live state as a complete self-contained artifact and reopens the
  * newest via its `latestCheckpoint`. Here: for the Boilerplate, NearDup
  * and EmbeddingDup gates, that the reopened artifact IS the live index
  * (row-for-row), so a restart seeded from it continues the exact
  * corpus-so-far state; that a gate restarted on the same path numbers
  * its artifacts on from the newest one there; and that an index gate
  * releases each state it superseded but never the caller's initial
  * index. Each other gate's spec checks its own artifact.
  */
class GateCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")
  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("BoilerplateGate checkpoint artifact == live index; latest reopens") {
    val seg = LineDedup.WordChunkSegments(3)
    val ckpt = java.nio.file.Files.createTempDirectory("line_ckpt").toString
    assert(BoilerplateGate.latestCheckpoint(spark, ckpt).isEmpty)
    val gate = new BoilerplateGate.Gate(
      LineFreqIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text", seg),
      "doc_id", "text", maxDocFreq = 8,
      checkpointPath = Some(ckpt), checkpointEvery = 2)
    (1 to 3).foreach(k => gate.filterBatch(docs.filter($"doc_id" % 4 === k)).count())
    assert(gate.lastCheckpoint.exists(_.endsWith("line_index_2")))
    val reopened = BoilerplateGate.latestCheckpoint(spark, ckpt).get
    // the artifact is the index as of batch 2 — compare against a direct
    // build over initial + batches 1..2 (append == build is spec-pinned
    // for this family, so entry parity is the whole-state check)
    val direct = LineFreqIndex.build(
      docs.filter($"doc_id" % 4 === 0 || $"doc_id" % 4 === 1 || $"doc_id" % 4 === 2),
      "doc_id", "text", seg)
    def ents(ix: DataFrame) = ix.filter($"kind" === LineFreqIndex.EntryKind)
      .select($"seg", $"df").as[(String, Long)].collect().toSet
    assert(LineFreqIndex.readMeta(reopened).nDocs == LineFreqIndex.readMeta(direct).nDocs)
    assert(ents(reopened) == ents(direct))
  }

  test("NearDupGate checkpoint artifact == live index at the checkpointed batch") {
    val ckpt = java.nio.file.Files.createTempDirectory("lsh_ckpt").toString
    assert(NearDupGate.latestCheckpoint(spark, ckpt).isEmpty)
    var indexAt2: Set[(Option[Long], Int, Option[String])] = null
    val gate = new NearDupGate.Gate(
      LshIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text"),
      "doc_id", "text", threshold = 0.8,
      checkpointPath = Some(ckpt), checkpointEvery = 2)
    (1 to 3).foreach { k =>
      gate.filterBatch(docs.filter($"doc_id" % 4 === k)).count()
      if (k == 2) indexAt2 = rowsOf(gate.currentIndex)
    }
    assert(gate.lastCheckpoint.exists(_.endsWith("lsh_index_2")))
    val reopened = NearDupGate.latestCheckpoint(spark, ckpt).get
    assert(rowsOf(reopened) == indexAt2) // bit-for-bit the live state when written
  }

  test("EmbeddingDupGate checkpoint artifact == live index at the checkpointed batch") {
    val ckpt = java.nio.file.Files.createTempDirectory("ivf_ckpt").toString
    assert(EmbeddingDupGate.latestCheckpoint(spark, ckpt).isEmpty)
    var indexAt2: Set[(Option[Long], Int, Option[Int])] = null
    val gate = new EmbeddingDupGate.Gate(
      IvfIndex.build(emb.filter($"vec_id" % 4 === 0), "vec_id", "embedding",
        IvfCentroids.centroids),
      "vec_id", "embedding", threshold = 0.98,
      checkpointPath = Some(ckpt), checkpointEvery = 2)
    (1 to 3).foreach { k =>
      gate.filterBatch(emb.filter($"vec_id" % 4 === k)).count()
      if (k == 2) indexAt2 = ivfRowsOf(gate.currentIndex)
    }
    assert(gate.lastCheckpoint.exists(_.endsWith("ivf_index_2")))
    val reopened = EmbeddingDupGate.latestCheckpoint(spark, ckpt).get
    assert(ivfRowsOf(reopened) == indexAt2)
  }

  test("a gate restarted on the same path numbers on from the newest artifact") {
    val hists = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"lang", length($"text").cast("long").as("len"))
    val ckpt = java.nio.file.Files.createTempDirectory("restart_ckpt").toString
    def batch(k: Int) = hists.filter($"len" % 4 === k)
    val first = new HistGate.Gate(Quantiles.histIndex(batch(0), "lang", "len"), "lang", "len",
      checkpointPath = Some(ckpt), checkpointEvery = 1)
    first.accountBatch(batch(1))
    first.accountBatch(batch(2))
    assert(first.lastCheckpoint.exists(_.endsWith("hist_2")))

    val restarted = new HistGate.Gate(HistGate.latestCheckpoint(spark, ckpt).get, "lang", "len",
      checkpointPath = Some(ckpt), checkpointEvery = 1)
    restarted.accountBatch(batch(3))
    assert(restarted.lastCheckpoint.exists(_.endsWith("hist_3")))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(HistGate.latestCheckpoint(spark, ckpt).get) == rows(restarted.currentHist))
  }

  test("an index gate releases every state it superseded, never the caller's initial index") {
    // a pinned seed of the kind the fold releases, held by this test alone
    val initial = LshIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text")
      .localCheckpoint()
    val seed = persistedUnder(initial)
    val gate = new NearDupGate.Gate(initial, "doc_id", "text", threshold = 0.8)
    val states = (1 to 3).map { k =>
      gate.filterBatch(docs.filter($"doc_id" % 4 === k)).count()
      persistedUnder(gate.currentIndex)
    }
    assert(states.forall(_.nonEmpty), s"every state is pinned: $states")
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(states.last.subsetOf(live))
    assert(states.init.flatten.filter(live.contains).isEmpty,
      s"superseded states still persisted: ${states.init}")
    assert(seed.nonEmpty && seed.subsetOf(live), "the caller's initial index was released")
  }

  /** Ids of the persisted RDDs `df` reads from. */
  private def persistedUnder(df: DataFrame): Set[Int] = {
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    def walk(r: RDD[_]): Set[Int] =
      r.dependencies.map(d => walk(d.rdd)).foldLeft(Set(r.id).filter(persisted))(_ ++ _)
    walk(df.rdd)
  }

  private def rowsOf(ix: DataFrame): Set[(Option[Long], Int, Option[String])] =
    ix.select($"doc_id", $"band", $"bucket")
      .as[(Option[Long], Int, Option[String])].collect().toSet

  private def ivfRowsOf(ix: DataFrame): Set[(Option[Long], Int, Option[Int])] =
    ix.select($"vec_id", $"cell",
        org.apache.spark.sql.functions.size($"vec").as("x"))
      .as[(Option[Long], Int, Option[Int])].collect().toSet
}
