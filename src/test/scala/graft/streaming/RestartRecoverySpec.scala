package graft.streaming

import graft.SparkSpec
import graft.operators.{LineDedup, LineFreqIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import scala.collection.mutable

/** Checkpoint-restart recovery for the streaming gate patterns (r8
  * VERDICT ask #6). The six gates pin per-batch equivalence, but
  * production streaming breaks at RESTART: a query dies, a new process
  * starts from the same `checkpointLocation`, and the question is
  * whether the corpus-so-far invariant still holds — (a) the file
  * source must NOT re-deliver committed batches (or the append sink
  * double-writes and append-style indexes double-count), and (b) for
  * the frequency-append gates, whose grown index is IN-MEMORY state
  * that dies with the process, the documented recovery recipe —
  * rebuild the index from the durable raw inputs — must actually
  * reproduce the state the dead gate had. One spec per pattern:
  * frequency-append ([[BoilerplateGate]], standing in for the
  * Span/NearDup/EmbeddingDup gates that share the probe-then-append
  * shape) and stateless ([[DecontaminationGate]]).
  */
class RestartRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")

  test("frequency-append gate: kill after two batches, rebuild index, restart from checkpoint") {
    val seg = LineDedup.WordChunkSegments(3)
    val bar = 8L
    val initial = docs.filter($"doc_id" % 5 === 0)
    def slice(k: Int) = docs.filter($"doc_id" % 5 === k)

    val root = java.nio.file.Files.createTempDirectory("gate_restart").toString
    val ckpt = s"$root/ckpt"

    // capture every processed batch's ids + gate output across BOTH runs
    val batchIds = mutable.ArrayBuffer.empty[Set[Long]]
    val outputs = mutable.ArrayBuffer.empty[Set[(Long, String, Long, Long)]]
    def run(gate: BoilerplateGate.Gate): Unit = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in/*/")
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val b = batch.localCheckpoint()
            batchIds += b.select("doc_id").as[Long].collect().toSet
            outputs += gate.filterBatch(b)
              .as[(Long, String, Long, Long)].collect().toSet
          }
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(180000) finally q.stop()
    }

    // run 1: batches 1 and 2 commit, then the process "dies" (the gate's
    // grown in-memory index is gone with it)
    (1 to 2).foreach(k => slice(k).coalesce(1).write.parquet(s"$root/in/b$k.parquet"))
    run(new BoilerplateGate.Gate(
      LineFreqIndex.build(initial, "doc_id", "text", seg), "doc_id", "text", bar))
    assert(batchIds.size == 2, s"expected 2 committed batches, saw ${batchIds.size}")

    // recovery per the documented contract: the index is a pure fold of
    // append over raw batches and disjoint-doc counts add, so rebuild it
    // from the DURABLE inputs of the committed prefix — nothing from the
    // dead gate's memory
    val recovered = LineFreqIndex.build(
      initial.unionAll(slice(1)).unionAll(slice(2)), "doc_id", "text", seg)

    // run 2: two new files arrive; the restarted query must process ONLY
    // them (checkpoint suppresses re-delivery of b1/b2)
    (3 to 4).foreach(k => slice(k).coalesce(1).write.parquet(s"$root/in/b$k.parquet"))
    val gate2 = new BoilerplateGate.Gate(recovered, "doc_id", "text", bar)
    run(gate2)
    assert(batchIds.size == 4, s"expected 4 batches total, saw ${batchIds.size}")
    // no re-delivery: the four batches partition the four slices exactly
    assert(batchIds.map(_.size).sum == (1 to 4).map(slice(_).count()).sum)
    assert(batchIds.reduce(_ ++ _) == (1 to 4).map(slice(_)).reduce(_ unionAll _)
      .select("doc_id").as[Long].collect().toSet)

    // corpus-so-far invariant ACROSS the restart: every batch's output
    // (both runs) equals the one-shot dedupLines over initial + all raw
    // batches delivered so far, restricted to that batch
    var corpus = initial
    val replay = batchIds.map { ids =>
      val batch = docs.filter($"doc_id".isin(ids.toSeq: _*))
      corpus = corpus.unionAll(batch).localCheckpoint()
      LineDedup.dedupLines(corpus, "doc_id", "text", seg, bar)
        .join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
        .as[(Long, String, Long, Long)].collect().toSet
    }
    assert(outputs.toSeq == replay.toSeq)
    // the gate actually filtered something post-restart, or this proves nothing
    assert(outputs.drop(2).flatten.exists(r => r._4 < r._3))

    // and the restarted gate's grown index agrees with a direct build
    // over the full corpus — state fully reconstructed, then grown right
    val direct = LineFreqIndex.build(corpus, "doc_id", "text", seg)
    assert(LineFreqIndex.readMeta(gate2.currentIndex).nDocs == corpus.count())
    def ents(ix: DataFrame) = ix.filter($"kind" === LineFreqIndex.EntryKind)
      .select($"seg", $"df").as[(String, Long)].collect().toSet
    assert(ents(gate2.currentIndex) == ents(direct))
  }

  test("state-store gate: dropDuplicatesWithinWatermark state survives restart — post-restart duplicates of pre-restart events still drop") {
    // The exact interplay r8 VERDICT #6 named: EventOps.dedupStream keeps
    // its seen-keys state in Spark's state store, which (unlike the
    // frequency gates' in-memory indexes) is CHECKPOINTED — so a
    // duplicate arriving AFTER a restart, of an event committed BEFORE
    // it, must still be dropped with zero caller-side reconstruction.
    val root = java.nio.file.Files.createTempDirectory("dedup_restart").toString
    // the legacy conf goes on a session of this test's own: the shared
    // test session stays unmutated
    val nanos = spark.newSession()
    nanos.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = nanos.read.parquet("/root/testdata/sf0.001/events.parquet")
    val events = (raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", $"ts".cast("timestamp"))
        case _ => raw
      }).select("event_id", "ts", "user_id", "event_type", "value")
    val first = events.filter($"event_id" < 200)
    val dupsAndNew = first.limit(100).unionAll( // re-deliveries of run-1 events
      events.filter($"event_id" >= 200 && $"event_id" < 300))

    def run(): Unit = {
      val stream = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in/*/")
      val q = EventOps.dedupStream(stream, Seq("event_id"), watermarkDelay = "2 hours")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .format("parquet").option("path", s"$root/out")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
    }

    first.coalesce(1).write.parquet(s"$root/in/a.parquet")
    run() // events < 200 committed; process "dies"
    dupsAndNew.coalesce(1).write.parquet(s"$root/in/b.parquet")
    run() // restart: the 100 re-delivered events must NOT re-emit

    val out = spark.read.parquet(s"$root/out")
    assert(out.groupBy("event_id").count().filter($"count" > 1).isEmpty)
    assert(out.select("event_id").as[Long].collect().toSet ==
      events.filter($"event_id" < 300).select("event_id").as[Long].collect().toSet)
  }

  test("stateless gate: restart from checkpoint resumes cleanly with zero reconstruction") {
    val bench = docs.filter($"doc_id" % 97 === 0)
    val train = docs.filter($"doc_id" % 97 =!= 0)
    val grams = DecontaminationGate.benchGramSet(bench, "text", n = 13)

    val root = java.nio.file.Files.createTempDirectory("decon_restart").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in/*/")
      val q = DecontaminationGate.withStats(stream, "text", 13, grams)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .format("parquet").option("path", s"$root/out")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
    }

    (0 to 1).foreach(k => train.filter($"doc_id" % 3 === k).coalesce(1)
      .write.parquet(s"$root/in/b$k.parquet"))
    run() // "crash" after committing b0/b1
    train.filter($"doc_id" % 3 === 2).coalesce(1).write.parquet(s"$root/in/b2.parquet")
    run() // restart: nothing to rebuild — the kernel closes over frozen grams

    // exactly-once across the restart (no re-delivery, no loss), and the
    // union of both runs' output equals the batch operator on all docs
    val out = spark.read.parquet(s"$root/out")
    assert(out.groupBy("doc_id").count().filter($"count" > 1).isEmpty)
    val got = out
      .select($"doc_id", $"total_ngrams", $"overlap_ngrams", org.apache.spark.sql.functions.round($"contamination", 9))
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = DecontaminationGate.withStats(train, "text", 13, grams)
      .select($"doc_id", $"total_ngrams", $"overlap_ngrams", org.apache.spark.sql.functions.round($"contamination", 9))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == want && got.nonEmpty)
  }
}
