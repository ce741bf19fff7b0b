package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.{HammingIndex, SimHashIndex}

/** The generic fingerprint gate's batch-equivalence contract: streaming
  * micro-batches of precomputed hashes through the gate equals a
  * sequential grow-as-you-go [[HammingIndex.dedupAgainst]] replay over
  * an index REBUILT from the kept corpus at every step (also pinning
  * append against build).
  */
class FingerprintDupGateSpec extends SparkSpec {
  import spark.implicits._

  // groups of 4 consecutive ids share a base pattern; the id%4 variant
  // puts batch 1 within distance 1 of the initial corpus (dropped),
  // batch 2 at distance 2 (survives), and batch 3 at distance 3 of the
  // INITIAL rows but distance 1 of batch 2's survivors — dropped only
  // because the gate grew, which is the grow-as-you-go property under test
  private def hashOf(i: Long): Long =
    ((i / 4) * 0x0101010101010101L) ^ (i % 4 match {
      case 0 => 0L
      case 1 => 1L
      case 2 => 3L
      case _ => 7L
    })

  test("stream through the gate == sequential rebuild-and-dedupAgainst replay; checkpoint contract") {
    val all = (0L until 400L).map(i => (i, hashOf(i))).toDF("id", "h")
    val initial = all.filter($"id" % 4 === 0)

    val dir = java.nio.file.Files.createTempDirectory("fp_gate").toString
    (1 to 3).foreach { k =>
      all.filter($"id" % 4 === k).coalesce(1).write.parquet(s"$dir/in/b$k.parquet")
    }

    val gate = new FingerprintDupGate.Gate(
      HammingIndex.build(initial, "id", "h"), "id", "h",
      maxDistance = 1,
      checkpointPath = Some(s"$dir/ckpt"), checkpointEvery = 3)
    val batches = mutable.ArrayBuffer.empty[Set[Long]]
    val survived = mutable.ArrayBuffer.empty[Set[Long]]
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*/")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.localCheckpoint()
          batches += b.select("id").as[Long].collect().toSet
          survived += gate.filterBatch(b).select("id").as[Long].collect().toSet
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination(180000) finally q.stop()

    assert(batches.size == 3, s"expected 3 micro-batches, saw ${batches.size}")

    var kept = initial
    val replay = batches.map { ids =>
      val batch = all.filter($"id".isin(ids.toSeq: _*))
      val ix = HammingIndex.build(kept, "id", "h")
      val surv = HammingIndex.dedupAgainst(ix, batch, "id", "h", maxDistance = 1)
        .localCheckpoint()
      ix.unpersist()
      kept = kept.unionAll(surv)
      surv.select("id").as[Long].collect().toSet
    }
    assert(survived.toSeq == replay.toSeq)
    assert(survived.exists(_.nonEmpty))
    assert((batches.flatten.toSet -- survived.flatten.toSet).nonEmpty,
      "the gate dropped something, or this spec proves nothing")
    assert(HammingIndex.readMeta(gate.currentIndex).nDocs == kept.count())

    // checkpoint artifact at batch 3 reopens and holds the kept corpus
    assert(gate.lastCheckpoint.exists(_.endsWith("hamming_index_3")))
    val reopened = FingerprintDupGate.latestCheckpoint(spark, s"$dir/ckpt")
    assert(reopened.isDefined)
    val ckptIds = reopened.get.filter($"seg" === HammingIndex.DocSeg)
      .select("id").as[Long].collect().toSet
    assert(ckptIds == kept.select("id").as[Long].collect().toSet)
  }

  test("a column of the wrong kind for the index family fails typed, gate or direct call") {
    val docs = Seq((1L, 5L, "red fox jumps"), (2L, 6L, "blue fox sleeps")).toDF("id", "h", "text")
    val hamming = HammingIndex.build(docs, "id", "h")
    val simhash = SimHashIndex.build(docs, "id", "text")
    val textIntoHamming = intercept[IllegalArgumentException] {
      new FingerprintDupGate.Gate(hamming, "id", "text").filterBatch(docs)
    }
    assert(textIntoHamming.getMessage.contains("integral fingerprint column"))
    val hashIntoSimHash = intercept[IllegalArgumentException] {
      new HammingDupGate.Gate(simhash, "id", "h").filterBatch(docs)
    }
    assert(hashIntoSimHash.getMessage.contains("string text column"))
    intercept[IllegalArgumentException] {
      HammingIndex.pairsAgainst(hamming, docs, "id", "text", 1)
    }
    intercept[IllegalArgumentException] {
      SimHashIndex.append(simhash, docs, "id", "h")
    }
  }

  test("a gate micro-batch re-reads no meta row: two jobs fewer than the public-call replay, same ids") {
    val all = (0L until 400L).map(i => (i, hashOf(i))).toDF("id", "h")
    val initial = all.filter($"id" % 4 === 0)
    val batch = all.filter($"id" % 4 =!= 0).localCheckpoint()

    val gate = new FingerprintDupGate.Gate(HammingIndex.build(initial, "id", "h"), "id", "h",
      maxDistance = 1)
    val (gated, gateJobs) = jobsDuring(gate.filterBatch(batch))

    // the same micro-batch through the public calls the gate is made of
    // (each of which reads the index's meta row)
    val ix = HammingIndex.build(initial, "id", "h")
    val (replayed, replayJobs) = jobsDuring {
      val survivors = HammingIndex.dedupAgainst(ix, batch, "id", "h", maxDistance = 1)
        .localCheckpoint()
      val appended = HammingIndex.append(ix, survivors, "id", "h")
      appended.localCheckpoint()
      appended.unpersist()
      survivors
    }
    assert(gateJobs == replayJobs - 2, s"gate $gateJobs jobs, replay $replayJobs")
    val ids = (df: DataFrame) => df.select("id").as[Long].collect().toSet
    assert(ids(gated) == ids(replayed))
    assert(ids(gated).nonEmpty && ids(gated).size < 300)
    assert(HammingIndex.readMeta(gate.currentIndex).nDocs == 100 + ids(gated).size)
  }
}
