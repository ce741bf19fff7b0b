package graft.streaming

import graft.SparkSpec
import graft.operators.{IvfCentroids, IvfIndex}
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** End-to-end pin of the streaming embedding near-dup gate: vectors
  * streamed through [[EmbeddingDupGate]] batch-by-batch keep exactly the
  * survivors of a sequential replay of [[IvfIndex.dedupAgainst]] over
  * the same batch sequence — and because [[IvfIndex.append]] is exact,
  * the replay rebuilds its index fresh each step, pinning the gate's
  * append path against the build path at the same time.
  */
class EmbeddingDupGateSpec extends SparkSpec {
  import spark.implicits._

  test("stream through the gate == sequential batch dedupAgainst replay") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val initial = emb.filter($"vec_id" % 4 === 0)

    val dir = java.nio.file.Files.createTempDirectory("embdup_gate").toString
    (1 to 3).foreach { k =>
      emb.filter($"vec_id" % 4 === k).coalesce(1)
        .write.parquet(s"$dir/in/b$k.parquet")
    }

    val gate = new EmbeddingDupGate.Gate(
      IvfIndex.build(initial, "vec_id", "embedding", IvfCentroids.centroids),
      "vec_id", "embedding", threshold = 0.35, nProbe = 4)
    val batches = mutable.ArrayBuffer.empty[Set[Long]]
    val survived = mutable.ArrayBuffer.empty[Set[Long]]
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*/")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.localCheckpoint()
          batches += b.select("vec_id").as[Long].collect().toSet
          survived += gate.filterBatch(b).select("vec_id").as[Long].collect().toSet
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination(180000) finally q.stop()

    assert(batches.size == 3, s"expected 3 micro-batches, saw ${batches.size}")

    // sequential replay, index rebuilt FRESH each step (valid because
    // append is exact): same survivors required
    var kept = initial
    val replay = batches.map { ids =>
      val batch = emb.filter($"vec_id".isin(ids.toSeq: _*))
      val idx = IvfIndex.build(kept, "vec_id", "embedding", IvfCentroids.centroids)
      val surv = IvfIndex.dedupAgainst(
        idx, batch, "vec_id", "embedding", threshold = 0.35, nProbe = 4)
        .localCheckpoint()
      idx.unpersist()
      kept = kept.unionAll(surv)
      surv.select("vec_id").as[Long].collect().toSet
    }
    assert(survived.toSeq == replay.toSeq)
    assert(survived.exists(_.nonEmpty))
    // the gate dropped something, or this spec proves nothing
    assert((batches.flatten.toSet -- survived.flatten.toSet).nonEmpty)

    // the grown index agrees with the grown corpus
    val (meta, _) = IvfIndex.readMeta(gate.currentIndex)
    assert(meta.nDocs == kept.count())
  }

  test("a gate micro-batch re-reads no meta row: two jobs fewer than the public-call replay, same ids") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val initial = emb.filter($"vec_id" % 4 === 0)
    val batch = emb.filter($"vec_id" % 4 =!= 0).localCheckpoint()
    def build() = IvfIndex.build(initial, "vec_id", "embedding", IvfCentroids.centroids)

    val gate = new EmbeddingDupGate.Gate(build(), "vec_id", "embedding",
      threshold = 0.35, nProbe = 4)
    val (gated, gateJobs) = jobsDuring(gate.filterBatch(batch))

    // the same micro-batch through the public calls the gate is made of
    // (each of which reads the index's meta row)
    val ix = build()
    val (replayed, replayJobs) = jobsDuring {
      val survivors = IvfIndex.dedupAgainst(ix, batch, "vec_id", "embedding",
        threshold = 0.35, nProbe = 4).localCheckpoint()
      val appended = IvfIndex.append(ix, survivors, "vec_id", "embedding")
      appended.localCheckpoint()
      appended.unpersist()
      survivors
    }
    assert(gateJobs == replayJobs - 2, s"gate $gateJobs jobs, replay $replayJobs")
    val ids = (df: DataFrame) => df.select("vec_id").as[Long].collect().toSet
    assert(ids(gated) == ids(replayed))
    assert(ids(gated).nonEmpty && ids(gated).size < batch.count())
    assert(IvfIndex.readMeta(gate.currentIndex)._1.nDocs ==
      IvfIndex.readMeta(ix)._1.nDocs + ids(gated).size)
  }
}
