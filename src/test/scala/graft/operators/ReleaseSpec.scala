package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one-call release turn (T80): composition equals the hand-chained
  * stages bit-for-bit, the shipped artifact reopens VERIFIED in a fresh
  * session, a lost split partition fails typed, and the mix default is
  * the exact identity.
  */
class ReleaseSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def train = docs.filter($"doc_id" % 97 =!= 0).select($"doc_id", $"lang", $"text")
  private def bench = docs.filter($"doc_id" % 97 === 0)

  private val params = Release.ReleaseParams(
    curation = Curation.CurationParams(
      minQuality = 0.0, maxRepetition = 1.0,
      lshThreshold = 0.6, maxContamination = 0.5,
      portableHash = true, minDocFreq = 0L),
    trainFrac = 0.8, valFrac = 0.1,
    leakageN = 13, maxOverlapNgrams = 100L, mixAlpha = 0.5)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/rel"

  test("release turn == the hand-chained stages, bit for bit") {
    val path = tmp("rel_chain")
    val res = Release.build(train, bench, "doc_id", "text", "lang", path, params)

    // the same stages composed by hand from the public operators
    val core = Curation.curateCore(train, bench, "doc_id", "text", params.curation)
    val split = Sampling.assignSplit(core.docs, "doc_id", 0.8, 0.1)
    val deLeaked = Contamination.removeSplitLeakage(split, "doc_id", "text", "split",
        maxOverlapNgrams = 100L)
    val mixed = Sampling.temperatureMix(
        deLeaked.filter($"split" === "train"), "doc_id", "lang", 0.5)
      .unionByName(deLeaked.filter($"split" =!= "train"))
    val want = mixed.join(
      Packing.packSequences(mixed, "doc_id", "text",
        params.curation.packBudget, params.curation.packShards),
      Seq("doc_id"))
    assert(res.docs.count() > 0, "fixture must release something")
    assert(res.docs.unionByName(want, allowMissingColumns = false)
      .count() == 2 * want.count())
    assert(res.docs.exceptAll(want.select(res.docs.columns.map(col): _*)).isEmpty &&
      want.select(res.docs.columns.map(col): _*).exceptAll(res.docs).isEmpty)
    // all three splits are represented and the manifest covers them
    val splits = res.docs.select("split").distinct().as[String].collect().toSet
    assert(splits == Set("train", "val", "test"))
    assert(res.manifest.select("split").as[String].collect().toSet == splits)
    res.unpersist(); core.unpersist()
  }

  test("fresh-session reopen: the shipped artifact reads back VERIFIED and bit-equal") {
    val path = tmp("rel_reopen")
    val res = Release.build(train, bench, "doc_id", "text", "lang", path, params)
    val shipped = res.docs.select($"doc_id", $"text", $"split").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

    val s2 = spark.newSession()
    val got = Release.open(s2, path, "doc_id", "text")
    assert(got.count() == shipped.size)
    assert(got.select("doc_id", "text", "split").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet == shipped)
    // the data card shipped next to it and reopens with the release langs
    val card = Release.openCard(s2, path)
    assert(card.columns.toSet ==
      Set("lang", "n_docs", "n_tokens", "distinct_tokens", "ttr", "quality_micro"))
    assert(card.count() > 0)
    res.unpersist()
  }

  test("a lost split partition fails typed, naming exactly that split") {
    val path = tmp("rel_lost")
    val res = Release.build(train, bench, "doc_id", "text", "lang", path, params)
    res.unpersist()
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmTree(java.nio.file.Paths.get(s"$path/data/split=val"))
    val e = intercept[IllegalArgumentException] {
      Release.open(spark.newSession(), path, "doc_id", "text")
    }
    assert(e.getMessage.contains("val=missing") && e.getMessage.contains("re-pull"))
    assert(!e.getMessage.contains("train="), "intact splits must not be named")
  }

  test("a tampered split (one row silently dropped and rewritten) fails typed as a mismatch") {
    // the adversarial case the lost-partition test does not cover: the
    // directory is still there, the files parse, the schema matches —
    // only the CONTENT changed (a partial re-upload, a truncated copy,
    // a well-meaning manual fix). The manifest's row hash must catch it
    // and name exactly the tampered split.
    val path = tmp("rel_tamper")
    val res = Release.build(train, bench, "doc_id", "text", "lang", path, params)
    res.unpersist()
    val valDir = s"$path/data/split=val"
    val valRows = spark.read.parquet(valDir)
    val dropId = valRows.select("doc_id").as[Long].head()
    val kept = valRows.filter($"doc_id" =!= dropId).collect()
    val schema = valRows.schema
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmTree(java.nio.file.Paths.get(valDir))
    spark.createDataFrame(java.util.Arrays.asList(kept: _*), schema)
      .write.parquet(valDir)
    val e = intercept[IllegalArgumentException] {
      Release.open(spark.newSession(), path, "doc_id", "text")
    }
    assert(e.getMessage.contains("val=mismatch") && e.getMessage.contains("re-pull"))
    assert(!e.getMessage.contains("train=") && !e.getMessage.contains("test="),
      "intact splits must not be named")
  }

  test("mix default alpha=1.0 is the exact identity on the train slice") {
    val path = tmp("rel_nomix")
    val res = Release.build(train, bench, "doc_id", "text", "lang", path,
      params.copy(mixAlpha = 1.0))
    // identity mix: the release holds exactly the de-leaked corpus
    val core = Curation.curateCore(train, bench, "doc_id", "text", params.curation)
    val want = Contamination.removeSplitLeakage(
      Sampling.assignSplit(core.docs, "doc_id", 0.8, 0.1), "doc_id", "text", "split",
      maxOverlapNgrams = 100L)
    assert(res.docs.count() == want.count())
    assert(res.docs.select("doc_id").exceptAll(want.select("doc_id")).isEmpty)
    res.unpersist(); core.unpersist()
  }

  test("mixMassCol (T97): build == hand-chain with temperatureMixByMass; exportPacked ships the same mass mix") {
    // the mass column is an input column: it rides curation, ships with
    // the release, and exportPacked reads it back from the verified corpus
    val massTrain = train.withColumn("mass",
      size(TextAnalysis.tokens($"text")).cast("long"))
    val p = params.copy(mixMassCol = Some("mass"))

    val path = tmp("rel_massmix")
    val res = Release.build(massTrain, bench, "doc_id", "text", "lang", path, p)
    val core = Curation.curateCore(massTrain, bench, "doc_id", "text", p.curation)
    val split = Sampling.assignSplit(core.docs, "doc_id", 0.8, 0.1)
    val deLeaked = Contamination.removeSplitLeakage(split, "doc_id", "text", "split",
      maxOverlapNgrams = 100L)
    val mixed = Sampling.temperatureMixByMass(
        deLeaked.filter($"split" === "train"), "doc_id", "lang", "mass", 0.5)
      .unionByName(deLeaked.filter($"split" =!= "train"))
    val want = mixed.join(
      Packing.packSequences(mixed, "doc_id", "text",
        p.curation.packBudget, p.curation.packShards),
      Seq("doc_id"))
    assert(res.docs.count() > 0, "fixture must release something")
    assert(res.docs.exceptAll(want.select(res.docs.columns.map(col): _*)).isEmpty &&
      want.select(res.docs.columns.map(col): _*).exceptAll(res.docs).isEmpty,
      "mass-budgeted release must equal the hand-chained mass mix bit-for-bit")
    // the knob actually changes the composition on this fixture (a
    // count-budgeted release of the same inputs keeps a different set)
    val countRes = Release.build(massTrain, bench, "doc_id", "text", "lang",
      tmp("rel_countmix"), params)
    assert(res.docs.select("doc_id").exceptAll(countRes.docs.select("doc_id")).count() +
      countRes.docs.select("doc_id").exceptAll(res.docs.select("doc_id")).count() > 0,
      "fixture must distinguish mass from count budgeting or it proves nothing")
    res.unpersist(); core.unpersist(); countRes.unpersist()

    // export parity: the incremental path's export-time mix uses the
    // SAME knob — exportPacked == open + temperatureMixByMass + pack
    val ipath = tmp("rel_massmix_inc")
    val st = Release.initIncremental(massTrain, bench, "doc_id", "text", "lang", ipath, p)
    val exported = Release.exportPacked(spark, ipath, "doc_id", "text", "lang", p)
    val corpus = Release.open(spark, ipath, "doc_id", "text")
    val mixedExp = Sampling.temperatureMixByMass(
        corpus.filter($"split" === "train"), "doc_id", "lang", "mass", 0.5)
      .unionByName(corpus.filter($"split" =!= "train"))
    val wantExp = mixedExp.join(
      Packing.packSequences(mixedExp, "doc_id", "text",
        p.curation.packBudget, p.curation.packShards),
      Seq("doc_id"))
    assert(exported.count() > 0)
    assert(exported.exceptAll(wantExp.select(exported.columns.map(col): _*)).isEmpty &&
      wantExp.select(exported.columns.map(col): _*).exceptAll(exported).isEmpty,
      "exportPacked must ship the mass mix under the same knob")
    st.unpersist()
  }

  test("incremental release lifecycle: accumulate verified, artifacts == rebuilds, cross-turn leak + dup dropped, restart = compaction") {
    val path = tmp("rel_inc")
    // pick plant ids BY SPLIT FATE (membership is a pure md5 function
    // of the id, so it can be precomputed): a turn-1 id landing in
    // val, and turn-2/turn-3 ids landing in train
    val fates = Sampling.assignSplit(
        spark.range(0L, 600L).toDF("doc_id"), "doc_id", 0.8, 0.1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val valId1 = (0L until 200L).find(fates(_) == "val").get
    val trainId2 = (200L until 400L).find(fates(_) == "train").get
    val trainId3 = (400L until 600L).find(fates(_) == "train").get
    val leak = "the secret benchmark passage that must never leak into training"
    // bulk texts are id-periodic strings: no 13-gram can be shared
    // across different ids (different periods) or with the leak text
    def bulk(i: Long) = s"${i}z" * 12
    def turnDocs(from: Long, until: Long, plants: Map[Long, String]) =
      (from until until).map(i => (i, plants.getOrElse(i, bulk(i)), "en"))
        .toDF("doc_id", "text", "lang")
    val bench = Seq((9999L, "benchmark body unrelated to all corpora", "en"))
      .toDF("doc_id", "text", "lang")
    // strict leak bar: the plants share ~16 grams with the val doc —
    // params' lax 100-gram bar would wave them through
    val p = params.copy(mixAlpha = 1.0, maxOverlapNgrams = 0L)

    val dupSourceId = (0L until 200L).find(i => i != valId1).get
    val st1 = Release.initIncremental(
      turnDocs(0L, 200L, Map(valId1 -> leak)), bench, "doc_id", "text", "lang", path, p)
    val turn2 = turnDocs(200L, 400L, Map(
      trainId2 -> ("only a fragment: the secret benchmark passage appears among " +
        "many otherwise unrelated words in this long ordinary crawl document " +
        "so near-dup dedup stays silent and the GRAM GATE is what must fire"),
      (if (trainId2 == 200L) 201L else 200L) -> bulk(dupSourceId))) // exact dup of a turn-1 doc
    val (st2, shipped2) = Release.appendTurn(st1, turn2, bench, "doc_id", "text", "lang", p)
    val shipped2Ids = shipped2.select("doc_id").as[Long].collect().toSet
    assert(!shipped2Ids.contains(trainId2),
      "a turn-2 train doc sharing grams with a turn-1 val doc must be dropped")
    assert(!shipped2Ids.contains(if (trainId2 == 200L) 201L else 200L),
      "an exact duplicate of a turn-1 doc must be dropped (first-arrived)")

    // the accumulated release reopens VERIFIED in a fresh session, and
    // the fold-maintained artifacts equal from-scratch rebuilds over it
    val s2 = spark.newSession()
    val all = Release.open(s2, path, "doc_id", "text")
    val reManifest = Manifest.build(all, "split", Seq("doc_id", "text"),
      length(col("text"))).collect().map(_.toSeq).toSet
    assert(s2.read.parquet(s"$path/manifest").collect().map(_.toSeq).toSet == reManifest,
      "fold-merged manifest must equal a from-scratch build over everything shipped")
    val reCard = TextAnalysis.dataCard(all, "text", "lang").collect().map(_.toSeq).toSet
    assert(s2.read.parquet(s"$path/card").collect().map(_.toSeq).toSet == reCard,
      "fold-appended card must equal the one-shot card over everything shipped")

    // restart (fresh session) = compaction rebuild; the reopened state
    // drives a third turn: the standing-eval leak plant is still
    // caught, and a near-dup of a SHIPPED turn-1 doc is still deduped
    val st3 = Release.reopenIncremental(s2, path, "doc_id", "text", p)
    val dupId3 = if (trainId3 == 400L) 401L else 400L
    val turn3 = {
      import s2.implicits._
      (400L until 600L).map { i =>
        (i,
          if (i == trainId3)
            "a later crawl mentions the secret benchmark passage in passing " +
              "within its own distinct surrounding text so only the reopened " +
              "gram artifact can catch it"
          else if (i == dupId3) bulk(dupSourceId)
          else bulk(i),
          "en")
      }.toDF("doc_id", "text", "lang")
    }
    val (st4, shipped3) = Release.appendTurn(st3, turn3, {
      import s2.implicits._
      Seq((9999L, "benchmark body unrelated to all corpora", "en"))
        .toDF("doc_id", "text", "lang")
    }, "doc_id", "text", "lang", p)
    val shipped3Ids = shipped3.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!shipped3Ids.contains(trainId3),
      "the reopened eval-gram artifact must still catch the leak")
    assert(!shipped3Ids.contains(dupId3),
      "a turn-3 copy of a shipped turn-1 doc must still dedup (rebuilt index)")
    assert(Release.open(s2.newSession(), path, "doc_id", "text").count() ==
      all.count() + shipped3.count(),
      "the third turn's delivery must reopen verified too")

    // export-time tail: mix+pack over the verified accumulated corpus
    val packed = Release.exportPacked(s2, path, "doc_id", "text", "lang", p)
    assert(packed.count() == all.count() + shipped3.count())
    assert(Seq("shard", "n_tokens", "token_start").forall(packed.columns.contains))
    st1.unpersist(); st2.unpersist(); st3.unpersist(); st4.unpersist()
  }

  test("pre-r12 raw-gram artifact migrates to hashed on reopen, in place (r13, ADVICE r12)") {
    val path = tmp("rel_legacy")
    val st1 = Release.initIncremental(
      train.filter($"doc_id" < 350), bench, "doc_id", "text", "lang", path, params)
    st1.unpersist()

    // forge the legacy artifact a pre-r12 build would have left: RAW
    // gram text rows under the same meta-row layout, derived from the
    // shipped val/test splits (exactly what the r12 artifact hashes)
    val shipped = Release.open(spark, path, "doc_id", "text")
    val legacy = spark.range(1).select(
        lit(Contamination.EvalGramMetaKind).as("kind"),
        lit(null).cast("string").as("gram"),
        lit(params.leakageN).as("n"))
      .unionByName(shipped.filter($"split" =!= "train")
        .select(explode(TextDedup.shinglesKernel($"text", params.leakageN)).as("gram"))
        .distinct()
        .select(lit(Contamination.EvalGramKind).as("kind"), $"gram",
          lit(null).cast("int").as("n")))
      .localCheckpoint() // pin before overwriting the dir it derives from
    legacy.write.mode("overwrite").parquet(s"$path/evalgrams")
    // the legacy schema fails typed outside the release lifecycle...
    intercept[IllegalArgumentException] {
      Contamination.overlapAgainst(
        spark.read.parquet(s"$path/evalgrams"), shipped, "doc_id", "text")
    }

    // ...and reopen migrates: the state carries the hashed rebuild,
    // bit-equal to evalGramIndex over the shipped val/test splits
    val s2 = spark.newSession()
    val st2 = Release.reopenIncremental(s2, path, "doc_id", "text", params)
    val want = Contamination.evalGramIndex(
        Release.open(s2, path, "doc_id", "text").filter(col("split") =!= "train"),
        "text", params.leakageN)
      .collect().map(_.toSeq).toSet
    assert(st2.evalGrams.collect().map(_.toSeq).toSet == want)
    // in place: direct consumers of $path/evalgrams work immediately
    assert(s2.read.parquet(s"$path/evalgrams").columns.contains("gram_hash"))
    // probed at the release's own bar (docs under it shipped legally)
    assert(Release.retroLeakageReport(
      s2, path, "doc_id", "text", params.maxOverlapNgrams).isEmpty)
    // and the next turn runs against the migrated state
    val (st3, shipped2) = Release.appendTurn(
      st2, train.filter($"doc_id" >= 350),
      bench, "doc_id", "text", "lang", params)
    assert(shipped2.count() > 0)
    st2.unpersist(); st3.unpersist()
  }

  test("retroactive leakage: a late eval doc fires the monitor; rebuildIfLeaky compacts and silences it (T89)") {
    val path = tmp("rel_retro")
    val fates = Sampling.assignSplit(
        spark.range(0L, 400L).toDF("doc_id"), "doc_id", 0.8, 0.1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainId1 = (0L until 200L).find(fates(_) == "train").get
    val evalId2 = (200L until 400L).find(fates(_) != "train").get
    val secret = "the secret passage shipped to training before evaluation existed"
    def bulk(i: Long) = s"${i}z" * 12
    def turnDocs(from: Long, until: Long, plants: Map[Long, String]) =
      (from until until).map(i => (i, plants.getOrElse(i, bulk(i)), "en"))
        .toDF("doc_id", "text", "lang")
    val bench = Seq((9999L, "benchmark body unrelated to all corpora", "en"))
      .toDF("doc_id", "text", "lang")
    val p = params.copy(mixAlpha = 1.0, maxOverlapNgrams = 0L)

    // turn 1: the secret ships as a TRAIN doc — no eval gram covers it
    // yet, so the turn's own gate and the monitor both stay silent
    val st1 = Release.initIncremental(
      turnDocs(0L, 200L, Map(trainId1 -> secret)), bench,
      "doc_id", "text", "lang", path, p)
    assert(Release.retroLeakageReport(spark, path, "doc_id", "text").isEmpty,
      "nothing is retroactively leaky before the late eval doc arrives")

    // turn 2: an EVAL doc quoting the passage arrives, EMBEDDED in a
    // long unrelated body (Jaccard stays under the LSH bar, so dedup
    // cannot drop it — the lifecycle spec's plant discipline); the
    // already-shipped train doc is now retroactively leaky, which the
    // turn itself never notices (first-arrived: shipped docs are not
    // revisited)
    val evalQuote = "an evaluation item later quotes " + secret +
      " inside a much longer surrounding prompt with plenty of additional " +
      "words keeping the shingle jaccard low so near dup dedup stays silent"
    val (st2, shipped2) = Release.appendTurn(
      st1, turnDocs(200L, 400L, Map(evalId2 -> evalQuote)), bench,
      "doc_id", "text", "lang", p)
    assert(shipped2.select("doc_id").as[Long].collect().toSet.contains(evalId2),
      "the quoting eval doc itself ships (eval rows are the reference)")

    // the monitor fires, naming exactly the shipped train doc — and it
    // is a REPORT: the delivery is untouched by running it
    val before = Release.open(spark.newSession(), path, "doc_id", "text").count()
    val report = Release.retroLeakageReport(spark, path, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("overlap_ngrams")).toMap
    assert(report.keySet == Set(trainId1), s"got $report")
    assert(report(trainId1) > 0L)
    assert(Release.open(spark.newSession(), path, "doc_id", "text").count() == before)

    // the closed loop: rebuildIfLeaky compacts the shipped corpus,
    // drops exactly the leaky doc, leaves a VERIFIED delivery whose
    // artifacts equal from-scratch rebuilds, and silences the monitor
    val (st3, dropped) = Release.rebuildIfLeaky(
      spark, path, "doc_id", "text", "lang", p)
    assert(dropped == 1L)
    val s2 = spark.newSession()
    val after = Release.open(s2, path, "doc_id", "text")
    assert(after.count() == before - 1)
    assert(!after.select("doc_id").collect().map(_.getLong(0)).contains(trainId1))
    assert(Release.retroLeakageReport(spark, path, "doc_id", "text").isEmpty,
      "the rebuild must silence the monitor")
    assert(s2.read.parquet(s"$path/manifest").collect().map(_.toSeq).toSet ==
      Manifest.build(after, "split", Seq("doc_id", "text"), length(col("text")))
        .collect().map(_.toSeq).toSet,
      "the rebuilt manifest must equal a from-scratch build over the compacted corpus")

    // a clean release rebuilds as the identity: reopen, zero dropped
    val (st4, dropped2) = Release.rebuildIfLeaky(
      spark, path, "doc_id", "text", "lang", p)
    assert(dropped2 == 0L)
    assert(Release.open(spark.newSession(), path, "doc_id", "text").count() ==
      before - 1)
    st1.unpersist(); st2.unpersist(); st3.unpersist(); st4.unpersist()
  }

  test("an appendTurn whose batch is entirely dropped leaves the delivery verified and accounting unchanged") {
    // the degenerate nightly turn: every batch doc is an exact copy of
    // a shipped doc, so the dedup gate drops the whole batch — the
    // delivery must still reopen verified and the fold-merged manifest
    // must equal the pre-turn one (an empty batch folds as a no-op,
    // it must not corrupt the standing accounting)
    val path = tmp("rel_empty_turn")
    def turnDocs(from: Long, until: Long) =
      (from until until).map(i => (i, s"${i}z" * 12, "en"))
        .toDF("doc_id", "text", "lang")
    val bench = Seq((9999L, "benchmark body unrelated to all corpora", "en"))
      .toDF("doc_id", "text", "lang")
    val p = params.copy(mixAlpha = 1.0, maxOverlapNgrams = 0L)
    val st1 = Release.initIncremental(
      turnDocs(0L, 120L), bench, "doc_id", "text", "lang", path, p)
    val before = spark.read.parquet(s"$path/manifest").collect().map(_.toSeq).toSet
    // same texts under fresh ids: every doc is an exact dup of a
    // shipped one (exact dedup keys on text, not id)
    val copies = turnDocs(0L, 120L)
      .select(($"doc_id" + 1000L).as("doc_id"), $"text", $"lang")
    val (st2, shipped) = Release.appendTurn(
      st1, copies, bench, "doc_id", "text", "lang", p)
    assert(shipped.count() == 0, "an all-dup batch must ship nothing")
    assert(spark.read.parquet(s"$path/manifest").collect().map(_.toSeq).toSet == before,
      "an empty batch must fold into the manifest as a no-op")
    val got = Release.open(spark.newSession(), path, "doc_id", "text")
    assert(got.count() == spark.read.parquet(s"$path/data").count())
    st1.unpersist(); st2.unpersist()
  }

  /** 240 synthetic docs, ids [0, 240): id-periodic texts (no shared
    * grams across ids) plus ten near-copies of the docs 0-9 under fresh
    * ids, so the within-batch dedup and the index both have work.
    */
  private def smallTurn(offset: Long) =
    ((0L until 230L).map(i => (offset + i, s"${offset + i}z" * 12, "en")) ++
      (0L until 10L).map(i => (offset + 230L + i, s"${offset + i}z" * 12 + "!", "en")))
      .toDF("doc_id", "text", "lang")

  private val smallBench = Seq((99999L, "benchmark body unrelated to all corpora", "en"))
    .toDF("doc_id", "text", "lang")

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("both turns return index rows equal to a sequential replay of their stages") {
    val p = params.copy(mixAlpha = 1.0)
    val (t1, t2) = (smallTurn(0L), smallTurn(1000L))
    val st1 = Release.initIncremental(t1, smallBench, "doc_id", "text", "lang", tmp("rel_replay"), p)
    val core = Curation.curateCore(t1, smallBench, "doc_id", "text", p.curation)
    val built = LshIndex.build(core.docs, "doc_id", "text",
      n = p.curation.shingleN, portableHash = p.curation.portableHash,
      minDocFreq = p.curation.minDocFreq)
    assert(sameRows(st1.index, built), "init: index != build over the curated corpus")
    val (st2, shipped) = Release.appendTurn(st1, t2, smallBench, "doc_id", "text", "lang", p)
    val replay = Curation.curateIncremental(
      st1.index, t2, smallBench, "doc_id", "text", "lang", p.curation)
    assert(sameRows(st2.index, replay.kept), "append: index != curateIncremental's grown index")
    replay.unpersist(); built.unpersist(); core.unpersist()
    st1.unpersist(); st2.unpersist(); shipped.unpersist()
  }

  test("appendTurn starts no write before the grown index's pin has finished") {
    val p = params.copy(mixAlpha = 1.0)
    val st1 = Release.initIncremental(
      smallTurn(0L), smallBench, "doc_id", "text", "lang", tmp("rel_order"), p)
    val ((st2, shipped), jobs) = jobRecordsDuring(
      Release.appendTurn(st1, smallTurn(1000L), smallBench, "doc_id", "text", "lang", p))
    val pinned = st2.index.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      case other => fail(s"the grown index is not pinned: ${other.nodeName}")
    }
    val pinEnd = jobs.filter(_.rdds.contains(pinned)).map(_.end)
    val writes = jobs.filter(_.plan.contains("InsertIntoHadoopFsRelationCommand")).map(_.start)
    assert(pinEnd.nonEmpty && writes.nonEmpty)
    assert(writes.min >= pinEnd.max,
      s"a write started at ${writes.min}, before the pin ended at ${pinEnd.max}")
    st1.unpersist(); st2.unpersist(); shipped.unpersist()
  }

  test("a failed grow in appendTurn writes nothing under the release path") {
    val path = tmp("rel_failed_grow")
    val p = params.copy(mixAlpha = 1.0)
    val st1 = Release.initIncremental(
      smallTurn(0L), smallBench, "doc_id", "text", "lang", path, p)
    def listing: Set[(String, Long, Long)] = {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    }
    val before = listing
    // the probe reads the index by column name and works; the grow's
    // positional union with the grown rows fails on the extra column
    val broken = st1.copy(index = st1.index.withColumn("extra", lit(1)))
    intercept[Exception] {
      Release.appendTurn(broken, smallTurn(1000L), smallBench, "doc_id", "text", "lang", p)
    }
    assert(listing == before, "a failed grow must leave the release untouched")
    st1.unpersist()
  }

  test("unpersist releases every pin of an incremental state") {
    val st = Release.initIncremental(
      smallTurn(0L), smallBench, "doc_id", "text", "lang", tmp("rel_pins"), params)
    val ids = Seq(st.index, st.evalGrams, st.manifest, st.cardIndex)
      .map(_.queryExecution.logical)
      .collect { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id }
    def live = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.size == 4 && ids.forall(live.contains), s"state pins $ids, live $live")
    st.unpersist()
    assert(ids.filter(live.contains).isEmpty, s"still persisted after unpersist: $ids")
  }

  test("an append turn's curation pins and its probe's drop set are released with the states") {
    val p = params.copy(mixAlpha = 1.0)
    val st1 = Release.initIncremental(
      smallTurn(0L), smallBench, "doc_id", "text", "lang", tmp("rel_turn_pins"), p)
    val ((st2, shipped), jobs) = jobRecordsDuring(
      Release.appendTurn(st1, smallTurn(1000L), smallBench, "doc_id", "text", "lang", p))
    // each eager localCheckpoint pins the newest RDD its execution computes
    def pinsFilledAt(file: String): Seq[Int] = jobs
      .filter(_.description.startsWith(s"localCheckpoint at $file:"))
      .groupBy(_.execution).values.map(_.flatMap(_.rdds).max).toSeq
    val curation = pinsFilledAt("Curation.scala")
    val dropSet = pinsFilledAt("LshIndex.scala")
    assert(dropSet.size == 1, s"the turn's probe pins one drop set: $dropSet")
    st1.unpersist(); st2.unpersist(); graft.Pins.release(shipped)
    assert(stillPersisted(dropSet).isEmpty, s"the probe's drop set still persisted: $dropSet")
    assert(curation.size == 3, s"the turn pins exact, novel and clean: $curation")
    assert(stillPersisted(curation).isEmpty, s"curation pins still persisted: $curation")
  }

  test("typed guard: input already carrying a split column") {
    val e = intercept[IllegalArgumentException] {
      Release.build(train.withColumn("split", lit("train")), bench,
        "doc_id", "text", "lang", tmp("rel_guard"), params)
    }
    assert(e.getMessage.contains("split"))
  }

  test("scrub-at-ingest: piiMask ships only masked text, one-call and incremental alike") {
    // plant PII into every doc: the shipped bytes (what readVerified
    // reopens and the manifest certifies) must carry masks, never raw
    // addresses — in both release shapes
    val planted = train.withColumn("text",
      concat($"text", lit(" mail u"), $"doc_id".cast("string"),
        lit("@leak.example.com or 10.0.0."), ($"doc_id" % 250).cast("string")))
    val p = params.copy(piiMask = true)

    val path1 = tmp("rel_scrub")
    val r = Release.build(planted, bench, "doc_id", "text", "lang", path1, p)
    val shipped = Release.open(spark, path1, "doc_id", "text")
      .select($"text").as[String].collect()
    r.unpersist()
    assert(shipped.nonEmpty)
    assert(shipped.forall(t => !t.contains("@leak.example.com")))
    assert(shipped.forall(t => t.contains(Pii.EmailMask) && t.contains(Pii.Ipv4Mask)))

    val path2 = tmp("rel_scrub_inc")
    val st1 = Release.initIncremental(
      planted.filter($"doc_id" % 2 === 0), bench, "doc_id", "text", "lang", path2, p)
    val (st2, batchShipped) = Release.appendTurn(
      st1, planted.filter($"doc_id" % 2 =!= 0), bench, "doc_id", "text", "lang", p)
    val incShipped = Release.open(spark, path2, "doc_id", "text")
      .select($"text").as[String].collect()
    st1.unpersist(); st2.unpersist(); batchShipped.unpersist()
    assert(incShipped.nonEmpty)
    assert(incShipped.forall(t => !t.contains("@leak.example.com")))
  }
}
