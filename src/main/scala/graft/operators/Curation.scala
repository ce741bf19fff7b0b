package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation pipeline — the composition the
  * individual T-operators exist for, in the order a production corpus
  * build runs them:
  *
  *  1. annotate: language-ID + quality + repetition scores (per-row
  *     kernels, no shuffle);
  *  2. gate: drop low-quality / repetition-heavy docs (filter on the
  *     scan);
  *  3. exact dedup: first occurrence per normalized text survives;
  *  4. near-dup canonicalize: MinHash+LSH pairs -> connected components
  *     -> keep the least-id doc per duplicate cluster;
  *  5. decontaminate: drop docs overlapping the benchmark set;
  *  6. sample: deterministic per-language training mix;
  *  7. pack: concat-and-chunk token spans for the loader.
  *
  * Each stage boundary is an eager pin (see [[curateCore]]); between
  * them every stage is one lazy DataFrame program, and the two points
  * that are semantically iterative (connected components) or
  * pair-generating (LSH) are internally bounded and checkpointed.
  * Shuffle inventory: exact-dedup groupBy, LSH band bucket join, CC
  * rounds (decaying), contamination fold-back, packing shard window —
  * each justified in SCALE.md; nothing quadratic, nothing driver-side.
  */
object Curation {

  final case class CurationParams(
      minQuality: Double = 0.3,
      maxRepetition: Double = 0.6,
      shingleN: Int = 3,
      lshThreshold: Double = 0.6,
      contaminationN: Int = 13,
      maxContamination: Double = 0.2,
      // absolute floor under the LSH DF-prune ratio bar (see
      // [[TextDedup.minHashLshDedup]]); the replay oracles pin 0
      minDocFreq: Long = TextDedup.DefaultMinDocFreq,
      sampleRates: Map[String, Double] = Map.empty,
      defaultSampleRate: Double = 1.0,
      packBudget: Int = 512,
      packShards: Int = 8,
      // portable md5 LSH mode so an external SQL engine can replay the
      // whole pipeline (q57); production default stays murmur3
      portableHash: Boolean = false,
      // near-dup survivor election: least id (the q57-replayed default)
      // or keep-best-by-quality ([[ConnectedComponents.canonicalizeBy]]
      // on the stage-1 quality score)
      keepBestQuality: Boolean = false,
      // apply the C4/Gopher heuristic rule battery
      // ([[CorpusFilters.heuristicSignals]] composite keep) as part of
      // the stage-2 gate — one more kernel on the same scan, no extra
      // pass. Off by default: the q57 replay oracle predates it.
      useHeuristicGate: Boolean = false,
      // learned quality gate: score with a trained
      // [[QualityClassifier.Model]] (keep-probability >= minModelScore)
      // as one more per-row kernel on the SAME stage-1/2 scan — the
      // GPT-3/LLaMA-style fastText filter next to the heuristic rule
      // battery. The weights (~2 MB at the 2^18 default) broadcast with
      // the task closure; no shuffle, no join — the gate is free at
      // 100 TB relative to the scan it rides. None = off (the q57
      // replay oracle and all bench history predate it).
      qualityModel: Option[QualityClassifier.Model] = None,
      minModelScore: Double = 0.5)

  /** Curated corpus (`docs`: one row per surviving doc with annotations
    * and packed span) plus the stage pins backing it — call
    * [[CurationResult.unpersist]] once consumed. A released result
    * cannot be read again: `docs` reads the pinned rows, which are gone.
    */
  final case class CurationResult(docs: DataFrame, cached: Seq[DataFrame]) {
    def unpersist(): Unit = cached.foreach(graft.Pins.release)
  }

  /** Stages 1-2 shared by both pipelines: annotate with the quality /
    * repetition kernels, gate on the thresholds, then the optional
    * heuristic rule battery and the optional learned-classifier gate —
    * all per-row kernels fused into the one corpus scan. A doc passing
    * the learned gate keeps its `learned_quality` score as an
    * annotation (the downstream keep-best election still uses the
    * heuristic `quality` — the replay oracles pin that election).
    */
  private def annotateAndGate(
      docs: DataFrame, textCol: String, params: CurationParams): DataFrame =
    docs
      .withColumn("quality", TextAnalysis.qualityScore(col(textCol)))
      .withColumn("repetition", TextAnalysis.repetitionScore(col(textCol), 3))
      .filter(col("quality") >= params.minQuality &&
        col("repetition") <= params.maxRepetition)
      .transform { d =>
        if (params.useHeuristicGate)
          d.filter(CorpusFilters.heuristicSignals(col(textCol))("_12") === 1)
        else d
      }
      .transform { d =>
        params.qualityModel match {
          case Some(m) =>
            QualityClassifier.score(m, d, textCol, "learned_quality")
              .filter(col("learned_quality") >= params.minModelScore)
          case None => d
        }
      }

  /** Stage outputs that fan out to more than one consumer (the exact-
    * dedup survivors feed both LSH and canonicalize; the canonical set
    * feeds both contamination and the survivor join; the sample feeds
    * its own packing join) are PINNED: each is an eager
    * `localCheckpoint` (MEMORY_AND_DISK), filled once where it is
    * defined — without a pin, every fan-out re-runs the whole upstream
    * including the LSH pipeline (measured 5x end-to-end at sf0.1).
    * Every query past a pin analyses and plans a one-node leaf, not the
    * annotate -> dedup -> LSH -> components -> contamination lineage,
    * and the SQL status store records that leaf instead of a cached plan
    * per execution. Once the next pin is filled, the call releases the
    * pin (and the LSH pairs) it supersedes. What the pins give up —
    * lineage, the columnar cache's compression — is in SCALE.md
    * "Caching discipline". On a real 100-TB run these are the natural
    * stage boundaries to write to storage instead; the pins mark
    * exactly those points.
    *
    * Stages 1-5 — the decontaminated canonical corpus BEFORE the
    * training-mix sample and packing: what [[curate]] feeds its stage
    * 6-7 tail, and the entry the release turn ([[Release]]) composes
    * with split assignment, split-leakage removal, and its own
    * mix+pack (a release must pin split membership before any
    * sampling, so the mix cannot run inside this call). The returned
    * docs frame is the one pin the result holds: every downstream
    * consumer fans out over it at least twice.
    */
  def curateCore(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      params: CurationParams = CurationParams()): CurationResult = {
    val id = col(idCol)

    // 1-2: annotate + quality gate (single scan, all per-row kernels)
    val annotated = annotateAndGate(docs, textCol, params)

    // 3: exact dedup on the text, deterministic least-id survivor
    val exact = Dedup.exactByColumns(annotated, Seq(textCol), idCol).localCheckpoint()

    // 4: near-dup clusters -> canonical survivor per cluster
    val pairs = TextDedup.minHashLshPairs(
      exact, idCol, textCol, n = params.shingleN,
      threshold = params.lshThreshold, portableHash = params.portableHash,
      minDocFreq = params.minDocFreq)
    val clustered =
      if (params.keepBestQuality)
        ConnectedComponents.canonicalizeBy(exact, pairs, idCol, "quality")
      else ConnectedComponents.canonicalize(exact, pairs, idCol)
    val canon = clustered
      .filter(col("is_canonical") === 1)
      .drop("cluster_id", "cluster_size", "is_canonical")
      .localCheckpoint()
    Seq(exact, pairs).foreach(graft.Pins.release)

    // 5: decontaminate against the benchmark corpus
    val contam = Contamination.ngramContamination(
      canon, bench, idCol, textCol, params.contaminationN)
    val cleanDocs = canon
      .join(contam.filter(col("contamination") <= params.maxContamination)
        .select(id), Seq(idCol), "left_semi")
      .localCheckpoint()
    graft.Pins.release(canon)
    CurationResult(cleanDocs, Seq(cleanDocs))
  }

  def curate(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      params: CurationParams = CurationParams()): CurationResult = {
    val core = curateCore(docs, bench, idCol, textCol, params)

    // 6: deterministic training mix
    val sampled = Sampling.stratifiedSample(
      core.docs, idCol, langCol, params.sampleRates, params.defaultSampleRate)
      .localCheckpoint()
    core.unpersist()

    // 7: packed spans for the loader
    val packed = sampled.join(
      Packing.packSequences(sampled, idCol, textCol,
        params.packBudget, params.packShards)
        .drop("n_tokens"),
      Seq(idCol))
    CurationResult(packed, Seq(sampled))
  }

  /** One incremental (nightly-crawl) turn of the pipeline: `curated` =
    * the batch's training contribution (annotated, sampled), `kept` =
    * the grown index to persist for tomorrow's turn. `cached` holds the
    * stage pin both frames read and the grown index; once released,
    * neither frame can be read again, not even by recomputing it. To
    * carry `kept` into tomorrow's turn, pin it (`localCheckpoint`) or
    * write it BEFORE [[unpersist]].
    */
  final case class IncrementalResult(
      curated: DataFrame, kept: DataFrame, cached: Seq[DataFrame]) {
    def unpersist(): Unit = cached.foreach(graft.Pins.release)
  }

  /** Incremental curation over a PERSISTED kept-corpus index — stages
    * 1-6 of [[curate]] for a nightly ingest batch, with the near-dup
    * stage split in two: canonicalize WITHIN the batch (same election
    * as the batch pipeline), then gate the canonicals against the kept
    * corpus via [[LshIndex.dedupAgainst]] — O(incoming) per turn; the
    * kept corpus is never re-shingled. Packing (stage 7) is
    * deliberately absent: span packing is an export-time step over the
    * accumulated corpus, not a per-ingest one.
    *
    * Survivor semantics across batches are FIRST-ARRIVED — the only
    * election possible without revisiting shipped data: a batch doc
    * near-duplicating any already-kept doc is dropped, whatever its
    * quality. Within one batch the election is [[CurationParams]]'s
    * (least-id or keep-best). Pinned by CurationSpec: sequential
    * incremental turns produce exactly the docs of replaying the same
    * stages with the one-shot cross-corpus operator over a
    * grow-as-you-go kept corpus.
    *
    * What grows the index: the decontaminated canonical survivors,
    * BEFORE the training-mix sample. The index is the dedup corpus — a
    * doc curated but sampled out of today's mix must still suppress
    * tomorrow's duplicates, or the corpus drifts toward
    * double-representation. Rebuild the index on the compaction cadence
    * [[LshIndex.append]] documents.
    *
    * `kept` reads the turn's pinned survivors: pin or write it before
    * [[IncrementalResult.unpersist]] (see [[IncrementalResult]]).
    */
  def curateIncremental(
      index: DataFrame,
      incoming: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      params: CurationParams = CurationParams()): IncrementalResult = {
    val turn = incrementalTurn(index, LshIndex.readMeta(index), incoming, bench,
      idCol, textCol, langCol, params)
    val grown = turn.grow()
    IncrementalResult(turn.curated, grown, turn.pins :+ grown)
  }

  /** [[curateIncremental]] in two parts: `curated` (lazy, over the
    * `clean` pin) and `grow`, which appends `clean` to the index and
    * returns the persisted, materialized grown index. Neither part
    * waits for the other, so a caller may run them side by side; `pins`
    * holds the one stage pin both read.
    */
  private[operators] final case class IncrementalTurn(
      curated: DataFrame, grow: () => DataFrame, pins: Seq[DataFrame]) {
    def unpersist(): Unit = pins.foreach(graft.Pins.release)
  }

  /** The turn behind [[curateIncremental]], under the index recipe
    * already read from `index`.
    */
  private[operators] def incrementalTurn(
      index: DataFrame,
      recipe: (LshIndex.Meta, Array[Long]),
      incoming: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      params: CurationParams): IncrementalTurn = {
    val meta = recipe._1
    require(meta.n == params.shingleN && meta.portableHash == params.portableHash,
      s"index recipe (n=${meta.n}, portable=${meta.portableHash}) disagrees " +
        s"with params (n=${params.shingleN}, portable=${params.portableHash}) — " +
        "intra-batch LSH and the cross-corpus probe must share one shingle space")
    val id = col(idCol)

    // 1-2: annotate + gate (same kernels, same single scan)
    val annotated = annotateAndGate(incoming, textCol, params)

    // 3-4a within the batch: exact dedup + near-dup canonicalize
    val exact = Dedup.exactByColumns(annotated, Seq(textCol), idCol).localCheckpoint()
    val pairs = TextDedup.minHashLshPairs(
      exact, idCol, textCol, n = params.shingleN,
      threshold = params.lshThreshold, portableHash = params.portableHash,
      minDocFreq = params.minDocFreq)
    val clustered =
      if (params.keepBestQuality)
        ConnectedComponents.canonicalizeBy(exact, pairs, idCol, "quality")
      else ConnectedComponents.canonicalize(exact, pairs, idCol)
    val canon = clustered
      .filter(col("is_canonical") === 1)
      .drop("cluster_id", "cluster_size", "is_canonical")

    // 4b: cross-corpus gate — only the batch pays shingling CPU; the
    // probe's drop set is released once the survivors are pinned
    val (gated, dupIds) = LshIndex.dedupAgainstWith(index, recipe, canon, idCol, textCol,
        threshold = params.lshThreshold)
    val novel = gated.localCheckpoint()
    Seq(exact, pairs, dupIds).foreach(graft.Pins.release)

    // 5: decontaminate against the benchmark corpus. Both parts read the
    // pin, and the grow step needs its count for the index's meta row.
    val contam = Contamination.ngramContamination(
      novel, bench, idCol, textCol, params.contaminationN)
    val clean = novel
      .join(contam.filter(col("contamination") <= params.maxContamination)
        .select(id), Seq(idCol), "left_semi")
      .localCheckpoint()
    val nClean = clean.count()
    graft.Pins.release(novel)

    // 6: deterministic training mix — today's contribution; the index
    // grows with today's curated docs (pre-sample)
    val sampled = Sampling.stratifiedSample(
      clean, idCol, langCol, params.sampleRates, params.defaultSampleRate)
    IncrementalTurn(sampled,
      () => LshIndex.appendWith(index, recipe, clean, nClean, idCol, textCol),
      Seq(clean))
  }

  /** One incremental curation turn for MEDIA (binary content) — the
    * [[curateIncremental]] story with the text near-dup machinery
    * swapped for the fingerprint family, proving the same nightly
    * contract end-to-end for images and audio:
    *
    *  1. fingerprint: perceptual hash over the binary column
    *     ([[graft.multimodal.Multimodal.imageDHash]] dHash /
    *     [[graft.multimodal.Multimodal.audioEHash]] eHash — per-row
    *     decode kernels, no shuffle); undecodable rows (null hash) are
    *     dropped — a payload that cannot be decoded can neither dedup
    *     nor train;
    *  2. exact dedup on the fingerprint (identical perceptual hash =
    *     same content re-encoded), deterministic least-id survivor;
    *  3. within-batch near-dup canonicalize: batch-local
    *     [[HammingIndex]] self-probe -> undirected pairs -> connected
    *     components -> least-id canonical (the text pipeline's
    *     election);
    *  4. cross-corpus gate against the PERSISTED Hamming artifact
    *     ([[HammingIndex.dedupAgainst]] — O(incoming) probe, the kept
    *     corpus is never re-fingerprinted), FIRST-ARRIVED semantics
    *     across batches exactly as the text turn;
    *  5. grow the artifact with the survivors
    *     ([[HammingIndex.append]]).
    *
    * The batch-local index inherits `segments`/`maxBucketSize` from
    * the persisted artifact's meta row so within-batch and
    * cross-corpus blocking share one recall guarantee. Survivors keep
    * their fingerprint column as an annotation (the
    * `learned_quality` discipline).
    *
    * `kept` reads the turn's pinned survivors: pin or write it before
    * [[IncrementalResult.unpersist]] (see [[IncrementalResult]]).
    */
  def curateFingerprinted(
      index: DataFrame,
      incoming: DataFrame,
      idCol: String,
      fpCol: String,
      maxDistance: Int = 3): IncrementalResult = {
    val p = HammingIndex.Hamming.params(index)
    val m = p.m
    require(maxDistance >= 0 && maxDistance < m.segments,
      s"index blocks on ${m.segments} segments: maxDistance must be < ${m.segments}, " +
        s"got $maxDistance")
    // the within-batch canonicalize ([[ConnectedComponents]]) elects by
    // least LONG id — fail typed here rather than as an ANSI cast error
    // three stages in
    locally {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val idType = incoming.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
        s"idCol '$idCol' must be an integral type (the least-id canonicalize " +
          s"election), got $idType — map ids to longs upstream")
    }

    // 1: decodable rows only
    val decoded = incoming.filter(col(fpCol).isNotNull)

    // 2: exact dedup on the fingerprint, least-id survivor
    val exact = Dedup.exactByColumns(decoded, Seq(fpCol), idCol).localCheckpoint()

    // 3: within-batch near-dup via a batch-local index self-probe;
    // (a, b) and (b, a) both appear — keep one direction
    val batchIdx = HammingIndex.build(exact, idCol, fpCol,
      segments = m.segments, maxBucketSize = m.maxBucketSize)
    val probe = HammingIndex.pairsAgainst(batchIdx, exact, idCol, fpCol, maxDistance)
    val pairs = probe.pairs
      .filter(col("id_existing") < col("id_incoming"))
      .select(col("id_existing").as("id_a"), col("id_incoming").as("id_b"))
    val canon = ConnectedComponents.canonicalize(exact, pairs, idCol)
      .filter(col("is_canonical") === 1)
      .drop("cluster_id", "cluster_size", "is_canonical")

    // 4: cross-corpus gate — only the batch pays decode + segment CPU;
    // the probe's drop set is released once the survivors are pinned
    val (gated, dupIds) =
      HammingIndex.Hamming.dedupAgainstWith(p, index, canon, idCol, fpCol, maxDistance)
    val novel = gated.localCheckpoint()
    Seq(exact, batchIdx, probe.pairs, dupIds).foreach(graft.Pins.release)

    // 5: grow the kept-corpus artifact
    val grown = HammingIndex.Hamming.append(p, index, novel, idCol, fpCol)._1
    IncrementalResult(novel, grown, Seq(novel, grown))
  }

  /** [[curateFingerprinted]] with the fingerprint stage included:
    * `mediaType` picks the perceptual-hash kernel — `"image"` (dHash
    * over decodable image bytes, `dhash` column) or `"audio"`
    * (energy-envelope eHash over decodable audio bytes, `ehash`
    * column). Typed error on anything else; video has no JDK decode
    * path ([[graft.multimodal.Multimodal.StubCodec]]) so it is
    * deliberately NOT accepted here. As with [[curateFingerprinted]],
    * pin or write `kept` before [[IncrementalResult.unpersist]].
    */
  def curateMedia(
      index: DataFrame,
      incoming: DataFrame,
      idCol: String,
      contentCol: String,
      mediaType: String,
      maxDistance: Int = 3): IncrementalResult = {
    val (hashed, fpCol) = mediaType match {
      case "image" =>
        (graft.multimodal.Multimodal.imageDHash(incoming, contentCol), "dhash")
      case "audio" =>
        (graft.multimodal.Multimodal.audioEHash(incoming, contentCol), "ehash")
      case other => throw new IllegalArgumentException(
        s"""mediaType must be "image" or "audio", got "$other"""")
    }
    curateFingerprinted(index, hashed, idCol, fpCol, maxDistance)
  }
}
