package graft.operators

import org.apache.spark.sql.DataFrame

/** Persistable SimHash index: fingerprint the kept corpus once, probe
  * many times with incoming batches — the text member of the Hamming
  * family ([[LshIndex]] = text Jaccard, [[IvfIndex]] = embedding
  * cosine, this = text Hamming). The one-shot
  * [[TextDedup.simHashPairsSelfBlocked]] re-tokenizes and re-signs the
  * whole corpus per call; here only the incoming batch is signed.
  *
  * This object is a signing step over [[HammingIndex]], the one
  * pigeonhole kernel: every method projects `TextDedup.simHash(text,
  * hasher) AS h` — a 32-bit fingerprint, cut into `segments` near-equal
  * bit ranges — and hands it to the kernel, which owns the segment
  * rows, bucket counts, cap accounting, verification and lifecycle. The
  * token hasher is frozen in the meta row (`hasher=murmur3|md5`), so
  * probes, appends and gates re-sign with the build's recipe. Exactness,
  * cap accounting (over-cap buckets kept at build and reported per
  * probe; deleted and recorded by compact/merge) and the stored layout
  * `(id, seg, value, cnt, h, params)` are the kernel's.
  *
  * The segment count is frozen at build (entry rows are per-segment);
  * `maxDistance` stays a PROBE argument bounded by `segments - 1` —
  * build with more segments than the largest distance any future probe
  * will ask for.
  */
object SimHashIndex {

  /** `seg` value of the single metadata row. */
  val MetaSeg: Int = HammingIndex.MetaSeg
  /** `seg` value of per-document fingerprint rows. */
  val DocSeg: Int = HammingIndex.DocSeg

  /** Frozen build parameters, parsed back from the index's meta row. */
  final case class Meta(
      segments: Int, hasherName: String, maxBucketSize: Int,
      builtDroppedBuckets: Long, nDocs: Long) {
    def hasher: TextDedup.TokenHasher = TextDedup.TokenHasher.named(hasherName)
  }

  type Probe = HammingIndex.Probe
  val Probe: HammingIndex.Probe.type = HammingIndex.Probe
  type CapDriftReport = HammingIndex.CapDriftReport
  val CapDriftReport: HammingIndex.CapDriftReport.type = HammingIndex.CapDriftReport

  private val K = HammingIndex.SimHash

  /** Meta row of `index`. Fails typed on a frame that is not a v1
    * SimHash index.
    */
  def readMeta(index: DataFrame): Meta = {
    val p = K.params(index)
    Meta(p.m.segments, p.hasher.get, p.m.maxBucketSize, p.m.builtDroppedBuckets, p.m.nDocs)
  }

  /** Build the index over the kept corpus (see [[HammingIndex.build]]).
    * `segments` bounds every future probe's `maxDistance` (strictly
    * below it — the pigeonhole guarantee); `maxBucketSize` is frozen as
    * the cap every probe enforces on COMBINED (stored + incoming)
    * bucket size, mirroring [[LshIndex]]'s cap-is-an-index-property
    * rule.
    */
  def build(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segments: Int = 4,
      hasher: TextDedup.TokenHasher = TextDedup.TokenHasher.Murmur3,
      maxBucketSize: Int = 2000): DataFrame = {
    require(segments > 0 && segments <= 32, "segments must be in [1, 32]")
    HammingIndex.buildWith(HammingIndex.Params(
      HammingIndex.Meta(segments, maxBucketSize, 0L, 0L), Some(hasher.name)), df, idCol, textCol)
  }

  /** Cross-corpus near-dup pairs (`id_existing`, `id_incoming`,
    * `hamming`) with `hamming <= maxDistance` — exactly the brute-force
    * cross pairs modulo capped buckets ([[HammingIndex.pairsAgainst]]).
    */
  def pairsAgainst(
      index: DataFrame, incoming: DataFrame, idCol: String, textCol: String,
      maxDistance: Int): Probe =
    K.pairsAgainst(K.params(index), index, incoming, idCol, textCol, maxDistance)

  /** `incoming` minus near-dups of the indexed corpus, preserving
    * `incoming`'s columns and order. Identical text has identical
    * fingerprints (Hamming 0), so exact duplicates are always caught —
    * including the degenerate empty/null-token texts, which all share
    * fingerprint 0.
    */
  def dedupAgainst(
      index: DataFrame, incoming: DataFrame, idCol: String, textCol: String,
      maxDistance: Int): DataFrame =
    K.dedupAgainst(K.params(index), index, incoming, idCol, textCol, maxDistance)

  /** Append new documents, signing ONLY them with the frozen recipe;
    * batch-local bucket counts ([[HammingIndex.append]]).
    */
  def append(index: DataFrame, newDocs: DataFrame, idCol: String, textCol: String): DataFrame =
    K.append(K.params(index), index, newDocs, idCol, textCol)._1

  /** Exact-count repair from stored rows, zero text access
    * ([[HammingIndex.compact]]).
    */
  def compact(index: DataFrame, idCol: String): DataFrame = K.compact(index, idCol)

  /** Merge same-recipe generations, zero text access
    * ([[HammingIndex.mergeMany]]).
    */
  def mergeMany(indexes: Seq[DataFrame], idCol: String): DataFrame = K.mergeMany(indexes, idCol)

  /** Cap-drift monitor ([[HammingIndex.capDriftReport]]). */
  def capDriftReport(index: DataFrame, maxBuckets: Int = 100): CapDriftReport =
    K.capDriftReportMany(Seq(index), maxBuckets)

  /** Monitor-then-repair ([[HammingIndex.compactIfDrifted]]). */
  def compactIfDrifted(index: DataFrame, idCol: String): (DataFrame, CapDriftReport) =
    K.compactIfDrifted(index, idCol)

  /** Union-wide cap-drift monitor ([[HammingIndex.capDriftReportMany]]). */
  def capDriftReportMany(indexes: Seq[DataFrame], maxBuckets: Int = 100): CapDriftReport =
    K.capDriftReportMany(indexes, maxBuckets)

  /** Probe several generations with one batch. Default: per-generation
    * caps (generations fully independent — the family rule, rationale
    * on [[LshIndex.pairsAgainstMany]]). `globalCap = true` recounts the
    * touched buckets across generations and enforces the one-shot union
    * cap exactly, even over un-compacted appended generations. Ids must
    * be unique across all generations and the batch.
    */
  def pairsAgainstMany(
      indexes: Seq[DataFrame], incoming: DataFrame, idCol: String, textCol: String,
      maxDistance: Int, globalCap: Boolean = false): Probe =
    K.pairsAgainstMany(indexes, incoming, idCol, textCol, maxDistance, globalCap)

  /** [[dedupAgainst]] over several generations: `incoming` minus
    * near-dups of ANY generation, columns and order preserved.
    */
  def dedupAgainstMany(
      indexes: Seq[DataFrame], incoming: DataFrame, idCol: String, textCol: String,
      maxDistance: Int, globalCap: Boolean = false): DataFrame =
    K.dedupAgainstMany(indexes, incoming, idCol, textCol, maxDistance, globalCap)
}
