package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Cols
import graft.multimodal.Multimodal
import graft.operators.{ConnectedComponents, Contamination, CorpusFilters, Dedup, IvfCentroids, Packing, Sampling, Reshape, Similarity, SurrogateKeys, TextAnalysis, TextDedup}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[Registry.all]] exercises one operator family from
  * SURVEY.md §2 (or a training-data-pipeline extension) against the
  * driver's TPC-H-ish testdata, paired with the ANSI SQL the DuckDB
  * oracle runs on the same tables. Determinism rules for the hash
  * compare:
  *  - every query ends in ORDER BY on a unique key combination;
  *  - float outputs are either exact (counts, min/max, sums of
  *    integer-valued columns) or summed as DECIMAL(18,2) in BOTH engines
  *    before a final cast to double (binary float summation is
  *    order-dependent; decimal summation is exact);
  *  - every integer-typed oracle output that flows through SUM (plain or
  *    windowed) must be explicitly CAST(... AS BIGINT): DuckDB widens
  *    sum(BIGINT) to HUGEINT (int128) while Spark emits LONG, and the
  *    driver's hash is type-sensitive even when every value matches
  *    (bit us on q54/q57 in round 4). Same rule for anything derived
  *    from such a sum (`// 512` chunk ids etc.).
  */
object SparkEntry {

  /** Testdata loader. `events.ts` has shifted physical type across
    * generations: TIMESTAMP(NANOS) (Spark refuses by default — read as
    * long via the legacy conf and integer-divide to micros; `div`, not
    * `/`, because epoch-nanos exceed 2^53 and a double roundtrip would
    * lose precision — DuckDB truncates ns->us the same way), then plain
    * timestamp[us] WITHOUT isAdjustedToUTC, which Spark reads as
    * TIMESTAMP_NTZ — watermarks and most time functions want LTZ, and
    * with the session pinned to UTC the cast is a pure reinterpretation
    * (identical micros, identical oracle values).
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    } else s.read.parquet(s"$dir/$name.parquet")
  }

  /** Flagship: the full FEFAL pipeline (ingest -> normalize -> entity
    * broadcast join -> quarantine splits) on the bundled survey fixture —
    * returns the valid partition (rows > 0). The TPC-H-style operator
    * queries live in [[Registry.all]].
    */
  def entry(spark: SparkSession): DataFrame = {
    val registry = spark.read.option("header", "true")
      .csv(graft.etl.Fixtures.path("entidades.csv"))
    val survey = graft.sources.Readers.csv(spark, graft.etl.Fixtures.path("survey_2026.csv"))
    graft.etl.Pipeline.run(survey, registry, graft.etl.Fixtures.config, 2026).valid
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Per-JVM disk fixtures some queries REOPEN (q68's standing index,
    * q120/q121's shipped releases): built lazily on first use, which
    * would land the one-time build inside the first caller's timed
    * cold run. Bench resolves these hooks BEFORE the clock (ADVICE
    * r12), so a fixture query's cold number measures the
    * production-shaped reopen — in production the artifact already
    * exists when the query runs. Verify needs no prep (untimed; the
    * lazy build is idempotent either way).
    */
  def fixturePrep: Map[String, (SparkSession, String) => Unit] =
    Registry.fixturePrep

  final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  object Registry {

    // ---- §2.5 aggregation family -------------------------------------

    /** A1-A5 + X13 pricing summary (TPC-H Q1 shape): partial+final hash
      * agg, no join. sum_price goes through decimal for exactness.
      */
    private val q01 = Q(
      "q01_pricing_summary",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum($"l_quantity").as("sum_qty"),
          count(lit(1)).as("n_rows"),
          avg($"l_quantity").as("avg_qty"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum(l_quantity) AS sum_qty,
             |  count(*) AS n_rows,
             |  avg(l_quantity) AS avg_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

    /** A1 global max + X13 rescale-to-100: scalar aggregate broadcast back
      * over the full table via crossJoin(broadcast(1-row)) — no window
      * over an empty partition, no collect.
      */
    private val q02 = Q(
      "q02_rescale_pct",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val mx = o.agg(max($"o_totalprice").as("__mx"))
        o.crossJoin(broadcast(mx))
          .select(
            $"o_orderkey",
            round($"o_totalprice" / $"__mx" * 100).cast("int").as("pct"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CAST(round(o_totalprice / (SELECT max(o_totalprice) FROM orders) * 100) AS INT) AS pct
             |FROM orders ORDER BY o_orderkey""".stripMargin))

    /** A3 distinct. */
    private val q03 = Q(
      "q03_distinct_segments",
      (s, dir) => t(s, dir, "customer")
        .select($"c_mktsegment").distinct().orderBy("c_mktsegment"),
      Some("SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"))

    /** A5 group-count. */
    private val q04 = Q(
      "q04_count_by_type",
      (s, dir) => t(s, dir, "events")
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY 1"))

    // ---- §2.4 join family --------------------------------------------

    /** J1 broadcast hash join chain (dimension lookups): both dims
      * broadcast, zero shuffle on the probe side before the agg.
      */
    private val q05 = Q(
      "q05_join_dims",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy($"r_name", $"n_name")
          .agg(
            count(lit(1)).as("n_customers"),
            min($"c_acctbal").as("min_bal"),
            max($"c_acctbal").as("max_bal"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name, count(*) AS n_customers,
             |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

    /** J2 semi join (EXISTS). */
    private val q06 = Q(
      "q06_semi_join",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem").filter($"l_quantity" > 45)
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .select($"o_orderkey").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
             |ORDER BY o_orderkey""".stripMargin))

    /** J2/F2 anti join (NOT EXISTS) — the "unmatched quarantine" shape. */
    private val q07 = Q(
      "q07_anti_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter($"o_orderstatus" === "F")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select($"c_custkey").orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin))

    // ---- §2.6 window / dedup family ----------------------------------

    /** W1 keep-first dedup (arrival order = o_orderkey). */
    private val q08 = Q(
      "q08_dedup_keep_first",
      (s, dir) => Dedup
        .keepFirst(t(s, dir, "orders"), Seq($"o_custkey"), $"o_orderkey")
        .kept
        .select($"o_custkey", $"o_orderkey")
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, o_orderkey FROM (
             |  SELECT o_custkey, o_orderkey,
             |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
             |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin))

    /** W2 keep-best dedup (quality-ranked, deterministic tiebreak). */
    private val q09 = Q(
      "q09_dedup_keep_best",
      (s, dir) => Dedup
        .keepBest(t(s, dir, "orders"), Seq($"o_custkey"), Seq($"o_totalprice"), $"o_orderkey")
        .kept
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |         row_number() OVER (PARTITION BY o_custkey
             |           ORDER BY o_totalprice DESC NULLS LAST, o_orderkey) AS rn
             |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin))

    /** W3/W4 multi-key sort + limit (deterministic tiebreak). */
    private val q10 = Q(
      "q10_top_orders",
      (s, dir) => t(s, dir, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(50)
        .select($"o_orderkey", $"o_totalprice"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin))

    // ---- §2.7 set operations -----------------------------------------

    /** U1 union + U2 multiset except. */
    private val q11 = Q(
      "q11_union_except",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val a = o.filter($"o_orderstatus" === "O").select($"o_orderkey")
        val b = o.filter($"o_totalprice" > 200000).select($"o_orderkey")
        val drop = o.filter($"o_custkey" % 7 === 0).select($"o_orderkey")
        a.unionByName(b).exceptAll(drop).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey FROM (
             |  (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'
             |   UNION ALL
             |   SELECT o_orderkey FROM orders WHERE o_totalprice > 200000)
             |  EXCEPT ALL
             |  SELECT o_orderkey FROM orders WHERE o_custkey % 7 = 0
             |) ORDER BY o_orderkey""".stripMargin))

    // ---- §2.9 reshape -------------------------------------------------

    /** M1-M4 unpivot: wide measures -> long (metric, value) rows; narrow
      * op, no shuffle.
      */
    private val q12 = Q(
      "q12_unpivot_part",
      (s, dir) => Reshape
        .unpivotNonNull(
          t(s, dir, "part"),
          ids = Seq("p_partkey"),
          valueCols = Seq("p_size", "p_retailprice"),
          varName = "metric", valName = "value", valueType = "double")
        .orderBy("p_partkey", "metric"),
      Some("""SELECT p_partkey, metric, value FROM (
             |  SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
             |  UNION ALL
             |  SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice FROM part)
             |WHERE value IS NOT NULL
             |ORDER BY p_partkey, metric""".stripMargin))

    // ---- §7.3 surrogate keys / get-or-create dims --------------------

    /** J3-J6 get-or-create: existing dim keeps ids, new natural keys get
      * fresh dense ids after max existing.
      */
    private val q13 = Q(
      "q13_dim_get_or_create",
      (s, dir) => {
        val part = t(s, dir, "part")
        val existing = SurrogateKeys.dense(
          part.filter($"p_brand" < "Brand#40").select($"p_brand").distinct(),
          "id", Seq($"p_brand".asc))
          .select($"id", $"p_brand")
        SurrogateKeys.getOrCreate(existing, part.select($"p_brand"), "id", "p_brand")
          .orderBy("id")
      },
      Some("""WITH existing AS (
             |  SELECT CAST(row_number() OVER (ORDER BY p_brand) AS BIGINT) AS id, p_brand
             |  FROM (SELECT DISTINCT p_brand FROM part WHERE p_brand < 'Brand#40')),
             |fresh AS (
             |  SELECT DISTINCT p_brand FROM part
             |  WHERE p_brand NOT IN (SELECT p_brand FROM existing))
             |SELECT id, p_brand FROM existing
             |UNION ALL
             |SELECT CAST(row_number() OVER (ORDER BY p_brand) + (SELECT coalesce(max(id),0) FROM existing) AS BIGINT) AS id,
             |       p_brand
             |FROM fresh
             |ORDER BY id""".stripMargin))

    // ---- §2.8 scalar functions ---------------------------------------

    /** X1 normalize_text parity with DuckDB's strip_accents pipeline. */
    private val q14 = Q(
      "q14_normalize_text",
      (s, dir) => t(s, dir, "documents")
        .select($"doc_id", Cols.normalizeText($"text").as("norm"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN text IS NULL OR trim(text) = '' THEN ''
             |       ELSE lower(regexp_replace(strip_accents(trim(text)), '\s+', ' ', 'g'))
             |  END AS norm
             |FROM documents ORDER BY doc_id""".stripMargin))

    /** X8-shaped sentence explode (generator op). The oracle-facing split
      * uses a lookaround-free delimiter (DuckDB's RE2 lacks lookbehind);
      * the full reference regex is covered by ScalaTest golden pairs.
      */
    private val q15 = Q(
      "q15_sentence_explode",
      (s, dir) => t(s, dir, "documents")
        .select(
          $"doc_id",
          explode(
            filter(
              transform(split($"text", "\\. "), x => trim(x)),
              x => x =!= lit(""))).as("sentence"))
        .orderBy("doc_id", "sentence"),
      Some("""SELECT doc_id, sentence FROM (
             |  SELECT doc_id, trim(unnest(regexp_split_to_array(text, '\. '))) AS sentence
             |  FROM documents)
             |WHERE sentence <> '' ORDER BY doc_id, sentence""".stripMargin))

    /** X4/X10 parse-or-default numeric validation over JSON-ish props. */
    private val q16 = Q(
      "q16_validate_numeric",
      (s, dir) => t(s, dir, "events")
        .select(
          $"event_id",
          Cols.validateNumeric(regexp_extract($"props", "\"k\": (-?\\d+)", 1)).as("k_val"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CAST(greatest(coalesce(TRY_CAST(TRY_CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS DOUBLE) AS INT), 0), 0) AS INT) AS k_val
             |FROM events ORDER BY event_id""".stripMargin))

    /** X11/X12/X22/X23 timestamp ops: per-user span + first day. */
    private val q17 = Q(
      "q17_user_sessions",
      (s, dir) => t(s, dir, "events")
        .groupBy($"user_id")
        .agg(
          count(lit(1)).as("n_events"),
          date_format(min($"ts"), "yyyy-MM-dd").as("first_day"),
          (unix_timestamp(max($"ts")) - unix_timestamp(min($"ts"))).as("span_sec"))
        .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS n_events,
             |  strftime(min(ts), '%Y-%m-%d') AS first_day,
             |  CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS span_sec
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

    /** Streaming-shaped hourly window agg, batch-verified (the same
      * groupBy(window(...)) works under readStream with a watermark).
      */
    private val q18 = Q(
      "q18_hourly_windows",
      (s, dir) => t(s, dir, "events")
        .groupBy(date_trunc("hour", $"ts").as("window_start"), $"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy("window_start", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
             |  count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

    // ---- training-data pipeline: text analysis -----------------------

    /** Language-ID by stopword argmax (deterministic fold, ties to the
      * first-listed language) + per-language scores.
      */
    private val q19 = Q(
      "q19_lang_id",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val scoreCols = TextAnalysis.stopwords.map { case (lang, ws) =>
          TextAnalysis.stopwordHits($"text", ws).as(s"score_$lang")
        }
        d.select($"doc_id" +: scoreCols :+ TextAnalysis.langId($"text").as("lang_pred"): _*)
          .orderBy("doc_id")
      },
      Some {
        val scoreSql = TextAnalysis.stopwords.map { case (lang, ws) =>
          val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\\s+')), $arr)) AS score_$lang"
        }.mkString(",\n  ")
        val langs = TextAnalysis.stopwords.map(_._1)
        val pred = langs.tail.foldLeft((s"'${langs.head}'", s"score_${langs.head}")) {
          case ((bl, bs), lang) =>
            (s"CASE WHEN score_$lang > $bs THEN '$lang' ELSE $bl END",
             s"greatest($bs, score_$lang)")
        }._1
        s"""SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
           |  CAST($pred AS VARCHAR) AS lang_pred
           |FROM (SELECT doc_id,
           |  $scoreSql
           |FROM documents) ORDER BY doc_id""".stripMargin
      })

    /** Corpus quality score (length/stopword/punctuation mix). */
    private val q20 = Q(
      "q20_quality_score",
      (s, dir) => t(s, dir, "documents")
        .select($"doc_id", TextAnalysis.qualityScore($"text").as("quality"))
        .orderBy("doc_id"),
      Some {
        val allStops = TextAnalysis.stopwords.flatMap(_._2).distinct
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"""SELECT doc_id,
           |  CASE WHEN text IS NULL OR len(toks) = 0 THEN 0.0
           |       ELSE 0.5 * least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
           |          + 0.3 * least(CAST(len(list_intersect(list_distinct(toks), $allStops)) AS DOUBLE) / 4.0, 1.0)
           |          + 0.2 * (1.0 - CASE WHEN len(toks) > 0
           |              THEN least(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
           |                         / CAST(len(toks) AS DOUBLE), 1.0)
           |              ELSE 1.0 END)
           |  END AS quality
           |FROM (SELECT doc_id, text,
           |        CASE WHEN text IS NULL OR trim(text) = '' THEN []
           |             ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
           |      FROM documents) ORDER BY doc_id""".stripMargin
      })

    /** Rolling-hash document fingerprint + token stats (pure modular
      * integer arithmetic — engine-portable).
      */
    private val q21 = Q(
      "q21_fingerprint",
      (s, dir) => {
        val (n, meanLen) = TextAnalysis.tokenStats($"text")
        t(s, dir, "documents")
          .select($"doc_id",
            TextAnalysis.fingerprint($"text").as("fp"),
            n.as("n_tokens"), meanLen.as("mean_token_len"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(toks, w -> (CAST(length(w) AS BIGINT) * 31 + ascii(substr(w, 1, 1))) % 1000000007)),
             |    (acc, v) -> (acc * 131 + v) % 1000000007) AS fp,
             |  CAST(len(toks) AS INT) AS n_tokens,
             |  CASE WHEN len(toks) > 0
             |    THEN CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             |           list_transform(toks, w -> CAST(length(w) AS BIGINT))), (a, v) -> a + v) AS DOUBLE)
             |         / CAST(len(toks) AS DOUBLE)
             |    ELSE 0.0 END AS mean_token_len
             |FROM (SELECT doc_id,
             |        CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |             ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
             |      FROM documents) ORDER BY doc_id""".stripMargin))

    // ---- training-data pipeline: dedup family ------------------------

    /** Exact dedup on content hash-groupBy (deterministic min-id
      * survivor), reported as (kept id, group size).
      */
    private val q22 = Q(
      "q22_exact_dedup",
      (s, dir) => t(s, dir, "documents")
        .groupBy($"lang", $"source")
        .agg(min($"doc_id").as("kept_doc_id"), count(lit(1)).as("group_size"))
        .orderBy("lang", "source"),
      Some("""SELECT lang, source, min(doc_id) AS kept_doc_id, count(*) AS group_size
             |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

    /** Character-trigram Jaccard near-dup pairs, blocked by language
      * (the quadratic verify only runs inside blocks).
      */
    private val q23 = Q(
      "q23_ngram_jaccard_pairs",
      (s, dir) => TextDedup.ngramJaccardPairs(
          t(s, dir, "documents").filter($"doc_id" < 100),
          idCol = "doc_id", textCol = "text", n = 3,
          threshold = 0.60, blockCols = Seq("lang"))
        .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
      Some("""WITH sh AS (
             |  SELECT doc_id, lang,
             |    list_distinct([substr(lower(text), i, 3)
             |                   FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) AS g
             |  FROM documents WHERE doc_id < 100)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             |        / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE), 6) AS jaccard
             |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
             |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             |      / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.60
             |ORDER BY id_a, id_b""".stripMargin))

    /** MinHash+LSH near-dup pairs, full replay in the oracle: portable
      * md5-prefix shingle hashes ([[TextDedup.shingleHashesPortable]], the
      * recipe q25 proved out) let DuckDB recompute shingle sets, the
      * DF-pruning stop set, all 64 min-hash permutations (constants from
      * [[TextDedup.permParams]] inlined as literals), band buckets,
      * candidates and verified Jaccard bit-for-bit. The murmur3 production
      * default stays pinned by TrainingOpsSpec's brute-force equivalence.
      */
    private val q24Sigs: String =
      TextDedup.permParams(64, 42L).zipWithIndex.map { case ((a, b), j) =>
        s"coalesce(list_min(list_transform(hs, x -> ((x % 2147483647) * $a + $b) % 2147483647)), 2147483647) AS s$j"
      }.mkString(",\n    ")

    private val q24Bands: String = (0 until 16).map { bnd =>
      val cols = (0 until 4).map(r => s"s${bnd * 4 + r}").mkString(", ")
      s"SELECT doc_id, $bnd AS band, concat_ws(',', $cols) AS bucket FROM sigs"
    }.mkString("\n  UNION ALL ")

    private val q24 = Q(
      "q24_minhash_lsh_pairs",
      (s, dir) => TextDedup.minHashLshPairs(
          t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
          n = 3, numPerm = 64, bands = 16, threshold = 0.7,
          portableHash = true,
          // the frozen replay below pins the pure ratio stop-set bar;
          // production's absolute floor (minDocFreq default) would
          // empty the stop set at oracle scale — DfFloorSpec pins the
          // floor semantics instead
          minDocFreq = 0L)
        .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH sh0 AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL THEN CAST([] AS BIGINT[]) ELSE
             |      list_distinct([CAST('0x' || substr(md5(substr(lower(text), i, 3)), 1, 8) AS BIGINT)
             |                     FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) END AS hs0
             |  FROM documents),
             |stop AS (
             |  SELECT h FROM (SELECT unnest(hs0) AS h FROM sh0)
             |  GROUP BY h
             |  HAVING count(*) > floor((SELECT count(*) FROM documents) * 0.5)),
             |pruned AS (
             |  SELECT s.doc_id, coalesce(l.hs, CAST([] AS BIGINT[])) AS hs
             |  FROM sh0 s LEFT JOIN (
             |    SELECT doc_id, list(h) AS hs
             |    FROM (SELECT doc_id, unnest(hs0) AS h FROM sh0)
             |    WHERE h NOT IN (SELECT h FROM stop)
             |    GROUP BY doc_id) l USING (doc_id)),
             |sigs AS (
             |  SELECT doc_id, hs,
             |    $q24Sigs
             |  FROM pruned),
             |banded AS (
             |  $q24Bands),
             |ok_buckets AS (
             |  SELECT band, bucket FROM banded
             |  GROUP BY band, bucket HAVING count(*) <= 2000),
             |cands AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM banded a
             |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
             |  JOIN ok_buckets ob ON ob.band = a.band AND ob.bucket = a.bucket),
             |j AS (
             |  SELECT c.id_a, c.id_b,
             |    CAST(len(list_intersect(pa.hs, pb.hs)) AS DOUBLE) AS inter,
             |    CAST(len(pa.hs) AS DOUBLE) + CAST(len(pb.hs) AS DOUBLE) AS tot
             |  FROM cands c
             |  JOIN pruned pa ON pa.doc_id = c.id_a
             |  JOIN pruned pb ON pb.doc_id = c.id_b)
             |SELECT id_a, id_b,
             |  round(CASE WHEN tot - inter > 0 THEN inter / (tot - inter) ELSE 0 END, 6) AS jaccard
             |FROM j
             |WHERE (CASE WHEN tot - inter > 0 THEN inter / (tot - inter) ELSE 0 END) >= 0.7
             |ORDER BY id_a, id_b""".stripMargin))

    /** The murmur3 production configuration of the same MinHash+LSH
      * pipeline as q24. q24 pins `portableHash = true` so DuckDB can
      * replay it bit-for-bit, but that mode pays interpreted md5-HOF
      * shingling and a wide string band-bucket key — benching only q24
      * would leave the production kernel (codegen murmur3 shingle
      * hashes, int bucket keys) unmeasured and let a regression in it go
      * unnoticed. Rows-only here: murmur3 is not SQL-replicable; the
      * mode's correctness is pinned by TrainingOpsSpec's brute-force
      * equivalence and the shared pipeline with the fully-oracled q24.
      */
    private val q24b = Q(
      "q24_production",
      (s, dir) => TextDedup.minHashLshPairs(
          t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
          n = 3, numPerm = 64, bands = 16, threshold = 0.7,
          // murmur3 must stay q24's exact twin (same pipeline, same
          // stop set, different hash) — so the same ratio-only bar
          minDocFreq = 0L)
        .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
      None)

    /** SimHash near-dup pairs. Token hashes are md5-based
      * ([[TextDedup.md5TokenHash]]) so the oracle can rebuild the exact
      * 32 SimHash bits in SQL; the production murmur3 default is pinned
      * separately by ScalaTest goldens.
      */
    private val q25Bits: String = (0 until 32).map { i =>
      s"(CASE WHEN list_reduce(list_prepend(0, list_transform(th, x -> CASE WHEN (x >> $i) & 1 = 1 THEN 1 ELSE -1 END)), (a, b) -> a + b) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n    + ")

    private val q25 = Q(
      "q25_simhash_pairs",
      (s, dir) => TextDedup.simHashPairs(
          t(s, dir, "documents").filter($"doc_id" < 200),
          idCol = "doc_id", textCol = "text",
          maxDistance = 8, blockCols = Seq("lang"),
          hasher = TextDedup.TokenHasher.PortableMd5)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH toks AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS ts
             |  FROM documents WHERE doc_id < 200),
             |hashed AS (
             |  SELECT doc_id, lang,
             |    list_transform(ts, t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS th
             |  FROM toks),
             |sh AS (SELECT doc_id, lang, $q25Bits AS h FROM hashed)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
             |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.h, b.h)) <= 8
             |ORDER BY id_a, id_b""".stripMargin))

    // ---- training-data pipeline: similarity search -------------------

    /** Brute-force cosine top-k: first 5 vectors as queries over the full
      * corpus; all math double left-folds, ranks tie-broken by id.
      */
    private val q26 = Q(
      "q26_cosine_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(
            e, e.filter($"vec_id" < 5), idCol = "vec_id", vecCol = "embedding", k = 5)
          .select($"query_id", $"rank", $"neighbor_id", round($"sim", 6).as("sim"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |           FROM embeddings),
             |q AS (SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id < 5),
             |scored AS (
             |  SELECT q.query_id, v.vec_id AS neighbor_id,
             |    list_reduce(list_prepend(0.0, list_transform(list_zip(v.vec, q.qv), x -> x[1] * x[2])), (a, b) -> a + b)
             |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(v.vec, x -> x * x)), (a, b) -> a + b))
             |       * sqrt(list_reduce(list_prepend(0.0, list_transform(q.qv, x -> x * x)), (a, b) -> a + b))) AS sim
             |  FROM v, q WHERE v.vec_id != q.query_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, sim,
             |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(sim, 6) AS sim
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

    /** Embedding near-dup pairs (cosine >= 0.9), blocked by label. */
    private val q27 = Q(
      "q27_embedding_dup_pairs",
      (s, dir) => Similarity.embeddingDupPairs(
          t(s, dir, "embeddings"), idCol = "vec_id", vecCol = "embedding",
          threshold = 0.35, blockCols = Seq("label"))
        .select($"id_a", $"id_b", round($"sim", 6).as("sim"))
        .orderBy("id_a", "id_b"),
      Some("""WITH v AS (SELECT vec_id, label,
             |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |           FROM embeddings),
             |pairs AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |    list_reduce(list_prepend(0.0, list_transform(list_zip(a.vec, b.vec), x -> x[1] * x[2])), (p, q) -> p + q)
             |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(a.vec, x -> x * x)), (p, q) -> p + q))
             |       * sqrt(list_reduce(list_prepend(0.0, list_transform(b.vec, x -> x * x)), (p, q) -> p + q))) AS sim
             |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
             |SELECT id_a, id_b, round(sim, 6) AS sim FROM pairs
             |WHERE sim >= 0.35 ORDER BY id_a, id_b""".stripMargin))

    // Sign-LSH replay pieces shared by q28 and q45: the fixed-seed
    // hyperplane matrix inlined as SQL literals (the q24 permParams
    // recipe), the bucket id as a sum of sign CASEs over the same
    // left-fold dot product Spark's `Similarity.dot` evaluates, and the
    // symmetric Hamming-1 probe expansion.
    private def sqlDot(vecExpr: String, plane: Seq[Double]): String =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($vecExpr, [${plane.mkString(", ")}]), x -> x[1] * x[2])), (a, b) -> a + b)"

    private val lshPlanes: Seq[Seq[Double]] = Similarity.hyperplaneParams(64, 8, 42L)

    private def sqlLshBucket(vecExpr: String): String =
      lshPlanes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN ${sqlDot(vecExpr, p)} > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("\n    + ")

    private val sqlProbeList: String =
      ("bkt" +: (0 until 8).map(i => s"xor(bkt, ${1L << i})")).mkString("[", ", ", "]")

    private val sqlCosine: String =
      """list_reduce(list_prepend(0.0, list_transform(list_zip(%A, %B), x -> x[1] * x[2])), (p, q) -> p + q)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(%A, x -> x * x)), (p, q) -> p + q))
        |       * sqrt(list_reduce(list_prepend(0.0, list_transform(%B, x -> x * x)), (p, q) -> p + q)))""".stripMargin

    private def sqlCos(a: String, b: String): String =
      sqlCosine.replace("%A", a).replace("%B", b)

    /** LSH-bucketed approximate top-k (scale path). Full oracle replay:
      * the hyperplanes are inlined as double literals, so DuckDB
      * recomputes sign buckets, the query-side Hamming-1 multi-probe,
      * and the exact cosine + rank inside the candidate set bit-for-bit
      * (recall vs brute force stays pinned in ScalaTest).
      */
    private val q28 = Q(
      "q28_ann_lsh_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.annTopK(
            e, e.filter($"vec_id" < 5), idCol = "vec_id", vecCol = "embedding",
            k = 5, dim = 64, bits = 8)
          .select($"query_id", $"rank", $"neighbor_id", round($"sim", 6).as("sim"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |           FROM embeddings),
             |b AS (
             |  SELECT vec_id, vec,
             |    ${sqlLshBucket("vec")} AS bkt
             |  FROM v),
             |probes AS (
             |  SELECT vec_id AS query_id, vec AS qv,
             |    unnest($sqlProbeList) AS bucket
             |  FROM b WHERE vec_id < 5),
             |scored AS (
             |  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
             |    ${sqlCos("c.vec", "p.qv")} AS sim
             |  FROM b c JOIN probes p ON c.bkt = p.bucket AND c.vec_id != p.query_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, sim,
             |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(sim, 6) AS sim
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

    // ---- training-data pipeline: multimodal columns ------------------

    /** Binary asset metadata: documents' text bytes stand in for media
      * payloads; metadata struct fields are oracle-checkable functions of
      * the bytes.
      */
    private val q29 = Q(
      "q29_multimodal_meta",
      (s, dir) => Multimodal.withAssetMetadata(
          t(s, dir, "documents").select($"doc_id", $"text".cast("binary").as("content")),
          "content", "image/stub")
        .select($"doc_id",
          $"asset_meta.media_type".as("media_type"),
          $"asset_meta.n_bytes".as("n_bytes"),
          $"asset_meta.width".as("width"),
          $"asset_meta.height".as("height"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, 'image/stub' AS media_type,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
             |  CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height
             |FROM documents ORDER BY doc_id""".stripMargin))

    /** Partition-wise stub feature extraction over binary content
      * (mapPartitions batch shape). The stub codec's byte histogram IS
      * SQL-expressible (the corpus is ASCII, so UTF-8 bytes == code
      * points, and float32 division is IEEE in both engines), giving the
      * mapPartitions plumbing a real hash-checked oracle.
      */
    private val q30 = Q(
      "q30_multimodal_features",
      (s, dir) => {
        val assets = t(s, dir, "documents")
          .select($"doc_id", $"text".cast("binary").as("content"))
        Multimodal.extractFeatures(assets, "content")
          .select($"doc_id",
            round(element_at($"features", 1).cast("double"), 6).as("f0"),
            round(element_at($"features", 2).cast("double"), 6).as("f1"),
            size($"features").as("dim"))
          .orderBy("doc_id")
      },
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL OR text = '' THEN []
             |         ELSE list_transform(string_split(text, ''), ch -> ord(ch)) END AS bys
             |  FROM documents),
             |h AS (
             |  SELECT doc_id, len(bys) AS n,
             |    len(list_filter(bys, x -> x // 32 = 0)) AS c0,
             |    len(list_filter(bys, x -> x // 32 = 1)) AS c1
             |  FROM b)
             |SELECT doc_id,
             |  round(CAST(CASE WHEN n = 0 THEN CAST(0 AS FLOAT)
             |             ELSE CAST(c0 AS FLOAT) / CAST(n AS FLOAT) END AS DOUBLE), 6) AS f0,
             |  round(CAST(CASE WHEN n = 0 THEN CAST(0 AS FLOAT)
             |             ELSE CAST(c1 AS FLOAT) / CAST(n AS FLOAT) END AS DOUBLE), 6) AS f1,
             |  CAST(8 AS INT) AS dim
             |FROM h ORDER BY doc_id""".stripMargin))

    // ---- §2.2/§2.3/§2.8 remaining reference surface ------------------

    /** P1/P2 column drop by keyword over headers (driver-side label
      * logic) — the surviving projection is the query.
      */
    private val q31 = Q(
      "q31_drop_by_keyword",
      (s, dir) => {
        val p = t(s, dir, "part")
        val dropTerms = Seq("retail", "size")
        val keep = p.columns.filterNot(c =>
          dropTerms.exists(graft.functions.TextNorm.normalize(c).contains))
        p.select(keep.map(col): _*).orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, p_name, p_brand, p_type FROM part ORDER BY p_partkey"""))

    /** P4/P5 strict rename via normalized header map: only mapped columns
      * survive, renamed.
      */
    private val q32 = Q(
      "q32_strict_rename",
      (s, dir) => {
        val renames = Map("c_custkey" -> "id_cliente", "c_name" -> "nome",
          "c_acctbal" -> "saldo")
        val c = t(s, dir, "customer")
        val cols = c.columns.flatMap(h =>
          renames.get(graft.functions.TextNorm.normalize(h)).map(n => col(h).as(n)))
        c.select(cols: _*).orderBy("id_cliente")
      },
      Some("""SELECT c_custkey AS id_cliente, c_name AS nome, c_acctbal AS saldo
             |FROM customer ORDER BY id_cliente""".stripMargin))

    /** X3/P6 bracket extraction as a data function. */
    private val q33 = Q(
      "q33_bracket_extract",
      (s, dir) => t(s, dir, "part")
        .select($"p_partkey",
          Cols.extractBrackets(concat(lit("Curso ["), $"p_brand", lit("]"))).as("marca"),
          Cols.extractBrackets($"p_type").as("tipo_sem_brackets"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_brand AS marca, trim(p_type) AS tipo_sem_brackets
             |FROM part ORDER BY p_partkey""".stripMargin))

    /** X2 entity-prefix stripping (normalize -> strip one designator). */
    private val q34 = Q(
      "q34_remove_prefixes",
      (s, dir) => t(s, dir, "customer")
        .select($"c_custkey",
          Cols.removePrefixes(concat(lit("Município de "), $"c_name")).as("nome_limpo"),
          Cols.removePrefixes(concat(lit("União das Freguesias de "), $"c_name")).as("freg_limpa"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
             |  trim(regexp_replace(regexp_replace(
             |    lower(regexp_replace(strip_accents(trim('Município de ' || c_name)), '\s+', ' ', 'g')),
             |    '^(municipio|camara municipal|cm|c m)( de| do| da| dos| das)? ', ''),
             |    '^(freguesia|junta de freguesia|uniao de freguesias|uniao das freguesias)( de| do| da| dos| das)? ', '')) AS nome_limpo,
             |  trim(regexp_replace(regexp_replace(
             |    lower(regexp_replace(strip_accents(trim('União das Freguesias de ' || c_name)), '\s+', ' ', 'g')),
             |    '^(municipio|camara municipal|cm|c m)( de| do| da| dos| das)? ', ''),
             |    '^(freguesia|junta de freguesia|uniao de freguesias|uniao das freguesias)( de| do| da| dos| das)? ', '')) AS freg_limpa
             |FROM customer ORDER BY c_custkey""".stripMargin))

    /** X5/X6/X7 sim/nao encoders (lenient, sentinel, strict-accent). */
    private val q35 = Q(
      "q35_simnao_encode",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val resposta = when($"o_orderstatus" === "O", "Sim")
          .when($"o_orderstatus" === "F", "NÃO")
          .otherwise("talvez")
        o.select($"o_orderkey",
            Cols.simNao(resposta).as("lenient"),
            Cols.mapDisp(resposta).as("sentinel"),
            Cols.simNaoStrict(resposta).as("strict"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_orderstatus = 'O' THEN 1 WHEN o_orderstatus = 'F' THEN 0 END AS lenient,
             |  CASE WHEN o_orderstatus = 'O' THEN 1 WHEN o_orderstatus = 'F' THEN 0 ELSE -1 END AS sentinel,
             |  CASE WHEN o_orderstatus = 'O' THEN 1 WHEN o_orderstatus = 'F' THEN 0 END AS strict
             |FROM orders ORDER BY o_orderkey""".stripMargin))

    /** X17/X18 entity key concat + dict-map with identity fallback. */
    private val q36 = Q(
      "q36_entity_key_map",
      (s, dir) => {
        val m = Map("building" -> "BTB", "automobile" -> "AUTO")
        val kv = m.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }
        t(s, dir, "customer")
          .select($"c_custkey",
            Cols.entityKey($"c_name", $"c_mktsegment").as("entity_key"),
            coalesce(element_at(map(kv: _*), Cols.normalizeText($"c_mktsegment")),
              $"c_mktsegment").as("segmento"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
             |  lower(trim(c_name)) || '||' || lower(trim(c_mktsegment)) AS entity_key,
             |  CASE lower(trim(c_mktsegment))
             |    WHEN 'building' THEN 'BTB' WHEN 'automobile' THEN 'AUTO'
             |    ELSE c_mktsegment END AS segmento
             |FROM customer ORDER BY c_custkey""".stripMargin))

    /** X19/X20/X22 truncate + cast-to-string + UTC->Europe/Lisbon format. */
    private val q37 = Q(
      "q37_truncate_tz",
      (s, dir) => {
        val e = t(s, dir, "events")
        e.select($"event_id",
            Cols.truncateText(substring($"props", 1, 100), 6).as("props_trunc"),
            $"value".cast("string").as("value_str"),
            date_format(from_utc_timestamp($"ts", "Europe/Lisbon"), "yyyy-MM-dd HH:mm").as("ts_lisbon"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  CASE WHEN length(substr(props, 1, 100)) > 6
             |       THEN substr(substr(props, 1, 100), 1, 6) || '...'
             |       ELSE substr(props, 1, 100) END AS props_trunc,
             |  CAST(value AS VARCHAR) AS value_str,
             |  strftime(timezone('Europe/Lisbon', timezone('UTC', ts)), '%Y-%m-%d %H:%M') AS ts_lisbon
             |FROM events ORDER BY event_id""".stripMargin))

    /** X14/X15 coalesce + NA sentinel fill. */
    private val q38 = Q(
      "q38_coalesce_sentinel",
      (s, dir) => t(s, dir, "events")
        .select($"event_id",
          coalesce(when($"value" > 100, lit(null)).otherwise($"value"), lit(-1.0)).as("v_filled"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  coalesce(CASE WHEN value > 100 THEN NULL ELSE value END, -1.0) AS v_filled
             |FROM events ORDER BY event_id""".stripMargin))

    /** F5/F6 row-mask by key + full-row equality against a chosen row. */
    private val q39 = Q(
      "q39_row_equality",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val probe = o.filter($"o_orderkey" === 1)
          .select($"o_orderstatus".as("__st"), $"o_orderpriority".as("__pr"))
        o.join(broadcast(probe),
            $"o_orderstatus" === $"__st" && $"o_orderpriority" === $"__pr")
          .select($"o_orderkey").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey FROM orders
             |WHERE (o_orderstatus, o_orderpriority) =
             |      (SELECT (o_orderstatus, o_orderpriority) FROM orders WHERE o_orderkey = 1)
             |ORDER BY o_orderkey""".stripMargin))

    /** W4 pagination: offset + limit over a total order. */
    private val q40 = Q(
      "q40_offset_limit",
      (s, dir) => t(s, dir, "orders")
        .orderBy($"o_orderkey")
        .offset(100).limit(50)
        .select($"o_orderkey", $"o_orderstatus"),
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
             |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin))

    /** J7 prefix-match theta join (startswith) — label-to-type matching
      * as a data op.
      */
    private val q41 = Q(
      "q41_prefix_theta_join",
      (s, dir) => {
        val types = t(s, dir, "part").select($"p_type").distinct()
        val prefixes = Seq("ECONOMY", "STANDARD", "PROMO", "MEDIUM")
        val pref = prefixes.foldLeft(lit(null).cast("string")) {
          (acc, p) => coalesce(acc, when($"p_type".startsWith(p), lit(p)))
        }
        types.select($"p_type", pref.as("matched_prefix")).orderBy("p_type")
      },
      Some("""SELECT p_type,
             |  CASE WHEN p_type LIKE 'ECONOMY%' THEN 'ECONOMY'
             |       WHEN p_type LIKE 'STANDARD%' THEN 'STANDARD'
             |       WHEN p_type LIKE 'PROMO%' THEN 'PROMO'
             |       WHEN p_type LIKE 'MEDIUM%' THEN 'MEDIUM' END AS matched_prefix
             |FROM (SELECT DISTINCT p_type FROM part) ORDER BY p_type""".stripMargin))

    /** M2/X8/X9/J9 comment-fusion shape on testdata: numeric comment
      * overrides the count, text comments sentence-split and counted.
      */
    private val q42 = Q(
      "q42_comment_fusion",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .withColumn("valor", $"n_chars" % 5)
          .withColumn("texto_raw",
            when($"doc_id" % 3 === 0, ($"doc_id" * 7).cast("string"))
              .when($"doc_id" % 3 === 1, substring($"text", 1, 60)))
        d.filter($"valor" > 0)
          .select($"doc_id",
            when(Cols.isNumericString($"texto_raw"),
              $"texto_raw".try_cast("double").cast("int"))
              .otherwise($"valor".cast("int")).as("n_formandos"),
            when($"texto_raw".isNotNull && !Cols.isNumericString($"texto_raw"),
              size(filter(transform(split($"texto_raw", "\\. "), x => trim(x)),
                x => x =!= lit("")))).otherwise(0).as("n_sentencas"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN regexp_matches(trim(texto_raw), '^\d+(\.\d+)?$')
             |       THEN CAST(CAST(trim(texto_raw) AS DOUBLE) AS INT)
             |       ELSE CAST(valor AS INT) END AS n_formandos,
             |  CASE WHEN texto_raw IS NOT NULL AND NOT regexp_matches(trim(texto_raw), '^\d+(\.\d+)?$')
             |       THEN len(list_filter(list_transform(regexp_split_to_array(texto_raw, '\. '), x -> trim(x)), x -> x <> ''))
             |       ELSE 0 END AS n_sentencas
             |FROM (SELECT doc_id, n_chars % 5 AS valor,
             |        CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id * 7 AS VARCHAR)
             |             WHEN doc_id % 3 = 1 THEN substr(text, 1, 60) END AS texto_raw
             |      FROM documents)
             |WHERE valor > 0 ORDER BY doc_id""".stripMargin))

    // IVF replay pieces: the FROZEN fit-once quantizer's 16 centroid
    // vectors inlined as SQL literals (the q28 hyperplane recipe applied
    // to a fitted k-means model — see IvfCentroids). L2² accumulates in
    // index order in both engines; cells rank by the (d, cell) struct
    // sort, matching the kernel's sortBy((d, i)) tie-break.
    private def sqlL2(vecExpr: String, ctr: Seq[Double]): String =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($vecExpr, [${ctr.mkString(", ")}]), x -> (x[1] - x[2]) * (x[1] - x[2]))), (a, b) -> a + b)"

    private def sqlIvfCells(vecExpr: String): String =
      IvfCentroids.centroids.zipWithIndex.map { case (c, i) =>
        s"{'d': ${sqlL2(vecExpr, c)}, 'cell': $i}"
      }.mkString("list_sort([", ",\n    ", "])")

    /** IVF ANN: frozen k-means coarse quantizer + probe-cell exact cosine
      * (the second scale path besides sign-LSH; recall vs brute force and
      * frozen==fitted-shape parity pinned in ScalaTest). Full oracle
      * replay: DuckDB recomputes cell assignment, the nProbe=4 cell
      * ranking and the exact cosine from the same centroid literals.
      */
    private val q43 = Q(
      "q43_ann_ivf_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfTopKFrozen(
            e, e.filter($"vec_id" < 5), idCol = "vec_id", vecCol = "embedding",
            k = 5, centroids = IvfCentroids.centroids, nProbe = 4)
          .select($"query_id", $"rank", $"neighbor_id", round($"sim", 6).as("sim"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |           FROM embeddings),
             |assigned AS (
             |  SELECT vec_id AS neighbor_id, vec,
             |    ${sqlIvfCells("vec")}[1].cell AS cell
             |  FROM v),
             |probes AS (
             |  SELECT vec_id AS query_id, vec AS qv,
             |    unnest(list_transform(${sqlIvfCells("vec")}[1:4], s -> s.cell)) AS cell
             |  FROM v WHERE vec_id < 5),
             |scored AS (
             |  SELECT DISTINCT p.query_id, c.neighbor_id,
             |    ${sqlCos("c.vec", "p.qv")} AS sim
             |  FROM assigned c JOIN probes p ON c.cell = p.cell AND c.neighbor_id != p.query_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, sim,
             |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(sim, 6) AS sim
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

    /** BPE-ish subword token counting (tokenizer-cost proxy). */
    private val q44 = Q(
      "q44_bpe_token_count",
      (s, dir) => t(s, dir, "documents")
        .select($"doc_id",
          Cols.bpeTokenCount($"text").as("n_subwords"),
          Cols.tokenCount($"text").as("n_words"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[[:alpha:]]+|[0-9]+|[^[:alpha:]0-9[:space:]]')) AS INT) AS n_subwords,
             |  CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             |       ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS n_words
             |FROM documents ORDER BY doc_id""".stripMargin))

    /** LSH-self-blocked embedding dedup (no external key; multi-probe
      * buckets). Full oracle replay via the inlined hyperplane literals
      * (see q28): DuckDB recomputes sign buckets, BOTH-sides Hamming-1
      * probe expansion, the 2000-cap on bucket sizes, candidate pairs
      * and the exact cosine verify bit-for-bit. (The chunked self-join
      * is an execution detail — candidate generation within a bucket is
      * exhaustive, so the plain SQL join replays it.)
      */
    private val q45 = Q(
      "q45_embedding_dup_lsh",
      (s, dir) => Similarity.embeddingDupPairsLsh(
          t(s, dir, "embeddings"), idCol = "vec_id", vecCol = "embedding",
          threshold = 0.35, dim = 64, bits = 8)
        .select($"id_a", $"id_b", round($"sim", 6).as("sim"))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |           FROM embeddings),
             |b AS (
             |  SELECT vec_id, vec,
             |    ${sqlLshBucket("vec")} AS bkt
             |  FROM v),
             |expanded AS (
             |  SELECT vec_id, unnest($sqlProbeList) AS bucket FROM b),
             |ok_buckets AS (
             |  SELECT bucket FROM expanded GROUP BY bucket HAVING count(*) <= 2000),
             |cands AS (
             |  SELECT DISTINCT e1.vec_id AS id_a, e2.vec_id AS id_b
             |  FROM expanded e1
             |  JOIN expanded e2 ON e1.bucket = e2.bucket AND e1.vec_id < e2.vec_id
             |  JOIN ok_buckets ob ON ob.bucket = e1.bucket),
             |j AS (
             |  SELECT c.id_a, c.id_b,
             |    ${sqlCos("va.vec", "vb.vec")} AS sim
             |  FROM cands c
             |  JOIN b va ON va.vec_id = c.id_a
             |  JOIN b vb ON vb.vec_id = c.id_b)
             |SELECT id_a, id_b, round(sim, 6) AS sim FROM j
             |WHERE sim >= 0.35 ORDER BY id_a, id_b""".stripMargin))

    /** Hierarchical rollup (region -> nation -> grand total): partial
      * aggregation handles every grouping level in one pass.
      */
    private val q46 = Q(
      "q46_rollup",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .rollup($"r_name", $"n_name")
          .agg(count(lit(1)).as("n_customers"),
            sum($"c_acctbal".cast("decimal(18,2)")).cast("double").as("total_bal"))
          .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
      },
      Some("""SELECT r_name, n_name, count(*) AS n_customers,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP (r_name, n_name)
             |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin))

    /** Self-blocking SimHash pairs — no external block columns. The
      * pigeonhole segment split has 100% candidate recall, so below the
      * bucket cap the result is EXACTLY brute-force all-pairs: the
      * oracle replays it as the quadratic join over the same md5 token
      * hashes (q25's portable recipe, minus the lang blocking).
      */
    private val q47 = Q(
      "q47_simhash_self_blocked",
      (s, dir) => TextDedup.simHashPairsSelfBlocked(
          t(s, dir, "documents").filter($"doc_id" < 200),
          idCol = "doc_id", textCol = "text",
          maxDistance = 8, hasher = TextDedup.TokenHasher.PortableMd5)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS ts
             |  FROM documents WHERE doc_id < 200),
             |hashed AS (
             |  SELECT doc_id,
             |    list_transform(ts, t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS th
             |  FROM toks),
             |sh AS (SELECT doc_id, $q25Bits AS h FROM hashed)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.h, b.h)) <= 8
             |ORDER BY id_a, id_b""".stripMargin))

    /** PII redaction (URL -> email -> phone placeholder chain). The
      * corpus itself is synthetic word-salad with no PII, so the query
      * appends deterministic PII-bearing tails (doc_id-derived email,
      * phone, URL) before redacting — both engines build and scrub the
      * same text, making the oracle exercise every pattern on every row.
      */
    private val q48 = Q(
      "q48_pii_redact",
      (s, dir) => t(s, dir, "documents")
        .select($"doc_id",
          TextAnalysis.redactPii(concat(
            $"text", lit(" contact user"), $"doc_id".cast("string"),
            lit("@example.com or call +351 21 555 00"), $"doc_id".cast("string"),
            lit(" or visit https://example.com/doc/"), $"doc_id".cast("string")))
            .as("clean"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(
             |    text || ' contact user' || doc_id || '@example.com or call +351 21 555 00' || doc_id || ' or visit https://example.com/doc/' || doc_id,
             |    'https?://[^\s]+', '<URL>', 'g'),
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+?\(?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS clean
             |FROM documents ORDER BY doc_id""".stripMargin))

    /** Intra-document repetition score (duplicate word-trigram
      * fraction) — the Gopher-style repetition quality filter. The
      * word-salad corpus is repetition-heavy, so the signal is
      * non-trivial on every row.
      */
    private val q49 = Q(
      "q49_repetition_score",
      (s, dir) => t(s, dir, "documents")
        .select($"doc_id",
          round(TextAnalysis.repetitionScore($"text", 3), 6).as("rep3"))
        .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS ts
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id,
             |    CASE WHEN len(ts) >= 3
             |      THEN [array_to_string(ts[i+1:i+3], ' ') FOR i IN range(0, len(ts) - 3 + 1)]
             |      ELSE [] END AS gs
             |  FROM toks)
             |SELECT doc_id,
             |  round(CASE WHEN len(gs) > 0
             |    THEN 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / CAST(len(gs) AS DOUBLE)
             |    ELSE 0.0 END, 6) AS rep3
             |FROM grams ORDER BY doc_id""".stripMargin))

    /** Near-dup clusters -> canonical survivors: n-gram Jaccard pairs
      * (the q23 recipe) fed through alternating-star connected
      * components ([[graft.operators.ConnectedComponents]]). The oracle
      * replays the pairs in SQL and resolves components with a
      * recursive-CTE min-label propagation — exhaustive reachable-label
      * enumeration is fine at oracle scale; the Spark side is the
      * O(log n)-round algorithm that holds at 100 TB.
      */
    private val q50 = Q(
      "q50_dup_clusters",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter($"doc_id" < 100)
        val pairs = TextDedup.ngramJaccardPairs(
          docs, idCol = "doc_id", textCol = "text", n = 3,
          threshold = 0.60, blockCols = Seq("lang"))
        ConnectedComponents
          .canonicalize(docs.select("doc_id"), pairs, "doc_id")
          .select($"doc_id", $"cluster_id", $"cluster_size", $"is_canonical")
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE sh AS (
             |  SELECT doc_id, lang,
             |    list_distinct([substr(lower(text), i, 3)
             |                   FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) AS g
             |  FROM documents WHERE doc_id < 100),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             |        / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.60),
             |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
             |          UNION SELECT id_b, id_a FROM pairs),
             |reach(id, lbl) AS (
             |  SELECT doc_id, doc_id FROM sh
             |  UNION
             |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v),
             |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
             |sized AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
             |SELECT cc.id AS doc_id, cc.cluster_id, sized.cluster_size,
             |  CAST(cc.id = cc.cluster_id AS INT) AS is_canonical
             |FROM cc JOIN sized USING (cluster_id)
             |ORDER BY doc_id""".stripMargin))

    /** Train/eval contamination: distinct 13-gram overlap of every
      * training doc against a held-out benchmark slice (docs with
      * doc_id % 97 == 0), the GPT-3-style decontamination filter. The
      * benchmark gram set broadcasts; the training side never shuffles
      * ([[graft.operators.Contamination]]).
      */
    private val q51 = Q(
      "q51_contamination",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Contamination.ngramContamination(
            docs.filter($"doc_id" % 97 =!= 0),
            docs.filter($"doc_id" % 97 === 0),
            idCol = "doc_id", textCol = "text", n = 13)
          .select($"doc_id", $"total_ngrams", $"overlap_ngrams",
            round($"contamination", 6).as("contamination"))
          .orderBy("doc_id")
      },
      Some("""WITH tr AS (
             |  SELECT doc_id, CASE WHEN length(text) >= 13
             |    THEN list_distinct([substr(lower(text), i, 13)
             |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
             |    ELSE [] END AS g
             |  FROM documents WHERE doc_id % 97 <> 0),
             |bg AS (
             |  SELECT DISTINCT unnest(CASE WHEN length(text) >= 13
             |    THEN list_distinct([substr(lower(text), i, 13)
             |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
             |    ELSE [] END) AS g
             |  FROM documents WHERE doc_id % 97 = 0),
             |hits AS (
             |  SELECT t.doc_id, count(*) AS overlap
             |  FROM (SELECT doc_id, unnest(g) AS g FROM tr) t JOIN bg USING (g)
             |  GROUP BY t.doc_id)
             |SELECT tr.doc_id, len(tr.g) AS total_ngrams,
             |  coalesce(hits.overlap, 0) AS overlap_ngrams,
             |  round(CASE WHEN len(tr.g) > 0
             |    THEN CAST(coalesce(hits.overlap, 0) AS DOUBLE) / CAST(len(tr.g) AS DOUBLE)
             |    ELSE 0.0 END, 6) AS contamination
             |FROM tr LEFT JOIN hits USING (doc_id)
             |ORDER BY doc_id""".stripMargin))

    /** Deterministic stratified sampling — the training-mix knob. Hash
      * of the doc id (not rand(): retry-idempotent, layout-independent)
      * against per-language keep rates. Membership replays exactly in
      * any engine with md5 ([[graft.operators.Sampling]]).
      */
    private val q52 = Q(
      "q52_stratified_sample",
      (s, dir) => Sampling.stratifiedSample(
          t(s, dir, "documents"),
          idCol = "doc_id", strataCol = "lang",
          rates = Map("en" -> 0.5, "es" -> 0.25), defaultRate = 0.1)
        .select($"doc_id", $"lang")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 <
             |  CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 2500 ELSE 1000 END
             |ORDER BY doc_id""".stripMargin))

    /** Vocabulary building: top-k tokens by document frequency. The
      * group-count partial-aggregates map-side and the top-k runs as
      * TakeOrdered (per-partition heaps, no global sort) — the 100-TB
      * path never materializes the full sorted token distribution.
      * Total-ordered tie-break on the token makes the cut deterministic.
      */
    private val q53 = Q(
      "q53_vocab_topk",
      (s, dir) => TextAnalysis.topTokensByDocFreq(
        t(s, dir, "documents"), textCol = "text", k = 200),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_distinct(
             |    CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |         ELSE string_split_regex(lower(trim(text)), '\s+') END)) AS token
             |  FROM documents)
             |SELECT token, count(*) AS doc_freq FROM toks GROUP BY token
             |ORDER BY doc_freq DESC, token LIMIT 200""".stripMargin))

    /** Sequence packing (concat-and-chunk): md5-sharded, per-shard
      * running token sum, budget-512 chunk spans. One shuffle (on the
      * shard); no global sort — shard count is the parallelism knob at
      * 100 TB ([[graft.operators.Packing]]).
      */
    private val q54 = Q(
      "q54_pack_sequences",
      (s, dir) => Packing.packSequences(
          t(s, dir, "documents"),
          idCol = "doc_id", textCol = "text", budget = 512, nShards = 8)
        .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000) % 8 AS shard,
             |    CAST(len(CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |                  ELSE string_split_regex(lower(trim(text)), '\s+') END) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, shard, n_tokens,
             |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_start
             |  FROM tk)
             |SELECT doc_id, shard, n_tokens, token_start,
             |  CAST(token_start // 512 AS BIGINT) AS chunk_first,
             |  CAST(CASE WHEN n_tokens > 0 THEN (token_start + n_tokens - 1) // 512
             |       ELSE token_start // 512 END AS BIGINT) AS chunk_last
             |FROM c ORDER BY doc_id""".stripMargin))

    /** Corpus length profile: per-language token-count distribution
      * with EXACT quantiles (`percentile`, which sorts within the
      * group — right for bounded group counts like languages; switch to
      * `percentile_approx` when the grouping key is unbounded).
      * Interpolation parity with DuckDB's quantile_cont pinned by the
      * oracle.
      */
    private val q55 = Q(
      "q55_length_profile",
      (s, dir) => t(s, dir, "documents")
        .select($"lang",
          size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          min($"n_tokens").as("min_tokens"),
          round(expr("percentile(n_tokens, 0.25)"), 6).as("p25"),
          round(expr("percentile(n_tokens, 0.5)"), 6).as("p50"),
          round(expr("percentile(n_tokens, 0.75)"), 6).as("p75"),
          max($"n_tokens").as("max_tokens"),
          round(avg($"n_tokens"), 6).as("mean_tokens"))
        .orderBy("lang"),
      Some("""WITH tk AS (
             |  SELECT lang, CAST(len(CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |    ELSE string_split_regex(lower(trim(text)), '\s+') END) AS BIGINT) AS n_tokens
             |  FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |  min(n_tokens) AS min_tokens,
             |  round(quantile_cont(n_tokens, 0.25), 6) AS p25,
             |  round(quantile_cont(n_tokens, 0.5), 6) AS p50,
             |  round(quantile_cont(n_tokens, 0.75), 6) AS p75,
             |  max(n_tokens) AS max_tokens,
             |  round(avg(n_tokens), 6) AS mean_tokens
             |FROM tk GROUP BY lang ORDER BY lang""".stripMargin))

    /** Cross-corpus (incremental-ingest) near-dup pairs: even doc_ids
      * play the kept corpus, odd doc_ids the incoming crawl. Same
      * portable-hash replay recipe as q24 — shared shingle pass, stop
      * set and bucket caps over the union — but candidates join across
      * sides only ([[TextDedup.minHashLshPairsAgainst]]).
      */
    private val q56 = Q(
      "q56_dedup_against",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TextDedup.minHashLshPairsAgainst(
            docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 =!= 0),
            idCol = "doc_id", textCol = "text",
            n = 3, numPerm = 64, bands = 16, threshold = 0.7,
            portableHash = true,
            minDocFreq = 0L) // ratio-only bar: the frozen replay's form
          .select($"id_existing", $"id_incoming", round($"jaccard", 6).as("jaccard"))
          .orderBy("id_existing", "id_incoming")
      },
      Some(s"""WITH sh0 AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL THEN CAST([] AS BIGINT[]) ELSE
             |      list_distinct([CAST('0x' || substr(md5(substr(lower(text), i, 3)), 1, 8) AS BIGINT)
             |                     FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) END AS hs0
             |  FROM documents),
             |stop AS (
             |  SELECT h FROM (SELECT unnest(hs0) AS h FROM sh0)
             |  GROUP BY h
             |  HAVING count(*) > floor((SELECT count(*) FROM documents) * 0.5)),
             |pruned AS (
             |  SELECT s.doc_id, coalesce(l.hs, CAST([] AS BIGINT[])) AS hs
             |  FROM sh0 s LEFT JOIN (
             |    SELECT doc_id, list(h) AS hs
             |    FROM (SELECT doc_id, unnest(hs0) AS h FROM sh0)
             |    WHERE h NOT IN (SELECT h FROM stop)
             |    GROUP BY doc_id) l USING (doc_id)),
             |sigs AS (
             |  SELECT doc_id, hs,
             |    $q24Sigs
             |  FROM pruned),
             |banded AS (
             |  $q24Bands),
             |ok_buckets AS (
             |  SELECT band, bucket FROM banded
             |  GROUP BY band, bucket HAVING count(*) <= 2000),
             |cands AS (
             |  SELECT DISTINCT a.doc_id AS id_existing, b.doc_id AS id_incoming
             |  FROM banded a
             |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
             |    AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
             |  JOIN ok_buckets ob ON ob.band = a.band AND ob.bucket = a.bucket),
             |j AS (
             |  SELECT c.id_existing, c.id_incoming,
             |    CAST(len(list_intersect(pa.hs, pb.hs)) AS DOUBLE) AS inter,
             |    CAST(len(pa.hs) AS DOUBLE) + CAST(len(pb.hs) AS DOUBLE) AS tot
             |  FROM cands c
             |  JOIN pruned pa ON pa.doc_id = c.id_existing
             |  JOIN pruned pb ON pb.doc_id = c.id_incoming)
             |SELECT id_existing, id_incoming,
             |  round(CASE WHEN tot - inter > 0 THEN inter / (tot - inter) ELSE 0 END, 6) AS jaccard
             |FROM j
             |WHERE (CASE WHEN tot - inter > 0 THEN inter / (tot - inter) ELSE 0 END) >= 0.7
             |ORDER BY id_existing, id_incoming""".stripMargin))


    /** THE capstone oracle: the ENTIRE curation pipeline — exact dedup,
      * portable-hash MinHash+LSH, connected-components canonicalization
      * (recursive CTE), 13-gram decontamination and sharded sequence
      * packing — replayed end-to-end in DuckDB and hash-compared. Gates
      * that are no-ops under these params (quality/repetition bounds,
      * sample rate 1.0) are elided from the SQL; every active stage is
      * the exact recipe its standalone query (q22/q24/q50/q51/q54)
      * already proves.
      */
    private val q57Sigs: String = q24Sigs
    private val q57Bands: String = (0 until 16).map { bnd =>
      val cols = (0 until 4).map(r => s"s${bnd * 4 + r}").mkString(", ")
      s"SELECT doc_id, $bnd AS band, concat_ws(',', $cols) AS bucket FROM sigs"
    }.mkString("\n  UNION ALL ")
    private val q57 = Q(
      "q57_curate_full",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val res = operators.Curation.curate(
          docs.filter($"doc_id" % 97 =!= 0).select($"doc_id", $"lang", $"text"),
          docs.filter($"doc_id" % 97 === 0),
          idCol = "doc_id", textCol = "text", langCol = "lang",
          operators.Curation.CurationParams(
            minQuality = 0.0, maxRepetition = 1.0,
            lshThreshold = 0.6, maxContamination = 0.5,
            sampleRates = Map.empty, defaultSampleRate = 1.0,
            portableHash = true,
            minDocFreq = 0L)) // ratio-only bar: the frozen replay's form
        res.docs
          .select($"doc_id", $"lang", $"shard", $"token_start",
            $"chunk_first", $"chunk_last")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
             |train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 <> 0),
             |benchdocs AS (SELECT text FROM documents WHERE doc_id % 97 = 0),
             |keep AS (SELECT min(doc_id) AS doc_id FROM train GROUP BY text),
             |surv AS (SELECT t.* FROM train t JOIN keep USING (doc_id)),
             |sh0 AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL THEN CAST([] AS BIGINT[]) ELSE
             |      list_distinct([CAST('0x' || substr(md5(substr(lower(text), i, 3)), 1, 8) AS BIGINT)
             |                     FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) END AS hs0
             |  FROM surv),
             |stop AS (
             |  SELECT h FROM (SELECT unnest(hs0) AS h FROM sh0)
             |  GROUP BY h
             |  HAVING count(*) > floor((SELECT count(*) FROM surv) * 0.5)),
             |pruned AS (
             |  SELECT s.doc_id, coalesce(l.hs, CAST([] AS BIGINT[])) AS hs
             |  FROM sh0 s LEFT JOIN (
             |    SELECT doc_id, list(h) AS hs
             |    FROM (SELECT doc_id, unnest(hs0) AS h FROM sh0)
             |    WHERE h NOT IN (SELECT h FROM stop)
             |    GROUP BY doc_id) l USING (doc_id)),
             |sigs AS (
             |  SELECT doc_id, hs,
             |    $q57Sigs
             |  FROM pruned),
             |banded AS (
             |  $q57Bands),
             |ok_buckets AS (
             |  SELECT band, bucket FROM banded
             |  GROUP BY band, bucket HAVING count(*) <= 2000),
             |cands AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM banded a
             |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
             |  JOIN ok_buckets ob ON ob.band = a.band AND ob.bucket = a.bucket),
             |pairs AS (
             |  SELECT c.id_a, c.id_b
             |  FROM cands c
             |  JOIN pruned pa ON pa.doc_id = c.id_a
             |  JOIN pruned pb ON pb.doc_id = c.id_b
             |  WHERE (CASE WHEN CAST(len(pa.hs) AS DOUBLE) + CAST(len(pb.hs) AS DOUBLE) - len(list_intersect(pa.hs, pb.hs)) > 0
             |    THEN CAST(len(list_intersect(pa.hs, pb.hs)) AS DOUBLE)
             |         / (CAST(len(pa.hs) AS DOUBLE) + CAST(len(pb.hs) AS DOUBLE) - len(list_intersect(pa.hs, pb.hs)))
             |    ELSE 0 END) >= 0.6),
             |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
             |reach(id, lbl) AS (
             |  SELECT doc_id, doc_id FROM surv
             |  UNION
             |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v),
             |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
             |canon AS (SELECT s.* FROM surv s JOIN cc ON cc.id = s.doc_id AND cc.cluster_id = s.doc_id),
             |trg AS (
             |  SELECT doc_id, CASE WHEN length(text) >= 13
             |    THEN list_distinct([substr(lower(text), i, 13)
             |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
             |    ELSE [] END AS g
             |  FROM canon),
             |bg AS (
             |  SELECT DISTINCT unnest(CASE WHEN length(text) >= 13
             |    THEN list_distinct([substr(lower(text), i, 13)
             |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
             |    ELSE [] END) AS g
             |  FROM benchdocs),
             |hits AS (
             |  SELECT t.doc_id, count(*) AS overlap
             |  FROM (SELECT doc_id, unnest(g) AS g FROM trg) t JOIN bg USING (g)
             |  GROUP BY t.doc_id),
             |clean AS (
             |  SELECT c.* FROM canon c JOIN (
             |    SELECT trg.doc_id FROM trg LEFT JOIN hits USING (doc_id)
             |    WHERE (CASE WHEN len(g) > 0
             |      THEN CAST(coalesce(overlap, 0) AS DOUBLE) / CAST(len(g) AS DOUBLE)
             |      ELSE 0.0 END) <= 0.5) k USING (doc_id)),
             |tk AS (
             |  SELECT doc_id, lang,
             |    (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000) % 8 AS shard,
             |    CAST(len(CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |                  ELSE string_split_regex(lower(trim(text)), '\\s+') END) AS BIGINT) AS n_tokens
             |  FROM clean),
             |c2 AS (
             |  SELECT doc_id, lang, shard, n_tokens,
             |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_start
             |  FROM tk)
             |SELECT doc_id, lang, shard, token_start,
             |  CAST(token_start // 512 AS BIGINT) AS chunk_first,
             |  CAST(CASE WHEN n_tokens > 0 THEN (token_start + n_tokens - 1) // 512
             |       ELSE token_start // 512 END AS BIGINT) AS chunk_last
             |FROM c2 ORDER BY doc_id""".stripMargin))

    /** C4/Gopher heuristic document filters: the per-rule signals plus
      * the composite keep gate, one kernel pass per row
      * ([[CorpusFilters.heuristicSignals]]; the expression twin is the
      * oracle recipe, parity-pinned in CorpusFiltersSpec).
      */
    private val q58 = Q(
      "q58_heuristic_filter",
      (s, dir) => CorpusFilters.heuristicFilter(
          t(s, dir, "documents"), idCol = "doc_id", textCol = "text")
        .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id, text,
             |    CASE WHEN text IS NULL THEN []
             |         ELSE list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
             |                          l -> l <> '') END AS lines,
             |    CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
             |  FROM documents),
             |sig AS (
             |  SELECT doc_id, text,
             |    CAST(len(lines) AS BIGINT) AS n_lines,
             |    CAST(len(toks) AS BIGINT) AS word_count,
             |    len(list_filter(lines, l -> regexp_matches(l, '[.!?"”]$'))) AS term_lines,
             |    len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) AS bullet_lines,
             |    len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS ellipsis_lines,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(toks, w -> CAST(length(w) AS BIGINT))), (a, v) -> a + v) AS char_sum,
             |    len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS alpha_words,
             |    (length(text) - length(replace(text, '#', ''))) +
             |    (length(text) - length(replace(text, '…', ''))) +
             |    (length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) // 3 AS symbols,
             |    CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS has_lorem,
             |    CASE WHEN contains(text, '{') THEN 1 ELSE 0 END AS has_brace,
             |    CASE WHEN contains(lower(text), 'javascript') THEN 1 ELSE 0 END AS has_javascript
             |  FROM base),
             |r AS (
             |  SELECT doc_id, n_lines, word_count, has_lorem, has_brace, has_javascript,
             |    CASE WHEN n_lines > 0 THEN CAST(term_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS terminal_punct_ratio,
             |    CASE WHEN n_lines > 0 THEN CAST(bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS bullet_line_ratio,
             |    CASE WHEN n_lines > 0 THEN CAST(ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS ellipsis_line_ratio,
             |    CASE WHEN word_count > 0 THEN CAST(char_sum AS DOUBLE) / CAST(word_count AS DOUBLE) ELSE 0.0 END AS mean_word_len,
             |    CASE WHEN word_count > 0 THEN CAST(alpha_words AS DOUBLE) / CAST(word_count AS DOUBLE) ELSE 0.0 END AS alpha_word_ratio,
             |    CASE WHEN word_count > 0 THEN CAST(symbols AS DOUBLE) / CAST(word_count AS DOUBLE) ELSE 0.0 END AS symbol_word_ratio
             |  FROM sig)
             |SELECT doc_id, n_lines, terminal_punct_ratio, bullet_line_ratio,
             |  ellipsis_line_ratio, word_count, mean_word_len, alpha_word_ratio,
             |  symbol_word_ratio, has_lorem, has_brace, has_javascript,
             |  CASE WHEN word_count BETWEEN 50 AND 100000
             |        AND mean_word_len BETWEEN 3.0 AND 10.0
             |        AND symbol_word_ratio < 0.1
             |        AND bullet_line_ratio <= 0.9
             |        AND ellipsis_line_ratio <= 0.3
             |        AND alpha_word_ratio >= 0.8
             |        AND has_lorem = 0 AND has_brace = 0 AND has_javascript = 0
             |       THEN 1 ELSE 0 END AS keep
             |FROM r ORDER BY doc_id""".stripMargin))

    /** Deterministic corpus mixing to target domain proportions
      * ([[Sampling.mixToWeights]]): weights en:0.5 / es:0.3 / de:0.2 —
      * scale-free, the binding domain keeps all rows, everything else
      * is cut by the same md5-bucket rule as q52, so membership replays
      * exactly in SQL.
      */
    private val q59 = Q(
      "q59_mix_weights",
      (s, dir) => Sampling.mixToWeights(
          t(s, dir, "documents"),
          idCol = "doc_id", domainCol = "lang",
          weights = Map("en" -> 0.5, "es" -> 0.3, "de" -> 0.2))
        .select($"doc_id", $"lang")
        .orderBy("doc_id"),
      Some("""WITH w(lang, wt) AS (VALUES
             |    ('de', CAST(0.2 AS DOUBLE)), ('en', CAST(0.5 AS DOUBLE)),
             |    ('es', CAST(0.3 AS DOUBLE))),
             |cnt AS (
             |  SELECT d.lang, wt, CAST(count(*) AS DOUBLE) AS n
             |  FROM documents d JOIN w ON w.lang = d.lang
             |  GROUP BY d.lang, wt),
             |t AS (SELECT min(n / wt) AS T FROM cnt),
             |thr AS (
             |  SELECT lang, CASE WHEN n / wt = (SELECT T FROM t) THEN 10000
             |               ELSE floor(10000.0 * wt * (SELECT T FROM t) / n) END AS th
             |  FROM cnt)
             |SELECT d.doc_id, d.lang
             |FROM documents d
             |JOIN thr ON thr.lang = d.lang
             |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < thr.th
             |ORDER BY d.doc_id""".stripMargin))

    /** Survivorship policy on near-dup clusters: same cluster machinery
      * as q50, but the canonical member is elected by max quality score
      * (ties -> least id) instead of least id — the keep-the-best-copy
      * rule ([[ConnectedComponents.canonicalizeBy]]). Cluster identity
      * (least id) is unchanged, so q50 and q60 agree on clusters and
      * differ only in who survives.
      */
    private val q60 = Q(
      "q60_canonicalize_best",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter($"doc_id" < 100)
        val scored = docs.select($"doc_id",
          TextAnalysis.qualityScore($"text").as("quality"))
        val pairs = TextDedup.ngramJaccardPairs(
          docs, idCol = "doc_id", textCol = "text", n = 3,
          threshold = 0.60, blockCols = Seq("lang"))
        ConnectedComponents
          .canonicalizeBy(scored, pairs, "doc_id", "quality")
          .select($"doc_id", $"cluster_id", $"cluster_size", $"quality",
            $"is_canonical")
          .orderBy("doc_id")
      },
      Some {
        val allStops = TextAnalysis.stopwords.flatMap(_._2).distinct
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH RECURSIVE sh AS (
           |  SELECT doc_id, lang,
           |    list_distinct([substr(lower(text), i, 3)
           |                   FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) AS g
           |  FROM documents WHERE doc_id < 100),
           |pairs AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
           |        / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.60),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |          UNION SELECT id_b, id_a FROM pairs),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM sh
           |  UNION
           |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v),
           |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           |q AS (
           |  SELECT doc_id,
           |    CASE WHEN text IS NULL OR len(toks) = 0 THEN 0.0
           |         ELSE 0.5 * least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
           |            + 0.3 * least(CAST(len(list_intersect(list_distinct(toks), $allStops)) AS DOUBLE) / 4.0, 1.0)
           |            + 0.2 * (1.0 - CASE WHEN len(toks) > 0
           |                THEN least(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
           |                           / CAST(len(toks) AS DOUBLE), 1.0)
           |                ELSE 1.0 END)
           |    END AS quality
           |  FROM (SELECT doc_id, text,
           |          CASE WHEN text IS NULL OR trim(text) = '' THEN []
           |               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
           |        FROM documents WHERE doc_id < 100)),
           |r AS (
           |  SELECT cc.id AS doc_id, cc.cluster_id, q.quality,
           |    row_number() OVER (PARTITION BY cc.cluster_id
           |                       ORDER BY q.quality DESC, cc.id) AS rn,
           |    count(*) OVER (PARTITION BY cc.cluster_id) AS cluster_size
           |  FROM cc JOIN q ON q.doc_id = cc.id)
           |SELECT doc_id, cluster_id, cluster_size, quality,
           |  CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_canonical
           |FROM r ORDER BY doc_id""".stripMargin
      })

    /** The persistable-LSH-index probe ([[operators.LshIndex]]): q56's
      * cross-corpus workload run as build-once/probe-once. SAME output
      * contract as q56, but the stop set is FROZEN from the kept (even)
      * side at build time — the index's documented staleness semantics —
      * so the oracle's stop CTE scans even docs only. Bucket caps apply
      * to the combined (kept cnt + incoming) size, which over the union
      * of banded entries is exactly q56's `HAVING count(*) <= 2000` bar.
      */
    private val q61 = Q(
      "q61_index_probe",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val index = operators.LshIndex.build(
          docs.filter($"doc_id" % 2 === 0), idCol = "doc_id", textCol = "text",
          n = 3, numPerm = 64, bands = 16,
          portableHash = true,
          minDocFreq = 0L) // ratio-only bar: the frozen replay's form
        val res = operators.LshIndex.pairsAgainst(
          index, docs.filter($"doc_id" % 2 =!= 0),
          idCol = "doc_id", textCol = "text", threshold = 0.7)
        index.unpersist()
        res.pairs
          .select($"id_existing", $"id_incoming", round($"jaccard", 6).as("jaccard"))
          .orderBy("id_existing", "id_incoming")
      },
      Some(s"""WITH sh0 AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL THEN CAST([] AS BIGINT[]) ELSE
             |      list_distinct([CAST('0x' || substr(md5(substr(lower(text), i, 3)), 1, 8) AS BIGINT)
             |                     FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) END AS hs0
             |  FROM documents),
             |stop AS (
             |  SELECT h FROM (SELECT unnest(hs0) AS h FROM sh0 WHERE doc_id % 2 = 0)
             |  GROUP BY h
             |  HAVING count(*) > floor((SELECT count(*) FROM documents WHERE doc_id % 2 = 0) * 0.5)),
             |pruned AS (
             |  SELECT s.doc_id, coalesce(l.hs, CAST([] AS BIGINT[])) AS hs
             |  FROM sh0 s LEFT JOIN (
             |    SELECT doc_id, list(h) AS hs
             |    FROM (SELECT doc_id, unnest(hs0) AS h FROM sh0)
             |    WHERE h NOT IN (SELECT h FROM stop)
             |    GROUP BY doc_id) l USING (doc_id)),
             |sigs AS (
             |  SELECT doc_id, hs,
             |    $q24Sigs
             |  FROM pruned),
             |banded AS (
             |  $q24Bands),
             |ok_buckets AS (
             |  SELECT band, bucket FROM banded
             |  GROUP BY band, bucket HAVING count(*) <= 2000),
             |cands AS (
             |  SELECT DISTINCT a.doc_id AS id_existing, b.doc_id AS id_incoming
             |  FROM banded a
             |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
             |    AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
             |  JOIN ok_buckets ob ON ob.band = a.band AND ob.bucket = a.bucket),
             |j AS (
             |  SELECT c.id_existing, c.id_incoming,
             |    CAST(len(list_intersect(pa.hs, pb.hs)) AS DOUBLE) AS inter,
             |    CAST(len(pa.hs) AS DOUBLE) + CAST(len(pb.hs) AS DOUBLE) AS tot
             |  FROM cands c
             |  JOIN pruned pa ON pa.doc_id = c.id_existing
             |  JOIN pruned pb ON pb.doc_id = c.id_incoming)
             |SELECT id_existing, id_incoming,
             |  round(CASE WHEN tot - inter > 0 THEN inter / (tot - inter) ELSE 0 END, 6) AS jaccard
             |FROM j
             |WHERE (CASE WHEN tot - inter > 0 THEN inter / (tot - inter) ELSE 0 END) >= 0.7
             |ORDER BY id_existing, id_incoming""".stripMargin))

    /** REAL image decode ([[Multimodal.ImageCodec]], JDK `javax.imageio`):
      * synthetic solid-color PNGs with dimensions/color arithmetic
      * functions of doc_id, encoded then DECODED inside the query. The
      * oracle recomputes the expected width/height/channel means
      * arithmetically — PNG is lossless, so the encode→decode loop must
      * reproduce them exactly; a hash match proves real pixel decode,
      * not byte bookkeeping.
      */
    private val q62 = Q(
      "q62_image_decode",
      (s, dir) => {
        val ids = t(s, dir, "documents").select($"doc_id").filter($"doc_id" < 500)
        val png = udf((i: Long) => Multimodal.ImageCodec.solidPng(
          1 + (i % 31).toInt, 1 + (i % 17).toInt,
          (i % 256).toInt, (i * 7 % 256).toInt, (i * 13 % 256).toInt))
        Multimodal.imageStats(ids.withColumn("img", png($"doc_id")), "img")
          .select($"doc_id",
            $"image_stats.width".as("width"), $"image_stats.height".as("height"),
            $"image_stats.mean_r".as("mean_r"), $"image_stats.mean_g".as("mean_g"),
            $"image_stats.mean_b".as("mean_b"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(1 + doc_id % 31 AS INT) AS width,
             |  CAST(1 + doc_id % 17 AS INT) AS height,
             |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
             |  CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
             |  CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
             |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin))

    /** IVF ANN against the persisted index ([[operators.IvfIndex]]):
      * build-once cell assignment, probe reads only the probed cells.
      * The output contract is identical to the one-shot q43 (assignment
      * is a pure function of the frozen quantizer), so the oracle is
      * q43's replay verbatim — a hash match proves the index path
      * returns bit-identical neighbors to the recomputing path.
      */
    private val q63 = Q(
      "q63_ivf_index_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val index = operators.IvfIndex.build(
          e, idCol = "vec_id", vecCol = "embedding",
          centroids = IvfCentroids.centroids)
        // the index cache must outlive the caller's materializing action:
        // topKAgainst returns a LAZY frame, so an unpersist here made the
        // timed count rebuild the whole index subtree a second time (r15;
        // the harness drops leftover caches after each query)
        operators.IvfIndex.topKAgainst(
            index, e.filter($"vec_id" < 5),
            idCol = "vec_id", vecCol = "embedding", k = 5, nProbe = 4)
          .select($"query_id", $"rank", $"neighbor_id", round($"sim", 6).as("sim"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |           FROM embeddings),
             |assigned AS (
             |  SELECT vec_id AS neighbor_id, vec,
             |    ${sqlIvfCells("vec")}[1].cell AS cell
             |  FROM v),
             |probes AS (
             |  SELECT vec_id AS query_id, vec AS qv,
             |    unnest(list_transform(${sqlIvfCells("vec")}[1:4], s -> s.cell)) AS cell
             |  FROM v WHERE vec_id < 5),
             |scored AS (
             |  SELECT DISTINCT p.query_id, c.neighbor_id,
             |    ${sqlCos("c.vec", "p.qv")} AS sim
             |  FROM assigned c JOIN probes p ON c.cell = p.cell AND c.neighbor_id != p.query_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, sim,
             |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(sim, 6) AS sim
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

    /** Multi-generation LSH index lifecycle ([[operators.LshIndex]]):
      * the kept (even-id) corpus is built as TWO independent generation
      * artifacts, consolidated with `mergeMany` — a pure stored-row
      * merge, no raw-text access — and the merged index probed with the
      * odd-id batch. Pruning is disabled (`maxDocFreqRatio = 1.0`) so
      * every generation's frozen stop set is empty by construction (the
      * compatibility bar mergeMany requires) and the oracle needs no
      * stop CTE; banding the union with one HAVING bar replays the
      * merged index's exact combined cap. The cross-generation
      * `globalCap` probe path is pinned equal to this in LshIndexSpec.
      *
      * Bounded to `doc_id < 500` (the q68 bounded-slice bench
      * convention, r8 VERDICT ask #2): this entry is a REGRESSION
      * instrument — three
      * full-corpus builds inside one bench query were ~30% of the whole
      * bench wall at sf0.1 while measuring nothing the bounded slice
      * doesn't. The full-fat lifecycle curve lives in ProfileScale's
      * `merge` mode (SCALE.md `merge` record).
      */
    private val q64 = Q(
      "q64_index_merge_probe",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter($"doc_id" < 500)
        def gen(m: Int) = operators.LshIndex.build(
          docs.filter($"doc_id" % 4 === m), idCol = "doc_id", textCol = "text",
          n = 3, numPerm = 64, bands = 16,
          portableHash = true, maxDocFreqRatio = 1.0)
        val (gen1, gen2) = (gen(0), gen(2))
        val merged = operators.LshIndex.mergeMany(Seq(gen1, gen2), "doc_id")
        val res = operators.LshIndex.pairsAgainst(
          merged, docs.filter($"doc_id" % 2 =!= 0),
          idCol = "doc_id", textCol = "text", threshold = 0.7)
        gen1.unpersist(); gen2.unpersist(); merged.unpersist()
        res.pairs
          .select($"id_existing", $"id_incoming", round($"jaccard", 6).as("jaccard"))
          .orderBy("id_existing", "id_incoming")
      },
      Some(s"""WITH sh0 AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL THEN CAST([] AS BIGINT[]) ELSE
             |      list_distinct([CAST('0x' || substr(md5(substr(lower(text), i, 3)), 1, 8) AS BIGINT)
             |                     FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) END AS hs
             |  FROM documents WHERE doc_id < 500),
             |sigs AS (
             |  SELECT doc_id, hs,
             |    $q24Sigs
             |  FROM sh0),
             |banded AS (
             |  $q24Bands),
             |ok_buckets AS (
             |  SELECT band, bucket FROM banded
             |  GROUP BY band, bucket HAVING count(*) <= 2000),
             |cands AS (
             |  SELECT DISTINCT a.doc_id AS id_existing, b.doc_id AS id_incoming
             |  FROM banded a
             |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
             |    AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
             |  JOIN ok_buckets ob ON ob.band = a.band AND ob.bucket = a.bucket),
             |j AS (
             |  SELECT c.id_existing, c.id_incoming,
             |    CAST(len(list_intersect(pa.hs, pb.hs)) AS DOUBLE) AS inter,
             |    CAST(len(pa.hs) AS DOUBLE) + CAST(len(pb.hs) AS DOUBLE) AS tot
             |  FROM cands c
             |  JOIN sh0 pa ON pa.doc_id = c.id_existing
             |  JOIN sh0 pb ON pb.doc_id = c.id_incoming)
             |SELECT id_existing, id_incoming,
             |  round(CASE WHEN tot - inter > 0 THEN inter / (tot - inter) ELSE 0 END, 6) AS jaccard
             |FROM j
             |WHERE (CASE WHEN tot - inter > 0 THEN inter / (tot - inter) ELSE 0 END) >= 0.7
             |ORDER BY id_existing, id_incoming""".stripMargin))

    /** Deterministic training-order shuffle
      * ([[operators.Sampling.deterministicShuffle]]): a seed-keyed md5
      * total order with exact 0-based positions — reproducible across
      * runs, retries, cluster layouts, and engines, which is why one
      * `row_number() OVER (ORDER BY md5(...))` replays the whole
      * permutation in DuckDB.
      */
    private val q65 = Q(
      "q65_deterministic_shuffle",
      (s, dir) => operators.Sampling.deterministicShuffle(
          t(s, dir, "documents").select($"doc_id"), "doc_id", seed = 42L)
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS shuffle_pos
             |FROM documents ORDER BY doc_id""".stripMargin))

    /** URL canonicalization ([[functions.UrlOps]]): synthetic crawl URLs
      * derived arithmetically from doc_id (scheme/www/port/tracking-param
      * /fragment variants all exercised), then host extraction and full
      * normalization — both replayed bit-for-bit by the oracle's regex +
      * list pipeline. The URL column itself rides along so the fixture
      * construction is hash-checked too.
      */
    private val q66 = Q(
      "q66_url_normalize",
      (s, dir) => {
        val url = concat(
          when($"doc_id" % 2 === 0, "HTTPS").otherwise("http"), lit("://"),
          when($"doc_id" % 3 === 0, "WWW.").otherwise(""),
          lit("Ex"), ($"doc_id" % 7).cast("string"), lit(".org"),
          when($"doc_id" % 5 === 0, ":443")
            .when($"doc_id" % 5 === 1, ":8080").otherwise(""),
          lit("/p/"), $"doc_id".cast("string"),
          when($"doc_id" % 4 === 0, "?utm_source=x&b=2&a=1")
            .when($"doc_id" % 4 === 1, "?b=2&a=1")
            .when($"doc_id" % 4 === 2, "?utm_campaign=z")
            .otherwise(""),
          when($"doc_id" % 6 === 0, "#frag").otherwise(""))
        t(s, dir, "documents").select($"doc_id", url.as("url"))
          .select($"doc_id", $"url",
            graft.functions.UrlOps.host($"url").as("host"),
            graft.functions.UrlOps.siteHost($"url").as("site_host"),
            graft.functions.UrlOps.normalize($"url").as("norm_url"),
            graft.functions.UrlOps.normalizeSite($"url").as("site_url"))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
             |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
             |    'Ex' || CAST(doc_id % 7 AS VARCHAR) || '.org' ||
             |    (CASE WHEN doc_id % 5 = 0 THEN ':443' WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END) ||
             |    '/p/' || CAST(doc_id AS VARCHAR) ||
             |    (CASE doc_id % 4 WHEN 0 THEN '?utm_source=x&b=2&a=1' WHEN 1 THEN '?b=2&a=1' WHEN 2 THEN '?utm_campaign=z' ELSE '' END) ||
             |    (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
             |  FROM documents),
             |parts AS (
             |  SELECT doc_id, url,
             |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
             |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1)) AS hst,
             |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]*:([0-9]+)', 1) AS prt,
             |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth,
             |    list_sort(list_filter(string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
             |      p -> p <> '' AND substr(split_part(p, '=', 1), 1, 4) <> 'utm_'
             |        AND split_part(p, '=', 1) NOT IN ('gclid', 'fbclid', 'msclkid', 'ref'))) AS kept
             |  FROM u)
             |SELECT doc_id, url, hst AS host,
             |  regexp_replace(hst, '^www\.', '') AS site_host,
             |  sch || '://' || hst ||
             |    (CASE WHEN prt <> '' AND NOT (sch = 'http' AND prt = '80')
             |               AND NOT (sch = 'https' AND prt = '443')
             |          THEN ':' || prt ELSE '' END) ||
             |    (CASE WHEN pth = '' THEN '/' ELSE pth END) ||
             |    (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END) AS norm_url,
             |  regexp_replace(
             |    sch || '://' || hst ||
             |      (CASE WHEN prt <> '' AND NOT (sch = 'http' AND prt = '80')
             |                 AND NOT (sch = 'https' AND prt = '443')
             |            THEN ':' || prt ELSE '' END) ||
             |      (CASE WHEN pth = '' THEN '/' ELSE pth END) ||
             |      (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END),
             |    '^([a-z][a-z0-9+.-]*://)www\.', '\1') AS site_url
             |FROM parts ORDER BY doc_id""".stripMargin))

    /** SimHash-index probe ([[operators.SimHashIndex]]): build the
      * Hamming-family index over the even-id half (portable md5 token
      * hash — q25's replayable recipe), probe with the odd half. The
      * oracle recomputes fingerprints, the pigeonhole segment buckets
      * (the UNION ALL below is generated from the SAME Scala bit-range
      * formula the index uses), the combined-size cap bar, and the
      * Hamming verify — the probe is exact, so candidates only
      * constrain which pairs were allowed to be verified.
      */
    private val q67Segs: String = (0 until 4).map { i =>
      val start = 32 * i / 4
      val width = 32 * (i + 1) / 4 - start
      s"SELECT doc_id, $i AS seg, ((h >> $start) & ${(1L << width) - 1}) AS val FROM sh"
    }.mkString("\n  UNION ALL ")

    private val q67 = Q(
      "q67_simhash_index_probe",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val index = operators.SimHashIndex.build(
          docs.filter($"doc_id" % 2 === 0), idCol = "doc_id", textCol = "text",
          segments = 4, hasher = TextDedup.TokenHasher.PortableMd5)
        val res = operators.SimHashIndex.pairsAgainst(
          index, docs.filter($"doc_id" % 2 =!= 0),
          idCol = "doc_id", textCol = "text", maxDistance = 3)
        index.unpersist()
        res.pairs.orderBy("id_existing", "id_incoming")
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS ts
             |  FROM documents),
             |hashed AS (
             |  SELECT doc_id,
             |    list_transform(ts, t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS th
             |  FROM toks),
             |sh AS (SELECT doc_id, $q25Bits AS h FROM hashed),
             |segs AS (
             |  $q67Segs),
             |ok AS (SELECT seg, val FROM segs GROUP BY seg, val HAVING count(*) <= 2000),
             |cands AS (
             |  SELECT DISTINCT a.doc_id AS id_existing, b.doc_id AS id_incoming
             |  FROM segs a JOIN segs b ON a.seg = b.seg AND a.val = b.val
             |    AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
             |  JOIN ok ON ok.seg = a.seg AND ok.val = a.val)
             |SELECT c.id_existing, c.id_incoming,
             |  CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
             |FROM cands c
             |JOIN sh x ON x.doc_id = c.id_existing
             |JOIN sh y ON y.doc_id = c.id_incoming
             |WHERE bit_count(xor(x.h, y.h)) <= 3
             |ORDER BY id_existing, id_incoming""".stripMargin))

    /** Incremental curation ([[operators.Curation.curateIncremental]]):
      * two nightly turns over a persisted LSH index — annotate, gate,
      * intra-batch canonicalize, index probe, decontaminate, sample,
      * append. Rows-only: the end-to-end SQL replay would restate q57's
      * full pipeline oracle; correctness is pinned by CurationSpec's
      * incremental == one-shot grow-as-you-go equivalence instead.
      *
      * The standing index is a per-JVM DISK FIXTURE (r11, VERDICT r10
      * #5): in production the kept-corpus artifact already exists on
      * storage when a nightly turn starts — rebuilding it inside the
      * timed region billed the probe's O(kept-corpus) build cost to
      * every turn (the exact cost the incremental design exists to
      * NOT pay; ~5 s of q68's 11 s at sf0.1). The timed region now
      * reads the artifact from parquet (the fresh-session reopen path
      * every index spec pins) and runs the turn. Built lazily once per
      * (sfDir); deterministic, so Verify and Bench see identical rows.
      */
    private val q68Fixture = scala.collection.concurrent.TrieMap.empty[String, String]

    /** q68's standing-index fixture, resolvable WITHOUT running the
      * query (the [[fixturePrep]] hook): in production the artifact
      * already exists when a nightly turn starts, so Bench builds it
      * before the clock (ADVICE r12 — a fixture built inside the timed
      * cold run bills the one-time build to the query's cold number).
      */
    private def q68Path(s: SparkSession, dir: String): String =
      q68Fixture.getOrElseUpdate(dir, {
        val docs = t(s, dir, "documents").filter($"doc_id" < 2000)
        val p = java.nio.file.Files.createTempDirectory("graft_q68ix")
          .toString + "/ix"
        val built = operators.LshIndex.build(
          docs.filter($"doc_id" % 97 =!= 0 && $"doc_id" % 3 === 0),
          "doc_id", "text", n = 3)
        built.write.parquet(p)
        built.unpersist()
        p
      })

    private val q68 = Q(
      "q68_incremental_curate",
      (s, dir) => {
        // bounded slice: two full pipeline turns (CC + LSH + index ops
        // per turn) on the whole table would dominate the bench at
        // sf0.1 — the q50 convention for iterative-stage queries
        val docs = t(s, dir, "documents").filter($"doc_id" < 2000)
        val bench = docs.filter($"doc_id" % 97 === 0)
        val params = operators.Curation.CurationParams(
          minQuality = 0.0, maxRepetition = 1.0, maxContamination = 0.5,
          lshThreshold = 0.6)
        val ixPath = q68Path(s, dir)
        // ONE turn: the full stage chain (annotate, gate, intra-batch
        // canonicalize, index probe, decontaminate, sample, append);
        // multi-turn sequencing semantics are CurationSpec-pinned
        val index = s.read.parquet(ixPath)
        val r = operators.Curation.curateIncremental(
          index, docs.filter($"doc_id" % 97 =!= 0 && $"doc_id" % 3 =!= 0),
          bench, "doc_id", "text", "lang", params)
        val out = r.curated.select($"doc_id", $"quality", $"repetition")
          .localCheckpoint()
        r.unpersist()
        out.select($"doc_id", round($"quality", 6).as("quality"),
            round($"repetition", 6).as("repetition"))
          .orderBy("doc_id")
      },
      None)

    /** Corpus-frequency line dedup ([[operators.LineDedup.dedupLines]]):
      * CCNet-style boilerplate removal — drop segments that recur across
      * > maxDocFreq distinct documents, rebuild docs from the survivors
      * in order. The synthetic corpus has no newlines, so the oracle
      * exercises the word-chunk segmenter; the delimiter mode is
      * spec-pinned (LineDedupSpec).
      */
    private val q69 = Q(
      "q69_line_dedup",
      (s, dir) => operators.LineDedup.dedupLines(
          t(s, dir, "documents"), "doc_id", "text",
          operators.LineDedup.WordChunkSegments(3), maxDocFreq = 4)
        .orderBy("doc_id"),
      Some("""WITH w AS (
             |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
             |), s AS (
             |  SELECT doc_id, unnest(range(CAST(ceil(len(words) / 3.0) AS BIGINT))) AS pos, words FROM w
             |), seg AS (
             |  SELECT doc_id, pos,
             |         array_to_string(words[CAST(pos*3+1 AS BIGINT):CAST(pos*3+3 AS BIGINT)], ' ') AS seg
             |  FROM s
             |), df AS (
             |  SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY seg
             |), kept AS (
             |  SELECT s2.doc_id, s2.pos, s2.seg FROM seg s2 JOIN df USING (seg) WHERE df.df <= 4
             |), rebuilt AS (
             |  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_kept, count(*) AS n_kept
             |  FROM kept GROUP BY doc_id
             |)
             |SELECT d.doc_id, coalesce(r.text_kept, '') AS text_kept,
             |       CAST(ceil(len(string_split(d.text, ' ')) / 3.0) AS BIGINT) AS n_total,
             |       coalesce(r.n_kept, 0) AS n_kept
             |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
             |ORDER BY doc_id""".stripMargin))

    /** Repeated-span duplication stats
      * ([[operators.LineDedup.duplicatedSpanStats]]): sliding 5-word
      * windows, corpus-wide occurrence counts, per-doc duplicated-window
      * ratio — the exact-substring-dedup signal measured, with removal
      * left to policy.
      */
    private val q70 = Q(
      "q70_repeated_spans",
      (s, dir) => operators.LineDedup.duplicatedSpanStats(
          t(s, dir, "documents"), "doc_id", "text", n = 5, minDup = 2)
        .orderBy("doc_id"),
      Some("""WITH w AS (
             |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
             |), s AS (
             |  SELECT doc_id, unnest(range(CAST(greatest(len(words) - 4, 0) AS BIGINT))) AS pos, words FROM w
             |), win AS (
             |  SELECT doc_id, array_to_string(words[CAST(pos+1 AS BIGINT):CAST(pos+5 AS BIGINT)], ' ') AS win FROM s
             |), cnt AS (
             |  SELECT win, count(*) AS c FROM win GROUP BY win
             |), per AS (
             |  SELECT w2.doc_id, count(*) AS nw,
             |         sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS nd
             |  FROM win w2 JOIN cnt USING (win) GROUP BY w2.doc_id
             |)
             |SELECT d.doc_id,
             |       CAST(coalesce(p.nw, 0) AS BIGINT) AS n_windows,
             |       CAST(coalesce(p.nd, 0) AS BIGINT) AS n_dup,
             |       round(CASE WHEN coalesce(p.nw, 0) > 0
             |                  THEN CAST(p.nd AS DOUBLE) / p.nw ELSE 0.0 END, 6) AS dup_ratio
             |FROM documents d LEFT JOIN per p USING (doc_id)
             |ORDER BY doc_id""".stripMargin))

    /** Segment-frequency index lifecycle ([[operators.LineFreqIndex]]):
      * the kept (doc_id %3 == 0) corpus is built as TWO generation
      * artifacts, consolidated with `mergeMany` (exact count-sum, no
      * text access), and the batch filtered against the merged index.
      * Because disjoint-doc distinct counts ADD, `stored df + batch df`
      * IS the corpus-wide frequency — so the oracle is simply the
      * one-shot q69 replay over ALL documents restricted to batch docs.
      */
    private val q71 = Q(
      "q71_linefreq_index_filter",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val seg = operators.LineDedup.WordChunkSegments(3)
        def gen(m: Int) = operators.LineFreqIndex.build(
          docs.filter($"doc_id" % 6 === m), "doc_id", "text", seg)
        val merged = operators.LineFreqIndex.mergeMany(Seq(gen(0), gen(3)))
        operators.LineFreqIndex.filterAgainst(
            merged, docs.filter($"doc_id" % 3 =!= 0), "doc_id", "text",
            maxDocFreq = 4)
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
             |), s AS (
             |  SELECT doc_id, unnest(range(CAST(ceil(len(words) / 3.0) AS BIGINT))) AS pos, words FROM w
             |), seg AS (
             |  SELECT doc_id, pos,
             |         array_to_string(words[CAST(pos*3+1 AS BIGINT):CAST(pos*3+3 AS BIGINT)], ' ') AS seg
             |  FROM s
             |), df AS (
             |  SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY seg
             |), kept AS (
             |  SELECT s2.doc_id, s2.pos, s2.seg FROM seg s2 JOIN df USING (seg) WHERE df.df <= 4
             |), rebuilt AS (
             |  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_kept, count(*) AS n_kept
             |  FROM kept GROUP BY doc_id
             |)
             |SELECT d.doc_id, coalesce(r.text_kept, '') AS text_kept,
             |       CAST(ceil(len(string_split(d.text, ' ')) / 3.0) AS BIGINT) AS n_total,
             |       coalesce(r.n_kept, 0) AS n_kept
             |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
             |WHERE d.doc_id % 3 <> 0
             |ORDER BY d.doc_id""".stripMargin))

    /** Reference-corpus LM scoring ([[operators.TextAnalysis.trainLm]] /
      * `lmScore`): add-one-smoothed char-trigram model trained on the
      * bench slice, mean negative log-likelihood per doc — the CCNet
      * model-based quality signal with the model recomputed
      * relationally by the oracle.
      */
    private val q72 = Q(
      "q72_lm_score",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val model = operators.TextAnalysis.trainLm(
          docs.filter($"doc_id" % 97 === 0), "text", n = 3)
        docs.select($"doc_id",
            round(operators.TextAnalysis.lmScore(model, $"text"), 6).as("lm_nats"))
          .orderBy("doc_id")
      },
      Some("""WITH refg AS (
             |  SELECT unnest([substr(lower(text), i, 3) FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) AS g
             |  FROM documents WHERE doc_id % 97 = 0 AND text IS NOT NULL
             |), model AS (
             |  SELECT g, count(*) AS c FROM refg GROUP BY g
             |), stats AS (
             |  SELECT CAST(sum(c) AS DOUBLE) + count(*) + 1 AS denom FROM model
             |), docg AS (
             |  SELECT doc_id, unnest([substr(lower(text), i, 3) FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) AS g
             |  FROM documents WHERE text IS NOT NULL
             |), scored AS (
             |  SELECT dg.doc_id, avg(-ln((coalesce(m.c, 0) + 1.0) / s.denom)) AS nats
             |  FROM docg dg LEFT JOIN model m USING (g) CROSS JOIN stats s
             |  GROUP BY dg.doc_id
             |)
             |SELECT d.doc_id, round(coalesce(sc.nats, 0.0), 6) AS lm_nats
             |FROM documents d LEFT JOIN scored sc USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin))

    /** Repeated-span removal ([[operators.LineDedup
      * .removeDuplicatedSpans]]): the policy half of q70 — every word
      * position inside a corpus-duplicated 5-word window is removed and
      * documents rebuilt from the survivors in order (Lee et al.'s
      * ExactSubstr dedup, word-level). The oracle replays windows,
      * counts, coverage and rebuild relationally.
      */
    private val q73 = Q(
      "q73_remove_spans",
      (s, dir) => operators.LineDedup.removeDuplicatedSpans(
          t(s, dir, "documents"), "doc_id", "text", n = 5, minDup = 2)
        .orderBy("doc_id"),
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL OR length(text) = 0 THEN []
             |         ELSE string_split(text, ' ') END AS words
             |  FROM documents
             |), s AS (
             |  SELECT doc_id, unnest(range(CAST(greatest(len(words) - 4, 0) AS BIGINT))) AS pos, words FROM w
             |), win AS (
             |  SELECT doc_id, pos, array_to_string(words[CAST(pos+1 AS BIGINT):CAST(pos+5 AS BIGINT)], ' ') AS win FROM s
             |), dup AS (
             |  SELECT win FROM win GROUP BY win HAVING count(*) >= 2
             |), cov AS (
             |  SELECT w2.doc_id, unnest([w2.pos + i FOR i IN range(5)]) AS wpos
             |  FROM win w2 JOIN dup USING (win)
             |), wd AS (
             |  SELECT doc_id, unnest(range(len(words))) AS wpos, words FROM w
             |), word AS (
             |  SELECT doc_id, wpos, words[CAST(wpos+1 AS BIGINT)] AS word FROM wd
             |), kept AS (
             |  SELECT word.doc_id, word.wpos, word.word
             |  FROM word ANTI JOIN cov USING (doc_id, wpos)
             |), rebuilt AS (
             |  SELECT doc_id, string_agg(word, ' ' ORDER BY wpos) AS text_kept, count(*) AS nk
             |  FROM kept GROUP BY doc_id
             |), tot AS (
             |  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words FROM w
             |)
             |SELECT t.doc_id, coalesce(r.text_kept, '') AS text_kept,
             |       t.n_words,
             |       t.n_words - coalesce(r.nk, 0) AS n_removed
             |FROM tot t LEFT JOIN rebuilt r USING (doc_id)
             |ORDER BY t.doc_id""".stripMargin))

    /** Window-frequency index lifecycle ([[operators.SpanFreqIndex]]):
      * the kept (doc_id % 3 == 0) corpus is built as TWO generation
      * artifacts, consolidated with `mergeMany` (exact count-sum, no
      * text access), and the batch span-filtered against the merged
      * index. Because total occurrence counts over disjoint doc sets
      * ADD, `stored cnt + batch cnt` IS the corpus-wide count — so the
      * oracle is simply the one-shot q73 replay over ALL documents
      * restricted to batch docs.
      */
    private val q74 = Q(
      "q74_spanfreq_index_remove",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        def gen(m: Int) = operators.SpanFreqIndex.build(
          docs.filter($"doc_id" % 6 === m), "doc_id", "text", n = 5)
        val merged = operators.SpanFreqIndex.mergeMany(Seq(gen(0), gen(3)))
        operators.SpanFreqIndex.removeAgainst(
            merged, docs.filter($"doc_id" % 3 =!= 0), "doc_id", "text",
            minDup = 2)
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL OR length(text) = 0 THEN []
             |         ELSE string_split(text, ' ') END AS words
             |  FROM documents
             |), s AS (
             |  SELECT doc_id, unnest(range(CAST(greatest(len(words) - 4, 0) AS BIGINT))) AS pos, words FROM w
             |), win AS (
             |  SELECT doc_id, pos, array_to_string(words[CAST(pos+1 AS BIGINT):CAST(pos+5 AS BIGINT)], ' ') AS win FROM s
             |), dup AS (
             |  SELECT win FROM win GROUP BY win HAVING count(*) >= 2
             |), cov AS (
             |  SELECT w2.doc_id, unnest([w2.pos + i FOR i IN range(5)]) AS wpos
             |  FROM win w2 JOIN dup USING (win)
             |), wd AS (
             |  SELECT doc_id, unnest(range(len(words))) AS wpos, words FROM w
             |), word AS (
             |  SELECT doc_id, wpos, words[CAST(wpos+1 AS BIGINT)] AS word FROM wd
             |), kept AS (
             |  SELECT word.doc_id, word.wpos, word.word
             |  FROM word ANTI JOIN cov USING (doc_id, wpos)
             |), rebuilt AS (
             |  SELECT doc_id, string_agg(word, ' ' ORDER BY wpos) AS text_kept, count(*) AS nk
             |  FROM kept GROUP BY doc_id
             |), tot AS (
             |  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words FROM w
             |)
             |SELECT t.doc_id, coalesce(r.text_kept, '') AS text_kept,
             |       t.n_words,
             |       t.n_words - coalesce(r.nk, 0) AS n_removed
             |FROM tot t LEFT JOIN rebuilt r USING (doc_id)
             |WHERE t.doc_id % 3 <> 0
             |ORDER BY t.doc_id""".stripMargin))

    /** Per-key document cap ([[operators.Sampling.capPerKey]]): at most
      * 10 docs per source, selected by the smallest (md5("|id"), id)
      * rank — the Common Crawl per-site cap. The salted two-phase
      * window is exact, so the oracle is the single global
      * row_number-per-key form.
      */
    private val q75 = Q(
      "q75_cap_per_source",
      (s, dir) => operators.Sampling.capPerKey(
          t(s, dir, "documents"), "source", "doc_id", maxPerKey = 10)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, text, lang, source, n_chars FROM (
             |  SELECT d.*, row_number() OVER (
             |    PARTITION BY source
             |    ORDER BY md5('|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents d)
             |WHERE rn <= 10
             |ORDER BY doc_id""".stripMargin))

    // PQ replay pieces: the frozen codebook tensor (PqCodebooks, fitted
    // once per subspace by FitPq) inlined as a 128-row VALUES relation
    // (j, c, ctr). Subspace L2 and inner products left-fold in index
    // order like the kernels; per-pair ADC sums its 8 subspace partials
    // in j order via an ordered list fold, matching the kernel's
    // table-lookup loop.
    private def sqlPqCb: String =
      operators.PqCodebooks.codebooks.zipWithIndex.flatMap { case (ctrs, j) =>
        ctrs.zipWithIndex.map { case (ctr, c) =>
          s"($j, $c, [${ctr.mkString(", ")}])"
        }
      }.mkString("(VALUES ", ",\n    ", ") cb(j, c, ctr)")

    /** Product quantization + ADC top-k ([[operators.Similarity
      * .pqEncode]]/`pqTopKAgainst`): the corpus becomes one packed int
      * per vector (32x compression) and queries rank candidates by
      * table-lookup cosine against the reconstruction. The oracle
      * replays per-subspace assignment (argmin L2, ties to the lower
      * code), the ADC inner-product and norm tables, the ordered
      * subspace sums and the final cosine division from the same
      * codebook literals.
      */
    private val q76 = Q(
      "q76_pq_adc_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val codes = operators.Similarity.pqEncode(e, "vec_id", "embedding")
        operators.Similarity.pqTopKAgainst(
            codes, e.filter($"vec_id" < 5), "vec_id", "embedding", k = 5)
          .select($"query_id", $"rank", $"neighbor_id",
            round($"adc_cos", 6).as("adc_cos"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |           FROM embeddings),
             |cb AS (SELECT * FROM $sqlPqCb),
             |dists AS (
             |  SELECT v.vec_id, cb.j, cb.c,
             |    list_reduce(list_prepend(0.0, list_transform(
             |      list_zip(v.vec[cb.j*8+1 : cb.j*8+8], cb.ctr),
             |      x -> (x[1] - x[2]) * (x[1] - x[2]))), (a, b) -> a + b) AS d
             |  FROM v CROSS JOIN cb),
             |codes AS (
             |  SELECT vec_id, j, c FROM (
             |    SELECT vec_id, j, c,
             |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
             |    FROM dists) WHERE rn = 1),
             |q AS (SELECT vec_id AS query_id, vec AS qv,
             |        sqrt(list_reduce(list_prepend(0.0, list_transform(vec, x -> x * x)),
             |             (a, b) -> a + b)) AS qn
             |      FROM v WHERE vec_id < 5),
             |parts AS (
             |  SELECT q.query_id, co.vec_id AS neighbor_id, co.j,
             |    list_reduce(list_prepend(0.0, list_transform(
             |      list_zip(q.qv[co.j*8+1 : co.j*8+8], cb.ctr),
             |      x -> x[1] * x[2])), (a, b) -> a + b) AS p,
             |    list_reduce(list_prepend(0.0, list_transform(cb.ctr, x -> x * x)),
             |      (a, b) -> a + b) AS n2p
             |  FROM q CROSS JOIN codes co JOIN cb ON cb.j = co.j AND cb.c = co.c
             |  WHERE co.vec_id != q.query_id),
             |scored AS (
             |  SELECT query_id, neighbor_id,
             |    list_reduce(list_prepend(0.0, list(p ORDER BY j)), (a, b) -> a + b)
             |      / (sqrt(list_reduce(list_prepend(0.0, list(n2p ORDER BY j)), (a, b) -> a + b))
             |         * any_value(qn)) AS adc_cos
             |  FROM parts JOIN q USING (query_id) GROUP BY query_id, neighbor_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, adc_cos,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(adc_cos, 6) AS adc_cos
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

    /** IVF-PQ index probe ([[operators.IvfPqIndex]]): coarse cells for
      * partition pruning + packed PQ codes for 32x less probe IO — the
      * production ANN serving layout. The oracle composes the q43 cell
      * replay (assignment + nProbe ranking from the IvfCentroids
      * literals) with the q76 ADC replay (codes, both tables, ordered
      * sums, cosine division from the PqCodebooks literals).
      */
    private val q77 = Q(
      "q77_ivfpq_index_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val index = operators.IvfPqIndex.build(e, "vec_id", "embedding")
        val out = operators.IvfPqIndex.topKAgainst(
            index, e.filter($"vec_id" < 5), "vec_id", "embedding",
            k = 5, nProbe = 4)
          .select($"query_id", $"rank", $"neighbor_id",
            round($"adc_cos", 6).as("adc_cos"))
          .orderBy("query_id", "rank")
        out
      },
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |           FROM embeddings),
             |cb AS (SELECT * FROM $sqlPqCb),
             |assigned AS (
             |  SELECT vec_id AS neighbor_id, ${sqlIvfCells("vec")}[1].cell AS cell FROM v),
             |codes AS (
             |  SELECT vec_id, j, c FROM (
             |    SELECT v.vec_id, cb.j, cb.c,
             |      row_number() OVER (PARTITION BY v.vec_id, cb.j ORDER BY
             |        list_reduce(list_prepend(0.0, list_transform(
             |          list_zip(v.vec[cb.j*8+1 : cb.j*8+8], cb.ctr),
             |          x -> (x[1] - x[2]) * (x[1] - x[2]))), (a, b) -> a + b), cb.c) AS rn
             |    FROM v CROSS JOIN cb) WHERE rn = 1),
             |q AS (SELECT vec_id AS query_id, vec AS qv,
             |        sqrt(list_reduce(list_prepend(0.0, list_transform(vec, x -> x * x)),
             |             (a, b) -> a + b)) AS qn
             |      FROM v WHERE vec_id < 5),
             |probes AS (
             |  SELECT vec_id AS query_id,
             |    unnest(list_transform(${sqlIvfCells("vec")}[1:4], s -> s.cell)) AS cell
             |  FROM v WHERE vec_id < 5),
             |cand AS (
             |  SELECT DISTINCT p.query_id, a.neighbor_id
             |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.neighbor_id != p.query_id),
             |parts AS (
             |  SELECT ca.query_id, ca.neighbor_id, co.j,
             |    list_reduce(list_prepend(0.0, list_transform(
             |      list_zip(q.qv[co.j*8+1 : co.j*8+8], cb.ctr),
             |      x -> x[1] * x[2])), (a, b) -> a + b) AS p,
             |    list_reduce(list_prepend(0.0, list_transform(cb.ctr, x -> x * x)),
             |      (a, b) -> a + b) AS n2p
             |  FROM cand ca
             |  JOIN codes co ON co.vec_id = ca.neighbor_id
             |  JOIN cb ON cb.j = co.j AND cb.c = co.c
             |  JOIN q ON q.query_id = ca.query_id),
             |scored AS (
             |  SELECT query_id, neighbor_id,
             |    list_reduce(list_prepend(0.0, list(p ORDER BY j)), (a, b) -> a + b)
             |      / (sqrt(list_reduce(list_prepend(0.0, list(n2p ORDER BY j)), (a, b) -> a + b))
             |         * any_value(qn)) AS adc_cos
             |  FROM parts JOIN q USING (query_id) GROUP BY query_id, neighbor_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, adc_cos,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(adc_cos, 6) AS adc_cos
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

    // BPE oracle pieces: the ENTIRE training loop replays in SQL. A
    // segmentation is a marker string `{sym}{sym}...` ('{'/'}' excluded
    // from text by a symmetric filter), so one left-to-right merge pass
    // ([[operators.Bpe]]'s mergeOnce) is exactly one non-overlapping
    // `replace(w, '{a}{b}', '{ab}')`, and each training iteration —
    // adjacent-pair counts over the vocab, argmax with (count desc,
    // pair asc) ties, one merge pass — is one CTE group, unrolled
    // numMerges times. Apply replays the learned merges in training
    // order over each doc's marker string; for a trained (well-formed)
    // merge list that equals the kernel's greedy lowest-rank apply
    // (BpeSpec pins the equivalence on every corpus word).
    private def sqlBpeTrainCtes(n: Int): String =
      (1 to n).map { i =>
        s"""seg$i AS (
           |  SELECT string_split(substr(w, 2, length(w) - 2), '}{') AS syms, c FROM s${i - 1}),
           |pc$i AS (
           |  SELECT a, b, sum(c) AS cnt FROM (
           |    SELECT unnest(syms[1:len(syms)-1]) AS a, unnest(syms[2:len(syms)]) AS b, c
           |    FROM seg$i)
           |  GROUP BY a, b),
           |m$i AS (SELECT a, b FROM pc$i ORDER BY cnt DESC, a, b LIMIT 1),
           |s$i AS (
           |  SELECT replace(w, '{' || a || '}{' || b || '}', '{' || a || b || '}') AS w, c
           |  FROM s${i - 1}, m$i)""".stripMargin
      }.mkString(",\n")

    private def sqlBpeApply(expr: String, n: Int): String =
      (1 to n).foldLeft(expr) { (acc, i) =>
        s"replace($acc, (SELECT '{'||a||'}{'||b||'}' FROM m$i), (SELECT '{'||a||b||'}' FROM m$i))"
      }

    /** Real BPE tokenizer train + apply ([[operators.Bpe]]): 8 merges
      * trained on the corpus word histogram (the one corpus-sized pass;
      * the merge loop is driver-side vocab-state fitting), then per-doc
      * token counts + leading tokens under the trained model. The
      * oracle replays TRAINING itself — histogram, 8 unrolled
      * pair-count/argmax/merge-pass iterations over marker strings —
      * and then the application, so a hash match certifies the learned
      * merges, the tie-breaks, and the greedy apply in one row set.
      */
    private val q78 = Q(
      "q78_bpe_tokenize",
      (s, dir) => {
        // '{'/'}' delimit oracle marker strings; docs containing them
        // are excluded SYMMETRICALLY on both sides (none in the fixture)
        val docs = t(s, dir, "documents")
          .filter(coalesce(!$"text".rlike("[{}]"), lit(true)))
        val model = operators.Bpe.train(docs, "text", numMerges = 8)
        docs.select($"doc_id",
            operators.Bpe.tokenCount(model, $"text").as("n_tokens"),
            array_join(slice(operators.Bpe.tokenize(model, $"text"), 1, 8), " ")
              .as("head_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""WITH words0 AS (
             |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) != '' AND NOT regexp_matches(text, '[{}]')),
             |hist AS (SELECT word, count(*) AS c FROM words0 WHERE word != '' GROUP BY word),
             |s0 AS (SELECT regexp_replace(word, '(.)', '{\\1}', 'g') || '{</w>}' AS w, c FROM hist),
             |${sqlBpeTrainCtes(8)},
             |d0 AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL OR trim(text) = '' THEN ''
             |         ELSE replace(regexp_replace(regexp_replace(trim(text), '\\s+', ' ', 'g'),
             |                      '(\\S)', '{\\1}', 'g'), ' ', '{</w>} ') || '{</w>}'
             |    END AS w
             |  FROM documents WHERE text IS NULL OR NOT regexp_matches(text, '[{}]')),
             |applied AS (
             |  SELECT doc_id, ${sqlBpeApply("d0.w", 8)} AS w FROM d0)
             |SELECT doc_id,
             |  CAST(length(w) - length(replace(w, '{', '')) AS BIGINT) AS n_tokens,
             |  array_to_string(regexp_extract_all(w, '\\{([^}]*)\\}', 1)[1:8], ' ') AS head_tokens
             |FROM applied ORDER BY doc_id""".stripMargin))

    /** Token stats under the TRAINED tokenizer
      * ([[operators.TextAnalysis.tokenStats]] BPE overload, r8 VERDICT
      * ask #4): per-doc token count and mean token CHARACTER length
      * (`</w>` marker stripped) under the same 8-merge model as q78 —
      * the real-cost numbers a length profile or packing budget should
      * use instead of the q44 regex proxy. The oracle reuses q78's
      * training replay verbatim and measures tokens string-wise on the
      * applied marker strings: count = brace pairs, payload = chars
      * minus braces minus 4 per '</w>'-suffixed token; one int division
      * per doc, so the rounded mean is bit-deterministic.
      */
    private val q79 = Q(
      "q79_bpe_token_stats",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(coalesce(!$"text".rlike("[{}]"), lit(true)))
        val model = operators.Bpe.train(docs, "text", numMerges = 8)
        val (n, meanLen) = operators.TextAnalysis.tokenStats(model, $"text")
        docs.select($"doc_id", $"lang",
            n.cast("long").as("n_tokens"),
            round(meanLen, 6).as("mean_tok_len"))
          .orderBy("doc_id")
      },
      Some(s"""WITH words0 AS (
             |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) != '' AND NOT regexp_matches(text, '[{}]')),
             |hist AS (SELECT word, count(*) AS c FROM words0 WHERE word != '' GROUP BY word),
             |s0 AS (SELECT regexp_replace(word, '(.)', '{\\1}', 'g') || '{</w>}' AS w, c FROM hist),
             |${sqlBpeTrainCtes(8)},
             |d0 AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN text IS NULL OR trim(text) = '' THEN ''
             |         ELSE replace(regexp_replace(regexp_replace(trim(text), '\\s+', ' ', 'g'),
             |                      '(\\S)', '{\\1}', 'g'), ' ', '{</w>} ') || '{</w>}'
             |    END AS w
             |  FROM documents WHERE text IS NULL OR NOT regexp_matches(text, '[{}]')),
             |applied AS (
             |  SELECT doc_id, lang, ${sqlBpeApply("d0.w", 8)} AS w FROM d0),
             |stats AS (
             |  SELECT doc_id, lang,
             |    CAST(length(w) - length(replace(w, '{', '')) AS BIGINT) AS n_tokens,
             |    CAST(length(replace(replace(replace(w, '{', ''), '}', ''), ' ', ''))
             |      - 4 * ((length(w) - length(replace(w, '</w>}', ''))) // 5) AS BIGINT) AS total_len
             |  FROM applied)
             |SELECT doc_id, lang, n_tokens,
             |  round(CASE WHEN n_tokens > 0 THEN CAST(total_len AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS mean_tok_len
             |FROM stats ORDER BY doc_id""".stripMargin))

    /** Staleness monitor replay ([[operators.LshIndex.stalenessReport]],
      * r9 T49): build a portable-hash index over the even docs, append
      * the odd docs with a late boilerplate suffix, and emit the
      * monitor's offender list — every shingle outside the frozen stop
      * set whose union-wide DF crossed the bar. The oracle replays the
      * whole loop from the q24 md5-shingle recipe: frozen stop set from
      * the evens, per-doc pruned gram sets for ALL stored docs, union
      * DF, bar filter, (df desc, sh) order, the maxOffenders limit.
      */
    private val q80 = Q(
      "q80_staleness_report",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val kept = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
        val late = docs.filter(col("doc_id") % 2 =!= 0).select(col("doc_id"),
          concat(col("text"), lit(" join our mailing list and subscribe today")).as("text"))
        val built = operators.LshIndex.build(kept, "doc_id", "text",
          n = 3, numPerm = 64, bands = 16, portableHash = true, minDocFreq = 0)
        val stale = operators.LshIndex.append(built, late, "doc_id", "text")
        val report = operators.LshIndex.stalenessReport(
          stale, maxDocFreqRatio = 0.5, minDocFreq = 0)
        built.unpersist(); stale.unpersist()
        val out = { import s.implicits._; report.offenders.toDF("sh", "df") }
        out.orderBy(col("df").desc, col("sh"))
      },
      Some("""WITH txt AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 2 = 0 THEN text
             |         ELSE text || ' join our mailing list and subscribe today' END AS text
             |  FROM documents),
             |sh0 AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL THEN CAST([] AS BIGINT[]) ELSE
             |      list_distinct([CAST('0x' || substr(md5(substr(lower(text), i, 3)), 1, 8) AS BIGINT)
             |                     FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) END AS hs
             |  FROM txt),
             |stop AS (
             |  SELECT h FROM (SELECT unnest(hs) AS h FROM sh0 WHERE doc_id % 2 = 0)
             |  GROUP BY h
             |  HAVING count(*) > floor((SELECT count(*) FROM documents WHERE doc_id % 2 = 0) * 0.5)),
             |pruned AS (
             |  SELECT doc_id, h FROM (SELECT doc_id, unnest(hs) AS h FROM sh0)
             |  WHERE h NOT IN (SELECT h FROM stop))
             |SELECT h AS sh, count(*) AS df FROM pruned GROUP BY h
             |HAVING count(*) > floor((SELECT count(*) FROM documents) * 0.5)
             |ORDER BY df DESC, sh LIMIT 100""".stripMargin))

    /** Multi-generation staleness monitor
      * ([[operators.LshIndex.stalenessReportMany]], r9): two
      * generations built over the even/odd doc halves with EMPTY frozen
      * stop sets (ratio 1.0 — the shared shingle space), monitored
      * union-wide at the 0.5 bar WITHOUT materializing the merge. The
      * oracle replays the union document-frequency count from the q80
      * md5-shingle recipe directly over ALL docs (the generation split
      * cancels out of a union count — that identity IS the operator's
      * contract, pinned field-for-field against the merged artifact in
      * LshStalenessSpec).
      */
    private val q81 = Q(
      "q81_staleness_many",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        def gen(m: Int) = operators.LshIndex.build(
          docs.filter(col("doc_id") % 2 === m).select(col("doc_id"), col("text")),
          "doc_id", "text", n = 3, numPerm = 64, bands = 16,
          portableHash = true, maxDocFreqRatio = 1.0, minDocFreq = 0)
        val (genA, genB) = (gen(0), gen(1))
        val report = operators.LshIndex.stalenessReportMany(
          Seq(genA, genB), maxDocFreqRatio = 0.5, minDocFreq = 0)
        genA.unpersist(); genB.unpersist()
        val out = { import s.implicits._; report.offenders.toDF("sh", "df") }
        out.orderBy(col("df").desc, col("sh"))
      },
      Some("""WITH sh0 AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL THEN CAST([] AS BIGINT[]) ELSE
             |      list_distinct([CAST('0x' || substr(md5(substr(lower(text), i, 3)), 1, 8) AS BIGINT)
             |                     FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) END AS hs
             |  FROM documents)
             |SELECT h AS sh, count(*) AS df FROM (SELECT unnest(hs) AS h FROM sh0)
             |GROUP BY h
             |HAVING count(*) > floor((SELECT count(*) FROM documents) * 0.5)
             |ORDER BY df DESC, sh LIMIT 100""".stripMargin))

    /** Temperature-flattened language mix
      * ([[operators.Sampling.temperatureMix]], r9): keep ∝ count^0.5 —
      * the mBERT/XLM-R sampling rule, one fused count-then-mix pass.
      * The oracle replays the exact expression shape (w = pow(n, 0.5),
      * T = min(n / w), binding-domain equality, left-associated
      * floor(10000 * w * T / n)) and the q52 md5-bucket membership
      * rule; pow(n, 0.5) is correctly-rounded sqrt in both engines, and
      * the shared association means the floors agree bit-for-bit (the
      * same discipline as q59, whose oracle this extends).
      */
    private val q82 = Q(
      "q82_temperature_mix",
      (s, dir) => Sampling.temperatureMix(
          t(s, dir, "documents"), idCol = "doc_id", domainCol = "lang",
          alpha = 0.5)
        .select($"doc_id", $"lang")
        .orderBy("doc_id"),
      Some("""WITH cnt AS (
             |  SELECT lang, CAST(count(*) AS DOUBLE) AS n,
             |         pow(CAST(count(*) AS DOUBLE), 0.5) AS wt
             |  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
             |t AS (SELECT min(n / wt) AS T FROM cnt),
             |thr AS (
             |  SELECT lang, CASE WHEN n / wt = (SELECT T FROM t) THEN 10000
             |               ELSE floor(10000.0 * wt * (SELECT T FROM t) / n) END AS th
             |  FROM cnt)
             |SELECT d.doc_id, d.lang
             |FROM documents d
             |JOIN thr ON thr.lang = d.lang
             |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < thr.th
             |ORDER BY d.doc_id""".stripMargin))

    /** SQ8 scalar-quantized ANN ([[Similarity.sq8Fit]] / `sq8Encode` /
      * `sq8TopKAgainst`, r9): the middle rung of the embedding
      * compression ladder — 4x scan compression at near-exact ranks
      * (vs PQ's 32x at centroid fidelity, q76). Full oracle: DuckDB
      * replays the per-dim min/max calibration, the floor(+0.5)
      * byte encode with edge clamps, per-dim reconstruction, and the
      * index-ordered ADC cosine folds — every float op in the same
      * association as the kernels, so scores and ranks match
      * bit-for-bit before the round(6).
      */
    private val q83 = Q(
      "q83_sq8_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (lo, hi) = Similarity.sq8Fit(e, "embedding")
        val codes = Similarity.sq8Encode(e, "vec_id", "embedding", lo, hi)
        Similarity.sq8TopKAgainst(codes, e.filter($"vec_id" < 5),
            "vec_id", "embedding", k = 5, lo, hi)
          .select($"query_id", $"rank", $"neighbor_id", round($"adc_cos", 6).as("adc_cos"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |           FROM embeddings),
             |dims AS (
             |  SELECT i, min(vec[i]) AS lo, max(vec[i]) AS hi
             |  FROM v CROSS JOIN range(1, 65) r(i)
             |  GROUP BY i),
             |cal AS (SELECT list(lo ORDER BY i) AS los, list(hi ORDER BY i) AS his FROM dims),
             |rec AS (
             |  SELECT vec_id,
             |    [los[i] + greatest(0, least(255,
             |         CAST(floor((vec[i] - los[i]) * 255.0 / (his[i] - los[i]) + 0.5) AS BIGINT)))
             |       * (his[i] - los[i]) / 255.0
             |     FOR i IN range(1, 65)] AS rvec
             |  FROM v CROSS JOIN cal),
             |q AS (
             |  SELECT vec_id AS query_id, vec AS qv,
             |    sqrt(list_reduce(list_prepend(0.0, list_transform(vec, x -> x * x)),
             |         (a, b) -> a + b)) AS qn
             |  FROM v WHERE vec_id < 5),
             |scored AS (
             |  SELECT q.query_id, r.vec_id AS neighbor_id, q.qn,
             |    list_reduce(list_prepend(0.0, list_transform(list_zip(q.qv, r.rvec),
             |        p -> p[1] * p[2])), (a, b) -> a + b) AS ip,
             |    sqrt(list_reduce(list_prepend(0.0, list_transform(r.rvec, x -> x * x)),
             |        (a, b) -> a + b)) AS rn
             |  FROM rec r CROSS JOIN q
             |  WHERE r.vec_id != q.query_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id,
             |    CASE WHEN rn * qn > 0 THEN ip / (rn * qn) ELSE 0.0 END AS adc_cos,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY CASE WHEN rn * qn > 0 THEN ip / (rn * qn) ELSE 0.0 END DESC,
             |               neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(adc_cos, 6) AS adc_cos
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

    /** BM25 ranked retrieval ([[operators.TextAnalysis.bm25TopK]], r9):
      * three documents as queries against the whole corpus, Lucene-form
      * idf, k1 = 1.2 / b = 0.75. Full oracle: DuckDB rebuilds the
      * posting statistics (tf/dl/df/avgdl) from the q44 tokenizer
      * recipe and replays every float op in the kernel's association;
      * per-(query, doc) scores fold term contributions in term-asc
      * order on BOTH sides (list_sort / array_sort before the fold),
      * so duplicate docs tie bit-exactly and the (score desc, doc_id)
      * ranking is total.
      */
    /** One BM25 replay shared by q84 (direct operator) and q85 (the
      * persisted posting index, built as two generations) — the index
      * lifecycle is EXACT, so both must hash-match the same SQL.
      */
    private val bm25OracleSql = """WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
             |  FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
             |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
             |       FROM toks GROUP BY doc_id, term),
             |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
             |       FROM toks GROUP BY doc_id),
             |stats AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS nd,
             |                 CAST((SELECT count(*) FROM toks) AS DOUBLE) AS tot),
             |dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
             |        FROM toks GROUP BY term),
             |qt AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < 3),
             |cand AS (
             |  SELECT qt.query_id, tf.doc_id, qt.term,
             |    ln(1.0 + (s.nd - dft.df + 0.5) / (dft.df + 0.5))
             |      * (tf.tf * (1.2 + 1.0))
             |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (s.tot / s.nd))) AS contrib
             |  FROM qt
             |  JOIN tf ON tf.term = qt.term
             |  JOIN dl ON dl.doc_id = tf.doc_id
             |  JOIN dft ON dft.term = qt.term
             |  CROSS JOIN stats s),
             |scored AS (
             |  SELECT query_id, doc_id,
             |    list_reduce(list_prepend(0.0, list_transform(
             |      list_sort(list({'t': term, 'c': contrib})), r -> r.c)),
             |      (a, b) -> a + b) AS score
             |  FROM cand GROUP BY query_id, doc_id),
             |ranked AS (
             |  SELECT query_id, doc_id, score,
             |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
             |  FROM scored)
             |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, round(score, 6) AS bm25
             |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

    private val q84 = Q(
      "q84_bm25_topk",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        operators.TextAnalysis.bm25TopK(
            docs, "doc_id", "text",
            docs.filter($"doc_id" < 3), "doc_id", "text", k = 10)
          .select($"query_id", $"rank", $"doc_id", round($"bm25", 6).as("bm25"))
          .orderBy("query_id", "rank")
      },
      Some(bm25OracleSql))

    /** Persisted BM25 posting index ([[operators.Bm25Index]], r9):
      * build the even half, append the odd half (exact — counts add,
      * df recomputed at probe), probe with the q84 queries. The oracle
      * IS q84's full-corpus SQL: the artifact lifecycle must be
      * indistinguishable from the direct operator, bit for bit.
      */
    private val q85 = Q(
      "q85_bm25_index_topk",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val evens = operators.Bm25Index.build(
          docs.filter($"doc_id" % 2 === 0), "doc_id", "text")
        val ix = operators.Bm25Index.append(
          evens, docs.filter($"doc_id" % 2 =!= 0), "doc_id", "text")
        // keep the index caches alive for the probe's materializing
        // action: topKAgainst is LAZY, and the old unpersist-then-return
        // forced the timed count to rebuild evens+append from scratch —
        // the probe paying the build twice (r15; harness clears caches
        // after each query)
        operators.Bm25Index.topKAgainst(
            ix, docs.filter($"doc_id" < 3), "doc_id", "text", k = 10)
          .select($"query_id", $"rank", $"doc_id", round($"bm25", 6).as("bm25"))
          .orderBy("query_id", "rank")
      },
      Some(bm25OracleSql))

    /** Trainable quality classifier
      * ([[operators.QualityClassifier]], r9): bootstrap labels from
      * the heuristic gate on a 20% slice (the classic fastText-recipe
      * shape: cheap labels -> learned smoother), train hashed-token
      * logistic regression, score the whole corpus. ROWS-ONLY BY
      * DECLARED DESIGN (the q68 convention): LBFGS training is not
      * SQL-expressible, and its float path is not bit-replayable —
      * correctness is pinned instead by QualityClassifierSpec
      * (planted-corpus holdout accuracy, bit-exact artifact
      * round-trip, typed corrupt-artifact errors).
      */
    private val q86 = Q(
      "q86_quality_classifier",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val labeled = docs.filter($"doc_id" % 5 === 0)
          .select($"text",
            when(TextAnalysis.qualityScore($"text") >= 0.5, 1.0).otherwise(0.0).as("label"))
        val model = operators.QualityClassifier.train(
          labeled, "text", "label", numFeatures = 1 << 14)
        operators.QualityClassifier.score(model, docs, "text", "q")
          .select($"doc_id", round($"q", 3).as("q"))
          .orderBy("doc_id")
      },
      None)

    /** Snapshot diff ([[operators.DatasetDiff]], r9): version B drops
      * every 7th doc, rewrites every 5th, and adds a shifted copy of
      * every 11th — the diff labels each id added/removed/changed/
      * unchanged from scan-side md5 content hashes (only (id, hash)
      * ever shuffles). Full oracle: DuckDB replays the hash and the
      * full-outer status CASE.
      */
    private val q87 = Q(
      "q87_dataset_diff",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val a = docs.select($"doc_id", $"text")
        val b = docs.filter($"doc_id" % 7 =!= 0)
          .select($"doc_id",
            when($"doc_id" % 5 === 0, concat($"text", lit(" v2"))).otherwise($"text").as("text"))
          .unionAll(docs.filter($"doc_id" % 11 === 0)
            .select(($"doc_id" + 100000).as("doc_id"), $"text"))
        operators.DatasetDiff.diff(a, b, "doc_id", Seq("text"))
          .orderBy("doc_id")
      },
      Some("""WITH av AS (
             |  SELECT doc_id, md5(concat_ws(chr(1), CAST(text AS VARCHAR))) AS ha
             |  FROM documents),
             |b0 AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
             |  FROM documents WHERE doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0),
             |bv AS (
             |  SELECT doc_id, md5(concat_ws(chr(1), CAST(text AS VARCHAR))) AS hb
             |  FROM b0)
             |SELECT coalesce(av.doc_id, bv.doc_id) AS doc_id,
             |  CASE WHEN av.doc_id IS NULL THEN 'added'
             |       WHEN bv.doc_id IS NULL THEN 'removed'
             |       WHEN ha = hb THEN 'unchanged' ELSE 'changed' END AS status
             |FROM av FULL OUTER JOIN bv ON av.doc_id = bv.doc_id
             |ORDER BY doc_id""".stripMargin))

    /** IVF-SQ8 serving index ([[operators.IvfSq8Index]], r9): the
      * middle rung of the ANN serving ladder (raw IVF 1x / SQ8 4x /
      * PQ 32x), probed at nProbe=4. Full oracle: q43's frozen-centroid
      * cell replay composed with q83's calibration + reconstruction +
      * ADC folds — the same literals, the same float associations.
      */
    private val q88 = Q(
      "q88_ivfsq8_index_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (lo, hi) = Similarity.sq8Fit(e, "embedding")
        val index = operators.IvfSq8Index.build(
          e, "vec_id", "embedding", IvfCentroids.centroids, lo, hi)
        // LAZY probe + premature unpersist = the timed action built the
        // index twice; keep the cache for the materializing count (r15)
        operators.IvfSq8Index.topKAgainst(
            index, e.filter($"vec_id" < 5), "vec_id", "embedding", k = 5, nProbe = 4)
          .select($"query_id", $"rank", $"neighbor_id", round($"adc_cos", 6).as("adc_cos"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |           FROM embeddings),
             |dims AS (
             |  SELECT i, min(vec[i]) AS lo, max(vec[i]) AS hi
             |  FROM v CROSS JOIN range(1, 65) r(i)
             |  GROUP BY i),
             |cal AS (SELECT list(lo ORDER BY i) AS los, list(hi ORDER BY i) AS his FROM dims),
             |rec AS (
             |  SELECT vec_id,
             |    [los[i] + greatest(0, least(255,
             |         CAST(floor((vec[i] - los[i]) * 255.0 / (his[i] - los[i]) + 0.5) AS BIGINT)))
             |       * (his[i] - los[i]) / 255.0
             |     FOR i IN range(1, 65)] AS rvec
             |  FROM v CROSS JOIN cal),
             |assigned AS (
             |  SELECT vec_id AS neighbor_id,
             |    ${sqlIvfCells("vec")}[1].cell AS cell
             |  FROM v),
             |probes AS (
             |  SELECT vec_id AS query_id, vec AS qv,
             |    sqrt(list_reduce(list_prepend(0.0, list_transform(vec, x -> x * x)),
             |         (a, b) -> a + b)) AS qn,
             |    unnest(list_transform(${sqlIvfCells("vec")}[1:4], s -> s.cell)) AS cell
             |  FROM v WHERE vec_id < 5),
             |scored AS (
             |  SELECT p.query_id, a.neighbor_id, p.qn,
             |    list_reduce(list_prepend(0.0, list_transform(list_zip(p.qv, r.rvec),
             |        z -> z[1] * z[2])), (x, y) -> x + y) AS ip,
             |    sqrt(list_reduce(list_prepend(0.0, list_transform(r.rvec, x -> x * x)),
             |        (x, y) -> x + y)) AS rn
             |  FROM assigned a
             |  JOIN probes p ON a.cell = p.cell AND a.neighbor_id != p.query_id
             |  JOIN rec r ON r.vec_id = a.neighbor_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id,
             |    CASE WHEN rn * qn > 0 THEN ip / (rn * qn) ELSE 0.0 END AS adc_cos,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY CASE WHEN rn * qn > 0 THEN ip / (rn * qn) ELSE 0.0 END DESC,
             |               neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(adc_cos, 6) AS adc_cos
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

    /** Deterministic train/val/test split
      * ([[operators.Sampling.assignSplit]], r9): 80/10/10 by the q52
      * md5-bucket rule — membership pinned across runs/retries/
      * engines where `randomSplit` re-draws. Full oracle: the CASE
      * over the same bucket expression.
      */
    private val q89 = Q(
      "q89_train_val_test",
      (s, dir) => Sampling.assignSplit(
          t(s, dir, "documents"), "doc_id", trainFrac = 0.8, valFrac = 0.1)
        .select($"doc_id", $"split")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 8000 THEN 'train'
             |       WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 9000 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM documents WHERE doc_id IS NOT NULL
             |ORDER BY doc_id""".stripMargin))

    /** JL random projection ([[Similarity.randomProject]], r9; output
      * reshaped r10): 64 -> 16 dims under the seeded gaussian family,
      * the cheap preprocessing step before any ANN path. The query
      * emits scalar `(vec_id, dim_idx, value)` rows — posexplode of the
      * projected vector — because the driver's oracle harness cannot
      * sort/hash an ArrayType cell (CORRECTNESS_r09: unhashable
      * ndarray). Full oracle: the 16x64 plane matrix inlines as double
      * literals (the q28 discipline) and every output dim replays as
      * the same index-ordered fold divided by sqrt(16), unnested via a
      * `range(0,16)` cross join to mirror the exploded shape.
      */
    private val q90 = Q(
      "q90_random_projection",
      (s, dir) => Similarity.randomProject(
          t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64, outDim = 16)
        .select($"vec_id",
          // `+ 0.0` normalizes IEEE negative zero: DuckDB's round keeps
          // the sign on a tiny negative rounding to zero, Spark's does
          // not — (-0.0 + 0.0) == +0.0 in both engines
          posexplode(transform($"proj", x => round(x, 6) + lit(0.0)))
            .as(Seq("dim_idx", "value")))
        .orderBy("vec_id", "dim_idx"),
      Some {
        val planes = Similarity.hyperplaneParams(64, 16, 42L)
        val elems = planes.map(p => s"round(${sqlDot("vec", p)} / sqrt(16.0), 6) + 0.0")
          .mkString(",\n    ")
        s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
           |           FROM embeddings),
           |p AS (SELECT vec_id, [$elems] AS proj FROM v)
           |SELECT vec_id, CAST(d.dim_idx AS INT) AS dim_idx,
           |  proj[CAST(d.dim_idx AS INT) + 1] AS value
           |FROM p, range(0, 16) d(dim_idx)
           |ORDER BY vec_id, dim_idx""".stripMargin
      })

    /** REAL audio decode ([[Multimodal.AudioCodec]], JDK
      * `javax.sound.sampled` — r9, the q62 discipline for audio):
      * synthetic square-wave WAVs with rate/length/amplitude arithmetic
      * functions of doc_id, encoded then DECODED inside the query. The
      * square wave's statistics are exact dyadic rationals
      * (rms == peak == amplitude/32768; duration one exact division),
      * so the oracle recomputes them arithmetically — a hash match
      * proves real PCM sample decode, not byte bookkeeping.
      */
    private val q91 = Q(
      "q91_audio_decode",
      (s, dir) => {
        val ids = t(s, dir, "documents").select($"doc_id").filter($"doc_id" < 500)
        val wav = udf((i: Long) => Multimodal.AudioCodec.squareWav(
          8000 + (i % 3).toInt * 4000,
          100 + (i % 50).toInt,
          (i * 37 % 32000).toInt))
        Multimodal.audioStats(ids.withColumn("wav", wav($"doc_id")), "wav")
          .select($"doc_id",
            $"audio_stats.sample_rate".as("sample_rate"),
            $"audio_stats.n_frames".as("n_frames"),
            $"audio_stats.duration_s".as("duration_s"),
            $"audio_stats.rms".as("rms"),
            $"audio_stats.peak".as("peak"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             |  CAST(100 + doc_id % 50 AS BIGINT) AS n_frames,
             |  CAST(100 + doc_id % 50 AS DOUBLE) / (8000 + (doc_id % 3) * 4000) AS duration_s,
             |  CAST((doc_id * 37) % 32000 AS DOUBLE) / 32768.0 AS rms,
             |  CAST((doc_id * 37) % 32000 AS DOUBLE) / 32768.0 AS peak
             |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin))

    /** q92's constructed-language fixture: five languages, each a fixed
      * 10-word stopword phrase with near-disjoint trigram
      * distributions. Shared by the Spark query, the DuckDB oracle,
      * and LangIdSeparationSpec.
      */
    private[graft] val Q92Langs: Seq[(String, String)] = Seq(
      "de" -> "der und das nicht ich ein sie mit auf für",
      "en" -> "the and of to in that it is was for",
      "es" -> "el la que y en un ser se no por",
      "fr" -> "le un être et il avoir ne je son dans",
      "nl" -> "de het een van ik niet dat die hij zij")

    /** Model-based language ID ([[operators.TextAnalysis.langIdLm]],
      * r9; fixture rebuilt r10 — VERDICT r9 ask #3): one char-trigram
      * LM per language, trained on the doc_id%7 slice, every document
      * classified by ROUNDED-argmin mean NLL with lang-asc tie-break.
      *
      * The corpus is CONSTRUCTED in-query (the q91 discipline): each
      * doc's language is doc_id%5 and its text is a doc_id-dependent
      * rotation of that language's fixed 10-word stopword phrase —
      * deterministic, arithmetic, and genuinely language-coherent, so
      * the oracle's hash match certifies not just the argmin mechanics
      * but that training on language-coherent slices SEPARATES them:
      * `lang` (constructed truth) and `pred_lang` ride in the same
      * hashed rows, and LangIdSeparationSpec pins pred == lang on all
      * 700 docs (the r9 fixture's random `lang` label made accuracy
      * prior-level by construction). Full oracle: the same text
      * construction via list rotation, then five q72-style
      * model/stats/nats CTE triples, unioned, ranked by (nats, cand) —
      * the argmin replays relationally because the round(6) happens
      * BEFORE the comparison on both sides.
      */
    private val q92 = Q(
      "q92_langid_lm",
      (s, dir) => {
        val langs = Q92Langs.map(_._1)
        val idx = ($"doc_id" % 5).cast("int")
        val langCol = Q92Langs.zipWithIndex
          .foldLeft(lit(langs.head)) { case (acc, ((l, _), i)) =>
            when(idx === i, l).otherwise(acc) }
        val words = split(Q92Langs.zipWithIndex
          .foldLeft(lit(Q92Langs.head._2)) { case (acc, ((_, b), i)) =>
            when(idx === i, b).otherwise(acc) }, " ")
        val k = (expr("doc_id div 5") % 10).cast("int")
        val textCol = array_join(
          concat(slice(words, k + lit(1), lit(10) - k), slice(words, lit(1), k)), " ")
        val docs = t(s, dir, "documents").filter($"doc_id" < 700)
          .select($"doc_id", langCol.as("lang"), textCol.as("text"))
        val train = docs.filter($"doc_id" % 7 === 0)
        val models = langs.map(l =>
          l -> operators.TextAnalysis.trainLm(train.filter($"lang" === l), "text", n = 3))
        docs.select($"doc_id", $"lang",
            operators.TextAnalysis.langIdLm(models, $"text").as("pred_lang"))
          .orderBy("doc_id")
      },
      Some {
        val langs = Q92Langs.map(_._1)
        val langList = langs.map(l => s"'$l'").mkString(", ")
        val baseList = Q92Langs.map { case (_, b) => s"'$b'" }.mkString(", ")
        val perLang = langs.map { l =>
          s"""model_$l AS (
             |  SELECT g, count(*) AS c FROM (
             |    SELECT unnest([substr(lower(text), i, 3) FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) AS g
             |    FROM docs WHERE doc_id % 7 = 0 AND lang = '$l')
             |  GROUP BY g),
             |stats_$l AS (SELECT CAST(sum(c) AS DOUBLE) + count(*) + 1 AS denom FROM model_$l),
             |nats_$l AS (
             |  SELECT dg.doc_id, round(avg(-ln((coalesce(m.c, 0) + 1.0) / s.denom)), 6) AS nats
             |  FROM docg dg LEFT JOIN model_$l m USING (g) CROSS JOIN stats_$l s
             |  GROUP BY dg.doc_id)""".stripMargin
        }.mkString(",\n")
        val unioned = langs.map(l =>
          s"SELECT doc_id, '$l' AS cand, nats FROM nats_$l").mkString("\n  UNION ALL\n  ")
        s"""WITH d AS (
           |  SELECT doc_id,
           |    [$langList][CAST(doc_id % 5 AS INT) + 1] AS lang,
           |    str_split([$baseList][CAST(doc_id % 5 AS INT) + 1], ' ') AS w,
           |    CAST((doc_id // 5) % 10 AS INT) AS k
           |  FROM documents WHERE doc_id < 700),
           |docs AS (
           |  SELECT doc_id, lang,
           |    array_to_string(list_slice(w, k + 1, 10) || list_slice(w, 1, k), ' ') AS text
           |  FROM d),
           |docg AS (
           |  SELECT doc_id, unnest([substr(lower(text), i, 3) FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) AS g
           |  FROM docs),
           |$perLang,
           |all_nats AS (
           |  $unioned),
           |ranked AS (
           |  SELECT doc_id, cand,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY nats, cand) AS rn
           |  FROM all_nats)
           |SELECT d.doc_id, d.lang, r.cand AS pred_lang
           |FROM docs d JOIN ranked r ON r.doc_id = d.doc_id AND r.rn = 1
           |ORDER BY d.doc_id""".stripMargin
      })

    /** Perceptual image hash ([[Multimodal.ImageCodec.dHash]], r9):
      * constructed 9x8 grayscale PNGs whose pixel grid is an arithmetic
      * function of doc_id, encoded then dHashed inside the query; the
      * hash is emitted as its 64-bit binary string. The oracle
      * recomputes every gradient comparison arithmetically (PNG is
      * lossless and the 9x8 input skips block averaging) — a hash match
      * proves real pixel decode + the exact bit layout, the
      * content-identity signal [[Multimodal.imageDupPairs]] dedups on.
      */
    private val q93 = Q(
      "q93_image_dhash",
      (s, dir) => {
        val ids = t(s, dir, "documents").select($"doc_id").filter($"doc_id" < 500)
        val png = udf((i: Long) => Multimodal.ImageCodec.grayPng(
          Array.tabulate(8, 9)((y, x) => ((i * (x + 2) + y * 7) % 251).toInt)))
        Multimodal.imageDHash(ids.withColumn("img", png($"doc_id")), "img")
          .select($"doc_id", lpad(bin($"dhash"), 64, "0").as("dhash_bits"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  array_to_string([
             |    CASE WHEN (doc_id * ((b % 8) + 3) + (b // 8) * 7) % 251
             |            > (doc_id * ((b % 8) + 2) + (b // 8) * 7) % 251
             |         THEN '1' ELSE '0' END
             |    FOR b IN range(63, -1, -1)], '') AS dhash_bits
             |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin))

    /** Generic Hamming index over perceptual hashes
      * ([[operators.HammingIndex]], r9): the q93 constructed images'
      * dHashes, evens built as the index, odds probed at distance <= 3
      * (the image-dedup serving path). Full oracle: per-doc hash bits
      * from q93's arithmetic replay, 4x16-bit pigeonhole blocking as
      * substring equality, and the Hamming verify as a
      * differing-position count — the whole probe relationally, caps
      * untouched (max bucket ~250 « 10000).
      */
    private val q94 = Q(
      "q94_hamming_index_pairs",
      (s, dir) => {
        val ids = t(s, dir, "documents").select($"doc_id").filter($"doc_id" < 500)
        val png = udf((i: Long) => Multimodal.ImageCodec.grayPng(
          Array.tabulate(8, 9)((y, x) => ((i * (x + 2) + y * 7) % 251).toInt)))
        val hashed = Multimodal.imageDHash(ids.withColumn("img", png($"doc_id")), "img")
          .select($"doc_id", $"dhash")
        val ix = operators.HammingIndex.build(
          hashed.filter($"doc_id" % 2 === 0), "doc_id", "dhash")
        val probe = operators.HammingIndex.pairsAgainst(
          ix, hashed.filter($"doc_id" % 2 =!= 0), "doc_id", "dhash", maxDistance = 3)
        val res = probe.pairs.orderBy("id_existing", "id_incoming")
        ix.unpersist()
        res
      },
      Some("""WITH bits AS (
             |  SELECT doc_id,
             |    array_to_string([
             |      CASE WHEN (doc_id * ((b % 8) + 3) + (b // 8) * 7) % 251
             |              > (doc_id * ((b % 8) + 2) + (b // 8) * 7) % 251
             |           THEN '1' ELSE '0' END
             |      FOR b IN range(63, -1, -1)], '') AS bs
             |  FROM documents WHERE doc_id < 500),
             |cand AS (
             |  SELECT a.doc_id AS id_existing, b.doc_id AS id_incoming,
             |         a.bs AS ba, b.bs AS bb
             |  FROM bits a JOIN bits b
             |    ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
             |   AND (substr(a.bs, 1, 16) = substr(b.bs, 1, 16)
             |     OR substr(a.bs, 17, 16) = substr(b.bs, 17, 16)
             |     OR substr(a.bs, 33, 16) = substr(b.bs, 33, 16)
             |     OR substr(a.bs, 49, 16) = substr(b.bs, 49, 16))),
             |h AS (
             |  SELECT id_existing, id_incoming,
             |    CAST(len([i FOR i IN range(1, 65) IF ba[i:i] != bb[i:i]]) AS INT) AS hamming
             |  FROM cand)
             |SELECT id_existing, id_incoming, hamming FROM h
             |WHERE hamming <= 3
             |ORDER BY id_existing, id_incoming""".stripMargin))

    /** BM25 posting-skew monitor
      * ([[operators.Bm25Index.postingSkewReport]], r9): the top posting
      * lists of the built artifact — per-term posting counts are the
      * term document frequencies, so the oracle replays them straight
      * from the q84 tokenizer recipe.
      */
    private val q95 = Q(
      "q95_bm25_posting_skew",
      (s, dir) => {
        val ix = operators.Bm25Index.build(t(s, dir, "documents"), "doc_id", "text")
        val r = operators.Bm25Index.postingSkewReport(ix, topK = 20)
        ix.unpersist()
        val out = { import s.implicits._; r.top.toDF("term", "n_postings") }
        out.orderBy(col("n_postings").desc, col("term"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
             |  FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
             |tf AS (SELECT doc_id, term FROM toks GROUP BY doc_id, term)
             |SELECT term, CAST(count(*) AS BIGINT) AS n_postings
             |FROM tf GROUP BY term
             |ORDER BY n_postings DESC, term LIMIT 20""".stripMargin))

    /** Audio energy-envelope hash ([[Multimodal.AudioCodec.eHash]],
      * r9 — the q93 discipline for audio): 65-block square-wave WAVs
      * with per-block amplitudes arithmetic in doc_id, encoded then
      * eHashed inside the query; block energies are exact dyadic
      * (`framesPerBlock * (amp/32768)^2`), so every envelope-gradient
      * bit replays as a pure integer comparison. A hash match proves
      * real PCM decode + the exact window/bit layout — the signal
      * audio near-dup dedup keys on (gain-invariant where byte md5 is
      * not).
      */
    private val q96 = Q(
      "q96_audio_ehash",
      (s, dir) => {
        val ids = t(s, dir, "documents").select($"doc_id").filter($"doc_id" < 500)
        val wav = udf((i: Long) => Multimodal.AudioCodec.blockWav(
          8000, framesPerBlock = 4,
          (0 until 65).map(b => ((i * (b + 2)) % 97).toInt)))
        Multimodal.audioEHash(ids.withColumn("wav", wav($"doc_id")), "wav")
          .select($"doc_id", lpad(bin($"ehash"), 64, "0").as("ehash_bits"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  array_to_string([
             |    CASE WHEN (doc_id * (b + 3)) % 97 > (doc_id * (b + 2)) % 97
             |         THEN '1' ELSE '0' END
             |    FOR b IN range(63, -1, -1)], '') AS ehash_bits
             |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin))

    /** Header-only MP4 video metadata ([[Multimodal.VideoCodec]], r10 —
      * the q91 discipline for video): minimal valid MP4 headers whose
      * dimensions/timescale/duration are arithmetic functions of
      * doc_id, constructed then PARSED inside the query via real
      * ISO-BMFF box walking (`ftyp` sniff, `moov/mvhd` timescale +
      * duration, `moov/trak/tkhd` 16.16 fixed-point dims). The oracle
      * recomputes every field arithmetically — a hash match proves the
      * byte-level box parse, the metadata half of the one remaining
      * video stub. duration_s is the same IEEE double division on both
      * sides.
      */
    private val q97 = Q(
      "q97_video_meta",
      (s, dir) => {
        val ids = t(s, dir, "documents").select($"doc_id").filter($"doc_id" < 500)
        val mp4 = udf((i: Long) => Multimodal.VideoCodec.minimalMp4(
          (i % 600).toInt + 16,
          (i % 400).toInt + 16,
          600 + (i % 3).toInt * 400,
          (i * 13 % 90000).toInt + 1000))
        Multimodal.withVideoMetadata(ids.withColumn("mp4", mp4($"doc_id")), "mp4")
          .select($"doc_id",
            $"video_meta.media_type".as("media_type"),
            $"video_meta.width".as("width"),
            $"video_meta.height".as("height"),
            $"video_meta.timescale".as("timescale"),
            $"video_meta.duration".as("duration"),
            $"video_meta.duration_s".as("duration_s"),
            $"video_meta.n_tracks".as("n_tracks"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  'video/mp4' AS media_type,
             |  CAST(doc_id % 600 + 16 AS INT) AS width,
             |  CAST(doc_id % 400 + 16 AS INT) AS height,
             |  CAST(600 + (doc_id % 3) * 400 AS BIGINT) AS timescale,
             |  CAST((doc_id * 13) % 90000 + 1000 AS BIGINT) AS duration,
             |  CAST((doc_id * 13) % 90000 + 1000 AS DOUBLE)
             |    / (600 + (doc_id % 3) * 400) AS duration_s,
             |  CAST(1 AS INT) AS n_tracks
             |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin))

    /** Composed media-curation turn ([[operators.Curation.curateMedia]],
      * r10 — VERDICT r9 "next" #7 as a driver-checked row): the q93
      * constructed images, evens persisted as the kept-corpus
      * [[operators.HammingIndex]], odds curated against it in one turn
      * — fingerprint, exact dedup on the hash, within-batch
      * connected-components canonicalize, cross-corpus gate at
      * distance <= 3. FULL oracle: q93's dHash arithmetic replay,
      * exact dedup as a window, near-dup edges by brute-force
      * differing-bit count (exact — pigeonhole blocking at 4 segments
      * is lossless for d <= 3, HammingIndexSpec's brute-force-equality
      * pin), connected components as a RECURSIVE min-label CTE, and
      * the gate as NOT EXISTS over the kept side.
      */
    private val q98 = Q(
      "q98_media_curation",
      (s, dir) => {
        val ids = t(s, dir, "documents").select($"doc_id").filter($"doc_id" < 500)
        // engineered corpus: groups of 4 share a quadratic-mixed base
        // pattern; role r = id%4: r0 kept, r1 exact re-encode of the
        // base, r2/r3 a 5-site/4-site perturbed pair — so every stage
        // (exact dedup, CC canonicalize, cross-corpus gate) observably
        // bites and 86 genuinely-new docs survive
        val png = udf((i: Long) => {
          val g = i / 4
          val r = i % 4
          def pert(x: Int, y: Int): Int = {
            val s4 = (x == 1 && y == 1) || (x == 3 && y == 2) ||
              (x == 5 && y == 3) || (x == 7 && y == 4)
            val s5 = s4 || (x == 2 && y == 5)
            if ((r == 2 && s5) || (r == 3 && s4)) 120 else 0
          }
          Multimodal.ImageCodec.grayPng(Array.tabulate(8, 9)((y, x) =>
            (((g + 1) * (x * x * 13 + y * y * 29 + x * y * 31 + 1) + pert(x, y)) % 251).toInt))
        })
        val imgs = ids.withColumn("img", png($"doc_id"))
        val ix = operators.HammingIndex.build(
          Multimodal.imageDHash(imgs.filter($"doc_id" % 4 === 0), "img"),
          "doc_id", "dhash")
        val r = operators.Curation.curateMedia(
          ix, imgs.filter($"doc_id" % 4 =!= 0), "doc_id", "img", "image")
        ix.unpersist()
        r.curated
          .select($"doc_id", lpad(bin($"dhash"), 64, "0").as("dhash_bits"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE bits AS (
             |  SELECT doc_id,
             |    array_to_string([
             |      CASE WHEN
             |        (((doc_id//4)+1)*(((b%8)+1)*((b%8)+1)*13+(b//8)*(b//8)*29+((b%8)+1)*(b//8)*31+1)
             |          + CASE WHEN (doc_id%4=2 AND (((b%8)+1=1 AND b//8=1) OR ((b%8)+1=3 AND b//8=2) OR ((b%8)+1=5 AND b//8=3) OR ((b%8)+1=7 AND b//8=4) OR ((b%8)+1=2 AND b//8=5)))
             |                   OR (doc_id%4=3 AND (((b%8)+1=1 AND b//8=1) OR ((b%8)+1=3 AND b//8=2) OR ((b%8)+1=5 AND b//8=3) OR ((b%8)+1=7 AND b//8=4)))
             |                 THEN 120 ELSE 0 END) % 251
             |        >
             |        (((doc_id//4)+1)*((b%8)*(b%8)*13+(b//8)*(b//8)*29+(b%8)*(b//8)*31+1)
             |          + CASE WHEN (doc_id%4=2 AND ((b%8=1 AND b//8=1) OR (b%8=3 AND b//8=2) OR (b%8=5 AND b//8=3) OR (b%8=7 AND b//8=4) OR (b%8=2 AND b//8=5)))
             |                   OR (doc_id%4=3 AND ((b%8=1 AND b//8=1) OR (b%8=3 AND b//8=2) OR (b%8=5 AND b//8=3) OR (b%8=7 AND b//8=4)))
             |                 THEN 120 ELSE 0 END) % 251
             |      THEN '1' ELSE '0' END
             |      FOR b IN range(63, -1, -1)], '') AS bs
             |  FROM documents WHERE doc_id < 500),
             |keep AS (SELECT doc_id, bs FROM bits WHERE doc_id % 4 = 0),
             |batch AS (SELECT doc_id, bs FROM bits WHERE doc_id % 4 <> 0),
             |exact AS (
             |  SELECT doc_id, bs FROM (
             |    SELECT doc_id, bs,
             |           row_number() OVER (PARTITION BY bs ORDER BY doc_id) AS rn
             |    FROM batch) WHERE rn = 1),
             |edges AS (
             |  SELECT a.doc_id AS ea, b.doc_id AS eb
             |  FROM exact a JOIN exact b ON a.doc_id <> b.doc_id
             |  WHERE len([i FOR i IN range(1, 65) IF a.bs[i:i] != b.bs[i:i]]) <= 3),
             |reach(id, r) AS (
             |  SELECT doc_id, doc_id FROM exact
             |  UNION
             |  SELECT e.eb, reach.r FROM reach JOIN edges e ON e.ea = reach.id),
             |canon AS (
             |  SELECT id AS doc_id FROM (SELECT id, min(r) AS mr FROM reach GROUP BY id)
             |  WHERE id = mr),
             |gated AS (
             |  SELECT DISTINCT x.doc_id
             |  FROM exact x JOIN keep k
             |    ON len([i FOR i IN range(1, 65) IF x.bs[i:i] != k.bs[i:i]]) <= 3),
             |novel AS (
             |  SELECT e.doc_id, e.bs FROM exact e JOIN canon c USING (doc_id)
             |  WHERE e.doc_id NOT IN (SELECT doc_id FROM gated))
             |SELECT doc_id, bs AS dhash_bits FROM novel ORDER BY doc_id""".stripMargin))

    /** Semantic decontamination
      * ([[operators.Contamination.embeddingContamination]], r10): per
      * training vector, max cosine against the benchmark embedding set
      * (vec_id % 97), flagged at 0.25. FULL oracle: the q26 cosine
      * association (index-ordered list_reduce dots) under a per-row
      * max — order-independent, so the float replays bit-for-bit.
      */
    private val q99 = Q(
      "q99_embedding_contamination",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        operators.Contamination.embeddingContamination(
            e.filter($"vec_id" % 97 =!= 0), e.filter($"vec_id" % 97 === 0),
            "vec_id", "embedding", threshold = 0.25)
          .select($"vec_id", round($"max_cos", 6).as("max_cos"), $"contaminated")
          .orderBy("vec_id")
      },
      Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |           FROM embeddings),
             |b AS (SELECT vec FROM v WHERE vec_id % 97 = 0),
             |t AS (SELECT vec_id, vec FROM v WHERE vec_id % 97 <> 0),
             |scored AS (
             |  SELECT t.vec_id,
             |    max(list_reduce(list_prepend(0.0, list_transform(list_zip(t.vec, b.vec), x -> x[1] * x[2])), (a, c) -> a + c)
             |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(t.vec, x -> x * x)), (a, c) -> a + c))
             |       * sqrt(list_reduce(list_prepend(0.0, list_transform(b.vec, x -> x * x)), (a, c) -> a + c)))) AS max_cos
             |  FROM t, b GROUP BY t.vec_id)
             |SELECT vec_id, round(max_cos, 6) AS max_cos,
             |  CASE WHEN max_cos >= CAST(0.25 AS DOUBLE) THEN 1 ELSE 0 END AS contaminated
             |FROM scored ORDER BY vec_id""".stripMargin))

    /** CCNet-style score-bucket sampling
      * ([[operators.Sampling.sampleByScoreBuckets]], r10): quality
      * score (the q20 kernel) cut at (0.5, 0.8) into head/middle/tail
      * buckets kept at (0.1, 0.5, 1.0) by the family md5 hash rule.
      * FULL oracle: the q20 quality replay + the q52 hash threshold
      * as one CASE over the score.
      */
    private val q100 = Q(
      "q100_score_bucket_sample",
      (s, dir) => Sampling.sampleByScoreBuckets(
          t(s, dir, "documents")
            .select($"doc_id", TextAnalysis.qualityScore($"text").as("quality")),
          "doc_id", "quality", cuts = Seq(0.5, 0.8), rates = Seq(0.1, 0.5, 1.0))
        .select($"doc_id", $"quality") // raw double — bit-identical replay (q20)
        .orderBy("doc_id"),
      Some {
        val allStops = TextAnalysis.stopwords.flatMap(_._2).distinct
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH scored AS (
           |  SELECT doc_id,
           |    CASE WHEN text IS NULL OR len(toks) = 0 THEN 0.0
           |         ELSE 0.5 * least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
           |            + 0.3 * least(CAST(len(list_intersect(list_distinct(toks), $allStops)) AS DOUBLE) / 4.0, 1.0)
           |            + 0.2 * (1.0 - CASE WHEN len(toks) > 0
           |                THEN least(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
           |                           / CAST(len(toks) AS DOUBLE), 1.0)
           |                ELSE 1.0 END)
           |    END AS quality
           |  FROM (SELECT doc_id, text,
           |          CASE WHEN text IS NULL OR trim(text) = '' THEN []
           |               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
           |        FROM documents))
           |SELECT doc_id, quality FROM scored
           |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 <
           |  CASE WHEN quality < CAST(0.5 AS DOUBLE) THEN 1000
           |       WHEN quality < CAST(0.8 AS DOUBLE) THEN 5000
           |       ELSE 10000 END
           |ORDER BY doc_id""".stripMargin
      })

    /** Epoch-repeat up-sampling ([[operators.Sampling.epochRepeats]],
      * r10): weights (en 1, fr 1, es 2) over the documents table —
      * en binds (repeat exactly 1), fr repeats ~2.35x, es ~4.8x. FULL
      * oracle: counts -> max(n/w) -> factor CASE with the exact
      * binding-domain equality branch, floor/frac md5 rule, and the
      * repeat as unnest(generate_series(1, copies)).
      */
    private val q101 = Q(
      "q101_epoch_repeats",
      (s, dir) => Sampling.epochRepeats(
          t(s, dir, "documents").select($"doc_id", $"lang"),
          "doc_id", "lang",
          weights = Map("en" -> 1.0, "fr" -> 1.0, "es" -> 2.0))
        .orderBy("doc_id", "epoch"),
      Some("""WITH j AS (
             |  SELECT lang, CAST(count(*) AS DOUBLE) AS n,
             |         CASE lang WHEN 'en' THEN CAST(1.0 AS DOUBLE)
             |                   WHEN 'fr' THEN CAST(1.0 AS DOUBLE)
             |                   WHEN 'es' THEN CAST(2.0 AS DOUBLE) END AS w
             |  FROM documents WHERE lang IN ('en', 'fr', 'es') AND doc_id IS NOT NULL
             |  GROUP BY lang),
             |t AS (SELECT max(n / w) AS T FROM j),
             |f AS (SELECT lang,
             |        CASE WHEN n / w = (SELECT T FROM t) THEN CAST(1.0 AS DOUBLE)
             |             ELSE w * (SELECT T FROM t) / n END AS r
             |      FROM j),
             |c AS (SELECT lang, CAST(floor(r) AS INT) AS base,
             |             floor((r - floor(r)) * 10000) AS fthr FROM f),
             |d AS (SELECT doc_id, lang,
             |        base + CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < fthr
             |                    THEN 1 ELSE 0 END AS ncopies
             |      FROM documents JOIN c USING (lang))
             |SELECT doc_id, lang, CAST(unnest(generate_series(1, ncopies)) AS INT) AS epoch
             |FROM d ORDER BY doc_id, epoch""".stripMargin))

    /** Delivery manifest ([[operators.Manifest.build]], r10): one row
      * per lang with count, byte total, and the two order-independent
      * checksum folds (sum + bit_xor of the strict-canonical md5 row
      * hash). FULL oracle: the md5-prefix hash rule (the q52/q24
      * portable discipline) aggregated with the same two folds —
      * commutative, so DuckDB's own evaluation order replays Spark's
      * bit-for-bit.
      */
    private val q102 = Q(
      "q102_manifest",
      (s, dir) => operators.Manifest.build(
          t(s, dir, "documents").select($"doc_id", $"text", $"lang"),
          "lang", Seq("doc_id", "text"), length($"text"))
        .orderBy("lang"),
      Some("""WITH h AS (
             |  SELECT lang, length(text) AS sz,
             |    CAST('0x' || substr(md5(concat_ws(chr(1),
             |      coalesce(CAST(doc_id AS VARCHAR), chr(0)),
             |      coalesce(text, chr(0)))), 1, 8) AS BIGINT) AS h
             |  FROM documents)
             |SELECT lang, count(*) AS n_rows, CAST(sum(sz) AS BIGINT) AS n_bytes,
             |       CAST(sum(h) AS BIGINT) AS sum_hash, bit_xor(h) AS xor_hash
             |FROM h GROUP BY lang ORDER BY lang""".stripMargin))

    /** Manifest diff ([[operators.Manifest.check]], r10): the consumer
      * integrity check — published manifest (corpus without `de`)
      * against a received corpus that dropped `es`, perturbed every
      * `fr` text, and added `de`: one group per status. FULL oracle:
      * both manifests replayed by the q102 recipe, full-outer joined
      * on the group with the same status CASE.
      */
    private val q103 = Q(
      "q103_manifest_diff",
      (s, dir) => {
        val docs = t(s, dir, "documents").select($"doc_id", $"text", $"lang")
        val published = operators.Manifest.build(
          docs.filter($"lang" =!= "de"), "lang", Seq("doc_id", "text"), length($"text"))
        val received = docs.filter($"lang" =!= "es").withColumn("text",
          when($"lang" === "fr", concat($"text", lit("!"))).otherwise($"text"))
        operators.Manifest.check(
            published, received, "lang", Seq("doc_id", "text"), length($"text"))
          .orderBy("lang")
      },
      Some("""WITH mk AS (
             |  SELECT lang, count(*) AS n_rows, CAST(sum(length(text)) AS BIGINT) AS n_bytes,
             |         CAST(sum(h) AS BIGINT) AS sum_hash, bit_xor(h) AS xor_hash
             |  FROM (SELECT lang, text,
             |          CAST('0x' || substr(md5(concat_ws(chr(1),
             |            coalesce(CAST(doc_id AS VARCHAR), chr(0)),
             |            coalesce(text, chr(0)))), 1, 8) AS BIGINT) AS h
             |        FROM documents WHERE lang <> 'de') g
             |  GROUP BY lang),
             |ak AS (
             |  SELECT lang, count(*) AS n_rows, CAST(sum(length(text)) AS BIGINT) AS n_bytes,
             |         CAST(sum(h) AS BIGINT) AS sum_hash, bit_xor(h) AS xor_hash
             |  FROM (SELECT lang, text2 AS text,
             |          CAST('0x' || substr(md5(concat_ws(chr(1),
             |            coalesce(CAST(doc_id AS VARCHAR), chr(0)),
             |            coalesce(text2, chr(0)))), 1, 8) AS BIGINT) AS h
             |        FROM (SELECT lang, doc_id,
             |                CASE WHEN lang = 'fr' THEN text || '!' ELSE text END AS text2
             |              FROM documents WHERE lang <> 'es') p) g
             |  GROUP BY lang)
             |SELECT coalesce(mk.lang, ak.lang) AS lang,
             |  CASE WHEN ak.n_rows IS NULL THEN 'missing'
             |       WHEN mk.n_rows IS NULL THEN 'extra'
             |       WHEN mk.n_rows = ak.n_rows AND mk.n_bytes IS NOT DISTINCT FROM ak.n_bytes
             |            AND mk.sum_hash = ak.sum_hash AND mk.xor_hash = ak.xor_hash THEN 'match'
             |       ELSE 'mismatch' END AS status,
             |  mk.n_rows AS n_rows_exp, ak.n_rows AS n_rows_act
             |FROM mk FULL OUTER JOIN ak ON mk.lang = ak.lang
             |ORDER BY lang""".stripMargin))

    /** Manifest consolidation ([[operators.Manifest.merge]], r10): the
      * nightly-turn accounting path — per-batch manifests (even/odd
      * doc_id halves) fold-merged. The ORACLE rebuilds the manifest
      * from scratch over the whole table (q102's SQL verbatim): the
      * hash match certifies merge == rebuild ACROSS ENGINES, not just
      * within Spark (ManifestSpec pins it within).
      */
    private val q104 = Q(
      "q104_manifest_merge",
      (s, dir) => {
        val docs = t(s, dir, "documents").select($"doc_id", $"text", $"lang")
        val halves = Seq($"doc_id" % 2 === 0, $"doc_id" % 2 =!= 0).map(p =>
          operators.Manifest.build(
            docs.filter(p), "lang", Seq("doc_id", "text"), length($"text")))
        operators.Manifest.merge(halves, "lang").orderBy("lang")
      },
      Some("""WITH h AS (
             |  SELECT lang, length(text) AS sz,
             |    CAST('0x' || substr(md5(concat_ws(chr(1),
             |      coalesce(CAST(doc_id AS VARCHAR), chr(0)),
             |      coalesce(text, chr(0)))), 1, 8) AS BIGINT) AS h
             |  FROM documents)
             |SELECT lang, count(*) AS n_rows, CAST(sum(sz) AS BIGINT) AS n_bytes,
             |       CAST(sum(h) AS BIGINT) AS sum_hash, bit_xor(h) AS xor_hash
             |FROM h GROUP BY lang ORDER BY lang""".stripMargin))

    /** Token-window chunking ([[operators.TextAnalysis.chunkByTokens]],
      * r10): 16-token windows every 8 tokens (50% overlap) over the
      * documents table — the long-document split step before embedding
      * or packing. FULL oracle: the same split/rejoin in DuckDB
      * (string_split_regex + range starts + list slice), windows and
      * tail lengths replayed exactly.
      */
    private val q105 = Q(
      "q105_chunk_windows",
      (s, dir) => operators.TextAnalysis.chunkByTokens(
          t(s, dir, "documents"), "doc_id", "text", size = 16, stride = 8)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
             |  FROM documents WHERE text IS NOT NULL),
             |w AS (
             |  SELECT doc_id, toks, len(toks) AS n,
             |         CAST(unnest(range(0, len(toks), 8)) AS INT) AS s
             |  FROM d WHERE len(toks) > 0)
             |SELECT doc_id, s // 8 AS chunk_idx,
             |       array_to_string(toks[s + 1 : s + 16], ' ') AS chunk_text,
             |       CAST(least(16, n - s) AS INT) AS chunk_tokens
             |FROM w ORDER BY doc_id, chunk_idx""".stripMargin))

    /** Per-domain data card ([[operators.TextAnalysis.dataCard]],
      * r10): docs/tokens/distinct-vocabulary/TTR/quality-mass per
      * lang — the release-report row published next to the q102
      * manifest. FULL oracle: q20's quality replay summed as integer
      * micro-units (double sums re-associate; integer sums do not),
      * token replay, exact distinct count, one final rounded
      * division.
      */
    /** The q106 card replay, parameterized on a WHERE predicate so the
      * q113 drift oracle can replay a card per release slice. Returns
      * the query WITHOUT a final ORDER BY (embedded as a CTE body).
      */
    private def dataCardSqlOver(where: String): String = {
        val allStops = TextAnalysis.stopwords.flatMap(_._2).distinct
          .map(w => s"'$w'").mkString("[", ", ", "]")
        val pred = if (where.isEmpty) "" else s" WHERE $where"
        s"""WITH tk AS (
           |  SELECT lang, text,
           |    CASE WHEN text IS NULL OR trim(text) = '' THEN []
           |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
           |  FROM documents$pred),
           |q AS (
           |  SELECT lang, toks,
           |    CASE WHEN text IS NULL OR len(toks) = 0 THEN 0.0
           |         ELSE 0.5 * least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
           |            + 0.3 * least(CAST(len(list_intersect(list_distinct(toks), $allStops)) AS DOUBLE) / 4.0, 1.0)
           |            + 0.2 * (1.0 - CASE WHEN len(toks) > 0
           |                THEN least(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
           |                           / CAST(len(toks) AS DOUBLE), 1.0)
           |                ELSE 1.0 END)
           |    END AS quality
           |  FROM tk),
           |totals AS (
           |  SELECT lang, count(*) AS n_docs,
           |         CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
           |         CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS BIGINT) AS quality_micro
           |  FROM q GROUP BY lang),
           |vocab AS (
           |  SELECT lang, count(DISTINCT t) AS distinct_tokens
           |  FROM (SELECT lang, unnest(toks) AS t FROM tk) GROUP BY lang)
           |SELECT t.lang, n_docs, n_tokens,
           |       coalesce(distinct_tokens, 0) AS distinct_tokens,
           |       CASE WHEN n_tokens > 0
           |            THEN round(CAST(coalesce(distinct_tokens, 0) AS DOUBLE) / n_tokens, 6) END AS ttr,
           |       quality_micro
           |FROM totals t LEFT JOIN vocab v USING (lang)""".stripMargin
      }

    private val dataCardSql: String = dataCardSqlOver("") + "\nORDER BY lang"

    private val q106 = Q(
      "q106_data_card",
      (s, dir) => operators.TextAnalysis.dataCard(
          t(s, dir, "documents"), "text", "lang")
        .orderBy("lang"),
      Some(dataCardSql))

    /** q107/q111's shared replay: the q89 split CASE + the q51 shingle
      * recipe + an anti-join — the declared semantics of split-leakage
      * removal, independent of which engine path computes it.
      */
    private val splitLeakSql =
      """WITH sp AS (
             |  SELECT doc_id, text,
             |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 8000 THEN 'train'
             |         WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 9000 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM documents WHERE doc_id IS NOT NULL),
             |tr AS (
             |  SELECT doc_id, CASE WHEN length(text) >= 13
             |    THEN list_distinct([substr(lower(text), i, 13)
             |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
             |    ELSE [] END AS g
             |  FROM sp WHERE split = 'train'),
             |bg AS (
             |  SELECT DISTINCT unnest(CASE WHEN length(text) >= 13
             |    THEN list_distinct([substr(lower(text), i, 13)
             |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
             |    ELSE [] END) AS g
             |  FROM sp WHERE split <> 'train'),
             |leaky AS (
             |  SELECT DISTINCT t.doc_id
             |  FROM (SELECT doc_id, unnest(g) AS g FROM tr) t JOIN bg USING (g))
             |SELECT doc_id, split FROM sp
             |WHERE split <> 'train' OR doc_id NOT IN (SELECT doc_id FROM leaky)
             |ORDER BY doc_id""".stripMargin

    /** Split-leakage removal
      * ([[operators.Contamination.removeSplitLeakage]], r10): q89's
      * md5 split composed with q51's 13-gram overlap — train docs
      * sharing any shingle with the val/test side are dropped, eval
      * rows pass untouched. FULL oracle: [[splitLeakSql]] end to end.
      */
    private val q107 = Q(
      "q107_split_decontaminate",
      (s, dir) => operators.Contamination.removeSplitLeakage(
          Sampling.assignSplit(
            t(s, dir, "documents").select($"doc_id", $"text"),
            "doc_id", trainFrac = 0.8, valFrac = 0.1),
          "doc_id", "text", "split")
        .select($"doc_id", $"split")
        .orderBy("doc_id"),
      Some(splitLeakSql))

    /** THE release capstone (T80, r11): the ENTIRE delivery turn —
      * curation core (q57's stages 1-5), md5 split pinning (q89),
      * split-leakage removal (q107), temperature mix over the train
      * slice only (q82, alpha 0.5), sequence packing over the final
      * corpus (q54) — composed by [[operators.Release.build]], WRITTEN
      * to disk partitioned by split with its manifest and data card,
      * and the returned frame is the [[operators.Release.open]]
      * `readVerified` REOPEN of the written artifact: the hash match
      * certifies the SHIPPED BYTES survived the round trip, not an
      * in-memory intermediate. The oracle chains each stage's
      * already-proven recipe end to end; gates that are no-ops under
      * these params (quality/repetition bounds) are elided exactly as
      * in q57.
      */
    private val q108 = Q(
      "q108_release_turn",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val path = java.nio.file.Files.createTempDirectory("graft_release")
          .toString + "/rel"
        val res = operators.Release.build(
          docs.filter($"doc_id" % 97 =!= 0).select($"doc_id", $"lang", $"text"),
          docs.filter($"doc_id" % 97 === 0),
          "doc_id", "text", "lang", path,
          operators.Release.ReleaseParams(
            curation = operators.Curation.CurationParams(
              minQuality = 0.0, maxRepetition = 1.0,
              lshThreshold = 0.6, maxContamination = 0.5,
              portableHash = true, minDocFreq = 0L),
            trainFrac = 0.8, valFrac = 0.1,
            leakageN = 13, maxOverlapNgrams = 100L,
            mixAlpha = 0.5))
        res.unpersist()
        operators.Release.open(s, path, "doc_id", "text")
          .select($"doc_id", $"lang", $"split", $"shard", $"n_tokens",
            $"token_start", $"chunk_first", $"chunk_last")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
             |train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 <> 0),
             |benchdocs AS (SELECT text FROM documents WHERE doc_id % 97 = 0),
             |keep AS (SELECT min(doc_id) AS doc_id FROM train GROUP BY text),
             |surv AS MATERIALIZED (SELECT t.* FROM train t JOIN keep USING (doc_id)),
             |sh0 AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL THEN CAST([] AS BIGINT[]) ELSE
             |      list_distinct([CAST('0x' || substr(md5(substr(lower(text), i, 3)), 1, 8) AS BIGINT)
             |                     FOR i IN range(1, greatest(length(text) - 2, 0) + 1)]) END AS hs0
             |  FROM surv),
             |stop AS (
             |  SELECT h FROM (SELECT unnest(hs0) AS h FROM sh0)
             |  GROUP BY h
             |  HAVING count(*) > floor((SELECT count(*) FROM surv) * 0.5)),
             |pruned AS MATERIALIZED (
             |  SELECT s.doc_id, coalesce(l.hs, CAST([] AS BIGINT[])) AS hs
             |  FROM sh0 s LEFT JOIN (
             |    SELECT doc_id, list(h) AS hs
             |    FROM (SELECT doc_id, unnest(hs0) AS h FROM sh0)
             |    WHERE h NOT IN (SELECT h FROM stop)
             |    GROUP BY doc_id) l USING (doc_id)),
             |sigs AS (
             |  SELECT doc_id, hs,
             |    $q57Sigs
             |  FROM pruned),
             |banded AS (
             |  $q57Bands),
             |ok_buckets AS (
             |  SELECT band, bucket FROM banded
             |  GROUP BY band, bucket HAVING count(*) <= 2000),
             |cands AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM banded a
             |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
             |  JOIN ok_buckets ob ON ob.band = a.band AND ob.bucket = a.bucket),
             |pairs AS (
             |  SELECT c.id_a, c.id_b
             |  FROM cands c
             |  JOIN pruned pa ON pa.doc_id = c.id_a
             |  JOIN pruned pb ON pb.doc_id = c.id_b
             |  WHERE (CASE WHEN CAST(len(pa.hs) AS DOUBLE) + CAST(len(pb.hs) AS DOUBLE) - len(list_intersect(pa.hs, pb.hs)) > 0
             |    THEN CAST(len(list_intersect(pa.hs, pb.hs)) AS DOUBLE)
             |         / (CAST(len(pa.hs) AS DOUBLE) + CAST(len(pb.hs) AS DOUBLE) - len(list_intersect(pa.hs, pb.hs)))
             |    ELSE 0 END) >= 0.6),
             |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
             |reach(id, lbl) AS (
             |  SELECT doc_id, doc_id FROM surv
             |  UNION
             |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v),
             |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
             |canon AS MATERIALIZED (SELECT s.* FROM surv s JOIN cc ON cc.id = s.doc_id AND cc.cluster_id = s.doc_id),
             |trg AS MATERIALIZED (
             |  SELECT doc_id, CASE WHEN length(text) >= 13
             |    THEN list_distinct([substr(lower(text), i, 13)
             |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
             |    ELSE [] END AS g
             |  FROM canon),
             |bg AS (
             |  SELECT DISTINCT unnest(CASE WHEN length(text) >= 13
             |    THEN list_distinct([substr(lower(text), i, 13)
             |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
             |    ELSE [] END) AS g
             |  FROM benchdocs),
             |hits AS (
             |  SELECT t.doc_id, count(*) AS overlap
             |  FROM (SELECT doc_id, unnest(g) AS g FROM trg) t JOIN bg USING (g)
             |  GROUP BY t.doc_id),
             |clean AS MATERIALIZED (
             |  SELECT c.* FROM canon c JOIN (
             |    SELECT trg.doc_id FROM trg LEFT JOIN hits USING (doc_id)
             |    WHERE (CASE WHEN len(g) > 0
             |      THEN CAST(coalesce(overlap, 0) AS DOUBLE) / CAST(len(g) AS DOUBLE)
             |      ELSE 0.0 END) <= 0.5) k USING (doc_id)),
             |sp AS MATERIALIZED (
             |  SELECT c.doc_id, c.lang, c.text,
             |    CASE WHEN CAST('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 8000 THEN 'train'
             |         WHEN CAST('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 9000 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM clean c),
             |evg AS (
             |  SELECT DISTINCT eg.g FROM (
             |    SELECT unnest(t.g) AS g FROM trg t JOIN sp ON sp.doc_id = t.doc_id
             |    WHERE sp.split <> 'train') eg),
             |leaky AS (
             |  SELECT x.doc_id FROM (
             |    SELECT t.doc_id, unnest(t.g) AS g FROM trg t JOIN sp ON sp.doc_id = t.doc_id
             |    WHERE sp.split = 'train') x
             |  JOIN evg USING (g)
             |  GROUP BY x.doc_id HAVING count(*) > 100),
             |s2 AS MATERIALIZED (
             |  SELECT * FROM sp
             |  WHERE split <> 'train' OR doc_id NOT IN (SELECT doc_id FROM leaky)),
             |cnt AS (
             |  SELECT lang, CAST(count(*) AS DOUBLE) AS n,
             |         pow(CAST(count(*) AS DOUBLE), 0.5) AS wt
             |  FROM s2 WHERE split = 'train' AND lang IS NOT NULL GROUP BY lang),
             |tmin AS (SELECT min(n / wt) AS T FROM cnt),
             |thr AS (
             |  SELECT lang, CASE WHEN n / wt = (SELECT T FROM tmin) THEN 10000
             |               ELSE floor(10000.0 * wt * (SELECT T FROM tmin) / n) END AS th
             |  FROM cnt),
             |fin AS MATERIALIZED (
             |  SELECT s2.doc_id, s2.lang, s2.text, s2.split
             |  FROM s2 JOIN thr USING (lang)
             |  WHERE s2.split = 'train'
             |    AND CAST('0x' || substr(md5(CAST(s2.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < thr.th
             |  UNION ALL
             |  SELECT doc_id, lang, text, split FROM s2 WHERE split <> 'train'),
             |tk AS (
             |  SELECT doc_id, lang, split,
             |    (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000) % 8 AS shard,
             |    CAST(len(CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |                  ELSE string_split_regex(lower(trim(text)), '\\s+') END) AS BIGINT) AS n_tokens
             |  FROM fin),
             |c2 AS (
             |  SELECT doc_id, lang, split, shard, n_tokens,
             |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_start
             |  FROM tk)
             |SELECT doc_id, lang, split, shard, n_tokens, token_start,
             |  CAST(token_start // 512 AS BIGINT) AS chunk_first,
             |  CAST(CASE WHEN n_tokens > 0 THEN (token_start + n_tokens - 1) // 512
             |       ELSE token_start // 512 END AS BIGINT) AS chunk_last
             |FROM c2 ORDER BY doc_id""".stripMargin))

    /** Mergeable data card
      * ([[operators.TextAnalysis.dataCardIndex/dataCardAppend/
      * dataCardOf]], T81, r11): the nightly-maintenance path for the
      * q106 release report — even/odd doc halves indexed separately,
      * fold-merged (totals and per-(domain, token) counts SUM; the
      * distinct-vocabulary count is the vocab row count, immune to tf
      * values), and the card read off the merged artifact. The ORACLE
      * rebuilds the card from scratch over the whole table (q106's SQL
      * verbatim): the hash match certifies append == rebuild ACROSS
      * ENGINES (DataCardSpec pins it within Spark).
      */
    private val q109 = Q(
      "q109_data_card_merge",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = operators.TextAnalysis.dataCardIndex(
          docs.filter($"doc_id" % 2 === 0), "text", "lang")
        operators.TextAnalysis.dataCardOf(
            operators.TextAnalysis.dataCardAppend(
              ix, docs.filter($"doc_id" % 2 =!= 0), "text", "lang"),
            "lang")
          .orderBy("lang")
      },
      Some(dataCardSql))

    /** Decontamination disagreement audit
      * ([[operators.Contamination.decontaminationAudit]], T82, r11 —
      * VERDICT r10 "next" #7): the q51 n-gram verdict and the q99
      * semantic verdict joined per doc with the four-way status
      * lattice, over documents ⋈ embeddings (ids align 1:1 in the
      * testdata). FULL oracle: q51's gram replay + q99's
      * order-independent max-cos replay + the same flag CASEs —
      * un-rounded doubles feed the threshold comparisons on both
      * sides, so the boundary bits agree.
      */
    private val q110 = Q(
      "q110_decontamination_audit",
      (s, dir) => {
        val d = t(s, dir, "documents").select($"doc_id", $"text")
        val e = t(s, dir, "embeddings")
        val joined = d.join(e, $"doc_id" === $"vec_id")
          .select($"doc_id", $"text", $"embedding")
        operators.Contamination.decontaminationAudit(
            joined.filter($"doc_id" % 97 =!= 0),
            joined.filter($"doc_id" % 97 === 0),
            "doc_id", "text", "embedding",
            n = 13, maxContamination = 0.2, cosThreshold = 0.25)
          .select($"doc_id", $"total_ngrams", $"overlap_ngrams",
            round($"contamination", 6).as("contamination"),
            round($"max_cos", 6).as("max_cos"),
            $"ngram_flag", $"embedding_flag", $"status")
          .orderBy("doc_id")
      },
      Some("""WITH tr AS (
             |  SELECT doc_id, CASE WHEN length(text) >= 13
             |    THEN list_distinct([substr(lower(text), i, 13)
             |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
             |    ELSE [] END AS g
             |  FROM documents WHERE doc_id % 97 <> 0),
             |bg AS (
             |  SELECT DISTINCT unnest(CASE WHEN length(text) >= 13
             |    THEN list_distinct([substr(lower(text), i, 13)
             |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
             |    ELSE [] END) AS g
             |  FROM documents WHERE doc_id % 97 = 0),
             |hits AS (
             |  SELECT t.doc_id, count(*) AS overlap
             |  FROM (SELECT doc_id, unnest(g) AS g FROM tr) t JOIN bg USING (g)
             |  GROUP BY t.doc_id),
             |ngr AS (
             |  SELECT tr.doc_id, len(tr.g) AS total_ngrams,
             |    coalesce(hits.overlap, 0) AS overlap_ngrams,
             |    CASE WHEN len(tr.g) > 0
             |      THEN CAST(coalesce(hits.overlap, 0) AS DOUBLE) / CAST(len(tr.g) AS DOUBLE)
             |      ELSE 0.0 END AS contamination
             |  FROM tr LEFT JOIN hits USING (doc_id)),
             |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |      FROM embeddings),
             |b AS (SELECT vec FROM v WHERE vec_id % 97 = 0),
             |t2 AS (SELECT vec_id, vec FROM v WHERE vec_id % 97 <> 0),
             |scored AS (
             |  SELECT t2.vec_id,
             |    max(list_reduce(list_prepend(0.0, list_transform(list_zip(t2.vec, b.vec), x -> x[1] * x[2])), (a, c) -> a + c)
             |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(t2.vec, x -> x * x)), (a, c) -> a + c))
             |       * sqrt(list_reduce(list_prepend(0.0, list_transform(b.vec, x -> x * x)), (a, c) -> a + c)))) AS max_cos
             |  FROM t2, b GROUP BY t2.vec_id)
             |SELECT n.doc_id, n.total_ngrams, n.overlap_ngrams,
             |  round(n.contamination, 6) AS contamination,
             |  round(s.max_cos, 6) AS max_cos,
             |  CAST(CASE WHEN n.contamination > CAST(0.2 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS ngram_flag,
             |  CAST(CASE WHEN s.max_cos >= CAST(0.25 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS embedding_flag,
             |  CASE WHEN n.contamination > CAST(0.2 AS DOUBLE) AND s.max_cos >= CAST(0.25 AS DOUBLE) THEN 'both'
             |       WHEN n.contamination > CAST(0.2 AS DOUBLE) THEN 'ngram_only'
             |       WHEN s.max_cos >= CAST(0.25 AS DOUBLE) THEN 'embedding_only'
             |       ELSE 'clean' END AS status
             |FROM ngr n JOIN scored s ON s.vec_id = n.doc_id
             |ORDER BY doc_id""".stripMargin))

    /** Eval-gram artifact gate
      * ([[operators.Contamination.evalGramIndex]] /
      * [[operators.Contamination.removeSplitLeakageAgainst]], T83,
      * r11): the PERSISTED-ARTIFACT path to q107's declared semantics
      * — the held-out gram set is built as a kind-discriminated index,
      * written to parquet, reopened, and the train slice is gated
      * against the reopened artifact (the nightly-turn shape, where
      * re-deriving the eval side per batch is unaffordable). Since r12
      * the artifact stores md5-64 GRAM HASHES, never raw held-out text
      * (VERDICT r11 #2). FULL oracle: [[splitLeakSql]] verbatim — the
      * hash match certifies that the hashed-artifact round trip
      * computes exactly the one-shot operator's answer, cross-engine
      * (the q85-vs-q84 probe-parity discipline), collision-free here
      * by the 64-bit trade documented at the operator.
      */
    private val q111 = Q(
      "q111_evalgram_artifact_gate",
      (s, dir) => {
        val split = Sampling.assignSplit(
          t(s, dir, "documents").select($"doc_id", $"text"),
          "doc_id", trainFrac = 0.8, valFrac = 0.1)
        val ixPath = java.nio.file.Files.createTempDirectory("graft_evalgrams")
          .toString + "/ix"
        operators.Contamination.evalGramIndex(
          split.filter($"split" =!= "train"), "text").write.parquet(ixPath)
        operators.Contamination.removeSplitLeakageAgainst(
            s.read.parquet(ixPath),
            split.filter($"split" === "train"), "doc_id", "text")
          .select($"doc_id", $"split")
          .unionByName(split.filter($"split" =!= "train").select($"doc_id", $"split"))
          .orderBy("doc_id")
      },
      Some(splitLeakSql))

    /** Incremental release lifecycle ([[operators.Release
      * .initIncremental]] / [[operators.Release.appendTurn]], T84,
      * r11): the nightly twin of q108 — even doc_ids shipped as the
      * first turn, odd doc_ids appended as the second (curated against
      * the standing index, gated against the grown eval-gram
      * artifact), and the returned frame is the `readVerified` reopen
      * of the ACCUMULATED delivery, so the run itself certifies that
      * the fold-merged manifest matches the shipped bytes. Rows-only
      * BY DESIGN (the q68 discipline): a faithful SQL replay would
      * restate q108's curation replay per turn plus q68's
      * cross-corpus probe; the lifecycle invariants — artifacts ==
      * from-scratch rebuilds, cross-turn leak + dup dropped, restart
      * == compaction — are spec-pinned in ReleaseSpec instead.
      */
    private val q112 = Q(
      "q112_incremental_release",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val path = java.nio.file.Files.createTempDirectory("graft_increl")
          .toString + "/rel"
        val p = operators.Release.ReleaseParams(
          curation = operators.Curation.CurationParams(
            minQuality = 0.0, maxRepetition = 1.0,
            lshThreshold = 0.6, maxContamination = 0.5,
            portableHash = true, minDocFreq = 0L),
          trainFrac = 0.8, valFrac = 0.1,
          leakageN = 13, maxOverlapNgrams = 100L)
        val bench = docs.filter($"doc_id" % 97 === 0)
        def half(even: Boolean) = docs
          .filter($"doc_id" % 97 =!= 0 && ($"doc_id" % 2 === 0) === even)
          .select($"doc_id", $"lang", $"text")
        val st1 = operators.Release.initIncremental(
          half(even = true), bench, "doc_id", "text", "lang", path, p)
        val (st2, _) = operators.Release.appendTurn(
          st1, half(even = false), bench, "doc_id", "text", "lang", p)
        st1.unpersist(); st2.unpersist()
        operators.Release.open(s, path, "doc_id", "text")
          .select($"doc_id", $"lang", $"split")
          .orderBy("doc_id")
      },
      None)

    /** Release drift report ([[operators.TextAnalysis.dataCardDiff]],
      * T85, r11): yesterday's card (docs with `doc_id % 3 <> 0`) vs
      * today's (all docs) — the per-domain added/removed/common status,
      * count deltas, integer-micro token-share and mean-quality moves.
      * FULL oracle: the q106 card replay once per slice + the same
      * null-safe full join and integral-division arithmetic (deltas
      * can be negative, which is exactly where rounded doubles lose
      * cross-engine parity — so every derived column is a long).
      */
    private val q113 = Q(
      "q113_data_card_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        operators.TextAnalysis.dataCardDiff(
            operators.TextAnalysis.dataCard(
              docs.filter($"doc_id" % 3 =!= 0), "text", "lang"),
            operators.TextAnalysis.dataCard(docs, "text", "lang"),
            "lang")
          .orderBy("lang")
      },
      Some {
        def shared(card: String) =
          s"""  SELECT lang, n_docs, n_tokens, distinct_tokens,
             |    CAST(CASE WHEN (SELECT coalesce(sum(n_tokens), 0) FROM $card) > 0
             |         THEN CAST(n_tokens AS HUGEINT) * 1000000 // (SELECT coalesce(sum(n_tokens), 0) FROM $card)
             |    END AS BIGINT) AS token_share_micro,
             |    CASE WHEN n_docs > 0 THEN quality_micro // n_docs END AS mean_quality_micro
             |  FROM $card""".stripMargin
        s"""WITH card_a AS (
           |${dataCardSqlOver("doc_id % 3 <> 0")}),
           |card_b AS (
           |${dataCardSqlOver("")}),
           |wa AS (
           |${shared("card_a")}),
           |wb AS (
           |${shared("card_b")})
           |SELECT coalesce(wa.lang, wb.lang) AS lang,
           |  CASE WHEN wa.n_docs IS NULL THEN 'added'
           |       WHEN wb.n_docs IS NULL THEN 'removed'
           |       ELSE 'common' END AS status,
           |  wa.n_docs AS n_docs_a, wb.n_docs AS n_docs_b,
           |  coalesce(wb.n_docs, 0) - coalesce(wa.n_docs, 0) AS docs_delta,
           |  wa.n_tokens AS n_tokens_a, wb.n_tokens AS n_tokens_b,
           |  coalesce(wb.n_tokens, 0) - coalesce(wa.n_tokens, 0) AS tokens_delta,
           |  wa.distinct_tokens AS distinct_tokens_a,
           |  wb.distinct_tokens AS distinct_tokens_b,
           |  coalesce(wb.distinct_tokens, 0) - coalesce(wa.distinct_tokens, 0) AS vocab_delta,
           |  wa.token_share_micro AS token_share_micro_a,
           |  wb.token_share_micro AS token_share_micro_b,
           |  coalesce(wb.token_share_micro, 0) - coalesce(wa.token_share_micro, 0) AS share_delta_micro,
           |  wa.mean_quality_micro AS mean_quality_micro_a,
           |  wb.mean_quality_micro AS mean_quality_micro_b,
           |  coalesce(wb.mean_quality_micro, 0) - coalesce(wa.mean_quality_micro, 0) AS quality_delta_micro
           |FROM wa FULL JOIN wb ON wa.lang IS NOT DISTINCT FROM wb.lang
           |ORDER BY lang""".stripMargin
      })

    /** PII tagging + redaction ([[operators.Pii.scan]], T86, r11): the
      * pre-release scrub — per-document email/IPv4/phone counts on the
      * raw text and the masked text (email -> IPv4 -> phone order).
      * The synthetic corpus carries no PII, so the query plants a
      * deterministic footer derived from `doc_id` (the q97
      * construct-in-query discipline) — one email, one phone, one
      * IPv4 per doc, concatenated IDENTICALLY in both engines (`||`
      * null-propagates exactly like Spark's `concat`). FULL oracle:
      * the same RE2-safe patterns (no `\b`, no lookaround — the
      * operator's cross-engine pattern discipline) replayed through
      * DuckDB's regexp_extract_all/regexp_replace.
      */
    private val q114 = Q(
      "q114_pii_scan",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val aug = docs.select(
          $"doc_id",
          concat($"text",
            lit(" contact u"), $"doc_id".cast("string"),
            lit("@ex"), ($"doc_id" % 7).cast("string"),
            lit(".org or +155500"),
            lpad(($"doc_id" % 100000).cast("string"), 5, "0"),
            lit(" ip "), ($"doc_id" % 256).cast("string"),
            lit(".0.0."), ($"doc_id" % 100).cast("string")).as("text"))
        operators.Pii.scan(aug, "doc_id", "text").orderBy("doc_id")
      },
      Some {
        val e = operators.Pii.EmailPattern
        val i = operators.Pii.Ipv4Pattern
        val p = operators.Pii.PhonePattern
        s"""WITH aug AS (
           |  SELECT doc_id,
           |    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex' ||
           |    CAST(doc_id % 7 AS VARCHAR) || '.org or +155500' ||
           |    lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0') || ' ip ' ||
           |    CAST(doc_id % 256 AS VARCHAR) || '.0.0.' ||
           |    CAST(doc_id % 100 AS VARCHAR) AS text
           |  FROM documents),
           |c AS (
           |  SELECT doc_id,
           |    CASE WHEN text IS NULL THEN 0
           |         ELSE len(regexp_extract_all(text, '$e')) END AS n_emails,
           |    CASE WHEN text IS NULL THEN 0
           |         ELSE len(regexp_extract_all(text, '$i')) END AS n_ipv4,
           |    CASE WHEN text IS NULL THEN 0
           |         ELSE len(regexp_extract_all(text, '$p')) END AS n_phones,
           |    regexp_replace(regexp_replace(regexp_replace(text,
           |      '$e', '<EMAIL>', 'g'), '$i', '<IPV4>', 'g'),
           |      '$p', '<PHONE>', 'g') AS redacted
           |  FROM aug)
           |SELECT doc_id,
           |  CAST(n_emails AS BIGINT) AS n_emails,
           |  CAST(n_ipv4 AS BIGINT) AS n_ipv4,
           |  CAST(n_phones AS BIGINT) AS n_phones,
           |  CAST(n_emails + n_ipv4 + n_phones AS BIGINT) AS pii_total,
           |  redacted
           |FROM c ORDER BY doc_id""".stripMargin
      })

    /** Exact per-domain quantiles ([[operators.Quantiles
      * .exactQuantiles]], T87, r11): p25/p50/p90/p99 of document
      * length per lang — `percentile_disc` semantics (smallest value
      * whose cumulative count reaches `ceil(q * n)`) over a sort-based
      * window, exact at any group size (Spark's own `percentile`
      * buffers whole groups in memory; `percentile_approx` is a
      * sketch no other engine replays). FULL oracle: the identical
      * row_number window + integer micro-unit rank arithmetic — no
      * double ever enters the rank, so the boundary rows agree
      * bit-for-bit.
      */
    /** Shared by q115 (window twin) and q118 (scalable twin): the two
      * operators promise bit-equal answers, so one SQL is the oracle
      * for both — a cross-engine restatement of the equivalence the
      * QuantilesSpec pins within Spark.
      */
    private val lengthQuantilesSql =
      """WITH v AS (
             |  SELECT lang, CAST(length(text) AS BIGINT) AS v
             |  FROM documents WHERE text IS NOT NULL),
             |r AS (
             |  SELECT lang, v,
             |         row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
             |         count(*) OVER (PARTITION BY lang) AS n
             |  FROM v),
             |t AS (SELECT CAST(unnest([250000, 500000, 900000, 990000]) AS BIGINT) AS qm)
             |SELECT lang, qm / 1000000.0 AS quantile, n, v AS value
             |FROM r, t
             |WHERE rn = (qm * n + 999999) // 1000000
             |ORDER BY lang, quantile""".stripMargin

    private val q115 = Q(
      "q115_length_quantiles",
      (s, dir) => operators.Quantiles.exactQuantiles(
          t(s, dir, "documents")
            .selectExpr("lang", "CAST(length(text) AS BIGINT) AS len"),
          "lang", "len", Seq(0.25, 0.5, 0.9, 0.99))
        .orderBy("lang", "quantile"),
      Some(lengthQuantilesSql))

    /** Scalable exact quantiles ([[operators.Quantiles
      * .exactQuantilesScalable]], r12 — VERDICT r11 #3): the few-key
      * twin of q115 — same percentile_disc answer with the rank
      * decomposed over range-partitioned slices, so no key ever
      * serializes into one sort task (plan-pinned in QuantilesSpec;
      * 1-key 10x curve in SCALE.md `quantkey`). FULL oracle: q115's
      * SQL verbatim — the hash match certifies the decomposition is
      * bit-equal cross-engine.
      */
    private val q118 = Q(
      "q118_quantiles_scalable",
      (s, dir) => operators.Quantiles.exactQuantilesScalable(
          t(s, dir, "documents")
            .selectExpr("lang", "CAST(length(text) AS BIGINT) AS len"),
          "lang", "len", Seq(0.25, 0.5, 0.9, 0.99))
        .orderBy("lang", "quantile"),
      Some(lengthQuantilesSql))

    /** Contamination evidence ([[operators.Contamination
      * .contaminationEvidence]], T88, r11): the forensics complement of
      * q51 — one row per (train doc, benchmark doc) pair sharing
      * 13-grams, with the shared count and the smallest shared gram as
      * the inspectable receipt. FULL oracle: the q51 shingle CTEs on
      * both sides + the same pair aggregate (count(*) is exact because
      * per-doc grams are distinct; min(gram) compares UTF-8 bytes in
      * both engines).
      */
    private val q116 = Q(
      "q116_contamination_evidence",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        operators.Contamination.contaminationEvidence(
            docs.filter($"doc_id" % 97 =!= 0),
            docs.filter($"doc_id" % 97 === 0),
            "doc_id", "doc_id", "text", n = 13, minShared = 1L)
          .orderBy("doc_id", "bench_id")
      },
      Some("""WITH tr AS (
             |  SELECT doc_id, CASE WHEN length(text) >= 13
             |    THEN list_distinct([substr(lower(text), i, 13)
             |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
             |    ELSE [] END AS g
             |  FROM documents WHERE doc_id % 97 <> 0),
             |bn AS (
             |  SELECT doc_id AS bench_id, CASE WHEN length(text) >= 13
             |    THEN list_distinct([substr(lower(text), i, 13)
             |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
             |    ELSE [] END AS g
             |  FROM documents WHERE doc_id % 97 = 0)
             |SELECT t.doc_id, b.bench_id,
             |       count(*) AS shared_ngrams, min(t.g) AS sample_gram
             |FROM (SELECT doc_id, unnest(g) AS g FROM tr) t
             |JOIN (SELECT bench_id, unnest(g) AS g FROM bn) b ON t.g = b.g
             |GROUP BY 1, 2
             |HAVING count(*) >= 1
             |ORDER BY doc_id, bench_id""".stripMargin))

    /** Custom-registry PII scan ([[operators.Pii.scanPatterns]], T86,
      * r11): q114 proved the built-ins replay; this proves the
      * REGISTRY path does — caller-supplied IBAN-ish and long-digit-run
      * patterns (both [[operators.Pii.validatePortable]]-clean) over a
      * planted account footer, masked in registry order (IBAN first,
      * so its digit run never leaks a <NUM> mask). FULL oracle: the
      * same two patterns replayed through DuckDB regexp functions.
      */
    private val q117 = Q(
      "q117_pii_registry",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val aug = docs.select(
          $"doc_id",
          concat($"text",
            lit(" acct PT"), lpad(($"doc_id" % 100).cast("string"), 2, "0"),
            lit("ZZ"), lpad($"doc_id".cast("string"), 16, "7"),
            lit(" case "), lpad(($"doc_id" % 10000).cast("string"), 6, "4"))
            .as("text"))
        operators.Pii.scanPatterns(aug, "doc_id", "text", Seq(
          operators.Pii.Pattern("iban", "[A-Z]{2}\\d{2}[A-Z0-9]{11,30}", "<IBAN>"),
          operators.Pii.Pattern("digits", "\\d{6,}", "<NUM>")))
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
             |  SELECT doc_id,
             |    text || ' acct PT' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
             |    'ZZ' || lpad(CAST(doc_id AS VARCHAR), 16, '7') ||
             |    ' case ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 6, '4') AS text
             |  FROM documents),
             |c AS (
             |  SELECT doc_id,
             |    CASE WHEN text IS NULL THEN 0
             |         ELSE len(regexp_extract_all(text, '[A-Z]{2}\d{2}[A-Z0-9]{11,30}')) END AS n_iban,
             |    CASE WHEN text IS NULL THEN 0
             |         ELSE len(regexp_extract_all(text, '\d{6,}')) END AS n_digits,
             |    regexp_replace(regexp_replace(text,
             |      '[A-Z]{2}\d{2}[A-Z0-9]{11,30}', '<IBAN>', 'g'),
             |      '\d{6,}', '<NUM>', 'g') AS redacted
             |  FROM aug)
             |SELECT doc_id,
             |  CAST(n_iban AS BIGINT) AS n_iban,
             |  CAST(n_digits AS BIGINT) AS n_digits,
             |  CAST(n_iban + n_digits AS BIGINT) AS pii_total,
             |  redacted
             |FROM c ORDER BY doc_id""".stripMargin))

    /** Widened built-in PII registry ([[operators.Pii.widePatterns]],
      * r12 — VERDICT r11 #7): IPv6, IBAN and payment-card patterns
      * promoted to built-ins next to the original trio, each
      * validatePortable-clean, over a planted doc_id-derived footer
      * (the q114 construct-in-query discipline: one compressed IPv6,
      * one IBAN, one grouped card per doc). FULL oracle: all six
      * patterns replayed through DuckDB regexp functions — counts on
      * the raw text, masks applied in the registry order whose
      * phones-before-cards placement the operator doc justifies.
      */
    private val q119 = Q(
      "q119_pii_wide_registry",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // footer exercises BOTH alternation branches of the two
        // branched patterns cross-engine: compressed AND full-form
        // IPv6; grouped card AND (via the IBAN's interior digit run)
        // the bare 13-19-digit branch
        val aug = docs.select(
          $"doc_id",
          concat($"text",
            lit(" v6 2001:db8:"), ($"doc_id" % 10000).cast("string"),
            lit("::"), ($"doc_id" % 100 + 1).cast("string"),
            lit(" full 1:2:3:4:5:6:7:"), (($"doc_id" % 9000) + 1000).cast("string"),
            lit(" acct PT"), lpad(($"doc_id" % 100).cast("string"), 2, "0"),
            lit("ZZ"), lpad($"doc_id".cast("string"), 16, "7"),
            lit(" card 4111-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
            lit("-1111-"), lpad(($"doc_id" % 10000).cast("string"), 4, "2"))
            .as("text"))
        operators.Pii.scanPatterns(aug, "doc_id", "text",
          operators.Pii.widePatterns).orderBy("doc_id")
      },
      Some {
        val pats = operators.Pii.widePatterns
        val counts = pats.map(p =>
          s"""    CASE WHEN text IS NULL THEN 0
             |         ELSE len(regexp_extract_all(text, '${p.regex}')) END AS n_${p.name}""".stripMargin)
          .mkString(",\n")
        val redacted = pats.foldLeft("text") { (acc, p) =>
          s"regexp_replace($acc, '${p.regex}', '${p.mask}', 'g')"
        }
        val outCounts = pats.map(p =>
          s"  CAST(n_${p.name} AS BIGINT) AS n_${p.name},").mkString("\n")
        val total = pats.map(p => s"n_${p.name}").mkString(" + ")
        s"""WITH aug AS (
           |  SELECT doc_id,
           |    text || ' v6 2001:db8:' || CAST(doc_id % 10000 AS VARCHAR) || '::' ||
           |    CAST(doc_id % 100 + 1 AS VARCHAR) || ' full 1:2:3:4:5:6:7:' ||
           |    CAST((doc_id % 9000) + 1000 AS VARCHAR) || ' acct PT' ||
           |    lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || 'ZZ' ||
           |    lpad(CAST(doc_id AS VARCHAR), 16, '7') || ' card 4111-' ||
           |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-1111-' ||
           |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '2') AS text
           |  FROM documents),
           |c AS (
           |  SELECT doc_id,
           |$counts,
           |    $redacted AS redacted
           |  FROM aug)
           |SELECT doc_id,
           |$outCounts
           |  CAST($total AS BIGINT) AS pii_total,
           |  redacted
           |FROM c ORDER BY doc_id""".stripMargin
      })

    /** The carved-out `readVerified` half of q108 (VERDICT r11 #5):
      * q108 times the WHOLE release turn (build + write + verified
      * reopen, >20 s at sf0.1), which buries a reopen regression
      * inside the build wall. The release is a per-JVM disk fixture
      * built once with q108's exact params (the q68 fixture
      * discipline — in production the shipped artifact already
      * exists); the timed region is ONLY [[operators.Release.open]]'s
      * verification scan. FULL oracle: q108's SQL verbatim — identical
      * params, identical shipped bytes, so the same recipe replays.
      */
    private val q120Fixture = scala.collection.concurrent.TrieMap.empty[String, String]

    /** q120's shipped-release fixture, resolvable without running the
      * query (the [[fixturePrep]] hook): Bench builds it before the
      * clock, so the recorded cold run measures ONLY the verified
      * reopen — the docstring's claim, made true in the artifact
      * (ADVICE r12: the r12 detail file shipped a cold number that
      * included this >20 s build).
      */
    private def q120Path(s: SparkSession, dir: String): String =
      q120Fixture.getOrElseUpdate(dir, {
        val docs = t(s, dir, "documents")
        val p = java.nio.file.Files.createTempDirectory("graft_q120rel")
          .toString + "/rel"
        val res = operators.Release.build(
          docs.filter($"doc_id" % 97 =!= 0).select($"doc_id", $"lang", $"text"),
          docs.filter($"doc_id" % 97 === 0),
          "doc_id", "text", "lang", p,
          operators.Release.ReleaseParams(
            curation = operators.Curation.CurationParams(
              minQuality = 0.0, maxRepetition = 1.0,
              lshThreshold = 0.6, maxContamination = 0.5,
              portableHash = true, minDocFreq = 0L),
            trainFrac = 0.8, valFrac = 0.1,
            leakageN = 13, maxOverlapNgrams = 100L,
            mixAlpha = 0.5))
        res.unpersist()
        p
      })

    private val q120 = Q(
      "q120_release_reopen",
      (s, dir) => {
        val path = q120Path(s, dir)
        operators.Release.open(s, path, "doc_id", "text")
          .select($"doc_id", $"lang", $"split", $"shard", $"n_tokens",
            $"token_start", $"chunk_first", $"chunk_last")
          .orderBy("doc_id")
      },
      q108.oracle)

    /** The carved-out reopen half of q112 (VERDICT r11 #5): the
      * two-turn incremental lifecycle is a per-JVM disk fixture (built
      * once with q112's exact params); the timed region is only the
      * verified reopen of the ACCUMULATED delivery. Rows-only BY
      * DECLARED DESIGN, exactly as q112: the reopened content is
      * q112's content, whose faithful SQL replay would restate two
      * full curation turns (the q68 discipline) — the lifecycle
      * invariants are ReleaseSpec-pinned instead.
      */
    private val q121Fixture = scala.collection.concurrent.TrieMap.empty[String, String]

    /** q121's two-turn incremental fixture — [[fixturePrep]]-resolvable
      * for the same reason as [[q120Path]]. */
    private def q121Path(s: SparkSession, dir: String): String =
      q121Fixture.getOrElseUpdate(dir, {
        val docs = t(s, dir, "documents")
        val p0 = java.nio.file.Files.createTempDirectory("graft_q121rel")
          .toString + "/rel"
        val p = operators.Release.ReleaseParams(
          curation = operators.Curation.CurationParams(
            minQuality = 0.0, maxRepetition = 1.0,
            lshThreshold = 0.6, maxContamination = 0.5,
            portableHash = true, minDocFreq = 0L),
          trainFrac = 0.8, valFrac = 0.1,
          leakageN = 13, maxOverlapNgrams = 100L)
        val bench = docs.filter($"doc_id" % 97 === 0)
        def half(even: Boolean) = docs
          .filter($"doc_id" % 97 =!= 0 && ($"doc_id" % 2 === 0) === even)
          .select($"doc_id", $"lang", $"text")
        val st1 = operators.Release.initIncremental(
          half(even = true), bench, "doc_id", "text", "lang", p0, p)
        val (st2, _) = operators.Release.appendTurn(
          st1, half(even = false), bench, "doc_id", "text", "lang", p)
        st1.unpersist(); st2.unpersist()
        p0
      })

    private val q121 = Q(
      "q121_incremental_reopen",
      (s, dir) => {
        val path = q121Path(s, dir)
        operators.Release.open(s, path, "doc_id", "text")
          .select($"doc_id", $"lang", $"split")
          .orderBy("doc_id")
      },
      None)

    /** Retroactive-leakage monitor probe
      * ([[operators.Contamination.overlapAgainst]] /
      * [[operators.Release.retroLeakageReport]], T89, r12 — VERDICT
      * r11 #4): the report an incremental release runs on cadence —
      * every SHIPPED train doc's gram overlap against the grown
      * held-out artifact, composing q111's recipe pointed backward
      * (the composition over a written release — verified reopen +
      * this probe + the rebuildIfLeaky remedy — is ReleaseSpec-pinned
      * with a planted late eval doc). FULL oracle, and the one that
      * proves the r12 HASHED artifact cross-engine: DuckDB rebuilds
      * the artifact's md5-64 gram hashes with the documented two-half
      * recipe and joins on them — the hash match certifies the hash
      * recipe itself replays bit-for-bit.
      */
    private val q122 = Q(
      "q122_retro_leak_report",
      (s, dir) => {
        val split = Sampling.assignSplit(
          t(s, dir, "documents").select($"doc_id", $"text"),
          "doc_id", trainFrac = 0.8, valFrac = 0.1)
        val ix = operators.Contamination.evalGramIndex(
          split.filter($"split" =!= "train"), "text")
        operators.Contamination.overlapAgainst(
            ix, split.filter($"split" === "train"), "doc_id", "text")
          .filter($"overlap_ngrams" > 0)
          .orderBy("doc_id")
      },
      Some {
        def md5h64(c: String) =
          s"(CASE WHEN CAST('0x' || substr(md5($c), 1, 8) AS BIGINT) >= 2147483648 " +
            s"THEN CAST('0x' || substr(md5($c), 1, 8) AS BIGINT) - 4294967296 " +
            s"ELSE CAST('0x' || substr(md5($c), 1, 8) AS BIGINT) END) * 4294967296 " +
            s"+ CAST('0x' || substr(md5($c), 9, 8) AS BIGINT)"
        s"""WITH sp AS (
           |  SELECT doc_id, text,
           |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 8000 THEN 'train'
           |         WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 9000 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM documents WHERE doc_id IS NOT NULL),
           |gr AS (
           |  SELECT doc_id, split, unnest(CASE WHEN length(text) >= 13
           |    THEN list_distinct([substr(lower(text), i, 13)
           |                        FOR i IN range(1, greatest(length(text) - 12, 0) + 1)])
           |    ELSE [] END) AS g
           |  FROM sp),
           |evh AS (SELECT DISTINCT ${md5h64("g")} AS gh FROM gr WHERE split <> 'train'),
           |trh AS (SELECT doc_id, ${md5h64("g")} AS gh FROM gr WHERE split = 'train')
           |SELECT t.doc_id, count(*) AS overlap_ngrams
           |FROM trh t JOIN evh USING (gh)
           |GROUP BY t.doc_id
           |ORDER BY doc_id""".stripMargin
      })

    /** Weighted exact quantiles ([[operators.Quantiles
      * .exactQuantilesWeighted]], T91, r12): document-length
      * percentiles by TOKEN MASS per lang — the card statistic the
      * row-count form cannot express (a million tiny docs stop
      * drowning out the giants that dominate training compute).
      * Weight = the q106 token recipe, so empty/null texts carry zero
      * mass and are unselectable. FULL oracle: the identical
      * tie-collapse aggregate + cumulative-weight window + the
      * HUGEINT-widened integer rank (total token mass passes the
      * long-multiply horizon at ~35 TB/key — the r11 dataCardDiff
      * overflow class, widened on BOTH sides here from day one).
      */
    /** Shared by q123 (window form) and q124 (scalable form): the two
      * weighted twins promise bit-equal answers — one SQL oracles both
      * (the q115/q118 discipline).
      */
    private val weightedQuantilesSql =
      """WITH w AS (
             |  SELECT lang, CAST(length(text) AS BIGINT) AS v,
             |    CAST(len(CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |             ELSE string_split_regex(lower(trim(text)), '\s+') END) AS BIGINT) AS wt
             |  FROM documents),
             |g AS (
             |  SELECT lang, v, CAST(sum(wt) AS BIGINT) AS w
             |  FROM w WHERE v IS NOT NULL AND wt IS NOT NULL AND wt > 0
             |  GROUP BY lang, v),
             |r AS (
             |  SELECT lang, v, w,
             |         CAST(sum(w) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum,
             |         CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS tw
             |  FROM g),
             |t AS (SELECT CAST(unnest([250000, 500000, 900000, 990000]) AS BIGINT) AS qm)
             |SELECT lang, qm / 1000000.0 AS quantile, tw AS total_weight, v AS value
             |FROM r, t
             |WHERE cum - w < CAST((CAST(qm AS HUGEINT) * tw + 999999) // 1000000 AS BIGINT)
             |  AND CAST((CAST(qm AS HUGEINT) * tw + 999999) // 1000000 AS BIGINT) <= cum
             |ORDER BY lang, quantile""".stripMargin

    private def weightedQuantilesQuery(
        s: SparkSession, dir: String,
        run: (DataFrame, String, String, String, Seq[Double]) => DataFrame): DataFrame =
      run(
        t(s, dir, "documents").select(
          $"lang",
          length($"text").cast("long").as("len"),
          size(operators.TextAnalysis.tokens($"text")).cast("long").as("wt")),
        "lang", "len", "wt", Seq(0.25, 0.5, 0.9, 0.99))
        .orderBy("lang", "quantile")

    private val q123 = Q(
      "q123_weighted_quantiles",
      (s, dir) => weightedQuantilesQuery(s, dir,
        operators.Quantiles.exactQuantilesWeighted(_, _, _, _, _)),
      Some(weightedQuantilesSql))

    /** The weighted twin's scalable form ([[operators.Quantiles
      * .exactQuantilesWeightedScalable]], T91 x T90): q123's answer on
      * q118's plan — token-mass percentiles that never serialize a
      * one-domain corpus into one sort task. FULL oracle: q123's SQL
      * verbatim.
      */
    private val q124 = Q(
      "q124_weighted_quantiles_scalable",
      (s, dir) => weightedQuantilesQuery(s, dir,
        operators.Quantiles.exactQuantilesWeightedScalable(_, _, _, _, _)),
      Some(weightedQuantilesSql))

    /** Mergeable histogram artifact ([[operators.Quantiles.histIndex/
      * histAppend/histMerge/quantilesOfHist]], T92, r12): the
      * nightly-maintenance path for exact percentiles — even docs
      * indexed, odd docs appended, the artifact written to parquet and
      * REOPENED, and the quantiles read off the reopened artifact
      * without touching the corpus (the q109/q111 artifact-round-trip
      * discipline). FULL oracle: q115's SQL verbatim over the whole
      * table — the hash match certifies append == rebuild AND
      * artifact == direct operator, cross-engine.
      */
    private val q125 = Q(
      "q125_hist_artifact_quantiles",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .selectExpr("lang", "CAST(length(text) AS BIGINT) AS len", "doc_id")
        val ixPath = java.nio.file.Files.createTempDirectory("graft_histix")
          .toString + "/ix"
        operators.Quantiles.histAppend(
            operators.Quantiles.histIndex(
              base.filter($"doc_id" % 2 === 0), "lang", "len"),
            base.filter($"doc_id" % 2 =!= 0), "lang", "len")
          .write.parquet(ixPath)
        operators.Quantiles.quantilesOfHist(
            s.read.parquet(ixPath), "lang", "len", Seq(0.25, 0.5, 0.9, 0.99))
          .orderBy("lang", "quantile")
      },
      Some(lengthQuantilesSql))

    /** The weighted histogram lifecycle (T92 x T91, r13 — VERDICT r12
      * #3): q125's artifact path with TOKEN-MASS weights — even docs
      * indexed with `histIndex(weightCol)`, odd docs appended, the
      * artifact written to parquet and reopened, and the
      * token-mass percentiles read off the reopened artifact with
      * `totalName = "total_weight"`. FULL oracle: q123's SQL verbatim —
      * the hash match certifies weighted append == rebuild AND
      * artifact == direct weighted operator, cross-engine, closing the
      * weighted symmetry q125 left spec-only.
      */
    private val q126 = Q(
      "q126_hist_weighted_quantiles",
      (s, dir) => {
        val base = t(s, dir, "documents").select(
          $"lang",
          length($"text").cast("long").as("len"),
          size(operators.TextAnalysis.tokens($"text")).cast("long").as("wt"),
          $"doc_id")
        val ixPath = java.nio.file.Files.createTempDirectory("graft_histwix")
          .toString + "/ix"
        operators.Quantiles.histAppend(
            operators.Quantiles.histIndex(
              base.filter($"doc_id" % 2 === 0), "lang", "len", Some("wt")),
            base.filter($"doc_id" % 2 =!= 0), "lang", "len", Some("wt"))
          .write.parquet(ixPath)
        operators.Quantiles.quantilesOfHist(
            s.read.parquet(ixPath), "lang", "len", Seq(0.25, 0.5, 0.9, 0.99),
            totalName = "total_weight")
          .orderBy("lang", "quantile")
      },
      Some(weightedQuantilesSql))

    /** The IPv6 edge-compressed strictness knob
      * ([[operators.Pii.widePatterns(ipv6Edge:Boolean)*]] /
      * [[operators.Pii.Ipv6EdgePattern]], r13 — VERDICT r12 #6): the
      * wide registry with the opt-in pattern that also tags the
      * loopback/link-local spellings real logs are full of. The footer
      * plants all three compression shapes per doc — both-sides
      * (`2001:db8:A::B`), leading (`::C`), trailing (`feD0::`) — plus
      * an IBAN so the registry-order interplay stays exercised. FULL
      * oracle: every pattern of the edge registry replayed through
      * DuckDB regexp functions (the q119 generator) — the hash match
      * certifies the four-branch alternation picks the same spans in
      * both engines.
      */
    private val q127 = Q(
      "q127_pii_ipv6_edge",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val aug = docs.select(
          $"doc_id",
          concat($"text",
            lit(" v6 2001:db8:"), ($"doc_id" % 10000).cast("string"),
            lit("::"), ($"doc_id" % 100 + 1).cast("string"),
            lit(" lo ::"), ($"doc_id" % 100 + 1).cast("string"),
            lit(" ll fe"), lpad(($"doc_id" % 90 + 10).cast("string"), 2, "0"),
            lit("::"),
            lit(" acct PT"), lpad(($"doc_id" % 100).cast("string"), 2, "0"),
            lit("ZZ"), lpad($"doc_id".cast("string"), 16, "7"))
            .as("text"))
        operators.Pii.scanPatterns(aug, "doc_id", "text",
          operators.Pii.widePatterns(ipv6Edge = true)).orderBy("doc_id")
      },
      Some {
        val pats = operators.Pii.widePatterns(ipv6Edge = true)
        val counts = pats.map(p =>
          s"""    CASE WHEN text IS NULL THEN 0
             |         ELSE len(regexp_extract_all(text, '${p.regex}')) END AS n_${p.name}""".stripMargin)
          .mkString(",\n")
        val redacted = pats.foldLeft("text") { (acc, p) =>
          s"regexp_replace($acc, '${p.regex}', '${p.mask}', 'g')"
        }
        val outCounts = pats.map(p =>
          s"  CAST(n_${p.name} AS BIGINT) AS n_${p.name},").mkString("\n")
        val total = pats.map(p => s"n_${p.name}").mkString(" + ")
        s"""WITH aug AS (
           |  SELECT doc_id,
           |    text || ' v6 2001:db8:' || CAST(doc_id % 10000 AS VARCHAR) || '::' ||
           |    CAST(doc_id % 100 + 1 AS VARCHAR) || ' lo ::' ||
           |    CAST(doc_id % 100 + 1 AS VARCHAR) || ' ll fe' ||
           |    lpad(CAST(doc_id % 90 + 10 AS VARCHAR), 2, '0') || '::' ||
           |    ' acct PT' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || 'ZZ' ||
           |    lpad(CAST(doc_id AS VARCHAR), 16, '7') AS text
           |  FROM documents),
           |c AS (
           |  SELECT doc_id,
           |$counts,
           |    $redacted AS redacted
           |  FROM aug)
           |SELECT doc_id,
           |$outCounts
           |  CAST($total AS BIGINT) AS pii_total,
           |  redacted
           |FROM c ORDER BY doc_id""".stripMargin
      })

    /** Binned distribution artifact ([[operators.Quantiles.binnedIndex/
      * binnedAppend/binnedMerge/quantilesOfBinned]], T95, r13): the
      * CONTINUOUS twin of q125 — chars-per-token (a DOUBLE ratio whose
      * distinct-value count tracks the corpus, exactly what the
      * discrete histogram artifact cannot hold bounded) binned on a
      * 0.25 grid, even docs indexed, odd docs appended with the grid
      * read FROM the artifact (the frozen-parameter discipline),
      * parquet round trip, and the quantile bins read off the reopened
      * artifact with their [value_low, value_high) intervals. FULL
      * oracle: DuckDB replays the IEEE floor(value/width) binning, the
      * cumulative-mass percentile_disc pick, and the interval
      * arithmetic — the hash match certifies the bin grid is
      * bit-identical cross-engine AND append == rebuild AND
      * artifact == direct, in one stroke.
      */
    private val q128 = Q(
      "q128_binned_quantiles",
      (s, dir) => {
        val base = t(s, dir, "documents").select(
          $"lang",
          (length($"text").cast("double") /
            size(operators.TextAnalysis.tokens($"text")).cast("double")).as("cpt"),
          size(operators.TextAnalysis.tokens($"text")).cast("long").as("wt"),
          $"doc_id")
          .where($"wt" > 0)
        val ixPath = java.nio.file.Files.createTempDirectory("graft_binix")
          .toString + "/ix"
        operators.Quantiles.binnedAppend(
            operators.Quantiles.binnedIndex(
              base.filter($"doc_id" % 2 === 0), "lang", "cpt", width = 0.25),
            base.filter($"doc_id" % 2 =!= 0), "lang", "cpt")
          .write.parquet(ixPath)
        operators.Quantiles.quantilesOfBinned(
            s.read.parquet(ixPath), "lang", Seq(0.25, 0.5, 0.9, 0.99))
          .orderBy("lang", "quantile")
      },
      Some("""WITH w AS (
             |  SELECT lang, CAST(length(text) AS DOUBLE) AS len,
             |    CAST(len(CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |             ELSE string_split_regex(lower(trim(text)), '\s+') END) AS BIGINT) AS wt
             |  FROM documents),
             |v AS (
             |  SELECT lang, CAST(floor((len / wt) / CAST(0.25 AS DOUBLE)) AS BIGINT) AS bin
             |  FROM w WHERE len IS NOT NULL AND wt > 0),
             |g AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS mass FROM v GROUP BY lang, bin),
             |r AS (
             |  SELECT lang, bin, mass,
             |         CAST(sum(mass) OVER (PARTITION BY lang ORDER BY bin) AS BIGINT) AS cum,
             |         CAST(sum(mass) OVER (PARTITION BY lang) AS BIGINT) AS n
             |  FROM g),
             |t AS (SELECT CAST(unnest([250000, 500000, 900000, 990000]) AS BIGINT) AS qm)
             |SELECT lang, qm / 1000000.0 AS quantile, n, bin,
             |       CAST(bin AS DOUBLE) * CAST(0.25 AS DOUBLE) AS value_low,
             |       CAST(bin + 1 AS DOUBLE) * CAST(0.25 AS DOUBLE) AS value_high
             |FROM r, t
             |WHERE cum - mass < (qm * n + 999999) // 1000000
             |  AND (qm * n + 999999) // 1000000 <= cum
             |ORDER BY lang, quantile""".stripMargin))

    /** Token-mass mixing ([[operators.Sampling.mixToWeightsByMass]],
      * T96, r13): q59's mix policy with the budget in TOKEN MASS — the
      * T91 distortion (tiny docs counted equal to giants) removed from
      * the mixing knob. Each domain keeps the longest md5-bucket prefix
      * whose cumulative mass stays within `w_d * min(mass_d / w_d)`,
      * cut against the REAL per-bucket masses; the binding domain keeps
      * everything via the exact-equality branch. FULL oracle: DuckDB
      * replays the q106 token recipe, the q59 bucket hash, the
      * dimension-sized cumulative-mass window, and the prefix-cutoff
      * pick — membership replays row-for-row cross-engine.
      */
    private val q129 = Q(
      "q129_mix_by_mass",
      (s, dir) => {
        val base = t(s, dir, "documents").select(
          $"doc_id", $"lang",
          size(operators.TextAnalysis.tokens($"text")).cast("long").as("mass"))
        Sampling.mixToWeightsByMass(base, "doc_id", "lang", "mass",
            Map("en" -> 0.5, "es" -> 0.3, "de" -> 0.2))
          .orderBy("doc_id")
      },
      Some("""WITH w(lang, wt) AS (VALUES
             |    ('de', CAST(0.2 AS DOUBLE)), ('en', CAST(0.5 AS DOUBLE)),
             |    ('es', CAST(0.3 AS DOUBLE))),
             |m AS (
             |  SELECT doc_id, lang,
             |    CAST(len(CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |             ELSE string_split_regex(lower(trim(text)), '\s+') END) AS BIGINT) AS mass,
             |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS b
             |  FROM documents),
             |mm AS (SELECT m.*, wt FROM m JOIN w USING (lang) WHERE mass > 0),
             |bm AS (SELECT lang, wt, b, CAST(sum(mass) AS BIGINT) AS bm
             |       FROM mm GROUP BY lang, wt, b),
             |tot AS (SELECT lang, wt, CAST(sum(bm) AS BIGINT) AS md
             |        FROM bm GROUP BY lang, wt),
             |t AS (SELECT min(CAST(md AS DOUBLE) / wt) AS T FROM tot),
             |cm AS (SELECT lang, b, CAST(sum(bm) OVER (PARTITION BY lang ORDER BY b) AS BIGINT) AS cum
             |       FROM bm),
             |cut AS (
             |  SELECT tot.lang,
             |    CASE WHEN CAST(md AS DOUBLE) / wt = (SELECT T FROM t) THEN 10000
             |         ELSE (SELECT max(c.b) FROM cm c, t
             |               WHERE c.lang = tot.lang AND CAST(c.cum AS DOUBLE) <= tot.wt * t.T)
             |    END AS co
             |  FROM tot)
             |SELECT d.doc_id, d.lang, d.mass
             |FROM mm d JOIN cut ON cut.lang = d.lang
             |WHERE d.b <= cut.co
             |ORDER BY d.doc_id""".stripMargin))

    /** Token-mass epoch repeats ([[operators.Sampling
      * .epochRepeatsByMass]], T96, r13): q101's up-sampling policy with
      * the parity target in TOKEN MASS — whole copies `floor(w_d * T /
      * mass_d)` with the fractional remainder granted as one extra copy
      * to the longest md5-bucket prefix whose cumulative mass fits it
      * (exact against the real per-bucket masses where q101's
      * count-fraction rule is exact only in expectation); binding
      * domain repeats exactly once. FULL oracle: the q129 profile CTEs
      * + the factor CASE with the exact-equality branch + the prefix
      * cutoff + `unnest(generate_series(1, ncopies))` — copy counts
      * replay row-for-row cross-engine.
      */
    private val q130 = Q(
      "q130_epoch_repeats_by_mass",
      (s, dir) => {
        val base = t(s, dir, "documents").select(
          $"doc_id", $"lang",
          size(operators.TextAnalysis.tokens($"text")).cast("long").as("mass"))
        Sampling.epochRepeatsByMass(base, "doc_id", "lang", "mass",
            Map("en" -> 1.0, "fr" -> 1.0, "es" -> 2.0))
          .orderBy("doc_id", "epoch")
      },
      Some("""WITH w(lang, wt) AS (VALUES
             |    ('en', CAST(1.0 AS DOUBLE)), ('es', CAST(2.0 AS DOUBLE)),
             |    ('fr', CAST(1.0 AS DOUBLE))),
             |m AS (
             |  SELECT doc_id, lang,
             |    CAST(len(CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |             ELSE string_split_regex(lower(trim(text)), '\s+') END) AS BIGINT) AS mass,
             |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS b
             |  FROM documents WHERE doc_id IS NOT NULL),
             |mm AS (SELECT m.*, wt FROM m JOIN w USING (lang) WHERE mass > 0),
             |bm AS (SELECT lang, wt, b, CAST(sum(mass) AS BIGINT) AS bm
             |       FROM mm GROUP BY lang, wt, b),
             |tot AS (SELECT lang, wt, CAST(sum(bm) AS BIGINT) AS md
             |        FROM bm GROUP BY lang, wt),
             |t AS (SELECT max(CAST(md AS DOUBLE) / wt) AS T FROM tot),
             |f AS (SELECT lang, md,
             |        CASE WHEN CAST(md AS DOUBLE) / wt = (SELECT T FROM t) THEN CAST(1.0 AS DOUBLE)
             |             ELSE wt * (SELECT T FROM t) / CAST(md AS DOUBLE) END AS r
             |      FROM tot),
             |c AS (SELECT lang, CAST(floor(r) AS INT) AS base,
             |             (r - floor(r)) * CAST(md AS DOUBLE) AS target FROM f),
             |cm AS (SELECT lang, b, CAST(sum(bm) OVER (PARTITION BY lang ORDER BY b) AS BIGINT) AS cum
             |       FROM bm),
             |cut AS (SELECT c.lang,
             |          (SELECT max(x.b) FROM cm x
             |           WHERE x.lang = c.lang AND CAST(x.cum AS DOUBLE) <= c.target) AS co
             |        FROM c),
             |d AS (SELECT mm.doc_id, mm.lang, mm.mass,
             |        base + CASE WHEN mm.b <= cut.co THEN 1 ELSE 0 END AS ncopies
             |      FROM mm JOIN c USING (lang) JOIN cut ON cut.lang = mm.lang)
             |SELECT doc_id, lang, mass,
             |       CAST(unnest(generate_series(1, ncopies)) AS INT) AS epoch
             |FROM d ORDER BY doc_id, epoch""".stripMargin))

    /** Token-mass temperature mix ([[operators.Sampling
      * .temperatureMixByMass]], T97, r14 — VERDICT r13 #2): q82's
      * mBERT/XLM-R flattening rule with the budget in TOKEN MASS —
      * keep mass ∝ mass_d^0.5, each domain cut to the longest
      * md5-bucket prefix whose cumulative REAL mass fits
      * `w_d * min(mass_d / w_d)`; the binding domain keeps everything
      * via the exact-equality branch. This is the composition the
      * release's [[operators.Release.ReleaseParams.mixMassCol]] knob
      * ships (ReleaseSpec pins the export parity). FULL oracle: q82's
      * pow/min/binding-equality replay composed with q129's bucket
      * hash + cumulative-mass window + prefix-cutoff recipe —
      * membership replays row-for-row cross-engine.
      */
    private val q131 = Q(
      "q131_temperature_mix_by_mass",
      (s, dir) => {
        val base = t(s, dir, "documents").select(
          $"doc_id", $"lang",
          size(operators.TextAnalysis.tokens($"text")).cast("long").as("mass"))
        Sampling.temperatureMixByMass(base, "doc_id", "lang", "mass", alpha = 0.5)
          .orderBy("doc_id")
      },
      Some("""WITH m AS (
             |  SELECT doc_id, lang,
             |    CAST(len(CASE WHEN text IS NULL OR trim(text) = '' THEN []
             |             ELSE string_split_regex(lower(trim(text)), '\s+') END) AS BIGINT) AS mass,
             |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS b
             |  FROM documents WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
             |mm AS (SELECT * FROM m WHERE mass > 0),
             |bm AS (SELECT lang, b, CAST(sum(mass) AS BIGINT) AS bm FROM mm GROUP BY lang, b),
             |w AS (SELECT lang, CAST(sum(bm) AS BIGINT) AS md,
             |             pow(CAST(CAST(sum(bm) AS BIGINT) AS DOUBLE), 0.5) AS wt
             |      FROM bm GROUP BY lang),
             |t AS (SELECT min(CAST(md AS DOUBLE) / wt) AS T FROM w),
             |cm AS (SELECT lang, b, CAST(sum(bm) OVER (PARTITION BY lang ORDER BY b) AS BIGINT) AS cum
             |       FROM bm),
             |cut AS (
             |  SELECT w.lang,
             |    CASE WHEN CAST(md AS DOUBLE) / wt = (SELECT T FROM t) THEN 10000
             |         ELSE (SELECT max(c.b) FROM cm c, t
             |               WHERE c.lang = w.lang AND CAST(c.cum AS DOUBLE) <= w.wt * t.T)
             |    END AS co
             |  FROM w)
             |SELECT d.doc_id, d.lang, d.mass
             |FROM mm d JOIN cut ON cut.lang = d.lang
             |WHERE d.b <= cut.co
             |ORDER BY d.doc_id""".stripMargin))

    val all: Seq[Q] = Seq(
      q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
      q11, q12, q13, q14, q15, q16, q17, q18, q19, q20,
      q21, q22, q23, q24, q24b, q25, q26, q27, q28, q29, q30,
      q31, q32, q33, q34, q35, q36, q37, q38, q39, q40,
      q41, q42, q43, q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54, q55, q56, q57,
      q58, q59, q60, q61, q62, q63, q64, q65, q66, q67, q68, q69, q70, q71, q72, q73, q74,
      q75, q76, q77, q78, q79, q80, q81, q82, q83, q84, q85, q86, q87, q88, q89, q90, q91, q92, q93, q94, q95, q96,
      q97, q98, q99, q100, q101, q102, q103, q104, q105, q106, q107, q108, q109, q110,
      q111, q112, q113, q114, q115, q116, q117, q118, q119, q120, q121, q122, q123, q124, q125,
      q126, q127, q128, q129, q130, q131)

    /** See [[SparkEntry.fixturePrep]]. */
    val fixturePrep: Map[String, (SparkSession, String) => Unit] = Map(
      "q68_incremental_curate" -> ((s, d) => { q68Path(s, d); () }),
      "q120_release_reopen" -> ((s, d) => { q120Path(s, d); () }),
      "q121_incremental_reopen" -> ((s, d) => { q121Path(s, d); () }))
  }

  // $"..." interpolator without a SparkSession-bound implicits import.
  private implicit class ColInterp(private val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
