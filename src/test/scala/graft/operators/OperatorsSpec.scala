package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Cols
import graft.sources.Readers

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, 10, "a", 0L), (1L, 90, "b", 1L), (2L, 50, "c", 2L),
    (1L, 90, "d", 3L), (3L, 5, "e", 4L)
  ).toDF("key", "quality", "payload", "row_id")

  test("keepFirst keeps arrival-order first, quarantines the rest") {
    val r = Dedup.keepFirst(df, Seq(col("key")), col("row_id"))
    assert(r.kept.select("payload").as[String].collect().sorted.toSeq == Seq("a", "c", "e"))
    assert(r.duplicates.select("payload").as[String].collect().sorted.toSeq == Seq("b", "d"))
    assert(r.kept.count() + r.duplicates.count() == df.count())
  }

  test("keepBest keeps highest quality, deterministic tiebreak") {
    val r = Dedup.keepBest(df, Seq(col("key")), Seq(col("quality")), col("row_id"))
    // key 1: quality 90 twice -> tiebreak row_id 1 ("b") wins
    assert(r.kept.select("payload").as[String].collect().sorted.toSeq == Seq("b", "c", "e"))
  }

  test("exactByColumns keeps min id per duplicate group") {
    val d = Seq((0L, "x"), (1L, "x"), (2L, "y")).toDF("id", "text")
    val r = Dedup.exactByColumns(d, Seq("text"), "id")
    assert(r.select("id").as[Long].collect().sorted.toSeq == Seq(0L, 2L))
  }
}

class ExactDedupNullSpec extends SparkSpec {
  import spark.implicits._

  test("exactByColumns keeps one survivor per null-keyed group") {
    val df = Seq(
      (1L, Some("a")), (2L, Some("a")),
      (3L, None), (4L, None), (5L, Some("b")))
      .toDF("id", "k").select($"id", $"k".cast("string").as("k"))
    val got = graft.operators.Dedup.exactByColumns(df, Seq("k"), "id")
      .select("id").as[Long].collect().toSet
    // null group keeps its min id (3), not dropped wholesale
    assert(got == Set(1L, 3L, 5L))
  }

  test("null IDS never survive, and both plan forms agree (r7 ADVICE)") {
    // struct ordering sorts nulls first, so before r8 the one-scan form
    // let a null-id row WIN the min while the semi-join fallback dropped
    // it — same input, different results depending on payload type
    val rows = Seq(
      (Option.empty[Long], "a", "p0"), // null id in a shared group
      (Some(7L), "a", "p1"),
      (Some(2L), "b", "p2"),
      (Option.empty[Long], "c", "p3")) // group whose ONLY row has a null id
    val oneScan = rows.toDF("id", "k", "payload") // orderable payload
    // map payload forces the two-scan semi-join fallback
    val twoScan = oneScan.withColumn("payload",
      org.apache.spark.sql.functions.map(
        org.apache.spark.sql.functions.lit("v"), $"payload"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.exactByColumns(df, Seq("k"), "id")
        .select("id").as[Option[Long]].collect().toSet
    assert(ids(oneScan) == Set(Some(7L), Some(2L)))
    assert(ids(twoScan) == Set(Some(7L), Some(2L)))
  }
}

class SurrogateKeysSpec extends SparkSpec {
  import spark.implicits._

  test("dense assigns contiguous ids in order with offset") {
    val d = Seq("c", "a", "b").toDF("k")
    val r = SurrogateKeys.dense(d, "id", Seq(col("k").asc), offset = 10)
      .orderBy("id").as[(String, Long)].collect().toSeq
    assert(r == Seq(("a", 11L), ("b", 12L), ("c", 13L)))
  }

  test("scalable assigns unique ids") {
    val d = spark.range(1000).toDF("v").repartition(7)
    val r = SurrogateKeys.scalable(d, "uid")
    assert(r.select("uid").distinct().count() == 1000)
  }

  test("getOrCreate keeps existing ids and appends new after max") {
    val existing = Seq((3L, "x"), (7L, "y")).toDF("id", "k")
    val incoming = Seq("y", "z", "w", "z").toDF("k")
    val r = SurrogateKeys.getOrCreate(existing, incoming, "id", "k")
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(r == Seq((3L, "x"), (7L, "y"), (8L, "w"), (9L, "z")))
  }
}

class ReshapeSpec extends SparkSpec {
  import spark.implicits._

  test("unpivotNonNull melts wide cols and drops nulls") {
    val d = Seq((1L, Some("5"), None: Option[String]), (2L, Some("7"), Some("8")))
      .toDF("row_id", "qa", "qb")
    val r = Reshape.unpivotNonNull(d, Seq("row_id"), Seq("qa", "qb"), "question", "answer")
    assert(r.count() == 3)
    assert(r.columns.toSeq == Seq("row_id", "question", "answer"))
    val m = r.as[(Long, String, String)].collect().toSet
    assert(m == Set((1L, "qa", "5"), (2L, "qa", "7"), (2L, "qb", "8")))
  }
}

class EntityResolutionSpec extends SparkSpec {
  import spark.implicits._

  test("resolve partitions into valid/dup/unmatched/badName with invariant") {
    val survey = Seq(
      ("Município de Águeda", "Câmara Municipal", 0L), // match (type translated)
      ("CM  Águeda", null, 1L),                        // duplicate of entity 1 (default type)
      ("Freguesia de Santa Maria", "Freguesias", 2L),  // match entity 2
      ("Entidade Fantasma", "Freguesias", 3L),         // unmatched
      ("N/A", "Câmara Municipal", 4L),                 // bad name
      (null, null, 5L)                                 // bad name (null)
    ).toDF("nome_entidade", "tipo_entidade", "row_id")

    val registry = Seq(
      (1L, "Águeda", "Municípios"),
      (2L, "Santa Maria", "Freguesias"),
      (3L, "Outro Lado", "Freguesias")
    ).toDF("id_entidades", "ent_nome", "ent_tipo")

    // the identificacao group maps exactly the two survey columns
    val config = graft.etl.EtlConfig(
      renames = Seq(
        graft.etl.ColumnRename("nome_entidade", "nome_entidade", critical = true),
        graft.etl.ColumnRename("tipo_entidade", "tipo_entidade")),
      groups = Map("identificacao" -> graft.etl.GroupRange(1, 2)),
      entityTypes = Seq(
        graft.etl.EntityTypeMap("Câmara Municipal", "Municípios"),
        graft.etl.EntityTypeMap("Freguesias", "Freguesias")),
      defaultTipo = "Municípios")
    val r = graft.etl.Pipeline.run(survey, registry, config, 2026)

    assert(r.valid.count() == 2)
    assert(r.duplicates.count() == 1)
    assert(r.unmatched.count() == 1)
    assert(r.badName.count() == 2)
    // keep-first: row 0 survives for entity 1, row 1 quarantined
    assert(r.valid.filter($"id_entidade" === 1L).select("row_id").as[Long].head() == 0L)
    assert(r.duplicates.select("row_id").as[Long].head() == 1L)
    val total = r.valid.count() + r.duplicates.count() + r.unmatched.count() + r.badName.count()
    assert(total == survey.count())
    r.unpersist()
  }
}

class ReadersSpec extends SparkSpec {
  import spark.implicits._

  test("withRowId preserves order and is dense") {
    val d = spark.range(100).toDF("v").repartition(5)
    val r = Readers.withRowId(d)
    assert(r.select("row_id").distinct().count() == 100)
    assert(r.agg(min("row_id"), max("row_id")).as[(Long, Long)].head() == ((0L, 99L)))
  }

  test("parquetWithRowId is dense, unique, and (file, position)-ordered") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rowid").toString
    spark.range(1000).toDF("v").repartition(7)
      .write.mode("overwrite").parquet(dir)
    val r = Readers.parquetWithRowId(spark, dir)
    assert(r.select("row_id").distinct().count() == 1000)
    assert(r.agg(min("row_id"), max("row_id")).as[(Long, Long)].head() == ((0L, 999L)))
    // ids follow (file_path, in-file position): re-derive and compare
    val check = spark.read.parquet(dir)
      .select($"v", $"_metadata.file_path".as("f"), $"_metadata.row_index".as("i"))
      .orderBy("f", "i").select("v").as[Long].collect().toSeq
    assert(r.orderBy("row_id").select("v").as[Long].collect().toSeq == check)
    // the plan stays columnar: no RDD scan node
    assert(!r.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"))
  }
}

class ColsSpec extends SparkSpec {
  import spark.implicits._

  test("column fns match TextNorm kernel on a sample") {
    val d = Seq("Município de Águeda", "  CM  Porto ", "n/a", "", null,
      "A\tB\nC", " x ", "MiXeD CaSe 42", "\t \n", "a  b   c")
      .toDF("s")
    val got = d.select(
      Cols.normalizeText($"s").as("n"),
      Cols.removePrefixes($"s").as("p"),
      Cols.isInvalidName($"s").as("bad"))
      .collect()
    val exp = Seq("Município de Águeda", "  CM  Porto ", "n/a", "", null,
      "A\tB\nC", " x ", "MiXeD CaSe 42", "\t \n", "a  b   c").map { s =>
      (graft.functions.TextNorm.normalize(s),
       graft.functions.TextNorm.removePrefixes(s),
       graft.functions.TextNorm.invalidNames.contains(graft.functions.TextNorm.normalize(s)))
    }
    got.zip(exp).foreach { case (row, (n, p, bad)) =>
      assert(row.getString(0) == n)
      assert(row.getString(1) == p)
      assert(row.getBoolean(2) == bad)
    }
  }

  test("validateNumeric clamps and defaults") {
    val d = Seq("12", "12.7", "-3", "abc", null, " 4 ").toDF("s")
    val got = d.select(Cols.validateNumeric($"s")).as[Int].collect().toSeq
    assert(got == Seq(12, 12, 0, 0, 0, 4))
  }

  test("simNao / mapDisp / simNaoStrict") {
    val d = Seq("Sim", "NÃO", "nao", "talvez", null).toDF("s")
    assert(d.select(Cols.simNao($"s")).as[Option[Int]].collect().toSeq ==
      Seq(Some(1), Some(0), Some(0), None, None))
    assert(d.select(Cols.mapDisp($"s")).as[Int].collect().toSeq ==
      Seq(1, 0, 0, -1, -1))
    assert(d.select(Cols.simNaoStrict($"s")).as[Option[Int]].collect().toSeq ==
      Seq(Some(1), Some(0), None, None, None))
  }

  test("simNaoStrict equals the lower() compare for null and every one-code-point substitution") {
    // every code point but the surrogates, put in each position of
    // "sim" and "não": case variants, accented and other-script look-alikes
    val subs = spark.range(0, 0x110000, 1, 8)
      .filter($"id" < 0xD800 || $"id" > 0xDFFF).as[Long]
      .flatMap { cp =>
        val ch = new String(Character.toChars(cp.toInt))
        for (w <- Seq("sim", "não"); i <- 0 until w.length)
          yield w.substring(0, i) + ch + w.substring(i + 1)
      }.toDF("s")
      .union(Seq[String](null).toDF("s"))
    val viaLower = when(lower($"s") === "sim", 1).when(lower($"s") === "não", 0)
      .otherwise(lit(null).cast("int"))
    val got = subs.select(Cols.simNaoStrict($"s").as("got"), viaLower.as("ref"), $"s")
      .filter(!($"got" <=> $"ref") || $"ref".isNotNull)
      .collect()
    val differ = got.filterNot(r => r.get(0) == r.get(1))
    assert(differ.isEmpty, differ.take(10).mkString(", "))
    // each position of each word is hit by its two case variants
    assert(got.count(_.get(1) == 1) == 6 && got.count(_.get(1) == 0) == 6)
  }

  test("splitSentences column matches kernel") {
    val s = "Muito útil. Repetir em 2027! Sem dúvida"
    val got = Seq(s).toDF("t").select(Cols.splitSentences($"t")).as[Seq[String]].head()
    assert(got == graft.functions.TextNorm.splitSentences(s))
  }

  test("durationSeconds null on non-positive") {
    val d = Seq(
      ("2026-01-01 10:00:00", "2026-01-01 10:00:05"),
      ("2026-01-01 10:00:00", "2026-01-01 10:00:00"),
      ("2026-01-01 10:00:05", "2026-01-01 10:00:00"))
      .toDF("a", "b")
      .select(to_timestamp($"a").as("a"), to_timestamp($"b").as("b"))
    assert(d.select(Cols.durationSeconds($"a", $"b")).as[Option[Long]].collect().toSeq ==
      Seq(Some(5L), None, None))
  }
}
