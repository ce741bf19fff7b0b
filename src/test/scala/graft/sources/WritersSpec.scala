package graft.sources

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.functions.{col, lit, raise_error}

import graft.SparkSpec
import graft.etl.{Fixtures, Pipeline, StarLoader}

class WritersSpec extends SparkSpec {

  private lazy val result = {
    val registry = spark.read.option("header", "true").csv(Fixtures.path("entidades.csv"))
    val survey = Readers.csv(spark, Fixtures.path("survey_2026.csv"))
    Pipeline.run(survey, registry, Fixtures.config, 2026)
  }

  test("writeStar round-trips partitioned-by-ano parquet") {
    val root = Files.createTempDirectory("graft-star").toString
    val star = StarLoader.load(result)
    Writers.writeStar(star, root)
    val back = spark.read.parquet(s"$root/fato_inquerito")
    assert(back.count() == 3)
    assert(back.columns.contains("ano"))
    // year partition exists on disk (partition pruning path)
    assert(new java.io.File(s"$root/fato_inquerito/ano=2026").exists())
    assert(spark.read.parquet(s"$root/dim_formacao").count() == 4)
    assert(spark.read.parquet(s"$root/comentario").count() == 2)
  }

  test("exportSheets writes one csv dir per sheet incl quarantines") {
    val root = Files.createTempDirectory("graft-sheets").toString
    Writers.exportSheets(result, root)
    val sheets = new java.io.File(root).list().toSet
    assert(Set("identificacao", "formacoes", "interesses", "disponibilidade",
      "tipo de ensino", "duplicados", "entidades_invalidas", "all_data")
      .subsetOf(sheets))
    val dup = spark.read.option("header", "true").csv(s"$root/duplicados")
    assert(dup.count() == 1)
  }

  test("exportSheetsXlsx writes ONE workbook with a tab per sheet") {
    val path = Files.createTempFile("graft-export", ".xlsx").toString
    Writers.exportSheetsXlsx(result, path)
    val names = Xlsx.sheetNames(path)
    assert(Set("identificacao", "formacoes", "interesses", "disponibilidade",
      "tipo de ensino", "duplicados", "entidades_invalidas", "all_data")
      .subsetOf(names.toSet))
    // the all_data tab round-trips the valid partition's row count
    val allIdx = names.indexOf("all_data") + 1
    assert(Xlsx.read(spark, path, sheet = allIdx).count() == result.valid.count())
    // quarantine tab holds the duplicate row
    val dupIdx = names.indexOf("duplicados") + 1
    assert(Xlsx.read(spark, path, sheet = dupIdx).count() == 1)
  }

  private val starTables = Seq(
    "fato_inquerito", "dim_formacao", "fato_formacao_inquerito", "dim_area_tematica",
    "fato_interesse_area", "comentario", "dim_preferencia_ensino", "fato_preferencia_ensino",
    "dim_horario", "fato_disponibilidade_horaria")

  test("concurrent writeStar writes exactly the ten star frames") {
    val root = Files.createTempDirectory("graft-star-all").toString
    val star = StarLoader.load(result)
    Writers.writeStar(star, root)
    val frames = Seq(
      star.fatoInquerito, star.dimFormacao, star.fatoFormacao, star.dimAreaTematica,
      star.fatoInteresse, star.comentario, star.dimPreferencia, star.fatoPreferencia,
      star.dimHorario, star.fatoDisponibilidade)
    starTables.zip(frames).foreach { case (name, df) =>
      val back = spark.read.parquet(s"$root/$name").select(df.columns.map(col): _*)
      assert(back.except(df).isEmpty && df.except(back).isEmpty, name)
    }
  }

  test("a failing star table fails writeStar only after every other table's write finished") {
    val root = Files.createTempDirectory("graft-star-fail").toString
    val star = StarLoader.load(result)
    val bad = star.copy(comentario =
      star.comentario.withColumn("boom", raise_error(lit("star boom")).cast("string")))
    // jobsDuring also fails if a job of the call is still running once
    // it has thrown
    val (thrown, jobs) = jobsDuring(Try(Writers.writeStar(bad, root)))
    assert(jobs > 0)
    val e = thrown.failed.get
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("star boom")))
    // and all nine other tables were written in full
    starTables.filter(_ != "comentario").foreach { t =>
      assert(new java.io.File(s"$root/$t/_SUCCESS").exists(), t)
    }
  }

  test("each dimension table writes as one job and one file") {
    val root = Files.createTempDirectory("graft-star-dims").toString
    val star = StarLoader.load(result)
    Seq(star.dimFormacao -> "dim_formacao", star.dimAreaTematica -> "dim_area_tematica",
        star.dimPreferencia -> "dim_preferencia_ensino", star.dimHorario -> "dim_horario")
      .foreach { case (df, name) =>
        val (_, jobs) = jobsDuring(df.write.mode("overwrite").parquet(s"$root/$name"))
        assert(jobs == 1, s"$name: $jobs jobs")
        val parts = new java.io.File(s"$root/$name").list().filter(_.startsWith("part-"))
        assert(parts.length == 1, s"$name: ${parts.mkString(", ")}")
      }
    star.unpersist()
  }

  test("exportSheetsXlsx counts each distinct source frame once") {
    val path = Files.createTempFile("graft-export-counts", ".xlsx").toString
    result.valid.count() // build the pipeline's caches outside the measured call
    val (_, executions) = executionsDuring(Writers.exportSheetsXlsx(result, path))
    val counts = executions.filter(_.startsWith("count at"))
    // valid (five group sheets + all_data), duplicados, entidades_invalidas
    assert(counts.size == 3, executions.mkString("; "))
  }
}
