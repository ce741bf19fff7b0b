package graft.functions

import graft.SparkSpec
import graft.operators.{CorpusFilters, TextAnalysis, TextDedup}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.functions.{col, expr, lower, struct}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** [[LowerExpr]] computes exactly what Spark's `lower` computes, and the
  * text operators lowercase through it rather than through `lower`.
  */
class LowerExprSpec extends SparkSpec {
  import spark.implicits._

  private val texts: Seq[String] = Seq(
    "Hello WORLD 123 !?", "", "  \t ",
    "ÁGUA São JOÃO Coração AÇÃO ÉÊÍÓÔÕÚÇ à",
    // word-final capital sigma lowers to ς, any other to σ
    "ΟΔΟΣ ΣΟΦΟΣ Σ ΣΑ",
    // dotted capital I lowers to i + combining dot above
    "İstanbul DİYARBAKIR",
    "ǅ ß Ω K Å ＡＢＣ 😀 Ⅻ")

  /** Byte sequences that are not valid UTF-8, as hex. */
  private val invalid = Seq("41FF42", "C328", "E28228", "F0288CBC", "4142C3", "80")

  private def bytesOf(df: org.apache.spark.sql.DataFrame, c: Column => Column): Seq[Seq[Byte]] =
    df.select(c(col("t")).cast("binary")).collect().toSeq
      .map(r => Option(r.getAs[Array[Byte]](0)).map(_.toSeq).orNull)

  test("LowerExpr == lower on ASCII, accents, final sigma, İ, invalid UTF-8 and null") {
    val df = (texts.map(Option(_)) :+ None).toDF("t")
      .unionByName(invalid.map(h => s"cast(unhex('$h') as string) AS t")
        .map(e => spark.range(1).select(expr(e))).reduce(_ unionByName _))
    // generated code (whole-stage codegen over the frame)
    assert(bytesOf(df, LowerExpr(_)) == bytesOf(df, lower))
    assert(bytesOf(df, LowerExpr(_)).count(_ == null) == 1)
    // interpreted evaluation, straight on the UTF8String bytes
    val inputs = texts.map(UTF8String.fromString) ++
      invalid.map(h => UTF8String.fromBytes(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray))
    inputs.foreach { s =>
      val lit = Literal(s, StringType)
      assert(LowerExpr(lit).eval() == Lower(lit).eval(), s"differs on ${s.getBytes.toSeq}")
    }
    assert(LowerExpr(Literal(null, StringType)).eval() == null)
    // the mappings the parity rests on
    assert(LowerExpr.lower(UTF8String.fromString("ΟΔΟΣ")).toString == "\u03bf\u03b4\u03bf\u03c2")
    assert(LowerExpr.lower(UTF8String.fromString("İ")).toString == "i\u0307")
  }

  test("LowerExpr casts a non-string input as lower casts it") {
    val df = Seq((12, 2.5, true), (-7, 1e20, false)).toDF("i", "d", "b")
    Seq("i", "d", "b").foreach { c =>
      assert(df.select(LowerExpr(col(c))).collect().toSeq ==
        df.select(lower(col(c))).collect().toSeq, s"differs on column $c")
    }
    // a text operator handed a non-string column reads it as its string
    val n = Seq(1234567L, 42L).toDF("n")
    assert(n.select(TextDedup.shingles(col("n"), 3)).collect().toSeq ==
      n.select(TextDedup.shingles(col("n").cast("string"), 3)).collect().toSeq)
  }

  test("the text operators lowercase with LowerExpr, never with Spark's Lower") {
    val t = col("t")
    val built: Seq[(String, Column)] = Seq(
      "tokens" -> TextAnalysis.tokens(t),
      "shingles" -> TextDedup.shingles(t, 3),
      "shingleHashesPortableExpr" -> TextDedup.shingleHashesPortableExpr(t, 3),
      "heuristicSignalsExpr" -> struct(CorpusFilters.heuristicSignalsExpr(t).map(_._2): _*),
      "UrlOps.normalize" -> UrlOps.normalize(t),
      "UrlOps.host" -> UrlOps.host(t))
    built.foreach { case (name, c) =>
      val exprs = Seq("A b").toDF("t").select(c).queryExecution.analyzed.expressions
      val lowers = exprs.flatMap(_.collect { case l: Lower => l })
      assert(lowers.isEmpty, s"$name holds Spark's Lower: ${lowers.map(_.sql).mkString(", ")}")
      assert(exprs.exists(_.exists(_.isInstanceOf[LowerExpr])), s"$name holds no LowerExpr")
    }
  }
}
