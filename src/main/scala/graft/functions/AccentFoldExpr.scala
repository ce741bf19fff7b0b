package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for accent folding (X1's kernel) — keeps
  * the cornerstone string function inside whole-stage codegen instead of
  * a Scala UDF (no encoder boundary, no closure serialization; the
  * generated code is a single static call on the UTF8String).
  *
  * ASCII inputs (the overwhelming majority at corpus scale) return the
  * input object unchanged — zero allocation.
  */
case class AccentFoldExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    AccentFoldExpr.fold(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.AccentFoldExpr.fold($c)")

  override protected def withNewChildInternal(newChild: Expression): AccentFoldExpr =
    copy(child = newChild)
}

object AccentFoldExpr {

  /** Static kernel invoked from generated code. */
  def fold(s: UTF8String): UTF8String = {
    if (s == null) return null
    // UTF8String is ASCII iff every byte < 0x80; numBytes==numChars is a
    // cheap sufficient check.
    if (s.numBytes() == s.numChars()) s
    else UTF8String.fromString(TextNorm.foldAccents(s.toString))
  }

  /** Column wrapper (classic-session API). */
  def apply(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(AccentFoldExpr(ColumnBridge.expression(c)))
  }
}

/** Lowercasing, exactly as Spark's `lower` computes it on a UTF8_BINARY
  * string under the default ICU case mappings
  * (`spark.sql.icu.caseMappings.enabled`): ASCII inputs lowercase
  * byte-wise, anything else goes through ICU's full case mapping (final
  * sigma, `İ` -> `i̇`), with invalid UTF-8 first replaced the way
  * `toValidString` replaces it. Spark's `lower` reaches that same
  * mapping through `CollationAwareUTF8String`, whose class initializer
  * builds a title-case lookup table over every code point: the first
  * `lower` in a JVM pays it on an executor thread (about 2 s of one
  * cold release turn). This expression never loads that class.
  *
  * A non-string input is cast to a string first, as `lower` casts it.
  * Two things `lower` honours are not honoured here: it always uses the
  * ICU mapping, whatever `spark.sql.icu.caseMappings.enabled` says, and
  * a collated input is cast to UTF8_BINARY and lowercased as that.
  */
case class LowerExpr(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = StringType
  // typed by inference: `AbstractDataType` is private to Spark's sql package
  override def inputTypes = Seq(StringType)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    LowerExpr.lower(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LowerExpr.lower($c)")

  override protected def withNewChildInternal(newChild: Expression): LowerExpr =
    copy(child = newChild)
}

object LowerExpr {

  /** Static kernel invoked from generated code. */
  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(com.ibm.icu.lang.UCharacter.toLowerCase(s.toValidString))

  def apply(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(LowerExpr(ColumnBridge.expression(c)))
  }
}

/** X1 `normalize_text` as one fused kernel call: trim + accent-fold +
  * whitespace-collapse + lowercase in a single pass over the string,
  * instead of a 4-deep regexp/lower/trim expression chain that
  * re-materializes the UTF8String at every step (measured ~5x on the
  * identification phase). Null/blank -> "" (reference semantics), so this
  * expression handles null itself.
  */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    NormalizeTextExpr.normalize(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        UTF8String ${ev.value} = graft.functions.NormalizeTextExpr.normalize(${c.isNull} ? null : ${c.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NormalizeTextExpr =
    copy(child = newChild)
}

object NormalizeTextExpr {

  /** ASCII fast path works directly on the UTF8String bytes (one output
    * allocation, no java.lang.String, no regex): trim edges (<= 0x20,
    * like String.trim), collapse interior whitespace runs, lowercase
    * A-Z. Non-ASCII falls back to the shared kernel. Byte-for-byte parity
    * with [[TextNorm.normalize]] on ASCII is pinned by ColsSpec.
    */
  def normalize(s: UTF8String): UTF8String = {
    if (s == null) return UTF8String.EMPTY_UTF8
    val n = s.numBytes()
    if (n != s.numChars()) return UTF8String.fromString(TextNorm.normalize(s.toString))
    val bytes = s.getBytes
    var start = 0
    var end = n
    while (start < end && (bytes(start) & 0xFF) <= 0x20) start += 1
    while (end > start && (bytes(end - 1) & 0xFF) <= 0x20) end -= 1
    if (start == end) return UTF8String.EMPTY_UTF8
    val out = new Array[Byte](end - start)
    var i = start
    var o = 0
    var pendingSpace = false
    while (i < end) {
      val b = bytes(i)
      val ws = b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
      if (ws) pendingSpace = true
      else {
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        pendingSpace = false
        out(o) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        o += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  def apply(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(NormalizeTextExpr(ColumnBridge.expression(c)))
  }
}

/** X2 `remove_prefixes` fused kernel (normalize + strip one designator). */
case class RemovePrefixesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    RemovePrefixesExpr.strip(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        UTF8String ${ev.value} = graft.functions.RemovePrefixesExpr.strip(${c.isNull} ? null : ${c.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): RemovePrefixesExpr =
    copy(child = newChild)
}

object RemovePrefixesExpr {
  def strip(s: UTF8String): UTF8String = {
    if (s == null) return UTF8String.EMPTY_UTF8
    UTF8String.fromString(TextNorm.removePrefixes(s.toString))
  }

  def apply(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(RemovePrefixesExpr(ColumnBridge.expression(c)))
  }
}
