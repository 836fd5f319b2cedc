package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization helper, referenced from both the interpreted
  * and the generated code paths. The `isNormalized` probe makes the
  * common case (already-NFC text, i.e. virtually all real corpora)
  * allocation-free: the input UTF8String is returned as-is and only
  * denormalized strings pay the String round-trip. */
object GraftNfcUtil {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** md5-prefix hash helper shared by the interpreted and generated paths.
  * Value contract: IDENTICAL to `conv(substr(md5(s),1,8),16,10)` — the
  * first 4 digest bytes read big-endian as an unsigned 32-bit integer —
  * which is what the DuckDB oracles compute with
  * `('0x'||substr(md5(s),1,8))::BIGINT`. The built-in chain materializes
  * a 32-char hex string, substrings it, and radix-parses it PER CALL —
  * and the pipeline operators call it per TOKEN inside higher-order
  * lambdas (interpreted, so every tree node costs); this goes digest →
  * long directly on a thread-local MessageDigest, no allocation beyond
  * the digest's own buffer. */
object GraftMd5Util {
  private val tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def h32(s: UTF8String): Long = {
    val md = tl.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** 60-bit prefix — IDENTICAL to `conv(substr(md5(s),1,15),16,10)` /
    * DuckDB's `('0x'||substr(md5(s),1,15))::BIGINT`: the first 16 hex
    * digits (8 bytes big-endian) shifted right one nibble. Used where the
    * hash is a JOIN KEY over an unbounded relation (p54's gram join):
    * 8-byte integer keys halve the shuffle bytes of a 32-char hex key and
    * compare without string walks; 15 digits (not 16) because the full
    * 64-bit value can exceed BIGINT's signed range in both engines. */
  def h60(s: UTF8String): Long = {
    val md = tl.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }
}

/** `graft_md5h32(string) -> BIGINT` — the md5-family row hash as ONE
  * native expression (codegen'd like [[GraftNfc]]). Exists purely as the
  * fast evaluation of the oracle-portable hash. */
case class GraftMd5H32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_md5h32 expects string, got ${child.dataType.simpleString}")
  override def prettyName: String = "graft_md5h32"
  override def nullSafeEval(input: Any): Any =
    GraftMd5Util.h32(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftMd5Util.h32($c)")
  override protected def withNewChildInternal(newChild: Expression): GraftMd5H32 =
    copy(child = newChild)
}

/** `graft_md5h60(string) -> BIGINT` — the 60-bit md5 prefix as a native
  * expression (see [[GraftMd5Util.h60]]). */
case class GraftMd5H60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_md5h60 expects string, got ${child.dataType.simpleString}")
  override def prettyName: String = "graft_md5h60"
  override def nullSafeEval(input: Any): Any =
    GraftMd5Util.h60(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftMd5Util.h60($c)")
  override protected def withNewChildInternal(newChild: Expression): GraftMd5H60 =
    copy(child = newChild)
}

/** `graft_nfc(string)` — Unicode NFC normalization as a native Catalyst
  * expression. Spark has no built-in normalizer (the usual fallback is a
  * Scala UDF, which breaks whole-stage codegen and adds per-row
  * SerDe); this stays inside the generated plan by emitting a call to
  * the JVM's `java.text.Normalizer` through [[GraftNfcUtil]] — exactly
  * how Spark's own string expressions lean on UTF8String intrinsics.
  * Canonical equivalence (composed vs combining-mark forms) is the text
  * preprocessing a dedup/checksum pipeline must collapse before hashing:
  * "café" in NFD and NFC hash differently raw, identically after this. */
case class GraftNfc(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_nfc expects string, got ${child.dataType.simpleString}")
  override def prettyName: String = "graft_nfc"
  override def nullSafeEval(input: Any): Any =
    GraftNfcUtil.nfc(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftNfcUtil.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): GraftNfc =
    copy(child = newChild)
}
