package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native Catalyst expression —
  * Spark has no built-in normalizer, and text corpora arrive in
  * mixed composition forms (decomposed "e"+U+0301 vs composed "é"),
  * which silently breaks exact dedup, shingle identity, and vocab
  * counting unless everything is canonicalized first. A standard
  * training-data pipeline normalizes before any hashing stage.
  *
  * Codegen-friendly (preference (b) in the custom-operator ladder):
  * the generated code calls `java.text.Normalizer` directly — no UDF
  * ser/de, stays inside whole-stage codegen. Fast path: an
  * `isNormalized` pre-check (one scan, no allocation) returns the
  * input UTF8String untouched for already-NFC text, which is the
  * overwhelming case in real corpora — the rewrite allocation is
  * paid only by rows that actually need it.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      s"""
         |String $s = $c.toString();
         |if (java.text.Normalizer.isNormalized($s, java.text.Normalizer.Form.NFC)) {
         |  ${ev.value} = $c;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |    java.text.Normalizer.normalize($s, java.text.Normalizer.Form.NFC));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  /** Column wrapper, resolved by [[graft.GraftExtensions]]. */
  def of(c: Column): Column =
    org.apache.spark.sql.functions.call_function("nfc_normalize", c)

  /** Pure-Java reference for tests. */
  def reference(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
}
