package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass marker-word counter for language ID: counts, per
  * language, how many whole words of the text are in that language's
  * marker set — one byte scan, no regex, whole-stage codegen.
  *
  * Replaces four `regexp_extract_all(lower(text), '\b(...)\b')`
  * passes. Word semantics replicate ASCII `\b` exactly: a word is a
  * maximal run of [A-Za-z0-9_] bytes (Java regex `\b` without
  * UNICODE_CHARACTER_CLASS treats only ASCII as word characters, and
  * UTF-8 continuation bytes can never alias ASCII), and a run counts
  * only when its ASCII-lowercased form equals a marker exactly — so
  * "the" inside "theory" never matches, mirroring the boundary
  * anchors. Runs longer than the longest marker are skipped without
  * allocating.
  */
case class MarkerWordCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = MarkerWordCounts.Schema
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val counts = new Array[Int](MarkerWordCounts.Langs.length)
    var i = 0
    var start = -1
    while (i <= bytes.length) {
      val isWord = i < bytes.length && {
        val b = bytes(i)
        (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
          (b >= '0' && b <= '9') || b == '_'
      }
      if (isWord) { if (start < 0) start = i }
      else if (start >= 0) {
        val len = i - start
        if (len <= MarkerWordCounts.MaxLen) {
          val cs = new Array[Char](len)
          var j = 0
          while (j < len) {
            val b = bytes(start + j)
            cs(j) = (if (b >= 'A' && b <= 'Z') b + 32 else b).toChar
            j += 1
          }
          val idx = MarkerWordCounts.Lookup.get(new String(cs))
          if (idx != null) counts(idx.intValue()) += 1
        }
        start = -1
      }
      i += 1
    }
    InternalRow(counts(0), counts(1), counts(2), counts(3))
  }

  /** Codegen-template trap (cost a silent interpreted-eval fallback
    * until round 5): Spark's `code` interpolator re-applies
    * `stripMargin` each time a block is nested into an enclosing
    * block, so a generated-Java line whose first non-space characters
    * are `|` loses them (our `|| (...)` continuation compiled as
    * `(...)`, which Janino rejected as "not a type" and Spark quietly
    * fell back to interpreted eval for the whole subtree). Never
    * start a generated line with `|`.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val map = ctx.addReferenceObj("markerMap", MarkerWordCounts.Lookup,
        "java.util.HashMap<String, Integer>")
      val bytes = ctx.freshName("bytes")
      val counts = ctx.freshName("counts")
      val start = ctx.freshName("start")
      val i = ctx.freshName("i")
      val w = ctx.freshName("isWord")
      val b = ctx.freshName("b")
      val len = ctx.freshName("len")
      val cs = ctx.freshName("cs")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      s"""
         |byte[] $bytes = $c.getBytes();
         |int[] $counts = new int[${MarkerWordCounts.Langs.length}];
         |int $start = -1;
         |for (int $i = 0; $i <= $bytes.length; $i++) {
         |  boolean $w = false;
         |  if ($i < $bytes.length) {
         |    byte $b = $bytes[$i];
         |    $w = ($b >= 'a' && $b <= 'z') || ($b >= 'A' && $b <= 'Z') ||
         |      ($b >= '0' && $b <= '9') || $b == '_';
         |  }
         |  if ($w) { if ($start < 0) $start = $i; }
         |  else if ($start >= 0) {
         |    int $len = $i - $start;
         |    if ($len <= ${MarkerWordCounts.MaxLen}) {
         |      char[] $cs = new char[$len];
         |      for (int $j = 0; $j < $len; $j++) {
         |        byte $b = $bytes[$start + $j];
         |        if ($b >= 'A' && $b <= 'Z') $b = (byte) ($b + 32);
         |        $cs[$j] = (char) $b;
         |      }
         |      Integer $idx = (Integer) $map.get(new String($cs));
         |      if ($idx != null) $counts[$idx.intValue()]++;
         |    }
         |    $start = -1;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$counts[0], $counts[1], $counts[2], $counts[3]});
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MarkerWordCounts {
  /** Canonical marker table (shared with the regex fallback the specs
    * cross-check and the oracle mirrors).
    */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "es", "una", "del"))

  val Langs: Seq[String] = Markers.map(_._1)
  val MaxLen: Int = Markers.flatMap(_._2).map(_.length).max

  val Schema: StructType =
    StructType(Langs.map(l => StructField(l, IntegerType, nullable = false)))

  /** token -> language index, shared by eval and generated code. */
  val Lookup: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    Markers.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach(w => m.put(w, Integer.valueOf(i)))
    }
    m
  }

  /** Column wrapper, resolved by [[graft.GraftExtensions]]. */
  def of(c: Column): Column =
    org.apache.spark.sql.functions.call_function("marker_word_counts", c)

  /** Pure-Scala reference for tests. */
  def reference(s: String): Seq[Int] = {
    val counts = new Array[Int](Langs.length)
    "[A-Za-z0-9_]+".r.findAllIn(s).foreach { run =>
      if (run.length <= MaxLen) {
        val idx = Lookup.get(run.toLowerCase(java.util.Locale.ROOT))
        if (idx != null) counts(idx) += 1
      }
    }
    counts.toSeq
  }
}
