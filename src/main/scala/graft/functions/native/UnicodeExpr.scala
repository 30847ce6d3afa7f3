package graft.functions.native

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization for web-crawl cleaning: the same byte
  * sequence of a word can arrive precomposed ("é" U+00E9) or decomposed
  * ("e" + U+0301) — without canonical normalization they hash to
  * different fingerprints/shingles and dedup silently misses the match.
  *
  * Both expressions delegate to `java.text.Normalizer` (the JDK's
  * Unicode canonical forms — the same algorithm DuckDB's utf8proc
  * implements, so `nfc_normalize`/`strip_accents` oracle these
  * bit-for-bit on decomposable characters). Row-local, no UDF; like
  * ShingleHashesExpr they use CodegenFallback — string normalization is not
  * an inner-loop arithmetic kernel, and the fallback keeps the
  * surrounding stage codegen intact.
  */
case class NfcNormalizeExpr(child: Expression)
  extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // already-normalized fast path: isNormalized is a cheap scan and
    // nearly all real text is NFC already — skip the rebuild
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) {
      input
    } else {
      UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Accent/diacritic stripping: canonical decomposition (NFD), drop all
  * combining marks (Unicode categories Mn nonspacing, Mc spacing, Me
  * enclosing — the same set utf8proc/DuckDB's strip_accents removes,
  * which matters beyond Latin: Indic vowel signs are Mc), recompose
  * what remains (NFC). "café" → "cafe", "Müller" → "Muller";
  * characters without a decomposition (ø, ß) pass through unchanged.
  *
  * The final NFC pass matches utf8proc/DuckDB byte-for-byte INCLUDING
  * scripts whose decompositions are not combining marks: DuckDB's
  * strip_accents returns precomposed Hangul for decomposed-Jamo input
  * and precomposed Greek — verified directly and pinned by the
  * x_unicode_norm oracle's Hangul/Greek fixture rows (a
  * decompose-only implementation would diverge exactly there).
  */
case class StripAccentsExpr(child: Expression)
  extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_strip_accents"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val d = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    // codepoint iteration: supplementary-plane marks (e.g. U+1E944)
    // are surrogate pairs whose char halves type as SURROGATE — a
    // char-wise loop would never strip them (utf8proc does)
    var i = 0
    while (i < d.length) {
      val cp = d.codePointAt(i)
      val t = Character.getType(cp)
      if (t != Character.NON_SPACING_MARK &&
          t != Character.COMBINING_SPACING_MARK &&
          t != Character.ENCLOSING_MARK)
        sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(java.text.Normalizer.normalize(
      sb, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-thread reusable zlib stream + output buffer: reset() between
  * rows instead of a fresh native Deflater (~256KB native state + JNI
  * malloc/free) and 8KB array per row. Each TASK that first touches
  * the pool registers a completion listener that end()s the stream —
  * executors never accumulate native zlib state across tasks (a
  * driver-side eval has no TaskContext and keeps one stream per
  * thread for the JVM's life, bounded by the thread count).
  */
object DeflateRatioExpr {
  private val tlDeflater = new ThreadLocal[java.util.zip.Deflater]
  private val tlBuf = new ThreadLocal[Array[Byte]]

  private[native] def deflater(): java.util.zip.Deflater = {
    var d = tlDeflater.get()
    if (d == null) {
      d = new java.util.zip.Deflater(6, false)
      tlDeflater.set(d)
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
        val cur = tlDeflater.get()
        if (cur != null) { cur.end(); tlDeflater.remove() }
      }
    }
    d
  }

  private[native] def buffer(): Array[Byte] = {
    var b = tlBuf.get()
    if (b == null) { b = new Array[Byte](8192); tlBuf.set(b) }
    b
  }
}

/** Deflate compression ratio — the model-free redundancy signal
  * production corpus filters use alongside word-level repetition
  * scores (machine-generated spam and template farms compress far
  * better than natural prose; extremely high ratios flag binary junk
  * in a text column): `compressed_bytes / raw_bytes` of the UTF-8
  * encoding, deflate level 6, rounded to 4 decimals. Empty input
  * reports 1.0.
  *
  * Row-local and deterministic within a JVM (the JDK's bundled zlib);
  * no cross-engine SQL equivalent exists, so this operator is
  * spec-verified rather than DuckDB-oracle-gated — the one deliberate
  * exception in the function family, documented in SURVEY.
  */
case class DeflateRatioExpr(child: Expression)
  extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_deflate_ratio"

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].getBytes
    if (raw.isEmpty) 1.0d
    else {
      val d = DeflateRatioExpr.deflater()
      d.reset()
      d.setInput(raw)
      d.finish()
      val buf = DeflateRatioExpr.buffer()
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      math.rint(n.toDouble / raw.length * 10000) / 10000
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
