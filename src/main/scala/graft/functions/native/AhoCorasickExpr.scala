package graft.functions.native

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The case/NFC fold the folded blocklist variants match under — ONE
  * map applied to both the dictionary and the text, so "Viagra",
  * "VIAGRA" and a decomposed-accent "Café" all hit a lowercase
  * composed-form dictionary.
  *
  * fold = segment-wise NFC canonical composition + ROOT-locale
  * lowercase, where a segment is a starter code point plus its
  * trailing combining marks (general categories Mn/Me/Mc). Segmenting
  * before every non-mark starter is exactly where canonical
  * composition cannot reach across (composition pairs are
  * starter+non-starter), so the per-segment fold equals the
  * whole-string `lower(nfc_normalize(text))` the SQL oracle replays —
  * the one exception is Hangul jamo (L+V starters compose), documented
  * unsupported for folding; feed precomposed syllables.
  *
  * Folding per SEGMENT is what makes the scrub path possible: each
  * folded char carries the original char-span it came from, so a match
  * found in folded coordinates masks the right original-text span. A
  * match ending inside a multi-char fold (İ → "i" + combining dot)
  * rounds up to the whole original segment — you cannot mask half a
  * character.
  */
object CaseFold {

  private def isMark(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
      t == Character.COMBINING_SPACING_MARK
  }

  /** Folded text only — the counts path (no offsets needed). */
  def fold(s: String): String = foldImpl(s, null, null)

  /** Folded text plus per-folded-char original [start, end) spans —
    * the scrub path's offset map (the UnigramSegmenter char→byte
    * table device). */
  def foldWithMap(s: String): (String, Array[Int], Array[Int]) = {
    val starts = new mutable.ArrayBuffer[Int](s.length)
    val ends = new mutable.ArrayBuffer[Int](s.length)
    val f = foldImpl(s, starts, ends)
    (f, starts.toArray, ends.toArray)
  }

  private def foldImpl(s: String, starts: mutable.ArrayBuffer[Int],
                       ends: mutable.ArrayBuffer[Int]): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      // ASCII fast path: an ASCII char not followed by a combining
      // mark folds to its own lowercase, 1:1 — the overwhelmingly
      // common case never allocates a segment substring
      if (c < 0x80 && (i + 1 >= n || (s.charAt(i + 1) < 0x80) ||
          !isMark(s.codePointAt(i + 1)))) {
        sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
        if (starts != null) { starts += i; ends += (i + 1) }
        i += 1
      } else {
        var j = i + Character.charCount(s.codePointAt(i))
        while (j < n && isMark(s.codePointAt(j)))
          j += Character.charCount(s.codePointAt(j))
        val f = java.text.Normalizer
          .normalize(s.substring(i, j), java.text.Normalizer.Form.NFC)
          .toLowerCase(java.util.Locale.ROOT)
        sb.append(f)
        if (starts != null) {
          var k = 0
          while (k < f.length) { starts += i; ends += j; k += 1 }
        }
        i = j
      }
    }
    sb.toString
  }
}

/** A compiled Aho–Corasick automaton (Aho & Corasick, CACM 1975):
  * goto/trie edges, BFS failure links, and per-node term-id output
  * lists with failure outputs folded in at build time (so a single
  * state visit reports every term ending at that position, including
  * nested terms — "ana" inside a "banana" hit — and overlapping
  * occurrences).
  *
  * Built once per JVM per expression instance (`@transient lazy`);
  * the scan is O(text length + matches), independent of the number of
  * dictionary terms. That independence is the point at scale: a
  * regex alternation `(t1|t2|…|tk)` costs O(text·k) in Java's
  * backtracking engine, so a 10k-term blocklist over 100 TB of text
  * is only feasible with an automaton.
  *
  * States are flat arrays; edges are per-state sorted char/next
  * parallel arrays probed by binary search — cache-friendly and free
  * of per-char boxing. Matching is on UTF-16 code units of the
  * decoded string (terms and text decode the same way, so semantics
  * are exact for any Unicode text).
  */
final class AhoAutomaton private (
    edgeChars: Array[Array[Char]],
    edgeNexts: Array[Array[Int]],
    fail: Array[Int],
    outs: Array[Array[Int]]) extends Serializable {

  private def step(from: Int, c: Char): Int = {
    var s = from
    while (true) {
      val cs = edgeChars(s)
      val i = java.util.Arrays.binarySearch(cs, c)
      if (i >= 0) return edgeNexts(s)(i)
      if (s == 0) return 0
      s = fail(s)
    }
    0 // unreachable
  }

  /** Adds every (term ending here) occurrence into counts. */
  def scan(text: String, counts: Array[Long]): Unit = {
    var s = 0
    var i = 0
    val n = text.length
    while (i < n) {
      s = step(s, text.charAt(i))
      val o = outs(s)
      var j = 0
      while (j < o.length) { counts(o(j)) += 1L; j += 1 }
      i += 1
    }
  }

  /** Greedy leftmost-longest NON-overlapping masking: every match is
    * collected as a (start, end) span, spans sweep in (start asc,
    * longest first) order, and a span is masked iff it starts at or
    * after the previous mask's end — exactly the walk
    * `regexp_replace(text, '(t_long|…|t_short)', repl, 'g')` performs
    * with a length-descending alternation (match leftmost; among
    * alternatives at one position take the first = longest; resume
    * after the replacement). Returns (masked text, spans masked). */
  def maskLeftmostLongest(text: String, termLens: Array[Int],
                          repl: String): (String, Long) = {
    val spans = mutable.ArrayBuffer.empty[(Int, Int)] // (start, end)
    var s = 0
    var i = 0
    val n = text.length
    while (i < n) {
      s = step(s, text.charAt(i))
      val o = outs(s)
      var j = 0
      while (j < o.length) {
        val len = termLens(o(j))
        spans += ((i + 1 - len, i + 1))
        j += 1
      }
      i += 1
    }
    if (spans.isEmpty) return (text, 0L)
    val ordered = spans.sortBy { case (st, en) => (st, -(en - st)) }
    val sb = new java.lang.StringBuilder(n)
    var cursor = 0
    var masked = 0L
    ordered.foreach { case (st, en) =>
      if (st >= cursor) {
        sb.append(text, cursor, st).append(repl)
        cursor = en
        masked += 1L
      }
    }
    sb.append(text, cursor, n)
    (sb.toString, masked)
  }

  /** [[maskLeftmostLongest]] over a FOLDED view of the text: the
    * automaton (built on folded terms) scans `folded`, the greedy
    * leftmost-longest walk runs in folded coordinates (so the match
    * semantics are exactly the folded regexp_replace's), and each
    * accepted span masks the ORIGINAL text through the
    * folded→original char-span maps of [[CaseFold.foldWithMap]] —
    * unmatched original text passes through case- and form-intact.
    * `termLens` are the FOLDED term lengths. */
  def maskLeftmostLongestMapped(orig: String, folded: String,
                                origStart: Array[Int], origEnd: Array[Int],
                                termLens: Array[Int],
                                repl: String): (String, Long) = {
    val spans = mutable.ArrayBuffer.empty[(Int, Int)] // folded (start, end)
    var s = 0
    var i = 0
    val n = folded.length
    while (i < n) {
      s = step(s, folded.charAt(i))
      val o = outs(s)
      var j = 0
      while (j < o.length) {
        val len = termLens(o(j))
        spans += ((i + 1 - len, i + 1))
        j += 1
      }
      i += 1
    }
    if (spans.isEmpty) return (orig, 0L)
    val ordered = spans.sortBy { case (st, en) => (st, -(en - st)) }
    val sb = new java.lang.StringBuilder(orig.length)
    var foldedCursor = 0
    var origCursor = 0
    var masked = 0L
    ordered.foreach { case (st, en) =>
      if (st >= foldedCursor) {
        // a span inside a multi-char fold rounds to whole segments;
        // the max() guards the (pathological) case of two folded
        // spans landing inside one original segment
        val os = math.max(origStart(st), origCursor)
        val oe = math.max(origEnd(en - 1), os)
        sb.append(orig, origCursor, os).append(repl)
        origCursor = oe
        foldedCursor = en
        masked += 1L
      }
    }
    sb.append(orig, origCursor, orig.length)
    (sb.toString, masked)
  }
}

object AhoAutomaton {

  /** Analysis-time validation of a FOLDABLE dictionary expression: the
    * dictionary is a literal, so every malformation a first-row eval
    * would hit mid-job (null array, null element, empty term, empty
    * dictionary) is decidable during analysis — evaluate it once here
    * and turn each into a TypeCheckFailure instead of an executor-side
    * NPE/RuntimeException. Returns None when well-formed.
    */
  def checkFoldableDict(dict: Expression): Option[String] = {
    val v = dict.eval(null)
    if (v == null) return Some("dictionary must not be null")
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) return Some("dictionary must not be empty")
    var i = 0
    while (i < arr.numElements()) {
      val e = arr.getUTF8String(i)
      if (e == null)
        return Some(s"dictionary element $i must not be null")
      if (e.numBytes() == 0)
        return Some(s"dictionary element $i must not be the empty string")
      i += 1
    }
    None
  }

  /** Build-event counter — test instrumentation only (BlocklistSpec
    * pins one build per partition on the table path; local mode shares
    * the JVM, and the forked test JVM runs suites sequentially). */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicLong

  /** Builds goto trie + BFS failure links; output lists are the
    * union of the node's own terms and its failure chain's outputs
    * (folded once at build, so scan never walks the chain).
    */
  def build(terms: Seq[String]): AhoAutomaton = {
    builds.incrementAndGet()
    require(terms.nonEmpty, "empty dictionary")
    require(terms.forall(_.nonEmpty), "empty term")
    // growable trie
    val children = mutable.ArrayBuffer(mutable.TreeMap.empty[Char, Int])
    val termsAt = mutable.ArrayBuffer(List.empty[Int])
    terms.zipWithIndex.foreach { case (t, id) =>
      var s = 0
      t.foreach { c =>
        s = children(s).getOrElse(c, {
          children += mutable.TreeMap.empty[Char, Int]
          termsAt += Nil
          val nxt = children.length - 1
          children(s)(c) = nxt
          nxt
        })
      }
      termsAt(s) = id :: termsAt(s)
    }
    val n = children.length
    val fail = new Array[Int](n)
    val outBufs = termsAt.map(l => mutable.ArrayBuffer(l: _*)).toArray
    val queue = mutable.Queue.empty[Int]
    children(0).foreach { case (_, v) => fail(v) = 0; queue += v }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      outBufs(u) ++= outBufs(fail(u))
      children(u).foreach { case (c, v) =>
        // failure target: deepest proper suffix with a c-edge
        var f = fail(u)
        while (f != 0 && !children(f).contains(c)) f = fail(f)
        fail(v) = if (children(f).contains(c) && children(f)(c) != v)
          children(f)(c) else 0
        queue += v
      }
    }
    val edgeChars = children.map(m => m.keysIterator.toArray).toArray
    val edgeNexts = children.map(m => m.valuesIterator.toArray).toArray
    new AhoAutomaton(edgeChars, edgeNexts, fail,
      outBufs.map(b => b.sorted.toArray))
  }
}

/** `graft_aho_counts(text, terms)` — per-term occurrence counts over a
  * literal dictionary, as `array<long>` indexed by term id (the
  * dictionary's declared order). Counts include overlapping and nested
  * matches: with terms `["ana","nana"]`, `"banana"` counts ana=2,
  * nana=1 — the Aho–Corasick "all occurrences" semantics, and what
  * DuckDB's positional `substr(text, i, len(t)) = t` probe reproduces.
  *
  * The dictionary arrives as a foldable `array<string>` literal (the
  * same bounded-literal contract as the unigram vocabulary — blocklists
  * are KBs-to-MBs, corpus data never is) and compiles to the automaton
  * once per task, not per row. One pass over the text regardless of
  * dictionary size — WholeStageCodegen falls back around this node but
  * the scan itself is allocation-free per char.
  *
  * Reference scope note: the reference repo (bigdata-scala-offline-
  * data-clean) has no multi-pattern matching; this extends the
  * curation surface per the training-data-pipeline mandate.
  */
case class AhoCountsExpr(left: Expression, right: Expression,
                         fold: Boolean = false)
  extends BinaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(StringType, ArrayType(StringType))

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = super.checkInputDataTypes()
    if (types.isFailure) types
    else if (!right.foldable) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a literal (foldable) dictionary")
    else AhoAutomaton.checkFoldableDict(right) match {
      case Some(msg) => TypeCheckResult.TypeCheckFailure(s"$prettyName: $msg")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = left.nullable
  override def prettyName: String =
    if (fold) "graft_aho_fold_counts" else "graft_aho_counts"

  /** Dictionary + automaton, built once per task from the foldable
    * child (mirrors UnigramSegmentExpr's vocabulary contract). Under
    * `fold`, terms compile through [[CaseFold.fold]] — the same map
    * the text passes through at eval, so matching is case/NFC
    * insensitive end to end. */
  @transient private lazy val compiled: (Int, AhoAutomaton) = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val terms = (0 until arr.numElements())
      .map(i => arr.getUTF8String(i).toString)
      .map(t => if (fold) CaseFold.fold(t) else t)
    (terms.size, AhoAutomaton.build(terms))
  }

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) return null
    val (nTerms, automaton) = compiled
    val counts = new Array[Long](nTerms)
    val text = v.asInstanceOf[UTF8String].toString
    automaton.scan(if (fold) CaseFold.fold(text) else text, counts)
    new GenericArrayData(counts)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_aho_scrub(text, terms, replacement)` — greedy
  * leftmost-longest NON-overlapping masking of every dictionary term,
  * the production scrub path beside [[AhoCountsExpr]]'s audit path.
  * Semantics are exactly `regexp_replace(text, '(t₁|…|tₖ)', repl,
  * 'g')` with the alternation sorted longest-first (the oracle's
  * form) — but one automaton pass instead of the backtracking
  * engine's O(text·k): at 100 TB a 10k-term scrub is only feasible
  * this way. Dictionary and replacement are foldable literals.
  */
case class AhoScrubExpr(first: Expression, second: Expression,
                        third: Expression, fold: Boolean = false)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
  with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(StringType, ArrayType(StringType), StringType)

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = super.checkInputDataTypes()
    if (types.isFailure) types
    else if (!second.foldable || !third.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal (foldable) dictionary and " +
          "replacement")
    else AhoAutomaton.checkFoldableDict(second) match {
      case Some(msg) => TypeCheckResult.TypeCheckFailure(s"$prettyName: $msg")
      case None =>
        // the replacement is foldable too — a null (e.g. a cast null
        // literal) would otherwise NPE at executor eval
        if (third.eval(null) == null) TypeCheckResult.TypeCheckFailure(
          s"$prettyName: replacement must not be null")
        else TypeCheckResult.TypeCheckSuccess
    }
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = first.nullable
  override def prettyName: String =
    if (fold) "graft_aho_fold_scrub" else "graft_aho_scrub"

  /** Under `fold`, the automaton is built on FOLDED terms (with their
    * folded lengths — span arithmetic runs in folded coordinates) and
    * eval scans the folded text, masking original-text spans through
    * the offset map. */
  @transient private lazy val compiled
      : (AhoAutomaton, Array[Int], String) = {
    val arr = second.eval(null).asInstanceOf[ArrayData]
    val terms = (0 until arr.numElements())
      .map(i => arr.getUTF8String(i).toString)
      .map(t => if (fold) CaseFold.fold(t) else t)
    (AhoAutomaton.build(terms), terms.map(_.length).toArray,
      third.eval(null).asInstanceOf[UTF8String].toString)
  }

  override def eval(input: InternalRow): Any = {
    val v = first.eval(input)
    if (v == null) return null
    val (automaton, lens, repl) = compiled
    val orig = v.asInstanceOf[UTF8String].toString
    val masked =
      if (fold) {
        val (folded, os, oe) = CaseFold.foldWithMap(orig)
        automaton.maskLeftmostLongestMapped(orig, folded, os, oe,
          lens, repl)._1
      } else automaton.maskLeftmostLongest(orig, lens, repl)._1
    UTF8String.fromString(masked)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}
