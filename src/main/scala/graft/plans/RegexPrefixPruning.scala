package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst optimizer rule that makes the reference's rowkey-regex
  * scans SARGABLE: a `key rlike '^literalprefix...'` predicate (the
  * S3/P9 HBase rowkey-filter pattern — reference
  * OrderMaster/ProductBrowse snapshot scans, SURVEY.md §2) is
  * augmented with the implied range conjuncts
  *
  *   key >= 'prefix' AND key < 'prefix+1'
  *
  * which parquet CAN evaluate against row-group/file min-max stats —
  * so on a key-clustered layout
  * (sources.MaintainedIndex.writeClusteredIndexed) the regex scan
  * prunes files instead of reading the table. The regex itself
  * stays in the plan (the range is implied, never a replacement), so
  * results are bit-identical with the rule on or off; the rule only
  * manufactures pushdown-capable redundancy. This is the deepest
  * extension tier the library uses: expressions (functions/native) →
  * THIS optimizer rule → no custom physical strategy needed, because
  * once the range conjuncts exist, stock DataSourceStrategy pushes
  * them to the scan.
  *
  * Prefix extraction is deliberately conservative — only `^`-anchored
  * patterns, only until the first regex metacharacter, rejecting any
  * pattern containing alternation (`|` can escape the anchor), and
  * dropping the preceding character for the optional quantifiers
  * (`?`, `*`, `{`). The upper bound increments the last prefix char
  * and is emitted only for ASCII (< 0x7f) finals, where the UTF-8
  * byte-order increment is exact. Installed by
  * [[graft.GraftExtensions]] (`spark.sql.extensions`), like the native
  * functions; `spark.sql.optimizer.excludedRules` names [[ruleName]]
  * to turn it off.
  */
object RegexPrefixPruning extends Rule[LogicalPlan] {

  private val Metas = "\\^$.|?*+()[]{}"

  /** Longest guaranteed literal prefix of an `^`-anchored Java regex,
    * or None when the pattern gives no safe prefix. */
  private[graft] def literalPrefix(pattern: String): Option[String] = {
    if (!pattern.startsWith("^")) return None
    val body = pattern.drop(1)
    if (body.contains("|")) return None
    val sb = new StringBuilder
    var i = 0
    var done = false
    while (i < body.length && !done) {
      val c = body(i)
      if (Metas.indexOf(c.toInt) >= 0) {
        // ? * { quantify the PREVIOUS char as optional -> not part of
        // the guaranteed prefix; + requires >=1 occurrence, so the
        // char stays
        if ((c == '?' || c == '*' || c == '{') && sb.nonEmpty)
          sb.setLength(sb.length - 1)
        done = true
      } else {
        sb.append(c)
        i += 1
      }
    }
    if (sb.isEmpty) None else Some(sb.toString)
  }

  /** Smallest string greater than every string with this prefix, if
    * the ASCII increment is exact. */
  private[graft] def upperBound(prefix: String): Option[String] = {
    val last = prefix.last
    if (last >= 0x7e.toChar) None
    else Some(prefix.init + (last + 1).toChar)
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, _) =>
      val cs = conjuncts(cond)
      val extra = cs.flatMap {
        case RLike(a: Attribute, Literal(p: UTF8String, StringType)) =>
          literalPrefix(p.toString).toSeq.flatMap { pre =>
            val lo: Expression = GreaterThanOrEqual(a, Literal(pre))
            val hi: Seq[Expression] =
              upperBound(pre).map(u => LessThan(a, Literal(u))).toSeq
            // idempotence guard: the optimizer batch runs to fixpoint
            (lo +: hi).filterNot(e => cs.exists(_.semanticEquals(e)))
          }
        case _ => Nil
      }
      if (extra.isEmpty) f
      else f.copy(condition = (cs ++ extra).reduce(And))
  }
}
