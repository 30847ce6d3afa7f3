package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.functions.TextFns
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Sessionize, Similarity, SparseSim, TimeSeries, UrlOps}

/** Training-data pipeline queries: dedup (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard), text analysis (stats, language-ID, fingerprints),
  * embedding similarity (brute-force + near-dup), sessionization, and
  * multimodal metadata extraction.
  *
  * Dedup fixtures: the documents table has no natural duplicates, so the
  * dedup queries run on a mutated corpus — documents unioned with exact
  * copies (ids +2_000_000) or near-copies with the first 10 chars removed
  * (ids +1_000_000). The mutation is pure SQL, so the DuckDB oracle
  * builds the identical corpus and every pipeline stage stays
  * deterministic and comparable.
  */
object TrainingData {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** TextFns.PunctClass quote-escaped for DuckDB, and the English
    * stopword pattern of TextFns.wordSetCount — the text-feature
    * oracles' two literals. */
  private val duckPunct = TextFns.PunctClass.replace("'", "''")
  private val duckStopRe = "\\b(" + TextFns.EnWords.mkString("|") + ")\\b"

  /** documents ∪ near-copies (first 10 chars dropped, ids +1e6).
    * (Package-visible: LeakSpec drives the dedup operators over it.) */
  private[graft] def nearDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    d.union(d.select((col("doc_id") + 1000000L).as("doc_id"),
      expr("substring(text, 11)").as("text")))
  }
  private val nearDupCorpusSql =
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(text, 11) FROM documents""".stripMargin

  // ------------------------------------------------------------ exact dedup
  def dedupExactQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val corpus = d.union(d.select((col("doc_id") + 2000000L).as("doc_id"),
      col("text")))
    Dedup.exactDedup(corpus, "text", "doc_id")
  }
  val dedupExactSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 2000000, text FROM documents)
      |SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
      |       min(doc_id) AS keeper_id, count(*) AS dup_count
      |FROM corpus GROUP BY 1""".stripMargin

  // ------------------------------------------------------------- text stats
  def textStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    docs(spark, dir).select(
      col("doc_id"),
      length(t).cast("long").as("char_len"),
      TextFns.tokenCount(t).as("token_cnt"),
      TextFns.punctCount(t).as("punct_cnt"),
      TextFns.wordSetCount(t, TextFns.EnWords).as("stopword_cnt"),
      round(TextFns.wordSetCount(t, TextFns.EnWords).cast("double") /
        greatest(TextFns.tokenCount(t), lit(1L)).cast("double"), 4)
        .as("stopword_ratio"),
      round(TextFns.punctCount(t).cast("double") /
        greatest(length(t).cast("long"), lit(1L)).cast("double"), 4)
        .as("punct_ratio"))
  }
  val textStatsSql: String =
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS char_len,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS token_cnt,
       |  CAST(length(text) - length(regexp_replace(text, '$duckPunct', '', 'g')) AS BIGINT) AS punct_cnt,
       |  CAST(len(regexp_extract_all(lower(text), '$duckStopRe')) AS BIGINT) AS stopword_cnt,
       |  round(len(regexp_extract_all(lower(text), '$duckStopRe'))::DOUBLE /
       |        greatest(len(string_split_regex(trim(text), '\\s+')), 1), 4) AS stopword_ratio,
       |  round((length(text) - length(regexp_replace(text, '$duckPunct', '', 'g')))::DOUBLE /
       |        greatest(length(text), 1), 4) AS punct_ratio
       |FROM documents""".stripMargin

  /** The twin-detector logit over `text`, in integer micro-units. */
  private def twinLogit: Column = {
    val t = col("text")
    lit(-900000L) +
      lit(60000L) * TextFns.wordSetCount(t, TextFns.EnWords) +
      lit(9000L) * TextFns.tokenCount(t) -
      lit(150000L) * TextFns.punctCount(t) +
      lit(500L) * length(t).cast("long")
  }

  /** [[nearDupCorpus]] scored by [[twinLogit]]: (score, pos), where pos
    * marks a planted twin. */
  private def twinScored(spark: SparkSession, dir: String): DataFrame =
    nearDupCorpus(spark, dir).select(
      twinLogit.as("score"), (col("doc_id") >= 1000000L).as("pos"))
  /** Oracle twin of [[twinScored]]: `corpus` ([[nearDupCorpusSql]]) and
    * `f(pos, score)`. */
  private val twinScoredCtes: String =
    s"""corpus AS (
       |  $nearDupCorpusSql),
       |f AS (
       |  SELECT doc_id >= 1000000 AS pos,
       |    -900000
       |    + 60000*CAST(len(regexp_extract_all(lower(text), '$duckStopRe')) AS BIGINT)
       |    + 9000*CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |    - 150000*CAST(length(text) -
       |        length(regexp_replace(text, '$duckPunct', '', 'g')) AS BIGINT)
       |    + 500*CAST(length(text) AS BIGINT) AS score
       |  FROM corpus)""".stripMargin

  // ------------------------------------------- model-as-literal scoring
  // The "apply a trained quality classifier at 100 TB" pattern: a
  // linear model whose weights were fit OFFLINE ships as integer
  // micro-unit literals folded into the plan, and scoring is a
  // row-local integer multiply-add over exact count features
  // (stopwords, tokens, punctuation, chars) at scan speed — no model
  // server, no UDF, no float until nothing is left to compute. The
  // keep decision is logit > 0, so the sigmoid never needs computing
  // (monotone), and both engines branch on an identical integer.
  // Weights are illustrative; the operator pattern — broadcast-free
  // literal model, codegen'd features — is what is being pinned.
  def qualityLogitQ(spark: SparkSession, dir: String): DataFrame = {
    val logit = twinLogit
    docs(spark, dir).select(
      col("doc_id"), logit.as("logit_micro"),
      (logit > 0L).as("keep"))
  }
  val qualityLogitSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '$duckStopRe')) AS BIGINT) AS sw,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tc,
       |    CAST(length(text) - length(regexp_replace(text, '$duckPunct', '', 'g'))
       |         AS BIGINT) AS pc,
       |    CAST(length(text) AS BIGINT) AS cl
       |  FROM documents)
       |SELECT doc_id,
       |  -900000 + 60000*sw + 9000*tc - 150000*pc + 500*cl AS logit_micro,
       |  (-900000 + 60000*sw + 9000*tc - 150000*pc + 500*cl) > 0 AS keep
       |FROM f""".stripMargin

  // --------------------------------------------- exact rank-sum AUC
  // The model-eval primitive: AUC of the quality-logit score as a
  // detector of planted twins (truncated near-copies score differently
  // through the length/stopword features), computed EXACTLY as the
  // tie-corrected Mann-Whitney U in doubled-integer lanes — per
  // distinct score s: 2U += n_pos(s) · (2·cum_neg_below(s) + n_neg(s)),
  // then auc_bp = (10000 · 2U) div (2 · n_pos · n_neg). No float
  // rank averaging: midranks ride as 2·midrank = 2·rank + ties − 1.
  // Scale shape: one hash aggregate to the DISTINCT-score relation
  // (bounded by the integer score domain, not the corpus), one window
  // over that small relation, one final rollup.
  def aucQ(spark: SparkSession, dir: String): DataFrame = {
    val scored = twinScored(spark, dir)
    val g = scored.groupBy(col("score")).agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cum_nn", coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(sum(col("np") * (lit(2L) * col("cum_nn") + col("nn")))
          .as("__u2"),
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        expr("(10000 * __u2) div (2 * n_pos * n_neg)").as("auc_bp"))
  }
  val aucSql: String =
    s"""WITH $twinScoredCtes,
       |g AS (
       |  SELECT score,
       |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
       |    sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
       |  FROM f GROUP BY 1),
       |c AS (
       |  SELECT np, nn,
       |    coalesce(sum(nn) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cum_nn
       |  FROM g),
       |u AS (
       |  SELECT sum(np * (2*cum_nn + nn)) AS u2,
       |         sum(np) AS n_pos, sum(nn) AS n_neg
       |  FROM c)
       |SELECT CAST(n_pos AS BIGINT) AS n_pos,
       |  CAST(n_neg AS BIGINT) AS n_neg,
       |  CAST((10000 * u2) // (2 * n_pos * n_neg) AS BIGINT) AS auc_bp
       |FROM u""".stripMargin

  // ------------------------------------- precision/recall curve
  // x_auc's operating-point companion: the twin-detector logit swept
  // over five literal thresholds, with exact TP/FP/FN counts and
  // basis-point precision/recall per threshold — the table that picks
  // a deployment cutoff. One corpus pass: the 5-row threshold relation
  // broadcast-crosses the scored rows and map-side combine collapses
  // each task to ≤ 5 partial rows before the shuffle.
  def prCurveQ(spark: SparkSession, dir: String): DataFrame = {
    val scored = twinScored(spark, dir)
    val th = spark.range(1).select(explode(array(
      Seq(-500000L, 0L, 500000L, 1000000L, 2000000L).map(lit): _*))
      .as("thresh"))
    scored.crossJoin(broadcast(th))
      .groupBy(col("thresh"))
      .agg(
        sum(when(col("pos") && col("score") > col("thresh"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(!col("pos") && col("score") > col("thresh"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("pos") && col("score") <= col("thresh"), 1L)
          .otherwise(0L)).as("fn"))
      .select(col("thresh"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") === 0L, 0L)
          .otherwise(expr("(10000 * tp) div (tp + fp)"))
          .as("precision_bp"),
        when(col("tp") + col("fn") === 0L, 0L)
          .otherwise(expr("(10000 * tp) div (tp + fn)"))
          .as("recall_bp"))
  }
  val prCurveSql: String =
    s"""WITH $twinScoredCtes,
       |th AS (SELECT * FROM (VALUES (-500000), (0), (500000),
       |         (1000000), (2000000)) t(thresh)),
       |c AS (
       |  SELECT CAST(thresh AS BIGINT) AS thresh,
       |    sum(CASE WHEN pos AND score > thresh THEN 1 ELSE 0 END) AS tp,
       |    sum(CASE WHEN NOT pos AND score > thresh THEN 1 ELSE 0 END) AS fp,
       |    sum(CASE WHEN pos AND score <= thresh THEN 1 ELSE 0 END) AS fn
       |  FROM f CROSS JOIN th GROUP BY 1)
       |SELECT thresh, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |  CAST(fn AS BIGINT) AS fn,
       |  CAST(CASE WHEN tp + fp = 0 THEN 0
       |       ELSE (10000 * tp) // (tp + fp) END AS BIGINT) AS precision_bp,
       |  CAST(CASE WHEN tp + fn = 0 THEN 0
       |       ELSE (10000 * tp) // (tp + fn) END AS BIGINT) AS recall_bp
       |FROM c""".stripMargin

  // ------------------------------------------- calibration/reliability
  // The fourth eval surface: does a HIGHER detector score actually mean
  // a HIGHER twin probability? Scores bucket into fixed-width
  // micro-logit bins (score div 2e5 — value-domain bins, row-local, no
  // ranking pass at all) and each bin reports its observed positive
  // rate in exact basis points. Monotone-increasing rates = a
  // calibratable score; one hash aggregate, the cheapest plan in the
  // eval family.
  def calibrationBinsQ(spark: SparkSession, dir: String): DataFrame = {
    twinScored(spark, dir)
      // +1e9 shift keeps the dividend positive: truncating (Spark div)
      // and flooring (DuckDB //) division only agree on non-negatives
      .groupBy(expr("(score + 1000000000) div 200000").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("pos_rate_bp", expr("(10000 * n_pos) div n"))
  }
  val calibrationBinsSql: String =
    s"""WITH $twinScoredCtes
       |SELECT (score + 1000000000) // 200000 AS bin,
       |  count(*) AS n,
       |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST((10000 * sum(CASE WHEN pos THEN 1 ELSE 0 END)) // count(*)
       |       AS BIGINT) AS pos_rate_bp
       |FROM f GROUP BY 1""".stripMargin

  // ------------------------------------------- cumulative gains table
  // The third eval-metric surface (with x_auc and x_pr_curve): rank by
  // the detector score descending, cut the corpus into ten
  // cumulative-fraction buckets, and report how much of the positive
  // class each prefix captures — the gains/lift table that tells you
  // "screening the top 20% catches X% of twins". Same scale shape as
  // x_auc: one hash aggregate to the DISTINCT-score relation, windows
  // over that bounded relation only, exact integer basis points.
  // A score group lands wholly in the bucket of its LAST row, so both
  // engines bucket ties identically; buckets a giant group skips are
  // simply absent.
  def gainsCurveQ(spark: SparkSession, dir: String): DataFrame = {
    val scored = twinScored(spark, dir)
    val g = scored.groupBy(col("score")).agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
      count(lit(1)).as("nr"))
    val w = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    g.withColumn("cum_rows", sum(col("nr")).over(w))
      .withColumn("cum_pos", sum(col("np")).over(w))
      .withColumn("tot_rows", sum(col("nr")).over(wAll))
      .withColumn("tot_pos", sum(col("np")).over(wAll))
      .withColumn("bucket",
        expr("((cum_rows - 1) * 10) div tot_rows") + 1L)
      .groupBy(col("bucket"))
      .agg(sum(col("nr")).as("n_rows"),
        max(col("cum_pos")).as("cum_pos"),
        expr("(10000 * max(cum_pos)) div max(tot_pos)")
          .as("capture_bp"))
  }
  val gainsCurveSql: String =
    s"""WITH $twinScoredCtes,
       |g AS (
       |  SELECT score,
       |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
       |    count(*) AS nr
       |  FROM f GROUP BY 1),
       |c AS (
       |  SELECT np, nr,
       |    sum(nr) OVER wd AS cum_rows,
       |    sum(np) OVER wd AS cum_pos,
       |    sum(nr) OVER () AS tot_rows,
       |    sum(np) OVER () AS tot_pos
       |  FROM g
       |  WINDOW wd AS (ORDER BY score DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT CAST(((cum_rows - 1) * 10) // tot_rows + 1 AS BIGINT)
       |    AS bucket,
       |  CAST(sum(nr) AS BIGINT) AS n_rows,
       |  CAST(max(cum_pos) AS BIGINT) AS cum_pos,
       |  CAST((10000 * max(cum_pos)) // max(tot_pos) AS BIGINT)
       |    AS capture_bp
       |FROM c GROUP BY 1""".stripMargin

  // ------------------------------------------------- per-source curation
  // The per-source (≈ per-domain) corpus report every curation pipeline
  // keeps: volume, size, language spread, and exact-dup rate by source —
  // the numbers that decide which crawl sources get down-weighted or
  // cut. All aggregates are exact integers (sums/counts/distincts);
  // ratios are row-local divisions of exact values, so the report is
  // bit-stable across partitionings and engines.
  def sourceReportQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("total_chars"),
      round(sum(col("n_chars")).cast("double") /
        count(lit(1)).cast("double"), 4).as("avg_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(TextFns.fingerprintMd5(col("text")))
        .as("n_distinct_texts"))
      .withColumn("dup_rate", round(lit(1.0d) -
        col("n_distinct_texts").cast("double") /
          col("n_docs").cast("double"), 4))
  val sourceReportSql: String =
    """SELECT source,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  round(CAST(sum(n_chars) AS BIGINT)::DOUBLE / count(*), 4) AS avg_chars,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
      |       AS BIGINT) AS n_distinct_texts,
      |  round(1.0::DOUBLE -
      |    count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))::DOUBLE
      |      / count(*), 4) AS dup_rate
      |FROM documents GROUP BY source""".stripMargin

  // -------------------------------------------------------------- lang id
  def langIdQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"), col("lang"),
      TextFns.langId(col("text")).as("pred_lang"))
      .withColumn("correct", col("pred_lang") === col("lang"))
  /** `scored AS (doc_id, lang, pred_lang)` CTE body replaying
    * TextFns.langId — shared by the row-level lang-id oracle and the
    * confusion-matrix oracle. */
  private val langScoredCteSql: String = {
    def cnt(words: Seq[String]) =
      s"len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b'))"
    val (en, de, fr, es) = (cnt(TextFns.EnWords), cnt(TextFns.DeWords),
      cnt(TextFns.FrWords), cnt(TextFns.EsWords))
    s"""scored AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
       |         WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
       |         WHEN $de >= $fr AND $de >= $es THEN 'de'
       |         WHEN $fr >= $es THEN 'fr'
       |         ELSE 'es' END AS pred_lang
       |  FROM documents)""".stripMargin
  }
  val langIdSql: String =
    s"""WITH $langScoredCteSql
       |SELECT doc_id, lang, pred_lang, pred_lang = lang AS correct
       |FROM scored""".stripMargin

  // ------------------------------------------------ lang-id confusion
  // The classifier EVALUATED, not just applied: the full confusion
  // matrix of the n-gram heuristic against the corpus's ground-truth
  // lang column, each cell carrying its within-true-language share in
  // integer basis points. The matrix is |langs|² rows from one hash
  // aggregation — the shape that still costs one shuffle at 100 TB —
  // and share_bp is truncating integer division, so both engines emit
  // identical cells with no float tolerance.
  def langConfusionQ(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir).select(
      col("lang"), TextFns.langId(col("text")).as("pred_lang"))
    val cells = scored.groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang"))
    cells
      .withColumn("lang_total", sum(col("n")).over(w))
      .select(col("lang"), col("pred_lang"), col("n"), col("lang_total"),
        expr("n * 10000 div lang_total").as("share_bp"))
  }
  val langConfusionSql: String =
    s"""WITH $langScoredCteSql,
       |cells AS (
       |  SELECT lang, pred_lang, count(*) AS n
       |  FROM scored GROUP BY 1, 2)
       |SELECT lang, pred_lang, n,
       |  CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
       |  CAST(n * 10000 // sum(n) OVER (PARTITION BY lang) AS BIGINT)
       |    AS share_bp
       |FROM cells""".stripMargin

  // ---------------------------------------------------------- fingerprints
  def fingerprintQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TextFns.fingerprintMd5(col("text")).as("fp_md5"),
      TextFns.rollingHash(col("text")).as("fp_roll"))
  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5,
      |  list_reduce(
      |    list_concat([CAST(0 AS BIGINT)],
      |      list_transform(range(1, length(text)+1),
      |        i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
      |    (a, c) -> (a*31 + c) % 1000000007) AS fp_roll
      |FROM documents""".stripMargin

  // -------------------------------------------------------------- simhash
  /** th/sh CTE bodies computing the 48-bit simhash of `srcRel(doc_id,
    * text)` — shared by the simhash query and the banded-pair oracle. */
  private def simhashCtes(srcRel: String): String =
    s"""th AS (
       |  SELECT doc_id,
       |    list_transform(string_split_regex(trim(lower(text)), '\\s+'),
       |      t -> list_sum(list_transform(range(12),
       |             c -> (strpos('0123456789abcdef', substr(md5(t), CAST(c+1 AS INT), 1))-1)::BIGINT
       |                  << (4*(11-c))))) AS hashes
       |  FROM $srcRel),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(48), k ->
       |      CASE WHEN list_sum(list_transform(hashes,
       |             h -> CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |           THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END))
       |      AS BIGINT) AS simhash
       |  FROM th)""".stripMargin

  def simhashQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.withSimhash(docs(spark, dir).select(col("doc_id"), col("text")),
      "text").select(col("doc_id"), col("simhash"))
  val simhashSql: String =
    s"""WITH ${simhashCtes("documents")}
       |SELECT doc_id, simhash FROM sh""".stripMargin

  // ------------------------------------------------- simhash banded pairs
  // Near + exact copies so both hamming-0 and small-hamming pairs exist.
  private def simhashCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    d.union(d.select((col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, 11)").as("text")))
      .union(d.select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
  }
  private val simhashCorpusSql =
    s"""$nearDupCorpusSql
       |  UNION ALL SELECT doc_id + 2000000, text FROM documents""".stripMargin

  def simhashPairsQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(simhashCorpus(spark, dir), "text", "doc_id",
      maxHamming = 6)
  val simhashPairsSql: String =
    s"""WITH corpus AS (
       |  $simhashCorpusSql),
       |${simhashCtes("corpus")},
       |bands AS (
       |  SELECT doc_id, simhash, b AS band,
       |         (simhash >> CAST(12*b AS INT)) & 4095 AS bkey
       |  FROM sh, range(4) t(b)),
       |hubs AS (
       |  SELECT band, bkey, min(doc_id) AS hub_id,
       |         arg_min(simhash, doc_id) AS hub_sim
       |  FROM bands GROUP BY band, bkey)
       |SELECT DISTINCT h.hub_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(h.hub_sim, b.simhash)) AS BIGINT) AS hamming
       |FROM bands b JOIN hubs h USING (band, bkey)
       |WHERE b.doc_id != h.hub_id
       |  AND bit_count(xor(h.hub_sim, b.simhash)) <= 6""".stripMargin

  // ------------------------------------------------------- n-gram jaccard
  // Word-bigram Jaccard between each document and its near-copy.
  def ngramJaccardQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      Dedup.ngramJaccard(col("text"), expr("substring(text, 11)"), 2)
        .as("jaccard2"))
  val ngramJaccardSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS ta,
      |    string_split_regex(lower(trim(substr(text, 11))), '\s+') AS tb
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ta) >= 2 THEN
      |      list_distinct(list_transform(range(1, len(ta)),
      |        i -> ta[CAST(i AS INT)] || ' ' || ta[CAST(i AS INT)+1]))
      |    ELSE [] END AS ga,
      |    CASE WHEN len(tb) >= 2 THEN
      |      list_distinct(list_transform(range(1, len(tb)),
      |        i -> tb[CAST(i AS INT)] || ' ' || tb[CAST(i AS INT)+1]))
      |    ELSE [] END AS gb
      |  FROM toks)
      |SELECT doc_id,
      |  CASE WHEN len(ga) + len(gb) = 0 THEN 0.0 ELSE
      |    round(len(list_filter(ga, x -> list_contains(gb, x)))::DOUBLE /
      |          (len(ga) + len(gb) - len(list_filter(ga, x -> list_contains(gb, x)))),
      |          4) END AS jaccard2
      |FROM grams""".stripMargin

  // --------------------------------------------- signature-table health
  // Dedup.signatureTableStats gated end to end: per LSH band of the
  // maintained signature table — bucket count, hottest bucket, and the
  // candidate-pair volume the band implies — the text screen's cost
  // model, read from the stored table alone (no text, no pairing); the
  // embeddings-side twin is x_ann_index_stats. The oracle replays
  // signatures + banding from the corpus and must land identical
  // occupancies.
  def sigStatsQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.signatureTableStats(spark, nearDupSigs(spark, dir))
  val sigStatsSql: String =
    s"""WITH ${minhashCtesOver(nearDupCorpusSql)},
       |occ AS (SELECT band, bkey, count(*) AS n FROM bands GROUP BY 1, 2)
       |SELECT CAST(band AS BIGINT) AS band, count(*) AS n_buckets,
       |  CAST(sum(n) AS BIGINT) AS n_rows,
       |  CAST(max(n) AS BIGINT) AS max_occupancy,
       |  CAST(sum(n * (n - 1) // 2) AS BIGINT) AS implied_pairs
       |FROM occ GROUP BY band""".stripMargin

  // ------------------------------------------- screen calibration table
  // x_neardup_verified's pair-level record rolled into the calibration
  // curve that picks the production screen threshold: MinHash-estimate
  // bands (0.1 wide) vs how many of their pairs the exact bigram
  // Jaccard verifies, with per-band precision and mean exact score in
  // basis points. The operating-point table — "screen at 0.5 → 97%
  // precision" — from one aggregation over the verified pairs.
  def screenCalibrationQ(spark: SparkSession, dir: String): DataFrame =
    neardupVerifiedQ(spark, dir)
      .groupBy(floor(col("est_jaccard") * 10).cast("long").as("est_band"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("verified"), 1)).as("n_verified"),
        sum((col("jaccard2") * 10000).cast("long")).as("sum_exact_bp"))
      .select(col("est_band"), col("n_pairs"), col("n_verified"),
        expr("n_verified * 10000 div n_pairs").as("precision_bp"),
        expr("sum_exact_bp div n_pairs").as("mean_exact_bp"))
  lazy val screenCalibrationSql: String =
    s"""WITH base AS (
       |$neardupVerifiedSql
       |)
       |SELECT CAST(floor(est_jaccard * 10) AS BIGINT) AS est_band,
       |  count(*) AS n_pairs,
       |  count(CASE WHEN verified THEN 1 END) AS n_verified,
       |  CAST(count(CASE WHEN verified THEN 1 END) * 10000 // count(*)
       |    AS BIGINT) AS precision_bp,
       |  CAST(sum(CAST(jaccard2 * 10000 AS BIGINT)) // count(*)
       |    AS BIGINT) AS mean_exact_bp
       |FROM base GROUP BY 1""".stripMargin

  // ------------------------------------------- screen recall by band
  // The recall complement of x_screen_calibration, measured against
  // GROUND TRUTH the twin fixture plants by construction: every doc
  // and its first-10-chars-dropped twin (ids d and d+1e6) is a true
  // near-dup pair. Per MinHash-estimate band: how many candidate
  // pairs land there, how many are planted twins, and each band's
  // share of ALL planted pairs in basis points — summing share_bp
  // over bands reads off total screen recall at any threshold. The
  // screen runs at its loosest production setting (0.2) so the table
  // covers the whole operating range.
  def screenRecallQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir, threshold = 0.2)
    val planted = col("doc_b") - col("doc_a") === 1000000L
    val total = docs(spark, dir).agg(count(lit(1)).as("n_planted"))
    pairs
      .groupBy(floor(col("jaccard") * 10).cast("long").as("est_band"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(planted, 1)).as("n_planted_found"))
      .crossJoin(broadcast(total))
      .select(col("est_band"), col("n_pairs"), col("n_planted_found"),
        expr("n_planted_found * 10000 div n_planted").as("share_bp"))
  }
  val screenRecallSql: String =
    s"""WITH ${minhashCtesOver(nearDupCorpusSql)},
       |prs AS (SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.2),
       |tot AS (SELECT count(*) AS n_planted FROM documents)
       |SELECT CAST(floor(jaccard * 10) AS BIGINT) AS est_band,
       |  count(*) AS n_pairs,
       |  count(CASE WHEN doc_b - doc_a = 1000000 THEN 1 END)
       |    AS n_planted_found,
       |  CAST(count(CASE WHEN doc_b - doc_a = 1000000 THEN 1 END)
       |    * 10000 // tot.n_planted AS BIGINT) AS share_bp
       |FROM prs CROSS JOIN tot
       |GROUP BY 1, tot.n_planted""".stripMargin

  // ------------------------------------------- threshold what-if sweep
  // The dedup-policy planning table: at screen thresholds 0.3 / 0.5 /
  // 0.7, how many candidate pairs survive and how many distinct
  // documents they touch — what a threshold change would actually do,
  // answered from the maintained signature table with NO re-screen
  // (one banded pass at the loosest setting, each pair then voting
  // into every threshold row it clears). Pair counts and exact
  // distinct-doc counts only; thresholds ride a 3-row broadcast.
  def thresholdSweepQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir, threshold = 0.2)
    val ths = spark.createDataFrame(Seq(Tuple1(3L), Tuple1(5L),
      Tuple1(7L))).toDF("th_band")
    val hit = pairs.crossJoin(broadcast(ths))
      .where(col("jaccard") >= col("th_band") / 10.0d)
    val pairCounts = hit.groupBy(col("th_band"))
      .agg(count(lit(1)).as("n_pairs"))
    val docCounts = hit
      .select(col("th_band"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("th_band"))
      .agg(countDistinct(col("d")).as("n_docs_affected"))
    pairCounts.join(docCounts, Seq("th_band"))
  }
  val thresholdSweepSql: String =
    s"""WITH ${minhashCtesOver(nearDupCorpusSql)},
       |prs AS (SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.2),
       |ths AS (SELECT unnest([3, 5, 7]) AS th_band),
       |hit AS (
       |  SELECT th_band, doc_a, doc_b FROM prs CROSS JOIN ths
       |  WHERE jaccard >= th_band / 10.0),
       |pc AS (SELECT th_band, count(*) AS n_pairs FROM hit GROUP BY 1),
       |dc AS (
       |  SELECT th_band, CAST(count(DISTINCT d) AS BIGINT)
       |    AS n_docs_affected
       |  FROM (SELECT th_band, doc_a AS d FROM hit
       |        UNION ALL SELECT th_band, doc_b FROM hit)
       |  GROUP BY 1)
       |SELECT CAST(pc.th_band AS BIGINT) AS th_band, pc.n_pairs,
       |  dc.n_docs_affected
       |FROM pc JOIN dc USING (th_band)""".stripMargin

  // ---------------------------------------------- syndication matrix
  // Near-dup pairs rolled into the source×source reuse matrix — which
  // source's material shows up under which other source (the
  // mirror/syndication detector a crawl pipeline watches). Pair feed:
  // the maintained signature table at the 0.5 production threshold;
  // twins map to their source via doc_id mod 1e6, the source pair is
  // canonicalized (least/greatest) so each relationship is one row.
  def syndicationQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir, threshold = 0.5)
    val src = docs(spark, dir)
      .select(col("doc_id").as("orig_id"), col("source"))
    pairs
      .join(src.select(col("orig_id"), col("source").as("src_a")),
        col("doc_a") % 1000000L === col("orig_id"))
      .drop("orig_id")
      .join(src.select(col("orig_id"), col("source").as("src_b")),
        col("doc_b") % 1000000L === col("orig_id"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("src_a") === col("src_b"), 1)).as("n_within"))
  }
  val syndicationSql: String =
    s"""WITH ${minhashCtesOver(nearDupCorpusSql)},
       |prs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
       |lab AS (
       |  SELECT da.source AS src_a, db.source AS src_b
       |  FROM prs
       |  JOIN documents da ON da.doc_id = prs.doc_a % 1000000
       |  JOIN documents db ON db.doc_id = prs.doc_b % 1000000)
       |SELECT least(src_a, src_b) AS source_x,
       |  greatest(src_a, src_b) AS source_y,
       |  count(*) AS n_pairs,
       |  count(CASE WHEN src_a = src_b THEN 1 END) AS n_within
       |FROM lab GROUP BY 1, 2""".stripMargin

  // --------------------------------------------- verified near-dup pairs
  // The production two-stage judgment: the MinHash screen (maintained
  // signature table, loose 0.2 threshold) proposes candidates cheaply,
  // then each surviving pair is verified by the EXACT word-bigram
  // Jaccard over the two texts before any data is dropped — estimates
  // screen, exact measures judge. Output carries both scores, so the
  // table doubles as the screen's calibration record. Texts join back
  // AFTER the id-only candidate generation (the r3 occupancy rule).
  def neardupVerifiedQ(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, dir)
    val pairs = nearDupPairs(spark, dir, threshold = 0.2)
    pairs
      .join(corpus.select(col("doc_id").as("doc_a"),
        col("text").as("__ta")), "doc_a")
      .join(corpus.select(col("doc_id").as("doc_b"),
        col("text").as("__tb")), "doc_b")
      .withColumn("jaccard2", Dedup.ngramJaccard(col("__ta"), col("__tb"), 2))
      .select(col("doc_a"), col("doc_b"),
        col("jaccard").as("est_jaccard"), col("jaccard2"),
        (col("jaccard2") >= 0.4).as("verified"))
  }
  val neardupVerifiedSql: String =
    s"""WITH ${minhashCtesOver(nearDupCorpusSql)},
       |prs AS (SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.2),
       |g AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= 2 THEN
       |      list_distinct(list_transform(range(1, len(t)),
       |        i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]))
       |    ELSE [] END AS gr
       |  FROM (SELECT doc_id,
       |          string_split_regex(lower(trim(text)), '\\s+') AS t
       |        FROM corpus)),
       |v AS (
       |  SELECT p.doc_a, p.doc_b, p.jaccard AS est_jaccard,
       |    CASE WHEN len(a.gr) + len(b.gr) = 0 THEN 0.0 ELSE
       |      round(len(list_filter(a.gr, x -> list_contains(b.gr, x)))::DOUBLE /
       |            (len(a.gr) + len(b.gr)
       |             - len(list_filter(a.gr, x -> list_contains(b.gr, x)))),
       |            4) END AS jaccard2
       |  FROM prs p JOIN g a ON p.doc_a = a.doc_id
       |             JOIN g b ON p.doc_b = b.doc_id)
       |SELECT doc_a, doc_b, est_jaccard, jaccard2,
       |       jaccard2 >= 0.4 AS verified
       |FROM v""".stripMargin

  // --------------------------------------- sparse TF-IDF cosine pairs
  // The third similarity modality alongside set-overlap (MinHash
  // Jaccard) and dense embeddings: TF-IDF-weighted cosine over word
  // TRIGRAM features via the inverted-index posting join
  // (operators.SparseSim) — rare shared phrases dominate the score, so
  // template/citation overlap surfaces that Jaccard under-scores.
  // df cap 50 bounds the posting self-join (candidates ≤ maxDf·Σdf,
  // linear in the corpus); IDF is quantized once to integer micro-nats
  // and every shuffled aggregate is an exact integer (decimal(38,0) ↔
  // HUGEINT), so both engines cut on an identical rounded cosine.
  //
  // The posting table is MATERIALIZED once per session (the sigTableFor
  // contract applied to the inverted index): cosinePairs references the
  // postings three times (norms + both self-join sides) and dfreq makes
  // a fourth — left lazy, the n-gram explosion (this operator's entire
  // CPU) re-runs once per reference unless Catalyst's exchange reuse
  // happens to fire, which measured as a 76→326 CPU-s lottery across
  // same-code runs. At 100 TB the posting list is an ingest-maintained
  // artifact exactly like the signature table; a pairs query reads it.
  def sparseSimQ(spark: SparkSession, dir: String): DataFrame =
    SparseSim.cosinePairs(
      spark.read.parquet(postingTableFor(spark, dir)), threshold = 0.2)

  private def postingTableFor(spark: SparkSession, dir: String): String =
    Fixtures.cached("postings-neardup", dir) { root =>
      val path = new java.io.File(root, "postings").toString
      SparseSim.tfidfPostings(nearDupCorpus(spark, dir), "text", "doc_id",
          n = 3, maxDf = 50)
        .write.mode("overwrite").parquet(path)
      path
    }
  val sparseSimSql: String =
    s"""WITH corpus AS (
       |  $nearDupCorpusSql),
       |toksp AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ta
       |  FROM corpus),
       |g3 AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ta) >= 3 THEN
       |      list_transform(range(1, len(ta) - 1),
       |        i -> ta[CAST(i AS INT)] || ' ' || ta[CAST(i AS INT)+1]
       |             || ' ' || ta[CAST(i AS INT)+2])
       |    ELSE [] END AS gs
       |  FROM toksp),
       |tfc AS (
       |  SELECT doc_id, term, count(*) AS c
       |  FROM (SELECT doc_id, unnest(gs) AS term FROM g3)
       |  GROUP BY 1, 2),
       |dfreq AS (
       |  SELECT term, count(*) AS d FROM tfc GROUP BY 1
       |  HAVING count(*) <= 50),
       |nn AS (SELECT count(*) AS n_docs FROM corpus),
       |wp AS (
       |  SELECT t.doc_id, t.term,
       |    t.c * CAST(round(ln((nn.n_docs + 1.0) / (d.d + 1.0)) * 1000000, 0)
       |               AS BIGINT) AS w
       |  FROM tfc t JOIN dfreq d USING (term), nn),
       |norms AS (SELECT doc_id, sum(w * w) AS n2 FROM wp GROUP BY 1),
       |dots AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
       |  FROM wp a JOIN wp b ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |cosd AS (
       |  SELECT doc_a, doc_b,
       |    round(CAST(dot AS DOUBLE) /
       |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
       |      4) AS cos_sim
       |  FROM dots JOIN norms na ON na.doc_id = dots.doc_a
       |            JOIN norms nb ON nb.doc_id = dots.doc_b)
       |SELECT doc_a, doc_b, cos_sim FROM cosd WHERE cos_sim >= 0.2""".stripMargin

  // ------------------------------------------- LSH banding calibration
  // Dedup.nearDupBandProfile gated end to end: every verified near-dup
  // pair with the NUMBER of LSH bands that bucketed it — the measured
  // side of the banding S-curve. A pair found by one band sits at the
  // screen's recall edge; pairs hit by all four are deep inside. This
  // table — not the textbook curve — is what recalibrates b×r after a
  // corpus shift. Reads the maintained signature table (text never
  // touched); the oracle counts the same band collisions from its
  // replayed signatures.
  def neardupBandsQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupBandProfile(spark,
      nearDupSigs(spark, dir),
      threshold = 0.5)
  val neardupBandsSql: String =
    s"""WITH ${minhashCtesOver(nearDupCorpusSql)},
       |bc AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         count(*) AS n_bands
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT j.doc_a, j.doc_b, bc.n_bands, j.jaccard
       |FROM j JOIN bc ON bc.doc_a = j.doc_a AND bc.doc_b = j.doc_b
       |WHERE j.jaccard >= 0.5""".stripMargin

  // --------------------------------------------- keep-best dedup drop
  // Dedup.dedupKeepBestFromSigs with priority = character length: each
  // near-dup cluster keeps its LONGEST member (ties → lower id) not the
  // min id — on the twin corpus the truncated copies (substr(text,11))
  // lose to their full-length originals by construction, the exact
  // canonical-copy behavior a production drop wants. Output keeps the
  // full lineage (doc, cluster, keeper, kept), so the drop list is the
  // same relation filtered. Oracle replays the MinHash screen, the
  // recursive min-label reachability, and the same (length DESC, id)
  // election.
  // Routed through the MAINTAINED signature table (r7 verdict item 4):
  // the from-text screen recomputed shingles+minhash per call (~11 s
  // driver); the sig-table screen is identical by the signature-table
  // contract (SigTableSpec) at the stored family's ~1.5 s.
  def dedupKeepBestQ(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, dir)
    Dedup.dedupKeepBestFromSigs(spark, corpus,
      nearDupSigs(spark, dir), "doc_id",
      length(col("text")), threshold = 0.5)
  }
  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE ${minhashCtesOver(nearDupCorpusSql)},
       |pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
       |${closureCtes("pairs", nodes = "cnodes")},
       |reps AS (SELECT n AS doc_id, min(m) AS rep FROM reach GROUP BY n),
       |asg AS (
       |  SELECT c.doc_id, coalesce(r.rep, c.doc_id) AS cluster_rep,
       |         length(c.text) AS p
       |  FROM corpus c LEFT JOIN reps r USING (doc_id)),
       |keepers AS (
       |  SELECT cluster_rep, doc_id AS keeper_id FROM asg
       |  QUALIFY row_number() OVER (PARTITION BY cluster_rep
       |    ORDER BY p DESC, doc_id) = 1)
       |SELECT a.doc_id, a.cluster_rep, k.keeper_id,
       |       (a.doc_id = k.keeper_id) AS kept
       |FROM asg a JOIN keepers k USING (cluster_rep)""".stripMargin

  // ------------------------------------ incremental containment screen
  // Dedup.containmentAgainstSigs: a batch of 60%-prefix EXCERPTS (ids
  // +7e6) screened against the maintained signature table before
  // admission — "is this new doc a quote of something we already
  // hold?", the ingest-time form of x_containment_pairs. Every
  // verbatim prefix is fully contained in its source
  // (batch_in_corpus_bp = 10⁴) while the reverse direction reports the
  // size ratio. The oracle reuses the self-join CTEs over the tagged
  // union and keeps cross-side pairs — band collision is formulation-
  // independent, the established incremental-oracle device.
  def containmentIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val batch = docs(spark, dir).where(col("doc_id") % 9 === 0).select(
      (col("doc_id") + 7000000L).as("doc_id"),
      expr("substring(text, 1, greatest((length(text) * 6) div 10, 60))")
        .as("text"))
    Dedup.containmentAgainstSigs(batch,
      nearDupSigs(spark, dir),
      "text", "doc_id", k = 5, minContainmentBp = 7000L)
  }
  val containmentIncrSql: String = {
    val tagged = nearDupCorpusSql +
      """
        |  UNION ALL
        |  SELECT doc_id + 7000000,
        |         substr(text, 1, greatest((length(text) * 6) // 10, 60))
        |  FROM documents WHERE doc_id % 9 = 0""".stripMargin
    s"""WITH ${minhashCtesOver(tagged)},
       |ct AS (
       |  SELECT c.doc_b AS batch_id, c.doc_a AS corpus_id,
       |    len(hb.hashes) AS n_batch, len(hc.hashes) AS n_corpus,
       |    len(list_filter(hb.hashes,
       |      x -> list_contains(hc.hashes, x))) AS inter
       |  FROM cand c
       |  JOIN sh hb ON hb.doc_id = c.doc_b
       |  JOIN sh hc ON hc.doc_id = c.doc_a
       |  WHERE c.doc_b >= 7000000 AND c.doc_a < 7000000)
       |SELECT * FROM (
       |  SELECT batch_id, corpus_id,
       |    CAST(n_batch AS BIGINT) AS n_batch,
       |    CAST(n_corpus AS BIGINT) AS n_corpus,
       |    CAST(CASE WHEN n_batch = 0 THEN -1
       |      ELSE (inter * 10000) // n_batch END AS BIGINT)
       |      AS batch_in_corpus_bp,
       |    CAST(CASE WHEN n_corpus = 0 THEN -1
       |      ELSE (inter * 10000) // n_corpus END AS BIGINT)
       |      AS corpus_in_batch_bp
       |  FROM ct) t
       |WHERE n_batch > 0 AND n_corpus > 0
       |  AND (batch_in_corpus_bp >= 7000 OR corpus_in_batch_bp >= 7000)
       |""".stripMargin
  }

  // ------------------------------------------- dedup threshold sweep
  // The tuning table behind the dedup bar: for each candidate Jaccard
  // threshold, how many verified pairs survive and how many documents
  // they touch — the cost/aggressiveness curve a production corpus
  // owner reads BEFORE picking the bar (0.5 keeps twins only; 0.2
  // sweeps in the weak tail). One banded screen at the loosest
  // threshold feeds every row: the sweep is an 8-row broadcast join
  // over the verified pair list, never 8 screens.
  def dedupSweepQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = nearDupPairs(spark, dir, threshold = 0.2)
    val th = Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9).toDF("threshold")
    val pt = pairs.crossJoin(broadcast(th))
      .where(col("jaccard") >= col("threshold"))
    val np = pt.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nd = pt.select(col("threshold"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .distinct()
      .groupBy("threshold").agg(count(lit(1)).as("n_docs_touched"))
    np.join(nd, Seq("threshold"))
      .select(round(col("threshold") * 10000).cast("long")
          .as("threshold_bp"),
        col("n_pairs"), col("n_docs_touched"))
  }
  val dedupSweepSql: String =
    s"""WITH ${minhashCtesOver(nearDupCorpusSql)},
       |p AS (SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.2),
       |th AS (SELECT unnest([0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
       |       AS threshold),
       |pt AS (SELECT th.threshold, p.doc_a, p.doc_b
       |       FROM p JOIN th ON p.jaccard >= th.threshold),
       |np AS (SELECT threshold, count(*) AS n_pairs FROM pt GROUP BY 1),
       |nd AS (SELECT threshold, count(DISTINCT doc) AS n_docs_touched
       |       FROM (SELECT threshold, unnest([doc_a, doc_b]) AS doc
       |             FROM pt) GROUP BY 1)
       |SELECT CAST(round(np.threshold * 10000) AS BIGINT) AS threshold_bp,
       |       np.n_pairs, nd.n_docs_touched
       |FROM np JOIN nd ON nd.threshold = np.threshold""".stripMargin

  // ------------------------------------------------ shingle containment
  // Containment C(A,B) = |A∩B| / |A| over distinct 5-shingle hash sets —
  // the ASYMMETRIC near-dup measure (quote/subset detection): a short
  // doc fully contained in a long one scores 1.0 where Jaccard dilutes
  // toward 0. Here A = the truncated near-copy, B = the original, so
  // every row's containment is provably high while its Jaccard varies.
  // Shingle hashes come from the same native one-pass expression the
  // minhash family uses; the oracle replays the polynomial hash.
  def containmentQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.native.NativeFns
    val ha = NativeFns.shingleHashes(expr("substring(text, 11)"), 5)
    val hb = NativeFns.shingleHashes(col("text"), 5)
    docs(spark, dir).select(
      col("doc_id"),
      round(when(size(ha) === 0, lit(0.0d))
        .otherwise(size(array_intersect(ha, hb)).cast("double") /
          size(ha).cast("double")), 4).as("containment"))
  }
  /** DuckDB fragment: distinct k-shingle polynomial hashes of `e` —
    * the same formula minhashCtesOver pins for the `text` column. */
  private def shingleHashesSql(e: String, k: Int = 5): String =
    s"""list_distinct(list_transform(
       |      list_transform(range(1, greatest(length($e)-${k - 1}, 1)+1),
       |        i -> substr($e, CAST(i AS INT), $k)),
       |      s -> list_reduce(
       |             list_concat([CAST(0 AS BIGINT)],
       |               list_transform(range(1, length(s)+1),
       |                 c -> CAST(unicode(substr(s, CAST(c AS INT), 1)) AS BIGINT))),
       |             (a, c) -> (a*31 + c) % 1000000007)))""".stripMargin
  val containmentSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    ${shingleHashesSql("substr(text, 11)")} AS ha,
       |    ${shingleHashesSql("text")} AS hb
       |  FROM documents)
       |SELECT doc_id,
       |  round(CASE WHEN len(ha) = 0 THEN 0.0
       |    ELSE len(list_filter(ha, x -> list_contains(hb, x)))::DOUBLE / len(ha)
       |    END, 4) AS containment
       |FROM sh""".stripMargin

  // ------------------------------------------- duplicated-span detection
  // Distributed proxy for exact-substring dedup (the suffix-array pass of
  // Lee et al., "Deduplicating Training Data Makes Language Models
  // Better"): hash every 20-char window of every document, count how many
  // documents each window occurs in, and report per document the fraction
  // of its windows that also occur in ANOTHER document — the signal that
  // catches boilerplate headers, quoted paragraphs, and licence blocks
  // that whole-doc fingerprints miss. 100 TB shape: explode → one
  // hash-partitioned count keyed by the window hash → hash join back on
  // the same key (no re-shuffle of the exploded side thanks to the shared
  // partitioning) → per-doc re-aggregate. The comparison unit is the
  // window, so cost is O(total chars), never O(docs²), and a window seen
  // in d docs costs d rows, not d² pairs.
  def dupSpansQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.native.NativeFns
    val sh = docs(spark, dir).select(col("doc_id"),
      NativeFns.shingleHashes(col("text"), 20).as("hs"))
    // hs is distinct within a doc, so rows of ex are (doc, window) unique
    // and count(*) per h below counts DOCUMENTS containing the window.
    val ex = sh.select(col("doc_id"), explode(col("hs")).as("h"))
    val shared = ex.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2)
    ex.join(shared, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("nd").isNotNull, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_frac", round(col("n_dup_spans").cast("double") /
        col("n_spans").cast("double"), 4))
  }
  val dupSpansSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(${shingleHashesSql("text", 20)}) AS h
       |  FROM documents),
       |cnt AS (SELECT h, count(*) AS nd FROM sh GROUP BY h)
       |SELECT s.doc_id,
       |  count(*) AS n_spans,
       |  CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_spans,
       |  round(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*),
       |        4) AS dup_frac
       |FROM sh s JOIN cnt c ON s.h = c.h
       |GROUP BY s.doc_id""".stripMargin

  // ------------------------------------------ cross-source overlap matrix
  // Corpus forensics ABOVE the document grain: for every source pair,
  // how much 20-char span mass they share (mirror-site, syndication,
  // and scraper-overlap detection — the signal that decides which
  // SOURCES to merge or drop before any per-doc dedup runs). Spans are
  // the one-pass polynomial hashes the dup-spans family pins, deduped
  // to (source, span) rows; the matrix is a self-join on the span hash
  // — a span seen in s sources costs s² pair rows, bounded by the
  // SOURCE count, not the corpus, so the output is |sources|² however
  // big the data. Exact integer counts plus a rounded span-Jaccard.
  def sourceOverlapQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.native.NativeFns
    // (source, h) pairs — deduplication happens inside the per-h
    // collect_set below, so no separate distinct pass is needed for
    // the pair side; `sizes` keeps its own distinct
    val sh = docs(spark, dir)
      .select(col("source"), explode(
        NativeFns.shingleHashes(col("text"), 20)).as("h"))
    val sizes = sh.distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    // Pair expansion per hash instead of the h-keyed SELF-JOIN the
    // original shape used: sources-per-hash is bounded by the corpus's
    // source count (single digits), so sorting the set and emitting
    // ordered pairs row-locally replaces a second full shuffle + join
    // of the shingle relation with a flat map over the aggregated
    // rows. collect_set dedups (source, h) exactly like the removed
    // distinct; sort_array + slice emit each unordered pair once with
    // source_a < source_b — identical to the join + filter.
    sh.groupBy(col("h"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .where(size(col("ss")) >= 2)
      .select(explode(expr(
        "flatten(transform(ss, (x, i) -> " +
          "transform(slice(ss, i + 2, size(ss) - i - 1), y -> " +
          "named_struct('source_a', x, 'source_b', y))))")).as("p"))
      .select(col("p.source_a").as("source_a"),
        col("p.source_b").as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("source_a"),
        col("n").as("na")), Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"),
        col("n").as("nb")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")).cast("double"), 4)
          .as("span_jaccard"))
  }
  val sourceOverlapSql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT source, h FROM (
       |    SELECT source, unnest(${shingleHashesSql("text", 20)}) AS h
       |    FROM documents)),
       |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
       |pm AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         count(*) AS n_shared
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT pm.source_a, pm.source_b, pm.n_shared,
       |  round(pm.n_shared::DOUBLE / (za.n + zb.n - pm.n_shared), 4)
       |    AS span_jaccard
       |FROM pm JOIN sz za ON za.source = pm.source_a
       |        JOIN sz zb ON zb.source = pm.source_b""".stripMargin

  // ---------------------------------------- longest duplicated span
  // The span-LEVEL sharpening of x_dup_spans: not what FRACTION of a
  // document is duplicated, but the length of its longest CONTIGUOUS
  // duplicated region — the signal that separates a quoted paragraph
  // or license block (one long run) from scattered idiom overlap (many
  // length-1 runs), and the unit Lee et al.'s exact-substring pass
  // removes. Windows carry their POSITION; a window shared with
  // another document flags its position, and runs of consecutive
  // flagged positions collapse via the gaps-and-islands device
  // (pos - row_number is constant within a run — the x_interval_merge
  // idea applied to character positions). Cost is O(total chars); the
  // comparison unit is the window, never a doc pair. Windows are hashed
  // by the native one-pass positional kernel (x_dup_spans' hash), after
  // a doc-keyed fan-out so the explosion does not run at the scan's
  // split count. Null text yields no windows, hence longest_run 0.
  def dupLongestQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.native.NativeFns
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val fan = spark.sessionState.conf.numShufflePartitions
    val w = d.repartition(fan, col("doc_id")).select(col("doc_id"),
      posexplode(NativeFns.positionalShingleHashes(col("text"), 20))
        .as(Seq("p", "h")))
      .select(col("doc_id"), (col("p") + 1).as("pos"), col("h"))
    val nd = w.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
      .where(col("ndocs") >= 2)
    val shared = w.join(nd, Seq("h")).select(col("doc_id"), col("pos"))
    val wIsl = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = shared
      .withColumn("g", col("pos") - row_number().over(wIsl))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id")).agg(max(col("run")).as("longest"))
    d.select(col("doc_id")).join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("longest"), lit(0L)).as("longest_run"),
        when(col("longest").isNull, lit(0L))
          .otherwise(col("longest") + 19L).as("span_chars"))
  }
  val dupLongestSql: String = {
    val win = "substr(text, CAST(i AS INT), 20)"
    val ph =
      s"""list_reduce(
         |      list_concat([CAST(0 AS BIGINT)],
         |        list_transform(range(1, length($win)+1),
         |          c -> CAST(unicode(substr($win, CAST(c AS INT), 1)) AS BIGINT))),
         |      (a, c) -> (a*31 + c) % 1000000007)""".stripMargin
    s"""WITH wpos AS (
       |  SELECT doc_id, i AS pos, $ph AS h
       |  FROM (SELECT doc_id, text,
       |          unnest(range(1, greatest(length(text)-19, 1)+1)) AS i
       |        FROM documents)),
       |nd AS (
       |  SELECT h, count(*) AS ndocs
       |  FROM (SELECT DISTINCT doc_id, h FROM wpos)
       |  GROUP BY 1 HAVING count(*) >= 2),
       |sh AS (SELECT w.doc_id, w.pos FROM wpos w JOIN nd ON nd.h = w.h),
       |isl AS (
       |  SELECT doc_id,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
       |  FROM sh),
       |runs AS (
       |  SELECT doc_id, g, count(*) AS run FROM isl GROUP BY 1, 2),
       |mx AS (SELECT doc_id, max(run) AS longest FROM runs GROUP BY 1)
       |SELECT d.doc_id, coalesce(mx.longest, 0) AS longest_run,
       |  CASE WHEN mx.longest IS NULL THEN 0
       |       ELSE mx.longest + 19 END AS span_chars
       |FROM documents d LEFT JOIN mx ON mx.doc_id = d.doc_id""".stripMargin
  }

  // --------------------------------------------- sketched heavy hitters
  // Top-20 most frequent 5-char grams of the corpus — the boilerplate /
  // template detector — computed the 100 TB way: a Misra-Gries k-counter
  // sketch (mergeable TypedImperativeAggregate, O(k) bytes per task)
  // nominates candidates, then ONE cheap semi-join pass re-counts just
  // those candidates exactly. The full groupBy alternative shuffles
  // every distinct gram in the corpus to rank a 20-row head; the sketch
  // never shuffles more than k-1 counters per task. Deterministic
  // because the MG bound guarantees every gram with frequency > n/k is
  // nominated (verified with 6x margin on this corpus at every scale
  // factor) and the published counts come from the exact pass, so
  // merge-order noise in the candidate TAIL cannot reach the output.
  def heavyHittersQ(spark: SparkSession, dir: String): DataFrame =
    topGrams(fiveGrams(spark, docs(spark, dir)))

  /** Every 5-char window of `d`'s text WITH multiplicity (the shingle
    * expressions dedupe per doc, which is the wrong stream for frequency
    * counting). The gram explosion is the CPU of these queries and runs
    * BEFORE any shuffle, so its parallelism is the scan's split count —
    * a corpus packed into few row groups would run it near-serially.
    * One cheap doc-level repartition (explicit width: AQE would coalesce
    * the ~MB-scale exchange back to one partition) fans the heavy stage
    * out; at real scale the shuffle moves text bytes once, orders of
    * magnitude less data than the grams it unlocks parallelism for. */
  private def fiveGrams(spark: SparkSession, d: DataFrame): DataFrame = {
    val width = spark.sessionState.conf.numShufflePartitions
    d.repartition(width, col("doc_id")).select(
      explode(expr("transform(sequence(1, greatest(length(text)-4, 1))," +
        " i -> substring(text, i, 5))")).as("gram"))
  }

  /** The exact top-20 of a gram stream as (gram, cnt, rank): the
    * Misra-Gries sketch nominates, one semi-join pass recounts. */
  private def topGrams(grams: DataFrame): DataFrame = {
    val cand = grams.agg(graft.functions.native.NativeFns
        .heavyHitters(col("gram"), 1024).as("c"))
      .select(explode(col("c")).as("gram"))
    val counts = grams.join(broadcast(cand), Seq("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
    // global window over <= k-1 candidate rows — bounded by construction
    val w = Window.orderBy(col("cnt").desc, col("gram"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 20)
  }

  /** `top` with each gram's Count-Min estimate from `sketch` and the
    * overcount against its exact count. */
  private def cmAudit(sketch: DataFrame, top: DataFrame, depth: Int,
                      width: Int): DataFrame =
    graft.ops.Sketches
      .cmEstimate(sketch, top.select(col("gram")), "gram", depth, width)
      .join(top, Seq("gram"))
      .select(col("gram"), col("cnt"), col("cm_est"),
        (col("cm_est") - col("cnt")).as("overcount"), col("rank"))
  val heavyHittersSql: String =
    """WITH g AS (
      |  SELECT unnest(list_transform(range(1, greatest(length(text)-4, 1)+1),
      |         i -> substr(text, CAST(i AS INT), 5))) AS gram
      |  FROM documents),
      |c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1)
      |SELECT gram, cnt,
      |  CAST(row_number() OVER (ORDER BY cnt DESC, gram) AS BIGINT) AS rank
      |FROM c
      |QUALIFY row_number() OVER (ORDER BY cnt DESC, gram) <= 20""".stripMargin

  // ----------------------------------------- count-min frequency sketch
  // The point-query companion to the Misra-Gries screen above, over the
  // SAME 5-char gram stream: a d=3 × w=2048 Count-Min cell table built
  // by plain hash aggregation (partial aggregation IS the sketch —
  // ops.Sketches), probed for the exact top-20 grams. Output carries
  // estimate, exact count, and the overcount, so the one-sided CM
  // guarantee (est ≥ exact, always) is proven relationally in the
  // gated result. Cell-wise-sum merge is commutative — the sketch is
  // bit-identical under any partitioning, unlike the MG candidate tail.
  def countMinQ(spark: SparkSession, dir: String): DataFrame = {
    val (depth, width) = (3, 2048)
    val grams = fiveGrams(spark, docs(spark, dir))
    val sketch = graft.ops.Sketches.countMinTable(grams, "gram", depth, width)
    // probe set: exact top-20 via the MG nominate + exact recount device
    cmAudit(sketch, topGrams(grams), depth, width)
  }
  val countMinSql: String =
    s"""WITH g AS (
       |  SELECT unnest(list_transform(range(1, greatest(length(text)-4, 1)+1),
       |         i -> substr(text, CAST(i AS INT), 5))) AS gram
       |  FROM documents),
       |dd AS (SELECT unnest([0, 1, 2]) AS d),
       |cells AS (
       |  SELECT dd.d,
       |    ${duckHash32("'cm' || CAST(dd.d AS VARCHAR) || ':' || g.gram")}
       |      % 2048 AS cell,
       |    count(*) AS cnt
       |  FROM g CROSS JOIN dd
       |  GROUP BY 1, 2),
       |exact AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
       |topg AS (
       |  SELECT gram, cnt,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, gram) AS BIGINT) AS rank
       |  FROM exact
       |  QUALIFY row_number() OVER (ORDER BY cnt DESC, gram) <= 20),
       |probe AS (
       |  SELECT t.gram, dd.d,
       |    ${duckHash32("'cm' || CAST(dd.d AS VARCHAR) || ':' || t.gram")}
       |      % 2048 AS cell
       |  FROM topg t CROSS JOIN dd),
       |est AS (
       |  SELECT p.gram, min(coalesce(c.cnt, 0)) AS cm_est
       |  FROM probe p LEFT JOIN cells c ON c.d = p.d AND c.cell = p.cell
       |  GROUP BY 1)
       |SELECT t.gram, t.cnt, e.cm_est, e.cm_est - t.cnt AS overcount, t.rank
       |FROM topg t JOIN est e USING (gram)""".stripMargin

  // ----------------------------------- incremental count-min maintenance
  // The sketch's linearity gated end to end: two INDEPENDENT cell
  // tables (even-id and odd-id halves of the corpus, each seeing only
  // its half) merged by cell-wise sum must be indistinguishable from
  // the sketch built over everything — so the oracle IS x_count_min's
  // SQL, and hash-equality proves a maintained 100 TB sketch table can
  // absorb each ingest batch with O(d·w) work, never re-reading
  // history. Probe set and exact counts unchanged (the audit side
  // still reads the full stream; the SKETCH side is what increments).
  def countMinIncrQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val (depth, width) = (3, 2048)
    val d = docs(spark, dir)
    val sketch = Sketches.mergeCm(
      Sketches.countMinTable(fiveGrams(spark, d.where(col("doc_id") % 2 === 0)),
        "gram", depth, width),
      Sketches.countMinTable(fiveGrams(spark, d.where(col("doc_id") % 2 === 1)),
        "gram", depth, width))
    cmAudit(sketch, topGrams(fiveGrams(spark, d)), depth, width)
  }

  // ------------------------------------- group-aware (leakage-free) split
  // Hash the SOURCE, not the document: every doc from one source lands in
  // the same split, so near-identical pages from a single site can never
  // straddle train/test — the contamination x_dataset_split's per-doc
  // hash permits. Same stable md5-fold bucketing (engine- and
  // partitioning-independent); row-local projection, no shuffle.
  def splitBySourceQ(spark: SparkSession, dir: String): DataFrame = {
    val bucket = TextFns.hash32(col("source")) % 100
    docs(spark, dir).select(
      col("doc_id"), col("source"),
      when(bucket < 90, "train").when(bucket < 95, "valid")
        .otherwise("test").as("split"))
  }
  val splitBySourceSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, source, ${duckHash32("source")} % 100 AS bucket
       |  FROM documents)
       |SELECT doc_id, source,
       |  CASE WHEN bucket < 90 THEN 'train'
       |       WHEN bucket < 95 THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM b""".stripMargin

  // -------------------------------------------- stratified k-fold folds
  // Cross-validation assignment with EXACT per-stratum balance: within
  // each language the docs are ordered by the content-hash shuffle
  // (md5(text), doc_id tie-break — deterministic, uncorrelated with any
  // data column) and dealt round-robin into k=5 folds, so fold sizes
  // within a stratum differ by at most 1 — the guarantee hash-bucket
  // splits (x_dataset_split) cannot give. One window per language
  // partition; scale-safe.
  def kfoldQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("text")), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("fold",
        ((row_number().over(w) - 1) % 5).cast("long"))
      .drop("text")
  }
  val kfoldSql: String =
    """SELECT doc_id, lang,
      |  CAST((row_number() OVER (PARTITION BY lang
      |          ORDER BY md5(text), doc_id) - 1) % 5 AS BIGINT) AS fold
      |FROM documents""".stripMargin

  // ------------------------------------------------ per-source Gini
  // Document-length inequality per source — the corpus-curation lens on
  // concentration (q_hhi is the revenue twin): a source whose token
  // mass sits in a few huge documents behaves differently under
  // packing, sampling, and dedup than one with uniform lengths. Exact
  // integer Gini in basis points: with lengths sorted ascending and
  // 1-based rank i, G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) — tie-order
  // invariant, numerator provably ≥ 0, all-BIGINT so both engines
  // truncate identically. One window + one aggregate per source.
  def sourceGiniQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    docs(spark, dir)
      .select(col("source"), col("n_chars"), col("doc_id"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("rk") * col("n_chars")).as("__s1"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        expr("(10000 * (2 * __s1 - (n_docs + 1) * total_chars)) div " +
          "(n_docs * total_chars)").as("gini_bp"))
  }
  val sourceGiniSql: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY n_chars, doc_id) AS rk
      |  FROM documents),
      |a AS (
      |  SELECT source, count(*) AS n_docs,
      |         sum(n_chars) AS total_chars,
      |         sum(rk * n_chars) AS s1
      |  FROM r GROUP BY 1)
      |SELECT source, n_docs, CAST(total_chars AS BIGINT) AS total_chars,
      |  CAST((10000 * (2 * s1 - (n_docs + 1) * total_chars))
      |         // (n_docs * total_chars) AS BIGINT) AS gini_bp
      |FROM a""".stripMargin

  // --------------------------------------------------------- minhash + LSH
  def minhashDedupQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDupPairs(nearDupCorpus(spark, dir), "text", "doc_id",
      k = 5, threshold = 0.5)
  /** The minhash pipeline as a reusable WITH-clause body ending in the
    * `j` (verified pairs) CTE — shared by the pairs query, the
    * connected-components clustering oracle, and the end-to-end drop
    * oracle. `corpusSql` supplies the `corpus(doc_id, text)` relation
    * body. `sh` and `j` are `AS MATERIALIZED`: `sh` is read by `hr` and
    * by both sides of `j`, and the graph oracles reach `j` from every
    * unrolled round, so DuckDB would otherwise re-evaluate the shingle
    * hashing and the pair verification at every reference (minutes per
    * graph oracle, for identical results). */
  private def minhashCtesOver(corpusSql: String): String = {
    val p = TextFns.MinhashP
    val mins = TextFns.MinhashSeeds.zipWithIndex.map { case ((a, b), j) =>
      s"min(($a*h + $b) % $p) AS m$j"
    }.mkString(",\n    ")
    def bandSel(b: Int) = {
      val ms = (0 until 4).map(r => s"m${4 * b + r}")
      s"SELECT doc_id, $b AS band, concat(${ms.mkString(", '_', ")}) AS bkey FROM sig"
    }
    s"""corpus AS (
       |  $corpusSql),
       |sh AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      list_transform(range(1, greatest(length(text)-4, 1)+1),
       |        i -> substr(text, CAST(i AS INT), 5)),
       |      s -> list_reduce(
       |             list_concat([CAST(0 AS BIGINT)],
       |               list_transform(range(1, length(s)+1),
       |                 c -> CAST(unicode(substr(s, CAST(c AS INT), 1)) AS BIGINT))),
       |             (a, c) -> (a*31 + c) % 1000000007))) AS hashes
       |  FROM corpus),
       |hr AS (SELECT doc_id, unnest(hashes) AS h FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM hr GROUP BY doc_id),
       |bands AS (
       |  ${(0 until 4).map(bandSel).mkString("\n  UNION ALL ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |j AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b,
       |    round(len(list_filter(sa.hashes, x -> list_contains(sb.hashes, x)))::DOUBLE /
       |          (len(sa.hashes) + len(sb.hashes)
       |           - len(list_filter(sa.hashes, x -> list_contains(sb.hashes, x)))),
       |          4) AS jaccard
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b)""".stripMargin
  }

  val minhashDedupSql: String =
    s"""WITH ${minhashCtesOver(nearDupCorpusSql)}
       |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin

  // ------------------------------------------- asymmetric containment
  // Dedup.containmentPairsFromSigs over the maintained signature table:
  // |S_small ∩ S_large| · 10⁴ div |S_small| in exact integer basis
  // points — the quote/excerpt/boilerplate-wrap detector symmetric
  // Jaccard structurally misses (the union denominator punishes size
  // gaps; the containment denominator doesn't). Same banded candidate
  // generation as the dedup family, so the screen's recall is bounded
  // by the banding curve at the pair's JACCARD — documented limit,
  // spec-pinned in SigTableSpec; the wide-recall excerpt path is the
  // winnowing screen. All-integer lane: bit-identical across engines.
  def containmentPairsQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairsFromSigs(spark,
      nearDupSigs(spark, dir),
      minContainmentBp = 7000L)
  val containmentPairsSql: String =
    s"""WITH ${minhashCtesOver(nearDupCorpusSql)},
       |ct AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(sa.hashes) AS n_a, len(sb.hashes) AS n_b,
       |    len(list_filter(sa.hashes,
       |      x -> list_contains(sb.hashes, x))) AS inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b)
       |SELECT * FROM (
       |  SELECT
       |    CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END AS doc_small,
       |    CASE WHEN n_a <= n_b THEN doc_b ELSE doc_a END AS doc_large,
       |    CAST(least(n_a, n_b) AS BIGINT) AS n_small,
       |    CAST(greatest(n_a, n_b) AS BIGINT) AS n_large,
       |    CAST(CASE WHEN least(n_a, n_b) = 0 THEN -1
       |      ELSE (inter * 10000) // least(n_a, n_b) END AS BIGINT)
       |      AS containment_bp
       |  FROM ct) t
       |WHERE n_small > 0 AND containment_bp >= 7000""".stripMargin

  // ---------------------------------------------- cross-split leakage
  // The eval-integrity gate a split pipeline must run BEFORE training:
  // near-duplicate pairs that STRADDLE a train/valid/test boundary are
  // leakage (the eval member is effectively in the training set). The
  // twin corpus makes this concrete — a twin's perturbed text hashes
  // into an independent split, so ~1/3 of near-dup pairs cross a
  // boundary. Composes the oracle-pinned MinHash screen with the
  // hash-bucket split rule; output is the actionable pair list
  // (who leaks, from where to where, how similar). Pairs come from the
  // MAINTAINED signature table (shared with the clusters family) — the
  // corpus is shingled once per session, not once per query.
  def splitLeakageQ(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, dir)
    val pairs = nearDupPairs(spark, dir, threshold = 0.5)
    val bucket = TextFns.hash32(col("text")) % 100
    val split = corpus.select(col("doc_id"),
      when(bucket < 80, "train").when(bucket < 90, "valid")
        .otherwise("test").as("split"))
    pairs
      .join(split.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), "doc_a")
      .join(split.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), "doc_b")
      .where(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"),
        col("split_b"), col("jaccard"))
  }
  val splitLeakageSql: String =
    s"""WITH ${minhashCtesOver(nearDupCorpusSql)},
       |splits AS (
       |  SELECT doc_id,
       |    CASE WHEN ${duckHash32("text")} % 100 < 80 THEN 'train'
       |         WHEN ${duckHash32("text")} % 100 < 90 THEN 'valid'
       |         ELSE 'test' END AS split
       |  FROM corpus)
       |SELECT j.doc_a, j.doc_b, sa.split AS split_a, sb.split AS split_b,
       |       j.jaccard
       |FROM j JOIN splits sa ON j.doc_a = sa.doc_id
       |       JOIN splits sb ON j.doc_b = sb.doc_id
       |WHERE j.jaccard >= 0.5 AND sa.split != sb.split""".stripMargin

  // ------------------------------------------------ triangle counting
  // Graph analytics over the near-dup pair graph (operators.Graph):
  // per-document triangle participation — the community-density signal
  // that separates a tight duplicate CLUSTER (pairwise-similar, many
  // triangles) from a similarity CHAIN (a→b→c without a→c, zero
  // triangles), which dedup policies treat differently (a chain's ends
  // may be unrelated). Wedge-join plan over the canonical a<b edge set;
  // every join a hash equi-join, triangles counted once as x<y<z. The
  // pair feed reads the maintained signature table, not corpus text.
  def trianglesQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleCounts(
      nearDupPairs(spark, dir, threshold = 0.5),
      "doc_a", "doc_b")
  /** `<t> AS (…)`: every triangle x<y<z of the canonical edge CTE `e` —
    * the naive id-ordered enumeration, the same set Graph's
    * degree-oriented wedge join counts. */
  private def trianglesCte(e: String, t: String = "t",
                           materialized: Boolean = false): String =
    s"""$t AS${if (materialized) " MATERIALIZED" else ""} (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM $e e1 JOIN $e e2 ON e1.b = e2.a
       |  WHERE EXISTS (SELECT 1 FROM $e e3
       |                WHERE e3.a = e1.a AND e3.b = e2.b))""".stripMargin
  // The query tails over a canonical edge CTE `e`, oracles of
  // Graph.triangleCounts, clusteringCoefficients and edgeSupport.
  private val triangleCountsOverE: String =
    s"""${trianglesCte("e")},
       |n AS (SELECT unnest([x, y, z]) AS node FROM t)
       |SELECT node, count(*) AS n_tri FROM n GROUP BY 1""".stripMargin
  private val clusteringOverE: String =
    s"""${trianglesCte("e")},
       |tn AS (SELECT unnest([x, y, z]) AS node FROM t),
       |tc AS (SELECT node, count(*) AS n_tri FROM tn GROUP BY 1),
       |adj AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e),
       |deg AS (SELECT node, count(*) AS degree FROM adj GROUP BY 1)
       |SELECT deg.node, CAST(deg.degree AS BIGINT) AS degree,
       |  CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
       |  CAST(CASE WHEN deg.degree >= 2
       |    THEN (coalesce(tc.n_tri, 0) * 20000)
       |         // (deg.degree * (deg.degree - 1))
       |    ELSE 0 END AS BIGINT) AS cc_bp
       |FROM deg LEFT JOIN tc ON tc.node = deg.node""".stripMargin
  private val edgeSupportOverE: String =
    s"""${trianglesCte("e")},
       |te AS (
       |  SELECT x AS a, y AS b FROM t
       |  UNION ALL SELECT x, z FROM t
       |  UNION ALL SELECT y, z FROM t),
       |sup AS (SELECT a, b, count(*) AS support FROM te GROUP BY 1, 2)
       |SELECT e.a, e.b,
       |  CAST(coalesce(sup.support, 0) AS BIGINT) AS support
       |FROM e LEFT JOIN sup ON sup.a = e.a AND sup.b = e.b""".stripMargin
  val trianglesSql: String =
    s"""WITH ${nearDupEdgeCtes(0.5)},
       |$triangleCountsOverE""".stripMargin

  /** The planted bridge delta appended to the near-dup graph: two new
    * edges per anchor (`doc_id % 10 = 0`), k—(k+1) and k—(k+1000001). */
  private def bridgeDelta(spark: SparkSession, dir: String): DataFrame = {
    val anchors = docs(spark, dir).where(col("doc_id") % 10 === 0)
    anchors
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1L).as("doc_b"))
      .union(anchors.select(col("doc_id").as("doc_a"),
        (col("doc_id") + 1000001L).as("doc_b")))
  }
  /** Oracle twin of the 0.5 [[nearDupPairs]] plus [[bridgeDelta]]:
    * `mp`, `pairs` and their canonical edge CTE `e`. */
  private def bridgedEdgeCtes: String =
    s"""${minhashCtesOver(nearDupCorpusSql)},
       |mp AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM mp
       |  UNION ALL
       |  SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id, doc_id + 1000001 FROM documents
       |  WHERE doc_id % 10 = 0),
       |${canonEdgesCte("e", "pairs")}""".stripMargin

  // ----------------------------------- incremental triangle counts
  // The incremental-maintenance story extended to graph analytics:
  // stored per-node triangle counts folded with ONLY the triangles the
  // appended bridge edges create (Graph.triangleDelta — cost scales
  // with the delta's wedges, the historical graph is probe-side only).
  // Oracle computes from scratch over the combined edge set; the
  // incremental path must match it exactly.
  def trianglesIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val oldPairs = nearDupPairs(spark, dir, threshold = 0.5)
    // where the old twin edge (k+1)—(k+1000001) exists, the append
    // closes a triangle with TWO new sides — exercising the delta dedup
    val bridges = bridgeDelta(spark, dir)
    graft.operators.Graph.triangleCountsIncremental(
      graft.operators.Graph.triangleCounts(oldPairs, "doc_a", "doc_b"),
      oldPairs, bridges, "doc_a", "doc_b")
  }
  val trianglesIncrSql: String =
    s"""WITH $bridgedEdgeCtes,
       |$triangleCountsOverE""".stripMargin

  // ----------------------------- incremental clustering coefficients
  // Graph.clusteringCoefficientsIncremental on the x_triangles_incr
  // fixture: stored triangle counts AND stored degrees fold with only
  // the appended bridges' delta (O(delta wedges + |state|)) — the
  // density score stays queryable after every append without ever
  // re-enumerating history. Oracle computes from scratch over the
  // combined edge set; the incremental path must match bit-exactly
  // (integer folds feeding an integer division).
  def clusteringIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val oldPairs = nearDupPairs(spark, dir, threshold = 0.5)
    val bridges = bridgeDelta(spark, dir)
    val countsOld =
      graft.operators.Graph.triangleCounts(oldPairs, "doc_a", "doc_b")
    val degOld = graft.operators.Graph
      .canonicalEdges(oldPairs, "doc_a", "doc_b")
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    graft.operators.Graph.clusteringCoefficientsIncremental(
      countsOld, degOld, oldPairs, bridges, "doc_a", "doc_b")
  }
  val clusteringIncrSql: String =
    s"""WITH $bridgedEdgeCtes,
       |$clusteringOverE""".stripMargin

  // ------------------------------------------------ source modularity
  // Graph.modularityReport over the same signature-table pair feed as
  // x_triangles, under the SOURCE partition: how much of the near-dup
  // graph's edge mass stays within a source vs crossing sources — the
  // modularity-decomposition twin of x_syndication's raw reuse
  // matrix. Per source: nodes, intra edges, degree mass, and the
  // exact integer modularity numerator 4·m·e_c − d_c² (the division
  // by 4m² is the caller's single final step; negative numerators
  // floor/truncate differently across engines, so they never divide
  // here).
  def modularityQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir, threshold = 0.5)
    val assign = nearDupCorpus(spark, dir).select(col("doc_id"))
      .join(docs(spark, dir)
        .select(col("doc_id").as("orig_id"), col("source")),
        col("doc_id") % 1000000L === col("orig_id"))
      .select(col("doc_id"), col("source"))
    graft.operators.Graph.modularityReport(pairs, "doc_a", "doc_b",
      assign, "doc_id", "source")
  }
  val modularitySql: String =
    s"""WITH ${nearDupEdgeCtes(0.5)},
       |m AS (SELECT count(*) AS m FROM e),
       |deg AS (SELECT node, count(*) AS deg FROM (
       |  SELECT a AS node FROM e UNION ALL SELECT b FROM e) u
       |  GROUP BY 1),
       |asg AS (SELECT dg.node AS node, d.source AS community
       |  FROM (SELECT DISTINCT node FROM deg) dg
       |  JOIN documents d ON d.doc_id = dg.node % 1000000),
       |ns AS (SELECT community, count(*) AS n_nodes,
       |         sum(deg) AS degree_sum
       |       FROM deg JOIN asg USING (node) GROUP BY 1),
       |intra AS (SELECT ca.community, count(*) AS e_c
       |  FROM e JOIN asg ca ON ca.node = e.a
       |         JOIN asg cb ON cb.node = e.b
       |           AND cb.community = ca.community
       |  GROUP BY 1)
       |SELECT ns.community, CAST(ns.n_nodes AS BIGINT) AS n_nodes,
       |  CAST(coalesce(i.e_c, 0) AS BIGINT) AS intra_edges,
       |  CAST(ns.degree_sum AS BIGINT) AS degree_sum,
       |  CAST(4 * CAST(m.m AS HUGEINT) * coalesce(i.e_c, 0)
       |    - CAST(ns.degree_sum AS HUGEINT) * ns.degree_sum AS BIGINT)
       |    AS contrib_num
       |FROM ns LEFT JOIN intra i ON i.community = ns.community, m""".stripMargin

  // ------------------------------------------------- link prediction
  // Graph.linkPrediction over the same signature-table pair feed as
  // x_triangles: ranks the non-edges two hops apart in the near-dup
  // graph by common-neighbor count and the integer resource-allocation
  // score — the "transitive near-dup" candidates an LSH screen misses
  // when no band bucketed the pair directly (a~b, b~c, a≁c). Purely
  // integer arithmetic end to end, so both engines agree bit-exact.
  // Threshold 0.2 (vs the dedup family's 0.5) keeps the WEAK edges the
  // strict screen drops — exactly the regime link prediction is for:
  // the 0.5 graph is near-1:1 twin pairs with almost no open wedges.
  def linkPredictQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.linkPrediction(
        nearDupPairs(spark, dir, threshold = 0.2),
        "doc_a", "doc_b")
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("n_common"), col("ra_u"))
  /** The 0.2 near-dup graph as canonical edges `e`, the symmetric
    * adjacency `adj(v, n)` and true degrees `deg(v, d)` — the input of
    * the Graph.linkPrediction oracles. */
  private val linkAdjCtes: String =
    s"""${nearDupEdgeCtes(0.2)},
       |adj AS (SELECT a AS v, b AS n FROM e
       |        UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT v, count(*) AS d FROM adj GROUP BY v)""".stripMargin
  /** Common-neighbor and resource-allocation scores of the non-edges
    * two hops apart through the wedge centers of `centers(v, n)`. */
  private def linkScoresSql(centers: String): String =
    s"""w AS (
       |  SELECT x.n AS a, y.n AS b, x.v AS via
       |  FROM $centers x JOIN $centers y ON x.v = y.v AND x.n < y.n),
       |s AS (
       |  SELECT w.a, w.b, count(*) AS n_common,
       |         CAST(sum(1000000 // d.d) AS BIGINT) AS ra_u
       |  FROM w JOIN deg d ON w.via = d.v GROUP BY 1, 2)
       |SELECT s.a AS doc_a, s.b AS doc_b, s.n_common, s.ra_u
       |FROM s
       |WHERE NOT EXISTS (SELECT 1 FROM e
       |                  WHERE e.a = s.a AND e.b = s.b)""".stripMargin
  val linkPredictSql: String =
    s"""WITH $linkAdjCtes,
       |${linkScoresSql("adj")}""".stripMargin

  // -------------------------------- link prediction, hub-guarded form
  // The same ranker under the maxDegree wedge-center guard — the shape
  // that SURVIVES a 100 TB skewed graph: a template-farm hub of degree
  // d contributes d²/2 wedges, so production runs cap the center degree
  // (here 6, chosen to actually purge the sf graph's hubs) and audit
  // the loss via x_link_hubs. The oracle replays the purge exactly:
  // adjacency rows whose center exceeds the cap never enter the wedge
  // self-join, but degrees (and RA scores) stay TRUE degrees.
  def linkPredictGuardedQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.linkPrediction(
        nearDupPairs(spark, dir, threshold = 0.2),
        "doc_a", "doc_b", maxDegree = 6L)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("n_common"), col("ra_u"))
  val linkPredictGuardedSql: String =
    s"""WITH $linkAdjCtes,
       |adjg AS (
       |  SELECT adj.v, adj.n FROM adj
       |  JOIN deg ON deg.v = adj.v WHERE deg.d <= 6),
       |${linkScoresSql("adjg")}""".stripMargin

  // The guard's audit twin: the (node, degree) rows the cap purges —
  // run FIRST by any pipeline that cannot tolerate evidence loss
  // (EntityResolution.purgedBlocks contract).
  def linkHubsQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.linkPredictionDroppedHubs(
        nearDupPairs(spark, dir, threshold = 0.2),
        "doc_a", "doc_b", maxDegree = 6L)
      .select(col("v").as("node"), col("d").as("degree"))
  val linkHubsSql: String =
    s"""WITH $linkAdjCtes
       |SELECT v AS node, CAST(d AS BIGINT) AS degree
       |FROM deg WHERE d > 6""".stripMargin

  // ------------------------------------ local clustering coefficients
  // Graph.clusteringCoefficients over the loose-threshold (0.2) pair
  // graph: the neighborhood-density score that separates organic
  // duplicate communities (high cc) from hub-and-spoke template farms
  // (hub cc ≈ 0) — the ranking signal a curation pass uses to decide
  // which near-dup clusters are template noise vs genuine re-posts.
  // Exact basis-point integer lane; the oracle replays the degree-
  // oriented triangle count as the naive id-ordered enumeration (same
  // set, engine-independent) and the identical floor division.
  def clusteringCoefQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.clusteringCoefficients(
      nearDupPairs(spark, dir, threshold = 0.2),
      "doc_a", "doc_b")
  val clusteringCoefSql: String =
    s"""WITH ${nearDupEdgeCtes(0.2)},
       |$clusteringOverE""".stripMargin

  // -------------------------------------------------- edge support
  // Graph.edgeSupport over the loose-threshold (0.2) pair graph: the
  // triangle count of every near-dup EDGE — support 0 flags the
  // unsupported links (candidate screen false positives / bridges
  // between unrelated duplicate communities; exactly the edges a
  // conservative pipeline re-verifies before letting connected
  // components merge through them), high support certifies the
  // neighborhood agrees. The k-truss building block.
  def edgeSupportQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.edgeSupport(
      nearDupPairs(spark, dir, threshold = 0.2),
      "doc_a", "doc_b")
  val edgeSupportSql: String =
    s"""WITH ${nearDupEdgeCtes(0.2)},
       |$edgeSupportOverE""".stripMargin

  // ------------------------------------------------------ 3-truss core
  // Graph.kTruss(k=3) over the loose (0.2) pair graph: iteratively
  // peel edges with no surviving triangle until the fixed point — the
  // high-precision backbone of the near-dup screen (strictly stronger
  // than k-core: every kept edge is certified by a triangle OF the
  // kept set, so bridges and one-off band collisions are gone). The
  // oracle unrolls the same peel rounds as MATERIALIZED CTEs (the
  // x_kcore device); rounds past the fixed point are no-ops on both
  // engines, so any sufficient round count agrees.
  def ktrussQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kTruss(
      nearDupPairs(spark, dir, threshold = 0.2),
      "doc_a", "doc_b", k = 3, maxRounds = 5)
  /** One unrolled triangle-support round (tri + sup CTEs) over `src`
    * — shared by the truss oracle family. */
  private def trussTri(i: Int, src: String): String =
    s"""${trianglesCte(src, s"t$i", materialized = true)},
       |sup$i AS MATERIALIZED (
       |  SELECT a, b, count(*) AS s FROM (
       |    SELECT x AS a, y AS b FROM t$i
       |    UNION ALL SELECT x, z FROM t$i
       |    UNION ALL SELECT y, z FROM t$i) u$i
       |  GROUP BY 1, 2)""".stripMargin

  /** The unrolled 5-round 3-truss peel from `e0` to `e5` (the x_kcore
    * unrolling device: rounds past the fixed point are no-ops on both
    * engines). */
  private def trussPeelRounds: String =
    (1 to 5).map { i =>
      s"""${trussTri(i, s"e${i - 1}")},
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN sup$i s ON s.a = e.a AND s.b = e.b
         |  WHERE s.s >= 1)""".stripMargin
    }.mkString(",\n")

  /** [[trussPeelRounds]] over the loose (0.2) pair graph. */
  private lazy val ktrussPeelCtes: String =
    s"""${nearDupEdgeCtes(0.2, "e0", materialized = true)},
       |$trussPeelRounds""".stripMargin
  val ktrussSql: String =
    s"""WITH $ktrussPeelCtes,
       |${trussTri(6, "e5")}
       |SELECT e.a, e.b, CAST(coalesce(s.s, 0) AS BIGINT) AS support
       |FROM e5 e LEFT JOIN sup6 s ON s.a = e.a AND s.b = e.b""".stripMargin

  // ------------------------------------- truss convergence witness
  // Graph.kTrussWitnessed's fixed-point flag gated end to end (r7
  // verdict item 5): the loop's surviving-edge count plus whether the
  // peel actually CONVERGED inside maxRounds — the honesty bit a
  // production caller needs before trusting a bounded-depth truss.
  // The witness is oracle-expressible because the peel is strictly
  // decreasing until its fixed point: converged within 5 rounds
  // ⟺ |e5| = |e4| on the same unrolled CTEs.
  def ktrussWitnessQ(spark: SparkSession, dir: String): DataFrame = {
    val res = graft.operators.Graph.kTrussWitnessed(
      nearDupPairs(spark, dir, threshold = 0.2),
      "doc_a", "doc_b", k = 3, maxRounds = 5)
    res.edges.agg(count(lit(1)).as("n_edges"))
      .select(col("n_edges"), lit(res.converged).as("converged"))
  }
  val ktrussWitnessSql: String =
    s"""WITH $ktrussPeelCtes
       |SELECT (SELECT count(*) FROM e5) AS n_edges,
       |       (SELECT count(*) FROM e5) = (SELECT count(*) FROM e4)
       |         AS converged""".stripMargin

  // ------------------------------------ incremental edge support
  // Graph.edgeSupportIncremental on the x_triangles_incr bridge
  // fixture: the stored per-edge support folds with only the delta
  // triangles' participation — the truss/unsupported-link signal
  // stays current after every append without re-enumerating history.
  // Oracle computes edge support from scratch over the combined edge
  // set; the fold must match bit-exactly.
  def edgeSupportIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val oldPairs = nearDupPairs(spark, dir, threshold = 0.5)
    val bridges = bridgeDelta(spark, dir)
    graft.operators.Graph.edgeSupportIncremental(
      graft.operators.Graph.edgeSupport(oldPairs, "doc_a", "doc_b"),
      oldPairs, bridges, "doc_a", "doc_b")
  }
  val edgeSupportIncrSql: String =
    s"""WITH $bridgedEdgeCtes,
       |$edgeSupportOverE""".stripMargin

  // -------------------------------------- truss survival by jaccard
  // The precision gradient that justifies the truss screen: per
  // 0.1-wide Jaccard band of the 0.2 pair graph, how many edges the
  // 3-truss keeps — weak-similarity edges are overwhelmingly
  // UNSUPPORTED (no surviving triangle) while strong ones sit in
  // dense twin clusters, so a pipeline can quantify exactly how much
  // of the loose screen's tail the certified backbone discards before
  // trusting CC merges through it.
  def trussPrecisionQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir, threshold = 0.2)
    val truss = graft.operators.Graph.kTruss(pairs, "doc_a", "doc_b",
        k = 3, maxRounds = 5)
      .select(col("a"), col("b"), lit(1L).as("in_truss"))
    pairs.select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"), col("jaccard"))
      .join(truss, Seq("a", "b"), "left")
      .select(floor(col("jaccard") * 10).cast("long").as("jaccard_band"),
        coalesce(col("in_truss"), lit(0L)).as("k"))
      .groupBy("jaccard_band")
      .agg(count(lit(1)).as("n_edges"), sum(col("k")).as("n_in_truss"))
      .select(col("jaccard_band"), col("n_edges"), col("n_in_truss"),
        expr("n_in_truss * 10000 div n_edges").as("survival_bp"))
  }
  val trussPrecisionSql: String =
    s"""WITH ${minhashCtesOver(nearDupCorpusSql)},
       |p AS (
       |  SELECT doc_a AS a, doc_b AS b, jaccard
       |  FROM j WHERE jaccard >= 0.2),
       |e0 AS MATERIALIZED (SELECT DISTINCT a, b FROM p),
       |$trussPeelRounds
       |SELECT CAST(floor(p.jaccard * 10) AS BIGINT) AS jaccard_band,
       |  count(*) AS n_edges,
       |  CAST(sum(CASE WHEN e5.a IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_in_truss,
       |  CAST(sum(CASE WHEN e5.a IS NOT NULL THEN 1 ELSE 0 END) * 10000
       |    // count(*) AS BIGINT) AS survival_bp
       |FROM p LEFT JOIN e5 ON e5.a = p.a AND e5.b = p.b
       |GROUP BY 1""".stripMargin

  // --------------------------------------- label-propagation communities
  // Graph.labelPropagation over the same loose-threshold (0.2)
  // signature-table pair graph as x_link_predict: the mesoscale
  // community label between connected components (one bridge edge
  // merges everything) and triangles (local density only). Four
  // SYNCHRONOUS rounds with a self-vote and min-label tie-break make
  // every round a pure function of the previous labeling, so the
  // oracle UNROLLS the identical rounds as chained CTEs and must match
  // exactly — the PageRank device applied to community detection.
  def labelPropQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.labelPropagation(
      nearDupPairs(spark, dir, threshold = 0.2),
      "doc_a", "doc_b", iters = 4)
  val labelPropSql: String = {
    def round(k: Int) =
      s"""lp$k AS (
         |  SELECT v, lbl FROM (
         |    SELECT v, lbl,
         |      row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lbl ASC)
         |        AS rn
         |    FROM (
         |      SELECT v, lbl, count(*) AS cnt FROM (
         |        SELECT a.v AS v, l.lbl AS lbl
         |        FROM adj a JOIN lp${k - 1} l ON l.v = a.n
         |        UNION ALL SELECT v, lbl FROM lp${k - 1}) t$k
         |      GROUP BY 1, 2) c$k) r$k
         |  WHERE rn = 1)""".stripMargin
    s"""WITH ${nearDupEdgeCtes(0.2, "ce")},
       |adj AS (SELECT a AS v, b AS n FROM ce
       |        UNION ALL SELECT b, a FROM ce),
       |nodes AS (SELECT DISTINCT v FROM adj),
       |lp0 AS (SELECT v, v AS lbl FROM nodes),
       |${(1 to 4).map(round).mkString(",\n")}
       |SELECT v AS node, lbl AS community FROM lp4""".stripMargin
  }

  // ------------------------------------------------- distribution drift
  // Drift.psiReport gated end to end: the PSI report between the
  // even-id and odd-id halves of the corpus over the n_chars
  // distribution (fixed 10×100 integer grid, add-one smoothing) — the
  // training/serving drift monitor. Per-bin ln(p/q) floor-quantized to
  // micro-nats, contribution floored to integer micro-PSI; exact
  // integer counts everywhere else.
  def driftQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.ops.Drift.psiReport(
      d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
      col("n_chars"), nBins = 10, width = 100L)
  }
  val driftSql: String =
    """WITH r AS (
      |  SELECT least(n_chars // 100, 9) AS bin, count(*) AS ref_n
      |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
      |c AS (
      |  SELECT least(n_chars // 100, 9) AS bin, count(*) AS cur_n
      |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
      |g AS (
      |  SELECT b.bin,
      |    COALESCE(r.ref_n, 0) AS ref_n, COALESCE(c.cur_n, 0) AS cur_n
      |  FROM range(10) b(bin)
      |  LEFT JOIN r ON r.bin = b.bin LEFT JOIN c ON c.bin = b.bin),
      |t AS (SELECT sum(ref_n) AS rt, sum(cur_n) AS ct FROM g),
      |s AS (
      |  SELECT g.bin, g.ref_n, g.cur_n,
      |    (g.ref_n + 1.0) / (t.rt + 10) AS p,
      |    (g.cur_n + 1.0) / (t.ct + 10) AS q
      |  FROM g, t)
      |SELECT CAST(bin AS BIGINT) AS bin,
      |  CAST(ref_n AS BIGINT) AS ref_n, CAST(cur_n AS BIGINT) AS cur_n,
      |  CAST(floor((p - q) *
      |       CAST(floor(ln(p / q) * 1e6) AS BIGINT)) AS BIGINT) AS psi_u
      |FROM s""".stripMargin

  // ------------------------------------------------- web URL curation
  // UrlOps gated end to end on a deterministic synthetic crawl: each
  // document gets a URL whose shape cycles through three messy variants
  // (uppercase scheme/host + default port + utm_* params + fragment;
  // fbclid; gclid on a cdn host). Canonicalization must collapse the
  // mess identically in both engines — every rule is a plain regex, so
  // the oracle replays the same chain in DuckDB dialect.
  private def syntheticUrls(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    docs(spark, dir).select(col("doc_id"), col("source"), col("n_chars"),
      when(id % 3 === 0, concat(
          lit("HTTPS://WWW."), upper(col("source")),
          lit(".Example.COM:443/Docs/"), (id % 50).cast("string"),
          lit("?utm_source=feed&id="), (id % 20).cast("string"),
          lit("&utm_campaign=x#sec"), (id % 5).cast("string")))
        .when(id % 3 === 1, concat(
          lit("http://"), col("source"), lit(".example.com:80/a/b/"),
          (id % 50).cast("string"), lit("?id="), (id % 20).cast("string"),
          lit("&fbclid=f"), id.cast("string")))
        .otherwise(concat(
          lit("https://cdn."), col("source"), lit(".example.com/static/"),
          (id % 50).cast("string"), lit("?gclid=z&id="),
          (id % 20).cast("string")))
        .as("url"))
  }
  private val syntheticUrlsSql: String =
    """SELECT doc_id, source, n_chars,
      |  CASE CAST(doc_id % 3 AS INT)
      |    WHEN 0 THEN 'HTTPS://WWW.' || upper(source) ||
      |      '.Example.COM:443/Docs/' || (doc_id % 50) ||
      |      '?utm_source=feed&id=' || (doc_id % 20) ||
      |      '&utm_campaign=x#sec' || (doc_id % 5)
      |    WHEN 1 THEN 'http://' || source || '.example.com:80/a/b/' ||
      |      (doc_id % 50) || '?id=' || (doc_id % 20) || '&fbclid=f' || doc_id
      |    ELSE 'https://cdn.' || source || '.example.com/static/' ||
      |      (doc_id % 50) || '?gclid=z&id=' || (doc_id % 20)
      |  END AS url
      |FROM documents""".stripMargin
  private val canonSql: String =
    """s1 AS (SELECT doc_id, source, n_chars,
      |         regexp_replace(url, '#.*$', '', 'g') AS u FROM urls),
      |s2 AS (SELECT *, regexp_extract(u, '^[^/]*//[^/?#]*') AS pfx FROM s1),
      |s3 AS (SELECT doc_id, source, n_chars,
      |         regexp_replace(regexp_replace(lower(pfx), ':(80|443)$', '', 'g'),
      |           '^(https?://)www\.', '\1', 'g') AS pfx2,
      |         substr(u, length(pfx) + 1) AS rest FROM s2),
      |s4 AS (SELECT doc_id, source, n_chars, pfx2,
      |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(rest,
      |           '(utm_[a-z]+|gclid|fbclid)=[^&#]*', '', 'g'),
      |           '&&+', '&', 'g'), '\?&', '?', 'g'), '[?&]+$', '', 'g')
      |           AS rest2 FROM s3),
      |canon AS (SELECT doc_id, source, n_chars,
      |            pfx2 || rest2 AS canon_url FROM s4)""".stripMargin

  def urlCanonQ(spark: SparkSession, dir: String): DataFrame =
    UrlOps.withCanonicalUrl(syntheticUrls(spark, dir), "url")
      .select(col("doc_id"), col("canon_url"), col("host"), col("domain"))
  val urlCanonSql: String =
    s"""WITH urls AS ($syntheticUrlsSql),
       |$canonSql
       |SELECT doc_id, canon_url,
       |  regexp_extract(canon_url, '^[a-z]+://([^/:?#]+)', 1) AS host,
       |  regexp_extract(regexp_extract(canon_url, '^[a-z]+://([^/:?#]+)', 1),
       |    '[^.]+\\.[^.]+$$') AS domain
       |FROM canon""".stripMargin

  def urlDedupQ(spark: SparkSession, dir: String): DataFrame =
    UrlOps.dedupByCanonicalUrl(syntheticUrls(spark, dir), "url", "doc_id")
  val urlDedupSql: String =
    s"""WITH urls AS ($syntheticUrlsSql),
       |$canonSql
       |SELECT canon_url, min(doc_id) AS keeper_id,
       |  count(*) AS fetch_count
       |FROM canon GROUP BY 1""".stripMargin

  // per-host cap at 25 by (n_chars DESC, doc_id): the boilerplate-domain
  // flood defense; ranks must be engine-identical, so the ordering is a
  // total order (doc_id tiebreak)
  def domainCapQ(spark: SparkSession, dir: String): DataFrame = {
    val canon = UrlOps.withCanonicalUrl(syntheticUrls(spark, dir), "url")
    UrlOps.capPerHost(canon, "host", "doc_id", 25,
        Seq(col("n_chars").desc, col("doc_id").asc))
      .select(col("doc_id"), col("host"), col("host_rank"))
  }
  val domainCapSql: String =
    s"""WITH urls AS ($syntheticUrlsSql),
       |$canonSql,
       |hosted AS (
       |  SELECT doc_id, n_chars,
       |    regexp_extract(canon_url, '^[a-z]+://([^/:?#]+)', 1) AS host
       |  FROM canon),
       |ranked AS (
       |  SELECT doc_id, host,
       |    row_number() OVER (PARTITION BY host
       |      ORDER BY n_chars DESC, doc_id) AS host_rank
       |  FROM hosted)
       |SELECT doc_id, host, CAST(host_rank AS BIGINT) AS host_rank
       |FROM ranked WHERE host_rank <= 25""".stripMargin

  // ------------------------------------------------ fixed-point PageRank
  // Graph.pageRank over the near-dup pair graph: duplicate-hub scoring
  // (which documents sit at the center of copy networks). Ranks are
  // integer micro-units with damping as the exact rational 17/20 and
  // truncating division — bit-identical across engines and
  // partitionings, so the oracle UNROLLS the same 10 power iterations
  // as chained CTEs (recursive CTEs can't aggregate) and must match
  // exactly, no tolerance. The pair feed reads the maintained signature
  // table (sig-table results are hash-equal to from-text, SigTableSpec).
  /** `<p>e(src, dst)` (both directions of the canonical edge CTE
    * `src`), `<p>deg(src, d)` and `<p>nodes(v)` — the adjacency the
    * Graph.pageRank oracles propagate rank over. */
  private def rankAdjCtes(src: String, p: String = ""): String =
    s"""${p}e AS (SELECT a AS src, b AS dst FROM $src
       |      UNION ALL SELECT b, a FROM $src),
       |${p}deg AS (SELECT src, count(*) AS d FROM ${p}e GROUP BY 1),
       |${p}nodes AS (SELECT DISTINCT src AS v FROM ${p}e)""".stripMargin
  def pageRankQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRank(
      nearDupPairs(spark, dir, threshold = 0.5),
      "doc_a", "doc_b", iters = 10)
  val pageRankSql: String = {
    val rounds = (1 to 10).map { i =>
      s"""pr$i AS (
         |  SELECT n.v,
         |    150000 + (17 * COALESCE(s.s, 0)) // 20 AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS v, sum(p.r // deg.d) AS s
         |    FROM pr${i - 1} p
         |    JOIN deg ON deg.src = p.v
         |    JOIN e ON e.src = p.v
         |    GROUP BY 1) s ON s.v = n.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${nearDupEdgeCtes(0.5, "ce")},
       |${rankAdjCtes("ce")},
       |pr0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT v AS node, CAST(r AS BIGINT) AS rank FROM pr10""".stripMargin
  }

  // ------------------------------------- warm-start PageRank refresh
  // Graph.pageRankWarm gated end to end — the incremental-maintenance
  // story extended to the fixed-point family: stored ranks of the old
  // near-dup graph (the x_pagerank computation, 10 cold rounds) are
  // RESUMED for 3 refresh rounds over the graph with the appended
  // bridge edges (the x_triangles_incr delta device), instead of 10
  // cold rounds from uniform. Every lane is the same exact integer
  // arithmetic, so the oracle unrolls 10 cold + 3 warm rounds and must
  // match bit-for-bit; new-in-delta nodes seed at the uniform 1000000.
  /** Shared warm-refresh fixture: (new edge set, stored old ranks) —
    * 10 cold rounds over the near-dup graph, bridge-edge delta. */
  private def pageRankWarmInputs(spark: SparkSession,
                                 dir: String): (DataFrame, DataFrame) = {
    val oldPairs = nearDupPairs(spark, dir, threshold = 0.5)
    val bridges = bridgeDelta(spark, dir)
    val oldRanks = graft.operators.Graph.pageRank(
      oldPairs, "doc_a", "doc_b", iters = 10)
    (oldPairs.select(col("doc_a"), col("doc_b")).union(bridges),
      oldRanks)
  }

  def pageRankIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val (newEdges, oldRanks) = pageRankWarmInputs(spark, dir)
    graft.operators.Graph.pageRankWarm(
      newEdges, "doc_a", "doc_b", oldRanks, "node", "rank", iters = 3)
  }

  // --------------------------- warm-refresh staleness witness (r10)
  // Graph.pageRankWarmWitness over the SAME fixture: the largest
  // round-over-round rank movement between warm rounds 2 and 3, and
  // whether it clears the 1000-micro tolerance — the flag that tells
  // refresh_pagerank when 3 rounds did NOT suffice for a delta. The
  // oracle reuses the 10-cold + 3-warm unroll and diffs the last two
  // warm levels; exact integers make the boolean engine-identical.
  def pageRankWitnessQ(spark: SparkSession, dir: String): DataFrame = {
    val (newEdges, oldRanks) = pageRankWarmInputs(spark, dir)
    graft.operators.Graph.pageRankWarmWitness(
      newEdges, "doc_a", "doc_b", oldRanks, "node", "rank",
      iters = 3, tolMicro = 1000L)
  }

  private val pageRankIncrCtes: String = {
    def rounds(tbl: String, prefix: String, n: Int, from: String) =
      (1 to n).map { i =>
        val p = if (i == 1) from else s"$prefix${i - 1}"
        s"""$prefix$i AS (
           |  SELECT n.v,
           |    150000 + (17 * COALESCE(s.s, 0)) // 20 AS r
           |  FROM ${tbl}_nodes n LEFT JOIN (
           |    SELECT e.dst AS v, sum(p.r // deg.d) AS s
           |    FROM $p p
           |    JOIN ${tbl}_deg deg ON deg.src = p.v
           |    JOIN ${tbl}_e e ON e.src = p.v
           |    GROUP BY 1) s ON s.v = n.v)""".stripMargin
      }.mkString(",\n")
    val newPairs = "(SELECT a AS doc_a, b AS doc_b FROM ce " +
      "UNION ALL SELECT doc_a, doc_b FROM bridges)"
    s"""${nearDupEdgeCtes(0.5, "ce")},
       |${rankAdjCtes("ce", "old_")},
       |cold0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM old_nodes),
       |${rounds("old", "cold", 10, "cold0")},
       |bridges AS (
       |  SELECT doc_id AS doc_a, doc_id + 1 AS doc_b
       |  FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id, doc_id + 1000001 FROM documents
       |  WHERE doc_id % 10 = 0),
       |${canonEdgesCte("nce", newPairs)},
       |${rankAdjCtes("nce", "new_")},
       |warm0 AS (
       |  SELECT n.v, COALESCE(c.r, CAST(1000000 AS BIGINT)) AS r
       |  FROM new_nodes n LEFT JOIN cold10 c ON c.v = n.v),
       |${rounds("new", "warm", 3, "warm0")}""".stripMargin
  }
  val pageRankIncrSql: String =
    s"""WITH $pageRankIncrCtes
       |SELECT v AS node, CAST(r AS BIGINT) AS rank FROM warm3""".stripMargin
  val pageRankWitnessSql: String =
    s"""WITH $pageRankIncrCtes
       |SELECT CAST(max(abs(a.r - b.r)) AS BIGINT) AS max_delta_micro,
       |  max(abs(a.r - b.r)) <= 1000 AS converged
       |FROM warm3 a JOIN warm2 b ON a.v = b.v""".stripMargin

  // ---------------------------------- personalized PageRank (leakage)
  // Contamination-risk diffusion: benchmark stand-in docs (orig id
  // < 10, same seed rule as x_decontaminate) seed a personalized
  // PageRank over the near-dup graph, ranking every document by its
  // REACHABILITY from the eval set through duplicate edges — the
  // transitive leakage (A twins B, B twins eval) the direct n-gram
  // screen can't see. Exact integer lanes as x_pagerank, so the
  // oracle unrolls the same 6 rounds and must match bit-for-bit.
  // Pair feed: the maintained signature table.
  def pprLeakageQ(spark: SparkSession, dir: String): DataFrame = {
    val seeds = nearDupCorpus(spark, dir)
      .select(col("doc_id")).where(col("doc_id") % 1000000L < 10)
    graft.operators.Graph.personalizedPageRank(
      nearDupPairs(spark, dir, threshold = 0.5),
      "doc_a", "doc_b", seeds, "doc_id", iters = 6)
  }
  val pprLeakageSql: String = {
    val rounds = (1 to 6).map { i =>
      s"""ppr$i AS (
         |  SELECT b.v,
         |    b.base + (17 * COALESCE(s.s, 0)) // 20 AS r
         |  FROM base b LEFT JOIN (
         |    SELECT e.dst AS v, sum(p.r // deg.d) AS s
         |    FROM ppr${i - 1} p
         |    JOIN deg ON deg.src = p.v
         |    JOIN e ON e.src = p.v
         |    GROUP BY 1) s ON s.v = b.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${nearDupEdgeCtes(0.5, "ce")},
       |${rankAdjCtes("ce")},
       |seedset AS (
       |  SELECT v FROM nodes WHERE v % 1000000 < 10),
       |base AS (
       |  SELECT n.v,
       |    CASE WHEN s.v IS NOT NULL THEN
       |      (150000 * (SELECT count(*) FROM nodes))
       |        // (SELECT count(*) FROM seedset)
       |    ELSE 0 END AS base
       |  FROM nodes n LEFT JOIN seedset s ON s.v = n.v),
       |ppr0 AS (SELECT v, base AS r FROM base),
       |$rounds
       |SELECT v AS node, CAST(r AS BIGINT) AS rank FROM ppr6""".stripMargin
  }

  // ------------------------------------------- degree distribution
  // The similarity graph's health histogram: node degrees in
  // power-of-two buckets (binary digit count — the x_length_histogram
  // integer lane), with each bucket's node count and degree extremes.
  // A crawl pathology (template blast, mirror farm) shows up as mass
  // in high buckets before any clustering runs. Pair feed: the
  // maintained signature table; two aggregations, no pair-pair work.
  def degreeDistQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir, threshold = 0.5)
    val deg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    deg.groupBy(length(bin(col("degree"))).cast("long").as("deg_bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("degree")).as("min_deg"),
        max(col("degree")).as("max_deg"))
  }
  val degreeDistSql: String =
    s"""WITH ${minhashCtesOver(nearDupCorpusSql)},
       |prs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
       |deg AS (
       |  SELECT node, count(*) AS degree FROM (
       |    SELECT doc_a AS node FROM prs
       |    UNION ALL SELECT doc_b FROM prs)
       |  GROUP BY 1)
       |SELECT CAST(length(bin(degree)) AS BIGINT) AS deg_bucket,
       |  count(*) AS n_nodes,
       |  min(degree) AS min_deg, max(degree) AS max_deg
       |FROM deg GROUP BY 1""".stripMargin

  // ----------------------------------------------------- HITS hub/auth
  // Graph.hits over the DIRECTED near-dup graph (lower id → later
  // copy): separates COPY SOURCES (high hub — documents whose material
  // many later docs reuse) from COPY SINKS (high authority — documents
  // assembled from many earlier ones), the two roles undirected
  // PageRank conflates. Integer micro-unit scores renormalized by a
  // broadcast scalar max each half-round; the oracle unrolls the same
  // 4 rounds as chained CTEs and must match exactly. Pair feed: the
  // maintained signature table, like the rest of the graph family.
  def hitsQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.hits(
      nearDupPairs(spark, dir, threshold = 0.5),
      "doc_a", "doc_b", iters = 4)
  val hitsSql: String = {
    val rounds = (1 to 4).map { i =>
      s"""hr$i AS MATERIALIZED (
         |  SELECT n.v, COALESCE(x.s, 0) AS s FROM nodes n LEFT JOIN (
         |    SELECT e.src AS v, sum(a.s) AS s
         |    FROM e JOIN a${i - 1} a ON a.v = e.dst GROUP BY 1) x
         |    ON x.v = n.v),
         |h$i AS MATERIALIZED (
         |  SELECT v, s * 1000000 // (SELECT max(s) FROM hr$i) AS s
         |  FROM hr$i),
         |ar$i AS MATERIALIZED (
         |  SELECT n.v, COALESCE(x.s, 0) AS s FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS v, sum(h.s) AS s
         |    FROM e JOIN h$i h ON h.v = e.src GROUP BY 1) x
         |    ON x.v = n.v),
         |a$i AS MATERIALIZED (
         |  SELECT v, s * 1000000 // (SELECT max(s) FROM ar$i) AS s
         |  FROM ar$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${nearDupEdgeCtes(0.5, "ce")},
       |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM ce),
       |nodes AS MATERIALIZED (
       |  SELECT src AS v FROM e UNION SELECT dst FROM e),
       |a0 AS (SELECT v, CAST(1000000 AS BIGINT) AS s FROM nodes),
       |$rounds
       |SELECT h.v AS node, CAST(h.s AS BIGINT) AS hub,
       |  CAST(a.s AS BIGINT) AS auth
       |FROM h4 h JOIN a4 a ON a.v = h.v""".stripMargin
  }

  // ------------------------------------------------ k-core decomposition
  // Graph.kCore over the near-dup pair graph: the dense-template-farm
  // detector — nodes that keep >= 2 neighbors after synchronous
  // peeling, with their core degree. Rounds are a pure function of the
  // previous subgraph, so the oracle replays the SAME 8 peels as
  // chained CTEs (converged-early results are a fixed point; extra
  // replayed rounds are no-ops) and must match exactly. Pair feed:
  // the maintained signature table, like the rest of the graph family.
  def kcoreQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCore(
      nearDupPairs(spark, dir, threshold = 0.5),
      "doc_a", "doc_b", k = 2, maxRounds = 8)
  /** The unrolled 8-round k=2 core peel over the tight (0.5) pair
    * graph, ending in the directed adjacency `e8` — shared by the
    * core oracle family.
    * Every e_i is referenced three times by round i+1 (directly and
    * through kp twice); left inlinable the unrolled chain expands
    * 3^8 replays of the whole minhash pipeline — AS MATERIALIZED pins
    * each round to one evaluation, which is also what the engine does.
    */
  private lazy val kcorePeelCtes: String = {
    val rounds = (1 to 8).map { i =>
      s"""kp$i AS MATERIALIZED (
         |  SELECT src AS v FROM e${i - 1}
         |  GROUP BY src HAVING count(*) >= 2),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN kp$i a ON e.src = a.v
         |  JOIN kp$i b ON e.dst = b.v)""".stripMargin
    }.mkString(",\n")
    s"""${nearDupEdgeCtes(0.5, "ce")},
       |e0 AS MATERIALIZED (
       |       SELECT a AS src, b AS dst FROM ce
       |       UNION ALL SELECT b, a FROM ce),
       |$rounds""".stripMargin
  }
  val kcoreSql: String =
    s"""WITH $kcorePeelCtes
       |SELECT src AS node, count(*) AS core_deg FROM e8 GROUP BY 1""".stripMargin

  // -------------------------------------- core convergence witness
  // Graph.kCoreWitnessed's fixed-point flag gated end to end — the
  // k-core twin of x_ktruss_witness, on the same oracle device: the
  // synchronous peel is strictly decreasing until its fixed point, so
  // converged within 8 rounds ⟺ |e8| = |e7| directed adjacency rows.
  // deg_sum doubles as the surviving-adjacency row count, checking
  // the witness is computed over the SAME subgraph the core reports.
  def kcoreWitnessQ(spark: SparkSession, dir: String): DataFrame = {
    val res = graft.operators.Graph.kCoreWitnessed(
      nearDupPairs(spark, dir, threshold = 0.5),
      "doc_a", "doc_b", k = 2, maxRounds = 8)
    res.nodes
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(col("core_deg")), lit(0L)).as("deg_sum"))
      .select(col("n_nodes"), col("deg_sum"),
        lit(res.converged).as("converged"))
  }
  val kcoreWitnessSql: String =
    s"""WITH $kcorePeelCtes
       |SELECT
       |  (SELECT count(*) FROM (SELECT src FROM e8 GROUP BY src) t)
       |    AS n_nodes,
       |  (SELECT count(*) FROM e8) AS deg_sum,
       |  (SELECT count(*) FROM e8) = (SELECT count(*) FROM e7)
       |    AS converged""".stripMargin

  // --------------------------------- DSIR distribution-matched selection
  // Selection.selectByWeight end to end: hashed-bigram importance weights
  // against a trusted target slice (English docs from the first three
  // sources), top-100 kept. The weight table is materialized once per
  // session (selectByWeight reads it twice — the posting-table
  // contract); the oracle replays bucket counts, the micro-nat
  // log-ratio, the per-doc sums, and the same (w DESC, id) boundary
  // cut, and must match exactly — every shuffled aggregate is an
  // exact BIGINT.
  def dsirSelectQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Selection.selectByWeight(
        spark.read.parquet(dsirWeightTableFor(spark, dir)), keep = 100)
      .select(col("id").as("doc_id"), col("w_micro"), col("selected"))

  private def dsirWeightTableFor(spark: SparkSession, dir: String): String =
    Fixtures.cached("dsir-weights", dir) { root =>
      val path = new java.io.File(root, "weights").toString
      graft.operators.Selection.dsirWeights(
          docs(spark, dir), "text", "doc_id",
          isTarget = col("lang") === "en" &&
            col("source").isin("src0", "src1", "src2"),
          n = 2, buckets = 256)
        .write.mode("overwrite").parquet(path)
      path
    }
  /** Oracle twin of [[dsirWeightTableFor]] applied to every document:
    * hashed-bigram bucket counts, their micro-nat log-ratios `lr` and
    * the per-doc sums `sums(doc_id, w)`. */
  private val dsirSumsCtes: String =
    s"""toks AS (
       |  SELECT doc_id,
       |    (lang = 'en' AND source IN ('src0','src1','src2')) AS is_tgt,
       |    string_split_regex(lower(trim(text)), '\\s+') AS ta
       |  FROM documents),
       |occ AS (
       |  SELECT doc_id, is_tgt, ${duckHash32("g")} % 256 AS bucket
       |  FROM (
       |    SELECT doc_id, is_tgt, unnest(
       |      CASE WHEN len(ta) >= 2 THEN
       |        list_transform(range(1, len(ta)),
       |          i -> ta[CAST(i AS INT)] || ' ' || ta[CAST(i AS INT)+1])
       |      ELSE [] END) AS g
       |    FROM toks)),
       |counts AS (
       |  SELECT bucket,
       |    sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS ct,
       |    count(*) AS cr
       |  FROM occ GROUP BY 1),
       |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM counts),
       |lr AS (
       |  SELECT bucket,
       |    CAST(round(ln(((ct + 1) * (nr + 256))::DOUBLE /
       |                  ((cr + 1) * (nt + 256))) * 1000000, 0) AS BIGINT)
       |      AS lr_micro
       |  FROM counts, tot),
       |sums AS (
       |  SELECT o.doc_id, sum(l.lr_micro) AS w
       |  FROM occ o JOIN lr l USING (bucket) GROUP BY 1)""".stripMargin
  val dsirSelectSql: String =
    s"""WITH $dsirSumsCtes,
       |wts AS (
       |  SELECT d.doc_id, CAST(coalesce(s.w, 0) AS BIGINT) AS w_micro
       |  FROM documents d LEFT JOIN sums s ON s.doc_id = d.doc_id),
       |topk AS (
       |  SELECT w_micro, -doc_id AS nid FROM wts
       |  ORDER BY w_micro DESC, doc_id LIMIT 100),
       |kth AS (
       |  SELECT w_micro AS bw, nid AS bnid FROM topk
       |  ORDER BY w_micro, nid LIMIT 1)
       |SELECT w.doc_id, w.w_micro,
       |  (w.w_micro > k.bw OR (w.w_micro = k.bw AND -w.doc_id >= k.bnid))
       |    AS selected
       |FROM wts w, kth k""".stripMargin

  // ----------------------------------------- curriculum interleave order
  // The training-order builder: within each source, rank documents by
  // a difficulty proxy (token count), cut into 5 difficulty tiers
  // (ntile), and emit one document per tier in rotation (easy -> hard,
  // cycling) — the interleaved curriculum that avoids both sorted-easy
  // collapse and uniform shuffle. Every window is PARTITIONED BY
  // source (no global sort anywhere); the cross-source order is
  // metadata (round-robin over sources at read time). All orderings
  // carry doc_id tie-breaks, so both engines emit identical positions.
  def curriculumQ(spark: SparkSession, dir: String): DataFrame = {
    val diff = Window.partitionBy(col("source"))
      .orderBy(col("n_tok"), col("doc_id"))
    val inTier = Window.partitionBy(col("source"), col("tier"))
      .orderBy(col("n_tok"), col("doc_id"))
    val rot = Window.partitionBy(col("source"))
      .orderBy(col("cycle"), col("tier"), col("doc_id"))
    docs(spark, dir).select(col("doc_id"), col("source"),
        TextFns.tokenCount(col("text")).as("n_tok"))
      .withColumn("tier", ntile(5).over(diff).cast("long"))
      .withColumn("cycle", row_number().over(inTier).cast("long"))
      .withColumn("pos", row_number().over(rot).cast("long"))
      .select(col("doc_id"), col("source"), col("tier"), col("pos"))
  }
  val curriculumSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |      AS n_tok
      |  FROM documents),
      |tiers AS (
      |  SELECT doc_id, source, n_tok,
      |    CAST(ntile(5) OVER (PARTITION BY source
      |      ORDER BY n_tok, doc_id) AS BIGINT) AS tier
      |  FROM t),
      |cyc AS (
      |  SELECT doc_id, source, tier,
      |    CAST(row_number() OVER (PARTITION BY source, tier
      |      ORDER BY n_tok, doc_id) AS BIGINT) AS cycle
      |  FROM tiers)
      |SELECT doc_id, source, tier,
      |  CAST(row_number() OVER (PARTITION BY source
      |    ORDER BY cycle, tier, doc_id) AS BIGINT) AS pos
      |FROM cyc""".stripMargin

  // --------------------------------------- maintained signature tables
  /** Path of the MAINTAINED signature table for a (sf-dir, corpus-tag)
    * pair, written on first use and reused by every later query in the
    * session — the production contract (Dedup.writeSignatureTable at
    * ingest, column-pruned scans forever after) expressed as query
    * glue: the clustering, report, and drop flagships all consume the
    * same table, so the corpus is shingled ONCE per session instead of
    * once per query. Local temp storage because these queries run
    * local[n]; a cluster deployment writes the table to a DFS path at
    * ingest (see cleanCorpusJob) and passes that path instead.
    */
  private def sigTableFor(spark: SparkSession, dir: String, tag: String,
                          corpus: => DataFrame): String =
    Fixtures.cached(s"sigs-$tag", dir) { root =>
      val path = new java.io.File(root, "sigs").toString
      Dedup.writeSignatureTable(corpus, "text", "doc_id", path, k = 5)
      path
    }

  /** The maintained signature table of [[nearDupCorpus]]. */
  private def nearDupSigs(spark: SparkSession, dir: String): String =
    sigTableFor(spark, dir, "neardup", nearDupCorpus(spark, dir))

  /** Verified near-dup pairs of [[nearDupCorpus]] at `threshold`, read
    * from [[nearDupSigs]]. */
  private def nearDupPairs(spark: SparkSession, dir: String,
                           threshold: Double): DataFrame =
    Dedup.nearDupPairsFromSigs(spark, nearDupSigs(spark, dir), threshold)
  /** `<cte> AS (…)`: the canonical a<b edge set of the pair relation
    * `src(doc_a, doc_b)` — the oracle of Graph.canonicalEdges. */
  private def canonEdgesCte(cte: String, src: String,
                            materialized: Boolean = false): String =
    s"""$cte AS${if (materialized) " MATERIALIZED" else ""} (
       |  SELECT DISTINCT least(doc_a, doc_b) AS a,
       |         greatest(doc_a, doc_b) AS b
       |  FROM $src)""".stripMargin
  /** Oracle twin of [[nearDupPairs]] at `threshold`: the minhash CTEs
    * over [[nearDupCorpusSql]] and the canonical edge CTE `cte`. */
  private def nearDupEdgeCtes(threshold: Double, cte: String = "e",
                              materialized: Boolean = false): String =
    s"""${minhashCtesOver(nearDupCorpusSql)},
       |${canonEdgesCte(cte, s"j WHERE jaccard >= $threshold", materialized)}""".stripMargin

  // ------------------------------------------- near-dup clustering
  // Connected components over the verified near-dup pair graph, each doc
  // labeled with its cluster representative (the component's min doc_id)
  // — the stage that actually decides which duplicates to drop. The
  // oracle computes the same closure with a recursive CTE.
  //
  // Pairs come FROM THE MAINTAINED SIGNATURE TABLE (shingled once per
  // session, shared with the cluster-size report), not from re-hashing
  // the corpus text — identical results (SigTableSpec), and the shape a
  // re-clustering run takes at 100 TB.
  def dedupClustersQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir, threshold = 0.5)
    Dedup.connectedComponents(pairs, "doc_a", "doc_b")
  }
  /** `<nodes>(n)` and the recursive `reach(n, m)` closure over the
    * symmetric `edges(a, b)`: min(m) per n is the component label of
    * Dedup.connectedComponents. */
  private def reachCtes(nodes: String = "nodes"): String =
    s"""$nodes AS (SELECT DISTINCT a AS n FROM edges),
       |reach(n, m) AS (
       |  SELECT n, n FROM $nodes
       |  UNION
       |  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)""".stripMargin
  /** [[reachCtes]] over `edges`, the symmetric closure of the pair CTE
    * `pairs(<a>, <b>)`. */
  private def closureCtes(pairs: String, a: String = "doc_a",
                          b: String = "doc_b",
                          nodes: String = "nodes"): String =
    s"""edges AS (
       |  SELECT $a AS a, $b AS b FROM $pairs
       |  UNION SELECT $b, $a FROM $pairs),
       |${reachCtes(nodes)}""".stripMargin
  /** The minhash CTEs' 0.5 pairs as `<pairs>`, closed into
    * `reps(doc_id, cluster_rep)`. */
  private def clusterRepsCtes(pairs: String = "pairs"): String =
    s"""$pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
       |${closureCtes(pairs)},
       |reps AS (SELECT n AS doc_id, min(m) AS cluster_rep
       |         FROM reach GROUP BY n)""".stripMargin
  /** Shared closure CTE prefix ending in `reps(doc_id, cluster_rep)` —
    * used by the clusters query and the cluster-size report so both
    * oracles describe the SAME clustering. */
  private val clustersClosureCtes: String =
    s"""WITH RECURSIVE ${minhashCtesOver(nearDupCorpusSql)},
       |${clusterRepsCtes()}""".stripMargin
  val dedupClustersSql: String =
    s"""$clustersClosureCtes
       |SELECT doc_id, cluster_rep FROM reps""".stripMargin

  // ------------------------------------- quality × dedup interaction
  // WHICH quality strata lose mass to the near-dup drop: per fixed
  // 0.1-wide quality-score band (the x_quality_quantile scoring rule —
  // stopword ratio + capped length; row-local, so no global sort is
  // ever needed for the banding), the corpus count, survivors of the
  // min-rep drop, and the keep rate in basis points. The curation
  // diagnostic that catches a dedup stage silently eating one end of
  // the quality spectrum (template farms are usually BOTH low-quality
  // and heavily duplicated — this table shows it). Shares the
  // maintained-signature clustering with the dedup family.
  def qualityDedupQ(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val corpus = nearDupCorpus(spark, dir)
    val scored = corpus.select(col("doc_id"),
      round(
        (TextFns.wordSetCount(t, TextFns.EnWords).cast("double") /
          greatest(TextFns.tokenCount(t), lit(1L)).cast("double")) +
          (least(TextFns.tokenCount(t), lit(200L)).cast("double") / 200.0d),
        4).as("score"))
    val clusters = Dedup.connectedComponents(
      nearDupPairs(spark, dir, threshold = 0.5),
      "doc_a", "doc_b")
    scored.join(clusters, Seq("doc_id"), "left")
      .select(
        least(floor(col("score") * 10), lit(19L)).cast("long").as("band"),
        (col("cluster_rep").isNull ||
          col("cluster_rep") === col("doc_id")).cast("long").as("k"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"), sum(col("k")).as("n_kept"))
      .select(col("band"), col("n_docs"), col("n_kept"),
        expr("n_kept * 10000 div n_docs").as("keep_rate_bp"))
  }
  val qualityDedupSql: String =
    s"""$clustersClosureCtes,
       |scored AS (
       |  SELECT c.doc_id,
       |    round(
       |      len(regexp_extract_all(lower(c.text), '$duckStopRe'))::DOUBLE /
       |        greatest(len(string_split_regex(trim(c.text), '\\s+')), 1) +
       |      least(len(string_split_regex(trim(c.text), '\\s+')),
       |            200)::DOUBLE / 200.0, 4) AS score
       |  FROM corpus c),
       |k AS (
       |  SELECT s.doc_id,
       |    CAST(least(floor(s.score * 10), 19) AS BIGINT) AS band,
       |    CASE WHEN r.cluster_rep IS NULL OR r.cluster_rep = s.doc_id
       |         THEN 1 ELSE 0 END AS kept
       |  FROM scored s LEFT JOIN reps r USING (doc_id))
       |SELECT band, count(*) AS n_docs,
       |  CAST(sum(kept) AS BIGINT) AS n_kept,
       |  CAST(sum(kept) * 10000 // count(*) AS BIGINT) AS keep_rate_bp
       |FROM k GROUP BY 1""".stripMargin

  // ----------------------------------------------- dedup ROI table
  // What dedup actually SAVES, by source: the twin corpus's document
  // and token mass before vs after the near-dup drop (cluster
  // non-representatives removed), with the token savings in basis
  // points. The budget table that justifies the dedup stage to a
  // training-run owner. Composes the maintained signature table's
  // pair feed and the same survivor rule as x_dedup_drop; twins map
  // to their source via doc_id mod 1e6.
  def dupInflationQ(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, dir)
    val pairs = nearDupPairs(spark, dir, threshold = 0.5)
    val clusters = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    val tok = corpus.select(col("doc_id"),
      TextFns.tokenCount(col("text")).as("n_tok"))
    val flagged = tok.join(clusters, Seq("doc_id"), "left")
      .withColumn("kept",
        col("cluster_rep").isNull || col("cluster_rep") === col("doc_id"))
    flagged
      .join(docs(spark, dir).select(col("doc_id").as("orig_id"),
        col("source")), col("doc_id") % 1000000L === col("orig_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_raw"),
        count(when(col("kept"), 1)).as("n_docs_kept"),
        sum(col("n_tok")).as("tokens_raw"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L))
          .as("tokens_kept"))
      .select(col("source"), col("n_docs_raw"), col("n_docs_kept"),
        col("tokens_raw"), col("tokens_kept"),
        expr("(tokens_raw - tokens_kept) * 10000 div tokens_raw")
          .as("savings_bp"))
  }
  val dupInflationSql: String =
    s"""$clustersClosureCtes,
       |tok AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tok
       |  FROM corpus),
       |k AS (
       |  SELECT t.doc_id, t.n_tok,
       |    (r.cluster_rep IS NULL OR r.cluster_rep = t.doc_id) AS kept
       |  FROM tok t LEFT JOIN reps r ON r.doc_id = t.doc_id),
       |lab AS (
       |  SELECT d.source, k.n_tok, k.kept
       |  FROM k JOIN documents d ON d.doc_id = k.doc_id % 1000000)
       |SELECT source, count(*) AS n_docs_raw,
       |  count(CASE WHEN kept THEN 1 END) AS n_docs_kept,
       |  CAST(sum(n_tok) AS BIGINT) AS tokens_raw,
       |  CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT)
       |    AS tokens_kept,
       |  CAST((sum(n_tok) - sum(CASE WHEN kept THEN n_tok ELSE 0 END))
       |    * 10000 // sum(n_tok) AS BIGINT) AS savings_bp
       |FROM lab GROUP BY source""".stripMargin

  // --------------------------------------------- dup × quality cross
  // The cross-signal audit: does near-duplication correlate with low
  // quality on this corpus? Every twin-corpus doc labeled by its
  // cluster role (rep / dup / singleton) and scored by the stopword
  // quality signal in basis points; per role: doc count and mean
  // quality. A big rep-vs-dup gap justifies quality-aware keeper
  // selection (x_dedup_best_keeper) over min-id keeps. Composes the
  // maintained pair feed's closure with a row-local signal — one
  // join, one aggregation.
  def dupQualityQ(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, dir)
    val pairs = nearDupPairs(spark, dir, threshold = 0.5)
    val clusters = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    val words = TextFns.words(col("text"))
    val stop = size(filter(words,
      t => t.isin("the", "a", "of", "and", "in", "to", "is")))
    val scored = corpus.select(col("doc_id"),
      call_function("div", stop * 10000, greatest(size(words), lit(1)))
        .cast("bigint").as("q_bp"))
    scored.join(clusters, Seq("doc_id"), "left")
      .select(col("q_bp"),
        when(col("cluster_rep").isNull, "singleton")
          .when(col("cluster_rep") === col("doc_id"), "rep")
          .otherwise("dup").as("role"))
      .groupBy(col("role"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(q_bp) div count(1)").as("mean_q_bp"))
  }
  val dupQualitySql: String =
    s"""$clustersClosureCtes,
       |scored AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(
       |        string_split_regex(lower(trim(text)), '\\s+'),
       |        t -> t IN ('the','a','of','and','in','to','is')))
       |      * 10000 // greatest(len(
       |        string_split_regex(lower(trim(text)), '\\s+')), 1)
       |      AS BIGINT) AS q_bp
       |  FROM corpus),
       |lab AS (
       |  SELECT s.q_bp,
       |    CASE WHEN r.cluster_rep IS NULL THEN 'singleton'
       |         WHEN r.cluster_rep = s.doc_id THEN 'rep'
       |         ELSE 'dup' END AS role
       |  FROM scored s LEFT JOIN reps r ON r.doc_id = s.doc_id)
       |SELECT role, count(*) AS n_docs,
       |  CAST(sum(q_bp) // count(*) AS BIGINT) AS mean_q_bp
       |FROM lab GROUP BY role""".stripMargin

  // ------------------------------------------- dedup cluster-size report
  // The observability face of near-dup clustering: how many clusters of
  // each size the corpus contains (paired nodes only — singletons never
  // enter the pair graph). Pipelines watch this distribution to catch
  // crawl pathologies (a sudden giant cluster = a template/mirror blast).
  def dedupReportQ(spark: SparkSession, dir: String): DataFrame =
    dedupClustersQ(spark, dir)
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
  val dedupReportSql: String =
    s"""$clustersClosureCtes,
       |sizes AS (SELECT cluster_rep, count(*) AS cluster_size
       |          FROM reps GROUP BY cluster_rep)
       |SELECT cluster_size, count(*) AS n_clusters
       |FROM sizes GROUP BY cluster_size""".stripMargin

  // ------------------------------------------------ soft dedup weights
  // The alternative to dropping duplicates: keep every document but
  // downweight copies so each near-dup CLUSTER contributes one
  // document's worth of sampling mass — weight = 1e6 div cluster_size
  // micro-units (singletons keep 1e6). The mixture-sampling input for
  // pipelines that prefer soft dedup to hard drops (duplicate count
  // still carries signal). Same maintained-signature clustering as
  // x_dedup_clusters; one size aggregation and two id-keyed joins on
  // top. Integer division only — engine-identical weights.
  def dedupSoftQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir, threshold = 0.5)
    val clusters = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    val sizes = clusters.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
    nearDupCorpus(spark, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .join(sizes, Seq("cluster_rep"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .select(col("doc_id"), col("cluster_size"),
        expr("1000000L div cluster_size").as("weight_micro"))
  }
  val dedupSoftSql: String =
    s"""$clustersClosureCtes,
       |sizes AS (SELECT cluster_rep, count(*) AS cluster_size
       |          FROM reps GROUP BY cluster_rep)
       |SELECT c.doc_id,
       |  CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size,
       |  CAST(1000000 // coalesce(s.cluster_size, 1) AS BIGINT)
       |    AS weight_micro
       |FROM corpus c
       |LEFT JOIN reps r ON r.doc_id = c.doc_id
       |LEFT JOIN sizes s ON s.cluster_rep = r.cluster_rep""".stripMargin

  // ---------------------------------------------- end-to-end dedup drop
  // The decision stage a pretraining pipeline actually ships: exact
  // dedup (fingerprint keepers) -> MinHash near-dup clustering on the
  // survivors -> final surviving doc set (cluster reps + singletons).
  // Composes exactDedup, minhashNearDupPairs and connectedComponents
  // end to end, value-checked against the same composition in DuckDB
  // (recursive CTE for the clustering closure).
  def dedupDropQ(spark: SparkSession, dir: String): DataFrame = {
    val corpus = simhashCorpus(spark, dir) // originals ∪ near ∪ exact copies
    val keepers = Dedup.exactDedup(corpus, "text", "doc_id")
      .select(col("keeper_id").as("doc_id"))
    val c2 = corpus.join(keepers, Seq("doc_id"))
    val pairs = Dedup.minhashNearDupPairs(c2, "text", "doc_id", 5, 0.5)
    val clusters = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    c2.join(clusters, Seq("doc_id"), "left")
      .where(col("cluster_rep").isNull || col("cluster_rep") === col("doc_id"))
      .select(col("doc_id"))
  }
  /** [[dedupDropQ]] composed through the MAINTAINED signature table:
    * exact dedup → writeSignatureTable on the survivors (the one
    * tokenization of their life) → near-dup pairs from stored
    * signatures → clustering → survivor set. Same result as
    * x_dedup_drop (the driver hash-checks both against the same
    * oracle); the difference is the plan — a re-screen never re-reads
    * corpus TEXT, which is the whole 100 TB story: admit-time writes
    * signatures once, every later drop/report/threshold-change run is
    * IO-bound on the pruned signature projection.
    */
  def dedupDropSigQ(spark: SparkSession, dir: String): DataFrame = {
    val corpus = simhashCorpus(spark, dir)
    val keepers = Dedup.exactDedup(corpus, "text", "doc_id")
      .select(col("keeper_id").as("doc_id"))
    val c2 = corpus.join(keepers, Seq("doc_id"))
    val sigs = sigTableFor(spark, dir, "dropsurv", c2)
    val pairs = Dedup.nearDupPairsFromSigs(spark, sigs, threshold = 0.5)
    val clusters = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    c2.join(clusters, Seq("doc_id"), "left")
      .where(col("cluster_rep").isNull || col("cluster_rep") === col("doc_id"))
      .select(col("doc_id"))
  }

  val dedupDropSql: String = {
    val survivorsCorpus =
      "SELECT c.doc_id, c.text FROM corpus3 c JOIN keep1 USING (doc_id)"
    s"""WITH RECURSIVE corpus3 AS (
       |  $simhashCorpusSql),
       |fp AS (
       |  SELECT doc_id,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
       |  FROM corpus3),
       |keep1 AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
       |${minhashCtesOver(survivorsCorpus)},
       |${clusterRepsCtes()}
       |SELECT k.doc_id FROM keep1 k LEFT JOIN reps r USING (doc_id)
       |WHERE r.cluster_rep IS NULL OR r.cluster_rep = k.doc_id""".stripMargin
  }

  // ------------------------------------------- end-to-end curation gate
  // The WHOLE batch-curation pipeline as one oracle-checked result:
  // quality gate (the x_quality_filter rule) → near-dup drop over the
  // FILTERED corpus (MinHash screen + connected components, keep the
  // cluster rep) → content-hash split → per-split report with exact
  // membership checksums (sum of ids, sum of chars). Each stage is
  // individually gated elsewhere; THIS query pins their composition —
  // the filter changes which pairs exist, the drop changes what the
  // split sees — so a user can trust the assembled pipeline, not just
  // its parts. The oracle nests the same parameterized CTE chains over
  // the same intermediate corpus.
  def curateE2eQ(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val q = nearDupCorpus(spark, dir).where(
      length(t).cast("long") >= 100L &&
        TextFns.tokenCount(t) >= 15L &&
        round(TextFns.punctCount(t).cast("double") /
          greatest(length(t).cast("long"), lit(1L)).cast("double"), 4)
          <= 0.1d)
    val pairs = Dedup.minhashNearDupPairs(q, "text", "doc_id", 5, 0.5)
    val clusters = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    val survivors = q.join(clusters, Seq("doc_id"), "left")
      .where(col("cluster_rep").isNull ||
        col("cluster_rep") === col("doc_id"))
    val bucket = TextFns.hash32(col("text")) % 100
    survivors
      .select(col("doc_id"), col("text"),
        when(bucket < 80, "train").when(bucket < 90, "valid")
          .otherwise("test").as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
  }
  val curateE2eSql: String =
    s"""WITH RECURSIVE corpus0 AS (
       |  $nearDupCorpusSql),
       |qual AS (
       |  SELECT doc_id, text FROM corpus0
       |  WHERE length(text) >= 100
       |    AND len(string_split_regex(trim(text), '\\s+')) >= 15
       |    AND round((length(text)
       |          - length(regexp_replace(text, '$duckPunct', '', 'g')))::DOUBLE /
       |          greatest(length(text), 1), 4) <= 0.1),
       |${minhashCtesOver("SELECT doc_id, text FROM qual")},
       |${clusterRepsCtes("prs")},
       |surv AS (
       |  SELECT qq.doc_id, qq.text FROM qual qq
       |  LEFT JOIN reps r USING (doc_id)
       |  WHERE r.cluster_rep IS NULL OR r.cluster_rep = qq.doc_id),
       |sp AS (
       |  SELECT doc_id, text,
       |    CASE WHEN ${duckHash32("text")} % 100 < 80 THEN 'train'
       |         WHEN ${duckHash32("text")} % 100 < 90 THEN 'valid'
       |         ELSE 'test' END AS split
       |  FROM surv)
       |SELECT split, count(*) AS n_docs,
       |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM sp GROUP BY 1""".stripMargin

  // -------------------------------------------------------- cosine top-k
  /** The top-`k` rows per query of `src(q_id, n_id, sim)`, ranked by
    * (sim DESC, n_id) — the output of every vector-search oracle. */
  private def topKSql(src: String, k: Int): String =
    s"""SELECT q_id, n_id, sim,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id)
       |       AS BIGINT) AS rank
       |FROM $src
       |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) <= $k""".stripMargin
  def cosineTopKQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", 5)
  }
  val cosineTopKSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |q AS (SELECT vec_id AS q_id, vec AS q_v FROM v WHERE vec_id < 20),
       |s AS (
       |  SELECT q.q_id, c.vec_id AS n_id,
       |    round(list_dot_product(q.q_v, c.vec) /
       |          (sqrt(list_dot_product(q.q_v, q.q_v)) *
       |           sqrt(list_dot_product(c.vec, c.vec))), 4) AS sim
       |  FROM q JOIN v c ON c.vec_id != q.q_id)
       |${topKSql("s", 5)}""".stripMargin

  // ------------------------------------------- ANN dimension tradeoff
  // Matryoshka-style truncation audit: recall@5 of the exact search
  // run on only the FIRST d dimensions against the full-width exact
  // ranking — the table that answers "how many dims can the store
  // drop before recall pays". Width is the cheapest lever in a 100 TB
  // embedding estate (memory, IO and dot-product CPU all scale
  // linearly in it), and unlike PQ/SQ the truncation needs no
  // training — but only a measured recall curve makes the call. One
  // full ranking + one ranking per probe width over the same bounded
  // query set; integer recall in basis points.
  def annDimSweepQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val full = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select(col("q_id"), col("n_id"))
    val perDim = Seq(8, 16, 32).map { d =>
      val te = emb.select(col("vec_id"),
        slice(col("embedding"), 1, d).as("embedding"))
      Similarity.bruteForceTopK(te.filter(col("vec_id") < 20), te,
          "vec_id", "embedding", 5)
        .select(lit(d.toLong).as("dims"), col("q_id"), col("n_id"))
    }.reduce(_.unionByName(_))
    val tot = perDim.groupBy("dims").agg(count(lit(1)).as("n_results"))
    val hit = perDim.join(full, Seq("q_id", "n_id"))
      .groupBy("dims").agg(count(lit(1)).as("n_hits"))
    tot.join(hit, Seq("dims"), "left")
      .select(col("dims"), col("n_results"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("(coalesce(n_hits, 0L) * 10000) div n_results")
          .as("recall_bp"))
  }
  /** `fs` and `fk(q_id, n_id)`: the exact cosine top-5 of every query
    * in `q(q_id, q_v)` over `v(vec_id, vec)` — the oracle of
    * Similarity.bruteForceTopK, the ground truth of the recall audits. */
  private val exactTop5Ctes: String =
    """fs AS (
      |  SELECT q.q_id, c.vec_id AS n_id,
      |    round(list_dot_product(q.q_v, c.vec) /
      |          (sqrt(list_dot_product(q.q_v, q.q_v)) *
      |           sqrt(list_dot_product(c.vec, c.vec))), 4) AS sim
      |  FROM q JOIN v c ON c.vec_id != q.q_id),
      |fk AS (
      |  SELECT q_id, n_id FROM fs
      |  QUALIFY row_number() OVER (PARTITION BY q_id
      |    ORDER BY sim DESC, n_id) <= 5)""".stripMargin
  val annDimSweepSql: String = {
    def sliced(e: String) = s"list_slice($e, 1, CAST(d.dims AS INT))"
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, vec AS q_v FROM v WHERE vec_id < 20),
       |$exactTop5Ctes,
       |d AS (SELECT unnest([8, 16, 32]) AS dims),
       |ts AS (
       |  SELECT d.dims, q.q_id, c.vec_id AS n_id,
       |    round(list_dot_product(${sliced("q.q_v")}, ${sliced("c.vec")}) /
       |          (sqrt(list_dot_product(${sliced("q.q_v")},
       |                                 ${sliced("q.q_v")})) *
       |           sqrt(list_dot_product(${sliced("c.vec")},
       |                                 ${sliced("c.vec")}))), 4) AS sim
       |  FROM d CROSS JOIN q JOIN v c ON c.vec_id != q.q_id),
       |tk AS (
       |  SELECT dims, q_id, n_id FROM ts
       |  QUALIFY row_number() OVER (PARTITION BY dims, q_id
       |    ORDER BY sim DESC, n_id) <= 5),
       |tot AS (SELECT dims, count(*) AS n_results FROM tk GROUP BY 1),
       |hit AS (
       |  SELECT tk.dims, count(*) AS n_hits
       |  FROM tk JOIN fk ON fk.q_id = tk.q_id AND fk.n_id = tk.n_id
       |  GROUP BY 1)
       |SELECT CAST(tot.dims AS BIGINT) AS dims, tot.n_results,
       |  CAST(coalesce(hit.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST((coalesce(hit.n_hits, 0) * 10000) // tot.n_results
       |    AS BIGINT) AS recall_bp
       |FROM tot LEFT JOIN hit ON hit.dims = tot.dims""".stripMargin
  }

  // --------------------------------------- truncated-search + rerank
  // The production pattern x_ann_dim_sweep motivates: generate
  // candidates CHEAPLY at 16 of 64 dims (4× less IO/CPU on the scan
  // that touches every vector), then rerank only the top-20 survivors
  // at full width — the reranked top-5 carries a per-row `in_exact`
  // flag against the exact full-width ranking, so the result is both
  // the served answer and its own recall audit. Candidate and final
  // ranks are totally ordered (sim DESC, n_id) in both engines.
  def annDimRerankQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val t16 = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val cand = Similarity.bruteForceTopK(t16.filter(col("vec_id") < 20),
        t16, "vec_id", "embedding", 20)
      .select(col("q_id"), col("n_id"))
    // full-width rerank of ONLY the candidates (id equi-join fetch —
    // no second corpus-wide scan of full vectors per query)
    val qv = q.select(col("vec_id").as("q_id"),
      Similarity.asDouble(col("embedding")).as("q_v"))
    val cv = emb.select(col("vec_id").as("n_id"),
      Similarity.asDouble(col("embedding")).as("n_v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val rer = cand.join(broadcast(qv), "q_id").join(cv, "n_id")
      .withColumn("sim", round(
        Similarity.dot(col("q_v"), col("n_v")) /
          (Similarity.norm(col("q_v")) * Similarity.norm(col("n_v"))), 4))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("n_id"), col("sim"),
        col("rank").cast("long").as("rank"))
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id",
        "embedding", 5)
      .select(col("q_id"), col("n_id"), lit(true).as("in_exact"))
    rer.join(exact, Seq("q_id", "n_id"), "left")
      .select(col("q_id"), col("n_id"), col("sim"), col("rank"),
        coalesce(col("in_exact"), lit(false)).as("in_exact"))
  }
  val annDimRerankSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, vec AS q_v FROM v WHERE vec_id < 20),
       |ts AS (
       |  SELECT q.q_id, c.vec_id AS n_id,
       |    round(list_dot_product(list_slice(q.q_v, 1, 16),
       |                           list_slice(c.vec, 1, 16)) /
       |          (sqrt(list_dot_product(list_slice(q.q_v, 1, 16),
       |                                 list_slice(q.q_v, 1, 16))) *
       |           sqrt(list_dot_product(list_slice(c.vec, 1, 16),
       |                                 list_slice(c.vec, 1, 16)))), 4)
       |      AS sim
       |  FROM q JOIN v c ON c.vec_id != q.q_id),
       |ck AS (
       |  SELECT q_id, n_id FROM ts
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, n_id) <= 20),
       |rr AS (
       |  SELECT ck.q_id, ck.n_id,
       |    round(list_dot_product(q.q_v, c.vec) /
       |          (sqrt(list_dot_product(q.q_v, q.q_v)) *
       |           sqrt(list_dot_product(c.vec, c.vec))), 4) AS sim
       |  FROM ck
       |  JOIN q ON q.q_id = ck.q_id
       |  JOIN v c ON c.vec_id = ck.n_id),
       |rk AS (
       |  SELECT q_id, n_id, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, n_id) AS BIGINT) AS rank
       |  FROM rr
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, n_id) <= 5),
       |$exactTop5Ctes
       |SELECT rk.q_id, rk.n_id, rk.sim, rk.rank,
       |  (fk.n_id IS NOT NULL) AS in_exact
       |FROM rk LEFT JOIN fk
       |  ON fk.q_id = rk.q_id AND fk.n_id = rk.n_id""".stripMargin

  /** embeddings ∪ perturbed twins (+0.05 on dim 0, ids +1e5) — the
    * shared fixture of the embedding near-dup family; the oracle twin
    * is neardupLshCtes' `corpus` CTE (same offset, same perturbation).
    */
  private def twinEmbCorpus(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    emb.union(emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("v"), (x, i) => when(i === 0, x + 0.05d).otherwise(x))
        .as("v")))
  }

  // -------------------------------------------------- embedding near-dup
  // Bounded corpus slice (vec_id < 500) ∪ doubled copies (ids +100000,
  // vectors ×2 ⇒ cosine exactly 1.0) so near-dup pairs provably exist.
  def embeddingNearDupQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") < 500)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val corpus = emb.union(emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("v"), x => x * 2.0d).as("v")))
    Similarity.nearDupPairs(corpus, "vec_id", "v", 0.98)
  }
  val embeddingNearDupSql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE vec_id < 500),
      |corpus AS (
      |  SELECT vec_id, v FROM base
      |  UNION ALL
      |  SELECT vec_id + 100000, list_transform(v, x -> x * 2.0) FROM base),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_dot_product(a.v, b.v) /
      |          (sqrt(list_dot_product(a.v, a.v)) *
      |           sqrt(list_dot_product(b.v, b.v))), 4) AS sim
      |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.98""".stripMargin

  // ------------------------------------- embedding near-dup, LSH-bucketed
  // The SCALE form of x_embedding_neardup: no all-pairs product and no
  // corpus bound — the WHOLE embeddings table ∪ planted near-copies
  // (ids +100000, first component +0.05 ⇒ cosine ≈ 0.99), candidates
  // from shared (table, bucket) hyperplane signatures, exact cosine
  // verification at ≥ 0.98. Both engines compute identical buckets
  // (LshBucketsExpr's plane signs are oracle-pinned by x_ann_lsh), so
  // candidates — and therefore results — match exactly even though the
  // operator is approximate.
  def neardupLshQ(spark: SparkSession, dir: String): DataFrame = {
    val corpus = twinEmbCorpus(spark, dir)
    Similarity.lshNearDupPairs(corpus, "vec_id", "v", 0.98)
  }
  /** `projs`, `buckets` and `bands(vec_id, tbl, bucket)`: the 16-table,
    * `bits`-bit hyperplane buckets of `src(vec_id, <vec>)` — the oracle
    * of LshBucketsExpr's affine ±1 plane signs. */
  private def lshBandCtes(src: String, vec: String, bits: Int): String =
    s"""projs AS (
       |  SELECT vec_id, $vec,
       |    list_transform(range(${16 * bits}), j ->
       |      list_sum(list_transform(range(1, len($vec)+1), i ->
       |        $vec[CAST(i AS INT)] *
       |        CASE WHEN ((j*2654435761 + i*40503) % 97) % 2 = 0
       |             THEN 1.0 ELSE -1.0 END))) AS pj
       |  FROM $src),
       |buckets AS (
       |  SELECT vec_id,
       |    list_transform(range(16), t ->
       |      list_sum(list_transform(range($bits), r ->
       |        CASE WHEN pj[CAST(t*$bits+r+1 AS INT)] > 0
       |             THEN (CAST(1 AS BIGINT) << r) ELSE CAST(0 AS BIGINT) END)))
       |      AS bk
       |  FROM projs),
       |bands AS (
       |  SELECT vec_id, t AS tbl, bk[CAST(t+1 AS INT)] AS bucket
       |  FROM buckets, range(16) tt(t))""".stripMargin
  /** The LSH near-dup pipeline as a WITH-clause body ending in the
    * `scored(id_a, id_b, sim)` CTE — shared by the pairs query and the
    * embedding-clusters closure so both oracles describe the SAME
    * candidate generation and verification. */
  private val neardupLshCtes: String =
    s"""base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |corpus AS (
       |  SELECT vec_id, v FROM base
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |    list_transform(range(1, len(v) + 1),
       |      i -> CASE WHEN i = 1 THEN v[CAST(i AS INT)] + 0.05
       |                ELSE v[CAST(i AS INT)] END)
       |  FROM base),
       |${lshBandCtes("corpus", "v", 12)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT cand.id_a, cand.id_b,
       |    round(list_dot_product(av.v, bv.v) /
       |          (sqrt(list_dot_product(av.v, av.v)) *
       |           sqrt(list_dot_product(bv.v, bv.v))), 4) AS sim
       |  FROM cand
       |  JOIN corpus av ON av.vec_id = cand.id_a
       |  JOIN corpus bv ON bv.vec_id = cand.id_b)""".stripMargin

  val neardupLshSql: String =
    s"""WITH $neardupLshCtes
       |SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.98""".stripMargin

  // --------------------------------------------- contrastive triplets
  // Embedding-fine-tune data prep over the twin corpus: positives are
  // the LSH-verified near-dup pairs, negatives come deterministically
  // from a 64-bucket hash pool (one pseudo-random representative per
  // bucket, broadcast); degenerate or near-dup negatives drop.
  def contrastiveQ(spark: SparkSession, dir: String): DataFrame = {
    val corpus = twinEmbCorpus(spark, dir)
    Similarity.contrastiveTriplets(corpus, "vec_id", "v", 0.98)
  }
  val contrastiveSql: String =
    s"""WITH $neardupLshCtes,
       |pos AS (SELECT id_a AS anchor_id, id_b AS pos_id
       |        FROM scored WHERE sim >= 0.98),
       |br0 AS (
       |  SELECT vec_id AS cand_id,
       |    ${duckHash32("CAST(vec_id AS VARCHAR)")} % 64 AS b,
       |    ${duckHash32("'rep:' || CAST(vec_id AS VARCHAR)")} AS h
       |  FROM corpus),
       |rep AS (
       |  SELECT b, cand_id AS neg_id FROM (
       |    SELECT b, cand_id,
       |      row_number() OVER (PARTITION BY b ORDER BY h, cand_id) AS rn
       |    FROM br0)
       |  WHERE rn = 1),
       |repi AS (
       |  SELECT CAST(row_number() OVER (ORDER BY b) - 1 AS BIGINT) AS i,
       |         neg_id
       |  FROM rep),
       |tri AS (
       |  SELECT p.anchor_id, p.pos_id, r.neg_id FROM (
       |    SELECT anchor_id, pos_id,
       |      ${duckHash32("CAST(anchor_id AS VARCHAR) || ':' || CAST(pos_id AS VARCHAR)")}
       |        % (SELECT count(*) FROM repi) AS i
       |    FROM pos) p JOIN repi r USING (i))
       |SELECT anchor_id, pos_id, neg_id FROM tri t
       |WHERE neg_id != anchor_id AND neg_id != pos_id
       |  AND NOT EXISTS (
       |    SELECT 1 FROM pos q
       |    WHERE q.anchor_id = least(t.anchor_id, t.neg_id)
       |      AND q.pos_id = greatest(t.anchor_id, t.neg_id))""".stripMargin

  // ------------------------------------------ embedding near-dup clusters
  // The embedding-side drop decision: connected components over the
  // LSH-candidate, cosine-verified pair graph — each paired vector
  // labeled with its cluster representative (min vec_id), exactly like
  // the text-side x_dedup_clusters but with hyperplane buckets instead
  // of minhash bands. Completes embedding-cosine near-dup from candidate
  // generation through to the clustering a pipeline actually drops by.
  def embeddingClustersQ(spark: SparkSession, dir: String): DataFrame = {
    val corpus = twinEmbCorpus(spark, dir)
    val pairs = Similarity.lshNearDupPairs(corpus, "vec_id", "v", 0.98)
    Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select(col("doc_id").as("vec_id"), col("cluster_rep"))
  }
  val embeddingClustersSql: String =
    s"""WITH RECURSIVE $neardupLshCtes,
       |pairs AS (SELECT id_a, id_b FROM scored WHERE sim >= 0.98),
       |${closureCtes("pairs", "id_a", "id_b")}
       |SELECT n AS vec_id, min(m) AS cluster_rep FROM reach GROUP BY n""".stripMargin

  // ----------------------------------------------------- cluster purity
  // The trained quantizer EVALUATED against ground truth: every
  // embedding assigned to its nearest k-means centroid
  // (Similarity.ivfAssignments — the exact assignment the IVF index
  // ingests), joined with the corpus's label column, and each cluster
  // scored by its majority-label share in basis points. Low purity on
  // a cluster means the quantizer splits a semantic class across
  // lists — the capacity/recall planning table for the ANN stack. The
  // oracle replays the deterministic sampled training bit-exact (the
  // x_ann_ivf contract) and the same argmax/majority tie-breaks.
  def clusterPurityQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val asg = Similarity.ivfAssignments(emb, "vec_id", "embedding",
      nlist = 16, iters = 2)
    val cells = asg
      .join(emb.select(col("vec_id"),
        col("label").cast("long").as("label")), Seq("vec_id"))
      .groupBy(col("c_id"), col("label")).agg(count(lit(1)).as("n"))
    val wTop = Window.partitionBy(col("c_id"))
      .orderBy(col("n").desc, col("label"))
    val wTot = Window.partitionBy(col("c_id"))
    cells
      .withColumn("rn", row_number().over(wTop))
      .withColumn("n_vecs", sum(col("n")).over(wTot))
      .where(col("rn") === 1)
      .select(col("c_id"), col("n_vecs"),
        col("label").as("top_label"), col("n").as("top_n"),
        expr("n * 10000 div n_vecs").as("purity_bp"))
  }
  val clusterPuritySql: String =
    s"""${ivfAssignCtes(
      """v0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        |vc AS (SELECT vec_id, vec FROM v0)""".stripMargin)},
       |cells AS (
       |  SELECT a2.c_id, CAST(e.label AS BIGINT) AS label, count(*) AS n
       |  FROM a2 JOIN embeddings e ON e.vec_id = a2.n_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY c_id ORDER BY n DESC, label)
       |      AS rn,
       |    sum(n) OVER (PARTITION BY c_id) AS tot
       |  FROM cells)
       |SELECT c_id, CAST(tot AS BIGINT) AS n_vecs, label AS top_label,
       |  n AS top_n, CAST(n * 10000 // tot AS BIGINT) AS purity_bp
       |FROM ranked WHERE rn = 1""".stripMargin

  // --------------------------------------------------------- sessionize
  def sessionizeQ(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessionStats(Tables.load(spark, dir, "events"),
      "user_id", "ts", "event_id", "value")
  val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS tsn, value FROM events),
      |s AS (
      |  SELECT *, CASE WHEN lag(tsn) OVER w IS NULL
      |                   OR tsn - lag(tsn) OVER w > 1800000000000
      |                 THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)),
      |s2 AS (
      |  SELECT *, sum(new_sess) OVER
      |    (PARTITION BY user_id ORDER BY tsn, event_id ROWS UNBOUNDED PRECEDING)
      |    AS sess_idx
      |  FROM s)
      |SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
      |       min(tsn) // 1000 AS session_start_us,
      |       max(tsn) // 1000 AS session_end_us,
      |       count(*) AS n_events,
      |       round(sum(value), 2) AS sum_value
      |FROM s2 GROUP BY user_id, sess_idx""".stripMargin

  // ------------------------------------------------ interval coalescing
  // TimeSeries.mergeIntervals gated end to end: each event opens an
  // interval [ts, ts + dur) with a deterministic integer duration
  // (event_id % 900 + 60 seconds — pure integer arithmetic, so both
  // engines derive the identical interval set), then per-user
  // overlapping-or-touching intervals collapse to their maximal runs.
  // The gaps-and-islands merge every availability/lease/retention
  // pipeline needs, as one window shuffle — never the O(n²) self-join.
  def intervalMergeQ(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val iv = e.select(col("user_id"), col("event_id"),
      col("ts").as("start_ns"),
      (col("ts") + (col("event_id") % 900 + lit(60L)) * 1000000000L)
        .as("end_ns"))
    TimeSeries.mergeIntervals(iv, "user_id", "start_ns", "end_ns",
        "event_id")
      .select(col("user_id"), col("interval_idx").cast("long")
          .as("interval_idx"),
        expr("iv_start div 1000").as("start_us"),
        expr("iv_end div 1000").as("end_us"),
        col("n_merged"))
  }
  val intervalMergeSql: String =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS s,
      |         epoch_ns(ts) + (event_id % 900 + 60) * 1000000000 AS e
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN max(e) OVER wp IS NULL
      |                   OR s > max(e) OVER wp THEN 1 ELSE 0 END AS nw
      |  FROM iv
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY s, e, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |m2 AS (
      |  SELECT *, sum(nw) OVER
      |    (PARTITION BY user_id ORDER BY s, e, event_id
      |     ROWS UNBOUNDED PRECEDING) AS idx
      |  FROM m)
      |SELECT user_id, CAST(idx AS BIGINT) AS interval_idx,
      |       min(s) // 1000 AS start_us, max(e) // 1000 AS end_us,
      |       count(*) AS n_merged
      |FROM m2 GROUP BY user_id, idx""".stripMargin

  // ------------------------------------------------ rolling anomalies
  // TimeSeries.rollingAnomalies gated end to end: each event's value
  // judged against its user's trailing 20 readings by the 3-sigma rule
  // with every moment an exact integer (cents lane, cross-multiplied
  // compare — decimal(38,0) ↔ HUGEINT, the q_corr_exact device), so
  // both engines flag identical rows. Warmup rows flag false.
  def rollingAnomalyQ(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    TimeSeries.rollingAnomalies(
        e.select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("value")),
        "user_id", "ts_us", "event_id", "value",
        window = 20, zSq = 9L, scale = 100L)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("v_c"), col("n_prev"), col("is_anomaly"))
  }
  val rollingAnomalySql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
      |         CAST(floor(value * 100) AS BIGINT) AS v_c
      |  FROM events),
      |w AS (
      |  SELECT *, count(v_c) OVER wp AS n_prev,
      |         COALESCE(sum(v_c) OVER wp, 0) AS s,
      |         COALESCE(sum(v_c * v_c) OVER wp, 0) AS ss
      |  FROM e
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_id, ts_us, v_c,
      |  CAST(n_prev AS BIGINT) AS n_prev,
      |  CASE WHEN n_prev = 20 THEN
      |    CAST(v_c * n_prev - s AS HUGEINT) * (v_c * n_prev - s) >
      |    9 * CAST(n_prev AS HUGEINT) *
      |      (CAST(n_prev AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
      |  ELSE FALSE END AS is_anomaly
      |FROM w""".stripMargin

  // ------------------------------------------------- hourly seasonality
  // The hour-of-day × event-type load profile that sizes every
  // streaming deployment: per (event_type, UTC hour) event counts,
  // exact cent totals, and the hour's share of its type's traffic in
  // integer basis points. Hours come from pure epoch arithmetic
  // (ns // 3600e9 mod 24 — no timezone, no calendar), cents from the
  // floor(value·100) lane, share from truncating division: every cell
  // engine-identical. One hash aggregation over 24·|types| cells.
  def seasonalityQ(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events").select(
      col("event_type"),
      expr("(ts div 3600000000000) % 24").as("hour"),
      floor(col("value") * 100).cast("long").as("v_c"))
    val g = e.groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"), sum(col("v_c")).as("sum_cents"))
    val w = Window.partitionBy(col("event_type"))
    g.withColumn("type_total", sum(col("n")).over(w))
      .select(col("event_type"), col("hour"), col("n"), col("sum_cents"),
        expr("n * 10000 div type_total").as("share_bp"))
  }
  val seasonalitySql: String =
    """WITH e AS (
      |  SELECT event_type, (epoch_ns(ts) // 3600000000000) % 24 AS hour,
      |         CAST(floor(value * 100) AS BIGINT) AS v_c
      |  FROM events),
      |g AS (
      |  SELECT event_type, hour, count(*) AS n,
      |         CAST(sum(v_c) AS BIGINT) AS sum_cents
      |  FROM e GROUP BY 1, 2)
      |SELECT event_type, CAST(hour AS BIGINT) AS hour, n, sum_cents,
      |  CAST(n * 10000 // sum(n) OVER (PARTITION BY event_type) AS BIGINT)
      |    AS share_bp
      |FROM g""".stripMargin

  // --------------------------------------------------- k-anonymity audit
  // ops.Privacy gated end to end: the release projection of the
  // customer table under k=5 cell suppression over the
  // (segment, nation, acctbal-kilobucket) quasi-identifier tuple.
  // Rows whose quasi group has ≥5 members pass through; rows in
  // smaller groups ship with every quasi cell nulled. The output being
  // the row-level release table means the oracle re-derives BOTH
  // stages (occupancy audit + suppression join) to hash-match.
  def kAnonymityQ(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer").select(
      col("c_custkey"),
      col("c_mktsegment").as("segment"),
      col("c_nationkey").cast("long").as("nation"),
      floor(col("c_acctbal") / 1000.0d).cast("long").as("bal_kb"))
    graft.ops.Privacy
      .suppressBelowK(c, Seq("segment", "nation", "bal_kb"), 5L)
      .select(col("c_custkey"), col("segment"), col("nation"),
        col("bal_kb"))
  }
  val kAnonymitySql: String =
    """WITH q AS (
      |  SELECT c_custkey, c_mktsegment AS segment,
      |         CAST(c_nationkey AS BIGINT) AS nation,
      |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_kb
      |  FROM customer),
      |g AS (
      |  SELECT segment, nation, bal_kb, count(*) AS n
      |  FROM q GROUP BY 1, 2, 3),
      |r AS (SELECT segment, nation, bal_kb FROM g WHERE n < 5)
      |SELECT q.c_custkey,
      |  CASE WHEN r.segment IS NULL THEN q.segment END AS segment,
      |  CASE WHEN r.segment IS NULL THEN q.nation END AS nation,
      |  CASE WHEN r.segment IS NULL THEN q.bal_kb END AS bal_kb
      |FROM q LEFT JOIN r ON q.segment = r.segment
      |  AND q.nation = r.nation AND q.bal_kb = r.bal_kb""".stripMargin

  // ---------------------------------------------------- l-diversity audit
  // Privacy.lDiversityReport gated end to end: the homogeneity-attack
  // complement of x_k_anonymity. Quasi-identifier = (source, length
  // half-KB bucket) over documents, sensitive attribute = lang; a group
  // is at risk when its members span fewer than 3 distinct languages —
  // k-anonymous or not, such a group discloses lang to a linker. One
  // two-phase distinct-aggregate, no per-group value lists.
  def lDiversityQ(spark: SparkSession, dir: String): DataFrame = {
    val q = docs(spark, dir).select(
      col("source"),
      expr("n_chars div 512").as("len_b"),
      col("lang"))
    graft.ops.Privacy.lDiversityReport(q, Seq("source", "len_b"), "lang", 3L)
  }
  val lDiversitySql: String =
    """SELECT source, CAST(n_chars // 512 AS BIGINT) AS len_b,
      |  count(*) AS group_n,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS l_distinct,
      |  count(DISTINCT lang) < 3 AS at_risk
      |FROM documents GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------- t-closeness audit
  // Privacy.tClosenessReport gated end to end: the skew-attack rung
  // above x_k_anonymity and x_l_diversity, on the same quasi tuple
  // (source, length half-KB bucket) and sensitive attribute (lang).
  // The total-variation distance is an exact integer in basis points
  // — decimal-lane products, one trailing integral division — so both
  // engines agree bit-for-bit on every group.
  def tClosenessQ(spark: SparkSession, dir: String): DataFrame = {
    val q = docs(spark, dir).select(
      col("source"),
      expr("n_chars div 512").as("len_b"),
      col("lang"))
    graft.ops.Privacy.tClosenessReport(
      q, Seq("source", "len_b"), "lang", 2000L)
  }
  val tClosenessSql: String =
    """WITH q AS (
      |  SELECT source, CAST(n_chars // 512 AS BIGINT) AS len_b, lang
      |  FROM documents),
      |gv AS (SELECT source, len_b, lang, count(*) AS n_gv
      |       FROM q GROUP BY 1, 2, 3),
      |gl AS (SELECT lang, count(*) AS n_v FROM q GROUP BY 1),
      |nt AS (SELECT count(*) AS n_tot FROM q),
      |ng AS (SELECT source, len_b, sum(n_gv) AS n_g
      |       FROM gv GROUP BY 1, 2),
      |t AS (
      |  SELECT gv.source, gv.len_b,
      |    abs(CAST(gv.n_gv AS HUGEINT) * nt.n_tot
      |      - CAST(gl.n_v AS HUGEINT) * ng.n_g) AS term,
      |    gl.n_v, ng.n_g, nt.n_tot
      |  FROM gv
      |  JOIN gl USING (lang)
      |  JOIN ng ON ng.source = gv.source AND ng.len_b = gv.len_b, nt),
      |agg AS (
      |  SELECT source, len_b, max(n_g) AS n_g, max(n_tot) AS n_tot,
      |    sum(term) AS s_present, sum(n_v) AS s_nv
      |  FROM t GROUP BY 1, 2)
      |SELECT source, len_b, CAST(n_g AS BIGINT) AS group_n,
      |  CAST((s_present + CAST(n_g AS HUGEINT) * (n_tot - s_nv))
      |    * 10000 // (2 * CAST(n_g AS HUGEINT) * n_tot) AS BIGINT)
      |    AS tvd_bp,
      |  CAST((s_present + CAST(n_g AS HUGEINT) * (n_tot - s_nv))
      |    * 10000 // (2 * CAST(n_g AS HUGEINT) * n_tot) AS BIGINT)
      |    > 2000 AS at_risk
      |FROM agg""".stripMargin

  // ------------------------------------------ randomized-response DP
  // Privacy.randomizedResponse gated end to end: per source, the
  // local-DP release of the "is English" flag (hash coin, p = 3/4)
  // with the debiased estimate vs the true rate — the calibration
  // table that shows the estimator recovering the signal the
  // per-row flips destroyed. All integer basis points.
  def dpReleaseQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Privacy.randomizedResponse(
      docs(spark, dir).select(col("doc_id"), col("source"),
        (col("lang") === "en").as("is_en")),
      Seq("source"), "is_en", "doc_id")
  val dpReleaseSql: String =
    s"""WITH f AS (
       |  SELECT source, (lang = 'en') AS flag,
       |    (${duckHash32("'rr:' || CAST(doc_id AS VARCHAR)")} % 4 = 0)
       |      AS flip
       |  FROM documents),
       |g AS (
       |  SELECT source, count(*) AS n,
       |    CAST(sum(CASE WHEN (flip AND NOT flag)
       |                    OR (NOT flip AND flag)
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_yes,
       |    CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT)
       |      AS true_yes
       |  FROM f GROUP BY 1)
       |SELECT source, n, n_yes,
       |  greatest(least((4 * n_yes - n) * 10000 // (2 * n), 10000), 0)
       |    AS est_bp,
       |  true_yes * 10000 // n AS true_bp
       |FROM g""".stripMargin

  // --------------------------------------------------- multimodal metadata
  def multimodalMetaQ(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractMeta(docs(spark, dir)).toDF()
  val multimodalMetaSql: String =
    """SELECT doc_id,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_id,
      |  CAST(strlen(text) % 640 AS BIGINT) AS width,
      |  CAST((strlen(text) * 7) % 480 AS BIGINT) AS height,
      |  CAST(n_chars % 30 AS BIGINT) AS frames
      |FROM documents""".stripMargin

  // ------------------------------------------------- video frame sampling
  /** The planted media column (doc_id, media): `payload(doc_id, text)`
    * per document, built per partition with ImageIO's disk cache off. */
  private def syntheticMedia(spark: SparkSession, dir: String)(
      payload: (Long, String) => Array[Byte]): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, text) => (id, payload(id, text)) }
      }.toDF("doc_id", "media")
  }

  // ---------------------------------------------- multimodal REAL decode
  // Mixed media column across TWO real formats plus the failure mode a
  // crawl always carries: doc_id%4==0 → REAL PNG (planted dims
  // id%13+1 × id%7+1), %4==1 → REAL BMP (planted dims id%11+1 × id%5+1),
  // %4==2 → CORRUPT image payload (valid PNG magic, truncated header —
  // QUARANTINED with nulled meta, never silently stubbed), the rest raw
  // UTF-8 text bytes (stub fallback). Image rows report the DECODER's
  // width/height, which the oracle checks against the planted truth.
  def multimodalDecodeQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = docs(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, text, nChars) =>
          val payload = (id % 4) match {
            case 0 => Multimodal.syntheticImage(
              (id % 13).toInt + 1, (id % 7).toInt + 1, id, "png")
            case 1 => Multimodal.syntheticImage(
              (id % 11).toInt + 1, (id % 5).toInt + 1, id, "bmp")
            case 2 => Multimodal.corruptImagePayload(id)
            case _ => text.getBytes("UTF-8")
          }
          (id, payload, nChars)
        }
      }.toDF("doc_id", "media", "n_chars")
    Multimodal.extractMetaDecoded(media)
  }
  val multimodalDecodeSql: String =
    """SELECT doc_id,
      |  doc_id % 4 IN (0, 1) AS is_image,
      |  doc_id % 4 = 2 AS quarantined,
      |  CASE WHEN doc_id % 4 = 0 THEN doc_id % 13 + 1
      |       WHEN doc_id % 4 = 1 THEN doc_id % 11 + 1
      |       WHEN doc_id % 4 = 2 THEN NULL
      |       ELSE CAST(strlen(text) AS BIGINT) % 640 END AS width,
      |  CASE WHEN doc_id % 4 = 0 THEN doc_id % 7 + 1
      |       WHEN doc_id % 4 = 1 THEN doc_id % 5 + 1
      |       WHEN doc_id % 4 = 2 THEN NULL
      |       ELSE (CAST(strlen(text) AS BIGINT) * 7) % 480 END AS height,
      |  CASE WHEN doc_id % 4 IN (0, 1) THEN 1
      |       WHEN doc_id % 4 = 2 THEN NULL
      |       ELSE CAST(n_chars % 30 AS BIGINT) END AS frames
      |FROM documents""".stripMargin

  // --------------------------------------------- multimodal TIFF lane
  // The JDK's ImageIO also ships a TIFF plugin (JDK 9+): the third
  // REAL still-image codec wired through the same decode/quarantine
  // trichotomy — every 3rd doc carries a real TIFF (planted dims
  // id%9+1 × id%6+1), every 3rd+1 a TRUNCATED TIFF (valid II*\0 magic,
  // body cut at 10 bytes — claims, fails, QUARANTINED), the rest text
  // (stub lane). Compressed codecs (MP3/AAC/H.264/WebP/HEIC) remain
  // honest stubs: the JDK ships no decoder for them (javax.sound =
  // WAVE/AU/AIFF only) and the build carries no codec jars.
  def multimodalTiffQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = docs(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, text, nChars) =>
          val payload = (id % 3) match {
            case 0 => Multimodal.syntheticImage(
              (id % 9).toInt + 1, (id % 6).toInt + 1, id, "tiff")
            case 1 => Multimodal.syntheticImage(4, 4, id, "tiff").take(10)
            case _ => text.getBytes("UTF-8")
          }
          (id, payload, nChars)
        }
      }.toDF("doc_id", "media", "n_chars")
    Multimodal.extractMetaDecoded(media)
  }
  val multimodalTiffSql: String =
    """SELECT doc_id,
      |  doc_id % 3 = 0 AS is_image,
      |  doc_id % 3 = 1 AS quarantined,
      |  CASE WHEN doc_id % 3 = 0 THEN doc_id % 9 + 1
      |       WHEN doc_id % 3 = 1 THEN NULL
      |       ELSE CAST(strlen(text) AS BIGINT) % 640 END AS width,
      |  CASE WHEN doc_id % 3 = 0 THEN doc_id % 6 + 1
      |       WHEN doc_id % 3 = 1 THEN NULL
      |       ELSE (CAST(strlen(text) AS BIGINT) * 7) % 480 END AS height,
      |  CASE WHEN doc_id % 3 = 0 THEN 1
      |       WHEN doc_id % 3 = 1 THEN NULL
      |       ELSE CAST(n_chars % 30 AS BIGINT) END AS frames
      |FROM documents""".stripMargin

  // ---------------------------------------------- multimodal EXIF lane
  // Capture-metadata extraction WITHOUT a codec: EXIF is a TIFF IFD
  // embedded in a JPEG APP1 segment, and walking it is pure byte
  // arithmetic (Multimodal.exifMeta) — the stage that feeds orientation
  // normalization (before resize/phash) and capture-time temporal
  // splits. Five planted lanes: real JPEG+EXIF in BOTH byte orders
  // (orientation id%8+1, DateTime from id arithmetic), a TRUNCATED
  // APP1 (claims "Exif\0\0", IFD cut — QUARANTINED), a real JDK-written
  // TIFF whose FOREIGN 12-entry baseline IFD must walk cleanly
  // (has_exif, no orientation tag — probed: MM order, no 0x0112/0x0132),
  // and plain text (absent). The oracle replays the id arithmetic.
  def multimodalExifQ(spark: SparkSession, dir: String): DataFrame = {
    def dtOf(id: Long): String =
      f"2026:${id % 12 + 1}%02d:${id % 28 + 1}%02d " +
        f"${id % 24}%02d:${id % 60}%02d:${id * 7 % 60}%02d"
    val media = syntheticMedia(spark, dir) { (id, text) =>
      (id % 5) match {
        case 0 => Multimodal.syntheticExifJpeg(3, 3, id,
          (id % 8).toInt + 1, dtOf(id), bigEndian = false)
        case 1 => Multimodal.syntheticExifJpeg(3, 3, id,
          (id % 8).toInt + 1, dtOf(id), bigEndian = true)
        case 2 => Multimodal.truncatedExifJpeg(id,
          (id % 8).toInt + 1, dtOf(id))
        case 3 => Multimodal.syntheticImage(
          (id % 9).toInt + 1, (id % 6).toInt + 1, id, "tiff")
        case _ => text.getBytes("UTF-8")
      }
    }
    Multimodal.extractExif(media)
  }
  val multimodalExifSql: String =
    """SELECT doc_id,
      |  doc_id % 5 IN (0, 1, 3) AS has_exif,
      |  doc_id % 5 = 2 AS quarantined,
      |  CASE WHEN doc_id % 5 IN (0, 1)
      |       THEN doc_id % 8 + 1 END AS orientation,
      |  CASE WHEN doc_id % 5 IN (0, 1) THEN
      |    '2026:' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') ||
      |    ':' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
      |    ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') ||
      |    ':' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') ||
      |    ':' || lpad(CAST(doc_id * 7 % 60 AS VARCHAR), 2, '0')
      |  END AS taken_at,
      |  CASE WHEN doc_id % 5 = 0 THEN false
      |       WHEN doc_id % 5 IN (1, 3) THEN true END AS big_endian,
      |  CAST(NULL AS BIGINT) AS gps_lat_udeg,
      |  CAST(NULL AS BIGINT) AS gps_lon_udeg
      |FROM documents""".stripMargin

  // ------------------------------------ EXIF GPS sub-IFD lane (r10)
  // The GPSInfo hop gated end to end: planted GPS fixtures in BOTH
  // byte orders carry (deg/1, min/1, secNum/100) unsigned rationals
  // and N/S/E/W refs that are pure functions of doc_id, so the oracle
  // recomputes every signed micro-degree with the same truncating
  // integer arithmetic the walker uses — rational math, refs, and
  // offsets all checked, no floats anywhere. A corrupt GPS sub-IFD
  // (pointer past the payload) quarantines; a GPS-less EXIF row keeps
  // null coordinates. Image-borne GPS is the PII axis the text-scrub
  // lane (x_pii_scrub) structurally cannot reach.
  def multimodalGpsQ(spark: SparkSession, dir: String): DataFrame = {
    def dtOf(id: Long): String =
      f"2026:${id % 12 + 1}%02d:${id % 28 + 1}%02d " +
        f"${id % 24}%02d:${id % 60}%02d:${id * 7 % 60}%02d"
    val media = syntheticMedia(spark, dir) { (id, text) =>
      def gps(big: Boolean, corrupt: Boolean) =
        Multimodal.syntheticExifGpsJpeg(3, 3, id,
          (id % 8).toInt + 1, dtOf(id), big,
          (id % 90).toInt, (id % 60).toInt,
          (id * 7 % 6000).toInt, 100, id % 2 == 0,
          (id % 180).toInt, (id * 3 % 60).toInt,
          (id * 11 % 6000).toInt, 100, id % 3 == 0,
          corruptGps = corrupt)
      (id % 5) match {
        case 0 => gps(big = false, corrupt = false)
        case 1 => gps(big = true, corrupt = false)
        case 2 => gps(big = false, corrupt = true)
        case 3 => Multimodal.syntheticExifJpeg(3, 3, id,
          (id % 8).toInt + 1, dtOf(id), bigEndian = false)
        case _ => text.getBytes("UTF-8")
      }
    }
    Multimodal.extractExif(media)
  }
  val multimodalGpsSql: String =
    """SELECT doc_id,
      |  doc_id % 5 IN (0, 1, 3) AS has_exif,
      |  doc_id % 5 = 2 AS quarantined,
      |  CASE WHEN doc_id % 5 IN (0, 1, 3)
      |       THEN doc_id % 8 + 1 END AS orientation,
      |  CASE WHEN doc_id % 5 IN (0, 1, 3) THEN
      |    '2026:' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') ||
      |    ':' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
      |    ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') ||
      |    ':' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') ||
      |    ':' || lpad(CAST(doc_id * 7 % 60 AS VARCHAR), 2, '0')
      |  END AS taken_at,
      |  CASE WHEN doc_id % 5 IN (0, 3) THEN false
      |       WHEN doc_id % 5 = 1 THEN true END AS big_endian,
      |  CASE WHEN doc_id % 5 IN (0, 1) THEN
      |    (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END) *
      |    ((doc_id % 90) * 1000000 + (doc_id % 60) * 1000000 // 60 +
      |     (doc_id * 7 % 6000) * 1000000 // 360000)
      |  END AS gps_lat_udeg,
      |  CASE WHEN doc_id % 5 IN (0, 1) THEN
      |    (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END) *
      |    ((doc_id % 180) * 1000000 + (doc_id * 3 % 60) * 1000000 // 60 +
      |     (doc_id * 11 % 6000) * 1000000 // 360000)
      |  END AS gps_lon_udeg
      |FROM documents""".stripMargin

  // -------------------------------------------- multimodal REAL resize
  // The resize stub upgraded to a REAL raster operation for every
  // format the JDK decodes: PNG/BMP rows decode, nearest-neighbor
  // sample to a 4×3 thumbnail, and report pix_sum — the exact integer
  // sum of the sampled 24-bit pixels (the thumbnail fingerprint). The
  // planted images' pixels are a pure function of (id, x, y) and both
  // formats are lossless, so the oracle recomputes every fingerprint
  // from arithmetic alone — the decoder's raster, the NN sampling
  // grid, and the packing are all checked, not just dimensions.
  // Corrupt claims quarantine; text rows take the digest-cycled stub
  // whose byte-sum replays from md5(text).
  def resizeRealQ(spark: SparkSession, dir: String): DataFrame = {
    val media = syntheticMedia(spark, dir) { (id, text) =>
      (id % 4) match {
        case 0 => Multimodal.syntheticImage(
          (id % 13).toInt + 1, (id % 7).toInt + 1, id, "png")
        case 1 => Multimodal.syntheticImage(
          (id % 11).toInt + 1, (id % 5).toInt + 1, id, "bmp")
        case 2 => Multimodal.corruptImagePayload(id)
        case _ => text.getBytes("UTF-8")
      }
    }
    Multimodal.resizeReal(media, 4, 3)
      .select(col("doc_id"), col("path"), col("out_w"), col("out_h"),
        col("pix_sum"))
  }
  val resizeRealSql: String = {
    def nnSum(wMod: Int, hMod: Int) =
      s"""CAST(list_sum(list_transform(range(12),
         |      p -> ((doc_id + ((p % 4) * (doc_id % $wMod + 1) // 4) * 31
         |             + ((p // 4) * (doc_id % $hMod + 1) // 3) * 131)
         |            * 2654435761) & 16777215)) AS BIGINT)""".stripMargin
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 4 IN (0, 1) THEN 'real'
       |       WHEN doc_id % 4 = 2 THEN 'quarantine'
       |       ELSE 'stub' END AS path,
       |  CASE WHEN doc_id % 4 = 2 THEN NULL ELSE 4 END AS out_w,
       |  CASE WHEN doc_id % 4 = 2 THEN NULL ELSE 3 END AS out_h,
       |  CASE
       |    WHEN doc_id % 4 = 0 THEN ${nnSum(13, 7)}
       |    WHEN doc_id % 4 = 1 THEN ${nnSum(11, 5)}
       |    WHEN doc_id % 4 = 2 THEN NULL
       |    ELSE CAST(list_sum(list_transform(range(12),
       |      j -> (strpos('0123456789abcdef',
       |              substr(md5(text), CAST(2*j+1 AS INT), 1)) - 1) * 16
       |           + (strpos('0123456789abcdef',
       |              substr(md5(text), CAST(2*j+2 AS INT), 1)) - 1)))
       |      AS BIGINT)
       |  END AS pix_sum
       |FROM documents""".stripMargin
  }

  /** The planted audio column: a REAL PCM WAV every 3rd doc, a corrupt
    * RIFF every 3rd+1, text bytes otherwise. */
  private def audioMedia(spark: SparkSession, dir: String): DataFrame =
    syntheticMedia(spark, dir) { (id, text) =>
      (id % 3) match {
        case 0 => Multimodal.syntheticWav((id % 400).toInt + 100,
          8000 + (id % 5).toInt * 1000, id)
        case 1 => Multimodal.corruptAudioPayload(id)
        case _ => text.getBytes("UTF-8")
      }
    }

  // ------------------------------------------- multimodal REAL audio
  // The audio twin of the real image decode: every 3rd doc carries a
  // REAL PCM WAV payload (planted sample count doc_id%400+100 and rate
  // 8000+(doc_id%5)*1000, standard 44-byte header the pure-JDK RIFF
  // walker parses), every 3rd+1 a corrupt RIFF (valid magic, non-WAVE
  // container — QUARANTINED), the rest text (not audio). Channels /
  // rate / sample count / duration come from the DECODER; the oracle
  // checks them against the planted truth. Compressed codecs (MP3/AAC)
  // remain honestly stubbed — no decoder ships in the container.
  def multimodalAudioQ(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractAudioMeta(audioMedia(spark, dir))
  val multimodalAudioSql: String =
    """SELECT doc_id,
      |  doc_id % 3 = 0 AS is_audio,
      |  doc_id % 3 = 1 AS quarantined,
      |  CASE WHEN doc_id % 3 = 0 THEN 1 ELSE NULL END AS channels,
      |  CASE WHEN doc_id % 3 = 0 THEN 8000 + (doc_id % 5) * 1000
      |       ELSE NULL END AS sample_rate,
      |  CASE WHEN doc_id % 3 = 0 THEN doc_id % 400 + 100
      |       ELSE NULL END AS n_samples,
      |  CASE WHEN doc_id % 3 = 0 THEN
      |         (doc_id % 400 + 100) * 1000 // (8000 + (doc_id % 5) * 1000)
      |       ELSE NULL END AS duration_ms
      |FROM documents""".stripMargin

  // --------------------------------------- REAL audio DSP features
  // Multimodal.extractAudioFeatures over the same media column as
  // x_multimodal_audio: zero crossings, Σs² energy, Σ|s| from the
  // REAL PCM16 decode (the signal-side silence/clipping/noise triage).
  // Every feature is an exact integer, so the oracle replays them from
  // the planted synthesis arithmetic — sample i of an audio doc is
  // ((doc_id + i·2654435761) >> 16) & 0xFFFF reinterpreted signed,
  // which SQL reproduces with // 65536 and % 65536 (all operands
  // nonnegative). Corrupt-RIFF and text rows pass through as nulls —
  // the quarantine DECISION stays with extractAudioMeta.
  def audioFeaturesQ(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractAudioFeatures(audioMedia(spark, dir))
  val audioFeaturesSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    list_transform(range(0, doc_id % 400 + 100),
      |      i -> CASE
      |        WHEN ((doc_id + i * 2654435761) // 65536) % 65536 >= 32768
      |        THEN ((doc_id + i * 2654435761) // 65536) % 65536 - 65536
      |        ELSE ((doc_id + i * 2654435761) // 65536) % 65536 END) AS sm
      |  FROM documents WHERE doc_id % 3 = 0)
      |SELECT d.doc_id,
      |  (d.doc_id % 3 = 0) AS is_audio,
      |  CASE WHEN d.doc_id % 3 = 0
      |       THEN CAST(len(sm) AS BIGINT) END AS n_samples,
      |  CASE WHEN d.doc_id % 3 = 0 THEN
      |    CAST(len(list_filter(range(1, len(sm)),
      |      i -> (sm[CAST(i AS INT)] < 0) != (sm[CAST(i AS INT)+1] < 0)))
      |      AS BIGINT) END AS zero_crossings,
      |  CASE WHEN d.doc_id % 3 = 0 THEN
      |    CAST(list_sum(list_transform(sm, x -> x * x)) AS BIGINT)
      |    END AS energy,
      |  CASE WHEN d.doc_id % 3 = 0 THEN
      |    CAST(list_sum(list_transform(sm, x -> abs(x))) AS BIGINT)
      |    END AS abs_sum
      |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id""".stripMargin

  // --------------------------------------- REAL image channel stats
  // Multimodal.extractImageFeatures over a lossless-format media
  // column: true dimensions plus exact Σr/Σg/Σb from the decoded
  // raster. Fixture plants PNG (doc_id%3=0) and BMP (doc_id%3=1) with
  // pixel (x,y) = ((doc_id + 31x + 131y)·2654435761) & 0xFFFFFF, so
  // the oracle recomputes every channel sum arithmetically — the
  // resizeReal contract extended from sampled pixels to whole-raster
  // aggregates. Text rows pass through as nulls.
  def imageFeaturesQ(spark: SparkSession, dir: String): DataFrame = {
    val media = syntheticMedia(spark, dir) { (id, text) =>
      (id % 3) match {
        case 0 => Multimodal.syntheticImage((id % 6).toInt + 2,
          (id % 4).toInt + 2, id, "png")
        case 1 => Multimodal.syntheticImage((id % 6).toInt + 2,
          (id % 4).toInt + 2, id, "bmp")
        case _ => text.getBytes("UTF-8")
      }
    }
    Multimodal.extractImageFeatures(media)
  }
  val imageFeaturesSql: String =
    """WITH px AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 6 + 2 AS BIGINT) AS w,
      |    CAST(doc_id % 4 + 2 AS BIGINT) AS h,
      |    flatten(list_transform(range(0, doc_id % 4 + 2), y ->
      |      list_transform(range(0, doc_id % 6 + 2), x ->
      |        ((doc_id + x * 31 + y * 131) * 2654435761) & 16777215)))
      |      AS rgbs
      |  FROM documents WHERE doc_id % 3 < 2)
      |SELECT d.doc_id,
      |  (d.doc_id % 3 < 2) AS is_image,
      |  CASE WHEN d.doc_id % 3 < 2 THEN p.w END AS width,
      |  CASE WHEN d.doc_id % 3 < 2 THEN p.h END AS height,
      |  CASE WHEN d.doc_id % 3 < 2 THEN
      |    CAST(list_sum(list_transform(p.rgbs, v -> (v >> 16) & 255))
      |      AS BIGINT) END AS sum_r,
      |  CASE WHEN d.doc_id % 3 < 2 THEN
      |    CAST(list_sum(list_transform(p.rgbs, v -> (v >> 8) & 255))
      |      AS BIGINT) END AS sum_g,
      |  CASE WHEN d.doc_id % 3 < 2 THEN
      |    CAST(list_sum(list_transform(p.rgbs, v -> v & 255))
      |      AS BIGINT) END AS sum_b
      |FROM documents d LEFT JOIN px p USING (doc_id)""".stripMargin

  // ------------------------------------ image perceptual-hash dedup
  // Multimodal.imagePerceptualHashes + phashNearDupPairs gated end to
  // end: every doc carries a REAL PNG whose raster is a formula of
  // doc_id div 2 — consecutive ids share a base image, odd ids get
  // pixel (0,0) perturbed by one bit — so the banded Hamming screen
  // must surface each planted twin pair (hamming 0 or 1) while
  // formula collisions across bases stay out via the exact
  // bit_count(xor) verify. The oracle replays pixels → grays → hash
  // bits → banded pairs entirely in integer SQL.
  def imagePhashQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = docs(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val base = id / 2
          (id, Multimodal.syntheticImage(
            (base % 5).toInt + 3, (base % 3).toInt + 2, base * 7 + 3,
            "png", if (id % 2 == 1) 1 else 0))
        }
      }.toDF("doc_id", "media")
    Multimodal.phashNearDupPairs(
      Multimodal.imagePerceptualHashes(media), maxHamming = 2)
  }
  val imagePhashSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    (doc_id // 2) * 7 + 3 AS seed,
      |    CAST(((doc_id // 2) % 5) + 3 AS BIGINT) AS w,
      |    CAST(((doc_id // 2) % 3) + 2 AS BIGINT) AS h,
      |    CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS xp
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, w, h,
      |    flatten(list_transform(range(0, h), y ->
      |      list_transform(range(0, w), x ->
      |        CASE WHEN x = 0 AND y = 0 THEN
      |          xor(((seed + x*31 + y*131) * 2654435761) & 16777215,
      |              xp)
      |        ELSE ((seed + x*31 + y*131) * 2654435761) & 16777215
      |        END))) AS rgbs
      |  FROM base),
      |gr AS (
      |  SELECT doc_id, w, h,
      |    list_transform(rgbs, v ->
      |      ((v >> 16) & 255) + ((v >> 8) & 255) + (v & 255)) AS grays
      |  FROM g),
      |hs AS (
      |  SELECT doc_id, w, h,
      |    CAST(list_sum(list_transform(range(0, w*h), i ->
      |      CASE WHEN grays[CAST(i+1 AS INT)] * (w*h) >= tot
      |        THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS phash
      |  FROM (SELECT doc_id, w, h, grays, list_sum(grays) AS tot
      |        FROM gr) t)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
      |FROM hs a JOIN hs b
      |  ON a.w = b.w AND a.h = b.h AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.phash, b.phash)) <= 2""".stripMargin

  // ------------------------------------- REAL multi-frame sampling
  // Video-shaped fan-out driven by DECODED frame counts: every 2nd doc
  // is a REAL animated GIF with doc_id%6+2 frames (the JDK GIF sequence
  // writer/reader round-trips the exact count); the sampler keeps every
  // 2nd frame of each payload. The stub variant (x_frame_sample) keys
  // off arithmetic frames — this one's counts come from the container.
  def frameSampleRealQ(spark: SparkSession, dir: String): DataFrame = {
    val media = syntheticMedia(spark, dir) { (id, text) =>
      if (id % 2 == 0)
        Multimodal.syntheticAnimatedGif((id % 5).toInt + 1,
          (id % 3).toInt + 1, (id % 6).toInt + 2, id)
      else text.getBytes("UTF-8")
    }
    Multimodal.sampleFramesDecoded(media, 2)
  }
  val frameSampleRealSql: String =
    """SELECT doc_id,
      |  unnest(range(0, doc_id % 6 + 2, 2)) AS frame_idx,
      |  CAST(doc_id % 6 + 2 AS BIGINT) AS n_frames
      |FROM documents WHERE doc_id % 2 = 0""".stripMargin

  // Every 5th frame of each media row (frames from the stubbed decode),
  // with a stable per-frame uid — the row-local fan-out stage a video
  // pipeline runs before per-frame dedup/embedding.
  def frameSampleQ(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.extractMeta(docs(spark, dir)), 5)
  val frameSampleSql: String =
    """WITH meta AS (
      |  SELECT doc_id, md5(text) AS content_id,
      |         CAST(n_chars % 30 AS BIGINT) AS frames
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, content_id,
      |         unnest(range(0, frames, 5)) AS frame_idx
      |  FROM meta WHERE frames > 0)
      |SELECT doc_id, frame_idx,
      |  md5(content_id || ':' || CAST(frame_idx AS VARCHAR)) AS frame_uid
      |FROM f""".stripMargin

  // ---------------------------------------------------- BPE-ish tokens
  def tokenBpeQ(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    docs(spark, dir).select(
      col("doc_id"),
      length(t).cast("long").as("char_len"),
      TextFns.bpeTokenCount(t).as("bpe_cnt"),
      TextFns.tokenCount(t).as("ws_cnt"),
      round(length(t).cast("double") /
        greatest(TextFns.bpeTokenCount(t), lit(1L)).cast("double"), 4)
        .as("chars_per_token"))
  }
  val tokenBpeSql: String = {
    // the pattern string embeds verbatim: both regex engines receive the
    // same backslash-t/n/r sequences
    val p = TextFns.BpePattern
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS char_len,
       |  CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS bpe_cnt,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_cnt,
       |  round(length(text)::DOUBLE /
       |        greatest(len(regexp_extract_all(text, '$p')), 1), 4)
       |    AS chars_per_token
       |FROM documents""".stripMargin
  }

  // --------------------------------------------- tokenizer fertility
  // The tokenizer-selection table: per language, corpus-exact fertility
  // (BPE-ish tokens per whitespace word) and compression (chars per
  // token). High fertility on a language means the tokenizer fragments
  // it — the signal that drives vocab rebalancing before a training
  // run. Sums are exact BIGINTs from the codegen'd counting
  // expressions; each ratio is ONE double division of exact integers,
  // so round(·, 4) is engine-identical. One hash aggregation on lang.
  def tokFertilityQ(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    docs(spark, dir).select(
        col("lang"),
        TextFns.bpeTokenCount(t).as("bpe"),
        TextFns.tokenCount(t).as("ws"),
        length(t).cast("long").as("chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bpe")).as("sum_bpe"),
        sum(col("ws")).as("sum_ws"),
        sum(col("chars")).as("sum_chars"))
      .select(col("lang"), col("n_docs"), col("sum_bpe"),
        round(col("sum_bpe").cast("double") /
          greatest(col("sum_ws"), lit(1L)).cast("double"), 4)
          .as("tokens_per_word"),
        round(col("sum_chars").cast("double") /
          greatest(col("sum_bpe"), lit(1L)).cast("double"), 4)
          .as("chars_per_token"))
  }
  val tokFertilitySql: String = {
    val p = TextFns.BpePattern
    s"""WITH t AS (
       |  SELECT lang,
       |    CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS bpe,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS ws,
       |    CAST(length(text) AS BIGINT) AS chars
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(bpe) AS BIGINT) AS sum_bpe,
       |  round(sum(bpe)::DOUBLE / greatest(sum(ws), 1), 4)
       |    AS tokens_per_word,
       |  round(sum(chars)::DOUBLE / greatest(sum(bpe), 1), 4)
       |    AS chars_per_token
       |FROM t GROUP BY lang""".stripMargin
  }

  // ------------------------------------- per-language quality tiers
  // The CCNet device: quality thresholds are only meaningful WITHIN a
  // language (absolute scores aren't comparable across languages), so
  // each language's documents are ranked by a quality signal and cut
  // into head/middle/tail tiers — downstream mixtures upsample head,
  // drop or downsample tail. ntile over a TOTAL per-language order
  // (signal desc, doc_id) is engine-portable: both engines give the
  // first (n mod k) tiles the extra row.
  def qualityBucketsQ(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val scored = docs(spark, dir).select(
      col("doc_id"), col("lang"),
      round(TextFns.wordSetCount(t, TextFns.EnWords).cast("double") /
        greatest(TextFns.tokenCount(t), lit(1L)).cast("double"), 4)
        .as("signal"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("signal").desc, col("doc_id"))
    scored.withColumn("tier_num", ntile(3).over(w).cast("long"))
      .withColumn("tier", element_at(
        array(lit("head"), lit("middle"), lit("tail")),
        col("tier_num").cast("int")))
      .select(col("doc_id"), col("lang"), col("signal"),
        col("tier_num"), col("tier"))
  }
  val qualityBucketsSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    round(len(regexp_extract_all(lower(text), '$duckStopRe'))::DOUBLE /
       |          greatest(len(string_split_regex(trim(text), '\\s+')), 1),
       |          4) AS signal
       |  FROM documents),
       |tiered AS (
       |  SELECT doc_id, lang, signal,
       |    CAST(ntile(3) OVER (PARTITION BY lang
       |                        ORDER BY signal DESC, doc_id) AS BIGINT)
       |      AS tier_num
       |  FROM scored)
       |SELECT doc_id, lang, signal, tier_num,
       |  (['head', 'middle', 'tail'])[CAST(tier_num AS INT)] AS tier
       |FROM tiered""".stripMargin

  // ------------------------------------------------------- PII scrubbing
  // The synthetic corpus carries no natural PII, so deterministic PII is
  // appended (identically on both engines) before scrubbing — the query
  // proves the redaction path, not the generator.
  def piiScrubQ(spark: SparkSession, dir: String): DataFrame = {
    val t = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@example.com see http://ex.com/p/"), col("doc_id"),
      lit(" ref "), col("doc_id") * 1234567L + 7654321L)
    docs(spark, dir).select(
      col("doc_id"),
      TextFns.patternCount(t, TextFns.UrlPattern).as("n_urls"),
      TextFns.patternCount(t, TextFns.EmailPattern).as("n_emails"),
      TextFns.patternCount(t, TextFns.LongNumPattern).as("n_nums"),
      TextFns.scrubPii(t).as("clean_text"))
  }
  val piiScrubSql: String = {
    val url = TextFns.UrlPattern
    val email = TextFns.EmailPattern
    val num = TextFns.LongNumPattern
    s"""WITH c AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com see http://ex.com/p/'
       |         || doc_id || ' ref ' || (doc_id*1234567 + 7654321) AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$url')) AS BIGINT) AS n_urls,
       |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$num')) AS BIGINT) AS n_nums,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$url', '<URL>', 'g'),
       |    '$email', '<EMAIL>', 'g'),
       |    '$num', '<NUM>', 'g') AS clean_text
       |FROM c""".stripMargin
  }

  // --------------------------------------------------- ANN via LSH
  // Approximate, but fully deterministic: the oracle reproduces the
  // multi-table hyperplane bucketing (LshBucketsExpr's affine ±1 plane
  // signs) with nested DuckDB list lambdas, so even the approximate
  // operator is value-checked, not just row-counted. Bucket bits compare
  // a float projection against 0 — fold-order differences between
  // engines would need |proj| < ~1e-12 to flip a bit (never observed;
  // projections are O(1)).
  def annLshQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.lshTopK(emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", 5)
  }
  /** The oracle of Similarity.lshTopK: every vector of `queries` (a
    * `bands` relation) against its `bits`-bit bucket-mates, cosine-ranked,
    * top `k`. */
  private def lshTopKSql(queries: String, bits: Int, k: Int): String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |${lshBandCtes("v", "vec", bits)},
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
       |  FROM $queries q
       |  JOIN bands c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |              AND q.vec_id != c.vec_id),
       |scored AS (
       |  SELECT cand.q_id, cand.n_id,
       |    round(list_dot_product(qv.vec, cv.vec) /
       |          (sqrt(list_dot_product(qv.vec, qv.vec)) *
       |           sqrt(list_dot_product(cv.vec, cv.vec))), 4) AS sim
       |  FROM cand
       |  JOIN v qv ON qv.vec_id = cand.q_id
       |  JOIN v cv ON cv.vec_id = cand.n_id)
       |${topKSql("scored", k)}""".stripMargin
  val annLshSql: String =
    lshTopKSql("(SELECT * FROM bands WHERE vec_id < 20)", bits = 6, k = 5)

  // ------------------------------------------------- bitext mining
  // Margin-based parallel-pair harvesting over a shared embedding
  // space (Similarity.bitextMine): even vec_ids play the source
  // language, odd the target; a pair survives iff MUTUAL top-1 by
  // cosine (LSH-bucketed candidates, never |src|x|tgt|) and the ratio
  // margin clears 1.0 — hub-adjacent pairs score ~1 and drop. The
  // oracle replays bucketing, both ranking directions, the integer
  // basis-point neighborhood sums, and the margin division verbatim.
  def bitextMineQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    graft.operators.Similarity.bitextMine(
      emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", k = 4, marginThreshold = 1.0)
  }
  val bitextMineSql: String = {
    // one direction of the mined chain: candidates restricted to
    // (qPar -> cPar) parity, exact-cosine scored, ranked per query
    def side(tag: String, qPar: Int, cPar: Int) =
      s"""cand_$tag AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
         |  FROM bands q JOIN bands c
         |    ON q.tbl = c.tbl AND q.bucket = c.bucket
         |  WHERE q.vec_id % 2 = $qPar AND c.vec_id % 2 = $cPar),
         |scored_$tag AS (
         |  SELECT cand_$tag.q_id, cand_$tag.n_id,
         |    round(list_dot_product(qv.vec, cv.vec) /
         |          (sqrt(list_dot_product(qv.vec, qv.vec)) *
         |           sqrt(list_dot_product(cv.vec, cv.vec))), 4) AS sim
         |  FROM cand_$tag
         |  JOIN v qv ON qv.vec_id = cand_$tag.q_id
         |  JOIN v cv ON cv.vec_id = cand_$tag.n_id),
         |top_$tag AS (
         |  SELECT * FROM (
         |    SELECT q_id, n_id, sim,
         |      row_number() OVER (PARTITION BY q_id
         |                         ORDER BY sim DESC, n_id) AS rk
         |    FROM scored_$tag)
         |  WHERE rk <= 4),
         |agg_$tag AS (
         |  SELECT q_id,
         |    CAST(sum(CAST(round(sim * 10000, 0) AS BIGINT)) AS BIGINT) AS s,
         |    count(*) AS c
         |  FROM top_$tag GROUP BY q_id)""".stripMargin
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |${lshBandCtes("v", "vec", 6)},
       |${side("f", 0, 1)},
       |${side("r", 1, 0)},
       |m AS (
       |  SELECT f.q_id AS src_id, f.n_id AS tgt_id, f.sim
       |  FROM (SELECT q_id, n_id, sim FROM top_f WHERE rk = 1) f
       |  JOIN (SELECT q_id AS tgt_id, n_id AS src_id FROM top_r
       |        WHERE rk = 1) r
       |    ON f.q_id = r.src_id AND f.n_id = r.tgt_id),
       |scored AS (
       |  SELECT m.src_id, m.tgt_id, m.sim,
       |    round(m.sim / (((af.s::DOUBLE / af.c + ar.s::DOUBLE / ar.c)
       |                    / 2) / 10000), 4) AS margin
       |  FROM m JOIN agg_f af ON m.src_id = af.q_id
       |         JOIN agg_r ar ON m.tgt_id = ar.q_id)
       |SELECT src_id, tgt_id, sim, margin FROM scored
       |WHERE margin >= 1.0""".stripMargin
  }

  // ----------------------------------------------------- k-NN graph
  // Whole-corpus k-NN graph (every vector's top-3 bucket-mates by
  // cosine) — the building block embedding-cluster pipelines and graph
  // dedup start from. Same lshTopK operator as x_ann_lsh, but with the
  // CORPUS as the query side, so the bucket width matters: 12 bits
  // (4096 buckets/table) keeps per-bucket occupancy ~N/4096 and the
  // candidate set ~tables × N × occupancy — linear in N, never N²
  // (the x_neardup_lsh occupancy lesson applied to the graph build).
  // Vectors with no bucket-mate in any table yield no rows, identically
  // in the oracle replay (approximate = replayed, not idealized).
  def knnGraphQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.lshTopK(emb, emb, "vec_id", "embedding", 3,
      tables = 16, bits = 12)
  }
  val knnGraphSql: String = lshTopKSql("bands", bits = 12, k = 3)

  // --------------------------------------------------- ANN via IVF
  // IVF with a deterministically stubbed coarse quantizer (centroids =
  // 16 lowest-id vectors, nprobe 4): assignment, probing, and in-list
  // brute force are all oracle-reproduced, so the approximate operator
  // is value-checked end to end like the LSH one.
  // ------------------------------------ temperature-flattened mixture
  // Down-weight oversized sources the way multilingual/multi-domain
  // training mixes do: with T = 2, a source's keep-rate is
  // sqrt(max_n / n_s) capped at 1 — the largest source is sampled
  // hardest and the flattening weakens toward 1 as sources shrink.
  // Rates are DERIVED from the data (one tiny per-source count,
  // broadcast back), unlike x_sample_stratified's fixed table;
  // the row decision is the same stable md5-fold hash, so the sample is
  // reproducible across engines and partitionings. Keep-rates are
  // resolved to basis points by floor() of an identical IEEE expression
  // on both engines.
  def mixtureTemperatureQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val rates = counts.crossJoin(
        broadcast(counts.agg(max(col("n_s")).as("max_n"))))
      .withColumn("bp", floor(
        least(sqrt(col("max_n").cast("double") / col("n_s").cast("double")),
          lit(1.0d)) * 10000.0d).cast("long"))
      .select(col("source"), col("bp"))
    d.join(broadcast(rates), Seq("source"))
      .where(TextFns.hash32(concat(col("source"), lit(":"),
        col("doc_id").cast("string"))) % 10000L < col("bp"))
      .select(col("doc_id"), col("source"))
  }
  val mixtureTemperatureSql: String =
    s"""WITH c AS (
       |  SELECT source, count(*) AS n_s FROM documents GROUP BY source),
       |r AS (
       |  SELECT source,
       |    CAST(floor(least(sqrt((SELECT max(n_s) FROM c)::DOUBLE / n_s),
       |                     1.0) * 10000.0) AS BIGINT) AS bp
       |  FROM c)
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN r ON d.source = r.source
       |WHERE ${duckHash32("d.source || ':' || CAST(d.doc_id AS VARCHAR)")}
       |      % 10000 < r.bp""".stripMargin

  // ------------------------------------------- length histogram (log2)
  // Per-source document-length histogram in power-of-two buckets — the
  // dataset-card length profile and the seq-pack planner's input. The
  // bucket is the BINARY DIGIT COUNT of n_chars (length of bin(n) =
  // floor(log2)+1): a pure integer lane, immune to the cross-engine
  // ulp question a floating log2 would raise at exact powers of two.
  def lengthHistogramQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"),
        length(bin(col("n_chars"))).cast("long").as("len_bucket"),
        col("n_chars"))
      .groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
  val lengthHistogramSql: String =
    """SELECT source,
      |  CAST(length(bin(n_chars)) AS BIGINT) AS len_bucket,
      |  count(*) AS n_docs,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents GROUP BY 1, 2""".stripMargin

  // ----------------------------------------------- PII audit rollup
  // The release-gate audit table over the PII-injected fixture corpus
  // (same injection as x_pii_scrub, source column kept): per source,
  // total URL/email/long-number detections and the share of flagged
  // documents in basis points. One scan, one aggregation — the shape
  // a 100 TB compliance sweep runs nightly.
  def piiSummaryQ(spark: SparkSession, dir: String): DataFrame = {
    val t = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@example.com see http://ex.com/p/"), col("doc_id"),
      lit(" ref "), col("doc_id") * 1234567L + 7654321L)
    docs(spark, dir).select(
        col("source"),
        TextFns.patternCount(t, TextFns.UrlPattern).as("u"),
        TextFns.patternCount(t, TextFns.EmailPattern).as("e"),
        TextFns.patternCount(t, TextFns.LongNumPattern).as("m"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("u")).as("n_urls"),
        sum(col("e")).as("n_emails"),
        sum(col("m")).as("n_nums"),
        count(when(col("u") + col("e") + col("m") > 0, 1)).as("n_flagged"))
      .select(col("source"), col("n_docs"), col("n_urls"),
        col("n_emails"), col("n_nums"),
        expr("n_flagged * 10000 div n_docs").as("flagged_bp"))
  }
  val piiSummarySql: String = {
    val url = TextFns.UrlPattern
    val email = TextFns.EmailPattern
    val num = TextFns.LongNumPattern
    s"""WITH c AS (
       |  SELECT source,
       |    text || ' contact user' || doc_id ||
       |    '@example.com see http://ex.com/p/' || doc_id ||
       |    ' ref ' || (doc_id * 1234567 + 7654321) AS t
       |  FROM documents),
       |f AS (
       |  SELECT source,
       |    CAST(len(regexp_extract_all(t, '$url')) AS BIGINT) AS u,
       |    CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS e,
       |    CAST(len(regexp_extract_all(t, '$num')) AS BIGINT) AS m
       |  FROM c)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(u) AS BIGINT) AS n_urls,
       |  CAST(sum(e) AS BIGINT) AS n_emails,
       |  CAST(sum(m) AS BIGINT) AS n_nums,
       |  CAST(count(CASE WHEN u + e + m > 0 THEN 1 END) * 10000
       |    // count(*) AS BIGINT) AS flagged_bp
       |FROM f GROUP BY source""".stripMargin
  }

  // ------------------------------------------- blocklist screening
  // Aho–Corasick multi-term scan (Blocklist.scanCounts /
  // Blocklist.policyReport): ONE pass per document regardless of
  // dictionary size, every occurrence counted including overlapping
  // and nested matches. The corpus carries no overlapping terms
  // naturally, so a ' banana bananana' tail is planted (identically on
  // both engines): terms 'ana' and 'nana' then overlap and nest —
  // banana holds ana×2 + nana×1, bananana ana×3 + nana×2 — proving the
  // output-link semantics, while 'merge' / 'scan' / 'batch stream'
  // (a cross-word term) hit organically and 'qzx' never does. The
  // oracle probes every position: cnt(t) = #{i : substr(text,i,|t|)=t},
  // the definition the automaton implements. Both lanes are zero-
  // exchange row-local projections (plan-asserted).
  private[graft] val BlockTerms =
    Seq("merge", "scan", "batch stream", "ana", "nana", "qzx")
  private val blockTermsValuesSql = BlockTerms.zipWithIndex
    .map { case (t, i) => s"($i, '$t')" }.mkString(", ")
  private def blockPlanted = concat(col("text"), lit(" banana bananana"))
  private val blockPlantedSql = "text || ' banana bananana'"

  def blocklistScanQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Blocklist.scanCounts(
      docs(spark, dir).select(col("doc_id"), blockPlanted.as("text")),
      "text", "doc_id", BlockTerms)
  val blocklistScanSql: String =
    s"""WITH t(term_id, term) AS (VALUES $blockTermsValuesSql),
       |c AS (SELECT doc_id, $blockPlantedSql AS text FROM documents),
       |m AS (
       |  SELECT c.doc_id, CAST(t.term_id AS BIGINT) AS term_id, t.term,
       |    CAST(len(list_filter(range(1, len(c.text) - len(t.term) + 2),
       |      i -> substr(c.text, CAST(i AS INT), len(t.term)) = t.term))
       |      AS BIGINT) AS cnt
       |  FROM c CROSS JOIN t)
       |SELECT doc_id, term_id, term, cnt FROM m WHERE cnt > 0""".stripMargin

  def blocklistPolicyQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Blocklist.policyReport(
      docs(spark, dir).select(col("doc_id"), blockPlanted.as("text")),
      "text", "doc_id", BlockTerms, reviewAt = 12L, blockAt = 20L)
  val blocklistPolicySql: String =
    s"""WITH t(term_id, term) AS (VALUES $blockTermsValuesSql),
       |c AS (SELECT doc_id, $blockPlantedSql AS text FROM documents),
       |m AS (
       |  SELECT c.doc_id,
       |    CAST(len(list_filter(range(1, len(c.text) - len(t.term) + 2),
       |      i -> substr(c.text, CAST(i AS INT), len(t.term)) = t.term))
       |      AS BIGINT) AS cnt
       |  FROM c CROSS JOIN t)
       |SELECT doc_id,
       |  CAST(count(*) FILTER (WHERE cnt > 0) AS BIGINT) AS n_terms,
       |  CAST(sum(cnt) AS BIGINT) AS n_hits,
       |  CASE WHEN sum(cnt) >= 20 THEN 'block'
       |       WHEN sum(cnt) >= 12 THEN 'review'
       |       ELSE 'pass' END AS verdict
       |FROM m GROUP BY doc_id""".stripMargin

  // Production scrub path: greedy leftmost-longest non-overlapping
  // masking — exactly regexp_replace with a LENGTH-DESC alternation
  // (match leftmost; among alternatives at a position the first =
  // longest wins; resume after the replacement), which is the oracle's
  // form, at one automaton pass instead of O(text·k) backtracking. The
  // planted overlap tail pins the greedy rule: 'banana' masks its
  // leftmost 'ana' (not the longer-but-later 'nana'), 'bananana' masks
  // 'ana' then the now-leftmost 'nana'.
  def blocklistScrubQ(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
      .select(col("doc_id"), blockPlanted.as("text"))
    graft.operators.Blocklist.scrub(base, "text", BlockTerms, "<BLOCKED>")
      .select(col("doc_id"), col("text").as("clean_text"),
        TextFns.patternCount(col("text"), "<BLOCKED>").as("n_masked"))
  }
  val blocklistScrubSql: String = {
    val alternation = BlockTerms.sortBy(t => (-t.length, t)).mkString("|")
    s"""WITH c AS (
       |  SELECT doc_id, $blockPlantedSql AS text FROM documents),
       |s AS (SELECT doc_id,
       |  regexp_replace(text, '($alternation)', '<BLOCKED>', 'g')
       |    AS clean_text FROM c)
       |SELECT doc_id, clean_text,
       |  CAST(len(regexp_extract_all(clean_text, '<BLOCKED>')) AS BIGINT)
       |    AS n_masked
       |FROM s""".stripMargin
  }

  // ------------------------------------------- ROUGE / BLEU overlap
  // Generation-eval metrics (TextEval.rougeBleuReport) in exact
  // integer basis points: candidate = the near-dup mutation
  // (substring(text, 11) — the corpus's natural paraphrase pair),
  // reference = the original. ROUGE-n P/R/F1 for n=1,2 plus BLEU's
  // brevity ratio and the squared BLEU-2 (p1·p2 — exact, radical-
  // free). The clip Σ min(count_c, count_r) is relational (explode →
  // count → join → sum-min), never a per-row O(|doc|²) HOF, and both
  // engines tokenize with lower+trim+\s+ split.
  def rougeBleuQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = docs(spark, dir).select(col("doc_id"),
      expr("substring(text, 11)").as("cand"), col("text").as("ref"))
    graft.operators.TextEval.rougeBleuReport(pairs, "doc_id", "cand", "ref")
  }
  val rougeBleuSql: String = {
    def bigrams(t: String) =
      s"""CASE WHEN len($t) < 2 THEN [] ELSE
         |  list_transform(range(1, len($t)), i -> $t[i] || ' ' || $t[i+1])
         |  END""".stripMargin
    s"""WITH pairs AS (
       |  SELECT doc_id, substr(text, 11) AS cand, text AS ref
       |  FROM documents),
       |tok AS (SELECT doc_id,
       |  string_split_regex(lower(trim(cand)), '\\s+') AS ct,
       |  string_split_regex(lower(trim(ref)), '\\s+') AS rt FROM pairs),
       |c1 AS (SELECT doc_id, g, count(*) AS cc
       |  FROM (SELECT doc_id, unnest(ct) AS g FROM tok) GROUP BY 1, 2),
       |r1 AS (SELECT doc_id, g, count(*) AS cr
       |  FROM (SELECT doc_id, unnest(rt) AS g FROM tok) GROUP BY 1, 2),
       |o1 AS (SELECT doc_id, sum(least(cc, cr)) AS clip1
       |  FROM c1 JOIN r1 USING (doc_id, g) GROUP BY 1),
       |c2 AS (SELECT doc_id, g, count(*) AS cc
       |  FROM (SELECT doc_id, unnest(${bigrams("ct")}) AS g FROM tok)
       |  GROUP BY 1, 2),
       |r2 AS (SELECT doc_id, g, count(*) AS cr
       |  FROM (SELECT doc_id, unnest(${bigrams("rt")}) AS g FROM tok)
       |  GROUP BY 1, 2),
       |o2 AS (SELECT doc_id, sum(least(cc, cr)) AS clip2
       |  FROM c2 JOIN r2 USING (doc_id, g) GROUP BY 1),
       |m AS (SELECT tok.doc_id,
       |  coalesce(clip1, 0) AS clip1, coalesce(clip2, 0) AS clip2,
       |  len(ct) AS nc1, len(rt) AS nr1,
       |  greatest(len(ct) - 1, 0) AS nc2, greatest(len(rt) - 1, 0) AS nr2
       |  FROM tok LEFT JOIN o1 USING (doc_id) LEFT JOIN o2 USING (doc_id)),
       |b AS (SELECT doc_id,
       |  clip1 * 10000 // greatest(nc1, 1) AS p1_bp,
       |  clip1 * 10000 // greatest(nr1, 1) AS r1_bp,
       |  clip2 * 10000 // greatest(nc2, 1) AS p2_bp,
       |  clip2 * 10000 // greatest(nr2, 1) AS r2_bp,
       |  nc1 * 10000 // greatest(nr1, 1) AS brevity_bp FROM m)
       |SELECT doc_id,
       |  CAST(p1_bp AS BIGINT) AS p1_bp, CAST(r1_bp AS BIGINT) AS r1_bp,
       |  CAST(CASE WHEN p1_bp + r1_bp = 0 THEN 0
       |       ELSE 2 * p1_bp * r1_bp // (p1_bp + r1_bp) END AS BIGINT)
       |    AS f1_bp,
       |  CAST(p2_bp AS BIGINT) AS p2_bp, CAST(r2_bp AS BIGINT) AS r2_bp,
       |  CAST(CASE WHEN p2_bp + r2_bp = 0 THEN 0
       |       ELSE 2 * p2_bp * r2_bp // (p2_bp + r2_bp) END AS BIGINT)
       |    AS f2_bp,
       |  CAST(brevity_bp AS BIGINT) AS brevity_bp,
       |  CAST(p1_bp * p2_bp AS BIGINT) AS bleu2_sq_bp2
       |FROM b""".stripMargin
  }

  // ------------------------------------------------- chrF (char n-gram F)
  // TextEval.chrFReport (Popovic, WMT 2015): character n-gram F_beta
  // over n=1..6, beta=2, on lowercased whitespace-stripped text — the
  // tokenizer-free eval metric that stays robust where word metrics
  // fragment. Same one-pass tagged-stream engine as the BLEU ladder
  // (no cand x ref join); all values exact integer basis points, the
  // mean an exact div by 6, so the oracle replays every value.
  def chrfQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = docs(spark, dir).select(col("doc_id"),
      expr("substring(text, 11)").as("cand"), col("text").as("ref"))
    graft.operators.TextEval.chrFReport(pairs, "doc_id", "cand", "ref")
  }
  val chrfSql: String = {
    def ng(t: String, n: Int): String =
      s"list_transform(range(1, len($t) - ${n - 2}), " +
        s"i -> substr($t, CAST(i AS INT), $n))"
    val perN = (1 to 6).map { n =>
      s"""c$n AS (SELECT doc_id, g, count(*) AS cc
         |  FROM (SELECT doc_id, unnest(${ng("cf", n)}) AS g FROM tok)
         |  GROUP BY 1, 2),
         |r$n AS (SELECT doc_id, g, count(*) AS cr
         |  FROM (SELECT doc_id, unnest(${ng("rf", n)}) AS g FROM tok)
         |  GROUP BY 1, 2),
         |o$n AS (SELECT doc_id, sum(least(cc, cr)) AS clip$n
         |  FROM c$n JOIN r$n USING (doc_id, g) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val joins = (1 to 6).map(n => s"LEFT JOIN o$n USING (doc_id)")
      .mkString(" ")
    val m = (1 to 6).map(n =>
      s"""coalesce(clip$n, 0) AS clip$n,
         |  greatest(len(cf) - ${n - 1}, 0) AS nc$n,
         |  greatest(len(rf) - ${n - 1}, 0) AS nr$n""".stripMargin)
      .mkString(",\n  ")
    val prs = (1 to 6).map(n =>
      s"""clip$n * 10000 // greatest(nc$n, 1) AS p${n}_bp,
         |  clip$n * 10000 // greatest(nr$n, 1) AS r${n}_bp""".stripMargin)
      .mkString(",\n  ")
    val outs = (1 to 6).map(n =>
      s"CAST(p${n}_bp AS BIGINT) AS p${n}_bp, " +
        s"CAST(r${n}_bp AS BIGINT) AS r${n}_bp").mkString(",\n  ")
    val fb = (1 to 6).map(n =>
      s"(CASE WHEN 4 * p${n}_bp + r${n}_bp = 0 THEN 0 " +
        s"ELSE 5 * p${n}_bp * r${n}_bp // (4 * p${n}_bp + r${n}_bp) END)")
      .mkString(" + ")
    raw"""WITH pairs AS (
       |  SELECT doc_id, substr(text, 11) AS cand, text AS ref
       |  FROM documents),
       |tok AS (SELECT doc_id,
       |  regexp_replace(lower(cand), '\s+', '', 'g') AS cf,
       |  regexp_replace(lower(ref), '\s+', '', 'g') AS rf FROM pairs),
       |$perN,
       |m AS (SELECT tok.doc_id,
       |  $m
       |  FROM tok $joins),
       |b AS (SELECT doc_id,
       |  $prs FROM m)
       |SELECT doc_id,
       |  $outs,
       |  CAST(($fb) // 6 AS BIGINT) AS chrf2_bp
       |FROM b""".stripMargin
  }

  // ------------------------------------------- Gopher repetition signals
  // TextEval.repetitionReport (Rae et al. 2021 §A1.1, token-unit
  // variant): most-frequent word 2-gram + its token mass, and the
  // token-coverage of duplicated 5-grams as a true interval UNION
  // (running-max window), so nested/overlapping repeats never double-
  // count. The corpus rarely repeats 5-grams naturally, so a
  // 3×-repeated 5-token phrase is planted identically on both engines;
  // its cross-boundary grams also duplicate, and the union arithmetic
  // (not instance counting) is what keeps the coverage at exactly the
  // 15-token tail. All outputs exact integer basis points.
  def gopherRepetitionQ(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" zq wv xk rr tt zq wv xk rr tt zq wv xk rr tt"))
    graft.operators.TextEval.repetitionReport(
      docs(spark, dir).select(col("doc_id"), planted.as("text")),
      "text", "doc_id")
  }
  /** `g5(doc_id, pos, g)`, every word 5-gram of `tok(doc_id, t)`, and
    * `cov(doc_id, covered)`, the token count of the union of the
    * duplicated 5-grams' intervals (running-max window) — the oracle of
    * TextEval's dup-5-gram coverage. */
  private val dup5CoverageCtes: String =
    """g5 AS (
      |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(t) < 5 THEN [] ELSE
      |      list_transform(range(1, len(t) - 3), i ->
      |        struct_pack(pos := i, g := t[i] || ' ' || t[i+1] || ' ' ||
      |          t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) END) AS u
      |    FROM tok)),
      |dup5 AS (SELECT doc_id, g FROM g5 GROUP BY 1, 2
      |         HAVING count(*) >= 2),
      |cov0 AS (
      |  SELECT g5.doc_id, g5.pos, g5.pos + 5 AS e
      |  FROM g5 JOIN dup5 USING (doc_id, g)),
      |cov1 AS (
      |  SELECT doc_id, pos, e,
      |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
      |  FROM cov0),
      |cov AS (
      |  SELECT doc_id,
      |    sum(greatest(e - greatest(pos, coalesce(pe, pos)), 0)) AS covered
      |  FROM cov1 GROUP BY 1)""".stripMargin
  val gopherRepetitionSql: String =
    raw"""WITH docs AS (
       |  SELECT doc_id,
       |    text || ' zq wv xk rr tt zq wv xk rr tt zq wv xk rr tt' AS text
       |  FROM documents),
       |tok AS (SELECT doc_id,
       |  string_split_regex(lower(trim(text)), '\s+') AS t FROM docs),
       |n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM tok),
       |g2 AS (
       |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(t) < 2 THEN [] ELSE
       |      list_transform(range(1, len(t)), i ->
       |        struct_pack(pos := i, g := t[i] || ' ' || t[i+1])) END) AS u
       |    FROM tok)),
       |top2 AS (
       |  SELECT doc_id, g AS top2_gram, count(*) AS top2_n FROM g2
       |  GROUP BY 1, 2
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY count(*) DESC, g) = 1),
       |$dup5CoverageCtes
       |SELECT n.doc_id,
       |  coalesce(top2_gram, '') AS top2_gram,
       |  CAST(coalesce(top2_n, 0) AS BIGINT) AS top2_n,
       |  CAST(coalesce(top2_n, 0) * 2 * 10000 // greatest(n_tokens, 1)
       |    AS BIGINT) AS top2_tok_bp,
       |  CAST(coalesce(covered, 0) * 10000 // greatest(n_tokens, 1)
       |    AS BIGINT) AS dup5_cov_bp,
       |  n_tokens
       |FROM n LEFT JOIN top2 USING (doc_id)
       |       LEFT JOIN cov USING (doc_id)""".stripMargin

  // ------------------------------------------- case-folded blocklist
  // Blocklist matching under the case/NFC fold (CaseFold): terms and
  // text pass through ONE lowercase+NFC map inside the expression, so
  // a lowercase composed-form dictionary hits 'BaNaNa', a decomposed-
  // accent 'CAFE<combining acute>' and the composed 'café' alike — the
  // first thing a real blocklist deployment needs and a raw code-unit
  // automaton misses. The oracle replays the same fold with
  // lower(nfc_normalize(...)) and probes positionally; counts are
  // occurrence counts, so the engines' different string units (UTF-16
  // vs UTF-8) cannot skew the comparison.
  private[graft] val FoldTerms =
    Seq("banana", "caf\u00e9", "nana", "scan")
  private def foldPlanted = concat(col("text"),
    lit(" BaNaNa CAFE\u0301 cafe\u0301 caf\u00e9 NANA"))
  private val foldPlantedSql =
    "text || ' BaNaNa CAFE' || chr(769) || ' cafe' || chr(769) || " +
      "' caf' || chr(233) || ' NANA'"
  private val foldTermsValuesSql = FoldTerms.zipWithIndex
    .map { case (t, i) =>
      val esc = t.replace("\u00e9", "' || chr(233) || '")
      s"($i, '$esc')"
    }.mkString(", ")

  def blocklistFoldQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Blocklist.scanCounts(
      docs(spark, dir).select(col("doc_id"), foldPlanted.as("text")),
      "text", "doc_id", FoldTerms, fold = true)
  val blocklistFoldSql: String =
    s"""WITH t0(term_id, term) AS (VALUES $foldTermsValuesSql),
       |t AS (SELECT term_id, lower(nfc_normalize(term)) AS term FROM t0),
       |c AS (SELECT doc_id,
       |  lower(nfc_normalize($foldPlantedSql)) AS text FROM documents),
       |m AS (
       |  SELECT c.doc_id, CAST(t.term_id AS BIGINT) AS term_id, t.term,
       |    CAST(len(list_filter(range(1, len(c.text) - len(t.term) + 2),
       |      i -> substr(c.text, CAST(i AS INT), len(t.term)) = t.term))
       |      AS BIGINT) AS cnt
       |  FROM c CROSS JOIN t)
       |SELECT doc_id, term_id, term, cnt FROM m WHERE cnt > 0""".stripMargin

  // Fold-scrub: matching runs on the FOLDED stream, masking lands on
  // original-text spans via the folded->original offset map (the
  // UnigramSegmenter char->byte table device) — unmatched text keeps
  // its case and accents, which regexp_replace over a folded copy
  // cannot do. The oracle therefore gates the MASK COUNT (identical in
  // both coordinate systems), replayed as a longest-first alternation
  // over the folded text.
  def blocklistFoldScrubQ(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
      .select(col("doc_id"), foldPlanted.as("text"))
    graft.operators.Blocklist
      .scrub(base, "text", FoldTerms, "<BLOCKED>", fold = true)
      .select(col("doc_id"),
        TextFns.patternCount(col("text"), "<BLOCKED>").as("n_masked"))
  }
  val blocklistFoldScrubSql: String = {
    val alternation = FoldTerms.sortBy(t => (-t.length, t))
      .mkString("|").replace("\u00e9", "' || chr(233) || '")
    s"""WITH c AS (SELECT doc_id,
       |  lower(nfc_normalize($foldPlantedSql)) AS text FROM documents),
       |s AS (SELECT doc_id, regexp_replace(text,
       |  '(' || '$alternation' || ')', '<BLOCKED>', 'g') AS clean
       |  FROM c)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(clean, '<BLOCKED>')) AS BIGINT)
       |    AS n_masked
       |FROM s""".stripMargin
  }

  // Table-driven blocklist: the dictionary arrives as a term TABLE
  // (broadcast variable + one automaton build per partition — the
  // Multimodal per-partition init seam), not a foldable literal, so
  // 1M-term lists skip the literal ceiling. Same rows as the literal
  // path on the same terms — the oracle IS the literal lane's.
  def blocklistTableQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val termsDf = BlockTerms.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("term_id", "term")
    graft.operators.Blocklist.scanCountsTable(
      docs(spark, dir).select(col("doc_id"), blockPlanted.as("text")),
      "text", "doc_id", termsDf)
  }
  val blocklistTableSql: String = blocklistScanSql

  // ------------------------------------------- ROUGE-L (LCS recall)
  // ROUGE-L P/R/F1 (Lin, ACL 2004 S3) over a bounded-token pair: the
  // candidate drops the reference's 4th token and appends a novel one,
  // so the LCS is a real subsequence computation (not a prefix match)
  // with per-doc-varying values. The Spark side is the row-local
  // native DP (LcsLenExpr, O(|c|x|r|) per pair, zero exchanges); the
  // oracle REPLAYS THE DP in SQL as a recursive CTE over DP rows,
  // using the prefix-max reformulation new[j] = max(prev[j],
  // max_{k<=j, rt[k]=ct[i]}(prev[k-1]+1)) — exact integer equality,
  // which is why the fixture bounds both sides to <= 8 tokens (the
  // oracle's inner scan is O(lr^2) per DP row; the operator itself has
  // no such bound).
  def rougeLQ(spark: SparkSession, dir: String): DataFrame = {
    val t8 = slice(TextFns.words(col("text")), 1, 8)
    val candArr = concat(slice(t8, 1, 3), slice(t8, 5, 4),
      array(lit("zzquux")))
    val pairs = docs(spark, dir).select(col("doc_id"),
      array_join(candArr, " ").as("cand"),
      array_join(t8, " ").as("ref"))
    graft.operators.TextEval.rougeLReport(pairs, "doc_id", "cand", "ref")
  }
  val rougeLSql: String =
    raw"""WITH RECURSIVE base AS (
       |  SELECT doc_id, list_slice(
       |    string_split_regex(lower(trim(text)), '\s+'), 1, 8) AS t
       |  FROM documents),
       |pairs AS (
       |  SELECT doc_id,
       |    array_to_string(list_slice(t, 1, 3) || list_slice(t, 5, 8)
       |      || ['zzquux'], ' ') AS cand,
       |    array_to_string(t, ' ') AS ref
       |  FROM base),
       |tok AS (SELECT doc_id,
       |  string_split_regex(lower(trim(cand)), '\s+') AS ct,
       |  string_split_regex(lower(trim(ref)), '\s+') AS rt FROM pairs),
       |sz AS (SELECT doc_id, ct, rt, len(ct) AS lc, len(rt) AS lr
       |  FROM tok),
       |dp AS (
       |  SELECT doc_id, ct, rt, lc, lr, 0 AS i,
       |         list_transform(range(1, lr + 1), x -> 0) AS r
       |  FROM sz
       |  UNION ALL
       |  SELECT doc_id, ct, rt, lc, lr, i + 1,
       |    list_transform(range(1, lr + 1), j ->
       |      greatest(r[j], list_max(list_transform(range(1, j + 1),
       |        k -> CASE WHEN rt[k] = ct[i + 1]
       |             THEN (CASE WHEN k = 1 THEN 0 ELSE r[k - 1] END) + 1
       |             ELSE 0 END))))
       |  FROM dp WHERE i < lc),
       |fin AS (SELECT doc_id, lc, lr,
       |  CASE WHEN lr = 0 OR lc = 0 THEN 0 ELSE r[lr] END AS lcs
       |  FROM dp WHERE i = lc),
       |b AS (SELECT doc_id, lcs,
       |  lcs * 10000 // greatest(lc, 1) AS pl_bp,
       |  lcs * 10000 // greatest(lr, 1) AS rl_bp,
       |  lc, lr FROM fin)
       |SELECT doc_id, CAST(lcs AS BIGINT) AS lcs,
       |  CAST(lc AS BIGINT) AS n_cand, CAST(lr AS BIGINT) AS n_ref,
       |  CAST(pl_bp AS BIGINT) AS pl_bp, CAST(rl_bp AS BIGINT) AS rl_bp,
       |  CAST(CASE WHEN pl_bp + rl_bp = 0 THEN 0
       |       ELSE 2 * pl_bp * rl_bp // (pl_bp + rl_bp) END AS BIGINT)
       |    AS fl_bp
       |FROM b""".stripMargin

  // ------------------------------------------- BLEU-3/4 clip ladder
  // rougeBleuReportN at maxN = 4: the full modified-precision ladder
  // p1..p4 with recalls, F1s, brevity, and the radical-free BLEU
  // products (p1*p2, p1*p2*p3, p1*p2*p3*p4 — exact integers whose k-th
  // roots are the geometric means; p1*p2*p3*p4 <= 10^16 fits a long).
  // ONE text pass per pair for all four n (side- and n-tagged gram
  // stream, conditional side counts — no cand x ref join).
  def bleu34Q(spark: SparkSession, dir: String): DataFrame = {
    val pairs = docs(spark, dir).select(col("doc_id"),
      expr("substring(text, 11)").as("cand"), col("text").as("ref"))
    graft.operators.TextEval.rougeBleuReportN(
      pairs, "doc_id", "cand", "ref", maxN = 4)
  }
  val bleu34Sql: String = {
    def ng(t: String, n: Int): String =
      if (n == 1) t
      else {
        val joins = (0 until n).map(k => s"$t[i+$k]").mkString(" || ' ' || ")
        s"CASE WHEN len($t) < $n THEN [] ELSE " +
          s"list_transform(range(1, len($t) - ${n - 2}), i -> $joins) END"
      }
    val perN = (1 to 4).map { n =>
      s"""c$n AS (SELECT doc_id, g, count(*) AS cc
         |  FROM (SELECT doc_id, unnest(${ng("ct", n)}) AS g FROM tok)
         |  GROUP BY 1, 2),
         |r$n AS (SELECT doc_id, g, count(*) AS cr
         |  FROM (SELECT doc_id, unnest(${ng("rt", n)}) AS g FROM tok)
         |  GROUP BY 1, 2),
         |o$n AS (SELECT doc_id, sum(least(cc, cr)) AS clip$n
         |  FROM c$n JOIN r$n USING (doc_id, g) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val totals = (1 to 4).map { n =>
      if (n == 1) "len(ct) AS nc1, len(rt) AS nr1"
      else s"greatest(len(ct) - ${n - 1}, 0) AS nc$n, " +
        s"greatest(len(rt) - ${n - 1}, 0) AS nr$n"
    }.mkString(",\n  ")
    val joins = (1 to 4).map(n => s"LEFT JOIN o$n USING (doc_id)")
      .mkString(" ")
    val clips = (1 to 4).map(n =>
      s"coalesce(clip$n, 0) AS clip$n").mkString(", ")
    val prs = (1 to 4).map(n =>
      s"""clip$n * 10000 // greatest(nc$n, 1) AS p${n}_bp,
         |  clip$n * 10000 // greatest(nr$n, 1) AS r${n}_bp""".stripMargin)
      .mkString(",\n  ")
    val fs = (1 to 4).map(n =>
      s"""CAST(p${n}_bp AS BIGINT) AS p${n}_bp,
         |  CAST(r${n}_bp AS BIGINT) AS r${n}_bp,
         |  CAST(CASE WHEN p${n}_bp + r${n}_bp = 0 THEN 0
         |       ELSE 2 * p${n}_bp * r${n}_bp // (p${n}_bp + r${n}_bp)
         |       END AS BIGINT) AS f${n}_bp""".stripMargin).mkString(",\n  ")
    raw"""WITH pairs AS (
       |  SELECT doc_id, substr(text, 11) AS cand, text AS ref
       |  FROM documents),
       |tok AS (SELECT doc_id,
       |  string_split_regex(lower(trim(cand)), '\s+') AS ct,
       |  string_split_regex(lower(trim(ref)), '\s+') AS rt FROM pairs),
       |$perN,
       |m AS (SELECT tok.doc_id, $clips,
       |  $totals
       |  FROM tok $joins),
       |b AS (SELECT doc_id,
       |  $prs,
       |  nc1 * 10000 // greatest(nr1, 1) AS brevity_bp FROM m)
       |SELECT doc_id,
       |  $fs,
       |  CAST(brevity_bp AS BIGINT) AS brevity_bp,
       |  CAST(p1_bp * p2_bp AS BIGINT) AS bleu2_sq_bp2,
       |  CAST(p1_bp * p2_bp * p3_bp AS BIGINT) AS bleu3_cube_bp3,
       |  CAST(p1_bp * p2_bp * p3_bp * p4_bp AS BIGINT) AS bleu4_pow4_bp4
       |FROM b""".stripMargin
  }

  // ------------------------------------------- full Gopher battery
  // repetitionBattery: the complete Rae et al. 2021 SA1.1 rule-gate
  // inputs — top-2/3/4-gram token mass, duplicated-5-gram coverage
  // (interval union), and the line family (duplicate-line fraction by
  // count and by chars). The planted tail gives every document
  // newline-split lines with one guaranteed duplicate pair (the
  // 40-char excerpt twice) plus the 3x-repeated 5-token phrase; line
  // splitting is exact on '\n' (no trimming) in both engines, and the
  // token grams deliberately cross line boundaries (the tokenizer
  // splits on ALL whitespace) — the two families stay independent.
  def gopherBatteryQ(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"), lit("\n"),
      substring(col("text"), 1, 40), lit("\n"),
      substring(col("text"), 1, 40),
      lit("\nzq wv xk rr tt zq wv xk rr tt zq wv xk rr tt"))
    graft.operators.TextEval.repetitionBattery(
      docs(spark, dir).select(col("doc_id"), planted.as("text")),
      "text", "doc_id")
  }
  val gopherBatterySql: String = {
    def gn(n: Int): String = {
      val joins = (0 until n).map(k => s"t[i+$k]").mkString(" || ' ' || ")
      s"""g$n AS (
         |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(t) < $n THEN [] ELSE
         |      list_transform(range(1, len(t) - ${n - 2}), i ->
         |        struct_pack(pos := i, g := $joins)) END) AS u
         |    FROM tok)),
         |top$n AS (
         |  SELECT doc_id, max(cnt) AS top${n}_n FROM (
         |    SELECT doc_id, g, count(*) AS cnt FROM g$n GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    }
    raw"""WITH docsb AS (
       |  SELECT doc_id,
       |    text || chr(10) || substr(text, 1, 40) || chr(10) ||
       |    substr(text, 1, 40) || chr(10) ||
       |    'zq wv xk rr tt zq wv xk rr tt zq wv xk rr tt' AS text
       |  FROM documents),
       |tok AS (SELECT doc_id,
       |  string_split_regex(lower(trim(text)), '\s+') AS t FROM docsb),
       |n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM tok),
       |${gn(2)},
       |${gn(3)},
       |${gn(4)},
       |$dup5CoverageCtes,
       |lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
       |  FROM docsb),
       |lagg AS (SELECT doc_id, line, count(*) AS lc FROM lines
       |  GROUP BY 1, 2),
       |lstat AS (SELECT doc_id,
       |  sum(lc) AS n_lines,
       |  sum(CASE WHEN lc >= 2 THEN lc ELSE 0 END) AS dup_lines,
       |  sum(len(line) * lc) AS line_chars,
       |  sum(CASE WHEN lc >= 2 THEN len(line) * lc ELSE 0 END)
       |    AS dup_line_chars
       |  FROM lagg GROUP BY 1)
       |SELECT n.doc_id,
       |  CAST(coalesce(top2_n, 0) * 2 * 10000 // greatest(n_tokens, 1)
       |    AS BIGINT) AS top2_tok_bp,
       |  CAST(coalesce(top3_n, 0) * 3 * 10000 // greatest(n_tokens, 1)
       |    AS BIGINT) AS top3_tok_bp,
       |  CAST(coalesce(top4_n, 0) * 4 * 10000 // greatest(n_tokens, 1)
       |    AS BIGINT) AS top4_tok_bp,
       |  CAST(coalesce(covered, 0) * 10000 // greatest(n_tokens, 1)
       |    AS BIGINT) AS dup5_cov_bp,
       |  CAST(coalesce(dup_lines, 0) * 10000 // greatest(n_lines, 1)
       |    AS BIGINT) AS dup_line_bp,
       |  CAST(coalesce(dup_line_chars, 0) * 10000
       |    // greatest(line_chars, 1) AS BIGINT) AS dup_line_char_bp,
       |  n_tokens,
       |  CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines
       |FROM n LEFT JOIN top2 USING (doc_id)
       |       LEFT JOIN top3 USING (doc_id)
       |       LEFT JOIN top4 USING (doc_id)
       |       LEFT JOIN cov USING (doc_id)
       |       LEFT JOIN lstat USING (doc_id)""".stripMargin
  }

  // ------------------------------------------- term co-occurrence lift
  // Lexical association over the top-50 vocabulary: for every token
  // pair co-occurring in ≥10 documents, observed-over-expected lift in
  // basis points — lift_bp = n_ab·N·10⁴ div (df_a·df_b), the integer
  // PMI surrogate (monotone in PMI, no cross-engine log). The vocab is
  // COLLECTED as a ≤50-entry literal (the documented O(KB) scalar
  // pattern, like centroid tables), so pair generation is row-local:
  // sort each doc's vocab hits, emit ordered pairs with an indexed
  // transform, one hash aggregation on the pair key. No token×token
  // shuffle join; the 38-digit decimal lane keeps n_ab·N·10⁴ exact at
  // any corpus size.
  def cooccurrenceQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.native.NativeFns
    val top = graft.operators.Corpus
      .topKVocab(docs(spark, dir), "text", 50)
      .select(col("token")).collect().map(_.getString(0)).sorted
    // per-doc sorted distinct vocab hits in ONE native pass (r12,
    // guide §4): the expression-chain form re-ran the \s+ regex
    // tokenization and three array passes (distinct, intersect, sort)
    // per corpus scan — and the lazy plan scanned the corpus TWICE
    // (pair counts + per-token dfs). Results are pinned identical by
    // the unchanged oracle (VocabHitsExpr doc lists the equivalences).
    // hits is PROJECTED to a concrete column before the pair fan-out:
    // the expansion references it from inside per-element lambdas, and
    // an inlined expression tree re-tokenizes the document once per
    // array element (measured 470 CPU-s); a multiply-referenced
    // non-cheap alias survives CollapseProject, so the tokenization
    // runs exactly once per row
    val hits = NativeFns.vocabHits(col("text"), top.toSeq)
    def pairArrOf(h: org.apache.spark.sql.Column) =
      flatten(transform(h, (x, i) =>
        transform(slice(h, i + 2, size(h)),
          y => concat(x, lit(" "), y))))
    // the O(|vocab-hits|²) pair fan-out is the CPU here and runs
    // before any shuffle — doc-keyed repartition at explicit width
    // fans it past the scan's split count (the SparseSim device)
    val fan = spark.sessionState.conf.numShufflePartitions
    val d = docs(spark, dir).repartition(fan, col("doc_id"))
    // pair keys carry a space, single tokens never do (they are
    // whitespace-split), so BOTH aggregations ride one corpus pass and
    // split by key shape afterwards; the ≤(50·51/2 + 50)-row aggregate
    // is spilled once (bare-wrapper Materialize: reclaimed at JVM
    // exit) because pairs and dfs both read it
    val aggM = graft.ops.Materialize(
      d.select(hits.as("__hits"))
        .select(explode(concat(pairArrOf(col("__hits")),
          col("__hits"))).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n")),
      graft.ops.MatStrategy.Default)
    val pairs = aggM.df.where(col("k").contains(" "))
      .where(col("n") >= 10)
      .select(split(col("k"), " ").getItem(0).as("tok_a"),
        split(col("k"), " ").getItem(1).as("tok_b"),
        col("n").as("n_ab"))
    val dfs = aggM.df.where(!col("k").contains(" "))
      .select(col("k").as("token"), col("n").as("df"))
    pairs
      .join(broadcast(dfs.select(col("token").as("tok_a"),
        col("df").as("df_a"))), Seq("tok_a"))
      .join(broadcast(dfs.select(col("token").as("tok_b"),
        col("df").as("df_b"))), Seq("tok_b"))
      .crossJoin(broadcast(docs(spark, dir).agg(count(lit(1)).as("n_docs"))))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        col("df_a"), col("df_b"),
        expr("cast(n_ab as decimal(38,0)) * n_docs * 10000" +
          " div (df_a * df_b)").as("lift_bp"))
  }
  val cooccurrenceSql: String =
    """WITH t AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id, unnest(list_distinct(
      |      string_split_regex(lower(trim(text)), '\s+'))) AS token
      |    FROM documents)
      |  WHERE length(token) > 0),
      |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
      |top AS (SELECT token FROM c ORDER BY cnt DESC, token LIMIT 50),
      |vt AS (SELECT doc_id, token FROM t
      |       WHERE token IN (SELECT token FROM top)),
      |prs AS (
      |  SELECT a.token AS tok_a, b.token AS tok_b, count(*) AS n_ab
      |  FROM vt a JOIN vt b
      |    ON a.doc_id = b.doc_id AND a.token < b.token
      |  GROUP BY 1, 2),
      |dfs AS (SELECT token, count(*) AS df FROM vt GROUP BY 1),
      |tot AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT tok_a, tok_b, n_ab, da.df AS df_a, db.df AS df_b,
      |  CAST(CAST(n_ab AS HUGEINT) * tot.n_docs * 10000
      |    // (da.df * db.df) AS BIGINT) AS lift_bp
      |FROM prs
      |JOIN dfs da ON da.token = prs.tok_a
      |JOIN dfs db ON db.token = prs.tok_b
      |CROSS JOIN tot
      |WHERE n_ab >= 10""".stripMargin

  // --------------------------------------------- embedding ingest QA
  // The vector-column acceptance gate an embedding pipeline runs
  // before anything trains on it: per label, vector counts, dimension
  // consistency (min=max width), degenerate-vector count (all-zero),
  // and the exact median/p90 of the 2²⁰-quantized squared norm — the
  // scale drift detector. Norm² rides the integer lane
  // (floor(x·2²⁰)² summed exactly), so the percentiles are
  // percentile_disc over BIGINTs: engine-identical, no float compare.
  def embeddingAuditQ(spark: SparkSession, dir: String): DataFrame = {
    val qsum = aggregate(
      transform(col("embedding"),
        x => floor(x.cast("double") * 1048576L).cast("long")),
      lit(0L), (acc, v) => acc + v * v)
    val e = Tables.load(spark, dir, "embeddings").select(
      col("vec_id"),
      col("label").cast("long").as("label"),
      size(col("embedding")).cast("long").as("dim"),
      qsum.as("q2"))
    val wOrd = Window.partitionBy(col("label"))
      .orderBy(col("q2"), col("vec_id"))
    val wAll = Window.partitionBy(col("label"))
    e.withColumn("rk", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dim")).as("min_dim"), max(col("dim")).as("max_dim"),
        count(when(col("q2") === 0, 1)).as("n_zero"),
        max(when(col("rk") === expr("(n + 1) div 2"), col("q2")))
          .as("p50_qnorm2"),
        max(when(col("rk") === expr("(9 * n + 9) div 10"), col("q2")))
          .as("p90_qnorm2"))
  }
  val embeddingAuditSql: String =
    """WITH q AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    CAST(len(embedding) AS BIGINT) AS dim,
      |    CAST(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(floor(x * 1048576) AS BIGINT)
      |           * CAST(floor(x * 1048576) AS BIGINT))) AS BIGINT) AS q2
      |  FROM embeddings),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY label ORDER BY q2, vec_id) AS rk,
      |    count(*) OVER (PARTITION BY label) AS n
      |  FROM q)
      |SELECT label, count(*) AS n_vecs,
      |  min(dim) AS min_dim, max(dim) AS max_dim,
      |  count(CASE WHEN q2 = 0 THEN 1 END) AS n_zero,
      |  max(CASE WHEN rk = (n + 1) // 2 THEN q2 END) AS p50_qnorm2,
      |  max(CASE WHEN rk = (9 * n + 9) // 10 THEN q2 END) AS p90_qnorm2
      |FROM r GROUP BY label""".stripMargin

  // --------------------------------------------- class-balance plan
  // The rare-class upsampling plan a fine-tuning mix starts from: per
  // label, its count and the integer repeat factor that lifts it
  // toward the majority class (max_n div n — never fractional, so the
  // plan is directly executable as "emit each row k times"). One
  // aggregation plus a broadcast scalar max.
  def classBalanceQ(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "embeddings")
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"))
    counts
      .crossJoin(broadcast(counts.agg(max(col("n")).as("max_n"))))
      .select(col("label"), col("n"),
        expr("max_n div n").as("repeat_factor"),
        expr("n * (max_n div n)").as("upsampled_n"))
  }
  val classBalanceSql: String =
    """WITH c AS (
      |  SELECT CAST(label AS BIGINT) AS label, count(*) AS n
      |  FROM embeddings GROUP BY 1),
      |m AS (SELECT max(n) AS max_n FROM c)
      |SELECT label, n,
      |  CAST(max_n // n AS BIGINT) AS repeat_factor,
      |  CAST(n * (max_n // n) AS BIGINT) AS upsampled_n
      |FROM c CROSS JOIN m""".stripMargin

  // ------------------------------------------------ quota waterfilling
  // Selection.quotaWaterfill gated end to end: the per-language
  // character mass splits a 10⁶-micro-unit budget proportionally, but
  // no language may exceed 25% — English (43% of this corpus) freezes
  // at the cap and its excess re-flows to the other languages across
  // three synchronous integer rounds. The anti-dominance mixture rule
  // as one bounded-table computation; every allocation is exact
  // integer division, replayed round for round by the oracle.
  def quotaMixQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Selection.quotaWaterfill(
      docs(spark, dir).groupBy(col("lang"))
        .agg(sum(col("n_chars")).as("w")),
      "lang", "w", budgetMicro = 1000000L, capMicro = 250000L)
  val quotaMixSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT k, w, s, frozen,
         |    CASE WHEN frozen THEN CAST(250000 AS BIGINT)
         |         ELSE CAST((1000000 - 250000 *
         |             (SELECT count(*) FROM f${i - 1} WHERE frozen)) * s
         |           // greatest((SELECT COALESCE(sum(s), 0) FROM f${i - 1}
         |                        WHERE NOT frozen), 1) AS BIGINT)
         |    END AS alloc
         |  FROM f${i - 1}),
         |f$i AS (
         |  SELECT k, w, s, frozen OR alloc > 250000 AS frozen FROM a$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH wt AS (
       |  SELECT lang AS k, CAST(sum(n_chars) AS BIGINT) AS w
       |  FROM documents GROUP BY 1),
       |f0 AS (
       |  SELECT k, w,
       |    CAST(CAST(w AS HUGEINT) * 1000000
       |      // (SELECT sum(w) FROM wt) AS BIGINT) AS s,
       |    FALSE AS frozen
       |  FROM wt),
       |$rounds
       |SELECT k AS lang, w, least(alloc, 250000) AS alloc_micro,
       |  frozen OR alloc > 250000 AS capped
       |FROM a3""".stripMargin
  }

  // ------------------------------------------- token-budget mixture fill
  // The unit a training mix is specified in is TOKENS, not documents —
  // a doc-count cap over-represents long documents. Sampling
  // .tokenBudgetSample fills each source's 600-token budget as the
  // longest prefix of a stable hash order whose running token total
  // fits (prefix semantics; exact-integer running sum, total order →
  // engine- and partitioning-identical). One window shuffle on the
  // source; output carries cum_tokens as the per-group fill audit.
  def tokenBudgetQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.tokenBudgetSample(
      docs(spark, dir).select(col("doc_id"), col("source"),
        TextFns.tokenCount(col("text")).as("n_tokens")),
      "source", "doc_id", "n_tokens", budget = 600L)
  val tokenBudgetSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens,
       |    ${duckHash32("'tb:' || source || ':' || CAST(doc_id AS VARCHAR)")}
       |      AS h
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, source, n_tokens, cum_tokens
       |FROM r WHERE cum_tokens <= 600""".stripMargin

  // ----------------------------------------- best-keeper cluster dedup
  // Near-dup clusters keep their BEST member, not their first: real
  // pipelines retain the longest (or highest-quality) variant of a
  // duplicated document — here the planted near-copies are 10-char
  // truncations, so the keeper is provably the original while the
  // min-id cluster_rep is just a label. Same signature-table clustering
  // as x_dedup_clusters (shared sig table, shared closure CTEs); the
  // keeper choice is one extra window over cluster members — O(cluster)
  // work after the clustering, nothing rescanned.
  def dedupBestKeeperQ(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, dir)
    val pairs = nearDupPairs(spark, dir, threshold = 0.5)
    val clusters = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    val lens = corpus.select(col("doc_id"),
      length(col("text")).cast("long").as("len"))
    val members = clusters.join(lens, Seq("doc_id"))
    val w = Window.partitionBy(col("cluster_rep"))
      .orderBy(col("len").desc, col("doc_id"))
    val keepers = members.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("cluster_rep"), col("doc_id").as("keeper_id"))
    members.join(keepers, Seq("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("keep"))
  }
  val dedupBestKeeperSql: String =
    s"""$clustersClosureCtes,
       |lens AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len FROM corpus),
       |m AS (
       |  SELECT r.doc_id, r.cluster_rep, l.len
       |  FROM reps r JOIN lens l USING (doc_id)),
       |k AS (
       |  SELECT cluster_rep, doc_id AS keeper_id FROM (
       |    SELECT cluster_rep, doc_id,
       |      row_number() OVER
       |        (PARTITION BY cluster_rep ORDER BY len DESC, doc_id) AS rn
       |    FROM m)
       |  WHERE rn = 1)
       |SELECT m.doc_id, m.cluster_rep, k.keeper_id,
       |       CAST(m.doc_id = k.keeper_id AS BIGINT) AS keep
       |FROM m JOIN k USING (cluster_rep)""".stripMargin

  // -------------------------------------- per-language quantile gate
  // Quality thresholds that adapt per language: an absolute cutoff
  // (x_quality_filter's shape) silently drops whole languages whose
  // score distribution sits lower — e.g. a stopword-list signal that
  // never fires for zh. The standard fix every multilingual pipeline
  // ships: rank documents WITHIN their language and drop the bottom
  // fraction, so each language keeps its best 80% regardless of where
  // its absolute scores sit. percent_rank over a total order
  // (score, doc_id) is partition-count-independent and engine-exact
  // ((rank-1)/(n-1) on small integers), so the gate is oracle-stable.
  def qualityQuantileQ(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val scored = docs(spark, dir).select(
      col("doc_id"), col("lang"),
      round(
        (TextFns.wordSetCount(t, TextFns.EnWords).cast("double") /
          greatest(TextFns.tokenCount(t), lit(1L)).cast("double")) +
          (least(TextFns.tokenCount(t), lit(200L)).cast("double") / 200.0d),
        4).as("score"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score"), col("doc_id"))
    scored.withColumn("pr", round(percent_rank().over(w), 6))
      .where(col("pr") >= 0.2d)
  }
  val qualityQuantileSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    round(
       |      len(regexp_extract_all(lower(text), '$duckStopRe'))::DOUBLE /
       |        greatest(len(string_split_regex(trim(text), '\\s+')), 1) +
       |      least(len(string_split_regex(trim(text), '\\s+')), 200)::DOUBLE
       |        / 200.0, 4) AS score
       |  FROM documents)
       |SELECT doc_id, lang, score,
       |  round(percent_rank() OVER
       |    (PARTITION BY lang ORDER BY score, doc_id), 6) AS pr
       |FROM scored
       |QUALIFY round(percent_rank() OVER
       |    (PARTITION BY lang ORDER BY score, doc_id), 6) >= 0.2""".stripMargin

  // ------------------------------------------- continuous curation loop
  // The live ingest pipeline end to end: a corpus's signature table is
  // written once; two micro-batches of new documents then stream
  // through StreamingOps.continuousCurate — each batch is screened
  // against the signature TABLE (corpus text never re-tokenized),
  // survivors are admitted and their signatures appended, so batch 1
  // catches near-copies of documents that were only admitted in batch
  // 0. That echo group (ids +8e6: near-copies of batch 0's novel
  // md5-chain docs) is the proof the table is live — nothing in the
  // original corpus resembles them. The oracle replays the sequential
  // admit decisions relationally from ONE tagged-union pair set:
  // dup0 = batch0 x corpus pairs; adm0 = batch0 - dup0;
  // dup1 = batch1 x (corpus UNION adm0) pairs; output = adm0 + (batch1
  // - dup1). Within-batch pairs are ignored on both sides (documented
  // screen semantics).
  def streamCurateQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val chain = concat(md5(col("text")), md5(concat(col("text"), lit("a"))),
      md5(concat(col("text"), lit("b"))))
    val b0 = d.where(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 5000000L).as("doc_id"),
        expr("substring(text, 11)").as("text"))
      .union(d.where(col("doc_id") % 5 === 1).select(
        (col("doc_id") + 6000000L).as("doc_id"), chain.as("text")))
    val b1 = d.where(col("doc_id") % 5 === 2).select(
        (col("doc_id") + 7000000L).as("doc_id"),
        expr("substring(text, 11)").as("text"))
      .union(d.where(col("doc_id") % 5 === 1).select(
        (col("doc_id") + 8000000L).as("doc_id"),
        substring(chain, 11, 1000).as("text")))
      .union(d.where(col("doc_id") % 5 === 3).select(
        (col("doc_id") + 9000000L).as("doc_id"),
        concat(md5(concat(col("text"), lit("c"))),
          md5(concat(col("text"), lit("d"))),
          md5(concat(col("text"), lit("e")))).as("text")))
    curateLane(spark, dir, "curate-src", winnow = false, Seq(b0, b1)) {
      (src, path) =>
        graft.streaming.StreamingOps.continuousCurate(
          src, path("sigs"), path("admitted"), "text", "doc_id", k = 5,
          threshold = 0.5, shufflePartitions = Some(8))
    }
  }

  /** One run of a continuous-curate lane. The maintained tables are
    * deterministic functions of the corpus, so they are built once per
    * (session, sf-dir) — the sigTableFor contract: tokenize at ingest,
    * never again — the signature table always, the winnow table when
    * `winnow`. The stream APPENDS to them, so each run works on a cheap
    * file-level copy in a fresh run root. The staged feed (`batches`,
    * one file per micro-batch) is deterministic in the corpus and
    * READ-ONLY to the stream (each run replays it from a fresh
    * checkpoint), so it too is built once per session, under
    * `feedTag`. `curate` gets the stream and the run root's `path`
    * (`sigs`, `fps`, `admitted`). The admitted ids come back as a
    * local relation, so the run root is deleted before the call returns,
    * and with it the schema and footer-envelope cache entries of its
    * tables.
    */
  private def curateLane(spark: SparkSession, dir: String, feedTag: String,
                         winnow: Boolean, batches: Seq[DataFrame])(
      curate: (DataFrame, String => String) => Unit): DataFrame = {
    import graft.operators.{Corpus, Dedup}
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val baseSigs = Fixtures.cached("sigs-curate-base", dir) { base =>
      val p = new java.io.File(base, "sigs").toString
      Dedup.writeSignatureTable(d, "text", "doc_id", p, k = 5)
      p
    }
    val baseFps =
      if (!winnow) Nil
      else Seq("fps" -> Fixtures.cached("winnow-table-base", dir) { base =>
        val p = new java.io.File(base, "fps").toString
        Corpus.writeWinnowTable(d, "text", "doc_id", p, k = 5, window = 4)
        p
      })
    val feedDir = Fixtures.cached(feedTag, dir)(Fixtures.feed(_, batches))
    val root = graft.Scratch.dir("curate")
    def path(name: String) = new java.io.File(root, name).toString
    try {
      (("sigs" -> baseSigs) +: baseFps).foreach { case (name, base) =>
        val from = java.nio.file.Paths.get(base)
        val to = java.nio.file.Paths.get(path(name))
        // recursive: the winnow table carries its df-state sidecar in an
        // underscore subdirectory, and a shallow copy would strand it
        val files = java.nio.file.Files.walk(from)
        try files.forEach { f =>
          val dst = to.resolve(from.relativize(f).toString)
          if (java.nio.file.Files.isDirectory(f))
            java.nio.file.Files.createDirectories(dst)
          else java.nio.file.Files.copy(f, dst)
          ()
        } finally files.close()
      }
      curate(spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(feedDir), path)
      val admitted = spark.read.parquet(path("admitted")).select(col("doc_id"))
      spark.createDataFrame(
        java.util.Arrays.asList(admitted.collect(): _*), admitted.schema)
    } finally graft.Scratch.delete(root)
  }
  val streamCurateSql: String = {
    val chain = "md5(text) || md5(text || 'a') || md5(text || 'b')"
    val tagged =
      s"""SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 5000000, substr(text, 11) FROM documents
         |  WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 6000000, $chain FROM documents
         |  WHERE doc_id % 5 = 1
         |  UNION ALL
         |  SELECT doc_id + 7000000, substr(text, 11) FROM documents
         |  WHERE doc_id % 5 = 2
         |  UNION ALL
         |  SELECT doc_id + 8000000, substr($chain, 11) FROM documents
         |  WHERE doc_id % 5 = 1
         |  UNION ALL
         |  SELECT doc_id + 9000000,
         |         md5(text || 'c') || md5(text || 'd') || md5(text || 'e')
         |  FROM documents WHERE doc_id % 5 = 3""".stripMargin
    s"""WITH ${minhashCtesOver(tagged)},
       |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
       |b0 AS (SELECT doc_id FROM corpus
       |       WHERE doc_id >= 5000000 AND doc_id < 7000000),
       |b1 AS (SELECT doc_id FROM corpus WHERE doc_id >= 7000000),
       |dup0 AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM p
       |  WHERE doc_a < 5000000 AND doc_b >= 5000000 AND doc_b < 7000000),
       |adm0 AS (SELECT doc_id FROM b0
       |         WHERE doc_id NOT IN (SELECT doc_id FROM dup0)),
       |dup1 AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM p
       |  WHERE doc_b >= 7000000
       |    AND (doc_a < 5000000
       |         OR doc_a IN (SELECT doc_id FROM adm0))),
       |adm1 AS (SELECT doc_id FROM b1
       |         WHERE doc_id NOT IN (SELECT doc_id FROM dup1))
       |SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1""".stripMargin
  }

  // -------------------- curate loop with the POLICY (blocklist) screen
  // continuousCurate with the third screen live: each batch passes
  // MinHash-LSH dedup AND an Aho-Corasick policy gate (folded matching,
  // >= 2 hits of the planted term reject). The semantics this lane
  // pins: a policy-REJECTED document's signatures never append, so a
  // later near-dup of blocked content ADMITS (+7e6 below: an excerpt
  // of batch 0's blocked chain2 docs) - rejected pages must not become
  // dedup evidence - while a near-dup of ADMITTED content (+9e6 vs the
  // +6e6 chains) still rejects through the live table. The policy
  // screen is one automaton pass per doc, zero exchanges, folded
  // (the planted 'QzxBlockA'/'qzxblocka' pair counts 2 under one
  // lowercase dictionary entry).
  def streamCuratePolicyQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val chain = concat(md5(col("text")), md5(concat(col("text"), lit("a"))),
      md5(concat(col("text"), lit("b"))))
    val chain2 = concat(md5(concat(col("text"), lit("p"))),
      md5(concat(col("text"), lit("q"))),
      md5(concat(col("text"), lit("r"))))
    val chain3 = concat(md5(concat(col("text"), lit("s"))),
      md5(concat(col("text"), lit("t"))),
      md5(concat(col("text"), lit("u"))))
    val b0 = d.where(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 5000000L).as("doc_id"),
        expr("substring(text, 11)").as("text"))
      .union(d.where(col("doc_id") % 5 === 1).select(
        (col("doc_id") + 6000000L).as("doc_id"), chain.as("text")))
      .union(d.where(col("doc_id") % 5 === 2).select(
        (col("doc_id") + 6500000L).as("doc_id"),
        concat(chain2, lit(" QzxBlockA qzxblocka")).as("text")))
    val b1 = d.where(col("doc_id") % 5 === 2).select(
        (col("doc_id") + 7000000L).as("doc_id"),
        substring(chain2, 11, 86).as("text"))
      .union(d.where(col("doc_id") % 5 === 3).select(
        (col("doc_id") + 8000000L).as("doc_id"), chain3.as("text")))
      .union(d.where(col("doc_id") % 5 === 1).select(
        (col("doc_id") + 9000000L).as("doc_id"),
        substring(chain, 11, 86).as("text")))
    curateLane(spark, dir, "curatep-src", winnow = false, Seq(b0, b1)) {
      (src, path) =>
        graft.streaming.StreamingOps.continuousCurate(
          src, path("sigs"), path("admitted"), "text", "doc_id", k = 5,
          threshold = 0.5, shufflePartitions = Some(8),
          blocklist = Seq("qzxblocka"), blocklistBlockAt = 2L)
    }
  }
  val streamCuratePolicySql: String = {
    val chain = "md5(text) || md5(text || 'a') || md5(text || 'b')"
    val chain2 = "md5(text || 'p') || md5(text || 'q') || md5(text || 'r')"
    val chain3 = "md5(text || 's') || md5(text || 't') || md5(text || 'u')"
    val tagged =
      s"""SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 5000000, substr(text, 11) FROM documents
         |  WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 6000000, $chain FROM documents
         |  WHERE doc_id % 5 = 1
         |  UNION ALL
         |  SELECT doc_id + 6500000, $chain2 || ' QzxBlockA qzxblocka'
         |  FROM documents WHERE doc_id % 5 = 2
         |  UNION ALL
         |  SELECT doc_id + 7000000, substr($chain2, 11, 86) FROM documents
         |  WHERE doc_id % 5 = 2
         |  UNION ALL
         |  SELECT doc_id + 8000000, $chain3 FROM documents
         |  WHERE doc_id % 5 = 3
         |  UNION ALL
         |  SELECT doc_id + 9000000, substr($chain, 11, 86) FROM documents
         |  WHERE doc_id % 5 = 1""".stripMargin
    s"""WITH ${minhashCtesOver(tagged)},
       |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
       |blk AS (
       |  SELECT doc_id FROM corpus
       |  WHERE doc_id >= 5000000
       |    AND len(list_filter(
       |      range(1, len(lower(nfc_normalize(text))) - 7),
       |      i -> substr(lower(nfc_normalize(text)), CAST(i AS INT), 9)
       |           = 'qzxblocka')) >= 2),
       |b0 AS (SELECT doc_id FROM corpus
       |       WHERE doc_id >= 5000000 AND doc_id < 7000000),
       |b1 AS (SELECT doc_id FROM corpus WHERE doc_id >= 7000000),
       |dup0 AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM p
       |  WHERE doc_a < 5000000 AND doc_b >= 5000000 AND doc_b < 7000000),
       |adm0 AS (SELECT doc_id FROM b0
       |         WHERE doc_id NOT IN (SELECT doc_id FROM dup0)
       |           AND doc_id NOT IN (SELECT doc_id FROM blk)),
       |dup1 AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM p
       |  WHERE doc_b >= 7000000
       |    AND (doc_a < 5000000
       |         OR doc_a IN (SELECT doc_id FROM adm0))),
       |adm1 AS (SELECT doc_id FROM b1
       |         WHERE doc_id NOT IN (SELECT doc_id FROM dup1)
       |           AND doc_id NOT IN (SELECT doc_id FROM blk))
       |SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1""".stripMargin
  }

  // ------------------------ curate loop with the winnowing quote screen
  // StreamingOps.continuousCurate with BOTH screens live: each batch is
  // screened by MinHash-LSH (near-dups) AND by positional winnowing
  // containment against a maintained fingerprint table (tiny verbatim
  // quotes — the regime LSH is Jaccard-blind to). Survivors' signatures
  // AND fingerprints append, so batch 1's quote of a document admitted
  // only in batch 0 (+7e6: 40-char excerpts of batch 0's novel md5
  // chains, J≈0.25 — invisible to the LSH screen) is rejected purely
  // because the fingerprint table is live. Batch composition: +5e6 =
  // 160-char quotes of corpus docs (quote-screen reject), +6e6 = novel
  // chains (admit), +7e6 = quotes of those (live-table reject), +8e6 =
  // LSH near-dups of corpus (LSH reject), +9e6 = novel (admit). The
  // oracle replays the sequential admit decisions with both screens:
  // its winnow df-cap recounts over held ∪ batch per screen, which by
  // construction equals what the loop reads from the MAINTAINED df
  // sidecar (stored corpus dfs + the batch's own) — the loop never
  // re-aggregates the corpus; the oracle, being SQL over raw tables,
  // replays the same value the slow way.
  def streamCurateQuotesQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    // 160-char chain: long enough that a 40-char excerpt sits below the
    // LSH threshold (J ≈ 36/156) while winnowing reads containment 10^4
    val chain5 = concat(md5(col("text")),
      md5(concat(col("text"), lit("a"))),
      md5(concat(col("text"), lit("b"))),
      md5(concat(col("text"), lit("c"))),
      md5(concat(col("text"), lit("d"))))
    val b0 = d.where(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 5000000L).as("doc_id"),
        expr("substring(text, 21, 160)").as("text"))
      .union(d.where(col("doc_id") % 7 === 1).select(
        (col("doc_id") + 6000000L).as("doc_id"), chain5.as("text")))
    val b1 = d.where(col("doc_id") % 7 === 1).select(
        (col("doc_id") + 7000000L).as("doc_id"),
        substring(chain5, 21, 40).as("text"))
      .union(d.where(col("doc_id") % 7 === 2).select(
        (col("doc_id") + 8000000L).as("doc_id"),
        expr("substring(text, 11)").as("text")))
      .union(d.where(col("doc_id") % 7 === 3).select(
        (col("doc_id") + 9000000L).as("doc_id"),
        concat(md5(concat(col("text"), lit("x"))),
          md5(concat(col("text"), lit("y"))),
          md5(concat(col("text"), lit("z")))).as("text")))
    curateLane(spark, dir, "curateq-src", winnow = true, Seq(b0, b1)) {
      (src, path) =>
        graft.streaming.StreamingOps.continuousCurate(
          src, path("sigs"), path("admitted"), "text", "doc_id", k = 5,
          threshold = 0.5,
          // 16, not the sibling lanes' 8: the batch FINGERPRINTING
          // fan-out (the lane's CPU) still wants width. The r11
          // rationale for 32 — corpus-side distincts over millions of
          // fingerprint rows per batch — is gone since the bulk screen
          // reads the pre-deduped doc-keyed projection and folds the df
          // sidecar (r12); measured 16 ≈ 32 on the lane total, and
          // narrower stages cut the many-tiny-stages floor everywhere
          // else in the batch body
          shufflePartitions = Some(16),
          winnowTablePath = path("fps"), minContainmentBp = 8000L,
          winnowMaxDf = 50L)
    }
  }
  lazy val streamCurateQuotesSql: String = {
    val chain5 = "md5(text) || md5(text || 'a') || md5(text || 'b') || " +
      "md5(text || 'c') || md5(text || 'd')"
    val tagged =
      s"""SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 5000000, substr(text, 21, 160) FROM documents
         |  WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 6000000, $chain5 FROM documents
         |  WHERE doc_id % 7 = 1
         |  UNION ALL
         |  SELECT doc_id + 7000000, substr($chain5, 21, 40) FROM documents
         |  WHERE doc_id % 7 = 1
         |  UNION ALL
         |  SELECT doc_id + 8000000, substr(text, 11) FROM documents
         |  WHERE doc_id % 7 = 2
         |  UNION ALL
         |  SELECT doc_id + 9000000,
         |         md5(text || 'x') || md5(text || 'y') || md5(text || 'z')
         |  FROM documents WHERE doc_id % 7 = 3""".stripMargin
    // one quote-screen replay: held ids vs batch ids, df cap over both.
    // Conditions use the %ID% placeholder (a blind textual doc_id
    // replace would also rewrite subquery columns).
    def quoteScreen(sfx: String, heldCond: String, batchCond: String) =
      s"""u$sfx AS (
         |  SELECT doc_id, h FROM ih
         |  WHERE (${heldCond.replace("%ID%", "doc_id")})
         |     OR (${batchCond.replace("%ID%", "doc_id")})),
         |rare$sfx AS (
         |  SELECT h FROM u$sfx GROUP BY h HAVING count(*) <= 50),
         |p$sfx AS MATERIALIZED (
         |  SELECT u$sfx.doc_id, u$sfx.h FROM u$sfx JOIN rare$sfx USING (h)),
         |n$sfx AS (SELECT doc_id, count(*) AS n FROM p$sfx GROUP BY doc_id),
         |qp$sfx AS (
         |  SELECT a.doc_id AS cid, b.doc_id AS bid, count(*) AS shared
         |  FROM p$sfx a JOIN p$sfx b ON a.h = b.h
         |  WHERE (${heldCond.replace("%ID%", "a.doc_id")})
         |    AND (${batchCond.replace("%ID%", "b.doc_id")})
         |  GROUP BY 1, 2),
         |qdup$sfx AS (
         |  SELECT DISTINCT bid AS doc_id FROM qp$sfx
         |  JOIN n$sfx na ON na.doc_id = qp$sfx.cid
         |  JOIN n$sfx nb ON nb.doc_id = qp$sfx.bid
         |  WHERE (shared * 10000) // least(na.n, nb.n) >= 8000)""".stripMargin
    s"""WITH ${minhashCtesOver(tagged)},
       |${winnowCtesW("corpus")},
       |ih AS (SELECT DISTINCT doc_id, h FROM fp_w),
       |mh AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
       |b0 AS (SELECT doc_id FROM corpus
       |       WHERE doc_id >= 5000000 AND doc_id < 7000000),
       |b1 AS (SELECT doc_id FROM corpus WHERE doc_id >= 7000000),
       |lsh0 AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM mh
       |  WHERE doc_a < 5000000 AND doc_b >= 5000000 AND doc_b < 7000000),
       |${quoteScreen("0", "%ID% < 5000000",
      "%ID% >= 5000000 AND %ID% < 7000000")},
       |adm0 AS (
       |  SELECT doc_id FROM b0
       |  WHERE doc_id NOT IN (SELECT doc_id FROM lsh0)
       |    AND doc_id NOT IN (SELECT doc_id FROM qdup0)),
       |lsh1 AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM mh
       |  WHERE doc_b >= 7000000
       |    AND (doc_a < 5000000
       |         OR doc_a IN (SELECT doc_id FROM adm0))),
       |${quoteScreen("1",
      "%ID% < 5000000 OR %ID% IN (SELECT doc_id FROM adm0)",
      "%ID% >= 7000000")},
       |adm1 AS (
       |  SELECT doc_id FROM b1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM lsh1)
       |    AND doc_id NOT IN (SELECT doc_id FROM qdup1))
       |SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1""".stripMargin
  }

  // ------------------------------------------------- document chunking
  // Overlapping token-window chunking (Corpus.chunkDocs): 40-token
  // chunks every 30 tokens — the RAG / embedding-prep explode. All
  // integer arithmetic (start indices, slice bounds, token counts), so
  // the oracle is exact; DuckDB's 1-based inclusive list slice
  // ta[a:b] ≡ Spark's slice(ta, a, window).
  def chunkQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.chunkDocs(docs(spark, dir), "text", "doc_id",
      window = 40, stride = 30)
  val chunkSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ta
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, ta,
      |    unnest(range(0, greatest(0,
      |      CAST(ceil((len(ta) - 40) / 30.0) AS BIGINT)) + 1)) AS i
      |  FROM t),
      |c AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
      |    array_to_string(ta[CAST(i*30 + 1 AS INT):CAST(i*30 + 40 AS INT)],
      |                    ' ') AS chunk
      |  FROM s)
      |SELECT doc_id, chunk_id, chunk,
      |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tok
      |FROM c""".stripMargin

  // --------------------------------------------- hash-sharded export
  // ShardExport.writeSharded: content-hash shard assignment (portable
  // hash32 % 64 — the split follows the document, like x_dataset_split),
  // one aligned repartition so each task writes whole shards, then the
  // manifest is computed FROM THE WRITTEN FILES — the oracle gate checks
  // the sink's actual content, not the pre-write plan.
  def shardExportQ(spark: SparkSession, dir: String): DataFrame = {
    // the export itself runs once per (session, sf-dir) — repeated
    // invocations (bench iterations) read the already-written shards,
    // like the clustered/zorder fixtures
    val path = Fixtures.cached("shards", dir) { root =>
      val p = new java.io.File(root, "shards").toString
      graft.sources.ShardExport.writeSharded(
        docs(spark, dir).select(col("doc_id"), col("text"),
          col("n_chars")),
        "text", 64, p)
      p
    }
    val back = spark.read.parquet(path)
    back.groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
  }
  val shardExportSql: String =
    s"""WITH b AS (
      |  SELECT doc_id, n_chars, ${duckHash32("text")} % 64 AS shard
      |  FROM documents)
      |SELECT shard, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM b GROUP BY 1""".stripMargin

  // --------------------------------------------- bigram LM perplexity
  // CCNet-style perplexity filter signal (LanguageModel.bigramCrossEntropy):
  // each document's cross-entropy under the corpus's own add-one-smoothed
  // bigram model. Exactness: per-bigram ln quantized to micro-nats with
  // floor (floor of an identical double is identical on both engines),
  // per-doc totals are integer sums (order-independent), final score is
  // one IEEE division — deliberately unrounded, bit-identical.
  def lmScoreQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LanguageModel.bigramCrossEntropy(
      docs(spark, dir), "text", "doc_id")
  val lmScoreSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ta
      |  FROM documents),
      |bgs AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ta) >= 2 THEN
      |      list_transform(range(1, len(ta)),
      |        i -> ta[CAST(i AS INT)] || ' ' || ta[CAST(i AS INT)+1])
      |    ELSE [] END) AS bg
      |  FROM t),
      |uni AS (
      |  SELECT w, count(*) AS c1
      |  FROM (SELECT unnest(ta) AS w FROM t) GROUP BY 1),
      |vv AS (SELECT count(*) AS v FROM uni),
      |bi AS (SELECT bg, count(*) AS cb FROM bgs GROUP BY 1),
      |sc AS (
      |  SELECT g.doc_id,
      |    CAST(floor(ln((bi.cb + 1.0) / (uni.c1 + vv.v)) * 1e6) AS BIGINT)
      |      AS mn
      |  FROM bgs g JOIN bi USING (bg)
      |  JOIN uni ON uni.w = split_part(g.bg, ' ', 1), vv)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  -CAST(sum(mn) AS DOUBLE) / (count(*) * 1e6) AS xent
      |FROM sc GROUP BY 1""".stripMargin

  // ------------------------------------------------------ BM25 retrieval
  // BM25 top-20 for the query {spark, hash, join}
  // (LanguageModel.bm25TopK, k1=1.2, b=0.75). Same micro-unit floor
  // quantization as the LM score: integer sums make the ranking and the
  // tie-breaking engine-independent.
  def bm25Q(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LanguageModel.bm25TopK(
      docs(spark, dir), "text", "doc_id",
      Seq("spark", "hash", "join"), k = 20)
  val bm25Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ta
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(ta) AS w FROM t),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
      |       WHERE w IN ('spark', 'hash', 'join') GROUP BY 1, 2),
      |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT tf.doc_id,
      |    CAST(floor(
      |      ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
      |      (tf.tf * 2.2) /
      |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl /
      |                      (CAST(st.sumdl AS DOUBLE) / st.n))) *
      |      1e6) AS BIGINT) AS cu
      |  FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id), st),
      |agg AS (SELECT doc_id, sum(cu) / 1e6 AS score FROM sc GROUP BY 1)
      |SELECT doc_id, score,
      |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
      |    AS rank
      |FROM agg ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // ------------------------------------------------- sequence packing
  // Assign each document to a fixed-budget training sequence (2048
  // whitespace tokens) by running token total — the deterministic core
  // of the concat-and-chunk step every LLM data pipeline runs between
  // curation and tokenization. Packing is per SOURCE (partition by
  // source, order by doc_id): a global order would serialize into one
  // sort at 100 TB, while per-source packing parallelizes across the
  // partition key and keeps each shard's documents domain-coherent.
  // seq_id = the sequence the document STARTS in (greedy order-
  // preserving concat; documents may straddle their boundary, exactly
  // like real packing with EOS joins).
  def seqPackQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir).select(col("doc_id"), col("source"),
        TextFns.tokenCount(col("text")).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", expr("(cum - n_tok) div 2048"))
      .drop("cum")
  }
  val seqPackSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT *, sum(n_tok) OVER
      |    (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |    AS cum
      |  FROM t)
      |SELECT doc_id, source, n_tok,
      |  CAST((cum - n_tok) // 2048 AS BIGINT) AS seq_id
      |FROM c""".stripMargin

  // ------------------------------------------ packing efficiency audit
  // The report a packing run is judged by: per source, how many
  // 2048-token sequences the greedy concat produced, the fill ratio
  // (total tokens / capacity — waste lives only in each source's last
  // partial sequence), and how many documents STRADDLE a sequence
  // boundary (the fragmentation a loss-masking scheme must handle —
  // a doc straddles iff its start token and last token land in
  // different sequences). Same windowed running total as x_seq_pack;
  // one extra aggregation on the partition key.
  def packReportQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir).select(col("doc_id"), col("source"),
        TextFns.tokenCount(col("text")).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("straddles",
        expr("(cum - n_tok) div 2048") =!= expr("(cum - 1) div 2048"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        (max(expr("(cum - 1) div 2048")) + 1L).as("n_seqs"),
        sum(when(col("straddles"), 1L).otherwise(0L)).as("n_straddlers"))
      .withColumn("fill_ratio", round(col("total_tokens").cast("double") /
        (col("n_seqs") * 2048L).cast("double"), 4))
  }
  val packReportSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT *, sum(n_tok) OVER
      |    (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |    AS cum
      |  FROM t)
      |SELECT source,
      |  count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |  CAST(max((cum - 1) // 2048) + 1 AS BIGINT) AS n_seqs,
      |  CAST(sum(CASE WHEN (cum - n_tok) // 2048 != (cum - 1) // 2048
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
      |  round(sum(n_tok)::DOUBLE / ((max((cum - 1) // 2048) + 1) * 2048), 4)
      |    AS fill_ratio
      |FROM c GROUP BY 1""".stripMargin

  // --------------------------------------- scalar-quantized (SQ8) ANN
  // The compressed-corpus search path: per-dimension min/max maps every
  // coordinate to an 8-bit code (1 byte/dim vs 4-8 raw — the 100 TB
  // memory/IO play), search scores the exact query against the decoded
  // corpus. Quantization is deterministic (exact min/max + one fixed
  // IEEE evaluation order), so the oracle replays encode+decode+search
  // verbatim.
  def annSq8Q(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.sqTopK(emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", 5)
  }
  /** The SQ8 encode→decode oracle chain ending in `dec(n_id, dv)` —
    * shared by the from-scratch search, and the rerank query's
    * candidate stage. */
  private val sq8DecCtes: String =
    """base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |stats AS (
      |  SELECT pos, min(val) AS mn, max(val) AS mx FROM (
      |    SELECT unnest(v) AS val, generate_subscripts(v, 1) AS pos
      |    FROM base)
      |  GROUP BY pos),
      |sv AS (
      |  SELECT list(mn ORDER BY pos) AS mnv, list(mx ORDER BY pos) AS mxv
      |  FROM stats),
      |enc AS (
      |  SELECT vec_id AS n_id,
      |    list_transform(range(1, len(v) + 1), i -> CASE
      |      WHEN mxv[CAST(i AS INT)] = mnv[CAST(i AS INT)] THEN 0.0
      |      ELSE floor((v[CAST(i AS INT)] - mnv[CAST(i AS INT)])
      |           / (mxv[CAST(i AS INT)] - mnv[CAST(i AS INT)]) * 255.0)
      |      END) AS codes
      |  FROM base, sv),
      |dec AS (
      |  SELECT n_id,
      |    list_transform(range(1, len(codes) + 1),
      |      i -> mnv[CAST(i AS INT)] + codes[CAST(i AS INT)]
      |           * (mxv[CAST(i AS INT)] - mnv[CAST(i AS INT)]) / 255.0)
      |      AS dv
      |  FROM enc, sv)""".stripMargin
  val annSq8Sql: String =
    s"""WITH $sq8DecCtes,
      |scored AS (
      |  SELECT q.vec_id AS q_id, d.n_id,
      |    round(list_dot_product(q.v, d.dv) /
      |      (sqrt(list_dot_product(q.v, q.v))
      |       * sqrt(list_dot_product(d.dv, d.dv))), 4) AS sim
      |  FROM base q JOIN dec d ON q.vec_id <> d.n_id
      |  WHERE q.vec_id < 20)
      |SELECT q_id, n_id, sim,
      |  CAST(row_number() OVER
      |    (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rank
      |FROM scored
      |QUALIFY row_number() OVER
      |  (PARTITION BY q_id ORDER BY sim DESC, n_id) <= 5""".stripMargin

  // ---------------------------------------- reciprocal-rank fusion
  // Similarity.rrfFuse gated end to end: the exact cosine ranking and
  // the SQ8-compressed ranking fused by reciprocal rank (each list
  // contributes 10⁶ div (60+rank)) into one hybrid top-5 — the
  // combiner pattern hybrid retrieval (dense+sparse, exact+quantized,
  // blue/green index) runs in serving. Integer fusion scores, so the
  // fused order carries no float compare; the oracle replays both
  // rankings off the shared SQ8 chain and the same fusion arithmetic.
  def rankFusionQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    Similarity.rrfFuse(
      Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5),
      Similarity.sqTopK(q, emb, "vec_id", "embedding", 5),
      k = 5)
  }
  val rankFusionSql: String = {
    def cos(a: String, b: String) =
      s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a))" +
        s" * sqrt(list_dot_product($b, $b))), 4)"
    s"""WITH $sq8DecCtes,
       |ex AS (
       |  SELECT q_id, n_id, rank FROM (
       |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cos("q.v", "n.v")} DESC, n.vec_id) AS rank
       |    FROM base q JOIN base n ON q.vec_id <> n.vec_id
       |    WHERE q.vec_id < 20)
       |  WHERE rank <= 5),
       |sq AS (
       |  SELECT q_id, n_id, rank FROM (
       |    SELECT q.vec_id AS q_id, d.n_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cos("q.v", "d.dv")} DESC, d.n_id) AS rank
       |    FROM base q JOIN dec d ON q.vec_id <> d.n_id
       |    WHERE q.vec_id < 20)
       |  WHERE rank <= 5),
       |ar AS (SELECT q_id, n_id,
       |         CAST(1000000 // (60 + rank) AS BIGINT) AS sa FROM ex),
       |br AS (SELECT q_id, n_id,
       |         CAST(1000000 // (60 + rank) AS BIGINT) AS sb FROM sq),
       |f AS (
       |  SELECT COALESCE(ar.q_id, br.q_id) AS q_id,
       |    COALESCE(ar.n_id, br.n_id) AS n_id,
       |    COALESCE(sa, 0) + COALESCE(sb, 0) AS fscore
       |  FROM ar FULL JOIN br
       |    ON ar.q_id = br.q_id AND ar.n_id = br.n_id)
       |SELECT q_id, n_id, CAST(fscore AS BIGINT) AS fscore,
       |  CAST(row_number() OVER
       |    (PARTITION BY q_id ORDER BY fscore DESC, n_id) AS BIGINT)
       |    AS rank
       |FROM f
       |QUALIFY row_number() OVER
       |  (PARTITION BY q_id ORDER BY fscore DESC, n_id) <= 5""".stripMargin
  }

  // --------------------------------- compressed-candidates exact rerank
  // Similarity.sqRerankTopK end to end: the SQ8 pass proposes 20
  // candidates per query, the exact pass re-scores ONLY those against
  // their full-precision vectors and keeps the top 5 — the asymmetric
  // "search compressed, rerank exact" serving pattern. The oracle runs
  // the identical two stages; the exact stage's fetch is an id join,
  // so at 100 TB the full-precision read is O(cand·|queries|) point
  // lookups, never a second corpus scan.
  def annRerankQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.sqRerankTopK(emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", k = 5, cand = 20)
  }
  val annRerankSql: String =
    s"""WITH $sq8DecCtes,
      |cand AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q.vec_id AS q_id, d.n_id,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        round(list_dot_product(q.v, d.dv) /
      |          (sqrt(list_dot_product(q.v, q.v))
      |           * sqrt(list_dot_product(d.dv, d.dv))), 4) DESC, d.n_id)
      |        AS rk
      |    FROM base q JOIN dec d ON q.vec_id <> d.n_id
      |    WHERE q.vec_id < 20)
      |  WHERE rk <= 20),
      |rr AS (
      |  SELECT c.q_id, c.n_id,
      |    round(list_dot_product(q.v, n.v) /
      |      (sqrt(list_dot_product(q.v, q.v))
      |       * sqrt(list_dot_product(n.v, n.v))), 4) AS sim
      |  FROM cand c JOIN base q ON q.vec_id = c.q_id
      |              JOIN base n ON n.vec_id = c.n_id)
      |SELECT q_id, n_id, sim,
      |  CAST(row_number() OVER
      |    (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rank
      |FROM rr
      |QUALIFY row_number() OVER
      |  (PARTITION BY q_id ORDER BY sim DESC, n_id) <= 5""".stripMargin

  // ----------------------------------- random projection (JL) + audit
  // Similarity.randomProject gated through its distance-preservation
  // audit: 64-dim embeddings projected to 16 dims with the portable
  // ±1 md5-sign matrix, then for 20 fixed pairs (a, a+100) the cosine
  // in full space vs projected space, both rounded — the table that
  // decides whether the 4× IO cut is safe for a given corpus. The
  // oracle rebuilds the same matrix from the same md5 parity and folds
  // every projection in the same ascending-index order.
  def randomProjectionQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val rp = Similarity.randomProject(emb, "vec_id", "embedding",
      inDim = 64, outDim = 16)
    val full = emb.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    val a = full.join(rp, "vec_id").where(col("vec_id") < 20)
      .select(col("vec_id").as("a"), col("v").as("va"),
        col("rv").as("ra"))
    val b = full.join(rp, "vec_id")
      .select(col("vec_id").as("b"), col("v").as("vb"),
        col("rv").as("rb"))
    a.join(b, col("a") + 100 === col("b"))
      .select(col("a"), col("b"),
        round(Similarity.dot(col("va"), col("vb")) /
          (Similarity.norm(col("va")) * Similarity.norm(col("vb"))), 4)
          .as("cos_full"),
        round(Similarity.dot(col("ra"), col("rb")) /
          (Similarity.norm(col("ra")) * Similarity.norm(col("rb"))), 4)
          .as("cos_rp"))
  }
  val randomProjectionSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |mat AS (
       |  SELECT j,
       |    list(CASE WHEN ${duckHash32(
              "CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)")} % 2 = 0
       |         THEN 1.0 ELSE -1.0 END ORDER BY i) AS s
       |  FROM range(64) t(i) CROSS JOIN range(16) u(j)
       |  GROUP BY j),
       |rp AS (
       |  SELECT vec_id,
       |    list(list_dot_product(v, m.s) ORDER BY m.j) AS rv
       |  FROM base CROSS JOIN mat m GROUP BY vec_id, v),
       |pairs AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |    round(list_dot_product(a.v, b.v) /
       |      (sqrt(list_dot_product(a.v, a.v))
       |       * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_full,
       |    round(list_dot_product(ra.rv, rb.rv) /
       |      (sqrt(list_dot_product(ra.rv, ra.rv))
       |       * sqrt(list_dot_product(rb.rv, rb.rv))), 4) AS cos_rp
       |  FROM base a JOIN base b ON b.vec_id = a.vec_id + 100
       |  JOIN rp ra ON ra.vec_id = a.vec_id
       |  JOIN rp rb ON rb.vec_id = b.vec_id
       |  WHERE a.vec_id < 20)
       |SELECT a, b, cos_full, cos_rp FROM pairs""".stripMargin

  // ---------------------------------------- streaming DSIR serving
  // The serving half of distribution-matched selection, online:
  // documents arrive in TWO micro-batches (doc_id < 250, then >= 250)
  // and each is scored against the SAME stored (bucket, lr_micro)
  // model the batch query trains — foreachBatch delegates to
  // Selection.scoreWithModel, so streamed weights are identical to
  // the batch path by construction, and the oracle is the weight half
  // of x_dsir_select's SQL. Per-batch work: one gram pass + one
  // broadcast model join; no re-training on the serve path.
  def streamSelectQ(spark: SparkSession, dir: String): DataFrame = {
    val model = Fixtures.cached("dsir-model", dir) { root =>
      val path = new java.io.File(root, "model").toString
      graft.operators.Selection.dsirModel(
          docs(spark, dir), "text", "doc_id",
          isTarget = col("lang") === "en" &&
            col("source").isin("src0", "src1", "src2"),
          n = 2, buckets = 256)
        .write.mode("overwrite").parquet(path)
      path
    }
    val out = Fixtures.cached("stream-select", dir) { root =>
      val d = docs(spark, dir)
      val feedDir = Fixtures.feed(root,
        Seq((0L, 250L), (250L, 100000L)).map { case (lo, hi) =>
          d.filter(col("doc_id") >= lo && col("doc_id") < hi)
        })
      val served = new java.io.File(root, "served").toString
      graft.streaming.StreamingOps.continuousSelectServe(
        spark.readStream.schema(d.schema)
          .option("maxFilesPerTrigger", 1).parquet(feedDir),
        model, served, "text", "doc_id")
      served
    }
    spark.read.parquet(out).select(col("id").as("doc_id"), col("w_micro"))
  }
  val streamSelectSql: String =
    s"""WITH $dsirSumsCtes
       |SELECT d.doc_id, CAST(coalesce(s.w, 0) AS BIGINT) AS w_micro
       |FROM documents d LEFT JOIN sums s ON s.doc_id = d.doc_id""".stripMargin

  // ------------------------------------------- eval-proximity scoring
  /** (id, w_micro) for every embedding row: micro-quantized cosine to
    * the INTEGER SUM centroid of the eval slice (vec_id < 20). The
    * per-dimension centroid is an exact BIGINT sum of round(x*1e6)
    * micro-units — order-independent, and cosine is scale-invariant so
    * the sum stands in for the mean with no division (integer `div`
    * truncates toward zero on Spark but floors in DuckDB; the sum
    * sidesteps the disagreement entirely). Shared by the proximity
    * query and the MMR pool below. */
  private def evalCentroidScored(spark: SparkSession,
                                 dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val cent = base.where(col("vec_id") < 20)
      .select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum(round(col("x") * lit(1000000.0d), 0).cast("long")).as("s"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("s")))),
        t => t.getField("s").cast("double") / lit(1000000.0d)).as("cv"))
    base.crossJoin(broadcast(cent))
      .select(col("vec_id").as("id"),
        round(round(Similarity.dot(col("v"), col("cv")) /
            (Similarity.norm(col("v")) * Similarity.norm(col("cv"))), 4)
          * lit(1000000.0d), 0).cast("long").as("w_micro"))
  }
  /** Oracle twin of [[evalCentroidScored]], ending in
    * `scored(vec_id, w_micro)` (requires a `base(vec_id, v)` CTE). */
  private val evalScoredCtes: String =
    """base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (
      |  SELECT list(CAST(s AS DOUBLE) / 1000000 ORDER BY pos) AS cv
      |  FROM (
      |    SELECT pos, sum(CAST(round(x * 1000000, 0) AS BIGINT)) AS s
      |    FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos
      |          FROM base WHERE vec_id < 20)
      |    GROUP BY pos)),
      |scored AS (
      |  SELECT vec_id,
      |    CAST(round(round(list_dot_product(v, cv) /
      |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))),
      |      4) * 1000000, 0) AS BIGINT) AS w_micro
      |  FROM base, cent)""".stripMargin

  // x_eval_proximity: targeted-selection scoring — every corpus
  // embedding ranked by closeness to the eval-set centroid (the
  // gradient-free proxy for "looks like what we evaluate on"), fed
  // through the same distributed boundary cut as DSIR. The complement
  // of x_dsir_select: DSIR matches an n-gram DISTRIBUTION, this
  // matches a dense-embedding REGION.
  def evalProximityQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Selection
      .selectByWeight(evalCentroidScored(spark, dir), keep = 100)
      .select(col("id").as("vec_id"), col("w_micro"), col("selected"))
  val evalProximitySql: String =
    s"""WITH $evalScoredCtes,
       |topk AS (
       |  SELECT w_micro, -vec_id AS nid FROM scored
       |  ORDER BY w_micro DESC, vec_id LIMIT 100),
       |kth AS (
       |  SELECT w_micro AS bw, nid AS bnid FROM topk
       |  ORDER BY w_micro, nid LIMIT 1)
       |SELECT s.vec_id, s.w_micro,
       |  (s.w_micro > k.bw OR (s.w_micro = k.bw AND -s.vec_id >= k.bnid))
       |    AS selected
       |FROM scored s, kth k""".stripMargin

  // ------------------------------------- MMR diverse subset selection
  // Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998)
  // over a BOUNDED candidate pool: greedily pick 8 of the 50 most
  // eval-proximate vectors, each round's winner maximizing
  // relevance − max-similarity-to-already-selected (λ=1/2 folded out:
  // same argmax), every quantity an exact micro-int so both engines
  // agree on every argmax. Greedy selection is inherently sequential —
  // each of the 8 rounds is a DISTRIBUTED score-and-argmax
  // (TakeOrdered limit 1) whose single winner row is the documented
  // O(1) driver scalar; at 100 TB the pool is a pre-selected top-N
  // (bounded by construction), never the corpus, so pool×selected
  // rescoring stays O(N·k). The oracle unrolls the same 8 rounds as
  // materialized CTEs.
  def mmrDiverseQ(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val pool = evalCentroidScored(spark, dir).where(col("id") < 50)
      .join(base, col("id") === col("vec_id"))
      .select(col("id"), col("w_micro"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      pool.count()
      var selected = Vector.empty[Long]
      for (_ <- 0 until 8) {
        val pick =
          if (selected.isEmpty)
            pool.orderBy(col("w_micro").desc, col("id")).limit(1)
              .select(col("id"))
          else {
            val sel = pool
              .where(col("id").isin(selected: _*))
              .select(col("id").as("s_id"), col("v").as("sv"))
            pool.where(!col("id").isin(selected: _*))
              .crossJoin(broadcast(sel))
              .withColumn("sim_micro",
                round(round(Similarity.dot(col("v"), col("sv")) /
                    (Similarity.norm(col("v")) * Similarity.norm(col("sv"))),
                  4) * lit(1000000.0d), 0).cast("long"))
              .groupBy(col("id"), col("w_micro"))
              .agg(max(col("sim_micro")).as("msim"))
              .orderBy((col("w_micro") - col("msim")).desc, col("id"))
              .limit(1).select(col("id"))
          }
        selected = selected :+ pick.collect()(0).getLong(0)
      }
      import spark.implicits._
      selected.zipWithIndex
        .map { case (id, i) => ((i + 1).toLong, id) }
        .toDF("ord", "vec_id")
    } finally { pool.unpersist(false); () }
  }
  val mmrDiverseSql: String = {
    val sim =
      """CAST(round(round(list_dot_product(cb.v, sb.v) /
        |      (sqrt(list_dot_product(cb.v, cb.v))
        |       * sqrt(list_dot_product(sb.v, sb.v))), 4) * 1000000, 0)
        |     AS BIGINT)""".stripMargin
    val rounds = (2 to 8).map { r =>
      s"""m$r AS MATERIALIZED (
         |  SELECT c.vec_id, c.w_micro, max($sim) AS msim
         |  FROM pool c
         |  JOIN base cb ON cb.vec_id = c.vec_id
         |  CROSS JOIN a${r - 1} s
         |  JOIN base sb ON sb.vec_id = s.vec_id
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM a${r - 1})
         |  GROUP BY c.vec_id, c.w_micro),
         |p$r AS MATERIALIZED (
         |  SELECT $r AS ord, vec_id FROM m$r
         |  ORDER BY (w_micro - msim) DESC, vec_id LIMIT 1),
         |a$r AS MATERIALIZED (
         |  SELECT * FROM a${r - 1} UNION ALL SELECT * FROM p$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $evalScoredCtes,
       |pool AS MATERIALIZED (
       |  SELECT vec_id, w_micro FROM scored WHERE vec_id < 50),
       |a1 AS MATERIALIZED (
       |  SELECT 1 AS ord, vec_id FROM pool
       |  ORDER BY w_micro DESC, vec_id LIMIT 1),
       |$rounds
       |SELECT CAST(ord AS BIGINT) AS ord, vec_id FROM a8""".stripMargin
  }

  // ------------------------------------------- winnowing fingerprints
  // Corpus.winnowingFingerprints gated end to end: the minimum of
  // every 4 consecutive 5-shingle hashes — the sparse fingerprint set
  // with the COVERAGE guarantee (any shared substring of length >= 8
  // shares a selected fingerprint), vs MinHash's probabilistic bound.
  // The oracle replays the same packed-integer window minimum; both
  // engines select on one BIGINT, so ties resolve identically.
  def winnowingQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus
      .winnowingFingerprints(docs(spark, dir), "text", "doc_id",
        k = 5, window = 4)
      .select(col("id").as("doc_id"), col("pos"), col("h"))
  /** Oracle winnowing chain ending in `fp(doc_id, pos, h)` —
    * MATERIALIZED because the pairs query references it on both join
    * sides. */
  private val winnowCtes: String =
    """sh AS (
      |  SELECT doc_id,
      |    list_transform(
      |      range(1, greatest(length(lower(trim(text)))-4, 1)+1),
      |      i -> substr(lower(trim(text)), CAST(i AS INT), 5)) AS ss
      |  FROM documents),
      |hr AS (
      |  SELECT doc_id, pos,
      |    list_reduce(
      |      list_concat([CAST(0 AS BIGINT)],
      |        list_transform(range(1, length(s)+1),
      |          c -> CAST(unicode(substr(s, CAST(c AS INT), 1)) AS BIGINT))),
      |      (a, c) -> (a*31 + c) % 1000000007) AS h
      |  FROM (SELECT doc_id, unnest(ss) AS s,
      |          generate_subscripts(ss, 1) - 1 AS pos
      |        FROM sh)),
      |win AS (
      |  SELECT doc_id, pos,
      |    count(*) OVER (PARTITION BY doc_id) AS n,
      |    min(h * 2147483648 + pos) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      |  FROM hr),
      |fp AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |    CAST(sel % 2147483648 AS BIGINT) AS pos,
      |    CAST(sel // 2147483648 AS BIGINT) AS h
      |  FROM win WHERE pos <= n - 4)""".stripMargin
  /** `ih`, `rare` and `p(doc_id, h)`: the distinct fingerprints of
    * `fp` under the df cap of 50 — the screen input of
    * Corpus.winnowingCandidatesFrom and the containment screens. */
  private val rareFpCtes: String =
    """ih AS (SELECT DISTINCT doc_id, h FROM fp),
      |rare AS (SELECT h FROM ih GROUP BY h HAVING count(*) <= 50),
      |p AS MATERIALIZED (
      |  SELECT ih.doc_id, ih.h FROM ih JOIN rare USING (h))""".stripMargin
  /** [[winnowCtes]] over `src` with every CTE name suffixed `_w`, for
    * statements whose minhash chain already uses those names. */
  private def winnowCtesW(src: String): String = winnowCtes
    .replace("FROM documents", s"FROM $src")
    .replace("sh AS (", "sh_w AS (")
    .replace("FROM sh)", "FROM sh_w)")
    .replace("hr AS (", "hr_w AS (")
    .replace("FROM hr)", "FROM hr_w)")
    .replace("win AS (", "win_w AS (")
    .replace("FROM win WHERE", "FROM win_w WHERE")
    .replace("fp AS MATERIALIZED (", "fp_w AS MATERIALIZED (")
  val winnowingSql: String =
    s"""WITH $winnowCtes
       |SELECT doc_id, pos, h FROM fp""".stripMargin

  // --------------------------------------- winnowing candidate pairs
  // Corpus.winnowingCandidates gated end to end: the MOSS matching
  // step — pairs sharing >= 5 distinct df-capped fingerprints, with
  // the shared count. The deterministic (coverage-guaranteed)
  // complement to the MinHash screen; same inverted-index shape as
  // x_sparse_sim, id-only candidates.
  def winnowPairsQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.winnowingCandidatesFrom(
      spark.read.parquet(winnowTableFor(spark, dir)),
      maxDf = 50, minShared = 5)

  /** Session-materialized winnowing fingerprint table — the sig-table
    * contract applied to the MOSS index: fingerprints are extracted
    * ONCE per (session, sf-dir); the match's three references read the
    * stored projection. */
  private def winnowTableFor(spark: SparkSession, dir: String): String =
    Fixtures.cached("winnow-fps", dir) { root =>
      val path = new java.io.File(root, "fps").toString
      graft.operators.Corpus
        .winnowingFingerprints(docs(spark, dir), "text", "doc_id",
          k = 5, window = 4)
        .write.mode("overwrite").parquet(path)
      path
    }
  val winnowPairsSql: String =
    s"""WITH $winnowCtes,
       |$rareFpCtes
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  count(*) AS n_shared
       |FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin

  // ------------------------------------- incremental winnowing screen
  // The MOSS index MAINTAINED: a batch arrives (doc_id % 10 == 0 plays
  // the new docs), only ITS fingerprints are extracted — ONCE, written
  // as appended files beside the stored base table (the corpus is
  // never re-fingerprinted) — and the screen reads base+batch as one
  // parquet scan. The screen references its input several times (df
  // cap + both self-join sides); feeding it the lazy extraction plan
  // re-ran the batch extraction AND a full-table distinct per
  // reference (84 CPU-s in BENCH round 6 continuation 4 vs
  // x_winnow_pairs' 8 over the same stored table). Appending the batch
  // files first — exactly how the maintained table grows in
  // production — makes every re-reference a cheap columnar re-scan.
  // The df-cap is recomputed over base ∪ batch — the correct
  // maintenance rule (a fingerprint the batch pushes over the cap
  // stops pairing, exactly as a full rebuild would decide) — so the
  // output is hash-equal to the full screen filtered to the batch,
  // which is what the oracle computes.
  def winnowIncrementalQ(spark: SparkSession, dir: String): DataFrame = {
    val batch = Fixtures.cached("winnow-fps-batch", dir) { root =>
      val path = new java.io.File(root, "fps").toString
      graft.operators.Corpus
        .winnowingFingerprints(
          docs(spark, dir).filter(col("doc_id") % 10 === 0),
          "text", "doc_id", k = 5, window = 4)
        .write.mode("overwrite").parquet(path)
      path
    }
    graft.operators.Corpus
      .winnowingCandidatesFrom(
        spark.read.parquet(winnowBaseTableFor(spark, dir), batch),
        maxDf = 50, minShared = 5)
      .where(col("id_a") % 10 === 0 || col("id_b") % 10 === 0)
  }

  /** Session-materialized winnowing fingerprints of the NON-batch docs
    * (doc_id % 10 != 0) — the stored half of the incremental screen. */
  private def winnowBaseTableFor(spark: SparkSession, dir: String): String =
    Fixtures.cached("winnow-fps-base", dir) { root =>
      val path = new java.io.File(root, "fps").toString
      graft.operators.Corpus
        .winnowingFingerprints(
          docs(spark, dir).filter(col("doc_id") % 10 =!= 0),
          "text", "doc_id", k = 5, window = 4)
        .write.mode("overwrite").parquet(path)
      path
    }
  val winnowIncrementalSql: String =
    s"""WITH $winnowCtes,
       |$rareFpCtes,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    count(*) AS n_shared
       |  FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 5)
       |SELECT id_a, id_b, n_shared FROM pairs
       |WHERE id_a % 10 = 0 OR id_b % 10 = 0""".stripMargin

  // -------------------------------- winnowing positional containment
  // Corpus.winnowingContainment gated end to end — the wide-recall
  // containment screen for the TINY-QUOTE regime (r7 verdict item 6):
  // the LSH containment screen's recall is bounded by the pair's
  // Jaccard, so a 160-char quote inside a large page never
  // band-collides; winnowing's coverage guarantee surfaces it
  // deterministically, and a verbatim excerpt's fingerprint set is
  // exactly contained in its source's (the packed-minimum argmin is
  // shift-invariant within a window). Fixture plants quotes
  // (substr(text, 21, 160), ids +8e6) for every 7th doc; each planted
  // pair must read containment_bp = 10000 regardless of the size
  // ratio. Fingerprints come from a stored table (the sig-table
  // contract); the oracle replays the same winnowing chain over the
  // augmented corpus.
  def containmentWinnowQ(spark: SparkSession, dir: String): DataFrame = {
    val fps = Fixtures.cached("winnow-fps-contain", dir) { root =>
      val path = new java.io.File(root, "fps").toString
      val base = docs(spark, dir).select(col("doc_id"), col("text"))
      val quotes = docs(spark, dir).where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 8000000L).as("doc_id"),
          expr("substring(text, 21, 160)").as("text"))
      graft.operators.Corpus
        .winnowingFingerprints(base.unionByName(quotes), "text", "doc_id",
          k = 5, window = 4)
        .write.mode("overwrite").parquet(path)
      path
    }
    graft.operators.Corpus.winnowingContainment(
      spark.read.parquet(fps), maxDf = 50, minContainmentBp = 8000L)
  }
  val containmentWinnowSql: String =
    s"""WITH $quoteBatchCtes,
       |$containPairCtes
       |SELECT
       |  CASE WHEN na.n <= nb.n THEN pr.id_a ELSE pr.id_b END AS doc_small,
       |  CASE WHEN na.n <= nb.n THEN pr.id_b ELSE pr.id_a END AS doc_large,
       |  least(na.n, nb.n) AS n_small,
       |  greatest(na.n, nb.n) AS n_large,
       |  pr.shared,
       |  (pr.shared * 10000) // least(na.n, nb.n) AS containment_bp
       |FROM pr JOIN nf na ON na.doc_id = pr.id_a
       |        JOIN nf nb ON nb.doc_id = pr.id_b
       |WHERE (pr.shared * 10000) // least(na.n, nb.n) >= 8000""".stripMargin

  /** Winnowing fingerprints of the planted quote batch: chars 21-180
    * of every 7th document, ids +8e6. Built once per (session, sf-dir). */
  private def quoteBatchFps(spark: SparkSession, dir: String): String =
    Fixtures.cached("winnow-fps-contain-batch", dir) { root =>
      val path = new java.io.File(root, "fps").toString
      val quotes = docs(spark, dir).where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 8000000L).as("doc_id"),
          expr("substring(text, 21, 160)").as("text"))
      graft.operators.Corpus
        .winnowingFingerprints(quotes, "text", "doc_id", k = 5, window = 4)
        .write.mode("overwrite").parquet(path)
      path
    }
  /** Oracle twin of the corpus fingerprints plus [[quoteBatchFps]]:
    * `corpus_q` (documents ∪ the planted quotes) winnowed to `fp` and
    * df-capped to `p(doc_id, h)`. */
  private def quoteBatchCtes: String =
    s"""corpus_q AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 8000000, substr(text, 21, 160)
       |  FROM documents WHERE doc_id % 7 = 0),
       |${winnowCtes.replace("FROM documents", "FROM corpus_q")},
       |$rareFpCtes""".stripMargin
  /** `nf(doc_id, n)`, each doc's capped fingerprint count, and
    * `pr(id_a, id_b, shared)`, every pair sharing one of `p`'s
    * fingerprints — Corpus.winnowingContainment's counts. */
  private def containPairCtes: String =
    """nf AS (SELECT doc_id, count(*) AS n FROM p GROUP BY doc_id),
      |pr AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |  FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  // -------------------------- incremental winnowing containment screen
  // The winnowing containment screen MAINTAINED: a batch of planted
  // tiny quotes (substr(text, 21, 160), ids +8e6, every 7th doc)
  // arrives at ingest; only ITS fingerprints are extracted (written as
  // appended files beside the stored corpus fingerprint table — the
  // x_winnow_incremental device), the screen reads base ∪ batch as one
  // scan, and reports only pairs touching the batch: "is this new doc
  // a verbatim quote of something we already hold?" at winnowing's
  // deterministic recall, where the LSH ingest screen
  // (x_containment_incr) is Jaccard-blind to the size ratio. The
  // df-cap recomputes over base ∪ batch — the correct maintenance rule
  // — so the output equals the full screen filtered to batch pairs,
  // which is what the oracle computes.
  def containmentWinnowIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val batchFps = quoteBatchFps(spark, dir)
    graft.operators.Corpus.winnowingContainment(
        spark.read.parquet(winnowTableFor(spark, dir), batchFps),
        maxDf = 50, minContainmentBp = 8000L)
      .where(col("doc_small") >= 8000000L || col("doc_large") >= 8000000L)
  }
  val containmentWinnowIncrSql: String =
    s"""WITH $quoteBatchCtes,
       |$containPairCtes
       |SELECT * FROM (
       |  SELECT
       |    CASE WHEN na.n <= nb.n THEN pr.id_a ELSE pr.id_b END
       |      AS doc_small,
       |    CASE WHEN na.n <= nb.n THEN pr.id_b ELSE pr.id_a END
       |      AS doc_large,
       |    least(na.n, nb.n) AS n_small,
       |    greatest(na.n, nb.n) AS n_large,
       |    pr.shared,
       |    (pr.shared * 10000) // least(na.n, nb.n) AS containment_bp
       |  FROM pr JOIN nf na ON na.doc_id = pr.id_a
       |          JOIN nf nb ON nb.doc_id = pr.id_b) s
       |WHERE containment_bp >= 8000
       |  AND (doc_small >= 8000000 OR doc_large >= 8000000)""".stripMargin

  // ------------------------ PRUNED maintained quote screen (batch mode)
  // winnowingContainmentScreen driven as a batch audit: the
  // planted-quote batch screens against the MAINTAINED winnow table
  // with every stored read file-pruned (pair probe by the batch's rare
  // hashes on the h-clustered table; denominators by candidate ids on
  // the id-clustered projection; df pulls on the h-clustered sidecar).
  // The oracle replays the screen's semantics the slow way — df cap
  // over corpus UNION batch, pairs restricted to batch x corpus — so a
  // hash match certifies that file pruning changed NOTHING: pruning
  // only skips files whose key envelope misses every probe, and each
  // pruned read feeds an equi-semi-join on that key.
  def quoteScreenPrunedQ(spark: SparkSession, dir: String): DataFrame = {
    val batchFps = quoteBatchFps(spark, dir)
    // the fingerprint relation's id column is already named "id"
    // (the winnowingFingerprints output contract)
    graft.operators.Corpus.winnowingContainmentScreen(
      spark.read.parquet(batchFps),
      winnowTableFor(spark, dir),
      maxDf = 50, minContainmentBp = 8000L).df
  }
  val quoteScreenPrunedSql: String =
    s"""WITH $quoteBatchCtes,
       |pb AS (SELECT doc_id, h FROM p WHERE doc_id >= 8000000),
       |pc AS (SELECT doc_id, h FROM p WHERE doc_id < 8000000),
       |nb AS (SELECT doc_id, count(*) AS n_batch FROM pb GROUP BY 1),
       |nc AS (SELECT doc_id, count(*) AS n_corpus FROM pc GROUP BY 1),
       |pr AS (
       |  SELECT pb.doc_id AS batch_id, pc.doc_id AS corpus_id,
       |    count(*) AS shared
       |  FROM pb JOIN pc USING (h) GROUP BY 1, 2)
       |SELECT batch_id, corpus_id, n_batch, n_corpus, shared,
       |  (shared * 10000) // least(n_batch, n_corpus) AS containment_bp
       |FROM pr JOIN nb ON nb.doc_id = pr.batch_id
       |        JOIN nc ON nc.doc_id = pr.corpus_id
       |WHERE (shared * 10000) // least(n_batch, n_corpus) >= 8000""".stripMargin

  // ------------------- the same screen against a COMPACTED table
  // Corpus.compactWinnowTable re-clusters a maintained table's append
  // generations into one (fresh footers, fresh envelopes); this lane
  // certifies the whole lifecycle in the correctness gate: the
  // compacted copy must screen BIT-IDENTICALLY (same oracle as
  // x_quote_screen_pruned - compaction is layout, never content). The
  // fixture appends a batch to a copied table first, so the compaction
  // genuinely folds multiple generations.
  def quoteScreenCompactedQ(spark: SparkSession, dir: String): DataFrame = {
    val batchFps = quoteBatchFps(spark, dir)
    // two-generation maintained table (base write + one append), then
    // compacted - built once per (session, sf-dir)
    val compacted = Fixtures.cached("winnow-table-compacted", dir) { root =>
      val t = new java.io.File(root, "fps").toString
      val d = docs(spark, dir).select(col("doc_id"), col("text"))
      graft.operators.Corpus.writeWinnowTable(
        d.where(col("doc_id") % 3 =!= 0), "text", "doc_id", t)
      graft.operators.Corpus.appendToWinnowTable(
        d.where(col("doc_id") % 3 === 0), "text", "doc_id", t)
      val out = new java.io.File(root, "fps_compact").toString
      graft.operators.Corpus.compactWinnowTable(spark, t, out)
      out
    }
    graft.operators.Corpus.winnowingContainmentScreen(
      spark.read.parquet(batchFps), compacted,
      maxDf = 50, minContainmentBp = 8000L).df
  }
  // content-identical to the uncompacted maintained table, so the
  // oracle IS the pruned-screen lane's
  val quoteScreenCompactedSql: String = quoteScreenPrunedSql

  // ------------------------------------------- screen agreement table
  // The two candidate screens COMPARED on the same corpus: MinHash-LSH
  // (probabilistic, banded) vs winnowing (deterministic,
  // coverage-guaranteed), each proposing pairs over the original
  // documents, rolled into who-found-what counts. 'winnow_only' rows
  // are exactly the localized-overlap pairs LSH's whole-document
  // signatures dilute — the quantified case for running both screens.
  // Both pair feeds come from maintained tables (signature table keyed
  // to this corpus; the session winnowing fingerprint table).
  def screenOverlapQ(spark: SparkSession, dir: String): DataFrame = {
    val mh = Dedup.nearDupPairsFromSigs(spark,
        sigTableFor(spark, dir, "origdocs",
          docs(spark, dir).select(col("doc_id"), col("text"))),
        threshold = 0.2)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        lit(1).as("in_mh"))
    val wp = graft.operators.Corpus.winnowingCandidatesFrom(
        spark.read.parquet(winnowTableFor(spark, dir)),
        maxDf = 50, minShared = 5)
      .select(col("id_a"), col("id_b"), lit(1).as("in_wp"))
    mh.join(wp, Seq("id_a", "id_b"), "full_outer")
      .select(when(col("in_mh").isNotNull && col("in_wp").isNotNull,
          "both")
        .when(col("in_mh").isNotNull, "minhash_only")
        .otherwise("winnow_only").as("found_by"))
      .groupBy(col("found_by")).agg(count(lit(1)).as("n_pairs"))
  }
  lazy val screenOverlapPairsSql: String =
    s"""${minhashCtesOver("SELECT doc_id, text FROM documents")},
       |mh AS (
       |  SELECT doc_a AS id_a, doc_b AS id_b FROM j
       |  WHERE jaccard >= 0.2),
       |${winnowCtesW("documents")},
       |ih_w AS (SELECT DISTINCT doc_id, h FROM fp_w),
       |rare_w AS (SELECT h FROM ih_w GROUP BY h HAVING count(*) <= 50),
       |p_w AS MATERIALIZED (
       |  SELECT ih_w.doc_id, ih_w.h FROM ih_w JOIN rare_w USING (h)),
       |wp AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM p_w a JOIN p_w b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 5)""".stripMargin
  lazy val screenOverlapSql: String =
    s"""WITH $screenOverlapPairsSql
       |SELECT CASE
       |    WHEN mh.id_a IS NOT NULL AND wp.id_a IS NOT NULL THEN 'both'
       |    WHEN mh.id_a IS NOT NULL THEN 'minhash_only'
       |    ELSE 'winnow_only' END AS found_by,
       |  count(*) AS n_pairs
       |FROM mh FULL JOIN wp
       |  ON mh.id_a = wp.id_a AND mh.id_b = wp.id_b
       |GROUP BY 1""".stripMargin

  // ------------------------------------------- first BPE merge table
  // The tokenizer-training seed: frequency of every adjacent CHARACTER
  // pair inside words across the corpus, top 20 by (count DESC, pair)
  // — the table whose argmax is BPE's first merge, and whose tail is
  // the merge queue. One explode + one aggregation; the ranking window
  // runs over the aggregated pair vocabulary (bounded by |alphabet|²),
  // not the corpus.
  def bpeMergesQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("cnt").desc, col("pair"))
    docs(spark, dir)
      .select(explode(TextFns.words(col("text"))).as("w"))
      .where(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 20)
  }
  val bpeMergesSql: String =
    """WITH w AS (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents),
      |p AS (
      |  SELECT unnest(list_transform(range(1, len(w)),
      |    i -> substr(w, CAST(i AS INT), 2))) AS pair
      |  FROM w WHERE len(w) >= 2),
      |c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY 1)
      |SELECT pair, cnt,
      |  CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rank
      |FROM c
      |QUALIFY row_number() OVER (ORDER BY cnt DESC, pair) <= 20""".stripMargin

  // --------------------------------------------- iterated BPE training
  // Three full BPE merge rounds (Sennrich, Haddow & Birch, ACL 2016)
  // over the corpus vocabulary: count adjacent symbol pairs weighted
  // by word frequency, merge the argmax pair everywhere (leftmost
  // non-overlapping — a string replace on the separator-joined symbol
  // representation is EXACTLY the greedy BPE scan, and both engines'
  // replace() is leftmost non-overlapping), recount, repeat. Output is
  // the learned merge table (ord, lhs, rhs, pair_count) — the real
  // tokenizer-training loop, not a one-shot count.
  //
  // Scale shape: everything runs on the (word, count) VOCABULARY
  // table — the shape real BPE trainers use — so corpus size enters
  // only through the initial word count; each round is one explode +
  // one weighted aggregation + a TakeOrdered argmax whose single
  // winner row is the documented O(1) driver scalar. The oracle
  // replays the same three rounds as materialized CTEs.
  def bpeTrainQ(spark: SparkSession, dir: String): DataFrame = {
    val sep = "\u001f" // unit separator: joins symbols, never in corpus text
    var vocab = docs(spark, dir)
      .select(explode(TextFns.words(col("text"))).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), array_join(split(col("w"), ""), sep).as("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      vocab.count()
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, Long)]
      for (r <- 1 to 3) {
        val withSyms = vocab.withColumn("syms", split(col("rep"), sep))
        val best = withSyms.where(size(col("syms")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, size(syms) - 1)," +
              " i -> named_struct('lhs', syms[i-1], 'rhs', syms[i]))"))
            .as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("cnt")).as("pair_count"))
          .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
          .limit(1).collect()(0)
        val (l, rr, tot) =
          (best.getString(0), best.getString(1), best.getLong(2))
        merges += ((r.toLong, l, rr, tot))
        vocab = vocab.withColumn("rep",
          org.apache.spark.sql.functions
            .replace(col("rep"), lit(l + sep + rr), lit(l + rr)))
      }
      import spark.implicits._
      merges.toSeq.toDF("ord", "lhs", "rhs", "pair_count")
    } finally { vocab.unpersist(false); () }
  }
  /** `w0`, the word vocabulary as chr(31)-joined symbols, and three
    * p/b/w merge rounds ending in the merges `b1..b3(lhs, rhs,
    * pair_count)` — the oracle of [[bpeTrainQ]]'s training loop. */
  private val bpeTrainCtes: String = {
    val rounds = (1 to 3).map { r =>
      s"""p$r AS (
         |  SELECT p.lhs, p.rhs, sum(cnt) AS pair_count FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |      i -> struct_pack(lhs := syms[CAST(i AS INT)],
         |                       rhs := syms[CAST(i AS INT)+1]))) AS p
         |    FROM (SELECT cnt, string_split(rep, chr(31)) AS syms
         |          FROM w${r - 1}))
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT lhs, rhs, pair_count FROM p$r
         |  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT cnt,
         |    replace(rep, b.lhs || chr(31) || b.rhs, b.lhs || b.rhs) AS rep
         |  FROM w${r - 1}, b$r b)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT count(*) AS cnt,
       |    array_to_string(string_split(w, ''), chr(31)) AS rep
       |  FROM (SELECT unnest(
       |          string_split_regex(lower(trim(text)), '\\s+')) AS w
       |        FROM documents)
       |  WHERE length(w) >= 1
       |  GROUP BY w),
       |$rounds""".stripMargin
  }
  val bpeTrainSql: String =
    s"""WITH $bpeTrainCtes
       |SELECT CAST(ord AS BIGINT) AS ord, lhs, rhs,
       |  CAST(pair_count AS BIGINT) AS pair_count
       |FROM (
       |  SELECT 1 AS ord, lhs, rhs, pair_count FROM b1
       |  UNION ALL SELECT 2, lhs, rhs, pair_count FROM b2
       |  UNION ALL SELECT 3, lhs, rhs, pair_count FROM b3)""".stripMargin

  // ---------------------------------------------- BPE merge application
  // The learned merge table CONSUMED: every document re-tokenized with
  // x_bpe_train's three merges, reporting symbols before/after and the
  // per-doc compression — the number a tokenizer-training run is
  // actually judged by. The document representation joins words with a
  // space symbol, so word-internal merges (all the trainer can learn)
  // never straddle boundaries; each merge application removes exactly
  // one separator, so symbol counts fall out of string lengths — no
  // parsing. The engine replays training once per session (three O(1)
  // argmax scalars, Fixtures-cached); the oracle chains the same three
  // rounds and applies them in one statement.
  def bpeApplyQ(spark: SparkSession, dir: String): DataFrame = {
    val sep = "\u001f"
    val merges: Seq[(String, String)] =
      Fixtures.cached("bpe-merges", dir) { root =>
        val path = new java.io.File(root, "merges").toString
        bpeTrainQ(spark, dir).write.mode("overwrite").parquet(path)
        path
      } match {
        case p => spark.read.parquet(p).orderBy(col("ord"))
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      }
    val base = docs(spark, dir).select(col("doc_id"),
      array_join(transform(TextFns.words(col("text")),
        w => array_join(split(w, ""), sep)), sep + " " + sep).as("rep"))
    val applied = merges.foldLeft(base) { case (df, (l, r)) =>
      df.withColumn("rep", org.apache.spark.sql.functions
        .replace(col("rep"), lit(l + sep + r), lit(l + r)))
    }
    val nSyms = (rep: org.apache.spark.sql.Column) => (length(rep) -
      length(org.apache.spark.sql.functions
        .replace(rep, lit(sep), lit(""))) + 1L).cast("long")
    base.select(col("doc_id"), nSyms(col("rep")).as("n_before"))
      .join(applied.select(col("doc_id"), nSyms(col("rep")).as("n_after")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_before"), col("n_after"),
        round(col("n_after").cast("double") /
          col("n_before").cast("double"), 4).as("compression"))
  }
  // the same three training rounds as bpeTrainSql, then one
  // application pass over the document representations
  val bpeApplySql: String =
    s"""WITH $bpeTrainCtes,
       |d0 AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(
       |      string_split_regex(lower(trim(text)), '\\s+'),
       |      w -> array_to_string(string_split(w, ''), chr(31))),
       |      chr(31) || ' ' || chr(31)) AS rep
       |  FROM documents),
       |d3 AS (
       |  SELECT doc_id,
       |    replace(replace(replace(d0.rep,
       |      b1.lhs || chr(31) || b1.rhs, b1.lhs || b1.rhs),
       |      b2.lhs || chr(31) || b2.rhs, b2.lhs || b2.rhs),
       |      b3.lhs || chr(31) || b3.rhs, b3.lhs || b3.rhs) AS rep
       |  FROM d0, b1, b2, b3)
       |SELECT d0.doc_id,
       |  CAST(length(d0.rep) - length(replace(d0.rep, chr(31), '')) + 1
       |    AS BIGINT) AS n_before,
       |  CAST(length(d3.rep) - length(replace(d3.rep, chr(31), '')) + 1
       |    AS BIGINT) AS n_after,
       |  round((length(d3.rep) - length(replace(d3.rep, chr(31), '')) + 1)
       |    ::DOUBLE /
       |    (length(d0.rep) - length(replace(d0.rep, chr(31), '')) + 1),
       |    4) AS compression
       |FROM d0 JOIN d3 USING (doc_id)""".stripMargin

  // -------------------------------------- unigram-LM tokenizer (3 lanes)
  // The SentencePiece-style sibling of the BPE lane (Kudo, ACL 2018):
  // operators/Unigram.scala trains a scored vocabulary (all single
  // chars + top-96 multi-char substrings, micro-nat integer scores),
  // Viterbi-segments every unique pretoken through the codegen'd
  // graft_unigram_segment expression (vocab shipped as a literal from
  // the bounded BPE-merge-style collect), and recounts piece usage —
  // the hard-EM E-step that drives vocabulary pruning. The DP is exact
  // integer arithmetic with a total tie order (score desc, then the
  // longest final piece), so the oracle replays it as 20 unrolled CTE
  // levels and every segmentation string must match bit-for-bit.
  // Words are capped at 20 chars on BOTH engines — the cap bounds the
  // oracle's unroll, not the expression (which handles any length).
  private val UnigramMaxWordLen = 20
  private val UnigramTopMulti = 96

  private def unigramVocabDf(spark: SparkSession, dir: String) =
    graft.operators.Unigram.trainVocab(docs(spark, dir), "text",
      UnigramTopMulti, UnigramMaxWordLen)

  /** Session-cached vocabulary parquet (the bpe-merges device: train
    * once, every consumer reads the stored artifact). */
  private def unigramVocabPath(spark: SparkSession, dir: String): String =
    Fixtures.cached("unigram-vocab", dir) { root =>
      val path = new java.io.File(root, "vocab").toString
      unigramVocabDf(spark, dir).write.mode("overwrite").parquet(path)
      path
    }

  private def unigramSegmented(spark: SparkSession, dir: String) = {
    val vocab = spark.read.parquet(unigramVocabPath(spark, dir))
      .orderBy(col("piece"))
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    graft.operators.Unigram.segmentWords(
      graft.operators.Unigram.wordCounts(docs(spark, dir), "text",
        UnigramMaxWordLen),
      vocab)
  }

  def unigramTrainQ(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(unigramVocabPath(spark, dir))
      .select(col("piece"), col("cnt"), col("score"), col("is_char"))

  def unigramApplyQ(spark: SparkSession, dir: String): DataFrame =
    unigramSegmented(spark, dir)
      .select(col("w").as("word"), col("cnt"), col("n_pieces"),
        col("seg"))

  def unigramEmQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Unigram.usageReport(
      unigramSegmented(spark, dir),
      spark.read.parquet(unigramVocabPath(spark, dir)))

  /** Shared oracle prefix: words → candidate pieces → scored vocab. */
  private val unigramBaseCtes: String =
    s"""words AS MATERIALIZED (
       |  SELECT w, count(*) AS cnt FROM (
       |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
       |      AS w
       |    FROM documents)
       |  WHERE len(w) BETWEEN 1 AND $UnigramMaxWordLen
       |  GROUP BY w),
       |pc AS (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
       |    SELECT cnt, unnest(flatten(list_transform(
       |      range(1, len(w) + 1),
       |      i -> list_transform(
       |        range(1, least(4, len(w) - i + 1) + 1),
       |        l -> substr(w, CAST(i AS INT), CAST(l AS INT)))))) AS piece
       |    FROM words)
       |  GROUP BY 1),
       |vraw AS (
       |  SELECT piece, cnt, TRUE AS is_char FROM pc WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt, FALSE FROM (
       |    SELECT piece, cnt FROM pc WHERE len(piece) >= 2
       |    QUALIFY row_number() OVER (ORDER BY cnt DESC, piece)
       |      <= $UnigramTopMulti)),
       |vocab AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) -
       |    (SELECT CAST(floor(ln(CAST(sum(cnt) AS DOUBLE)) * 1000000)
       |            AS BIGINT) FROM vraw) AS score,
       |    is_char
       |  FROM vraw)""".stripMargin

  /** The Viterbi DP as unrolled CTE levels (prefix length = level),
    * each picking the best (score desc, longest-final-piece) extension
    * of levels i-4..i-1 — ending in `$out(w, cnt, seg)`. Parameterized
    * by the vocabulary table, a level prefix, and the word table so
    * one oracle can replay MULTIPLE EM rounds (x_unigram_prune chains
    * two) or segment a DIFFERENT word set (x_unigram_oov applies the
    * trained vocab to planted-OOV apply words). */
  private def unigramDp(vocabTbl: String, pfx: String,
                        out: String,
                        wordsTbl: String = "words"): String = {
    val levels = (1 to UnigramMaxWordLen).map { i =>
      val branches = (math.max(0, i - 4) until i).map { j =>
        s"""    SELECT d.w, d.cnt, d.score + v.score AS score,
           |      CASE WHEN d.seg = '' THEN v.piece
           |           ELSE d.seg || chr(31) || v.piece END AS seg,
           |      $j AS j
           |    FROM $pfx$j d JOIN $vocabTbl v
           |      ON v.piece = substr(d.w, ${j + 1}, ${i - j})
           |    WHERE len(d.w) >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""$pfx$i AS MATERIALIZED (
         |  SELECT w, cnt, score, seg FROM (
         |$branches)
         |  QUALIFY row_number() OVER (PARTITION BY w
         |    ORDER BY score DESC, j ASC) = 1)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to UnigramMaxWordLen).map { i =>
      s"SELECT w, cnt, seg FROM $pfx$i WHERE len(w) = $i"
    }.mkString("\n  UNION ALL ")
    s"""${pfx}0 AS (
       |  SELECT w, cnt, CAST(0 AS BIGINT) AS score, '' AS seg
       |  FROM $wordsTbl),
       |$levels,
       |$out AS (
       |  $finals)""".stripMargin
  }
  private val unigramDpCtes: String = unigramDp("vocab", "d", "segres")

  val unigramTrainSql: String =
    s"""WITH $unigramBaseCtes
       |SELECT piece, cnt, score, is_char FROM vocab""".stripMargin

  val unigramApplySql: String =
    s"""WITH $unigramBaseCtes,
       |$unigramDpCtes
       |SELECT w AS word, cnt,
       |  CAST(len(string_split(seg, chr(31))) AS BIGINT) AS n_pieces,
       |  seg
       |FROM segres""".stripMargin

  // Doc-level unigram fertility (the x_token_bpe surface for the
  // unigram lane): pieces-per-word in basis points per document. The
  // segmentation runs ROW-LOCALLY on the exploded (doc, word) stream —
  // no join back on raw word content (a shuffle join on words routes
  // every "the" to one reducer; the expression costs O(len·4) in the
  // same codegen stage instead), then one doc-keyed aggregate. The
  // oracle joins its unique-word DP results back by word — fine in
  // DuckDB, the skew hazard is Spark-side only.
  def unigramFertilityQ(spark: SparkSession, dir: String): DataFrame = {
    val vocab = spark.read.parquet(unigramVocabPath(spark, dir))
      .orderBy(col("piece"))
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    docs(spark, dir)
      .select(col("doc_id"),
        explode(TextFns.words(col("text"))).as("w"))
      .where(length(col("w")).between(1, UnigramMaxWordLen))
      .withColumn("np", size(split(
        graft.functions.native.NativeFns.unigramSegment(col("w"),
          vocab.map(_._1), vocab.map(_._2)),
        graft.operators.Unigram.Sep, -1)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
      .withColumn("fertility_bp",
        expr("n_pieces * 10000 div n_words"))
  }
  val unigramFertilitySql: String =
    s"""WITH $unigramBaseCtes,
       |$unigramDpCtes,
       |np AS (
       |  SELECT w, CAST(len(string_split(seg, chr(31))) AS BIGINT)
       |    AS np
       |  FROM segres),
       |dw AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents)
       |  WHERE len(w) BETWEEN 1 AND $UnigramMaxWordLen)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(np) AS BIGINT) AS n_pieces,
       |  CAST(sum(np) * 10000 // count(*) AS BIGINT) AS fertility_bp
       |FROM dw JOIN np USING (w)
       |GROUP BY doc_id""".stripMargin

  val unigramEmSql: String =
    s"""WITH $unigramBaseCtes,
       |$unigramDpCtes,
       |usage AS (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS usage FROM (
       |    SELECT cnt, unnest(string_split(seg, chr(31))) AS piece
       |    FROM segres)
       |  GROUP BY 1)
       |SELECT v.piece, v.cnt, COALESCE(u.usage, 0) AS usage,
       |  COALESCE(u.usage, 0) > 0 OR v.is_char AS kept
       |FROM vocab v LEFT JOIN usage u USING (piece)""".stripMargin

  // One FULL hard-EM round, oracle-replayed end to end: segment under
  // the seed vocabulary, recount usage (E), drop unused multi-char
  // pieces and re-score survivors from usage (M), re-segment under the
  // new scores — per word, both piece counts and whether the
  // segmentation CHANGED. The oracle chains the 20-level DP twice
  // (seed vocab, then the rescored one). Spark-side both vocabularies
  // are the bounded driver collect; the two segmentations join on the
  // UNIQUE word key (no content-skew hazard — distinct on both sides).
  def unigramPruneQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Unigram
    val v1df = spark.read.parquet(unigramVocabPath(spark, dir))
    val v1 = v1df.orderBy(col("piece"))
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    val words = Unigram.wordCounts(docs(spark, dir), "text",
      UnigramMaxWordLen)
    val seg1 = Unigram.segmentWords(words, v1)
    val v2 = Unigram.rescoreFromUsage(Unigram.usageReport(seg1, v1df))
      .orderBy(col("piece"))
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    val seg2 = Unigram.segmentWords(words, v2)
    seg1.select(col("w"), col("cnt"), col("n_pieces").as("n_v1"),
        col("seg").as("__s1"))
      .join(seg2.select(col("w"), col("n_pieces").as("n_v2"),
        col("seg").as("__s2")), Seq("w"))
      .select(col("w").as("word"), col("cnt"), col("n_v1"), col("n_v2"),
        (col("__s1") =!= col("__s2")).as("changed"))
  }
  val unigramPruneSql: String =
    s"""WITH $unigramBaseCtes,
       |$unigramDpCtes,
       |u1 AS (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS usage FROM (
       |    SELECT cnt, unnest(string_split(seg, chr(31))) AS piece
       |    FROM segres)
       |  GROUP BY 1),
       |keptv AS (
       |  SELECT v.piece, greatest(COALESCE(u.usage, 0), 1) AS cnt,
       |    len(v.piece) = 1 AS is_char
       |  FROM vocab v LEFT JOIN u1 u USING (piece)
       |  WHERE COALESCE(u.usage, 0) > 0 OR len(v.piece) = 1),
       |vocab2 AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) -
       |    (SELECT CAST(floor(ln(CAST(sum(cnt) AS DOUBLE)) * 1000000)
       |            AS BIGINT) FROM keptv) AS score,
       |    is_char
       |  FROM keptv),
       |${unigramDp("vocab2", "e", "segres2")}
       |SELECT a.w AS word, a.cnt,
       |  CAST(len(string_split(a.seg, chr(31))) AS BIGINT) AS n_v1,
       |  CAST(len(string_split(b.seg, chr(31))) AS BIGINT) AS n_v2,
       |  a.seg != b.seg AS changed
       |FROM segres a JOIN segres2 b ON a.w = b.w""".stripMargin

  // ---------------- unigram apply-time OOV fallback (2 lanes, r10)
  // The trained artifact applied to NEW text: apply words are the
  // corpus pretokens with 'a'→'ä' and 'e'→'é' (the corpus alphabet is
  // pure lowercase ASCII, so both are guaranteed-unseen codepoints at
  // every sf). segmentWords is TOTAL over them — each OOV char becomes
  // its own fallback piece at the UnkScore floor — and the oracle
  // replays the EXACT rule by augmenting its vocabulary with every
  // absent apply-set character at the literal floor score before the
  // same 20-level DP (fallback ≡ "as if the vocab held the char"),
  // so tie order and piece choice stay engine-identical.
  private val UnigramUnkScore =
    graft.functions.native.UnigramSegmentExpr.UnkScore

  private def unigramOovSegmented(spark: SparkSession, dir: String) = {
    val vocab = spark.read.parquet(unigramVocabPath(spark, dir))
      .orderBy(col("piece"))
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    val awords = docs(spark, dir)
      .select(explode(TextFns.words(col("text"))).as("w"))
      .where(length(col("w")).between(1, UnigramMaxWordLen))
      .select(translate(col("w"), "ae", "äé").as("w"))
      .distinct()
      .withColumn("cnt", lit(1L))
    graft.operators.Unigram.segmentWords(awords, vocab)
  }

  /** Shared oracle tail: apply words, fallback-augmented vocabulary,
    * and the DP over them ending in segres_oov. */
  private val unigramOovCtes: String =
    s"""awords AS MATERIALIZED (
       |  SELECT DISTINCT translate(w, 'ae', 'äé') AS w,
       |    CAST(1 AS BIGINT) AS cnt
       |  FROM words),
       |achars AS (
       |  SELECT DISTINCT unnest(list_transform(range(1, len(w) + 1),
       |    i -> substr(w, CAST(i AS INT), 1))) AS piece
       |  FROM awords),
       |vocab_oov AS MATERIALIZED (
       |  SELECT piece, score FROM vocab
       |  UNION ALL
       |  SELECT piece, CAST($UnigramUnkScore AS BIGINT) AS score
       |  FROM achars
       |  WHERE piece NOT IN (SELECT piece FROM vocab)),
       |${unigramDp("vocab_oov", "o", "segres_oov", "awords")}""".stripMargin

  def unigramOovQ(spark: SparkSession, dir: String): DataFrame = {
    val segd = unigramOovSegmented(spark, dir)
    val vocabDf = spark.read.parquet(unigramVocabPath(spark, dir))
    // fallback pieces are exactly the seg pieces outside the
    // vocabulary; counting them is one broadcast lookup on the
    // KB-scale vocab + an aggregate keyed by the (distinct) word
    val pieces = segd.select(col("w"),
      explode(split(col("seg"), graft.operators.Unigram.Sep, -1))
        .as("piece"))
    val unk = pieces.join(
        broadcast(vocabDf.select(col("piece")).withColumn("__v", lit(1))),
        Seq("piece"), "left")
      .groupBy(col("w"))
      .agg(sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_unk"))
    segd.join(unk, Seq("w"))
      .select(col("w").as("word"), col("n_pieces"), col("n_unk"),
        col("seg"))
  }
  val unigramOovSql: String =
    s"""WITH $unigramBaseCtes,
       |$unigramOovCtes,
       |up AS (
       |  SELECT w, unnest(string_split(seg, chr(31))) AS piece
       |  FROM segres_oov),
       |unkc AS (
       |  SELECT w, CAST(sum(CASE WHEN v.piece IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_unk
       |  FROM up LEFT JOIN vocab v USING (piece)
       |  GROUP BY w)
       |SELECT s.w AS word,
       |  CAST(len(string_split(s.seg, chr(31))) AS BIGINT) AS n_pieces,
       |  u.n_unk, s.seg
       |FROM segres_oov s JOIN unkc u USING (w)""".stripMargin

  /** The usage report over the OOV apply set — the `<unk>` accounting
    * row gated end to end (cnt 0, summed fallback usage, kept=false). */
  def unigramOovUsageQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Unigram.usageReport(
      unigramOovSegmented(spark, dir),
      spark.read.parquet(unigramVocabPath(spark, dir)))
  val unigramOovUsageSql: String =
    s"""WITH $unigramBaseCtes,
       |$unigramOovCtes,
       |usageo AS (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS usage FROM (
       |    SELECT cnt, unnest(string_split(seg, chr(31))) AS piece
       |    FROM segres_oov)
       |  GROUP BY 1)
       |SELECT v.piece, v.cnt, COALESCE(u.usage, 0) AS usage,
       |  COALESCE(u.usage, 0) > 0 OR v.is_char AS kept
       |FROM vocab v LEFT JOIN usageo u USING (piece)
       |UNION ALL
       |SELECT '<unk>' AS piece, CAST(0 AS BIGINT) AS cnt,
       |  CAST(sum(usage) AS BIGINT) AS usage, FALSE AS kept
       |FROM usageo WHERE piece NOT IN (SELECT piece FROM vocab)
       |HAVING sum(usage) IS NOT NULL""".stripMargin

  // ------------------- budgeted hard-EM training loop (r10)
  // Unigram.trainToBudget gated for two full rounds: segment → usage →
  // drop unused multis → CUT to the vocab budget (top multis by usage
  // desc, piece; single chars never cut — coverage) → rescore from
  // usage. The oracle chains the 20-level DP twice and replays each
  // round's cut as a QUALIFY window with the same tie order.
  private val UnigramBudget = 60

  def unigramBudgetQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Unigram.trainToBudget(
      graft.operators.Unigram.wordCounts(docs(spark, dir), "text",
        UnigramMaxWordLen),
      spark.read.parquet(unigramVocabPath(spark, dir)),
      UnigramBudget, rounds = 2)

  private def unigramBudgetRound(segTbl: String, vocabTbl: String,
                                 nextVocab: String, pfx: String): String =
    s"""u$pfx AS (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS usage FROM (
       |    SELECT cnt, unnest(string_split(seg, chr(31))) AS piece
       |    FROM $segTbl)
       |  GROUP BY 1),
       |k$pfx AS (
       |  SELECT v.piece, greatest(COALESCE(u.usage, 0), 1) AS cnt,
       |    len(v.piece) = 1 AS is_char
       |  FROM $vocabTbl v LEFT JOIN u$pfx u USING (piece)
       |  WHERE COALESCE(u.usage, 0) > 0 OR len(v.piece) = 1),
       |c$pfx AS (
       |  SELECT piece, cnt, is_char FROM k$pfx
       |  QUALIFY is_char OR row_number() OVER (PARTITION BY is_char
       |    ORDER BY cnt DESC, piece)
       |    <= greatest($UnigramBudget -
       |      (SELECT count(*) FROM k$pfx WHERE is_char), 0)),
       |$nextVocab AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) -
       |    (SELECT CAST(floor(ln(CAST(sum(cnt) AS DOUBLE)) * 1000000)
       |            AS BIGINT) FROM c$pfx) AS score,
       |    is_char
       |  FROM c$pfx)""".stripMargin

  val unigramBudgetSql: String =
    s"""WITH $unigramBaseCtes,
       |$unigramDpCtes,
       |${unigramBudgetRound("segres", "vocab", "bvocab2", "b1")},
       |${unigramDp("bvocab2", "f", "bsegres2")},
       |${unigramBudgetRound("bsegres2", "bvocab2", "bvocab3", "b2")}
       |SELECT piece, cnt, score, is_char FROM bvocab3""".stripMargin

  // ------------------------------------------ exact-integer PCA lane
  // Similarity.pcaTopComponent / pcaProject gated end to end: six
  // integer power-iteration rounds (w = Aᵀ(A·v) as two scans — the
  // covariance matrix is never materialized, so there is no d²·N
  // blowup at 100 TB), quantized 2²⁰ lanes, sign-safe truncating
  // divisions, decimal(38,0) ↔ HUGEINT sums, and the direction's sign
  // canonicalized on its leading nonzero component. The oracle unrolls
  // all six rounds (mean, per-vector scalar, per-dim sums, ÷N, rescale
  // to max |comp| = 2²⁰, sign flip) and the per-vector projection must
  // match bit-for-bit — INCLUDING the degenerate s = 0 round (all
  // vectors equal the mean): both engines then keep the previous
  // direction unflipped (the Scala guard mirrored as the CASE's first
  // branch), so bit-exactness is universal, not fixture-conditional.
  def pcaProjectQ(spark: SparkSession, dir: String): DataFrame = {
    val q = Similarity.pcaQuantized(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (m, v) = Similarity.pcaTopComponent(q, rounds = 6)
      Similarity.pcaProject(q, m, v)
    } finally { q.unpersist(false); () }
  }
  /** Shared oracle prefix: quantized relation, mean, and the six
    * unrolled power-iteration rounds ending in `v6(i, x)`. */
  private val pcaCtes: String = {
    val rounds = (1 to 6).map { r =>
      val pv = if (r == 1) "v0" else s"v${r - 1}"
      s"""mv$r AS (SELECT sum(CAST(m.m AS HUGEINT) * v.x) AS mv
         |  FROM m JOIN $pv v USING (i)),
         |t$r AS MATERIALIZED (
         |  SELECT e.vec_id,
         |    sum(CAST(e.xq AS HUGEINT) * v.x) - (SELECT mv FROM mv$r)
         |      AS t
         |  FROM e JOIN $pv v USING (i) GROUP BY e.vec_id),
         |ts$r AS (SELECT sum(t) AS ts FROM t$r),
         |w$r AS (
         |  SELECT e.i,
         |    sum(CAST(t.t AS HUGEINT) * e.xq)
         |      - (SELECT ts FROM ts$r) * max(m.m) AS w
         |  FROM e JOIN t$r t USING (vec_id) JOIN m ON m.i = e.i
         |  GROUP BY e.i),
         |wn$r AS (
         |  SELECT i, CASE WHEN w < 0
         |    THEN -((-w) // (SELECT n FROM nn))
         |    ELSE w // (SELECT n FROM nn) END AS wn
         |  FROM w$r),
         |s$r AS (SELECT max(abs(wn)) AS s FROM wn$r),
         |vr$r AS (
         |  SELECT w.i, CASE
         |    WHEN (SELECT s FROM s$r) = 0 THEN p.x
         |    WHEN wn < 0 THEN -((-wn) * 1048576 // (SELECT s FROM s$r))
         |    ELSE wn * 1048576 // (SELECT s FROM s$r) END AS x
         |  FROM wn$r w JOIN $pv p USING (i)),
         |flip$r AS (
         |  SELECT (SELECT s FROM s$r) != 0 AND x < 0 AS f FROM vr$r
         |  WHERE i = (SELECT min(i) FROM vr$r WHERE x != 0)),
         |v$r AS MATERIALIZED (
         |  SELECT i,
         |    CASE WHEN (SELECT f FROM flip$r) THEN -x ELSE x END AS x
         |  FROM vr$r)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, CAST(i AS BIGINT) AS i,
       |    CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
       |      * 1048576) AS BIGINT) AS xq
       |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
       |nn AS (SELECT count(*) AS n FROM embeddings),
       |sums AS (
       |  SELECT i, CAST(sum(xq) AS HUGEINT) AS s FROM e GROUP BY i),
       |m AS MATERIALIZED (
       |  SELECT i, CASE WHEN s < 0
       |    THEN -((-s) // (SELECT n FROM nn))
       |    ELSE s // (SELECT n FROM nn) END AS m
       |  FROM sums),
       |v0 AS (SELECT DISTINCT i, CAST(1048576 AS HUGEINT) AS x FROM e),
       |$rounds""".stripMargin
  }
  val pcaProjectSql: String =
    s"""WITH $pcaCtes
       |SELECT e.vec_id,
       |  CAST(sum((e.xq - m.m) * v.x) AS BIGINT) AS pc1
       |FROM e JOIN m ON m.i = e.i JOIN v6 v ON v.i = e.i
       |GROUP BY e.vec_id""".stripMargin

  // Residual-variance fraction after removing the top component — the
  // common-direction fix's acceptance number: residual_bp =
  // (q2·‖v‖² − pc1²)·10⁴ // (q2·‖v‖²) per vector (Cauchy–Schwarz keeps
  // the numerator non-negative, so the truncating division needs no
  // sign device). All products HUGEINT ↔ decimal(38,0).
  def pcaResidualQ(spark: SparkSession, dir: String): DataFrame = {
    val q = Similarity.pcaQuantized(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (m, v) = Similarity.pcaTopComponent(q, rounds = 6)
      Similarity.pcaResidualReport(q, m, v)
    } finally { q.unpersist(false); () }
  }
  val pcaResidualSql: String =
    s"""WITH $pcaCtes,
       |dirn2 AS (SELECT sum(x * x) AS n2 FROM v6),
       |per AS (
       |  SELECT e.vec_id,
       |    sum((e.xq - m.m) * v.x) AS pc1,
       |    sum(CAST(e.xq - m.m AS HUGEINT) * (e.xq - m.m)) AS q2
       |  FROM e JOIN m ON m.i = e.i JOIN v6 v ON v.i = e.i
       |  GROUP BY e.vec_id)
       |SELECT vec_id, CAST(pc1 AS BIGINT) AS pc1,
       |  CAST(CASE WHEN q2 = 0 THEN 0 ELSE
       |    ((q2 * (SELECT n2 FROM dirn2) - pc1 * pc1) * 10000)
       |      // (q2 * (SELECT n2 FROM dirn2))
       |  END AS BIGINT) AS residual_bp
       |FROM per""".stripMargin

  // ------------------------------------------ persisted SQ8/IVF index
  /** Path of the MAINTAINED SQ8∘IVF index for an sf-dir, built once per
    * session and searched by every later ANN query — the embedding-side
    * mirror of [[sigTableFor]]'s contract (Similarity.writeIvfSqIndex at
    * ingest, O(probe) searches forever after). */
  private def ivfSqIndexFor(spark: SparkSession, dir: String): String =
    Fixtures.cached("ivfsq8-index", dir) { root =>
      val path = new java.io.File(root, "index").toString
      Similarity.writeIvfSqIndex(Tables.load(spark, dir, "embeddings"),
        "vec_id", "embedding", path, nlist = 16, iters = 2)
      path
    }

  // x_ann_ivf_sq8_table: the SAME search as x_ann_ivf_sq8, but against
  // the STORED index — no training, no encoding, no full-precision
  // corpus read in the query path; per-query work is the probe join
  // over the pruned code lists. Hash-equal to the from-scratch chain
  // (everything stored is exact), so the oracle is the identical SQL.
  def annIvfSq8TableQ(spark: SparkSession, dir: String): DataFrame = {
    val path = ivfSqIndexFor(spark, dir)
    Similarity.ivfSqTopKFromIndex(
      Tables.load(spark, dir, "embeddings").filter(col("vec_id") < 20),
      "vec_id", "embedding", path, 5, nprobe = 4)
  }

  // x_ann_pareto: the nprobe TUNING TABLE for the stored index — for
  // each candidate nprobe, recall@5 against the exact brute-force
  // neighbors (integer basis points) and the price paid for it
  // (candidate rows the probe join touches, from the stored lists'
  // occupancy — Similarity.ivfIndexProbeLists, which never reads the
  // corpus). One row per nprobe: the table an operator reads before
  // picking the serving configuration. Quantizer trained once (the
  // session index fixture); the oracle replays the identical chain.
  def annParetoQ(spark: SparkSession, dir: String): DataFrame = {
    val path = ivfSqIndexFor(spark, dir)
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
    val occ = spark.read.parquet(s"$path/codes")
      .groupBy(col("list_id")).agg(count(lit(1)).as("sz"))
    Seq(1, 2, 4).map { np =>
      val approx = Similarity.ivfSqTopKFromIndex(
        q, "vec_id", "embedding", path, 5, nprobe = np)
      val rec = Similarity.recallReport(exact, approx)
        .agg(count(lit(1)).as("n_queries"),
          sum(col("n_exact")).as("sum_exact"),
          sum(col("n_hit")).as("sum_hit"))
      val cand = Similarity
        .ivfIndexProbeLists(q, "vec_id", "embedding", path, np)
        .join(occ, col("c_id") === col("list_id"))
        .agg(sum(col("sz")).as("cand_rows"))
      rec.crossJoin(broadcast(cand))
        .select(lit(np.toLong).as("nprobe"), col("n_queries"),
          col("sum_exact"), col("sum_hit"),
          expr("sum_hit * 10000 div sum_exact").as("recall_bp"),
          col("cand_rows"))
    }.reduce(_.unionByName(_))
  }
  lazy val annParetoSql: String = {
    val probeNs = Seq(1, 2, 4)
    val blocks = probeNs.map { np =>
      s"""p$np AS (SELECT q_id, q_v, c_id FROM probes WHERE rn <= $np),
         |apx$np AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT p.q_id, a2.n_id,
         |      row_number() OVER (PARTITION BY p.q_id ORDER BY
         |        round(${ivfCos("p.q_v", "a2.n_v")}, 4) DESC, a2.n_id)
         |        AS rk
         |    FROM p$np p JOIN a2 USING (c_id) WHERE p.q_id != a2.n_id)
         |  WHERE rk <= 5),
         |hit$np AS (SELECT count(*) AS sum_hit
         |  FROM ext e JOIN apx$np a
         |    ON a.q_id = e.q_id AND a.n_id = e.n_id),
         |cand$np AS (SELECT sum(o.sz) AS cand_rows
         |  FROM p$np p JOIN occ o ON o.c_id = p.c_id)""".stripMargin
    }.mkString(",\n")
    val rows = probeNs.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, b.n_queries,
         |  b.sum_exact, CAST(h.sum_hit AS BIGINT) AS sum_hit,
         |  CAST(h.sum_hit * 10000 // b.sum_exact AS BIGINT)
         |    AS recall_bp,
         |  CAST(c.cand_rows AS BIGINT) AS cand_rows
         |FROM base b, hit$np h, cand$np c""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${ivfAssignCtes(sq8DecodedPrelude())},
       |${ivfProbesCte("vq")},
       |occ AS (SELECT c_id, count(*) AS sz FROM a2 GROUP BY 1),
       |ext AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(${ivfCos("q.vec", "n.vec")}, 4) DESC, n.vec_id)
       |        AS rk
       |    FROM v0 q JOIN v0 n ON n.vec_id != q.vec_id
       |    WHERE q.vec_id < 20)
       |  WHERE rk <= 5),
       |base AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT)
       |    AS n_queries,
       |  CAST(count(*) AS BIGINT) AS sum_exact FROM ext),
       |$blocks
       |$rows""".stripMargin
  }

  // x_ann_ivf runs the TRAINED quantizer: 2 Lloyd iterations of the
  // exact fixed-point k-means (Similarity.kmeansQuantized). The oracle
  // REPLAYS training: because every cross-row reduction in the trainer
  // is integer (order-independent) and every double is derived from
  // exact integers by correctly-rounded ops, DuckDB reproduces the
  // centroids bit-for-bit with unrolled CTEs, then runs the same search.
  def annIvfQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.ivfTopKTrained(emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", 5, nlist = 16, nprobe = 4, iters = 2)
  }
  // ------------------------------------------- product quantization ANN
  // Similarity.pqTopK gated end to end: four independent 16-codeword
  // codebooks (one per 16-dim subspace of the 64-dim embedding), each
  // the SAME deterministic quantizer replay as x_ann_ivf, composed in
  // one statement via the suffix-parameterized chain; corpus vectors
  // reconstruct from their codes and queries rank round(cos, 4)
  // against the reconstruction — both engines fold the full 64-dim
  // dot identically.
  def annPqQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.pqTopK(emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", 5, m = 4, ksub = 16, iters = 2)
  }
  lazy val annPqSql: String =
    s"""WITH v0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |${pqRecCtes()},
       |scored AS (
       |  SELECT q.vec_id AS q_id, r.n_id,
       |    round(${ivfCos("q.vec", "r.r_v")}, 4) AS sim
       |  FROM v0 q CROSS JOIN rec r
       |  WHERE q.vec_id < 20 AND q.vec_id != r.n_id)
       |${topKSql("scored", 5)}""".stripMargin

  // --------------------------------------------------- IVF∘PQ (IVFPQ)
  // Similarity.ivfPqTopK gated end to end: the coarse trained-IVF
  // quantizer bounds READS (candidates only from the 4 probed lists)
  // and the product quantizer bounds BYTES (ranking reconstructs from
  // 2-byte codes) — FIVE independent replays of the oracle-pinned
  // integer k-means (coarse + 4 subspace codebooks) composed in one
  // statement via the suffix-parameterized chain, scored in the same
  // full-vector fold both engines use.
  def annIvfPqQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.ivfPqTopK(emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", 5, nlist = 16, nprobe = 4,
      m = 4, ksub = 16, iters = 2)
  }
  lazy val annIvfPqSql: String = ivfPqSql(trainSample = 0)

  // ------------------------------------- IVF∘PQ with sampled training
  // The actual 100 TB configuration of x_ann_ivf_pq: ALL FIVE
  // quantizers (coarse + 4 PQ subspace codebooks) train on the
  // deterministic 64-row hash-ordered sample (smallest
  // (hash32("smp:"+id), id) — the FAISS practice of Lloyd on a bounded
  // sample followed by one full assignment pass), so training cost
  // decouples from corpus size while assignment/search stay exact over
  // everything. The sample is an ID selection, so every subspace
  // trains on the same rows; the oracle replays the top-N sample
  // selection and all 5 trainings bit-exact (the trn CTE's
  // hash-ordered LIMIT).
  def annIvfPqSampledQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.ivfPqTopK(emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", 5, nlist = 16, nprobe = 4,
      m = 4, ksub = 16, iters = 2, trainSample = 64)
  }
  lazy val annIvfPqSampledSql: String = ivfPqSql(trainSample = 64)

  // --------------------------------------------- filtered ANN search
  // Attribute-filtered vector search — top-5 among vectors WHERE the
  // label is even, for every query. The filter applies BEFORE the
  // index: the quantizer trains on and the lists hold only the
  // filtered slice, so probes never see an excluded vector and the
  // filter costs no recall (the post-top-k-filter alternative silently
  // returns < k). Same trained-IVF chain as x_ann_ivf; the oracle
  // replays training over the same filtered corpus bit-exact.
  def annFilteredQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.ivfTopKTrained(
      emb.filter(col("vec_id") < 20),
      emb.filter(col("label") % 2 === 0),
      "vec_id", "embedding", 5, nlist = 16, nprobe = 4, iters = 2)
  }
  lazy val annFilteredSql: String = ivfChainSql(
    """v0 AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      |vc AS (
      |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec
      |  FROM embeddings e WHERE e.label % 2 = 0),
      |vq AS (SELECT vec_id, vec FROM v0)""".stripMargin)

  // ------------------------------------------------ ANN recall audit
  // Similarity.recallReport gated end to end: recall@5 of the trained
  // IVF search against the exact brute-force ranking, per query — the
  // audit that decides whether an index (or its nlist/nprobe setting)
  // is fit to serve. Composes two already-pinned rankings; the oracle
  // runs the identical IVF chain and brute chain in one statement and
  // joins them the same way. At 100 TB the exact side runs over the
  // SAMPLED query set only (here: vec_id < 20), never the pair space.
  def annRecallQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    Similarity.recallReport(
      Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5),
      Similarity.ivfTopKTrained(q, emb, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 4, iters = 2))
  }
  lazy val annRecallSql: String =
    s"""${ivfAssignCtes(
        """v0 AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
          |vc AS (SELECT vec_id, vec FROM v0)""".stripMargin)},
       |${ivfProbesCte("v0")},
       |p2 AS (SELECT q_id, q_v, c_id FROM probes WHERE rn <= 4),
       |apx AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT p2.q_id, a2.n_id,
       |      row_number() OVER (PARTITION BY p2.q_id ORDER BY
       |        round(${ivfCos("p2.q_v", "a2.n_v")}, 4) DESC, a2.n_id) AS rk
       |    FROM p2 JOIN a2 USING (c_id) WHERE p2.q_id != a2.n_id)
       |  WHERE rk <= 5),
       |ext AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(${ivfCos("q.vec", "n.vec")}, 4) DESC, n.vec_id) AS rk
       |    FROM v0 q JOIN v0 n ON n.vec_id != q.vec_id
       |    WHERE q.vec_id < 20)
       |  WHERE rk <= 5),
       |hits AS (
       |  SELECT e.q_id, count(*) AS n_hit
       |  FROM ext e JOIN apx a ON a.q_id = e.q_id AND a.n_id = e.n_id
       |  GROUP BY 1)
       |SELECT e.q_id, count(*) AS n_exact,
       |  coalesce(any_value(h.n_hit), 0) AS n_hit,
       |  round(coalesce(any_value(h.n_hit), 0)::DOUBLE / count(*), 4)
       |    AS recall
       |FROM ext e LEFT JOIN hits h ON h.q_id = e.q_id
       |GROUP BY e.q_id""".stripMargin

  /** The cosine of list vectors `a` and `b` (unrounded). */
  private def ivfCos(a: String, b: String) =
    s"""list_dot_product($a, $b) /
       |      (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))""".stripMargin

  /** CTE chain replaying the trained quantizer end-to-end: `prelude`
    * must define `vc(vec_id, vec)` (the corpus); the chain ends in
    * `a2(c_id, n_id, n_v)` — every corpus vector with its trained
    * cluster. Shared by the IVF search oracles and x_semdedup.
    * `trainSample` > 0 replays kmeansQuantized's deterministic
    * hash-ordered training sample (smallest (hash32("smp:"+id), id));
    * 0 trains on the full corpus. */
  private def ivfAssignCtes(prelude: String, trainSample: Int = 0,
                            trainWhere: String = ""): String =
    s"""WITH $prelude,
       |${ivfAssignBody("", "vc", 16, trainSample, trainWhere)}""".stripMargin

  /** The suffix-parameterized chain body (no WITH, no prelude): every
    * CTE name carries `sfx` so several independent quantizer replays
    * can coexist in one statement (x_ann_pq trains one per PQ
    * subspace); `vcName` is the prelude-defined corpus CTE, `nlist`
    * the codebook width. `sfx = ""` reproduces the original chain. */
  private def ivfAssignBody(sfx: String, vcName: String, nlist: Int,
                            trainSample: Int = 0,
                            trainWhere: String = ""): String = {
    def cos(a: String, b: String) = ivfCos(a, b)
    val tw = if (trainWhere.isEmpty) "" else s"WHERE $trainWhere"
    // one Lloyd iteration: exact-integer assignment + update over the
    // previous centroid CTE, empty clusters carrying over
    def iteration(t: Int): String = {
      val prev = if (t == 1) s"cents0$sfx" else s"cents${t - 1}$sfx"
      s"""cn$t$sfx AS (
         |  SELECT c_id, csum, cnt,
         |    CAST(list_sum(list_transform(csum,
         |      x -> CAST(x AS HUGEINT) * x)) AS DOUBLE) AS cn2
         |  FROM $prev),
         |as$t$sfx AS (
         |  SELECT n_id, c_id, qv FROM (
         |    SELECT q.n_id, c.c_id, q.qv,
         |      row_number() OVER (PARTITION BY q.n_id ORDER BY
         |        CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
         |          i -> CAST(q.qv[CAST(i AS INT)] AS HUGEINT)
         |               * c.csum[CAST(i AS INT)])) AS DOUBLE)
         |        / (sqrt(q.qn2) * sqrt(c.cn2)) DESC, c.c_id) AS rn
         |    FROM trn$sfx q CROSS JOIN cn$t$sfx c)
         |  WHERE rn = 1),
         |u$t$sfx AS (
         |  SELECT c_id, pos, CAST(sum(val) AS BIGINT) AS s,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT c_id, generate_subscripts(qv, 1) AS pos,
         |               unnest(qv) AS val FROM as$t$sfx)
         |  GROUP BY c_id, pos),
         |nc$t$sfx AS (
         |  SELECT c_id, list(s ORDER BY pos) AS csum, min(cnt) AS cnt
         |  FROM u$t$sfx GROUP BY c_id),
         |cents$t$sfx AS (
         |  SELECT p.c_id, COALESCE(n.csum, p.csum) AS csum,
         |         COALESCE(n.cnt, p.cnt) AS cnt
         |  FROM $prev p LEFT JOIN nc$t$sfx n USING (c_id))""".stripMargin
    }
    s"""q0$sfx AS (
       |  SELECT vec_id AS n_id, vec,
       |    list_transform(vec, x -> CAST(floor(x * 1048576) AS BIGINT)) AS qv
       |  FROM $vcName),
       |qn$sfx AS (
       |  SELECT n_id, qv,
       |    CAST(list_sum(list_transform(qv,
       |      x -> CAST(x AS HUGEINT) * x)) AS DOUBLE) AS qn2
       |  FROM q0$sfx),
       |trn$sfx AS (${
      if (trainSample == 0) s"SELECT n_id, qv, qn2 FROM qn$sfx $tw"
      else
        s"""
       |  SELECT n_id, qv, qn2 FROM (
       |    SELECT n_id, qv, qn2,
       |      ${duckHash32("'smp:' || CAST(n_id AS VARCHAR)")} AS hs
       |    FROM qn$sfx $tw ORDER BY hs, n_id LIMIT $trainSample)""".stripMargin
    }),
       |cents0$sfx AS (
       |  SELECT CAST(row_number() OVER (ORDER BY h, n_id) - 1 AS BIGINT) AS c_id,
       |         qv AS csum, CAST(1 AS BIGINT) AS cnt
       |  FROM (SELECT n_id, qv,
       |          ${duckHash32("CAST(n_id AS VARCHAR)")} AS h
       |        FROM trn$sfx ORDER BY h, n_id LIMIT $nlist)),
       |${iteration(1)},
       |${iteration(2)},
       |cents$sfx AS (
       |  SELECT c_id,
       |    list_transform(csum, s -> (CAST(s AS DOUBLE) / cnt) / 1048576) AS c_v
       |  FROM cents2$sfx),
       |assigned$sfx AS (
       |  SELECT n.vec_id AS n_id, n.vec AS n_v, c.c_id,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      ${cos("n.vec", "c.c_v")} DESC, c.c_id) AS rn
       |  FROM $vcName n CROSS JOIN cents$sfx c),
       |a2$sfx AS (SELECT c_id, n_id, n_v FROM assigned$sfx WHERE rn = 1)""".stripMargin
  }

  /** `probes(q_id, q_v, c_id, rn)`: every query vector of `q` (vec_id
    * < 20) against the trained centroids `cents`, ranked by cosine. */
  private def ivfProbesCte(q: String): String =
    s"""probes AS (
       |  SELECT q.vec_id AS q_id, q.vec AS q_v, c.c_id,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${ivfCos("q.vec", "c.c_v")} DESC, c.c_id) AS rn
       |  FROM $q q CROSS JOIN cents c WHERE q.vec_id < 20)""".stripMargin

  /** The trained-IVF oracle chain, parameterized by a CTE prelude that
    * must define `vc(vec_id, vec)` — the corpus the quantizer trains
    * on, assigns, and scores — and `vq(vec_id, vec)` — the query
    * vectors (probe selection filters vec_id < 20 inside the chain).
    * x_ann_ivf instantiates both as the raw embeddings; x_ann_ivf_sq8
    * instantiates vc as the SQ8-decoded corpus and vq raw. */
  private def ivfChainSql(prelude: String,
                          trainWhere: String = ""): String =
    s"""${ivfAssignCtes(prelude, trainWhere = trainWhere)},
       |${ivfProbesCte("vq")},
       |p2 AS (SELECT q_id, q_v, c_id FROM probes WHERE rn <= 4),
       |scored AS (
       |  SELECT p2.q_id, a2.n_id,
       |    round(${ivfCos("p2.q_v", "a2.n_v")}, 4) AS sim
       |  FROM p2 JOIN a2 USING (c_id) WHERE p2.q_id != a2.n_id)
       |${topKSql("scored", 5)}""".stripMargin

  /** The 4×16 PQ codebook replays over `v0(vec_id, vec)`, one
    * [[ivfAssignBody]] per 16-dim subspace, ending in `rec(n_id, r_v)`:
    * every corpus vector reconstructed from its codes. */
  private def pqRecCtes(trainSample: Int = 0): String = {
    val m = 4; val sub = 16
    val preludes = (0 until m).map(s =>
      s"vc_s$s AS (SELECT vec_id, " +
        s"vec[${s * sub + 1}:${(s + 1) * sub}] AS vec FROM v0)")
      .mkString(",\n")
    val bodies = (0 until m).map(s =>
      ivfAssignBody(s"_s$s", s"vc_s$s", 16, trainSample)).mkString(",\n")
    s"""$preludes,
       |$bodies,
       |rec AS (
       |  SELECT a0.n_id,
       |    c0.c_v || c1.c_v || c2.c_v || c3.c_v AS r_v
       |  FROM a2_s0 a0 JOIN cents_s0 c0 ON a0.c_id = c0.c_id
       |  JOIN a2_s1 x1 ON x1.n_id = a0.n_id
       |  JOIN cents_s1 c1 ON x1.c_id = c1.c_id
       |  JOIN a2_s2 x2 ON x2.n_id = a0.n_id
       |  JOIN cents_s2 c2 ON x2.c_id = c2.c_id
       |  JOIN a2_s3 x3 ON x3.n_id = a0.n_id
       |  JOIN cents_s3 c3 ON x3.c_id = c3.c_id)""".stripMargin
  }

  /** The IVF∘PQ search oracle: the coarse quantizer and the four PQ
    * codebooks, each trained on the `trainSample`-row hash sample (the
    * full corpus at 0), 4 probed lists scored against the
    * reconstructions. */
  private def ivfPqSql(trainSample: Int): String =
    s"""WITH v0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |vc AS (SELECT vec_id, vec FROM v0),
       |${ivfAssignBody("", "vc", 16, trainSample)},
       |${pqRecCtes(trainSample)},
       |${ivfProbesCte("v0")},
       |p2 AS (SELECT q_id, q_v, c_id FROM probes WHERE rn <= 4),
       |scored AS (
       |  SELECT p2.q_id, a2.n_id,
       |    round(${ivfCos("p2.q_v", "r.r_v")}, 4) AS sim
       |  FROM p2 JOIN a2 USING (c_id) JOIN rec r ON r.n_id = a2.n_id
       |  WHERE p2.q_id != a2.n_id)
       |${topKSql("scored", 5)}""".stripMargin

  val annIvfSql: String = ivfChainSql(
    """v0 AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      |vc AS (SELECT vec_id, vec FROM v0),
      |vq AS (SELECT vec_id, vec FROM v0)""".stripMargin)

  // x_ann_ivf_sq8: the two ANN levers stacked — the IVF chain runs
  // unchanged, but its corpus is the SQ8-decoded table (training,
  // assignment, and scoring all see the compressed vectors, exactly as
  // they would on disk); queries probe at full precision.
  def annIvfSq8Q(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    Similarity.ivfSqTopK(emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", 5, nlist = 16, nprobe = 4, iters = 2)
  }
  /** SQ8-decoded corpus prelude (v0 raw, vc decoded, vq raw), the
    * per-dimension ranges taken over `statsSrc` — shared by the
    * from-scratch SQ8∘IVF chain, its stored-index twins, and the
    * index-health oracle. */
  private def sq8DecodedPrelude(statsSrc: String = "v0"): String =
    s"""v0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |stats8 AS (
       |  SELECT pos, min(val) AS mn, max(val) AS mx FROM (
       |    SELECT unnest(vec) AS val, generate_subscripts(vec, 1) AS pos
       |    FROM $statsSrc)
       |  GROUP BY pos),
       |sv8 AS (
       |  SELECT list(mn ORDER BY pos) AS mnv, list(mx ORDER BY pos) AS mxv
       |  FROM stats8),
       |enc8 AS (
       |  SELECT vec_id,
       |    list_transform(range(1, len(vec) + 1), i -> CASE
       |      WHEN mxv[CAST(i AS INT)] = mnv[CAST(i AS INT)] THEN 0.0
       |      ELSE floor((vec[CAST(i AS INT)] - mnv[CAST(i AS INT)])
       |           / (mxv[CAST(i AS INT)] - mnv[CAST(i AS INT)]) * 255.0)
       |      END) AS codes
       |  FROM v0, sv8),
       |vc AS (
       |  SELECT vec_id,
       |    list_transform(range(1, len(codes) + 1),
       |      i -> mnv[CAST(i AS INT)] + codes[CAST(i AS INT)]
       |           * (mxv[CAST(i AS INT)] - mnv[CAST(i AS INT)]) / 255.0)
       |      AS vec
       |  FROM enc8, sv8),
       |vq AS (SELECT vec_id, vec FROM v0)""".stripMargin

  val annIvfSq8Sql: String = ivfChainSql(sq8DecodedPrelude())

  // ------------------------------------------- index health report
  // The index-ops monitoring table a serving deployment reads every
  // shift: per stored inverted list, its occupancy and its load ratio
  // against the ideal |corpus|/n_lists in basis points — a hot list
  // (load_bp ≫ 10000) is a probe-cost hotspot and the re-train
  // signal. The engine reads ONLY the stored codes table's partition
  // column (column-pruned — no code decode, no centroid read); the
  // oracle replays SQ8 quantization + k-means training + assignment
  // from scratch and must land identical occupancies — the standing
  // proof the stored index matches what a rebuild would produce.
  def annIndexStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val path = ivfSqIndexFor(spark, dir)
    val occ = spark.read.parquet(s"$path/codes")
      .groupBy(col("list_id").cast("long").as("list_id"))
      .agg(count(lit(1)).as("n_vecs"))
    occ.crossJoin(broadcast(occ.agg(
        sum(col("n_vecs")).as("total"), count(lit(1)).as("n_lists"))))
      .select(col("list_id"), col("n_vecs"),
        expr("n_vecs * 10000 * n_lists div total").as("load_bp"))
  }
  lazy val annIndexStatsSql: String =
    s"""${ivfAssignCtes(sq8DecodedPrelude())},
       |occ AS (
       |  SELECT c_id AS list_id, count(*) AS n_vecs FROM a2 GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(n_vecs) AS BIGINT) AS total, count(*) AS n_lists
       |  FROM occ)
       |SELECT CAST(occ.list_id AS BIGINT) AS list_id, occ.n_vecs,
       |  CAST(occ.n_vecs * 10000 * tot.n_lists // tot.total AS BIGINT)
       |    AS load_bp
       |FROM occ CROSS JOIN tot""".stripMargin

  // --------------------------------------------- index staleness check
  // The drift monitor between an index's stored population and a
  // fresh batch: the vec_id % 10 == 0 slice plays the arriving batch,
  // and each list's batch share is compared against its overall
  // occupancy share in basis points (drift_bp far from 10000 on big
  // lists = the incoming distribution has moved off the trained
  // centroids — the re-train trigger, read BEFORE recall degrades).
  // Engine side reads ONLY the stored codes table (n_id + partition
  // column); the oracle replays assignment from scratch.
  def indexDriftQ(spark: SparkSession, dir: String): DataFrame = {
    val path = ivfSqIndexFor(spark, dir)
    val codes = spark.read.parquet(s"$path/codes")
      .select(col("list_id").cast("long").as("list_id"),
        (col("n_id") % 10 === 0).as("in_batch"))
    val occ = codes.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("in_batch"), 1)).as("n_batch"))
    occ.crossJoin(broadcast(occ.agg(
        sum(col("n_total")).as("tot"), sum(col("n_batch")).as("btot"))))
      .select(col("list_id"), col("n_total"), col("n_batch"),
        expr("n_batch * tot * 10000 div greatest(n_total * btot, 1)")
          .as("drift_bp"))
  }
  lazy val indexDriftSql: String =
    s"""${ivfAssignCtes(sq8DecodedPrelude())},
       |occ AS (
       |  SELECT c_id AS list_id, count(*) AS n_total,
       |    count(CASE WHEN n_id % 10 = 0 THEN 1 END) AS n_batch
       |  FROM a2 GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(n_total) AS BIGINT) AS tot,
       |    CAST(sum(n_batch) AS BIGINT) AS btot
       |  FROM occ)
       |SELECT CAST(occ.list_id AS BIGINT) AS list_id, occ.n_total,
       |  occ.n_batch,
       |  CAST(occ.n_batch * tot.tot * 10000
       |    // greatest(occ.n_total * tot.btot, 1) AS BIGINT) AS drift_bp
       |FROM occ CROSS JOIN tot""".stripMargin

  // ---------------------------------------- streaming ANN serving
  // The serving half of the index split, online: query vectors arrive
  // in TWO micro-batches (vec_id 0-9, then 10-19) and each batch is
  // searched against the SAME stored index the batch query uses —
  // foreachBatch delegates to ivfSqTopKFromIndex, so streamed results
  // are identical to the batch search by construction, and the oracle
  // is literally x_ann_ivf_sq8's SQL. Per-batch work is O(probe): no
  // training, no encoding, no full-corpus read on the serving path.
  def streamAnnQ(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfSqIndexFor(spark, dir)
    val out = Fixtures.cached("stream-ann", dir) { root =>
      val emb = Tables.load(spark, dir, "embeddings")
      val feedDir = Fixtures.feed(root,
        Seq((0L, 10L), (10L, 20L)).map { case (lo, hi) =>
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        })
      val served = new java.io.File(root, "served").toString
      graft.streaming.StreamingOps.continuousAnnServe(
        spark.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", 1).parquet(feedDir),
        idx, served, "vec_id", "embedding", 5, nprobe = 4)
      served
    }
    spark.read.parquet(out)
  }
  val streamAnnSql: String = annIvfSq8Sql

  // -------------------------------------- incremental index upkeep
  // The ANN ingest loop: the index is BUILT once over the initial
  // corpus (vec_id >= 50 — quantizer stats and centroids freeze
  // there), then a new batch (vec_id < 50) is APPENDED under the
  // frozen quantizer — encoded with the recorded affine stats,
  // assigned to the stored centroids, never retraining or re-reading
  // the existing lists. The oracle replays the composition: stats and
  // training restricted to the original corpus, encode/assign over
  // everything, search over the union.
  def annIndexIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val path = Fixtures.cached("ivfsq8-incr", dir) { root =>
      val emb = Tables.load(spark, dir, "embeddings")
      val p = new java.io.File(root, "index").toString
      Similarity.writeIvfSqIndex(emb.filter(col("vec_id") >= 50),
        "vec_id", "embedding", p, nlist = 16, iters = 2)
      Similarity.appendToIvfSqIndex(emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", p)
      p
    }
    Similarity.ivfSqTopKFromIndex(
      Tables.load(spark, dir, "embeddings").filter(col("vec_id") < 20),
      "vec_id", "embedding", path, 5, nprobe = 4)
  }
  val annIndexIncrSql: String = ivfChainSql(
    sq8DecodedPrelude("v0 WHERE vec_id >= 50"), trainWhere = "n_id >= 50")

  // ------------------------------------------------------- as-of join
  // For every purchase, the user's latest click at-or-before it
  // (attribution-style). DuckDB has native ASOF JOIN; the Spark operator
  // composes union + ordered window + last(ignoreNulls) — one shuffle.
  def asOfJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    graft.operators.AsOfJoin.asOf(purchases, clicks, Seq("user_id"),
      "ts", "ts", Seq("event_id", "ts"))
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"), col("value"),
        col("asof_event_id"),
        expr("asof_ts div 1000").as("asof_ts_us"))
  }
  val asOfJoinSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS tsn, value, event_type
      |  FROM events),
      |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT * FROM e WHERE event_type = 'click')
      |SELECT p.user_id, p.event_id, p.tsn // 1000 AS ts_us, p.value,
      |       c.event_id AS asof_event_id, c.tsn // 1000 AS asof_ts_us
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.tsn <= p.tsn""".stripMargin

  // --------------------------------------------------- quality filter
  // The end-use composition: documents passing quality thresholds
  // (length, stopword density, punctuation density), with the heuristic
  // language attached — the shape of a pretraining-corpus filter stage.
  def qualityFilterQ(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    docs(spark, dir).select(
      col("doc_id"),
      length(t).cast("long").as("char_len"),
      TextFns.tokenCount(t).as("token_cnt"),
      round(TextFns.wordSetCount(t, TextFns.EnWords).cast("double") /
        greatest(TextFns.tokenCount(t), lit(1L)).cast("double"), 4)
        .as("stopword_ratio"),
      round(TextFns.punctCount(t).cast("double") /
        greatest(length(t).cast("long"), lit(1L)).cast("double"), 4)
        .as("punct_ratio"),
      TextFns.langId(t).as("pred_lang"))
      .where(col("char_len") >= 100 && col("token_cnt") >= 15 &&
        col("punct_ratio") <= 0.1)
  }
  val qualityFilterSql: String = {
    def cnt(words: Seq[String]) =
      s"len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b'))"
    val (en, de, fr, es) = (cnt(TextFns.EnWords), cnt(TextFns.DeWords),
      cnt(TextFns.FrWords), cnt(TextFns.EsWords))
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS char_len,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS token_cnt,
       |    round(len(regexp_extract_all(lower(text), '$duckStopRe'))::DOUBLE /
       |          greatest(len(string_split_regex(trim(text), '\\s+')), 1), 4)
       |      AS stopword_ratio,
       |    round((length(text) - length(regexp_replace(text, '$duckPunct', '', 'g')))::DOUBLE /
       |          greatest(length(text), 1), 4) AS punct_ratio,
       |    CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
       |         WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
       |         WHEN $de >= $fr AND $de >= $es THEN 'de'
       |         WHEN $fr >= $es THEN 'fr'
       |         ELSE 'es' END AS pred_lang
       |  FROM documents)
       |SELECT * FROM scored
       |WHERE char_len >= 100 AND token_cnt >= 15 AND punct_ratio <= 0.1""".stripMargin
  }

  // ------------------------------------ deflate redundancy gate
  // DeflateRatioExpr gated end to end: zlib has no DuckDB twin, so the
  // oracle pins the ENGINE-side invariants relationally — for every
  // document, a planted template-farm variant (a ~21-char phrase
  // repeated 100×, the machine-generated-spam shape) must compress
  // BELOW a planted high-entropy variant (8 chained md5 hex blocks) by
  // a fixed 0.20 margin, with both ratios inside wide absolute bands
  // (template < 0.3, jumble in (0.3, 1.2]); the payload lengths are
  // exact string arithmetic both engines compute. A per-doc row
  // (not one aggregate) so every single deflate evaluation is gated.
  // Margins are deliberately coarse: repeated text deflates to < 0.05
  // and 256 hex chars to ~0.55-0.65, so the gate is robust to zlib
  // version drift while still catching a broken/garbage ratio.
  def deflateGateQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val tpl = repeat(concat(substring(col("text"), 1, 10),
      lit("-pad-phrase")), 100)
    val jmb = concat((1 to 8).map(i =>
      md5(concat(col("text"), lit(i.toString)))): _*)
    val rTpl = graft.functions.native.NativeFns.deflateRatio(tpl)
    val rJmb = graft.functions.native.NativeFns.deflateRatio(jmb)
    d.select(col("doc_id"),
      length(tpl).cast("long").as("tpl_len"),
      length(jmb).cast("long").as("jmb_len"),
      (rTpl + lit(0.2d) <= rJmb && rTpl > lit(0.0d) && rTpl < lit(0.3d) &&
        rJmb > lit(0.3d) && rJmb <= lit(1.2d)).as("redundancy_separated"))
  }
  val deflateGateSql: String = {
    val jmbLen = (1 to 8).map(i => s"md5(text || '$i')").mkString(" || ")
    s"""SELECT doc_id,
       |  CAST(length(repeat(substr(text, 1, 10) || '-pad-phrase', 100))
       |       AS BIGINT) AS tpl_len,
       |  CAST(length($jmbLen) AS BIGINT) AS jmb_len,
       |  true AS redundancy_separated
       |FROM documents""".stripMargin
  }

  // ------------------------------------------------------- TF-IDF
  // Top-5 TF-IDF terms per document: token explode → term frequency →
  // document frequency → smoothed idf — the classic keyword-extraction
  // pipeline. One shuffle for tf, one small dfreq aggregate broadcast
  // back. Scores round(4); rank tie-broken by term on both engines.
  def tfidfQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val toks = d.select(col("doc_id"),
      explode(TextFns.words(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("d"))
    val n = d.agg(count(lit(1)).as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("c") *
        log((col("nn") + 1.0d) / (col("d") + 1.0d)), 4))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("doc_id"), col("term"), col("score"),
        col("rank").cast("long").as("rank"))
  }
  val tfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS d FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS nn FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |    round(tf.c * ln((n.nn + 1.0) / (dfreq.d + 1.0)), 4) AS score
      |  FROM tf JOIN dfreq USING (term), n)
      |SELECT doc_id, term, score,
      |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term)
      |       AS BIGINT) AS rank
      |FROM scored
      |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) <= 5""".stripMargin

  // -------------------------------------- deterministic dataset split
  // Content-hash bucketing into train/valid/test (80/10/10): stable
  // under reshuffling, re-ingestion, and engine choice — the split
  // follows the document, not the row order or an RNG seed.
  def datasetSplitQ(spark: SparkSession, dir: String): DataFrame = {
    val bucket = TextFns.hash32(col("text")) % 100
    docs(spark, dir).select(
      col("doc_id"), bucket.as("bucket"),
      when(bucket < 80, "train").when(bucket < 90, "valid")
        .otherwise("test").as("split"))
  }
  val datasetSplitSql: String =
    s"""WITH b AS (
      |  SELECT doc_id, ${duckHash32("text")} % 100 AS bucket
      |  FROM documents)
      |SELECT doc_id, bucket,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'valid'
      |       ELSE 'test' END AS split
      |FROM b""".stripMargin

  // --------------------------------------------- temporal holdout split
  // Sampling.temporalHoldout gated end to end: per user the last 20% of
  // events by (ts, event_id) become test — the time-respecting split a
  // hash split (x_dataset_split) cannot give, because hashing leaks the
  // future into training. The query emits the per-user audit a release
  // gate reads: train/test counts, the boundary timestamps, and
  // boundary_ok — false exactly when a same-nanosecond tie straddles
  // the cut (the tie-break keeps the ASSIGNMENT deterministic; the
  // audit still reports that time alone didn't separate the sides).
  def splitTemporalQ(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"))
    val s = graft.ops.Sampling.temporalHoldout(
      e, "user_id", "ts", "event_id", testBp = 2000L)
    val isTrain = col("split") === "train"
    s.groupBy(col("user_id")).agg(
        count(when(isTrain, 1)).as("n_train"),
        count(when(!isTrain, 1)).as("n_test"),
        max(when(isTrain, col("ts"))).as("train_end_ns"),
        min(when(!isTrain, col("ts"))).as("test_start_ns"))
      .select(col("user_id"), col("n_train"), col("n_test"),
        expr("train_end_ns div 1000").as("train_end_us"),
        expr("test_start_ns div 1000").as("test_start_us"),
        (col("n_train") === 0L ||
          col("train_end_ns") < col("test_start_ns")).as("boundary_ok"))
  }
  val splitTemporalSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS tsn FROM events),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id ORDER BY tsn, event_id)
      |      AS rk,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM e),
      |s AS (
      |  SELECT *, rk * 10000 > n * 8000 AS is_test FROM r)
      |SELECT user_id,
      |  count(CASE WHEN NOT is_test THEN 1 END) AS n_train,
      |  count(CASE WHEN is_test THEN 1 END) AS n_test,
      |  max(CASE WHEN NOT is_test THEN tsn END) // 1000 AS train_end_us,
      |  min(CASE WHEN is_test THEN tsn END) // 1000 AS test_start_us,
      |  (count(CASE WHEN NOT is_test THEN 1 END) = 0 OR
      |   max(CASE WHEN NOT is_test THEN tsn END) <
      |     min(CASE WHEN is_test THEN tsn END)) AS boundary_ok
      |FROM s GROUP BY user_id""".stripMargin

  /** DuckDB reproduction of TextFns.hash32: fold the first 8 hex chars
    * of md5 into an unsigned 32-bit value (bit-identical; established by
    * the x_dataset_split oracle). */
  private def duckHash32(e: String): String =
    s"""CAST(list_sum(list_transform(range(8),
       |      c -> (strpos('0123456789abcdef', substr(md5($e), CAST(c+1 AS INT), 1))-1)::BIGINT
       |           << (4*(7-c)))) AS BIGINT)""".stripMargin

  // ------------------------------------------- Poisson bootstrap CI
  // Distributed bootstrap the way it is actually run at scale (Poisson
  // bootstrap — Chamandy et al., Google 2012): instead of resampling n
  // rows WITH replacement (a global operation), each (row, replica)
  // pair independently draws a Poisson(1) weight, here a deterministic
  // pseudo-draw from the portable md5 hash so both engines sample
  // identically (thresholds 368/736/920/981/996 per mille ≈ the
  // Poisson(1) pmf). 32 replicas of the mean-doc-length statistic in
  // integer ×100 lanes; the CI is an exact order statistic (4th / 29th
  // of 32) over the replica relation. One corpus scan, map-side
  // combine collapses the ×32 fan-out to ≤32 rows per task.
  def bootstrapCiQ(spark: SparkSession, dir: String): DataFrame = {
    val reps = spark.range(32).select(col("id").as("b"))
    val h = TextFns.hash32(concat(col("doc_id").cast("string"),
      lit("_"), col("b").cast("string"))) % 1000
    val w = when(h < 368, 0L).when(h < 736, 1L).when(h < 920, 2L)
      .when(h < 981, 3L).when(h < 996, 4L).otherwise(5L)
    val per = docs(spark, dir).select(col("doc_id"), col("n_chars"))
      .crossJoin(broadcast(reps))
      .withColumn("w", w)
      .groupBy(col("b"))
      .agg(sum(col("w") * col("n_chars")).as("sx"), sum(col("w")).as("sw"))
      .select(col("b"),
        when(col("sw") === 0L, 0L)
          .otherwise(expr("(100 * sx) div sw")).as("m100"))
    val wnd = Window.orderBy(col("m100"), col("b"))
    per.withColumn("rk", row_number().over(wnd))
      .agg(count(lit(1)).as("n_replicas"),
        min(col("m100")).as("min_x100"),
        max(when(col("rk") === 4, col("m100"))).as("lo_x100"),
        max(when(col("rk") === 29, col("m100"))).as("hi_x100"),
        max(col("m100")).as("max_x100"))
  }
  val bootstrapCiSql: String = {
    val h = duckHash32("CAST(doc_id AS VARCHAR) || '_' || CAST(b AS VARCHAR)")
    s"""WITH reps AS (SELECT unnest(range(32)) AS b),
       |wtd AS (
       |  SELECT b, n_chars,
       |    CASE WHEN hm < 368 THEN 0 WHEN hm < 736 THEN 1
       |         WHEN hm < 920 THEN 2 WHEN hm < 981 THEN 3
       |         WHEN hm < 996 THEN 4 ELSE 5 END AS w
       |  FROM (SELECT d.n_chars, r.b, $h % 1000 AS hm
       |        FROM documents d CROSS JOIN reps r) t),
       |per AS (
       |  SELECT b,
       |    CASE WHEN sum(w) = 0 THEN 0
       |         ELSE (100 * sum(w * n_chars)) // sum(w) END AS m100
       |  FROM wtd GROUP BY 1),
       |rk AS (
       |  SELECT m100, row_number() OVER (ORDER BY m100, b) AS rk
       |  FROM per)
       |SELECT count(*) AS n_replicas,
       |  CAST(min(m100) AS BIGINT) AS min_x100,
       |  CAST(max(CASE WHEN rk = 4 THEN m100 END) AS BIGINT) AS lo_x100,
       |  CAST(max(CASE WHEN rk = 29 THEN m100 END) AS BIGINT) AS hi_x100,
       |  CAST(max(m100) AS BIGINT) AS max_x100
       |FROM rk""".stripMargin
  }

  // -------------------------------------------------------- repetition ratio
  // Gopher-style repetitious-document signal: fraction of repeated word
  // bigrams/trigrams inside each document.
  def repetitionQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TextFns.repetitionRatio(col("text"), 2).as("rep2"),
      TextFns.repetitionRatio(col("text"), 3).as("rep3"))
  val repetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ta
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ta) >= 2 THEN
      |      list_transform(range(1, len(ta)),
      |        i -> ta[CAST(i AS INT)] || ' ' || ta[CAST(i AS INT)+1])
      |    ELSE [] END AS g2,
      |    CASE WHEN len(ta) >= 3 THEN
      |      list_transform(range(1, len(ta)-1),
      |        i -> ta[CAST(i AS INT)] || ' ' || ta[CAST(i AS INT)+1] || ' ' || ta[CAST(i AS INT)+2])
      |    ELSE [] END AS g3
      |  FROM toks)
      |SELECT doc_id,
      |  CASE WHEN len(g2) = 0 THEN 0.0
      |       ELSE round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2), 4) END AS rep2,
      |  CASE WHEN len(g3) = 0 THEN 0.0
      |       ELSE round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 4) END AS rep3
      |FROM g""".stripMargin

  // ----------------------------------------------- chunk-level dedup
  // Partial-duplication coverage at CHUNK granularity — the case
  // document-level dedup misses (a doc that embeds half of another
  // survives both exact and MinHash screens) and span-hash counting
  // (x_dup_spans) can't attribute to reuse units. The fixture unions
  // each document with a HALF-COPY (first n_chars/2, ids +3e6) so the
  // copy's aligned chunk grid matches the original's head chunks but
  // not its tail: per doc, distinct chunk fingerprints, how many also
  // appear in another document, and the shared share in basis points.
  // Attribution is a partial-combined per-fingerprint count plus a
  // semi-join back (the skew-safe x_novelty device — a boilerplate
  // chunk held by every doc combines map-side instead of sorting all
  // holders on one reducer).
  def chunkDedupQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val corpus = d.select(col("doc_id"), col("text"))
      .union(d.select((col("doc_id") + 3000000L).as("doc_id"),
        expr("substring(text, 1, cast(n_chars div 2 as int))").as("text")))
    val fps = graft.operators.Corpus
      .chunkDocs(corpus, "text", "doc_id", window = 10, stride = 10)
      .select(col("doc_id"), md5(col("chunk")).as("fp"))
      .distinct()
    // shared-chunk attribution via a partial-combined count per
    // fingerprint + a semi-join back — not a window partitioned by
    // chunk content (a corpus-wide boilerplate chunk would sort every
    // holder on one reducer; the join AQE can skew-split, the window
    // it cannot)
    val shared = fps.groupBy(col("fp")).agg(count(lit(1)).as("d"))
      .where(col("d") > 1).select(col("fp"))
    val nShared = fps.join(shared, Seq("fp"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .join(nShared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        expr("coalesce(n_shared, 0) * 10000 div n_chunks")
          .as("shared_bp"))
  }
  val chunkDedupSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000, substr(text, 1, CAST(n_chars // 2 AS INT))
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ta
      |  FROM corpus),
      |s AS (
      |  SELECT doc_id, ta,
      |    unnest(range(0, greatest(0,
      |      CAST(ceil((len(ta) - 10) / 10.0) AS BIGINT)) + 1)) AS i
      |  FROM t),
      |c AS (
      |  SELECT DISTINCT doc_id,
      |    md5(array_to_string(
      |      ta[CAST(i*10 + 1 AS INT):CAST(i*10 + 10 AS INT)], ' ')) AS fp
      |  FROM s),
      |w AS (
      |  SELECT doc_id, count(*) OVER (PARTITION BY fp) AS nd FROM c)
      |SELECT doc_id, count(*) AS n_chunks,
      |  count(CASE WHEN nd > 1 THEN 1 END) AS n_shared,
      |  CAST(count(CASE WHEN nd > 1 THEN 1 END) * 10000 // count(*)
      |    AS BIGINT) AS shared_bp
      |FROM w GROUP BY doc_id""".stripMargin

  // -------------------------------------------------- first-seen novelty
  // Dedup.noveltyReport gated end to end: every distinct word bigram is
  // owned by the lowest doc id containing it; each document reports the
  // share of its grams it introduced, in integer basis points. The
  // curriculum/dedup signal between exact dedup (all-or-nothing) and
  // MinHash (pairwise): a doc assembled from earlier material scores
  // near 0 without ever naming which docs it copies. Linear in total
  // grams — no candidate pairs.
  def noveltyQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.noveltyReport(docs(spark, dir), "text", "doc_id", n = 2)
  val noveltySql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS ta
      |  FROM documents),
      |grm AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ta) >= 2 THEN
      |    list_distinct(list_transform(range(1, len(ta)),
      |      i -> ta[CAST(i AS INT)] || ' ' || ta[CAST(i AS INT)+1]))
      |    ELSE [] END) AS gr
      |  FROM toks),
      |fst AS (SELECT gr, min(doc_id) AS first_id FROM grm GROUP BY 1)
      |SELECT g.doc_id, count(*) AS n_grams,
      |  count(CASE WHEN f.first_id = g.doc_id THEN 1 END) AS n_novel,
      |  CAST(count(CASE WHEN f.first_id = g.doc_id THEN 1 END) * 10000
      |    // count(*) AS BIGINT) AS novelty_bp
      |FROM grm g JOIN fst f ON f.gr = g.gr
      |GROUP BY g.doc_id""".stripMargin

  // ------------------------------------------------------- boilerplate strip
  // HTML-tag removal + whitespace normalization over a tag-wrapped corpus
  // (the raw documents carry no markup, so the fixture adds it on both
  // engines identically).
  def htmlStripQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      concat(lit("<p class=\"c\"> "), col("text"), lit(" </p> <br/>"))
        .as("html"))
      .select(
        col("doc_id"),
        TextFns.stripHtml(col("html")).as("clean"),
        length(TextFns.stripHtml(col("html"))).cast("long").as("clean_len"))
  val htmlStripSql: String =
    """WITH tagged AS (
      |  SELECT doc_id, '<p class="c"> ' || text || ' </p> <br/>' AS html
      |  FROM documents),
      |stripped AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'),
      |         '\s+', ' ', 'g')) AS clean
      |  FROM tagged)
      |SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS clean_len
      |FROM stripped""".stripMargin

  // ----------------------------------------------------------- top-k vocab
  def vocabTopKQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.topKVocab(docs(spark, dir), "text", 100)
  val vocabTopKSql: String =
    """WITH tok AS (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      |  FROM documents),
      |c AS (
      |  SELECT token, count(*) AS cnt FROM tok
      |  WHERE length(token) > 0 GROUP BY 1)
      |SELECT token, cnt,
      |  CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
      |FROM c ORDER BY cnt DESC, token LIMIT 100""".stripMargin

  // ------------------------------------------------- term burstiness
  // Corpus.burstiness gated end to end: for the top-100
  // collection-frequency terms, total occurrences vs containing-doc
  // count and their ratio in basis points — near 10000 means the term
  // spreads one-per-doc (function-word-like), high means it
  // concentrates (topical/templated). Same tokenizer and top-k rule
  // as x_vocab_topk; integer ratio, no tolerance.
  def burstinessQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.burstiness(docs(spark, dir), "text",
      "doc_id", 100)
  val burstinessSql: String =
    """WITH t AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      |    FROM documents)
      |  WHERE length(token) > 0),
      |pd AS (SELECT token, doc_id, count(*) AS n FROM t GROUP BY 1, 2),
      |a AS (
      |  SELECT token, CAST(sum(n) AS BIGINT) AS cf, count(*) AS df
      |  FROM pd GROUP BY 1)
      |SELECT token, cf, df, CAST(cf * 10000 // df AS BIGINT) AS burst_bp
      |FROM a ORDER BY cf DESC, token LIMIT 100""".stripMargin

  // --------------------------------------------- split balance audit
  // The dataset-card fairness table: the hash split of x_dataset_split
  // crossed with language, each cell carrying its observed count, the
  // independence-expected count (split_total·lang_total div grand),
  // and their ratio in basis points — a cell far from 10000 means the
  // split is language-skewed and eval metrics won't transfer. All
  // integer arithmetic over one |splits|×|langs| cell table; the
  // grand total rides in as a broadcast one-row aggregate.
  def evalBalanceQ(spark: SparkSession, dir: String): DataFrame = {
    val bucket = TextFns.hash32(col("text")) % 100
    val s = docs(spark, dir).select(col("lang"),
      when(bucket < 80, "train").when(bucket < 90, "valid")
        .otherwise("test").as("split"))
    val cells = s.groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("split_total",
        sum(col("n")).over(Window.partitionBy(col("split"))))
      .withColumn("lang_total",
        sum(col("n")).over(Window.partitionBy(col("lang"))))
      .crossJoin(broadcast(s.agg(count(lit(1)).as("grand"))))
      .select(col("split"), col("lang"), col("n"),
        expr("split_total * lang_total div grand").as("expected"),
        expr("n * 10000 div greatest(split_total * lang_total div grand, 1)")
          .as("ratio_bp"))
  }
  val evalBalanceSql: String =
    s"""WITH b AS (
       |  SELECT lang, ${duckHash32("text")} % 100 AS bucket
       |  FROM documents),
       |s AS (
       |  SELECT lang,
       |    CASE WHEN bucket < 80 THEN 'train'
       |         WHEN bucket < 90 THEN 'valid'
       |         ELSE 'test' END AS split
       |  FROM b),
       |cells AS (
       |  SELECT split, lang, count(*) AS n FROM s GROUP BY 1, 2),
       |w AS (
       |  SELECT *,
       |    CAST(sum(n) OVER (PARTITION BY split) AS BIGINT) AS st,
       |    CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS lt,
       |    (SELECT count(*) FROM s) AS grand
       |  FROM cells)
       |SELECT split, lang, n, CAST(st * lt // grand AS BIGINT) AS expected,
       |  CAST(n * 10000 // greatest(st * lt // grand, 1) AS BIGINT)
       |    AS ratio_bp
       |FROM w""".stripMargin

  // ---------------------------------------------- vocab coverage curve
  // The tokenizer-sizing curve: the share of the whitespace-token
  // stream the top-v vocabulary covers, at v = 10 / 20 / 50. The
  // cumulative mass comes from a ≤50-row ranked vocab table (bounded
  // after the distributed top-k, so its global rank window is cheap by
  // construction); the stream total is a plain one-scan sum. Shares
  // are integer basis points — no tolerance.
  def coverageCurveQ(spark: SparkSession, dir: String): DataFrame = {
    val top = graft.operators.Corpus.topKVocab(docs(spark, dir), "text", 50)
    val tot = docs(spark, dir)
      .agg(sum(TextFns.tokenCount(col("text"))).as("total_tokens"))
    val vs = spark.createDataFrame(Seq(Tuple1(10L), Tuple1(20L),
      Tuple1(50L))).toDF("v")
    vs.join(top, col("rank") <= col("v"), "left")
      .groupBy(col("v"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("covered"))
      .crossJoin(broadcast(tot))
      .select(col("v"), col("covered"), col("total_tokens"),
        expr("covered * 10000 div total_tokens").as("coverage_bp"))
  }
  val coverageCurveSql: String =
    """WITH t AS (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      |  FROM documents),
      |c AS (
      |  SELECT token, count(*) AS cnt FROM t
      |  WHERE length(token) > 0 GROUP BY 1),
      |top AS (
      |  SELECT token, cnt,
      |    row_number() OVER (ORDER BY cnt DESC, token) AS rank
      |  FROM c ORDER BY cnt DESC, token LIMIT 50),
      |tot AS (
      |  SELECT CAST(sum(len(string_split_regex(trim(text), '\s+')))
      |    AS BIGINT) AS total_tokens
      |  FROM documents),
      |vs AS (SELECT unnest([10, 20, 50]) AS v)
      |SELECT CAST(vs.v AS BIGINT) AS v,
      |  CAST(COALESCE(sum(top.cnt), 0) AS BIGINT) AS covered,
      |  tot.total_tokens,
      |  CAST(COALESCE(sum(top.cnt), 0) * 10000 // tot.total_tokens
      |    AS BIGINT) AS coverage_bp
      |FROM vs LEFT JOIN top ON top.rank <= vs.v CROSS JOIN tot
      |GROUP BY vs.v, tot.total_tokens""".stripMargin

  // ------------------------------------------- language diversity index
  // Per-source Simpson diversity over languages, complementing
  // x_source_report's distinct-language count with HOW EVENLY the mass
  // spreads: D_bp = 10000 − Σᵢ nᵢ²·10000 div N² — the probability two
  // random docs from the source differ in language, in basis points.
  // Chosen over Shannon entropy deliberately: Simpson is a pure
  // integer rational of exact counts (no cross-engine ln()
  // reproducibility question). One lang-cell aggregation per source.
  def langDiversityQ(spark: SparkSession, dir: String): DataFrame = {
    val cells = docs(spark, dir).groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
    cells.groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(col("n") * col("n")).as("ss"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        expr("10000 - ss * 10000 div (n_docs * n_docs)")
          .as("diversity_bp"))
  }
  val langDiversitySql: String =
    """WITH cells AS (
      |  SELECT source, lang, count(*) AS n
      |  FROM documents GROUP BY 1, 2)
      |SELECT source,
      |  CAST(sum(n) AS BIGINT) AS n_docs,
      |  count(*) AS n_langs,
      |  CAST(10000 - sum(n * n) * 10000 // (sum(n) * sum(n)) AS BIGINT)
      |    AS diversity_bp
      |FROM cells GROUP BY source""".stripMargin

  // --------------------------------------------------- OOV coverage
  // Per-document out-of-vocabulary rate against the corpus's own
  // top-100 vocabulary — the stratum-noise signal mixture tuning
  // reads. Tokenization is identical to x_vocab_topk's.
  def oovRateQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.operators.Corpus.vocabCoverage(d, "text", "doc_id",
      graft.operators.Corpus.topKVocab(d, "text", 100))
  }
  val oovRateSql: String =
    """WITH t AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      |    FROM documents)
      |  WHERE length(token) > 0),
      |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
      |v AS (SELECT token FROM c ORDER BY cnt DESC, token LIMIT 100),
      |agg AS (
      |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_oov
      |  FROM t LEFT JOIN v ON t.token = v.token
      |  GROUP BY t.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(a.n_oov, 0) AS BIGINT) AS n_oov,
      |  CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.0
      |       ELSE round(a.n_oov::DOUBLE / a.n_tokens, 4) END AS oov_rate
      |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  // ---------------------------------------------------- stratified sampling
  // Deterministic hash-bucket sampling with per-language rates (en kept
  // at 50%, zh 20%, de 5%, everything else 10%).
  def sampleStratifiedQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedSample(
      docs(spark, dir), col("lang"), col("doc_id"),
      Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.05), defaultRate = 0.1)
      .select(col("doc_id"), col("lang"))
  val sampleStratifiedSql: String =
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${duckHash32("coalesce(lang, '') || ':' || CAST(doc_id AS VARCHAR)")} % 10000 <
       |  CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000
       |            WHEN 'de' THEN 500 ELSE 1000 END""".stripMargin

  // ---------------------------------------------- sampler bias audit
  // The meta-audit OVER the stratified sampler: per language, the
  // configured rate, the realized keep share of the deterministic
  // hash decision, and their deviation in basis points — the check
  // that the hash family isn't biased on this corpus's key
  // distribution (|deviation| should stay within sampling noise of a
  // uniform decision variable). Same decision arithmetic as
  // x_sample_stratified; everything integer.
  def sampleAuditQ(spark: SparkSession, dir: String): DataFrame = {
    val cfg = when(col("lang") === "en", 5000L)
      .when(col("lang") === "zh", 2000L)
      .when(col("lang") === "de", 500L).otherwise(1000L)
    val kept = graft.ops.Sampling.stratifiedSample(
        docs(spark, dir), col("lang"), col("doc_id"),
        Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.05), defaultRate = 0.1)
      .select(col("doc_id").as("kept_id"))
    docs(spark, dir)
      .join(kept, col("doc_id") === col("kept_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("kept_id")).as("n_kept"),
        max(cfg).as("rate_bp"))
      .select(col("lang"), col("n_docs"), col("n_kept"), col("rate_bp"),
        expr("n_kept * 10000 div n_docs - rate_bp").as("deviation_bp"))
  }
  val sampleAuditSql: String =
    s"""WITH d AS (
       |  SELECT lang,
       |    (${duckHash32("coalesce(lang, '') || ':' || CAST(doc_id AS VARCHAR)")}
       |       % 10000 <
       |     CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000
       |               WHEN 'de' THEN 500 ELSE 1000 END) AS kept,
       |    CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000
       |              WHEN 'de' THEN 500 ELSE 1000 END AS rate_bp
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |  count(CASE WHEN kept THEN 1 END) AS n_kept,
       |  CAST(max(rate_bp) AS BIGINT) AS rate_bp,
       |  CAST(count(CASE WHEN kept THEN 1 END) * 10000 // count(*)
       |    - max(rate_bp) AS BIGINT) AS deviation_bp
       |FROM d GROUP BY lang""".stripMargin

  // ------------------------------------------- incremental NEAR-dup
  // The fuzzy twin of x_dedup_incremental: a new batch of near-copies
  // (first 10 chars dropped, ids +5e6) plus definitely-novel synthetic
  // texts (md5-hex chains, ids +6e6 — portable across engines, unlike
  // natural-language mutations) is screened against the corpus with the
  // asymmetric batch×corpus LSH join. The oracle reuses the SELF-join
  // CTEs over the tagged union and keeps only cross-side pairs — a
  // different candidate route to the provably identical verified set
  // (cross pairs share a band in either formulation; verification is
  // the same exact Jaccard).
  def neardupIncrementalQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val near = d.where(col("doc_id") % 5 === 0).select(
      (col("doc_id") + 5000000L).as("doc_id"),
      expr("substring(text, 11)").as("text"))
    val novel = d.where(col("doc_id") % 5 === 1).select(
      (col("doc_id") + 6000000L).as("doc_id"),
      concat(md5(col("text")), md5(concat(col("text"), lit("a"))),
        md5(concat(col("text"), lit("b")))).as("text"))
    Dedup.incrementalNearDup(near.union(novel), d, "text", "doc_id",
      k = 5, threshold = 0.5)
  }
  val neardupIncrementalSql: String = {
    val tagged =
      """SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000, substr(text, 11) FROM documents
        |  WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 6000000,
        |         md5(text) || md5(text || 'a') || md5(text || 'b')
        |  FROM documents WHERE doc_id % 5 = 1""".stripMargin
    s"""WITH ${minhashCtesOver(tagged)}
       |SELECT doc_b AS batch_id, doc_a AS corpus_id, jaccard
       |FROM j WHERE jaccard >= 0.5
       |  AND doc_a < 5000000 AND doc_b >= 5000000""".stripMargin
  }

  // --------------------------------------------------- incremental dedup
  // New crawl batch vs already-ingested corpus: a third of the batch is
  // novel text (and arrives duplicated inside the batch), the rest
  // duplicates the corpus; only the novel fingerprints survive, keyed by
  // the minimum batch id.
  def dedupIncrementalQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val novel = d.where(col("doc_id") % 3 === 0).select(
      (col("doc_id") + 2000000L).as("doc_id"),
      concat(col("text"), lit(" graft-batch-"),
        (col("doc_id") % 7).cast("string")).as("text"))
    val corpusDups = d.where(col("doc_id") % 3 =!= 0).select(
      (col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val batchDups = novel.select(
      (col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.incrementalDedup(novel.union(corpusDups).union(batchDups),
      d, "text", "doc_id")
  }
  val dedupIncrementalSql: String =
    """WITH novel AS (
      |  SELECT doc_id + 2000000 AS nid,
      |         text || ' graft-batch-' || CAST(doc_id % 7 AS VARCHAR) AS ntext
      |  FROM documents WHERE doc_id % 3 = 0),
      |batch AS (
      |  SELECT nid AS doc_id, ntext AS text FROM novel
      |  UNION ALL
      |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 3 != 0
      |  UNION ALL
      |  SELECT nid + 1000000, ntext FROM novel),
      |keep AS (
      |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
      |         min(doc_id) AS keeper_id
      |  FROM batch GROUP BY 1)
      |SELECT fingerprint, keeper_id FROM keep
      |WHERE fingerprint NOT IN (
      |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |  FROM documents)""".stripMargin

  // --------------------------------------------------- decontamination
  // Benchmark-leak report: 8-gram overlap of every document against a
  // small "benchmark" set (stand-in: doc_id < 10). The benchmark docs
  // themselves report contamination 1.0; everything sharing no 8-gram
  // reports 0.0.
  def decontaminateQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    Dedup.contaminationReport(d, d.where(col("doc_id") < 10),
      "text", "doc_id")
  }
  val decontaminateSql: String = {
    val g8 = (0 until 8).map(o => s"ta[CAST(i AS INT)+$o]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ta
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ta) >= 8 THEN
       |      list_distinct(list_transform(range(1, len(ta)-6), i -> $g8))
       |    ELSE [] END AS grams
       |  FROM toks),
       |ev AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id < 10),
       |x AS (SELECT doc_id, unnest(grams) AS gr FROM g),
       |m AS (SELECT doc_id, count(*) AS n_matched
       |      FROM x JOIN ev USING (gr) GROUP BY 1)
       |SELECT g.doc_id,
       |  CAST(len(grams) AS BIGINT) AS n_grams,
       |  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
       |  CASE WHEN len(grams) = 0 THEN 0.0
       |       ELSE round(coalesce(m.n_matched, 0)::DOUBLE / len(grams), 4)
       |  END AS contamination
       |FROM g LEFT JOIN m USING (doc_id)""".stripMargin
  }

  // --------------------------------------------------- edit distance
  // Levenshtein distance between each document's 60-char head and the
  // same window shifted 10 chars — the exact-verification metric for
  // near-dup candidate pairs when gram overlap is inconclusive.
  def editDistanceQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      levenshtein(substring(col("text"), 1, 60),
        substring(col("text"), 11, 60)).cast("long").as("edit_dist"))
  val editDistanceSql: String =
    """SELECT doc_id,
      |  CAST(levenshtein(substr(text, 1, 60), substr(text, 11, 60)) AS BIGINT)
      |    AS edit_dist
      |FROM documents""".stripMargin

  // -------------------------------------------------- per-language profile
  def langStatsQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.languageStats(docs(spark, dir), "text", "lang")
  val langStatsSql: String =
    """SELECT lang,
      |  count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
      |  round(avg(len(string_split_regex(trim(text), '\s+'))), 4) AS avg_tokens,
      |  CAST(sum(CASE WHEN length(text) >= 100
      |       AND len(string_split_regex(trim(text), '\s+')) >= 15
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_substantial
      |FROM documents GROUP BY 1""".stripMargin

  // ---------------------------------------------- entity resolution
  // Record linkage over a dirtied customer master: every customer gains
  // a "dirty" twin (id +1e6) whose name lost its last character and
  // whose balance was rounded to whole units at entry — the classic
  // truncated-field / re-keyed-import mess an MDM pipeline cleans up.
  // Blocking on (nation, name digits 1-7) keeps blocks O(1); candidates
  // are id-only through the block self-join; the link rule needs name
  // similarity >= 0.9 AND equal market segment AND balances within 1.0
  // (multi-field evidence, so lone near-miss names don't merge).
  private def erRecords(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    c.select(col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").cast("long").as("nation"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("segment"))
      .union(c.select((col("c_custkey") + 1000000L).as("id"),
        expr("substring(c_name, 1, length(c_name)-1)").as("name"),
        col("c_nationkey").cast("long").as("nation"),
        round(col("c_acctbal")).as("acctbal"),
        col("c_mktsegment").as("segment")))
  }
  private val erRecordsSql: String =
    """SELECT c_custkey AS id, c_name AS name,
      |       CAST(c_nationkey AS BIGINT) AS nation,
      |       c_acctbal AS acctbal, c_mktsegment AS segment FROM customer
      |UNION ALL
      |SELECT c_custkey + 1000000, substr(c_name, 1, length(c_name)-1),
      |       CAST(c_nationkey AS BIGINT), round(c_acctbal, 0), c_mktsegment
      |FROM customer""".stripMargin

  private def erLinks(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.EntityResolution
    val recs = erRecords(spark, dir)
    val cand = EntityResolution.blockedPairs(recs, "id",
      // concat (not concat_ws): null components must poison the key
      // exactly like the oracle's `||`, so a null-nation record never
      // blocks on the name fragment alone
      concat(col("nation").cast("string"), lit(":"),
        substring(col("name"), 10, 7)))
    EntityResolution.withPairAttributes(cand, recs, "id",
        Seq("name", "acctbal", "segment"))
      .withColumn("name_sim",
        EntityResolution.nameSimilarity(col("name_a"), col("name_b")))
      .where(col("name_sim") >= 0.9 &&
        col("segment_a") === col("segment_b") &&
        abs(col("acctbal_a") - col("acctbal_b")) < 1.0)
      .select(col("id_a"), col("id_b"), col("name_sim"))
  }
  /** Shared CTE prefix ending in `links(id_a, id_b, name_sim)`. */
  private val erLinksCtes: String =
    s"""recs AS ($erRecordsSql),
       |blk AS (SELECT id, CAST(nation AS VARCHAR) || ':' || substr(name, 10, 7) AS bkey
       |        FROM recs),
       |cand AS (SELECT a.id AS id_a, b.id AS id_b
       |         FROM blk a JOIN blk b ON a.bkey = b.bkey AND a.id < b.id),
       |scored AS (
       |  SELECT c.id_a, c.id_b,
       |         round(1 - CAST(levenshtein(ra.name, rb.name) AS DOUBLE) /
       |               greatest(length(ra.name), length(rb.name)), 4) AS name_sim,
       |         ra.segment AS seg_a, rb.segment AS seg_b,
       |         ra.acctbal AS bal_a, rb.acctbal AS bal_b
       |  FROM cand c JOIN recs ra ON c.id_a = ra.id
       |              JOIN recs rb ON c.id_b = rb.id),
       |links AS (SELECT id_a, id_b, name_sim FROM scored
       |          WHERE name_sim >= 0.9 AND seg_a = seg_b
       |            AND abs(bal_a - bal_b) < 1.0)""".stripMargin

  def erLinkageQ(spark: SparkSession, dir: String): DataFrame =
    erLinks(spark, dir)
  val erLinkageSql: String =
    s"""WITH $erLinksCtes
       |SELECT id_a, id_b, name_sim FROM links""".stripMargin

  // Golden records: transitive entity clusters over the links (pointer
  // doubling on the Spark side, recursive closure in the oracle), every
  // record assigned (singletons are their own entity), then ONE
  // survivorship aggregation: member count, canonical (min) name, best
  // (max) balance, segment.
  def erGoldenQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.EntityResolution
    val recs = erRecords(spark, dir)
    val assigned = recs.join(
      EntityResolution.entityClusters(recs, "id", erLinks(spark, dir)),
      Seq("id"))
    EntityResolution.goldenRecords(assigned, "entity_id", Seq(
      count(lit(1)).as("n_members"),
      min(col("name")).as("name"),
      max(col("acctbal")).as("acctbal"),
      min(col("segment")).as("segment")))
  }
  val erGoldenSql: String =
    s"""WITH RECURSIVE $erLinksCtes,
       |edges AS (SELECT id_a AS a, id_b AS b FROM links
       |          UNION SELECT id_b, id_a FROM links),
       |${reachCtes()},
       |reps AS (SELECT n AS id, min(m) AS rep FROM reach GROUP BY n),
       |assigned AS (
       |  SELECT r.id, r.name, r.acctbal, r.segment,
       |         coalesce(p.rep, r.id) AS entity_id
       |  FROM recs r LEFT JOIN reps p ON r.id = p.id)
       |SELECT entity_id, count(*) AS n_members, min(name) AS name,
       |       max(acctbal) AS acctbal, min(segment) AS segment
       |FROM assigned GROUP BY entity_id""".stripMargin

  // -------------------------------------------------- column profiling
  // One-scan table profile over events: row/null/distinct counts and
  // min/max per column — numeric columns report doubles, string columns
  // report lexicographic bounds.
  def profileQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.profile(Tables.load(spark, dir, "events"),
      numericCols = Seq("event_id", "user_id", "value"),
      stringCols = Seq("event_type", "props"))
  val profileSql: String = {
    def num(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM events""".stripMargin
    def str(c: String) =
      s"""SELECT '$c', count(*), count(*) - count($c), count(DISTINCT $c),
         |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min($c), max($c)
         |FROM events""".stripMargin
    (Seq("event_id", "user_id", "value").map(num) ++
      Seq("event_type", "props").map(str)).mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------- label adjudication
  // Majority-vote label aggregation: three synthetic annotators (labels
  // drawn deterministically from the portable hash32, so the oracle
  // builds the identical annotation table) collapsed to one adjudicated
  // label per document with the agreement signal.
  def labelVoteQ(spark: SparkSession, dir: String): DataFrame = {
    val ann = docs(spark, dir)
      .select(col("doc_id"), explode(sequence(lit(0), lit(2))).as("annotator"))
      .withColumn("label", element_at(
        array(lit("pos"), lit("neg"), lit("neu")),
        (TextFns.hash32(concat_ws(":", col("doc_id"), col("annotator"))) % 3
          + 1).cast("int")))
    graft.ops.Labels.majorityVote(ann, "doc_id", "label")
  }
  val labelVoteSql: String =
    s"""WITH ann AS (
       |  SELECT doc_id, a.annotator,
       |    (['pos','neg','neu'])[CAST(
       |      ${duckHash32("CAST(doc_id AS VARCHAR) || ':' || CAST(a.annotator AS VARCHAR)")}
       |      % 3 + 1 AS INT)] AS label
       |  FROM documents, (SELECT unnest(range(3)) AS annotator) a),
       |counts AS (SELECT doc_id, label, count(*) AS votes
       |           FROM ann GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(sum(votes) AS BIGINT) AS n_annotations
       |        FROM counts GROUP BY 1),
       |rk AS (SELECT c.doc_id, c.label, c.votes, t.n_annotations,
       |         row_number() OVER (PARTITION BY c.doc_id
       |                            ORDER BY c.votes DESC, c.label ASC) AS rk
       |       FROM counts c JOIN tot t USING (doc_id))
       |SELECT doc_id, label, votes, n_annotations,
       |       round(votes::DOUBLE / n_annotations, 4) AS agreement
       |FROM rk WHERE rk = 1""".stripMargin

  // ------------------------------------- corpus-level agreement (kappa)
  // Labels.fleissKappa over the same synthetic 3-annotator table as
  // x_label_vote: the chance-corrected agreement score an annotation
  // campaign is accepted on. Every kappa term is an exact integer
  // aggregate (decimal/HUGEINT), so both engines branch and divide on
  // identical numbers; hash-random labels land near zero (no agreement
  // beyond chance), which is itself the fixture's point.
  def labelKappaQ(spark: SparkSession, dir: String): DataFrame = {
    val ann = docs(spark, dir)
      .select(col("doc_id"), explode(sequence(lit(0), lit(2))).as("annotator"))
      .withColumn("label", element_at(
        array(lit("pos"), lit("neg"), lit("neu")),
        (TextFns.hash32(concat_ws(":", col("doc_id"), col("annotator"))) % 3
          + 1).cast("int")))
    graft.ops.Labels.fleissKappa(ann, "doc_id", "label")
  }
  val labelKappaSql: String =
    s"""WITH ann AS (
       |  SELECT doc_id, a.annotator,
       |    (['pos','neg','neu'])[CAST(
       |      ${duckHash32("CAST(doc_id AS VARCHAR) || ':' || CAST(a.annotator AS VARCHAR)")}
       |      % 3 + 1 AS INT)] AS label
       |  FROM documents, (SELECT unnest(range(3)) AS annotator) a),
       |counts AS (SELECT doc_id, label, count(*) AS c FROM ann GROUP BY 1, 2),
       |per_item AS (SELECT doc_id, sum(c) AS n, sum(c*c) AS s2
       |             FROM counts GROUP BY 1),
       |items AS (SELECT CAST(count(*) AS HUGEINT) AS n_items,
       |                 CAST(min(n) AS HUGEINT) AS n_min,
       |                 CAST(max(n) AS HUGEINT) AS n_max,
       |                 CAST(sum(s2 - n) AS HUGEINT) AS s FROM per_item),
       |cats AS (SELECT CAST(sum(CAST(cj AS HUGEINT) * CAST(cj AS HUGEINT))
       |                     AS HUGEINT) AS u,
       |                CAST(sum(cj) AS HUGEINT) AS tot
       |         FROM (SELECT label, sum(c) AS cj FROM counts GROUP BY 1))
       |SELECT CAST(n_items AS BIGINT) AS n_items,
       |       CAST(n_min AS BIGINT) AS n_annotators,
       |       CASE WHEN n_min < 2 THEN NULL
       |            ELSE round(CAST(s AS DOUBLE) /
       |                 CAST(n_items * n_min * (n_min - 1) AS DOUBLE), 6)
       |       END AS p_bar,
       |       round(CAST(u AS DOUBLE) / CAST(tot * tot AS DOUBLE), 6)
       |         AS p_exp,
       |       CASE WHEN n_min != n_max OR n_min < 2 OR tot * tot = u
       |            THEN NULL
       |            ELSE round(
       |              CAST(s * tot * tot - u * (n_items * n_min * (n_min - 1))
       |                   AS DOUBLE) /
       |              CAST((n_items * n_min * (n_min - 1)) * (tot * tot - u)
       |                   AS DOUBLE), 6)
       |       END AS kappa
       |FROM items, cats""".stripMargin

  // ---------------------------------------------- weighted sampling
  // Quality-proportional corpus downsampling: keep probability grows
  // with document length (5 bp per char, capped at 1.0) — integer basis
  // points end-to-end, so the decision is bit-identical in any engine.
  def weightedSampleQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedSample(
      docs(spark, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      col("doc_id"), col("n_chars") * lit(5L))
  val weightedSampleSql: String =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE ${duckHash32("CAST(doc_id AS VARCHAR)")} % 10000 <
       |      least(greatest(n_chars * 5, 0), 10000)""".stripMargin

  // --------------------------------------------- unicode normalization
  // Canonical-form hygiene: decomposed sequences ("e"+U+0301) prepended
  // to each document are NFC-composed and accent-stripped by the native
  // expressions; DuckDB's utf8proc twins (nfc_normalize/strip_accents)
  // oracle them bit-for-bit, including the codepoint-count shrink.
  def unicodeNormQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.native.NativeFns
    // beyond Latin: DECOMPOSED Hangul Jamo (U+1112 U+1161 U+11AB = \ud55c)
    // and Greek with tonos \u2014 utf8proc's strip_accents RECOMPOSES both
    // (verified against DuckDB), which is exactly what StripAccentsExpr's
    // final NFC pass does; scripts whose decompositions are not
    // combining marks are the divergence risk this fixture pins
    val m = docs(spark, dir).select(col("doc_id"),
      concat(lit("cafe\u0301 nin\u0303o Mu\u0308ller " +
          "\u1112\u1161\u11ab \u0395\u03bb\u03bb\u03ac\u03b4\u03b1 "),
        substring(col("text"), 1, 40)).as("s"))
    m.select(col("doc_id"),
      NativeFns.nfcNormalize(col("s")).as("norm_text"),
      NativeFns.stripAccents(col("s")).as("ascii_text"),
      length(col("s")).cast("long").as("n_raw"),
      length(NativeFns.nfcNormalize(col("s"))).cast("long").as("n_nfc"))
  }
  val unicodeNormSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    'cafe' || chr(769) || ' nin' || chr(771) || 'o Mu' || chr(776) ||
      |    'ller ' || chr(4370) || chr(4449) || chr(4523) || ' ' ||
      |    chr(917) || chr(955) || chr(955) || chr(940) || chr(948) ||
      |    chr(945) || ' ' || substr(text, 1, 40) AS s
      |  FROM documents)
      |SELECT doc_id, nfc_normalize(s) AS norm_text,
      |       strip_accents(s) AS ascii_text,
      |       CAST(length(s) AS BIGINT) AS n_raw,
      |       CAST(length(nfc_normalize(s)) AS BIGINT) AS n_nfc
      |FROM m""".stripMargin

  // -------------------------------------- normalization-aware dedup
  // Why unicode hygiene precedes fingerprinting: the corpus carries
  // each document twice — once prefixed with PRECOMPOSED "café" and
  // once (ids +3e6) with the DECOMPOSED byte sequence. Raw md5
  // fingerprints see different bytes; NFC-normalizing first merges
  // every pair (dup_count = 2 throughout). Composes NfcNormalizeExpr
  // with the exact-dedup shape.
  def dedupNormalizedQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.native.NativeFns
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val corpus = d.select(col("doc_id"),
        concat(lit("caf\u00e9 "), col("text")).as("text"))
      .union(d.select((col("doc_id") + 3000000L).as("doc_id"),
        concat(lit("cafe\u0301 "), col("text")).as("text")))
    Dedup.exactDedup(
      corpus.withColumn("text", NativeFns.nfcNormalize(col("text"))),
      "text", "doc_id")
  }
  val dedupNormalizedSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, 'caf' || chr(233) || ' ' || text AS text
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000, 'cafe' || chr(769) || ' ' || text
      |  FROM documents)
      |SELECT md5(trim(regexp_replace(lower(nfc_normalize(text)),
      |         '\s+', ' ', 'g'))) AS fingerprint,
      |       min(doc_id) AS keeper_id, count(*) AS dup_count
      |FROM corpus GROUP BY 1""".stripMargin

  // ------------------------------------------------ fuzzy lookup join
  // The LOOKUP form of record linkage: a batch of truncated-name
  // records matched against the clean customer master — blocked
  // candidates, normalized-levenshtein scoring, and the BEST master per
  // batch row (sim desc, master id asc). An ambiguous truncation
  // ("…10" extends to both …100 and …101) resolves deterministically
  // to the lowest master id, same rule both engines.
  def fuzzyJoinQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.EntityResolution
    val c = Tables.load(spark, dir, "customer")
    val master = c.select(col("c_custkey").as("id"), col("c_name").as("name"),
      col("c_nationkey").cast("long").as("nation"))
    val batch = c.select((col("c_custkey") + 1000000L).as("id"),
      expr("substring(c_name, 1, length(c_name)-1)").as("name"),
      col("c_nationkey").cast("long").as("nation"))
    // concat, not concat_ws: null nation must yield a null (non-
    // blocking) key, matching the oracle's null-propagating `||`
    def bkey = concat(col("nation").cast("string"), lit(":"),
      substring(col("name"), 10, 7))
    val cand = EntityResolution.blockedJoin(batch, "id", bkey,
      master, "id", bkey)
    val w = Window.partitionBy(col("l_id"))
      .orderBy(col("name_sim").desc, col("r_id"))
    cand
      .join(batch.select(col("id").as("l_id"), col("name").as("l_name")),
        "l_id")
      .join(master.select(col("id").as("r_id"), col("name").as("r_name")),
        "r_id")
      .withColumn("name_sim",
        EntityResolution.nameSimilarity(col("l_name"), col("r_name")))
      .where(col("name_sim") >= 0.9)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("l_id").as("batch_id"), col("r_id").as("master_id"),
        col("name_sim"))
  }
  val fuzzyJoinSql: String =
    """WITH master AS (
      |  SELECT c_custkey AS id, c_name AS name,
      |         CAST(c_nationkey AS BIGINT) AS nation FROM customer),
      |batch AS (
      |  SELECT c_custkey + 1000000 AS id,
      |         substr(c_name, 1, length(c_name)-1) AS name,
      |         CAST(c_nationkey AS BIGINT) AS nation FROM customer),
      |bl AS (SELECT id, name,
      |         CAST(nation AS VARCHAR) || ':' || substr(name, 10, 7) AS bkey
      |       FROM batch),
      |ml AS (SELECT id, name,
      |         CAST(nation AS VARCHAR) || ':' || substr(name, 10, 7) AS bkey
      |       FROM master),
      |scored AS (
      |  SELECT b.id AS l_id, m.id AS r_id,
      |    round(1 - CAST(levenshtein(b.name, m.name) AS DOUBLE) /
      |          greatest(length(b.name), length(m.name)), 4) AS name_sim
      |  FROM bl b JOIN ml m USING (bkey)),
      |best AS (
      |  SELECT l_id, r_id, name_sim,
      |    row_number() OVER (PARTITION BY l_id
      |                       ORDER BY name_sim DESC, r_id) AS rk
      |  FROM scored WHERE name_sim >= 0.9)
      |SELECT l_id AS batch_id, r_id AS master_id, name_sim
      |FROM best WHERE rk = 1""".stripMargin

  // ------------------------------------------- block-occupancy guard
  // Blocking skew under a NON-discriminative key: pass 0 blocks on the
  // discriminative (nation, name-fragment) key, pass 1 on market
  // segment — 5 values, so every segment block is hot at any scale.
  // With the occupancy cap at 40, the segment pass is purged (its pair
  // volume would be quadratic in corpus size) while the discriminative
  // blocks pass through untouched. The oracle replays the purge
  // exactly: per-(pass,key) counts, HAVING <= cap, then the pair join.
  def erBlockGuardQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.EntityResolution
    val recs = erRecords(spark, dir)
    EntityResolution.blockedPairsAny(recs, "id",
      Seq(concat(col("nation").cast("string"), lit(":"),
          substring(col("name"), 10, 7)),
        col("segment")),
      maxBlockSize = 40)
  }
  // --------------------------------------------- block-purge audit
  // EntityResolution.purgedBlocks gated end to end: the guard's default
  // is LOSSY by design (pairs under an over-occupied blocking key are
  // silently dropped), so the audit operator that surfaces what WOULD
  // be purged is itself oracle-checked — here every market segment is
  // a dense key at cap 40 (each holds ~2·|customer|/5 records), so the
  // report is the exact (key, occupancy) histogram a pipeline alerts
  // on before trusting a blocking configuration. One map-side-combining
  // count, key-only rows — the same skew-safe shape as the guard.
  def erPurgeReportQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EntityResolution.purgedBlocks(
      erRecords(spark, dir), col("segment"), maxBlockSize = 40)
  val erPurgeReportSql: String =
    s"""WITH recs AS ($erRecordsSql)
       |SELECT segment AS bkey, count(*) AS occupancy
       |FROM recs WHERE segment IS NOT NULL
       |GROUP BY 1 HAVING count(*) > 40""".stripMargin

  val erBlockGuardSql: String =
    s"""WITH recs AS ($erRecordsSql),
       |keys AS (
       |  SELECT id, 0 AS pass,
       |         CAST(nation AS VARCHAR) || ':' || substr(name, 10, 7) AS bkey
       |  FROM recs
       |  UNION ALL
       |  SELECT id, 1, segment FROM recs),
       |k AS (SELECT * FROM keys WHERE bkey IS NOT NULL),
       |keep AS (SELECT pass, bkey FROM k GROUP BY 1, 2
       |         HAVING count(*) <= 40),
       |b AS (SELECT k.* FROM k JOIN keep USING (pass, bkey))
       |SELECT DISTINCT a.id AS id_a, b2.id AS id_b
       |FROM b a JOIN b b2
       |  ON a.pass = b2.pass AND a.bkey = b2.bkey AND a.id < b2.id""".stripMargin

  // ----------------------------------------------- forward fill (LOCF)
  // Sensor-gap repair: values nulled deterministically (event_id % 7 in
  // 0..2) then each user's nulls take the most recent earlier non-null
  // in (ts, event_id) order; leading nulls stay null.
  def forwardFillQ(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events").select(
      col("event_id"), col("user_id"), col("ts"),
      when(col("event_id") % 7 <= 2, lit(null).cast("double"))
        .otherwise(col("value")).as("value"))
    graft.operators.TimeSeries
      .forwardFill(e, "user_id", "ts", Seq("value"), Some("event_id"))
      .select(col("event_id"), col("user_id"), col("value"))
  }
  val forwardFillSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN event_id % 7 <= 2 THEN NULL ELSE value END AS value
      |  FROM events)
      |SELECT event_id, user_id,
      |  last_value(value IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
      |FROM e""".stripMargin

  // ------------------------------------- incremental cluster upkeep
  // Continuous-ingest cluster maintenance: the existing near-dup
  // clustering is folded in as star edges and only NEW pairs (bridges
  // doc_id→doc_id+1 for every 10th doc — they chain distinct clusters
  // together, exercising multi-hop merges) add structure; the oracle
  // re-clusters the full union from scratch, asserting the incremental
  // path is exact.
  def dedupClustersIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val existing = dedupClustersQ(spark, dir)
    val bridges = docs(spark, dir).where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1L).as("doc_b"))
    Dedup.incrementalClusters(existing, bridges, "doc_a", "doc_b")
  }
  val dedupClustersIncrSql: String =
    s"""WITH RECURSIVE ${minhashCtesOver(nearDupCorpusSql)},
       |mp AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM mp
       |  UNION ALL
       |  SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 10 = 0),
       |${closureCtes("pairs")}
       |SELECT n AS doc_id, min(m) AS cluster_rep FROM reach GROUP BY n""".stripMargin

  // ------------------------------------------------- semantic dedup
  // SemDeDup-style embedding-space pruning: the twin corpus (originals ∪
  // +0.05-on-dim-0 perturbations) is clustered by the deterministic
  // k-means quantizer; WITHIN each cluster, every vector cosine-similar
  // (>= 0.98) to a lower-id member is marked dropped. The oracle
  // replays quantization, SAMPLED training (256-row deterministic
  // hash-ordered sample — the r5 scale knob), assignment (the shared
  // IVF chain), and the within-cluster drop rule. nlist stays at the
  // autoNlist floor (16) at this fixture's plan-stat size.
  def semdedupQ(spark: SparkSession, dir: String): DataFrame = {
    val corpus = twinEmbCorpus(spark, dir)
    Similarity.semanticDedup(corpus, "vec_id", "v", 0.98,
        trainSample = 256)
      .select(col("id").as("vec_id"), col("c_id"), col("dropped"))
  }
  val semdedupSql: String =
    s"""${ivfAssignCtes(trainSample = 256, prelude =
      """v0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        |vc AS (
        |  SELECT vec_id, vec FROM v0
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |    list_transform(range(1, len(vec) + 1),
        |      i -> CASE WHEN i = 1 THEN vec[CAST(i AS INT)] + 0.05
        |                ELSE vec[CAST(i AS INT)] END)
        |  FROM v0)""".stripMargin)},
       |ids AS (SELECT c_id, n_id FROM a2),
       |prs AS (
       |  SELECT a.n_id AS id_a, b.n_id AS id_b
       |  FROM ids a JOIN ids b ON a.c_id = b.c_id AND a.n_id < b.n_id),
       |dropped AS (
       |  SELECT p.id_b FROM prs p
       |  JOIN a2 va ON p.id_a = va.n_id
       |  JOIN a2 vb ON p.id_b = vb.n_id
       |  WHERE round(${ivfCos("va.n_v", "vb.n_v")}, 4) >= 0.98
       |  GROUP BY p.id_b)
       |SELECT a2.n_id AS vec_id, a2.c_id,
       |       (d.id_b IS NOT NULL) AS dropped
       |FROM a2 LEFT JOIN dropped d ON a2.n_id = d.id_b""".stripMargin

  // ------------------------------------- line-level boilerplate removal
  // CCNet-style pass: synthesize multi-line web pages (per-source nav
  // header, unique body, doc-unique signature line, global copyright
  // footer) and delete every line occurring more than twice across the
  // corpus — the header and footer vanish, the body and signature
  // survive in original order.
  def boilerplateQ(spark: SparkSession, dir: String): DataFrame = {
    val m = docs(spark, dir).select(col("doc_id"),
      concat(lit("nav "), col("source"), lit(" home\n"), col("text"),
        lit("\nsig "), col("doc_id").cast("string"),
        lit("\ncopyright footer")).as("text"))
    graft.operators.Corpus.removeBoilerplateLines(m, "text", "doc_id", 2L)
  }
  val boilerplateSql: String =
    """WITH mdoc AS (
      |  SELECT doc_id, 'nav ' || source || ' home' || chr(10) || text ||
      |         chr(10) || 'sig ' || CAST(doc_id AS VARCHAR) ||
      |         chr(10) || 'copyright footer' AS text
      |  FROM documents),
      |la AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM mdoc),
      |ln0 AS (SELECT doc_id, ls, unnest(range(1, len(ls)+1)) AS i FROM la),
      |ln AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |              ls[CAST(i AS INT)] AS line FROM ln0),
      |bp AS (SELECT line FROM ln GROUP BY line HAVING count(*) > 2),
      |kept AS (SELECT * FROM ln WHERE line NOT IN (SELECT line FROM bp)),
      |rebuilt AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
      |         count(*) AS n_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT m.doc_id, coalesce(r.clean_text, '') AS clean_text,
      |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
      |       CAST(len(string_split(m.text, chr(10))) AS BIGINT) -
      |         CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped
      |FROM mdoc m LEFT JOIN rebuilt r USING (doc_id)""".stripMargin

  // ------------------------------------------ C4 line-rule cleaning
  // Corpus.c4LineClean gated end to end: every doc gets a planted
  // keepable sentence, a too-short line, a blacklisted line, and its
  // own body (terminal-punctuated only for doc_id%3==0, so the
  // no_terminal rule fires on the other two thirds). Per-rule drop
  // counters and the rebuilt text are compared exactly.
  def c4CleanQ(spark: SparkSession, dir: String): DataFrame = {
    val m = docs(spark, dir).select(col("doc_id"),
      concat(lit("doc "), col("doc_id").cast("string"), lit(" from "),
        col("source"), lit(" reads fine today.\nshort one.\n"),
        lit("buy now javascript click here.\n"), col("text"),
        when(col("doc_id") % 3 === 0, lit(".")).otherwise(lit("")))
        .as("text"))
    graft.operators.Corpus.c4LineClean(m, "text", "doc_id", minWords = 4)
  }
  val c4CleanSql: String =
    """WITH mdoc AS (
      |  SELECT doc_id, 'doc ' || CAST(doc_id AS VARCHAR) || ' from ' ||
      |    source || ' reads fine today.' || chr(10) ||
      |    'short one.' || chr(10) ||
      |    'buy now javascript click here.' || chr(10) || text ||
      |    CASE WHEN doc_id % 3 = 0 THEN '.' ELSE '' END AS text
      |  FROM documents),
      |la AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM mdoc),
      |ln0 AS (SELECT doc_id, ls, unnest(range(1, len(ls)+1)) AS i FROM la),
      |ln AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |              ls[CAST(i AS INT)] AS line FROM ln0),
      |j AS (SELECT doc_id, pos, line,
      |  CASE
      |    WHEN NOT regexp_matches(line, '[.!?]["'']?\s*$')
      |      THEN 'no_terminal'
      |    WHEN len(regexp_extract_all(line, '\S+')) < 4 THEN 'too_short'
      |    WHEN contains(lower(line), 'lorem ipsum')
      |      OR contains(lower(line), 'javascript')
      |      OR contains(lower(line), '{') THEN 'blacklist'
      |  END AS rule FROM ln),
      |kept AS (SELECT doc_id, pos, line FROM j WHERE rule IS NULL),
      |rebuilt AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
      |           AS clean_text,
      |         count(*) AS n_kept
      |  FROM kept GROUP BY doc_id),
      |cnt AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN rule = 'no_terminal' THEN 1 ELSE 0 END) AS nt,
      |    sum(CASE WHEN rule = 'too_short' THEN 1 ELSE 0 END) AS ts,
      |    sum(CASE WHEN rule = 'blacklist' THEN 1 ELSE 0 END) AS bl
      |  FROM j GROUP BY doc_id)
      |SELECT m.doc_id, coalesce(r.clean_text, '') AS clean_text,
      |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
      |       CAST(c.nt AS BIGINT) AS n_no_terminal,
      |       CAST(c.ts AS BIGINT) AS n_too_short,
      |       CAST(c.bl AS BIGINT) AS n_blacklist
      |FROM mdoc m
      |LEFT JOIN rebuilt r USING (doc_id)
      |JOIN cnt c USING (doc_id)""".stripMargin

  // ------------------------------- first-wins cross-doc line dedup
  // Corpus.dedupLinesKeepFirst gated end to end: a corpus-wide header
  // (survives once, in the lowest doc), five footer variants (one
  // survivor each), and the doc bodies — the corpus's exact twins
  // lose their body line to the earlier twin, which is precisely the
  // CCNet paragraph-dedup decision the operator encodes.
  def lineDedupQ(spark: SparkSession, dir: String): DataFrame = {
    val m = docs(spark, dir).select(col("doc_id"),
      concat(lit("shared promo header\n"), col("text"),
        lit("\nshared footer line "), (col("doc_id") % 5).cast("string"))
        .as("text"))
    graft.operators.Corpus.dedupLinesKeepFirst(m, "text", "doc_id")
  }
  val lineDedupSql: String =
    """WITH mdoc AS (
      |  SELECT doc_id, 'shared promo header' || chr(10) || text ||
      |    chr(10) || 'shared footer line ' ||
      |    CAST(doc_id % 5 AS VARCHAR) AS text
      |  FROM documents),
      |la AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM mdoc),
      |ln0 AS (SELECT doc_id, ls, unnest(range(1, len(ls)+1)) AS i FROM la),
      |ln AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |              ls[CAST(i AS INT)] AS line FROM ln0),
      |j AS (SELECT doc_id, pos, line,
      |  CASE WHEN len(trim(line)) = 0 THEN 1
      |       ELSE row_number() OVER (PARTITION BY line
      |                               ORDER BY doc_id, pos) END AS rk
      |  FROM ln),
      |kept AS (SELECT doc_id, pos, line FROM j WHERE rk = 1),
      |rebuilt AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
      |           AS clean_text,
      |         count(*) AS n_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT m.doc_id, coalesce(r.clean_text, '') AS clean_text,
      |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
      |       CAST(len(string_split(m.text, chr(10))) AS BIGINT) -
      |         CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped
      |FROM mdoc m LEFT JOIN rebuilt r USING (doc_id)""".stripMargin

  // -------------------------------------- incremental seen-lines dedup
  // The maintained-state twin of x_line_dedup: history (doc_id % 4 != 0)
  // is reduced to Corpus.seenLinesTable — 32-byte md5 fingerprints, one
  // per distinct non-blank line — and the new batch (doc_id % 4 == 0)
  // is cleaned against it with dedupLinesIncremental, O(batch) with
  // history text never re-read. Both slices carry a deterministic
  // shared footer (5 distinct lines) so cross-batch drops are
  // guaranteed; twins straddling the % 4 boundary supply natural body
  // overlap. Same amortization contract as x_dedup_incremental /
  // x_winnow_incremental, at line rather than document granularity.
  def lineDedupIncrQ(spark: SparkSession, dir: String): DataFrame = {
    val footered = docs(spark, dir).select(col("doc_id"),
      concat(col("text"), lit("\nshared footer line "),
        (col("doc_id") % 5).cast("string")).as("text"))
    val history = footered.where(col("doc_id") % 4 =!= 0)
    val batch = footered.where(col("doc_id") % 4 === 0)
    graft.operators.Corpus.dedupLinesIncremental(batch,
      graft.operators.Corpus.seenLinesTable(history, "text"),
      "text", "doc_id")
  }
  val lineDedupIncrSql: String =
    """WITH fd AS (
      |  SELECT doc_id, text || chr(10) || 'shared footer line ' ||
      |    CAST(doc_id % 5 AS VARCHAR) AS text
      |  FROM documents),
      |seen AS (
      |  SELECT DISTINCT md5(line) AS line_md5
      |  FROM (SELECT unnest(string_split(text, chr(10))) AS line
      |        FROM fd WHERE doc_id % 4 != 0) t
      |  WHERE len(trim(line)) > 0),
      |batch AS (SELECT doc_id, text FROM fd WHERE doc_id % 4 = 0),
      |la AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM batch),
      |ln0 AS (SELECT doc_id, ls, unnest(range(1, len(ls)+1)) AS i FROM la),
      |ln AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |              ls[CAST(i AS INT)] AS line FROM ln0),
      |novel AS (
      |  SELECT doc_id, pos, line FROM ln
      |  WHERE len(trim(line)) > 0
      |    AND md5(line) NOT IN (SELECT line_md5 FROM seen)),
      |fw AS (
      |  SELECT doc_id, pos, line,
      |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk
      |  FROM novel),
      |kept AS (
      |  SELECT doc_id, pos, line FROM fw WHERE rk = 1
      |  UNION ALL
      |  SELECT doc_id, pos, line FROM ln WHERE len(trim(line)) = 0),
      |rebuilt AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
      |           AS clean_text,
      |         count(*) AS n_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT b.doc_id, coalesce(r.clean_text, '') AS clean_text,
      |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
      |       CAST(len(string_split(b.text, chr(10))) AS BIGINT) -
      |         CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped
      |FROM batch b LEFT JOIN rebuilt r USING (doc_id)""".stripMargin

  // ----------------------------------------- line-dedup ROI by source
  // The budget case for running first-wins line dedup at all: per
  // source, how many lines survive vs drop corpus-wide (chrome-heavy
  // sources drop more), in exact integer basis points. Pure
  // composition — the x_line_dedup result rolled up against the
  // source dimension; the oracle wraps the same CTE chain.
  def lineDedupRoiQ(spark: SparkSession, dir: String): DataFrame =
    lineDedupQ(spark, dir)
      .join(docs(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("n_kept")).as("kept_lines"),
        sum(col("n_dropped")).as("dropped_lines"),
        expr("(10000 * sum(n_dropped)) div " +
          "(sum(n_kept) + sum(n_dropped))").as("drop_bp"))
  val lineDedupRoiSql: String =
    s"""SELECT d.source,
       |  CAST(sum(t.n_kept) AS BIGINT) AS kept_lines,
       |  CAST(sum(t.n_dropped) AS BIGINT) AS dropped_lines,
       |  CAST((10000 * sum(t.n_dropped))
       |       // (sum(t.n_kept) + sum(t.n_dropped)) AS BIGINT) AS drop_bp
       |FROM ($lineDedupSql) t
       |JOIN documents d USING (doc_id)
       |GROUP BY 1""".stripMargin

  // ------------------------------------- token-level edit distance (WER)
  // Word error rate / TER-without-shifts (Snover et al., AMTA 2006 §2)
  // over a bounded-token pair: candidate = the first 8 tokens,
  // reference = the SAME tokens sorted — the distance (4..8 across the
  // fixture corpus) measures how far the prefix sits from its sorted
  // order, so values vary per doc and the alignment mixes matches,
  // substitutions and indels. The Spark side is the
  // row-local native DP (TokenEditExpr, O(|c|×|r|) per pair, zero
  // exchanges); the oracle REPLAYS THE DP as a recursive CTE using the
  // min-plus prefix-scan reformulation — the within-row insertion
  // dependency cur[j] = min(v[j], cur[j-1]+1) unrolls to
  // cur[j] = min_{k≤j}(v[k] + (j−k)) with v[k] = min(prev[k]+1,
  // prev[k-1]+cost) and v[0] = the new row head — exact integer
  // equality, which is why the fixture bounds both sides to ≤ 9 tokens
  // (the oracle's inner scan is O(lr²) per DP row; the operator itself
  // has no such bound).
  def tokenEditQ(spark: SparkSession, dir: String): DataFrame = {
    val t8 = slice(TextFns.words(col("text")), 1, 8)
    val pairs = docs(spark, dir).select(col("doc_id"),
      array_join(t8, " ").as("cand"),
      array_join(array_sort(t8), " ").as("ref"))
    graft.operators.TextEval.tokenEditReport(pairs, "doc_id", "cand", "ref")
  }
  val tokenEditSql: String =
    raw"""WITH RECURSIVE base AS (
       |  SELECT doc_id, list_slice(
       |    string_split_regex(lower(trim(text)), '\s+'), 1, 8) AS t
       |  FROM documents),
       |pairs AS (
       |  SELECT doc_id,
       |    array_to_string(t, ' ') AS cand,
       |    array_to_string(list_sort(t), ' ') AS ref
       |  FROM base),
       |tok AS (SELECT doc_id,
       |  string_split_regex(lower(trim(cand)), '\s+') AS ct,
       |  string_split_regex(lower(trim(ref)), '\s+') AS rt FROM pairs),
       |sz AS (SELECT doc_id, ct, rt, len(ct) AS lc, len(rt) AS lr
       |  FROM tok),
       |dp AS (
       |  SELECT doc_id, ct, rt, lc, lr, 0 AS i,
       |         list_transform(range(1, lr + 1), x -> x) AS r
       |  FROM sz
       |  UNION ALL
       |  SELECT doc_id, ct, rt, lc, lr, i + 1,
       |    list_transform(range(1, lr + 1), j ->
       |      least(i + 1 + j,
       |        list_min(list_transform(range(1, j + 1), k ->
       |          least(r[k] + 1,
       |            (CASE WHEN k = 1 THEN i ELSE r[k - 1] END) +
       |            (CASE WHEN rt[k] = ct[i + 1] THEN 0 ELSE 1 END))
       |          + (j - k)))))
       |  FROM dp WHERE i < lc),
       |fin AS (SELECT doc_id, lc, lr,
       |  CASE WHEN lr = 0 THEN lc WHEN lc = 0 THEN lr ELSE r[lr] END
       |    AS edits
       |  FROM dp WHERE i = lc)
       |SELECT doc_id, CAST(edits AS BIGINT) AS edits,
       |  CAST(lc AS BIGINT) AS n_cand, CAST(lr AS BIGINT) AS n_ref,
       |  CAST(edits * 10000 // greatest(lr, 1) AS BIGINT) AS wer_bp
       |FROM fin""".stripMargin

  // --------------------------------------------- WordPiece trainer
  // Three likelihood-scored merge rounds (Schuster & Nakajima, ICASSP
  // 2012): argmax of pair_count/(lhs_count·rhs_count) over adjacent
  // symbols of the ##-marked anchored word representation — see
  // operators/WordPiece.scala for why the score compares EXACTLY
  // across engines (one IEEE division of exact integers; no
  // transcendentals). The oracle replays the rounds as materialized
  // CTEs, scoring with the same division.
  private val wordpieceRounds = 3
  private def wordpieceMergesPath(spark: SparkSession, dir: String): String =
    Fixtures.cached("wordpiece-merges", dir) { root =>
      val p = new java.io.File(root, "merges").toString
      graft.operators.WordPiece
        .trainMerges(docs(spark, dir), "text", wordpieceRounds)
        .write.mode("overwrite").parquet(p)
      p
    }
  def wordpieceTrainQ(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(wordpieceMergesPath(spark, dir))
      .select(col("ord"), col("lhs"), col("rhs"), col("pair_count"),
        col("lhs_count"), col("rhs_count"))
  private def wordpieceTrainCtes(): String = {
    val rounds = (1 to wordpieceRounds).map { r =>
      s"""s$r AS (SELECT sym, sum(cnt) AS c FROM (
         |  SELECT cnt, unnest(list_filter(string_split(rep, chr(31)),
         |    x -> x <> '')) AS sym
         |  FROM w${r - 1}) GROUP BY 1),
         |p$r AS (SELECT p.lhs, p.rhs, sum(cnt) AS pair_count FROM (
         |  SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |    i -> struct_pack(lhs := syms[CAST(i AS INT)],
         |                     rhs := syms[CAST(i AS INT)+1]))) AS p
         |  FROM (SELECT cnt, list_filter(string_split(rep, chr(31)),
         |          x -> x <> '') AS syms
         |        FROM w${r - 1}))
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT p.lhs, p.rhs, p.pair_count,
         |    sl.c AS lhs_count, sr.c AS rhs_count
         |  FROM p$r p JOIN s$r sl ON sl.sym = p.lhs
         |    JOIN s$r sr ON sr.sym = p.rhs
         |  ORDER BY CAST(p.pair_count AS DOUBLE) /
         |    CAST(sl.c * sr.c AS DOUBLE) DESC, p.lhs, p.rhs LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT cnt, replace(rep,
         |    chr(31) || b.lhs || chr(31) || b.rhs || chr(31),
         |    chr(31) || b.lhs ||
         |      (CASE WHEN b.rhs LIKE '##%' THEN b.rhs[3:] ELSE b.rhs END)
         |      || chr(31)) AS rep
         |  FROM w${r - 1}, b$r b)""".stripMargin
    }.mkString(",\n")
    raw"""w0 AS MATERIALIZED (
       |  SELECT count(*) AS cnt,
       |    CASE WHEN len(w) = 1 THEN chr(31) || w || chr(31)
       |    ELSE chr(31) || substr(w, 1, 1) || chr(31) ||
       |      array_to_string(list_transform(
       |        string_split(substr(w, 2), ''), c -> '##' || c), chr(31))
       |      || chr(31) END AS rep
       |  FROM (SELECT unnest(
       |          string_split_regex(lower(trim(text)), '\s+')) AS w
       |        FROM documents)
       |  WHERE len(w) >= 1 AND w NOT LIKE '%#%'
       |    AND strpos(w, chr(31)) = 0
       |  GROUP BY w)""".stripMargin + ",\n" + rounds
    // NOTE: the round blocks are stripped individually and concatenated
    // OUTSIDE the w0 literal — interpolating already-stripped text into
    // another stripMargin string re-strips any line that begins with
    // whitespace + '|' (the `|| chr(31)` continuations here), silently
    // corrupting the SQL
  }
  val wordpieceTrainSql: String = {
    val unions = (1 to wordpieceRounds).map(r =>
      s"SELECT $r AS ord, lhs, rhs, pair_count, lhs_count, rhs_count " +
        s"FROM b$r").mkString(" UNION ALL ")
    "WITH " + wordpieceTrainCtes() + "\n" +
      s"""SELECT CAST(ord AS BIGINT) AS ord, lhs, rhs,
         |  CAST(pair_count AS BIGINT) AS pair_count,
         |  CAST(lhs_count AS BIGINT) AS lhs_count,
         |  CAST(rhs_count AS BIGINT) AS rhs_count
         |FROM ($unions)""".stripMargin
  }

  // --------------------------------------------- WordPiece application
  // Greedy longest-match-first segmentation (the BERT inference rule,
  // deliberately a DIFFERENT algorithm from the trainer's merge
  // replay) of the corpus's distinct pretokens (≤ 12 chars — bounds
  // the oracle's recursion width; the engine expression has no such
  // bound) under the trained vocabulary = the symbols still occurring
  // after the merges. Words with no match at some position collapse to
  // [UNK] — WordPiece's all-or-nothing rule. The oracle replays
  // training, derives the same vocabulary, and walks the greedy rule
  // as a recursive CTE with a correlated longest-piece probe.
  def wordpieceApplyQ(spark: SparkSession, dir: String): DataFrame = {
    val merges = spark.read.parquet(wordpieceMergesPath(spark, dir))
      .orderBy(col("ord")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = graft.operators.WordPiece
      .finalSymbols(docs(spark, dir), "text", merges)
    val words = graft.operators.WordPiece
      .pretokens(docs(spark, dir), "text")
      .where(length(col("word")) <= 12).distinct()
    graft.operators.WordPiece.segmentWords(words, "word", vocab)
  }
  val wordpieceApplySql: String =
    "WITH RECURSIVE " + wordpieceTrainCtes() + ",\n" +
    raw"""vocab AS (SELECT DISTINCT sym FROM (
       |  SELECT unnest(list_filter(string_split(rep, chr(31)),
       |    x -> x <> '')) AS sym FROM w$wordpieceRounds)),
       |vr AS (SELECT
       |  CASE WHEN sym LIKE '##%' THEN 1 ELSE 0 END AS form,
       |  CASE WHEN sym LIKE '##%' THEN sym[3:] ELSE sym END AS body
       |  FROM vocab),
       |words AS (SELECT DISTINCT w AS word FROM (
       |  SELECT unnest(
       |    string_split_regex(lower(trim(text)), '\s+')) AS w
       |  FROM documents)
       |  WHERE len(w) BETWEEN 1 AND 12 AND w NOT LIKE '%#%'
       |    AND strpos(w, chr(31)) = 0),
       |seg AS (
       |  SELECT word, 1 AS pos, CAST([] AS VARCHAR[]) AS pieces,
       |    0 AS unk
       |  FROM words
       |  UNION ALL
       |  SELECT word,
       |    CASE WHEN best IS NULL THEN len(word) + 1
       |         ELSE pos + len(best) END AS pos,
       |    CASE WHEN best IS NULL THEN ['[UNK]']
       |         WHEN pos = 1 THEN pieces || [best]
       |         ELSE pieces || ['##' || best] END AS pieces,
       |    CASE WHEN best IS NULL THEN 1 ELSE 0 END AS unk
       |  FROM (
       |    SELECT word, pos, pieces,
       |      (SELECT v.body FROM vr v
       |       WHERE v.form = (CASE WHEN s.pos = 1 THEN 0 ELSE 1 END)
       |         AND v.body = substr(s.word, CAST(s.pos AS INT),
       |                             len(v.body))
       |       ORDER BY len(v.body) DESC LIMIT 1) AS best
       |    FROM seg s WHERE s.pos <= len(s.word) AND s.unk = 0))
       |SELECT word, array_to_string(pieces, chr(31)) AS pieces,
       |  CAST(len(pieces) AS BIGINT) AS n_pieces,
       |  CAST(unk AS BIGINT) AS is_unk
       |FROM seg WHERE pos > len(word) OR unk = 1""".stripMargin

  // ------------------------------------------ batch perceptron trainer
  // Model-based quality filtering's trainable core, gated end to end in
  // EXACT integers (operators/Perceptron.scala): features are token
  // statistics (bias, token count, distinct tokens, duplicated tokens),
  // the label is the deterministic diversity rule 4·distinct ≥ 3·total,
  // and four batch rounds run w ← w + Σ_misclassified y·x with
  // margin 0 counting as a miss. Round 1 fires from w = 0 (the whole
  // corpus misclassified), rounds 2-4 chase the minority class — n_mis
  // and every weight component hash bit-for-bit because nothing here
  // is transcendental. The oracle replays the rounds as chained
  // single-row CTEs re-entering the weights as columns.
  private val PerceptronRounds = 4
  private val perceptronFeatCols = Seq("f1", "f2", "f3", "f4")
  private def perceptronFeatures(spark: SparkSession,
                                 dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        TextFns.words(col("text")).as("t"))
      .select(col("doc_id"),
        when(lit(4) * size(array_distinct(col("t"))) >=
          lit(3) * size(col("t")), 1L).otherwise(-1L).as("y"),
        lit(1L).as("f1"),
        size(col("t")).cast("long").as("f2"),
        size(array_distinct(col("t"))).cast("long").as("f3"),
        (size(col("t")) - size(array_distinct(col("t"))))
          .cast("long").as("f4"))
  private val perceptronFeaturesSql: String =
    raw"""f AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN 4*len(list_distinct(t)) >= 3*len(t)
       |         THEN 1 ELSE -1 END AS y,
       |    1 AS f1, len(t) AS f2, len(list_distinct(t)) AS f3,
       |    len(t) - len(list_distinct(t)) AS f4
       |  FROM (SELECT doc_id,
       |          string_split_regex(lower(trim(text)), '\s+') AS t
       |        FROM documents))""".stripMargin
  private def perceptronRoundCtes(): String = {
    val margin = "y*(w.w1*f1 + w.w2*f2 + w.w3*f3 + w.w4*f4)"
    val rounds = (1 to PerceptronRounds).map { r =>
      val grads = (1 to 4).map(j =>
        s"any_value(w.w$j) + COALESCE(sum(y*f$j) " +
          s"FILTER (WHERE $margin <= 0), 0) AS w$j").mkString(",\n    ")
      s"""r$r AS MATERIALIZED (
         |  SELECT count(*) FILTER (WHERE $margin <= 0) AS n_mis,
         |    $grads
         |  FROM f, r${r - 1} w)""".stripMargin
    }.mkString(",\n")
    """r0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
      |  CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS w4)"""
      .stripMargin + ",\n" + rounds
  }
  def perceptronTrainQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Perceptron.train(
      perceptronFeatures(spark, dir), "y", perceptronFeatCols,
      PerceptronRounds)
  val perceptronTrainSql: String = {
    val unions = (1 to PerceptronRounds).map(r =>
      s"SELECT $r AS round, n_mis, w1, w2, w3, w4 FROM r$r")
      .mkString(" UNION ALL ")
    "WITH " + perceptronFeaturesSql + ",\n" + perceptronRoundCtes() +
      "\n" +
      """SELECT CAST(round AS BIGINT) AS round,
        |  CAST(n_mis AS BIGINT) AS n_mis,
        |  CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2,
        |  CAST(w3 AS BIGINT) AS w3, CAST(w4 AS BIGINT) AS w4
        |FROM (""".stripMargin + unions + ")"
  }
  // The trained model APPLIED as a quality screen: per-doc integer
  // margin and ±1 prediction under the final round's weights (margin 0
  // predicts −1, the trainer's own miss convention).
  def perceptronScreenQ(spark: SparkSession, dir: String): DataFrame = {
    val feats = perceptronFeatures(spark, dir)
    val last = graft.operators.Perceptron
      .train(feats, "y", perceptronFeatCols, PerceptronRounds)
      .orderBy(col("round").desc).limit(1).collect()(0)
    val w = (1 to 4).map(j => last.getLong(1 + j))
    graft.operators.Perceptron.score(feats, perceptronFeatCols, w)
      .select(col("doc_id"), col("y"), col("score"), col("predicted"))
  }
  val perceptronScreenSql: String =
    "WITH " + perceptronFeaturesSql + ",\n" + perceptronRoundCtes() +
      "\n" +
      s"""SELECT f.doc_id, CAST(f.y AS BIGINT) AS y,
         |  CAST(w.w1*f1 + w.w2*f2 + w.w3*f3 + w.w4*f4
         |    AS BIGINT) AS score,
         |  CAST(CASE WHEN w.w1*f1 + w.w2*f2 + w.w3*f3 + w.w4*f4 > 0
         |       THEN 1 ELSE -1 END AS BIGINT) AS predicted
         |FROM f, r$PerceptronRounds w""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("x_perceptron_train", perceptronTrainQ, perceptronTrainSql),
    Query("x_perceptron_screen", perceptronScreenQ, perceptronScreenSql),
    Query("x_token_edit", tokenEditQ, tokenEditSql),
    Query("x_wordpiece_train", wordpieceTrainQ, wordpieceTrainSql),
    Query("x_wordpiece_apply", wordpieceApplyQ, wordpieceApplySql),
    Query("x_line_dedup_roi", lineDedupRoiQ, lineDedupRoiSql),
    Query("x_line_dedup_incr", lineDedupIncrQ, lineDedupIncrSql),
    Query("x_kfold", kfoldQ, kfoldSql),
    Query("x_source_gini", sourceGiniQ, sourceGiniSql),
    Query("x_c4_clean", c4CleanQ, c4CleanSql),
    Query("x_line_dedup", lineDedupQ, lineDedupSql),
    Query("x_repetition", repetitionQ, repetitionSql),
    Query("x_novelty", noveltyQ, noveltySql),
    Query("x_frame_sample", frameSampleQ, frameSampleSql),
    Query("x_html_strip", htmlStripQ, htmlStripSql),
    Query("x_vocab_topk", vocabTopKQ, vocabTopKSql),
    Query("x_coverage_curve", coverageCurveQ, coverageCurveSql),
    Query("x_burstiness", burstinessQ, burstinessSql),
    Query("x_cooccurrence", cooccurrenceQ, cooccurrenceSql),
    Query("x_sample_stratified", sampleStratifiedQ, sampleStratifiedSql),
    Query("x_sample_audit", sampleAuditQ, sampleAuditSql),
    Query("x_dedup_incremental", dedupIncrementalQ, dedupIncrementalSql),
    Query("x_neardup_incremental", neardupIncrementalQ, neardupIncrementalSql),
    Query("x_lang_stats", langStatsQ, langStatsSql),
    Query("x_lang_diversity", langDiversityQ, langDiversitySql),
    Query("x_decontaminate", decontaminateQ, decontaminateSql),
    Query("x_edit_distance", editDistanceQ, editDistanceSql),
    Query("x_dedup_exact", dedupExactQ, dedupExactSql),
    Query("x_text_stats", textStatsQ, textStatsSql),
    Query("x_length_histogram", lengthHistogramQ, lengthHistogramSql),
    Query("x_lang_id", langIdQ, langIdSql),
    Query("x_lang_confusion", langConfusionQ, langConfusionSql),
    Query("x_fingerprint", fingerprintQ, fingerprintSql),
    Query("x_simhash", simhashQ, simhashSql),
    Query("x_ngram_jaccard", ngramJaccardQ, ngramJaccardSql),
    Query("x_minhash_dedup", minhashDedupQ, minhashDedupSql),
    Query("x_cosine_topk", cosineTopKQ, cosineTopKSql),
    Query("x_embedding_neardup", embeddingNearDupQ, embeddingNearDupSql),
    Query("x_neardup_lsh", neardupLshQ, neardupLshSql),
    Query("x_sessionize", sessionizeQ, sessionizeSql),
    Query("x_interval_merge", intervalMergeQ, intervalMergeSql),
    Query("x_k_anonymity", kAnonymityQ, kAnonymitySql),
    Query("x_l_diversity", lDiversityQ, lDiversitySql),
    Query("x_t_closeness", tClosenessQ, tClosenessSql),
    Query("x_dp_release", dpReleaseQ, dpReleaseSql),
    Query("x_seasonality", seasonalityQ, seasonalitySql),
    Query("x_rolling_anomaly", rollingAnomalyQ, rollingAnomalySql),
    Query("x_multimodal_meta", multimodalMetaQ, multimodalMetaSql),
    Query("x_multimodal_decode", multimodalDecodeQ, multimodalDecodeSql),
    Query("x_multimodal_tiff", multimodalTiffQ, multimodalTiffSql),
    Query("x_multimodal_exif", multimodalExifQ, multimodalExifSql),
    Query("x_multimodal_gps", multimodalGpsQ, multimodalGpsSql),
    Query("x_resize_real", resizeRealQ, resizeRealSql),
    Query("x_ann_lsh", annLshQ, annLshSql),
    Query("x_asof_join", asOfJoinQ, asOfJoinSql),
    Query("x_quality_filter", qualityFilterQ, qualityFilterSql),
    Query("x_quality_logit", qualityLogitQ, qualityLogitSql),
    Query("x_auc", aucQ, aucSql),
    Query("x_pr_curve", prCurveQ, prCurveSql),
    Query("x_gains_curve", gainsCurveQ, gainsCurveSql),
    Query("x_calibration_bins", calibrationBinsQ, calibrationBinsSql),
    Query("x_bootstrap_ci", bootstrapCiQ, bootstrapCiSql),
    Query("x_dedup_clusters", dedupClustersQ, dedupClustersSql),
    Query("x_dedup_report", dedupReportQ, dedupReportSql),
    Query("x_dup_quality", dupQualityQ, dupQualitySql),
    Query("x_dup_inflation", dupInflationQ, dupInflationSql),
    Query("x_dataset_split", datasetSplitQ, datasetSplitSql),
    Query("x_eval_balance", evalBalanceQ, evalBalanceSql),
    Query("x_split_temporal", splitTemporalQ, splitTemporalSql),
    Query("x_tfidf", tfidfQ, tfidfSql),
    Query("x_simhash_pairs", simhashPairsQ, simhashPairsSql),
    Query("x_token_bpe", tokenBpeQ, tokenBpeSql),
    Query("x_unigram_train", unigramTrainQ, unigramTrainSql),
    Query("x_unigram_apply", unigramApplyQ, unigramApplySql),
    Query("x_unigram_em", unigramEmQ, unigramEmSql),
    Query("x_unigram_fertility", unigramFertilityQ, unigramFertilitySql),
    Query("x_unigram_prune", unigramPruneQ, unigramPruneSql),
    Query("x_unigram_oov", unigramOovQ, unigramOovSql),
    Query("x_unigram_oov_usage", unigramOovUsageQ, unigramOovUsageSql),
    Query("x_unigram_budget", unigramBudgetQ, unigramBudgetSql),
    Query("x_pca_project", pcaProjectQ, pcaProjectSql),
    Query("x_pca_residual", pcaResidualQ, pcaResidualSql),
    Query("x_tok_fertility", tokFertilityQ, tokFertilitySql),
    Query("x_pii_scrub", piiScrubQ, piiScrubSql),
    Query("x_blocklist_scan", blocklistScanQ, blocklistScanSql),
    Query("x_blocklist_policy", blocklistPolicyQ, blocklistPolicySql),
    Query("x_blocklist_scrub", blocklistScrubQ, blocklistScrubSql),
    Query("x_rouge_bleu", rougeBleuQ, rougeBleuSql),
    Query("x_gopher_repetition", gopherRepetitionQ, gopherRepetitionSql),
    Query("x_blocklist_fold", blocklistFoldQ, blocklistFoldSql),
    Query("x_blocklist_fold_scrub", blocklistFoldScrubQ, blocklistFoldScrubSql),
    Query("x_blocklist_table", blocklistTableQ, blocklistTableSql),
    Query("x_rouge_l", rougeLQ, rougeLSql),
    Query("x_bleu34", bleu34Q, bleu34Sql),
    Query("x_chrf", chrfQ, chrfSql),
    Query("x_gopher_battery", gopherBatteryQ, gopherBatterySql),
    Query("x_pii_summary", piiSummaryQ, piiSummarySql),
    Query("x_ann_ivf", annIvfQ, annIvfSql),
    Query("x_ann_pq", annPqQ, annPqSql),
    Query("x_ann_ivf_pq", annIvfPqQ, annIvfPqSql),
    Query("x_ann_ivf_pq_sampled", annIvfPqSampledQ, annIvfPqSampledSql),
    Query("x_ann_recall", annRecallQ, annRecallSql),
    Query("x_ann_filtered", annFilteredQ, annFilteredSql),
    Query("x_dedup_drop", dedupDropQ, dedupDropSql),
    Query("x_curate_e2e", curateE2eQ, curateE2eSql),
    // same oracle as x_dedup_drop: the sig-table composition must
    // reproduce the from-text composition's survivor set exactly
    Query("x_dedup_drop_sigtable", dedupDropSigQ, dedupDropSql),
    Query("x_containment", containmentQ, containmentSql),
    Query("x_source_report", sourceReportQ, sourceReportSql),
    Query("x_source_overlap", sourceOverlapQ, sourceOverlapSql),
    Query("x_embedding_clusters", embeddingClustersQ, embeddingClustersSql),
    Query("x_cluster_purity", clusterPurityQ, clusterPuritySql),
    Query("x_class_balance", classBalanceQ, classBalanceSql),
    Query("x_embedding_audit", embeddingAuditQ, embeddingAuditSql),
    Query("x_dup_spans", dupSpansQ, dupSpansSql),
    Query("x_dup_longest", dupLongestQ, dupLongestSql),
    Query("x_split_by_source", splitBySourceQ, splitBySourceSql),
    Query("x_heavy_hitters", heavyHittersQ, heavyHittersSql),
    Query("x_count_min", countMinQ, countMinSql),
    // same oracle as x_count_min: the merged incremental sketch must be
    // indistinguishable from the from-scratch sketch (CM linearity)
    Query("x_count_min_incr", countMinIncrQ, countMinSql),
    Query("x_ann_sq8", annSq8Q, annSq8Sql),
    Query("x_chunk", chunkQ, chunkSql),
    Query("x_chunk_dedup", chunkDedupQ, chunkDedupSql),
    Query("x_lm_score", lmScoreQ, lmScoreSql),
    Query("x_bm25", bm25Q, bm25Sql),
    Query("x_shard_export", shardExportQ, shardExportSql),
    Query("x_knn_graph", knnGraphQ, knnGraphSql),
    Query("x_triangles", trianglesQ, trianglesSql),
    Query("x_triangles_incr", trianglesIncrQ, trianglesIncrSql),
    Query("x_modularity", modularityQ, modularitySql),
    Query("x_degree_dist", degreeDistQ, degreeDistSql),
    Query("x_link_predict", linkPredictQ, linkPredictSql),
    Query("x_link_predict_guarded", linkPredictGuardedQ, linkPredictGuardedSql),
    Query("x_link_hubs", linkHubsQ, linkHubsSql),
    Query("x_clustering_coef", clusteringCoefQ, clusteringCoefSql),
    Query("x_containment_pairs", containmentPairsQ, containmentPairsSql),
    Query("x_containment_incr", containmentIncrQ, containmentIncrSql),
    Query("x_dedup_keep_best", dedupKeepBestQ, dedupKeepBestSql),
    Query("x_quality_dedup", qualityDedupQ, qualityDedupSql),
    Query("x_dedup_sweep", dedupSweepQ, dedupSweepSql),
    Query("x_ann_dim_sweep", annDimSweepQ, annDimSweepSql),
    Query("x_ann_dim_rerank", annDimRerankQ, annDimRerankSql),
    Query("x_clustering_incr", clusteringIncrQ, clusteringIncrSql),
    Query("x_edge_support", edgeSupportQ, edgeSupportSql),
    Query("x_edge_support_incr", edgeSupportIncrQ, edgeSupportIncrSql),
    Query("x_ktruss", ktrussQ, ktrussSql),
    Query("x_ktruss_witness", ktrussWitnessQ, ktrussWitnessSql),
    Query("x_truss_precision", trussPrecisionQ, trussPrecisionSql),
    Query("x_label_prop", labelPropQ, labelPropSql),
    Query("x_neardup_verified", neardupVerifiedQ, neardupVerifiedSql),
    Query("x_screen_calibration", screenCalibrationQ, screenCalibrationSql),
    Query("x_sig_stats", sigStatsQ, sigStatsSql),
    Query("x_screen_recall", screenRecallQ, screenRecallSql),
    Query("x_threshold_sweep", thresholdSweepQ, thresholdSweepSql),
    Query("x_syndication", syndicationQ, syndicationSql),
    Query("x_neardup_bands", neardupBandsQ, neardupBandsSql),
    Query("x_sparse_sim", sparseSimQ, sparseSimSql),
    Query("x_pagerank", pageRankQ, pageRankSql),
    Query("x_pagerank_incr", pageRankIncrQ, pageRankIncrSql),
    Query("x_pagerank_witness", pageRankWitnessQ, pageRankWitnessSql),
    Query("x_ppr_leakage", pprLeakageQ, pprLeakageSql),
    Query("x_hits", hitsQ, hitsSql),
    Query("x_kcore", kcoreQ, kcoreSql),
    Query("x_kcore_witness", kcoreWitnessQ, kcoreWitnessSql),
    Query("x_dsir_select", dsirSelectQ, dsirSelectSql),
    Query("x_curriculum", curriculumQ, curriculumSql),
    Query("x_ann_rerank", annRerankQ, annRerankSql),
    Query("x_rank_fusion", rankFusionQ, rankFusionSql),
    Query("x_random_projection", randomProjectionQ, randomProjectionSql),
    Query("x_bpe_merges", bpeMergesQ, bpeMergesSql),
    Query("x_winnowing", winnowingQ, winnowingSql),
    Query("x_eval_proximity", evalProximityQ, evalProximitySql),
    Query("x_mmr_diverse", mmrDiverseQ, mmrDiverseSql),
    Query("p_stream_select", streamSelectQ, streamSelectSql),
    Query("x_dedup_soft", dedupSoftQ, dedupSoftSql),
    Query("x_bpe_train", bpeTrainQ, bpeTrainSql),
    Query("x_audio_features", audioFeaturesQ, audioFeaturesSql),
    Query("x_image_features", imageFeaturesQ, imageFeaturesSql),
    Query("x_image_phash", imagePhashQ, imagePhashSql),
    Query("x_winnow_pairs", winnowPairsQ, winnowPairsSql),
    Query("x_containment_winnow", containmentWinnowQ, containmentWinnowSql),
    Query("x_containment_winnow_incr", containmentWinnowIncrQ,
      containmentWinnowIncrSql),
    Query("x_quote_screen_pruned", quoteScreenPrunedQ, quoteScreenPrunedSql),
    Query("x_quote_screen_compacted", quoteScreenCompactedQ,
      quoteScreenCompactedSql),
    Query("x_screen_overlap", screenOverlapQ, screenOverlapSql),
    Query("x_winnow_incremental", winnowIncrementalQ, winnowIncrementalSql),
    Query("x_bpe_apply", bpeApplyQ, bpeApplySql),
    Query("x_drift", driftQ, driftSql),
    Query("x_url_canon", urlCanonQ, urlCanonSql),
    Query("x_url_dedup", urlDedupQ, urlDedupSql),
    Query("x_domain_cap", domainCapQ, domainCapSql),
    Query("x_seq_pack", seqPackQ, seqPackSql),
    Query("x_pack_report", packReportQ, packReportSql),
    Query("x_stream_curate", streamCurateQ, streamCurateSql),
    Query("x_stream_curate_quotes", streamCurateQuotesQ, streamCurateQuotesSql),
    Query("x_stream_curate_policy", streamCuratePolicyQ, streamCuratePolicySql),
    Query("x_quality_quantile", qualityQuantileQ, qualityQuantileSql),
    Query("x_ann_ivf_sq8", annIvfSq8Q, annIvfSq8Sql),
    Query("x_ann_ivf_sq8_table", annIvfSq8TableQ, annIvfSq8Sql),
    Query("x_ann_pareto", annParetoQ, annParetoSql),
    Query("x_ann_index_stats", annIndexStatsQ, annIndexStatsSql),
    Query("x_index_drift", indexDriftQ, indexDriftSql),
    Query("x_dedup_best_keeper", dedupBestKeeperQ, dedupBestKeeperSql),
    Query("x_mixture_temperature", mixtureTemperatureQ, mixtureTemperatureSql),
    Query("x_quota_mix", quotaMixQ, quotaMixSql),
    Query("x_token_budget", tokenBudgetQ, tokenBudgetSql),
    Query("x_er_linkage", erLinkageQ, erLinkageSql),
    Query("x_er_golden", erGoldenQ, erGoldenSql),
    Query("x_profile", profileQ, profileSql),
    Query("x_label_vote", labelVoteQ, labelVoteSql),
    Query("x_weighted_sample", weightedSampleQ, weightedSampleSql),
    Query("x_boilerplate", boilerplateQ, boilerplateSql),
    Query("x_semdedup", semdedupQ, semdedupSql),
    Query("x_dedup_clusters_incr", dedupClustersIncrQ, dedupClustersIncrSql),
    Query("x_fuzzy_join", fuzzyJoinQ, fuzzyJoinSql),
    Query("x_er_block_guard", erBlockGuardQ, erBlockGuardSql),
    Query("x_forward_fill", forwardFillQ, forwardFillSql),
    Query("x_unicode_norm", unicodeNormQ, unicodeNormSql),
    Query("x_dedup_normalized", dedupNormalizedQ, dedupNormalizedSql),
    Query("x_oov_rate", oovRateQ, oovRateSql),
    Query("x_contrastive", contrastiveQ, contrastiveSql),
    Query("x_bitext_mine", bitextMineQ, bitextMineSql),
    Query("x_split_leakage", splitLeakageQ, splitLeakageSql),
    Query("x_multimodal_audio", multimodalAudioQ, multimodalAudioSql),
    Query("x_frame_sample_real", frameSampleRealQ, frameSampleRealSql),
    Query("x_ann_index_incr", annIndexIncrQ, annIndexIncrSql),
    Query("p_stream_ann", streamAnnQ, streamAnnSql),
    Query("x_quality_buckets", qualityBucketsQ, qualityBucketsSql),
    Query("x_deflate_gate", deflateGateQ, deflateGateSql),
    Query("x_er_purge_report", erPurgeReportQ, erPurgeReportSql),
    Query("x_label_kappa", labelKappaQ, labelKappaSql))
}
