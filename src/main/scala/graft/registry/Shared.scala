package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Temporal, TextOps}
import graft.operators._

/** Builders and SQL fragments used by more than one query family. */
private[registry] object Shared {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  val money: Column => Column = c =>
    graft.expressions.Kernels.toDecimal(c.cast("double"), 18, 2)

  /** Typed cleanse of the events feed: normalization, code-derived
    * day type, temporal surrogate keys, JSON prop extraction.
    * (reference: src/silver/transforms.py:325-454)
    */
  def cleanseEvents(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").select(
      col("event_id"),
      col("user_id"),
      upper(trim(col("event_type"))).as("event_type_norm"),
      Temporal.tipoDia(col("ts")).as("tipo_dia"),
      Temporal.dateSk(col("ts")).as("date_sk"),
      Temporal.time30mSk(col("ts")).as("time_30m_sk"),
      col("value"),
      // Guard the cast to pure-integer strings so Spark (NULL on junk)
      // and the DuckDB twin (raises on junk, rounds decimals) can never
      // diverge on non-integer payloads.
      propK(get_json_object(col("props"), "$.k")).as("prop_k"))

  def propK(raw: Column): Column =
    // Single JSON evaluation (r16, guide §1.2 per-task work): the
    // plain when(raw.rlike, raw.cast) form evaluates get_json_object
    // TWICE per row (whole-stage codegen's subexpression elimination
    // does not fold the two references through the conditional —
    // measured 0.48 s vs the 0.25 s single-eval floor per cleanse
    // scan at sf0.1). Binding the value once through a one-element
    // array lambda halves the JSON cost for every cleanse consumer;
    // same guard, same cast, bit-identical output (mismatches=0 on
    // the full events relation).
    element_at(
      transform(array(raw), x => when(x.rlike("^-?[0-9]+$"), x.cast("int"))), 1)

  /** Quality rules for events, first-match-wins (reference:
    * src/silver/transforms.py:457-478 rule shape).
    */
  def eventRules: Seq[QualityGate.Rule] = Seq(
    QualityGate.Rule("MISSING_ID", col("user_id").isNull),
    QualityGate.Rule("MISSING_TIMESTAMP", col("date_sk").isNull),
    QualityGate.Rule("NEG_VALUE", col("value").isNotNull && col("value") < 0),
    QualityGate.Rule("BAD_RANGE_VALUE", col("value").isNotNull && col("value") > 450.0),
    QualityGate.Rule("BAD_TIME_SLOT", col("time_30m_sk").isNotNull &&
      (col("time_30m_sk") < 0 || col("time_30m_sk") > 47)))

  /** The validated serving frame (the reference's etapas_validation twin). */
  def servingValid(spark: SparkSession, dir: String): DataFrame =
    QualityGate.valid(cleanseEvents(spark, dir), eventRules)

  /** Per-document token/char stats and a deterministic quality score. */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val toks = TextOps.tokens(txt)
    t(spark, dir, "documents").select(
      col("doc_id"),
      length(txt).as("n_chars_calc"),
      size(toks).as("n_tokens"),
      (aggregate(toks, lit(0), (a, x) => a + length(x)) / greatest(size(toks), lit(1)))
        .as("avg_token_len"),
      TextOps.bpeTokenCount(txt).as("n_tokens_bpe"),
      (TextOps.punctCount(txt) / greatest(length(txt), lit(1))).as("punct_ratio"),
      (TextOps.stopwordCountEn(toks) / greatest(size(toks), lit(1))).as("stopword_ratio"))
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens") / 100.0) *
          (lit(1.0) - col("stopword_ratio") * 0.5) * (lit(1.0) - col("punct_ratio")))
  }

  /** Stopword/CJK heuristic language ID with ground truth passthrough. */
  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val toks = TextOps.tokens(txt)
    val scores = TextOps.langScores(toks).map { case (c, name) => c.as(name) }
    t(spark, dir, "documents")
      .select(col("doc_id") +: col("lang") +: size(toks).as("n_tokens") +:
        scores :+ TextOps.cjkCount(txt).as("cjk_n"): _*)
      .withColumn("predicted_lang", TextOps.predictedLang(
        col("en_n"), col("de_n"), col("es_n"), col("fr_n"), col("cjk_n"), col("n_tokens")))
  }

  /** The Lloyd's k-means oracle — seed panel, per-round assignment
    * (QUALIFY argmin with the lowest-cid tie-break) and decimal-exact
    * means, replaying Ann.kmeans op-for-op; the dot folds are the
    * proven cosine-oracle list_reduce idiom.
    */
  def kmeansOracleSql(k: Int, rounds: Int): String = {
    def dotSql(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"
    val head =
      s"""WITH base AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> floor(x * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE)) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |exp0 AS MATERIALIZED (
         |  SELECT vec_id, UNNEST(range(len(v))) AS dim_pos, UNNEST(v) AS vx FROM base),
         |cent0 AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY dg, vec_id) - 1 AS BIGINT) AS cid, v AS c
         |  FROM (
         |    SELECT vec_id, v,
         |      CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS dg
         |    FROM base ORDER BY dg, vec_id LIMIT $k))""".stripMargin
    def assignSql(cent: String) =
      s"""SELECT vec_id, cid, d2 FROM (
         |    SELECT b.vec_id, ct.cid,
         |      ${dotSql("ct.c", "ct.c")} - CAST(2 AS DOUBLE) * ${dotSql("b.v", "ct.c")} AS d2
         |    FROM base b CROSS JOIN $cent ct)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""asg$i AS MATERIALIZED (
         |  ${assignSql(s"cent${i - 1}")}),
         |mean$i AS MATERIALIZED (
         |  SELECT a.cid AS cluster_id, e.dim_pos,
         |    CAST(SUM(CAST(e.vx AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mx
         |  FROM exp0 e JOIN asg$i a USING (vec_id)
         |  GROUP BY 1, 2),
         |cent$i AS MATERIALIZED (
         |  SELECT cluster_id AS cid, list(mx ORDER BY dim_pos) AS c
         |  FROM mean$i GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$iters
       |SELECT vec_id, cid AS cluster_id, d2 FROM (
       |  SELECT b.vec_id, ct.cid,
       |    ${dotSql("ct.c", "ct.c")} - CAST(2 AS DOUBLE) * ${dotSql("b.v", "ct.c")} AS d2
       |  FROM base b CROSS JOIN cent$rounds ct)
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1""".stripMargin
  }

  val toksSql = """regexp_split_to_array(trim(text), '\s+')"""

  val textStatsSql =
    s"""SELECT doc_id, n_chars_calc, n_tokens, avg_token_len, n_tokens_bpe, punct_ratio, stopword_ratio,
       |  least(1.0, n_tokens / 100.0) * (1.0 - stopword_ratio * 0.5) * (1.0 - punct_ratio) AS quality_score
       |FROM (
       |  SELECT doc_id,
       |    length(text) AS n_chars_calc,
       |    len(t) AS n_tokens,
       |    list_sum(list_transform(t, x -> length(x))) / greatest(len(t), 1) AS avg_token_len,
       |    len(regexp_extract_all(text, '${TextOps.BpeTokenPattern}')) AS n_tokens_bpe,
       |    (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))) / greatest(length(text), 1) AS punct_ratio,
       |    len(list_filter(t, x -> x IN ${TextOps.stopListSql("en")})) / greatest(len(t), 1) AS stopword_ratio
       |  FROM (SELECT doc_id, text, $toksSql AS t FROM documents))""".stripMargin

  val langIdSql =
    s"""SELECT *,
       |  CASE WHEN cjk_n > 0 AND cjk_n * 2 >= n_tokens THEN 'zh'
       |       WHEN en_n >= de_n AND en_n >= es_n AND en_n >= fr_n THEN 'en'
       |       WHEN de_n >= es_n AND de_n >= fr_n THEN 'de'
       |       WHEN es_n >= fr_n THEN 'es'
       |       ELSE 'fr' END AS predicted_lang
       |FROM (
       |  SELECT doc_id, lang, len(t) AS n_tokens,
       |    len(list_filter(t, x -> x IN ${TextOps.stopListSql("en")})) AS en_n,
       |    len(list_filter(t, x -> x IN ${TextOps.stopListSql("de")})) AS de_n,
       |    len(list_filter(t, x -> x IN ${TextOps.stopListSql("es")})) AS es_n,
       |    len(list_filter(t, x -> x IN ${TextOps.stopListSql("fr")})) AS fr_n,
       |    length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk_n
       |  FROM (SELECT doc_id, lang, text, $toksSql AS t FROM documents))""".stripMargin

  /** Capped distinct (user, item) interactions — the shared input of
    * both recsys oracles (mirrors Recsys.interactions exactly).
    */
  def recsysInteractionsSql: String =
    """SELECT user_id, item_id FROM (
      |  SELECT user_id, item_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY item_id) AS rn
      |  FROM (
      |    SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
      |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |    WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL))
      |WHERE rn <= 1000""".stripMargin

  def servingValidSql: String =
    s"SELECT * EXCLUDE (reason_code) FROM (${qualityAnnotatedSql()}) WHERE reason_code IS NULL"

  /** DuckDB twin of [[cleanseEvents]]; `where` lets callers append a predicate. */
  def cleanseEventsSql(where: String): String =
    s"""SELECT event_id, user_id,
       |  UPPER(TRIM(event_type)) AS event_type_norm,
       |  CASE WHEN isodow(ts) = 7 THEN 'DOMINGO'
       |       WHEN isodow(ts) = 6 THEN 'SABADO'
       |       ELSE 'LABORAL' END AS tipo_dia,
       |  CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS date_sk,
       |  CAST(hour(ts)*2 + CASE WHEN minute(ts) >= 30 THEN 1 ELSE 0 END AS INTEGER) AS time_30m_sk,
       |  value,
       |  CASE WHEN regexp_matches(json_extract_string(props, '$$.k'), '^-?[0-9]+$$')
       |       THEN CAST(json_extract_string(props, '$$.k') AS INTEGER) END AS prop_k
       |FROM events $where""".stripMargin

  /** DuckDB twin of the first-match-wins quality annotation. */
  def qualityAnnotatedSql(): String =
    s"""SELECT *,
       |  CASE WHEN user_id IS NULL THEN 'MISSING_ID'
       |       WHEN date_sk IS NULL THEN 'MISSING_TIMESTAMP'
       |       WHEN value IS NOT NULL AND value < 0 THEN 'NEG_VALUE'
       |       WHEN value IS NOT NULL AND value > 450.0 THEN 'BAD_RANGE_VALUE'
       |       WHEN time_30m_sk IS NOT NULL AND (time_30m_sk < 0 OR time_30m_sk > 47) THEN 'BAD_TIME_SLOT'
       |       ELSE NULL END AS reason_code
       |FROM (${cleanseEventsSql("")})""".stripMargin
}
