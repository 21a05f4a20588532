package graft
package registry

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.operators._

import Shared._

/** The training-data text pipeline: normalization, deduplication,
  * decontamination, tokenizers and corpus statistics.
  *
  * DuckDB twins of the text-pipeline queries. Since r14 the
  * probabilistic tier (minhash / simhash / fingerprint /
  * decontaminate-minhash and the recall panel over them) is
  * oracle-checked too: signatures ride md5-register hashes
  * ([[graft.expressions.ArrayKernels.md5Long60]]), so the sketch
  * state is a SQL relation the oracle recomputes — the D75
  * hllOverlapReplayable recipe applied to the text tier.
  */
private[graft] object TextQueries {

  def records: Seq[Query] = Seq(
    // Sequence packing: documents into 2048-token bins across 8
    // deterministic shards — pure window algebra, layout-stable.
    Query("pack_sequences", ((s: SparkSession, d: String) =>
      Packing.packGreedy(
        t(s, d, "documents")
          .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens")),
        "doc_id", "n_tokens", budget = 2048, nShards = 8)),
      Sql(s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len($toksSql) AS INTEGER) AS n_tokens,
         |    CAST(doc_id % 8 AS INTEGER) AS shard
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens, shard,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |         AS BIGINT) AS cum_tokens
         |  FROM d)
         |SELECT doc_id, n_tokens, shard, cum_tokens,
         |  CAST(FLOOR((cum_tokens - n_tokens) / 2048) AS BIGINT) AS bin_id,
         |  CAST((cum_tokens - n_tokens) % 2048 AS BIGINT) AS bin_offset
         |FROM c""".stripMargin)),

    Query("dedup_exact", ((s: SparkSession, d: String) =>
      TextDedup.exact(t(s, d, "documents"), "text", "doc_id")),
      Sql("""SELECT doc_id, text, lang, source, n_chars, n_copies FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY text) AS n_copies
        |  FROM documents) WHERE rn = 1""".stripMargin)),

    // Canonicalized exact dedup: case/whitespace-normalized grouping —
    // collapses trivial reformattings raw byte-exact dedup misses.
    Query("dedup_exact_canonical", ((s: SparkSession, d: String) =>
      TextDedup.exactCanonical(t(s, d, "documents"), "text", "doc_id")),
      // Candidates at the LOW jaccard threshold, then the integer
      // Levenshtein + one division replayed op-for-op.
      // Canonical grouping replayed on the normalized STRING itself
      // (the engine groups on its sha-256 — same partition, 32-byte
      // keys); DuckDB needs the 'g' flag for replace-ALL.
      Sql("""WITH c AS (
        |  SELECT doc_id, text,
        |    lower(regexp_replace(trim(text), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS canonical_text
        |  FROM documents)
        |SELECT canonical_text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
        |  COUNT(DISTINCT text) AS n_raw_variants
        |FROM c GROUP BY 1""".stripMargin)),

    Query("dedup_ngram_jaccard", ((s: SparkSession, d: String) =>
      TextDedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text")),
      // Mirrors the df-cap (stop shingles with df > 1000 leave both
      // the posting relation and the union sizes — Jaccard is exact
      // over the filtered shingle space).
      Sql(jaccardPairsOracleSql(toksSql, shinglesSql))),

    // Dedup-rate curve: per Jaccard threshold, surviving pairs, docs
    // removed under keep-lowest-id, and the removed corpus share —
    // the threshold-selection evidence before a near-dup commit.
    Query("dedup_rate_curve", ((s: SparkSession, d: String) =>
      TextDedup.dedupRateCurve(t(s, d, "documents"), "doc_id", "text")),
      // TextDedup.dedupRateCurve mirrored: the pair replay nested as
      // a CTE, threshold fan-out, keep-lowest-id loser counts, one
      // guarded share quotient.
      Sql(s"""WITH pr AS (${jaccardPairsOracleSql(toksSql, shinglesSql)}),
         |thr AS (SELECT UNNEST(CAST([0.5, 0.6, 0.7, 0.8, 0.9] AS DOUBLE[])) AS threshold),
         |tot AS (
         |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |hits AS (
         |  SELECT t.threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(COUNT(DISTINCT GREATEST(p.doc_a, p.doc_b)) AS BIGINT) AS n_docs_removed
         |  FROM thr t JOIN pr p ON t.threshold <= p.jaccard GROUP BY 1)
         |SELECT t.threshold,
         |  COALESCE(h.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
         |  COALESCE(h.n_docs_removed, CAST(0 AS BIGINT)) AS n_docs_removed,
         |  n_docs,
         |  CAST(COALESCE(h.n_docs_removed, CAST(0 AS BIGINT)) AS DOUBLE)
         |    / CAST(n_docs AS DOUBLE) AS pct_removed
         |FROM thr t LEFT JOIN hits h ON h.threshold = t.threshold CROSS JOIN tot""".stripMargin)),

    // Prefix-filtered EXACT similarity join (AllPairs/PPJoin): the
    // complete Jaccard pair set with no df-cap recall loss — the
    // threshold itself bounds the candidate join.
    Query("dedup_prefix_filter", ((s: SparkSession, d: String) =>
      TextDedup.prefixFilterPairs(t(s, d, "documents"), "doc_id", "text")),
      // The UNCAPPED exact pair set: the oracle computes the true
      // all-pairs join directly (feasible at oracle SF); the Spark
      // side must reproduce it exactly through the prefix filter.
      Sql(s"""WITH docs AS (
         |  SELECT doc_id, $shinglesSql AS shs
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
         |sh AS (SELECT doc_id, UNNEST(shs) AS sh FROM docs),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.doc_a, p.doc_b, sa.n_sh AS n_sh_a, sb.n_sh AS n_sh_b, p.n_common,
         |  p.n_common / (sa.n_sh + sb.n_sh - p.n_common) AS jaccard
         |FROM pairs p
         |JOIN sizes sa ON sa.doc_id = p.doc_a
         |JOIN sizes sb ON sb.doc_id = p.doc_b
         |WHERE p.n_common / (sa.n_sh + sb.n_sh - p.n_common) >= 0.5""".stripMargin)),

    // Asymmetric containment: catches a short doc embedded in a long
    // one, which symmetric Jaccard scores near zero.
    Query("dedup_containment", ((s: SparkSession, d: String) =>
      TextDedup.containmentPairs(t(s, d, "documents"), "doc_id", "text")),
      Sql(s"""WITH docs AS (
         |  SELECT doc_id, $shinglesSql AS shs
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
         |sh AS (SELECT doc_id, UNNEST(shs) AS sh FROM docs),
         |dfc AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh HAVING COUNT(*) <= 1000),
         |kept AS (SELECT s.doc_id, s.sh, d.df FROM sh s JOIN dfc d USING (sh)),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  WHERE a.df >= 2
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_sh_a, n_sh_b, n_common, containment_a, containment_b
         |FROM (
         |  SELECT p.doc_a, p.doc_b, sa.n_sh AS n_sh_a, sb.n_sh AS n_sh_b, p.n_common,
         |    p.n_common / sa.n_sh AS containment_a,
         |    p.n_common / sb.n_sh AS containment_b
         |  FROM pairs p
         |  JOIN sizes sa ON sa.doc_id = p.doc_a
         |  JOIN sizes sb ON sb.doc_id = p.doc_b)
         |WHERE GREATEST(containment_a, containment_b) >= 0.8""".stripMargin)),

    // Levenshtein-verified near-dups over inverted-index candidates.
    Query("dedup_edit_distance", ((s: SparkSession, d: String) =>
      TextDedup.editDistancePairs(t(s, d, "documents"), "doc_id", "text")),
      Sql(s"""WITH jp AS (${jaccardPairsOracleSql(toksSql, shinglesSql, threshold = 0.3)}),
         |tx AS (SELECT doc_id, text FROM documents)
         |SELECT doc_a, doc_b,
         |  levenshtein(ta.text, tb.text) AS edit_dist,
         |  CAST(length(ta.text) AS INTEGER) AS len_a,
         |  CAST(length(tb.text) AS INTEGER) AS len_b,
         |  1.0 - levenshtein(ta.text, tb.text)
         |      / CAST(GREATEST(length(ta.text), length(tb.text)) AS DOUBLE) AS edit_sim
         |FROM (SELECT doc_a, doc_b FROM jp) c
         |JOIN tx ta ON ta.doc_id = c.doc_a
         |JOIN tx tb ON tb.doc_id = c.doc_b
         |WHERE 1.0 - levenshtein(ta.text, tb.text)
         |      / CAST(GREATEST(length(ta.text), length(tb.text)) AS DOUBLE) >= 0.8""".stripMargin)),

    // Incremental corpus dedup: the new batch (doc_id >= 400) deduped
    // against the standing corpus (doc_id < 400) and exactly within
    // itself — the corpus is never re-paired with itself.
    Query("dedup_incremental", ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      TextDedup.incrementalDedup(
        docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
        "doc_id", "text")
    }),
      // Same stop-shingle + Jaccard algebra, batch-vs-corpus only; the
      // decision CASEs mirror the Spark first-match order exactly.
      Sql(incrementalDedupSql(toksSql, shinglesSql))),

    // Incremental dedup against the PERSISTED corpus index: one index
    // REFRESH (the per-corpus-commit cost) + the batch PROBE over the
    // stored tables — the timed entry deliberately includes both
    // halves of the operational cycle; at 100 TB the refresh amortizes
    // over ~1000 batch probes. Same decision surface as
    // dedup_incremental (shared tail), same oracle. One fixed scratch
    // dir per (PROCESS, sf) — the pid component keeps two concurrent
    // JVMs benchmarking the same sf from sharing a dir (one process's
    // recursive rm would delete the index another is probing mid-run);
    // within a process it is recursively cleared before each build, so
    // repeated bench/verify passes never accumulate index copies.
    Query("dedup_incremental_indexed", ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val pid = java.lang.ProcessHandle.current().pid()
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_dedup_idx_p${pid}_${d.replaceAll("[^A-Za-z0-9]", "_")}")
      def rm(f: java.io.File): Unit = {
        // listFiles() is null on IO error or a concurrent delete —
        // treat as already-gone, not NPE
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      if (dir.exists()) rm(dir)
      TextDedup.buildDedupIndex(
        docs.filter(col("doc_id") < 400), "doc_id", "text", dir.toString)
      TextDedup.incrementalDedupIndexed(
        s, dir.toString, docs.filter(col("doc_id") >= 400), "doc_id", "text")
    }),
      // STORED-INDEX probe (D95): the decision tail is SHARED Scala
      // code with dedup_incremental (TextDedup.dedupAgainstIndex), so
      // the identical oracle pins that the persisted digest/stop/
      // posting/size tables carry the same decision surface as the
      // fresh corpus derivation.
      Sql(incrementalDedupSql(toksSql, shinglesSql))),

    // Duplicate-cluster assignment: connected components over the
    // exact-Jaccard pair set (iterative min-label propagation — the
    // survivor-selection step after any pair generator).
    Query("dedup_clusters", ((s: SparkSession, d: String) =>
      TextDedup.connectedComponents(
        TextDedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text"),
        "doc_a", "doc_b")),
      Sql(s"""WITH RECURSIVE $clusterCtes
         |SELECT doc_id, cluster_id FROM clusters""".stripMargin)),

    // Duplication-mass telemetry: the cluster-SIZE distribution of
    // the dup graph — per size, how many clusters, how many docs
    // they hold, how many a dedup pass would remove, and the share
    // of the corpus — the "how much duplication do we actually have"
    // panel that sizes a dedup investment before running it.
    Query("dedup_cluster_stats", ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val clusters = TextDedup.connectedComponents(
        TextDedup.jaccardPairs(docs, "doc_id", "text"), "doc_a", "doc_b")
      val sizes = clusters.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      val nDocs = docs.agg(count(lit(1)).as("__n_docs"))
      sizes.groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(nDocs))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          ((col("cluster_size") - 1) * col("n_clusters")).as("n_removable"),
          ((col("cluster_size") * col("n_clusters")).cast("double")
            / col("__n_docs").cast("double")).as("corpus_share"))
    }),
      // Cluster-size distribution over the SAME recursive clusters.
      Sql(s"""WITH RECURSIVE $clusterCtes,
         |sizes AS (
         |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM clusters GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total FROM documents)
         |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
         |  CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removable,
         |  CAST(cluster_size * COUNT(*) AS DOUBLE) / CAST(MAX(n_docs_total) AS DOUBLE)
         |    AS corpus_share
         |FROM sizes, tot GROUP BY cluster_size""".stripMargin)),

    // End-to-end corpus dedup ENDPOINT: duplicate clusters (Jaccard
    // pairs + connected components), ONE best-quality survivor per
    // cluster (text_stats score, doc_id tie-break), every unclustered
    // doc kept as UNIQUE — the filtered-corpus output a training
    // pipeline actually consumes after all the pair machinery.
    Query("dedup_corpus_keep", ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val clusters = TextDedup.connectedComponents(
        TextDedup.jaccardPairs(docs, "doc_id", "text"), "doc_a", "doc_b")
      // both union branches consume j — checkpoint (the PrefixSum
      // convention) so the tokenization-heavy textStats scan and the
      // cluster join materialize ONCE, not once per branch
      val j = textStats(s, d).select(col("doc_id"), col("quality_score"))
        .join(clusters, Seq("doc_id"), "left")
        .ckptPartitioned()
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("quality_score").desc, col("doc_id"))
      j.filter(col("cluster_id").isNull)
        .select(col("doc_id"), col("quality_score"), col("cluster_id"),
          lit("UNIQUE").as("keep_reason"))
        .unionByName(
          j.filter(col("cluster_id").isNotNull)
            .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
            .select(col("doc_id"), col("quality_score"), col("cluster_id"),
              lit("BEST_OF_CLUSTER").as("keep_reason")))
    }),
      // Survivor selection replayed over the SAME clusters + the SAME
      // quality score the other oracles pin — ties broken by doc_id.
      Sql(s"""WITH RECURSIVE $clusterCtes,
         |q AS (SELECT doc_id, quality_score FROM ($textStatsSql)),
         |j AS (
         |  SELECT q.doc_id, q.quality_score, c.cluster_id
         |  FROM q LEFT JOIN clusters c USING (doc_id))
         |SELECT doc_id, quality_score, cluster_id, 'UNIQUE' AS keep_reason
         |FROM j WHERE cluster_id IS NULL
         |UNION ALL
         |SELECT doc_id, quality_score, cluster_id, 'BEST_OF_CLUSTER' AS keep_reason
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
         |    ORDER BY quality_score DESC, doc_id) AS rn
         |  FROM j WHERE cluster_id IS NOT NULL)
         |WHERE rn = 1""".stripMargin)),

    // END-TO-END curation pipeline: the proven stages CHAINED with
    // first-match staged drop reasons over EVERY input doc — the
    // operational "run my whole corpus cleanup" shape. Stage order:
    // canonical exact-dup (min-id keeps) -> quality gate (the
    // doc_quality_gate rules) -> near-dup best-of-cluster over the
    // SURVIVORS (dedup never wastes pairs on already-dropped docs) ->
    // greedy token-budget cut (quality desc). Output = audit + filter
    // in one: (doc, tokens, quality, drop_stage|NULL, is_kept).
    Query("corpus_curation_pipeline", ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val norm = lower(regexp_replace(trim(col("text")),
        "[ \\t\\n\\r\\f\\x0B]+", " "))
      val canon = docs.select(col("doc_id"), norm.as("__norm"))
      val keepers = canon.groupBy(col("__norm"))
        .agg(min(col("doc_id")).as("__keep_id"))
      val s1 = canon.join(keepers, "__norm")
        .select(col("doc_id"), (col("doc_id") =!= col("__keep_id")).as("__exact_dup"))
      val staged = textStats(s, d)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .join(s1, "doc_id")
        .withColumn("__q", when(col("n_tokens") < 5, "TOO_SHORT")
          .when(col("n_tokens") > 100000, "TOO_LONG")
          .when(col("punct_ratio") > 0.3, "HIGH_PUNCT")
          .when(col("avg_token_len") < 2.0 || col("avg_token_len") > 12.0,
            "BAD_TOKEN_LEN")
          .when(col("lang") === "en" && col("n_tokens") >= 50 &&
            col("stopword_ratio") < 0.01, "NO_STOPWORDS")
          .otherwise(lit(null).cast("string")))
        .ckptPartitioned() // consumed by the dedup stage AND final assembly
      val surv12 = staged.filter(!col("__exact_dup") && col("__q").isNull)
      val clusters = TextDedup.connectedComponents(
        TextDedup.jaccardPairs(docs.join(surv12.select("doc_id"), "doc_id"),
          "doc_id", "text"), "doc_a", "doc_b")
      val j = surv12.select(col("doc_id"), col("quality_score"))
        .join(clusters, Seq("doc_id"), "left")
        .ckptPartitioned()
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("quality_score").desc, col("doc_id"))
      val nearKeep = j.filter(col("cluster_id").isNull).select("doc_id")
        .unionByName(j.filter(col("cluster_id").isNotNull)
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select("doc_id"))
      val surv123 = surv12.select(col("doc_id"), col("quality_score"),
          col("n_tokens"))
        .join(nearKeep, "doc_id")
      val inBudget = Sampling.tokenBudget(surv123, "doc_id", "quality_score",
          "n_tokens", budget = 50000L)
        .select(col("doc_id"), lit(true).as("__in_budget"))
      staged
        .join(nearKeep.withColumn("__near_keep", lit(true)), Seq("doc_id"), "left")
        .join(inBudget, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("quality_score"),
          when(col("__exact_dup"), "EXACT_DUP")
            .when(col("__q").isNotNull, col("__q"))
            .when(col("__near_keep").isNull, "NEAR_DUP")
            .when(col("__in_budget").isNull, "OVER_BUDGET")
            .otherwise(lit(null).cast("string")).as("drop_stage"))
        .withColumn("is_kept", col("drop_stage").isNull)
    }),
      // The chained pipeline replayed stage-for-stage: canonical
      // keepers, the gate CASE, the recursive cluster CTEs over the
      // stage-1/2 survivor relation, best-of-cluster, cumulative
      // budget window — first-match CASE at the end.
      Sql(s"""WITH RECURSIVE canon AS (
         |  SELECT doc_id,
         |    lower(regexp_replace(trim(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS norm
         |  FROM documents),
         |kp AS (SELECT norm, MIN(doc_id) AS keep_id FROM canon GROUP BY 1),
         |s1 AS (SELECT c.doc_id, c.doc_id <> k.keep_id AS exact_dup
         |       FROM canon c JOIN kp k USING (norm)),
         |st AS (SELECT * FROM ($textStatsSql)),
         |staged AS (
         |  SELECT st.doc_id, st.n_tokens, st.quality_score, s1.exact_dup,
         |    CASE WHEN st.n_tokens < 5 THEN 'TOO_SHORT'
         |         WHEN st.n_tokens > 100000 THEN 'TOO_LONG'
         |         WHEN st.punct_ratio > 0.3 THEN 'HIGH_PUNCT'
         |         WHEN st.avg_token_len < 2.0 OR st.avg_token_len > 12.0 THEN 'BAD_TOKEN_LEN'
         |         WHEN d.lang = 'en' AND st.n_tokens >= 50 AND st.stopword_ratio < 0.01 THEN 'NO_STOPWORDS'
         |         ELSE NULL END AS q
         |  FROM st JOIN documents d USING (doc_id) JOIN s1 USING (doc_id)),
         |surv12 AS (
         |  SELECT d.doc_id, d.text FROM documents d JOIN staged sg USING (doc_id)
         |  WHERE NOT sg.exact_dup AND sg.q IS NULL),
         |${clusterCtesFor("surv12")},
         |jq AS (
         |  SELECT sg.doc_id, sg.quality_score, c.cluster_id
         |  FROM staged sg JOIN surv12 USING (doc_id)
         |  LEFT JOIN clusters c USING (doc_id)),
         |nearkeep AS (
         |  SELECT doc_id FROM jq WHERE cluster_id IS NULL
         |  UNION ALL
         |  SELECT doc_id FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY cluster_id
         |      ORDER BY quality_score DESC, doc_id) AS rn
         |    FROM jq WHERE cluster_id IS NOT NULL) WHERE rn = 1),
         |surv123 AS (
         |  SELECT sg.doc_id, sg.quality_score, sg.n_tokens
         |  FROM staged sg JOIN nearkeep USING (doc_id)),
         |budget AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |    FROM surv123) WHERE cum <= 50000)
         |SELECT sg.doc_id, sg.n_tokens, sg.quality_score,
         |  CASE WHEN sg.exact_dup THEN 'EXACT_DUP'
         |       WHEN sg.q IS NOT NULL THEN sg.q
         |       WHEN nk.doc_id IS NULL THEN 'NEAR_DUP'
         |       WHEN b.doc_id IS NULL THEN 'OVER_BUDGET'
         |       ELSE NULL END AS drop_stage,
         |  CASE WHEN sg.exact_dup THEN 'EXACT_DUP'
         |       WHEN sg.q IS NOT NULL THEN sg.q
         |       WHEN nk.doc_id IS NULL THEN 'NEAR_DUP'
         |       WHEN b.doc_id IS NULL THEN 'OVER_BUDGET'
         |       ELSE NULL END IS NULL AS is_kept
         |FROM staged sg
         |LEFT JOIN nearkeep nk USING (doc_id)
         |LEFT JOIN budget b USING (doc_id)""".stripMargin)),

    Query("dedup_minhash_lsh", ((s: SparkSession, d: String) =>
      TextDedup.minhashLsh(t(s, d, "documents"), "doc_id", "text")),
      Sql(minhashLshOracleSql(0.5))),

    // Recall panel of the approximate dedup tiers vs the exact
    // prefix-filter truth — "measure, don't guess" for banding
    // parameters; oracle-checked since r14 (both tiers ride
    // md5-register hashes, so the panel composes three SQL relations).
    Query("dedup_recall_eval", ((s: SparkSession, d: String) =>
      TextDedup.dedupRecallEval(t(s, d, "documents"), "doc_id", "text")),
      Sql(dedupRecallEvalOracleSql(toksSql, shinglesSql))),

    Query("dedup_simhash", ((s: SparkSession, d: String) =>
      TextDedup.simhashPairs(t(s, d, "documents"), "doc_id", "text")),
      Sql(simhashOracleSql(8))),

    // Document quality gate (Gopher-style corpus filter rules as a
    // first-match reason-coded pass — the documents twin of the
    // events QualityGate): length band, symbol-to-text ratio, mean
    // token length band, stopword floor for long English text. One
    // codegen'd scan, no shuffle.
    Query("doc_quality_gate", ((s: SparkSession, d: String) => {
      val txt = col("text")
      val toks = TextOps.tokens(txt)
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(toks).as("n_tokens"),
          (TextOps.punctCount(txt) / greatest(length(txt), lit(1))).as("punct_ratio"),
          (TextOps.stopwordCountEn(toks) / greatest(size(toks), lit(1)))
            .as("stopword_ratio"),
          (aggregate(toks, lit(0), (a, x) => a + length(x)) / greatest(size(toks), lit(1)))
            .as("avg_token_len"))
        .withColumn("reason_code",
          when(col("n_tokens") < 5, "TOO_SHORT")
            .when(col("n_tokens") > 100000, "TOO_LONG")
            .when(col("punct_ratio") > 0.3, "HIGH_PUNCT")
            .when(col("avg_token_len") < 2.0 || col("avg_token_len") > 12.0,
              "BAD_TOKEN_LEN")
            .when(col("lang") === "en" && col("n_tokens") >= 50 &&
              col("stopword_ratio") < 0.01, "NO_STOPWORDS")
            .otherwise(lit(null).cast("string")))
        .withColumn("is_valid", col("reason_code").isNull)
    }),
      Sql(s"""SELECT *, reason_code IS NULL AS is_valid FROM (
         |  SELECT *,
         |    CASE WHEN n_tokens < 5 THEN 'TOO_SHORT'
         |         WHEN n_tokens > 100000 THEN 'TOO_LONG'
         |         WHEN punct_ratio > 0.3 THEN 'HIGH_PUNCT'
         |         WHEN avg_token_len < 2.0 OR avg_token_len > 12.0 THEN 'BAD_TOKEN_LEN'
         |         WHEN lang = 'en' AND n_tokens >= 50 AND stopword_ratio < 0.01 THEN 'NO_STOPWORDS'
         |         ELSE NULL END AS reason_code
         |  FROM (
         |    SELECT doc_id, lang,
         |      len(t) AS n_tokens,
         |      (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))) / greatest(length(text), 1) AS punct_ratio,
         |      len(list_filter(t, x -> x IN ${TextOps.stopListSql("en")})) / greatest(len(t), 1) AS stopword_ratio,
         |      list_sum(list_transform(t, x -> length(x))) / greatest(len(t), 1) AS avg_token_len
         |    FROM (SELECT doc_id, lang, text, $toksSql AS t FROM documents)))""".stripMargin)),

    // PII-style scrubbing: emails and long digit runs masked with
    // typed placeholders, with per-doc match counts for the run log.
    // Patterns restricted to the Java-regex/RE2 common subset so any
    // engine replays the exact redaction. n_long_numbers counts runs
    // in the EMAIL-MASKED text (same pass order as the replacement),
    // so the counts reconcile exactly with the <NUM> markers emitted
    // — a digit run inside an email is one email redaction, not a
    // phantom unredacted number.
    // NFC unicode normalization — the first move of a text-cleanup
    // pipeline (composed vs decomposed accents render identically but
    // hash differently, silently splitting dedup groups); a native
    // codegen'd kernel because Spark has no builtin and a UDF would
    // break whole-stage codegen on the hottest preprocessing path.
    Query("text_normalize", ((s: SparkSession, d: String) =>
      t(s, d, "documents").select(col("doc_id"),
        graft.expressions.Kernels.unicodeNormalize(col("text")).as("text_nfc"),
        (graft.expressions.Kernels.unicodeNormalize(col("text"))
          =!= col("text")).as("changed"))),
      Sql("""SELECT doc_id, nfc_normalize(text) AS text_nfc,
        |  nfc_normalize(text) <> text AS changed
        |FROM documents""".stripMargin)),

    Query("text_redact", ((s: SparkSession, d: String) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val numRe = "[0-9]{6,}"
      val txt = col("text")
      t(s, d, "documents")
        .withColumn("__graft_email_masked", regexp_replace(txt, emailRe, "<EMAIL>"))
        .select(
          col("doc_id"),
          size(regexp_extract_all(txt, lit(emailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("__graft_email_masked"), lit(numRe), lit(0)))
            .as("n_long_numbers"),
          regexp_replace(col("__graft_email_masked"), numRe, "<NUM>")
            .as("text_redacted"))
    }),
      Sql("""SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(masked, '[0-9]{6,}')) AS n_long_numbers,
        |  regexp_replace(masked, '[0-9]{6,}', '<NUM>', 'g') AS text_redacted
        |FROM (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS masked
        |  FROM documents)""".stripMargin)),

    Query("text_stats", textStats _, Sql(textStatsSql)),

    Query("text_lang_id", textLangId _, Sql(langIdSql)),

    // Label-vs-detector language agreement: where the declared lang
    // column and the n-gram detector disagree, one of them is wrong —
    // either way that slice needs curation attention.
    Query("lang_confusion", ((s: SparkSession, d: String) => {
      val c = textLangId(s, d)
        .groupBy(col("lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n_docs"))
      val tot = c.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_label"))
      c.join(tot, "lang")
        .select(col("lang"), col("predicted_lang"), col("n_docs"), col("n_label"),
          (col("n_docs") / col("n_label")).as("share_of_label"),
          (col("lang") === col("predicted_lang")).as("is_match"))
    }),
      // Label-vs-detector agreement audit on top of the same lang-id
      // expression; shares are RAW quotients of the label's total.
      Sql(s"""WITH p AS ($langIdSql),
         |c AS (SELECT lang, predicted_lang, COUNT(*) AS n_docs
         |      FROM p GROUP BY 1, 2),
         |t AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_label
         |      FROM c GROUP BY 1)
         |SELECT c.lang, c.predicted_lang, c.n_docs, t.n_label,
         |  c.n_docs / t.n_label AS share_of_label,
         |  c.lang = c.predicted_lang AS is_match
         |FROM c JOIN t USING (lang)""".stripMargin)),

    Query("text_fingerprint", textFingerprint _, Sql(textFingerprintOracleSql)),

    // Gopher-style repetition signal over adjacent token bigrams.
    Query("doc_repetition_stats", ((s: SparkSession, d: String) =>
      CorpusQc.repetitionStats(t(s, d, "documents"), "doc_id", "text")),
      Sql(s"""WITH base AS (
         |  SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens, t
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
         |grams AS (
         |  SELECT doc_id,
         |    UNNEST(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS g
         |  FROM base WHERE n_tokens >= 2),
         |gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, MAX(c) AS maxc, CAST(SUM(c) AS BIGINT) AS tot,
         |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dupc,
         |    COUNT(*) AS n_distinct
         |  FROM gc GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |  COALESCE(tot, 0) AS n_bigrams,
         |  COALESCE(n_distinct, 0) AS n_distinct_bigrams,
         |  COALESCE(maxc / tot, 0.0) AS top_bigram_frac,
         |  COALESCE(dupc / tot, 0.0) AS dup_bigram_frac,
         |  (COALESCE(maxc / tot, 0.0) > 0.1 OR COALESCE(dupc / tot, 0.0) > 0.2)
         |    AS is_repetitive
         |FROM base LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // Log-free character-diversity panel: Simpson index 1 - Σp² from
    // pure integer partials + one IEEE division per output.
    Query("text_char_diversity", ((s: SparkSession, d: String) =>
      CorpusQc.charDiversity(t(s, d, "documents"), "doc_id", "text")),
      // Integer-exact Simpson diversity: Σc², n and max(c) are exact
      // counts, each output exactly one double division.
      Sql("""WITH pc AS (
        |  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |        FROM documents WHERE text IS NOT NULL AND length(text) > 0)
        |  WHERE ch <> '' GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(cnt) AS BIGINT) AS n_chars_counted,
        |  CAST(COUNT(*) AS BIGINT) AS distinct_chars,
        |  1.0 - SUM(cnt * cnt) / CAST(SUM(cnt) * SUM(cnt) AS DOUBLE) AS simpson_diversity,
        |  MAX(cnt) / CAST(SUM(cnt) AS DOUBLE) AS top_char_share
        |FROM pc GROUP BY 1""".stripMargin)),

    // Context-aware novelty: unseen-bigram counts + MLE continuation
    // shares — the log-free perplexity stand-in (see bigramNovelty).
    Query("doc_bigram_novelty", ((s: SparkSession, d: String) =>
      CorpusQc.bigramNovelty(t(s, d, "documents"), "doc_id", "text")),
      Sql(s"""WITH bigs AS (
         |  SELECT doc_id,
         |    UNNEST(list_transform(range(1, len(t)), i -> t[i])) AS pre,
         |    UNNEST(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS big
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)
         |  WHERE len(t) >= 2),
         |pd AS (SELECT doc_id, pre, big, COUNT(*) AS cnt_doc FROM bigs GROUP BY 1, 2, 3),
         |cb AS (SELECT big, CAST(SUM(cnt_doc) AS BIGINT) AS cnt_big FROM pd GROUP BY 1),
         |cp AS (SELECT pre, COUNT(*) AS cnt_pre FROM bigs GROUP BY 1)
         |SELECT pd.doc_id,
         |  CAST(SUM(cnt_doc) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(CASE WHEN cnt_big = cnt_doc THEN cnt_doc ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(SUM(CAST(FLOOR(CAST(cnt_doc AS DOUBLE)
         |      * (CAST(cnt_big AS DOUBLE) / CAST(cnt_pre AS DOUBLE)) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
         |    / CAST(SUM(cnt_doc) AS BIGINT) AS mean_continuation_share
         |FROM pd JOIN cb USING (big) JOIN cp USING (pre)
         |GROUP BY 1""".stripMargin)),

    // Benchmark decontamination sweep: the held-out slice is every
    // tenth document (doc_id % 10 == 7) standing in for an eval set.
    Query("decontaminate_overlap", ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      CorpusQc.contaminationPairs(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", n = 8, minShared = 5)
    }),
      // The oracle joins on the 8-gram STRING where the Spark plan
      // joins on its xxhash64 (the same key substitution the
      // dedup_ngram_jaccard oracle already replays); the short-doc
      // whole-text fallback mirrors the shingle kernel.
      Sql(s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |grams AS (
         |  SELECT doc_id, UNNEST(
         |    CASE WHEN len(t) >= 8
         |         THEN list_distinct(list_transform(range(1, len(t) - 6),
         |              i -> array_to_string(list_slice(t, i, i + 7), ' ')))
         |         ELSE [array_to_string(t, ' ')] END) AS g
         |  FROM toks),
         |stop AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1000),
         |kept AS (SELECT doc_id, g FROM grams ANTI JOIN stop USING (g)),
         |tr AS (SELECT doc_id AS train_id, g FROM kept WHERE doc_id % 10 <> 7),
         |ev AS (SELECT doc_id AS eval_id, g FROM kept WHERE doc_id % 10 = 7),
         |ts AS (SELECT train_id, COUNT(*) AS train_ngrams FROM tr GROUP BY 1),
         |p AS (
         |  SELECT train_id, eval_id, COUNT(*) AS n_shared
         |  FROM tr JOIN ev USING (g) GROUP BY 1, 2)
         |SELECT train_id, eval_id, n_shared, train_ngrams,
         |  n_shared / train_ngrams AS contamination_frac
         |FROM p JOIN ts USING (train_id)
         |WHERE n_shared >= 5""".stripMargin)),

    // MinHash-banded decontamination — the broadcast-eval scale path
    // of decontaminate_overlap (md5-register signatures since r14 —
    // oracle-checked; the threshold is low because banding bounds
    // RECALL, and the exact verify step keeps precision).
    Query("decontaminate_minhash", ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      CorpusQc.decontaminateMinhash(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", n = 8, threshold = 0.2)
    }),
      Sql(decontaminateMinhashOracleSql(0.2))),

    // Unigram-LM familiarity: mean corpus-frequency share per doc.
    Query("text_freq_familiarity", ((s: SparkSession, d: String) =>
      CorpusQc.freqFamiliarity(t(s, d, "documents"), "doc_id", "text")),
      // Integer partials, two final divisions — bit-replayable.
      Sql(s"""WITH tk AS (
         |  SELECT doc_id, UNNEST(t) AS tok
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
         |freq AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq),
         |per AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |    CAST(SUM(cnt) AS BIGINT) AS sum_cnt, MIN(cnt) AS min_cnt
         |  FROM tk JOIN freq USING (tok) GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |  sum_cnt / n_tokens / total AS mean_token_share,
         |  min_cnt / total AS min_token_share
         |FROM per, tot""".stripMargin)),

    // Unigram-LM cross-entropy per doc (add-one smoothing; the log
    // rides a quantized per-type panel, never row data — see
    // CorpusQc.unigramSurprisal for the ulp-risk bound).
    Query("text_surprisal", ((s: SparkSession, d: String) =>
      CorpusQc.unigramSurprisal(t(s, d, "documents"), "doc_id", "text")),
      // ln() only ever touches the per-type vocab panel, floored to
      // the 1e-4 grid (engine-ulp-safe); tf·lq re-floors to 1e-6
      // before the decimal cast, matching the Spark side op-for-op.
      Sql(s"""WITH tk AS (
         |  SELECT doc_id, UNNEST(t) AS tok
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
         |vocab AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS v FROM vocab),
         |lp AS (
         |  SELECT tok,
         |    floor(ln(CAST(cnt + 1 AS DOUBLE) / CAST(n + v AS DOUBLE)) * 1e4) / 1e4 AS lq
         |  FROM vocab, tot),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
         |s AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |    SUM(CAST(floor(CAST(tf AS DOUBLE) * lq * 1e6) / 1e6 AS DECIMAL(28,6))) AS slp
         |  FROM tf JOIN lp USING (tok) GROUP BY 1)
         |SELECT doc_id, n_tokens, CAST(slp AS DOUBLE) AS sum_logp,
         |  (-CAST(slp AS DOUBLE)) / n_tokens AS nats_per_token
         |FROM s""".stripMargin)),

    // Pairwise JS divergence between source unigram distributions:
    // one token join; single-source mass folds into ln2*(1-coverage).
    Query("text_js_sources", ((s: SparkSession, d: String) =>
      CorpusQc.jsBySource(t(s, d, "documents"), "source", "text")),
      // CorpusQc.jsBySource mirrored: (source, token) counts, the
      // token self-join with source_a < source_b, the integer-product
      // ln argument, gridded terms, ln2*(1-coverage) closure.
      Sql(s"""WITH tk AS (
         |  SELECT source AS src, UNNEST(t) AS tok
         |  FROM (SELECT source, $toksSql AS t FROM documents
         |        WHERE source IS NOT NULL AND text IS NOT NULL)),
         |cnt AS (
         |  SELECT src, tok, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM tk WHERE tok <> '' GROUP BY 1, 2),
         |tt AS (SELECT src, CAST(SUM(n) AS BIGINT) AS nt FROM cnt GROUP BY 1),
         |j AS (
         |  SELECT a.src AS source_a, b.src AS source_b,
         |    a.n AS na, b.n AS nb, ta.nt AS ta, tb.nt AS tb
         |  FROM cnt a JOIN cnt b ON a.tok = b.tok AND a.src < b.src
         |  JOIN tt ta ON ta.src = a.src JOIN tt tb ON tb.src = b.src),
         |tm AS (
         |  SELECT source_a, source_b, na, nb, ta, tb,
         |    CAST(na AS DOUBLE) * CAST(tb AS DOUBLE) AS c1,
         |    CAST(nb AS DOUBLE) * CAST(ta AS DOUBLE) AS c2
         |  FROM j),
         |ag AS (
         |  SELECT source_a, source_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_tokens_common,
         |    CAST(SUM(na) AS BIGINT) AS ca, CAST(SUM(nb) AS BIGINT) AS cb,
         |    MAX(ta) AS ta, MAX(tb) AS tb,
         |    SUM(CAST(FLOOR(CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
         |      * ln(2.0 * c1 / (c1 + c2)) * 1e6) / 1e6 AS DECIMAL(28,6))) AS sa,
         |    SUM(CAST(FLOOR(CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)
         |      * ln(2.0 * c2 / (c1 + c2)) * 1e6) / 1e6 AS DECIMAL(28,6))) AS sb
         |  FROM tm GROUP BY 1, 2)
         |SELECT source_a, source_b, n_tokens_common,
         |  0.5 * (CAST(sa AS DOUBLE)
         |      + 0.6931471805599453 * (1.0 - CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)))
         |  + 0.5 * (CAST(sb AS DOUBLE)
         |      + 0.6931471805599453 * (1.0 - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))) AS js_div
         |FROM ag""".stripMargin)),

    // Laplace-smoothed bigram-LM cross-entropy (CCNet-style quality
    // score) — the context-aware tier above text_surprisal.
    Query("text_bigram_lm", ((s: SparkSession, d: String) =>
      CorpusQc.bigramLmScore(t(s, d, "documents"), "doc_id", "text")),
      // Laplace-smoothed bigram LM: same quantization ladder as
      // text_surprisal (1e-4 ln grid, 1e-6 term grid, DECIMAL(28,6)
      // partials, one division at the edge).
      Sql(s"""WITH tk AS (
         |  SELECT doc_id, t, CAST(len(t) AS INTEGER) AS n
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
         |vocab AS (
         |  SELECT COUNT(DISTINCT tok) AS v
         |  FROM (SELECT UNNEST(t) AS tok FROM tk)),
         |bigs AS (
         |  SELECT doc_id, t[i] AS pre, t[i] || ' ' || t[i + 1] AS big
         |  FROM tk, UNNEST(range(1, n)) AS r(i)
         |  WHERE n >= 2),
         |cbig AS (SELECT pre, big, COUNT(*) AS cbig FROM bigs GROUP BY 1, 2),
         |cpre AS (SELECT pre, COUNT(*) AS cpre FROM bigs GROUP BY 1),
         |lp AS (
         |  SELECT big,
         |    floor(ln(CAST(cbig + 1 AS DOUBLE) / CAST(cpre + v AS DOUBLE)) * 1e4) / 1e4 AS lq
         |  FROM cbig JOIN cpre USING (pre), vocab),
         |tf AS (SELECT doc_id, big, COUNT(*) AS tf FROM bigs GROUP BY 1, 2),
         |s AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         |    SUM(CAST(floor(CAST(tf AS DOUBLE) * lq * 1e6) / 1e6 AS DECIMAL(28,6))) AS slp
         |  FROM tf JOIN lp USING (big) GROUP BY 1)
         |SELECT doc_id, n_bigrams, CAST(slp AS DOUBLE) AS sum_logp,
         |  (-CAST(slp AS DOUBLE)) / n_bigrams AS nats_per_bigram
         |FROM s""".stripMargin)),

    // 64-token chunks, 16-token overlap (stride 48).
    Query("doc_chunks", ((s: SparkSession, d: String) =>
      CorpusQc.chunkTokens(t(s, d, "documents"), "doc_id", "text",
        chunkSize = 64, overlap = 16)),
      // 64-token chunks, stride 48; a start inside the previous
      // chunk's overlap tail (s >= n - 16) is not emitted.
      Sql(s"""WITH base AS (
         |  SELECT doc_id, t, CAST(len(t) AS INTEGER) AS n
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)
         |  WHERE len(t) > 0),
         |st AS (SELECT doc_id, t, n, UNNEST(range(0, greatest(n - 16, 1), 48)) AS s
         |       FROM base)
         |SELECT doc_id,
         |  CAST(s // 48 AS INTEGER) AS chunk_seq,
         |  CAST(s AS INTEGER) AS chunk_start,
         |  CAST(LEAST(64, n - s) AS INTEGER) AS n_chunk_tokens,
         |  array_to_string(list_slice(t, s + 1, s + 64), ' ') AS chunk_text
         |FROM st""".stripMargin)),

    // DEFLATE compression ratio per document (the Gopher-style
    // redundancy gate): JDK Deflater via batched mapPartitions — the
    // JVM-codec boundary, rows-only by the §5.1 binary rule.
    Query("doc_compression_ratio", ((s: SparkSession, d: String) =>
      CorpusQc.compressionRatio(t(s, d, "documents"), "doc_id", "text")),
      RowsOnly("binary: JDK Deflater output bytes have no SQL replay",
        pinnedBy = "CorpusQcSpec")),

    // Rank-ensemble quality calibration: per-source percentile ranks
    // of three incomparable signals, ensembled as their mean — the
    // scale-free "good for its source" score.
    Query("doc_quality_ensemble", ((s: SparkSession, d: String) =>
      CorpusQc.qualityEnsemble(
        textStats(s, d)
          .join(t(s, d, "documents").select(col("doc_id"), col("source")), "doc_id"),
        "doc_id", "source", Seq("quality_score", "n_tokens", "avg_token_len"))),
      // Percentile calibration: integer rank/count windows, one IEEE
      // division each, fixed left-assoc ensemble sum — replays the
      // Spark expression tree op-for-op. Single-row sources pin 0.0.
      Sql(s"""WITH st AS (SELECT * FROM ($textStatsSql)),
         |j AS (SELECT st.doc_id, d.source, st.quality_score, st.n_tokens, st.avg_token_len
         |      FROM st JOIN documents d USING (doc_id)),
         |r AS (
         |  SELECT doc_id, source,
         |    CASE WHEN COUNT(*) OVER (PARTITION BY source) > 1
         |      THEN CAST(RANK() OVER (PARTITION BY source ORDER BY quality_score) - 1 AS DOUBLE)
         |           / (COUNT(*) OVER (PARTITION BY source) - 1) ELSE 0.0 END AS pct_quality_score,
         |    CASE WHEN COUNT(*) OVER (PARTITION BY source) > 1
         |      THEN CAST(RANK() OVER (PARTITION BY source ORDER BY n_tokens) - 1 AS DOUBLE)
         |           / (COUNT(*) OVER (PARTITION BY source) - 1) ELSE 0.0 END AS pct_n_tokens,
         |    CASE WHEN COUNT(*) OVER (PARTITION BY source) > 1
         |      THEN CAST(RANK() OVER (PARTITION BY source ORDER BY avg_token_len) - 1 AS DOUBLE)
         |           / (COUNT(*) OVER (PARTITION BY source) - 1) ELSE 0.0 END AS pct_avg_token_len
         |  FROM j)
         |SELECT doc_id, source, pct_quality_score, pct_n_tokens, pct_avg_token_len,
         |  (pct_quality_score + pct_n_tokens + pct_avg_token_len) / 3 AS quality_ensemble
         |FROM r""".stripMargin)),

    // Unicode-script distribution panel: explicit codepoint-range
    // classes (dialect-identical Java/RE2), residual, and dominant
    // letter script by fixed precedence.
    Query("text_script_profile", ((s: SparkSession, d: String) =>
      CorpusQc.scriptProfile(t(s, d, "documents"), "doc_id", "text")),
      // Explicit codepoint-range classes — each identical under Java
      // regex and RE2 (the dialect rule); counts via length diffs.
      Sql(s"""WITH c AS (
         |  SELECT doc_id, length(text) AS n_chars_calc,
         |    length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_latin,
         |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         |    length(text) - length(regexp_replace(text, '[ \\t\\n\\r\\f]', '', 'g')) AS n_space,
         |    length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS n_punct,
         |    length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS n_cjk,
         |    length(text) - length(regexp_replace(text, '[\\x{0400}-\\x{04ff}]', '', 'g')) AS n_cyrillic
         |  FROM documents)
         |SELECT doc_id, n_chars_calc, n_latin, n_digit, n_space, n_punct, n_cjk, n_cyrillic,
         |  n_chars_calc - n_latin - n_digit - n_space - n_punct - n_cjk - n_cyrillic AS n_other,
         |  CASE WHEN n_latin >= n_cjk AND n_latin >= n_cyrillic AND n_latin > 0 THEN 'latin'
         |       WHEN n_cjk >= n_cyrillic AND n_cjk > 0 THEN 'cjk'
         |       WHEN n_cyrillic > 0 THEN 'cyrillic'
         |       ELSE 'none' END AS dominant_script
         |FROM c""".stripMargin)),

    // PII-signal panel: email/IPv4/long-digit-run/URL match counts +
    // the curation gate flag (measurement twin of text_redact).
    Query("pii_profile", ((s: SparkSession, d: String) =>
      CorpusQc.piiProfile(t(s, d, "documents"), "doc_id", "text")),
      // Lookaround-free patterns; both engines count leftmost
      // non-overlapping matches, so the panels replay exactly.
      Sql(s"""WITH c AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
         |    len(regexp_extract_all(text, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS n_ipv4,
         |    len(regexp_extract_all(text, '[0-9]{8,}')) AS n_digit_runs,
         |    len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_urls
         |  FROM documents)
         |SELECT doc_id, n_emails, n_ipv4, n_digit_runs, n_urls,
         |  n_emails + n_ipv4 + n_digit_runs > 0 AS has_pii
         |FROM c""".stripMargin)),

    // BM25 top-k lexical retrieval against a fixed query term set —
    // seed-set expansion; ln only on the idf panel (1e-4 floor), term
    // scores 1e-6-floored before the decimal sum, cut by TakeOrdered.
    Query("text_bm25_topk", ((s: SparkSession, d: String) =>
      CorpusQc.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        Seq("spark", "join", "window"), topK = 25)),
      // BM25: ln only on the ≤3-row idf panel (1e-4 floor); constants
      // and operator order replay CorpusQc.bm25TopK term for term.
      Sql(s"""WITH tk AS (
         |  SELECT doc_id, UNNEST(t) AS tok
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
         |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS n_total FROM dl),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM tk WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2),
         |idf AS (
         |  SELECT tok,
         |    floor(ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0) * 1e4) / 1e4 AS idf
         |  FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), st),
         |av AS (SELECT CAST(n_total AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM st),
         |ts AS (
         |  SELECT tf.doc_id,
         |    floor(idf * (CAST(tf AS DOUBLE) * 2.2) /
         |      (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))) * 1e6) / 1e6 AS term_score
         |  FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id), av),
         |s AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
         |    SUM(CAST(term_score AS DECIMAL(28,6))) AS sd
         |  FROM ts GROUP BY 1)
         |SELECT doc_id, n_terms_hit, CAST(sd AS DOUBLE) AS bm25_score
         |FROM s ORDER BY bm25_score DESC, doc_id LIMIT 25""".stripMargin)),

    // Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25
    // lexical top-25 with the exact-cosine semantic top-25 anchored
    // on doc 0's embedding — the calibration-free fusion a hybrid
    // search stack serves.
    Query("search_hybrid_rrf", ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val lex = CorpusQc.bm25TopK(docs, "doc_id", "text",
          Seq("spark", "join", "window"), topK = 25)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25_score").desc, col("doc_id"))))
      val emb = t(s, d, "embeddings").join(
        docs.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      val sem = Ann.cosineTopK(emb, "vec_id", "embedding", nQueries = 1, k = 25)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      CorpusQc.rrfFuse(lex, sem, "doc_id", kConst = 60, topK = 10)
    }),
      // CorpusQc.rrfFuse over the two replayed retrievers: the bm25
      // CTE chain verbatim (rank over its top-25), the cosine fold
      // restricted to doc-id vectors with vec 0 as the query, fused
      // as 1/(60+rank) sums in fixed coalesce order.
      Sql(s"""WITH tk AS (
         |  SELECT doc_id, UNNEST(t) AS tok
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
         |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS n_total FROM dl),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM tk WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2),
         |idf AS (
         |  SELECT tok,
         |    floor(ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0) * 1e4) / 1e4 AS idf
         |  FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), st),
         |av AS (SELECT CAST(n_total AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM st),
         |ts AS (
         |  SELECT tf.doc_id,
         |    floor(idf * (CAST(tf AS DOUBLE) * 2.2) /
         |      (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))) * 1e6) / 1e6 AS term_score
         |  FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id), av),
         |bm AS (
         |  SELECT doc_id, CAST(SUM(CAST(term_score AS DECIMAL(28,6))) AS DOUBLE) AS bm25_score
         |  FROM ts GROUP BY 1 ORDER BY bm25_score DESC, doc_id LIMIT 25),
         |lex AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY bm25_score DESC, doc_id) AS rank_lex
         |  FROM bm),
         |base AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE vec_id IN (SELECT doc_id FROM documents)),
         |nv AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
         |  FROM base),
         |qv AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM nv WHERE vec_id < 1),
         |sc AS (
         |  SELECT nv.vec_id AS doc_id,
         |    list_reduce(list_prepend(0.0, list_transform(list_zip(nv.v, qv.qv), p -> p[1] * p[2])), (a, b) -> a + b)
         |      / (nv.nrm * qv.qnrm) AS cos_sim
         |  FROM nv CROSS JOIN qv WHERE nv.vec_id <> qv.q_id),
         |sem AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS rank_sem
         |  FROM sc ORDER BY cos_sim DESC, doc_id LIMIT 25),
         |fused AS (
         |  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.rank_lex, s.rank_sem,
         |    COALESCE(1.0 / CAST(60 + l.rank_lex AS DOUBLE), 0.0)
         |      + COALESCE(1.0 / CAST(60 + s.rank_sem AS DOUBLE), 0.0) AS rrf_score
         |  FROM lex l FULL OUTER JOIN sem s ON s.doc_id = l.doc_id)
         |SELECT doc_id,
         |  ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rank,
         |  rrf_score, rank_lex, rank_sem
         |FROM fused
         |QUALIFY rank <= 10""".stripMargin)),

    // Power-of-2 length histogram: bucket = bit length of the token
    // count (floor(log2)+1 with no libm), exact integer boundaries.
    Query("doc_length_histogram", ((s: SparkSession, d: String) =>
      CorpusQc.lengthHistogram(t(s, d, "documents"), "doc_id", "text")),
      // Bit-length bucketing: length(bin(n)) = floor(log2 n)+1 in
      // both engines; boundaries via integer shifts.
      Sql(s"""WITH n AS (SELECT CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |b AS (SELECT CAST(length(bin(n_tokens)) AS INT) AS bucket, n_tokens FROM n)
         |SELECT bucket, CAST(1 AS BIGINT) << (bucket - 1) AS bucket_lo,
         |  (CAST(1 AS BIGINT) << bucket) - 1 AS bucket_hi,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM b GROUP BY 1""".stripMargin)),

    // Deterministic training-order shuffle: md5-rank permutation
    // position + fixed-size shard assignment via the distributed
    // prefix sum (never a global ROW_NUMBER window; orderBy(rand())
    // is neither reproducible nor resumable).
    Query("corpus_shuffle", ((s: SparkSession, d: String) =>
      Sampling.corpusShuffle(t(s, d, "documents"), "doc_id", shardSize = 256)
        .select("doc_id", "shuffle_hash", "shuffle_pos", "shard", "shard_pos")),
      Sql("""WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_hash
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, shuffle_hash,
        |    CAST(ROW_NUMBER() OVER (ORDER BY shuffle_hash, doc_id) AS BIGINT) AS shuffle_pos
        |  FROM h)
        |SELECT doc_id, shuffle_hash, shuffle_pos,
        |  CAST(FLOOR((shuffle_pos - 1) / 256) AS BIGINT) AS shard,
        |  shuffle_pos - CAST(FLOOR((shuffle_pos - 1) / 256) AS BIGINT) * 256 AS shard_pos
        |FROM r""".stripMargin)),

    // Cross-doc repeated-span share: per doc, the fraction of its
    // distinct 10-token spans that appear in >= 1 other document —
    // the measurement behind exact-substring dedup (licenses,
    // templates, injected boilerplate).
    Query("dup_span_stats", ((s: SparkSession, d: String) =>
      CorpusQc.dupSpanStats(t(s, d, "documents"), "doc_id", "text")),
      // Span hashes replay as the span STRINGS (the same key
      // substitution as decontaminate_overlap/dedup_ngram_jaccard);
      // distinct-per-doc spans make span frequency == document
      // frequency on both engines.
      Sql(s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |spans AS (
         |  SELECT doc_id, UNNEST(
         |    CASE WHEN len(t) >= 10
         |         THEN list_distinct(list_transform(range(1, len(t) - 8),
         |              i -> array_to_string(list_slice(t, i, i + 9), ' ')))
         |         ELSE [array_to_string(t, ' ')] END) AS g
         |  FROM toks),
         |dfq AS (SELECT g, COUNT(*) AS df FROM spans GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_spans,
         |  COUNT(*) FILTER (WHERE df >= 2) AS n_dup_spans,
         |  COUNT(*) FILTER (WHERE df >= 2) / COUNT(*) AS dup_span_frac
         |FROM spans JOIN dfq USING (g) GROUP BY 1""".stripMargin)),

    // Exact-substring dedup (the acting step dup_span_stats measures):
    // every duplicated 10-token span is removed from all occurrences
    // but the globally first; docs are rebuilt from surviving tokens.
    Query("dedup_exact_substring", ((s: SparkSession, d: String) =>
      TextDedup.removeDupSpans(t(s, d, "documents"), "doc_id", "text")),
      // The span key replays as the span STRING (the dup_span_stats
      // substitution); first-occurrence = min (doc_id, pos) on both
      // engines, the rebuild joins surviving tokens by position.
      Sql(s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |spans AS (
         |  SELECT doc_id,
         |    UNNEST(range(1, len(t) - 8)) AS pos,
         |    UNNEST(list_transform(range(1, len(t) - 8),
         |      i -> array_to_string(list_slice(t, i, i + 9), ' '))) AS g
         |  FROM toks WHERE len(t) >= 10),
         |fr AS (
         |  SELECT doc_id, pos,
         |    COUNT(*) OVER (PARTITION BY g) AS cnt,
         |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
         |  FROM spans),
         |rm AS (SELECT doc_id, pos FROM fr WHERE cnt >= 2 AND rn > 1),
         |cov AS (SELECT DISTINCT doc_id, pos + o AS p
         |        FROM (SELECT doc_id, pos, UNNEST(range(0, 10)) AS o FROM rm)),
         |tokpos AS (
         |  SELECT doc_id, UNNEST(range(1, len(t) + 1)) AS p, UNNEST(t) AS w
         |  FROM toks),
         |kept AS (
         |  SELECT tp.doc_id, tp.p, tp.w
         |  FROM tokpos tp LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.p = c.p
         |  WHERE c.p IS NULL),
         |rebuilt AS (
         |  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens_kept,
         |    string_agg(w, ' ' ORDER BY p) AS text_clean
         |  FROM kept GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.t) AS INTEGER) AS n_tokens_orig,
         |  COALESCE(r.n_tokens_kept, 0) AS n_tokens_kept,
         |  COALESCE(r.text_clean, '') AS text_clean
         |FROM toks t LEFT JOIN rebuilt r USING (doc_id)""".stripMargin)),

    // Source-level quality gate: a whole source is kept/dropped on
    // its aggregate quality — domain filtering, the step per-doc
    // gates cannot express.
    Query("source_quality_gate", ((s: SparkSession, d: String) => {
      val q = textStats(s, d).select(col("doc_id"), col("quality_score"))
      val src = t(s, d, "documents").select(col("doc_id"), col("source"))
      CorpusQc.sourceQualityGate(src.join(q, "doc_id"), "source",
        "quality_score", minDocs = 10L, minMeanQuality = 0.5)
    }),
      // Mean quality via the centroid parity pattern: exact DECIMAL
      // sum -> one double division -> 6dp round, so the KEEP/DROP
      // verdict is engine-replayable.
      Sql(s"""WITH q AS (SELECT doc_id, quality_score FROM ($textStatsSql)),
         |j AS (SELECT d.source, q.quality_score
         |      FROM documents d JOIN q USING (doc_id)),
         |agg AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(28,12))) AS DOUBLE)
         |      / COUNT(*), 6) AS mean_quality
         |  FROM j GROUP BY 1)
         |SELECT source, n_docs, mean_quality,
         |  CASE WHEN n_docs >= 10 AND mean_quality >= 0.5
         |       THEN 'KEEP' ELSE 'DROP' END AS status
         |FROM agg""".stripMargin)),

    // First BPE merge-step pair counts over the corpus vocabulary
    // (tokenizer-training primitive; frequency-weighted).
    Query("bpe_pair_counts", ((s: SparkSession, d: String) =>
      CorpusQc.bpeTopPairs(t(s, d, "documents"), "text", topN = 20)),
      Sql(s"""WITH tk AS (
         |  SELECT UNNEST(t) AS tok FROM (SELECT $toksSql AS t FROM documents)),
         |wf AS (SELECT tok, COUNT(*) AS wf FROM tk GROUP BY 1),
         |cs AS (SELECT wf, regexp_extract_all(tok, '.') AS cs FROM wf),
         |p AS (
         |  SELECT wf, UNNEST(list_transform(range(1, len(cs)), i -> cs[i] || cs[i + 1])) AS pair
         |  FROM cs WHERE len(cs) >= 2)
         |SELECT pair, CAST(SUM(wf) AS BIGINT) AS n_occurrences
         |FROM p GROUP BY 1
         |ORDER BY n_occurrences DESC, pair
         |LIMIT 20""".stripMargin)),

    // Greedy BPE TRAINING: six merge rounds over the vocab relation —
    // the learned merge table a tokenizer ships.
    Query("bpe_train_merges", ((s: SparkSession, d: String) =>
      CorpusQc.bpeTrainMerges(t(s, d, "documents"), "text", rounds = 6)),
      // Frequency-weighted adjacent char pairs over the vocabulary;
      // deterministic top-N boundary (count DESC, pair ASC).
      // The training loop replayed as chained MATERIALIZED CTEs: per
      // round, zip-unnest adjacent symbol pairs, argmax with the
      // (count desc, pair asc) tie-break, ONE literal boundary-safe
      // replace over the padded double-space symbol encoding.
      Sql({
      val rounds = 6
      val out = (1 to rounds).map { r =>
        s"""SELECT $r AS round, l AS merge_left, r AS merge_right,
           |  l || r AS merged, cnt AS n_occurrences FROM b$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      bpeTrainCtes(toksSql, rounds) + "\n" + out
    })),

    // The merges applied back to the corpus: per-doc BPE symbol
    // counts (the packing-budget panel).
    Query("bpe_encode", ((s: SparkSession, d: String) =>
      CorpusQc.bpeEncode(t(s, d, "documents"), "doc_id", "text", rounds = 6)),
      // Training CTEs + the merges applied to every corpus token in
      // round order — per-doc symbol counts.
      Sql({
      val rounds = 6
      bpeTrainCtes(toksSql, rounds) + ",\n" + bpeApplyCtes(toksSql, rounds) +
        s"""
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           |  CAST(SUM(len(string_split(trim(sym), '  '))) AS BIGINT) AS n_symbols
           |FROM e$rounds GROUP BY 1""".stripMargin
    })),

    // Unigram-LM (SentencePiece-style) tokenizer TRAINING: substring
    // seed, two hard-EM rounds (unrolled Viterbi E-step, prune +
    // re-estimate M-step) — the shipped (piece, usage, log_prob) model.
    Query("unigram_train", ((s: SparkSession, d: String) =>
      CorpusQc.unigramTrain(t(s, d, "documents"), "text")),
      // Unigram-LM training replayed as the UnigramOracle CTE chain:
      // substring seed, two hard-EM rounds of unrolled Viterbi +
      // prune/re-estimate — the final (piece, n_used, log_prob) model.
      Sql((UnigramOracle.trainCtes(toksSql) +
        s"\nSELECT piece, n_used, log_prob FROM u${UnigramOracle.emRounds}v"))),

    // The unigram model applied back to the corpus: per-doc token and
    // piece counts (the bpe_encode twin for the pruning tokenizer).
    Query("unigram_encode", ((s: SparkSession, d: String) =>
      CorpusQc.unigramEncode(t(s, d, "documents"), "doc_id", "text")),
      // Training CTEs + one more Viterbi pass under the FINAL vocab,
      // joined back to the per-doc token relation — per-doc token and
      // piece counts.
      Sql((UnigramOracle.trainCtes(toksSql) + ",\n" +
        UnigramOracle.applyCtes(toksSql, "tokrel", "pc") +
        s"""
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           |  CAST(SUM(n_pieces) AS BIGINT) AS n_symbols
           |FROM tokrel JOIN pc USING (word) GROUP BY 1""".stripMargin))),

    // WordPiece TRAINING: six likelihood-scored merge rounds
    // (score = n_pair / (n_left * n_right) — frequent pairs of RARE
    // symbols win) — the third production tokenizer's merge table.
    Query("wordpiece_train", ((s: SparkSession, d: String) =>
      CorpusQc.wordpieceTrainMerges(t(s, d, "documents"), "text", rounds = 6)),
      // WordPiece training replayed as the WordpieceOracle chain: per
      // round symbol + pair frequencies, the likelihood-scored winner
      // (score DESC, pair ASC), one boundary-safe literal replace —
      // the learned merge table with its score evidence.
      Sql({
      val out = (1 to WordpieceOracle.rounds).map { r =>
        s"""SELECT $r AS round, l AS merge_left, r AS merge_right,
           |  l || r AS merged, np AS n_pair, nl AS n_left, nr AS n_right,
           |  score FROM wpb$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      WordpieceOracle.trainCtes(toksSql) + "\n" + out
    })),

    // WordPiece ENCODE: greedy longest-match-first against the
    // role-keyed vocabulary (initial pieces bare, continuations
    // ##-prefixed, char inventory in both roles) — per-doc token and
    // piece counts, the production WordPiece inference rule.
    Query("wordpiece_encode", ((s: SparkSession, d: String) =>
      CorpusQc.wordpieceEncode(t(s, d, "documents"), "doc_id", "text", rounds = 6)),
      // Training CTEs + the role-keyed vocab, longest-match table and
      // unrolled greedy walk — per-doc token and piece counts.
      Sql((WordpieceOracle.trainCtes(toksSql) + ",\n" +
        WordpieceOracle.applyCtes(toksSql) +
        s"""
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           |  CAST(SUM(n_pieces) AS BIGINT) AS n_symbols
           |FROM wptok JOIN wpgf USING (word) GROUP BY 1""".stripMargin))),

    // Tokenizer-selection panel: the same corpus through all THREE
    // production tokenizers, corpus-level compression side by side.
    Query("tokenizer_compare", ((s: SparkSession, d: String) =>
      CorpusQc.tokenizerCompare(t(s, d, "documents"), "doc_id", "text")),
      // Tokenizer-selection panel: the SAME corpus encoded by all
      // THREE production tokenizers (D60's BPE merges, D94's unigram
      // model, D100's WordPiece greedy longest-match), corpus-level
      // compression totals side by side. One WITH: the bpe chain +
      // the unigram chain + the wordpiece chain (CTE names disjoint
      // by construction) + per-tokenizer rollups.
      Sql({
      val rounds = 6
      bpeTrainCtes(toksSql, rounds) + ",\n" + bpeApplyCtes(toksSql, rounds) +
          ",\n" + UnigramOracle.trainCtes(toksSql).stripPrefix("WITH ") +
          ",\n" + UnigramOracle.applyCtes(toksSql, "ugtok", "ugpc") +
          ",\n" + WordpieceOracle.trainCtes(toksSql).stripPrefix("WITH ") +
          ",\n" + WordpieceOracle.applyCtes(toksSql) +
        s""",
           |perdoc AS (
           |  SELECT 'bpe' AS tokenizer, doc_id,
           |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
           |    CAST(SUM(len(string_split(trim(sym), '  '))) AS BIGINT) AS n_symbols
           |  FROM e$rounds GROUP BY 2
           |  UNION ALL
           |  SELECT 'unigram' AS tokenizer, doc_id,
           |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
           |    CAST(SUM(n_pieces) AS BIGINT) AS n_symbols
           |  FROM ugtok JOIN ugpc USING (word) GROUP BY 2
           |  UNION ALL
           |  SELECT 'wordpiece' AS tokenizer, doc_id,
           |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
           |    CAST(SUM(n_pieces) AS BIGINT) AS n_symbols
           |  FROM wptok JOIN wpgf USING (word) GROUP BY 2)
           |SELECT tokenizer, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           |  CAST(SUM(n_symbols) AS BIGINT) AS n_symbols,
           |  FLOOR(CAST(SUM(n_symbols) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
           |    * 1e6) / 1e6 AS symbols_per_token
           |FROM perdoc GROUP BY 1""".stripMargin
    })),

    // Corpus token frequency top-N (training-data vocabulary stats):
    // explode + one partial-aggregable shuffle + TakeOrdered.
    Query("text_token_topn", ((s: SparkSession, d: String) =>
      t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("token"))
        .limit(50)),
      Sql(s"""SELECT token, COUNT(*) AS n_occurrences
         |FROM (SELECT UNNEST($toksSql) AS token FROM documents)
         |WHERE token <> ''
         |GROUP BY token
         |ORDER BY n_occurrences DESC, token
         |LIMIT 50""".stripMargin)),

    // Corpus TF-IDF top terms per document: tf (one doc/token
    // shuffle), df (one token shuffle), broadcast 1-row corpus size,
    // per-doc top-3 by a doc-partitioned rank window. The idf is the
    // PMI-ranked collocations (count floor + quantized ln) — the
    // vocab-mining view of the corpus bigram space.
    Query("text_pmi_bigrams", ((s: SparkSession, d: String) =>
      CorpusQc.pmiBigrams(t(s, d, "documents"), "text")),
      // Positional-marginal PMI over the pair panel; count floor and
      // top-N cut applied AFTER marginals (which cover all pairs).
      Sql(s"""WITH toks AS (SELECT $toksSql AS t FROM documents),
         |bigs AS (
         |  SELECT UNNEST(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         |    UNNEST(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
         |  FROM toks WHERE len(t) >= 2),
         |pair AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM bigs GROUP BY 1, 2),
         |m1 AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_w1 FROM pair GROUP BY 1),
         |m2 AS (SELECT w2, CAST(SUM(n_pair) AS BIGINT) AS n_w2 FROM pair GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS t FROM pair)
         |SELECT w1, w2, n_pair, n_w1, n_w2,
         |  FLOOR(LN(CAST(n_pair * t AS DOUBLE) / CAST(n_w1 * n_w2 AS DOUBLE)) * 1e4) / 1e4 AS pmi
         |FROM pair JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
         |WHERE n_pair >= 5
         |ORDER BY pmi DESC, w1, w2
         |LIMIT 50""".stripMargin)),

    // Zipf-exponent OLS over the frequency-ranked vocabulary
    // (distributed prefix-sum ranks, quantized-log moments).
    Query("text_zipf_fit", ((s: SparkSession, d: String) =>
      CorpusQc.zipfFit(t(s, d, "documents"), "text")),
      // Quantized-log OLS over the ranked vocabulary; rank ties broken
      // by token so both engines rank identically.
      Sql(s"""WITH vocab AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT UNNEST($toksSql) AS tok FROM documents)
         |  WHERE tok <> '' GROUP BY 1),
         |ranked AS (
         |  SELECT cnt,
         |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rank
         |  FROM vocab),
         |pts AS (
         |  SELECT FLOOR(LN(CAST(rank AS DOUBLE)) * 1e6) / 1e6 AS lx,
         |    FLOOR(LN(CAST(cnt AS DOUBLE)) * 1e6) / 1e6 AS ly
         |  FROM ranked),
         |moms AS (
         |  SELECT COUNT(*) AS n_types,
         |    SUM(CAST(FLOOR(lx * 1e8) / 1e8 AS DECIMAL(28,8))) AS sx,
         |    SUM(CAST(FLOOR(ly * 1e8) / 1e8 AS DECIMAL(28,8))) AS sy,
         |    SUM(CAST(FLOOR(lx * ly * 1e8) / 1e8 AS DECIMAL(28,8))) AS sxy,
         |    SUM(CAST(FLOOR(lx * lx * 1e8) / 1e8 AS DECIMAL(28,8))) AS sxx
         |  FROM pts),
         |sl AS (
         |  SELECT n_types, sx, sy,
         |    (n_types * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / NULLIF(n_types * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) AS zipf_slope
         |  FROM moms)
         |SELECT n_types, zipf_slope,
         |  (CAST(sy AS DOUBLE) - zipf_slope * CAST(sx AS DOUBLE)) / n_types AS intercept
         |FROM sl""".stripMargin)),

    // Heaps'-law vocabulary-growth fit: cumulative type counts at 16
    // md5-bucket boundary points, log-log OLS → (k, beta) — "will 10x
    // more crawl give 10x more vocabulary".
    Query("text_heaps_fit", ((s: SparkSession, d: String) =>
      CorpusQc.heapsFit(t(s, d, "documents"), "doc_id", "text")),
      // CorpusQc.heapsFit mirrored: md5 doc buckets, min-bucket type
      // attribution, triangular cumulation, the zipfFit OLS grids.
      Sql(s"""WITH toks AS (
         |  SELECT CAST(CAST(concat('0x', substr(md5(
         |      COALESCE(CAST(doc_id AS VARCHAR), '<NULL>')), 1, 8)) AS BIGINT)
         |      % 16 AS INTEGER) AS bucket,
         |    UNNEST($toksSql) AS tok
         |  FROM documents),
         |tk AS (SELECT * FROM toks WHERE tok <> ''),
         |pb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
         |       FROM tk GROUP BY 1),
         |fs AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new_types FROM (
         |    SELECT tok, MIN(bucket) AS bucket FROM tk GROUP BY 1)
         |  GROUP BY 1),
         |panel AS (
         |  SELECT COALESCE(pb.bucket, fs.bucket) AS bucket,
         |    COALESCE(n_tokens, 0) AS n_tokens,
         |    COALESCE(n_new_types, 0) AS n_new_types
         |  FROM pb FULL OUTER JOIN fs ON pb.bucket = fs.bucket),
         |cum AS (
         |  SELECT x.bucket AS bucket,
         |    MAX(x.n_tokens) AS n_tokens,
         |    MAX(x.n_new_types) AS n_new_types,
         |    CAST(SUM(y.n_tokens) AS BIGINT) AS cum_tokens,
         |    CAST(SUM(y.n_new_types) AS BIGINT) AS cum_types
         |  FROM panel x JOIN panel y ON y.bucket <= x.bucket
         |  GROUP BY 1),
         |pts AS (
         |  SELECT FLOOR(LN(CAST(cum_tokens AS DOUBLE)) * 1e6) / 1e6 AS lx,
         |    FLOOR(LN(CAST(cum_types AS DOUBLE)) * 1e6) / 1e6 AS ly
         |  FROM cum WHERE cum_tokens > 0 AND cum_types > 0),
         |moms AS (
         |  SELECT COUNT(*) AS n,
         |    SUM(CAST(FLOOR(lx * 1e8) / 1e8 AS DECIMAL(28,8))) AS sx,
         |    SUM(CAST(FLOOR(ly * 1e8) / 1e8 AS DECIMAL(28,8))) AS sy,
         |    SUM(CAST(FLOOR(lx * ly * 1e8) / 1e8 AS DECIMAL(28,8))) AS sxy,
         |    SUM(CAST(FLOOR(lx * lx * 1e8) / 1e8 AS DECIMAL(28,8))) AS sxx
         |  FROM pts),
         |fit AS (
         |  SELECT
         |    (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / NULLIF(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
         |      AS heaps_beta,
         |    sx, sy, n
         |  FROM moms),
         |fit2 AS (
         |  SELECT heaps_beta,
         |    FLOOR(EXP((CAST(sy AS DOUBLE) - heaps_beta * CAST(sx AS DOUBLE)) / n)
         |      * 1e6) / 1e6 AS heaps_k
         |  FROM fit)
         |SELECT bucket, n_tokens, n_new_types, cum_tokens, cum_types,
         |  heaps_beta, heaps_k
         |FROM cum CROSS JOIN fit2""".stripMargin)),

    // Vocabulary coverage curve: share of token occurrences the top-k
    // types cover, per candidate vocab size (prefix-sum ranks).
    Query("text_vocab_coverage", ((s: SparkSession, d: String) =>
      CorpusQc.vocabCoverage(t(s, d, "documents"), "text")),
      // Coverage at each k: exact-integer cumulative counts under the
      // (freq desc, token) total order, one division at the edge.
      Sql(s"""WITH vocab AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT UNNEST($toksSql) AS tok FROM documents)
         |  WHERE tok <> '' GROUP BY 1),
         |ranked AS (
         |  SELECT cnt,
         |    ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank,
         |    SUM(cnt) OVER (ORDER BY cnt DESC, tok
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM vocab),
         |tot AS (
         |  SELECT CAST(MAX(cum) AS BIGINT) AS total_tokens,
         |    CAST(COUNT(*) AS BIGINT) AS n_types
         |  FROM ranked),
         |g AS (SELECT UNNEST([100, 1000, 10000]) AS k)
         |SELECT CAST(k AS INTEGER) AS k, n_types,
         |  CAST(COUNT(*) AS BIGINT) AS types_used,
         |  CAST(MAX(cum) AS BIGINT) AS tokens_covered, total_tokens,
         |  CAST(MAX(cum) AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS coverage
         |FROM ranked, g, tot
         |WHERE rank <= k
         |GROUP BY k, n_types, total_tokens""".stripMargin)),

    // Flesch readability panel (vowel-group syllables, shuffle-free).
    Query("text_readability", ((s: SparkSession, d: String) =>
      CorpusQc.readability(t(s, d, "documents"), "doc_id", "text")),
      // Same three regex splits (dialect-shared character classes),
      // blank segments dropped, one fixed-order score expression.
      Sql("""WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> len(trim(x)) > 0)) AS n_words,
        |    len(list_filter(regexp_split_to_array(text, '[.!?]+'),
        |      x -> len(trim(x)) > 0)) AS n_sentences,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^aeiouy]+'),
        |      x -> len(trim(x)) > 0)) AS n_syllables
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 AND n_sentences > 0 THEN
        |    206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |      - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |  END AS flesch
        |FROM c""".stripMargin)),

    // Corpus bigram conditional vs unigram entropy — the one-row
    // language-structure fingerprint.
    Query("text_bigram_entropy", ((s: SparkSession, d: String) =>
      CorpusQc.bigramEntropy(t(s, d, "documents"), "text")),
      // Non-distinct adjacent bigrams; fractions are raw single-
      // division IEEE quotients (see the SURVEY §6 rounding rule).
      // Positional marginals from the pair panel; quantized count-ratio
      // lns, integer-count × grid-point products at the grid scale.
      Sql(s"""WITH toks AS (SELECT $toksSql AS t FROM documents),
         |bigs AS (
         |  SELECT UNNEST(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         |    UNNEST(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
         |  FROM toks WHERE len(t) >= 2),
         |pair AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM bigs GROUP BY 1, 2),
         |m1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM pair GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n12) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pair),
         |cond AS (
         |  SELECT SUM(CAST(n12 *
         |    (FLOOR(LN(CAST(n1 AS DOUBLE) / CAST(n12 AS DOUBLE)) * 1e6) / 1e6)
         |    AS DECIMAL(28,6))) AS ch
         |  FROM pair JOIN m1 USING (w1)),
         |uni AS (
         |  SELECT SUM(CAST(n1 *
         |    (FLOOR(LN(CAST(t AS DOUBLE) / CAST(n1 AS DOUBLE)) * 1e6) / 1e6)
         |    AS DECIMAL(28,6))) AS uh,
         |    CAST(COUNT(*) AS BIGINT) AS n_distinct_w1
         |  FROM m1 CROSS JOIN tot)
         |SELECT t AS n_bigrams, n_pairs AS n_distinct_pairs, n_distinct_w1,
         |  CAST(ch AS DOUBLE) / CAST(t AS DOUBLE) AS cond_entropy_nats,
         |  CAST(uh AS DOUBLE) / CAST(t AS DOUBLE) AS unigram_entropy_nats,
         |  CASE WHEN CAST(uh AS DOUBLE) / CAST(t AS DOUBLE) > 0 THEN
         |    (CAST(ch AS DOUBLE) / CAST(t AS DOUBLE))
         |      / (CAST(uh AS DOUBLE) / CAST(t AS DOUBLE))
         |  END AS predictability_ratio
         |FROM cond CROSS JOIN uni CROSS JOIN tot""".stripMargin)),

    // BM25-style RATIONAL form (n-df+0.5)/(df+0.5) — pure +,*,/ on
    // exact integers, so any engine replays it bit for bit (ln()
    // differs across libm implementations in the last ulp).
    Query("text_tfidf_topn", ((s: SparkSession, d: String) => {
      val tok = t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val total = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
      tf.join(dfreq, "token").crossJoin(broadcast(total))
        .withColumn("tfidf",
          round(col("tf") * (col("n_docs") - col("df") + lit(0.5))
            / (col("df") + lit(0.5)), 6))
        .withColumn("term_rank", row_number().over(w))
        .filter(col("term_rank") <= 3)
        .select(col("doc_id"), col("term_rank"), col("token"),
          col("tf"), col("df"), col("tfidf"))
    }),
      Sql(s"""WITH tok AS (
         |  SELECT doc_id, UNNEST($toksSql) AS token FROM documents),
         |tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf FROM tok
         |  WHERE token <> '' GROUP BY 1, 2),
         |idf AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, token, tf, df,
         |    ROUND(tf * (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)), 6) AS tfidf
         |  FROM tf JOIN idf USING (token) CROSS JOIN n)
         |SELECT doc_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INTEGER) AS term_rank,
         |  token, tf, df, tfidf
         |FROM scored
         |QUALIFY term_rank <= 3""".stripMargin)),

    // Feature hashing (the hashing trick): token counts folded into a
    // fixed 256-bucket sparse vector per doc, L2-normalized — the
    // vocabulary-free featurization a downstream linear model eats.
    Query("text_feature_hash", ((s: SparkSession, d: String) =>
      CorpusQc.featureHash(t(s, d, "documents"), "doc_id", "text",
        dim = 256)),
      // CorpusQc.featureHash: md5-bucket fold to 256 dims, L2 weight
      // floor-quantized after one IEEE division (identical bits both
      // engines).
      Sql(s"""WITH tok AS (
         |  SELECT doc_id, UNNEST($toksSql) AS token FROM documents),
         |tf AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % 256 AS bucket,
         |    COUNT(*) AS tf
         |  FROM tok WHERE token <> '' GROUP BY 1, 2),
         |norms AS (
         |  SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
         |  FROM tf GROUP BY 1)
         |SELECT tf.doc_id, tf.bucket, tf.tf,
         |  FLOOR(CAST(tf.tf AS DOUBLE) / norms.nrm * 1e6) / 1e6 AS weight
         |FROM tf JOIN norms ON norms.doc_id = tf.doc_id""".stripMargin)),

    // Sentence-level shape stats per doc (split on [.!?]+): sentence
    // count, mean tokens per sentence, longest sentence in chars —
    // the wall-of-text / staccato signals a prose gate reads.
    Query("text_sentence_stats", ((s: SparkSession, d: String) =>
      CorpusQc.sentenceStats(t(s, d, "documents"), "doc_id", "text")),
      // CorpusQc.sentenceStats: [.!?]+ splits (same regex both
      // dialects), explicit whitespace class for the token count.
      Sql("""WITH s0 AS (
        |  SELECT doc_id, UNNEST(regexp_split_to_array(text, '[.!?]+')) AS s
        |  FROM documents WHERE text IS NOT NULL),
        |s1 AS (SELECT doc_id, trim(s) AS s FROM s0 WHERE trim(s) <> ''),
        |s2 AS (
        |  SELECT doc_id, len(regexp_split_to_array(s, '[ \t\n\r\f]+')) AS ntok,
        |    length(s) AS nch
        |  FROM s1)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sentences,
        |  CAST(SUM(ntok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_sentence_tokens,
        |  MAX(nch) AS max_sentence_chars
        |FROM s2 GROUP BY 1""".stripMargin))
  )

  private def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    // Both fingerprints come from one kernel pass, on md5-register
    // hashes (r14 §5.1 conversion): the rolling fold expands to the
    // positional sum Σ h_i·31^(n-i) mod p, which the oracle replays
    // through a recursive powers-of-31 CTE; the min-shingle replays
    // as MIN over the shingle relation. Spec pins the kernel to the
    // declarative TextOps definitions.
    t(spark, dir, "documents")
      .select(col("doc_id"), size(toks).as("n_tokens"),
        graft.expressions.Kernels.fingerprints(toks, 3, md5 = true).as("fp"))
      .select(col("doc_id"), col("n_tokens"),
        col("fp").getItem(0).as("fp_rolling"),
        col("fp").getItem(1).as("fp_min_shingle"))
  }

  /** BPE training rounds as chained MATERIALIZED CTEs (v0 vocab,
    * p_r pairs, b_r winner, v_r merged vocab) — shared by the
    * bpe_train_merges and bpe_encode oracles so the two replay the
    * SAME learned merges.
    */
  private def bpeTrainCtes(toksSql: String, rounds: Int): String = {
    val head =
      s"""WITH v0 AS MATERIALIZED (
         |  SELECT ' ' || array_to_string(regexp_extract_all(tok, '.'), '  ') || ' ' AS sym,
         |         COUNT(*) AS wf
         |  FROM (SELECT UNNEST(t) AS tok FROM (SELECT $toksSql AS t FROM documents))
         |  GROUP BY 1)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT UNNEST(list_slice(t, 1, n - 1)) AS l,
         |         UNNEST(list_slice(t, 2, n)) AS r,
         |         wf
         |  FROM (SELECT string_split(trim(sym), '  ') AS t,
         |               len(string_split(trim(sym), '  ')) AS n, wf
         |        FROM v${r - 1})
         |  WHERE n >= 2),
         |b$r AS MATERIALIZED (
         |  SELECT l, r, CAST(SUM(wf) AS BIGINT) AS cnt FROM p$r GROUP BY 1, 2
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT replace(sym, ' ' || b.l || '  ' || b.r || ' ',
         |                      ' ' || b.l || b.r || ' ') AS sym, wf
         |  FROM v${r - 1}, b$r b
         |  UNION ALL
         |  SELECT sym, wf FROM v${r - 1}
         |  WHERE NOT EXISTS (SELECT 1 FROM b$r))""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** The learned BPE merges applied to every corpus token in round
    * order (e0 = char-split tokens, e_r = round-r merge applied) —
    * the shared apply chain of the bpe_encode and tokenizer_compare
    * oracles; pairs with [[bpeTrainCtes]] (which defines the b$r
    * winners it references).
    */
  private def bpeApplyCtes(toksSql: String, rounds: Int): String = {
    val applies = (1 to rounds).map { r =>
      s"""e$r AS MATERIALIZED (
         |  SELECT doc_id, replace(sym, ' ' || b.l || '  ' || b.r || ' ',
         |                              ' ' || b.l || b.r || ' ') AS sym
         |  FROM e${r - 1}, b$r b
         |  UNION ALL
         |  SELECT doc_id, sym FROM e${r - 1}
         |  WHERE NOT EXISTS (SELECT 1 FROM b$r))""".stripMargin
    }.mkString(",\n")
    s"""e0 AS MATERIALIZED (
       |  SELECT doc_id, ' ' || array_to_string(regexp_extract_all(tok, '.'), '  ') || ' ' AS sym
       |  FROM (SELECT doc_id, UNNEST(t) AS tok
       |        FROM (SELECT doc_id, $toksSql AS t FROM documents))),
       |$applies""".stripMargin
  }

  /** Unigram-LM tokenizer training as chained MATERIALIZED CTEs (the
    * bpeTrainCtes discipline): `w` word freqs, `sub` substring seed,
    * `inv` char inventory, `v0`/`u0v` seed vocab, then per EM round a
    * `lcap`-step unrolled Viterbi DP (`r{r}b{i}` winners per position,
    * `r{r}f` finals), usage `u{r}` and the re-estimated vocab `u{r}v`.
    * `viterbiCtes(tag, vocab)` is exposed to the encode oracle so both
    * replay the SAME model. DP scores are left-to-right folds of
    * 1e-6-gridded log-probs — bit-identical to the Spark fold — and
    * every per-word argmax carries the (score DESC, seg ASC) total
    * tie-break.
    */
  private object UnigramOracle {
    val (emRounds, seedMultis, keepMultis, maxLen, lcap) = (2, 300, 200, 4, 12)

    def viterbiCtes(tag: String, vocabCte: String): String = {
      val steps = (1 to lcap).map { i =>
        val lo = math.max(0, i - maxLen)
        val fr = ((if (lo == 0) Seq(s"${tag}d0") else Nil) ++
          (math.max(1, lo) until i).map(j => s"${tag}b$j"))
          .map(c => s"SELECT * FROM $c").mkString(" UNION ALL ")
        s"""${tag}b$i AS MATERIALIZED (
           |  SELECT word, wf, wl, $i AS pos, score, seg FROM (
           |    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY word
           |      ORDER BY score DESC, seg) AS rn
           |    FROM (
           |      SELECT d.word, d.wf, d.wl, d.score + v.log_prob AS score,
           |             d.seg || ' ' || v.piece AS seg
           |      FROM ($fr) d JOIN $vocabCte v
           |        ON v.piece = substr(d.word, d.pos + 1, $i - d.pos)
           |      WHERE d.wl >= $i) c)
           |  WHERE rn = 1)""".stripMargin
      }
      val finals = (1 to lcap).map(i => s"SELECT * FROM ${tag}b$i")
        .mkString(" UNION ALL ")
      (s"""${tag}d0 AS MATERIALIZED (
          |  SELECT word, wf, len(word) AS wl, 0 AS pos,
          |         CAST(0.0 AS DOUBLE) AS score, '' AS seg FROM w)""".stripMargin
        +: steps :+
        s"""${tag}f AS MATERIALIZED (
           |  SELECT word, wf, ltrim(seg) AS seg FROM ($finals)
           |  WHERE pos = wl)""".stripMargin).mkString(",\n")
    }

    /** The unigram ENCODE tail shared by the unigram_encode and
      * tokenizer_compare oracles: one more Viterbi pass under the
      * final vocab (tag `e`) + the per-doc token relation and the
      * per-word piece counts — ONE definition, so the two oracles can
      * never silently diverge on the encode surface (the bpeApplyCtes
      * discipline). `tokCte`/`pcCte` name the emitted CTEs.
      */
    def applyCtes(toksSql: String, tokCte: String, pcCte: String): String =
      viterbiCtes("e", s"u${emRounds}v") +
        s""",
           |$tokCte AS MATERIALIZED (
           |  SELECT doc_id, substr(tok, 1, $lcap) AS word
           |  FROM (SELECT doc_id, UNNEST(t) AS tok
           |        FROM (SELECT doc_id, $toksSql AS t FROM documents))
           |  WHERE tok <> ''),
           |$pcCte AS MATERIALIZED (
           |  SELECT word, len(string_split(seg, ' ')) AS n_pieces FROM ef)""".stripMargin

    def trainCtes(toksSql: String): String = {
      val head =
        s"""WITH w AS MATERIALIZED (
           |  SELECT substr(tok, 1, $lcap) AS word, COUNT(*) AS wf
           |  FROM (SELECT UNNEST(t) AS tok FROM (SELECT $toksSql AS t FROM documents))
           |  WHERE tok <> '' GROUP BY 1),
           |sub AS MATERIALIZED (
           |  SELECT piece, CAST(SUM(wf) AS BIGINT) AS cnt FROM (
           |    SELECT UNNEST(flatten(list_transform(range(1, len(word) + 1), s ->
           |      list_transform(range(1, least($maxLen, len(word) - s + 1) + 1), l ->
           |        substr(word, s, l))))) AS piece, wf
           |    FROM w)
           |  GROUP BY 1),
           |inv AS MATERIALIZED (SELECT piece FROM sub WHERE len(piece) = 1),
           |ugv0 AS MATERIALIZED (
           |  SELECT piece, cnt AS n_used FROM sub WHERE len(piece) = 1
           |  UNION ALL
           |  SELECT piece, cnt AS n_used FROM (
           |    SELECT piece, cnt FROM sub WHERE len(piece) >= 2
           |    ORDER BY cnt DESC, piece LIMIT $seedMultis)),
           |u0v AS MATERIALIZED (
           |  SELECT piece, n_used,
           |    FLOOR(LN(CAST(n_used AS DOUBLE) / t.tot) * 1e6) / 1e6 AS log_prob
           |  FROM ugv0, (SELECT CAST(SUM(n_used) AS DOUBLE) AS tot FROM ugv0) t)""".stripMargin
      val rounds = (1 to emRounds).map { r =>
        viterbiCtes(s"r$r", s"u${r - 1}v") + ",\n" +
          s"""u$r AS MATERIALIZED (
             |  SELECT piece, CAST(SUM(wf) AS BIGINT) AS n_used
             |  FROM (SELECT wf, UNNEST(string_split(seg, ' ')) AS piece FROM r${r}f)
             |  GROUP BY 1),
             |ugv$r AS MATERIALIZED (
             |  SELECT i.piece, COALESCE(u.n_used, CAST(0 AS BIGINT)) AS n_used
             |  FROM inv i LEFT JOIN u$r u USING (piece)
             |  UNION ALL
             |  SELECT piece, n_used FROM (
             |    SELECT piece, n_used FROM u$r WHERE len(piece) >= 2
             |    ORDER BY n_used DESC, piece LIMIT $keepMultis)),
             |u${r}v AS MATERIALIZED (
             |  SELECT piece, n_used,
             |    FLOOR(LN(CAST(n_used + 1 AS DOUBLE) / t.tot) * 1e6) / 1e6 AS log_prob
             |  FROM ugv$r, (SELECT CAST(SUM(n_used + 1) AS DOUBLE) AS tot FROM ugv$r) t)""".stripMargin
      }
      (head +: rounds).mkString(",\n")
    }
  }

  /** WordPiece tokenizer training + greedy encode as chained
    * MATERIALIZED CTEs (the bpeTrainCtes/UnigramOracle discipline):
    * training = per round the symbol-frequency relation `wps{r}`,
    * the pair relation `wpp{r}`, the likelihood-scored winner
    * `wpb{r}` (score = n_pair / (n_left·n_right), one double multiply
    * + one division — bit-identical to the Spark argmax) and the
    * replaced vocabulary `wpv{r}`; encode = the role-keyed vocab
    * `wpkeys` (word-initial pieces bare, continuations ##-prefixed,
    * char inventory in both roles), the longest-match table `wpj`
    * and an `lcap`-step unrolled greedy walk `wpg{i}`
    * (pos += jump(pos) while pos ≤ len) — the exact recurrence the
    * Spark per-word aggregate fold runs.
    */
  private object WordpieceOracle {
    val (rounds, lcap) = (6, 12)

    /** Training chain, WITH-prefixed: wpv0 (char-split vocab) then
      * per round wpt/wps/wpp/wpb/wpv.
      */
    def trainCtes(toksSql: String): String = {
      val head =
        s"""WITH wpv0 AS MATERIALIZED (
           |  SELECT ' ' || array_to_string(regexp_extract_all(tok, '.'), '  ') || ' ' AS sym,
           |         COUNT(*) AS wf
           |  FROM (SELECT UNNEST(t) AS tok FROM (SELECT $toksSql AS t FROM documents))
           |  WHERE tok <> '' GROUP BY 1)""".stripMargin
      val iters = (1 to rounds).map { r =>
        s"""wpt$r AS MATERIALIZED (
           |  SELECT string_split(trim(sym), '  ') AS t,
           |         len(string_split(trim(sym), '  ')) AS n, wf
           |  FROM wpv${r - 1}),
           |wps$r AS MATERIALIZED (
           |  SELECT s, CAST(SUM(wf) AS BIGINT) AS sf FROM (
           |    SELECT UNNEST(t) AS s, wf FROM wpt$r) GROUP BY 1),
           |wpp$r AS MATERIALIZED (
           |  SELECT l, r, CAST(SUM(wf) AS BIGINT) AS np FROM (
           |    SELECT UNNEST(list_slice(t, 1, n - 1)) AS l,
           |           UNNEST(list_slice(t, 2, n)) AS r, wf
           |    FROM wpt$r WHERE n >= 2) GROUP BY 1, 2),
           |wpb$r AS MATERIALIZED (
           |  SELECT p.l, p.r, p.np, sl.sf AS nl, sr.sf AS nr,
           |         CAST(p.np AS DOUBLE) / (CAST(sl.sf AS DOUBLE) * CAST(sr.sf AS DOUBLE)) AS score
           |  FROM wpp$r p JOIN wps$r sl ON sl.s = p.l JOIN wps$r sr ON sr.s = p.r
           |  ORDER BY score DESC, p.l, p.r LIMIT 1),
           |wpv$r AS MATERIALIZED (
           |  SELECT replace(sym, ' ' || b.l || '  ' || b.r || ' ',
           |                      ' ' || b.l || b.r || ' ') AS sym, wf
           |  FROM wpv${r - 1}, wpb$r b
           |  UNION ALL
           |  SELECT sym, wf FROM wpv${r - 1}
           |  WHERE NOT EXISTS (SELECT 1 FROM wpb$r))""".stripMargin
      }
      (head +: iters).mkString(",\n")
    }

    /** Encode chain appended after [[trainCtes]]: truncated word
      * relation `wpw`, role-keyed vocab `wpkeys` from the final
      * `wpv{rounds}` symbolization, longest-match `wpj`, the unrolled
      * greedy walk ending in `wpgf` (word → n_pieces), and the
      * per-doc token relation `wptok`.
      */
    def applyCtes(toksSql: String): String = {
      val steps = (1 to lcap).map { i =>
        s"""wpg$i AS MATERIALIZED (
           |  SELECT g.word, g.wf, g.wl,
           |    CASE WHEN g.pos <= g.wl THEN g.pos + j.jump ELSE g.pos END AS pos,
           |    CASE WHEN g.pos <= g.wl THEN g.cnt + 1 ELSE g.cnt END AS cnt
           |  FROM wpg${i - 1} g LEFT JOIN wpj j ON j.word = g.word AND j.s = g.pos)""".stripMargin
      }.mkString(",\n")
      s"""wpw AS MATERIALIZED (
         |  SELECT substr(tok, 1, $lcap) AS word, COUNT(*) AS wf
         |  FROM (SELECT UNNEST(t) AS tok FROM (SELECT $toksSql AS t FROM documents))
         |  WHERE tok <> '' GROUP BY 1),
         |wpkeys AS MATERIALIZED (
         |  SELECT DISTINCT init, piece FROM (
         |    SELECT i = 1 AS init, t[i] AS piece
         |    FROM (SELECT t, UNNEST(range(1, len(t) + 1)) AS i
         |          FROM (SELECT string_split(trim(sym), '  ') AS t FROM wpv$rounds))
         |    UNION ALL
         |    SELECT TRUE AS init, c AS piece FROM (
         |      SELECT DISTINCT UNNEST(regexp_extract_all(word, '.')) AS c FROM wpw)
         |    UNION ALL
         |    SELECT FALSE AS init, c AS piece FROM (
         |      SELECT DISTINCT UNNEST(regexp_extract_all(word, '.')) AS c FROM wpw))),
         |wpj AS MATERIALIZED (
         |  SELECT word, wf, wl, s, MAX(l) AS jump FROM (
         |    SELECT word, wf, wl, u.s AS s, u.l AS l,
         |      (u.s = 1) AS init, substr(word, u.s, u.l) AS piece
         |    FROM (
         |      SELECT word, wf, len(word) AS wl,
         |        UNNEST(flatten(list_transform(range(1, len(word) + 1), s ->
         |          list_transform(range(1, len(word) - s + 2), l ->
         |            {'s': s, 'l': l})))) AS u
         |      FROM wpw)) m JOIN wpkeys USING (init, piece)
         |  GROUP BY 1, 2, 3, 4),
         |wpg0 AS MATERIALIZED (
         |  SELECT word, wf, len(word) AS wl, 1 AS pos, 0 AS cnt FROM wpw),
         |$steps,
         |wpgf AS MATERIALIZED (
         |  SELECT word, cnt AS n_pieces FROM wpg$lcap),
         |wptok AS MATERIALIZED (
         |  SELECT doc_id, substr(tok, 1, $lcap) AS word
         |  FROM (SELECT doc_id, UNNEST(t) AS tok
         |        FROM (SELECT doc_id, $toksSql AS t FROM documents))
         |  WHERE tok <> '')""".stripMargin
    }
  }

  /** md5Long60 over a SQL expression — DuckDB's exact numeric twin of
    * [[graft.expressions.ArrayKernels.md5Long60]] / Spark's
    * `conv(substring(md5(e),1,15),16,10)`.
    */
  private def md5Long60Sql(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  private val docToksSql = """regexp_split_to_array(trim(text), '\s+')"""

  /** The distinct n-gram shingle list over a token list `t` —
    * generalizes the n=3 form the jaccard oracles pin (short docs
    * contribute their whole token join, matching TextOps.shingles).
    */
  private def shinglesSqlFor(n: Int): String =
    s"""CASE WHEN len(t) >= $n
       |     THEN list_distinct(list_transform(range(1, len(t) - ${n - 2}),
       |          i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' ')))
       |     ELSE [array_to_string(t, ' ')] END""".stripMargin

  /** The interleaved seed-42 affine coefficient draws — mirrors
    * MinHashSigExpr's coefA/coefB generation exactly, so the oracle
    * embeds the same literals the kernel uses.
    */
  private def minhashCoefs(numHashes: Int, seed: Long = 42L): (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(seed)
    def coef(): Long = 1L + rnd.nextInt(Int.MaxValue - 1)
    val a = new Array[Long](numHashes)
    val b = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) { a(i) = coef(); b(i) = coef(); i += 1 }
    (a, b)
  }

  /** CTE block replaying the md5-register minhash signature + banding
    * of one (doc_id, text) source: distinct md5Long60 shingle hashes,
    * the 32-slot affine-minimum signature, md5Long60 band buckets —
    * every relation TextDedup.minhashLsh materializes, prefixed so two
    * sources can coexist in one statement (decontaminate).
    */
  private def minhashSigBandCtes(src: String, pfx: String, n: Int,
                                 numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    val (a, b) = minhashCoefs(numHashes)
    val P = 1000000007L
    val slotCols = (0 until numHashes).map(i =>
      s"MIN(((h % $P) * ${a(i)} + ${b(i)}) % $P) AS s$i").mkString(",\n    ")
    val bandSelects = (0 until bands).map { bd =>
      val cols = (0 until rows).map(i => s"s${bd * rows + i}").mkString(", ")
      s"SELECT doc_id, $bd AS band_id, ${md5Long60Sql(s"concat_ws('|', $cols)")} AS bucket FROM ${pfx}sig"
    }.mkString("\n  UNION ALL ")
    s"""${pfx}docs AS MATERIALIZED (
       |  SELECT doc_id, ${shinglesSqlFor(n)} AS shs
       |  FROM (SELECT doc_id, $docToksSql AS t FROM $src)),
       |${pfx}hs AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ${md5Long60Sql("sh")} AS h
       |  FROM (SELECT doc_id, UNNEST(shs) AS sh FROM ${pfx}docs)),
       |${pfx}sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM ${pfx}hs GROUP BY 1),
       |${pfx}sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    $slotCols
       |  FROM ${pfx}hs GROUP BY doc_id),
       |${pfx}bnd AS MATERIALIZED (
       |  $bandSelects)""".stripMargin
  }

  /** TextDedup.minhashLsh replayed end to end: banded candidates
    * (count of agreeing bands) verified by exact Jaccard over the
    * distinct-hash shingle sets.
    */
  private def minhashLshOracleSql(threshold: Double): String =
    s"""WITH ${minhashSigBandCtes("documents", "", 3, 32, 8)},
       |cand AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
       |  FROM bnd a JOIN bnd b ON a.band_id = b.band_id AND a.bucket = b.bucket
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |iv AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
       |  FROM cand c
       |  JOIN hs ha ON ha.doc_id = c.doc_a
       |  JOIN hs hb ON hb.doc_id = c.doc_b AND hb.h = ha.h
       |  GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b, c.n_bands,
       |  iv.n_inter / CAST(sa.n_sh + sb.n_sh - iv.n_inter AS DOUBLE) AS jaccard
       |FROM cand c
       |JOIN iv ON iv.doc_a = c.doc_a AND iv.doc_b = c.doc_b
       |JOIN sz sa ON sa.doc_id = c.doc_a
       |JOIN sz sb ON sb.doc_id = c.doc_b
       |WHERE iv.n_inter / CAST(sa.n_sh + sb.n_sh - iv.n_inter AS DOUBLE) >= $threshold""".stripMargin

  /** CorpusQc.decontaminateMinhash replayed: the same signature/band
    * machinery over the train and eval splits, cross-side band
    * collisions only, exact-Jaccard verification.
    */
  private def decontaminateMinhashOracleSql(threshold: Double): String = {
    val train = "(SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7)"
    val evalS = "(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7)"
    s"""WITH ${minhashSigBandCtes(train, "t", 8, 32, 8)},
       |${minhashSigBandCtes(evalS, "e", 8, 32, 8)},
       |cand AS MATERIALIZED (
       |  SELECT a.doc_id AS train_id, b.doc_id AS eval_id, COUNT(*) AS n_bands
       |  FROM tbnd a JOIN ebnd b ON a.band_id = b.band_id AND a.bucket = b.bucket
       |  GROUP BY 1, 2),
       |iv AS (
       |  SELECT c.train_id, c.eval_id, COUNT(*) AS n_inter
       |  FROM cand c
       |  JOIN ths ha ON ha.doc_id = c.train_id
       |  JOIN ehs hb ON hb.doc_id = c.eval_id AND hb.h = ha.h
       |  GROUP BY 1, 2)
       |SELECT c.train_id, c.eval_id, c.n_bands,
       |  iv.n_inter / CAST(sa.n_sh + sb.n_sh - iv.n_inter AS DOUBLE) AS jaccard
       |FROM cand c
       |JOIN iv ON iv.train_id = c.train_id AND iv.eval_id = c.eval_id
       |JOIN tsz sa ON sa.doc_id = c.train_id
       |JOIN esz sb ON sb.doc_id = c.eval_id
       |WHERE iv.n_inter / CAST(sa.n_sh + sb.n_sh - iv.n_inter AS DOUBLE) >= $threshold""".stripMargin
  }

  /** TextDedup.simhashPairs replayed: the 60-bit md5-register simhash
    * as 60 per-bit majority votes, four 15-bit bands, banded pairs
    * filtered by exact bit_count(xor) Hamming distance.
    */
  private def simhashOracleSql(maxHamming: Int): String = {
    val votes = (0 until 60).map(j =>
      s"(CASE WHEN SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN ${1L << j} ELSE 0 END)")
      .grouped(4).map(_.mkString(" + ")).mkString("\n    + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, h64, $b AS band_id, (h64 >> ${b * 15}) & 32767 AS bucket FROM fp")
      .mkString("\n  UNION ALL ")
    s"""WITH tk AS MATERIALIZED (
       |  SELECT doc_id, ${md5Long60Sql("tok")} AS h
       |  FROM (SELECT doc_id, UNNEST($docToksSql) AS tok FROM documents)),
       |fp AS MATERIALIZED (
       |  SELECT doc_id,
       |    $votes AS h64
       |  FROM tk GROUP BY doc_id),
       |bnd AS MATERIALIZED (
       |  $bandSelects)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.h64, b.h64)) AS hamming
       |FROM bnd a JOIN bnd b ON a.band_id = b.band_id AND a.bucket = b.bucket
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.h64, b.h64)) <= $maxHamming""".stripMargin
  }

  /** The textFingerprint registry query replayed: the rolling fold
    * expands to the positional sum Σ h_i·31^(n−i) mod p over a
    * recursive powers-of-31 table; the min-shingle is MIN over the
    * md5Long60 shingle relation (duplicate windows are MIN-invariant,
    * so the distinct shingle list replays the kernel's all-windows
    * scan exactly).
    */
  private def textFingerprintOracleSql: String = {
    val P = 1000000007L
    s"""WITH RECURSIVE tk AS MATERIALIZED (
       |  SELECT doc_id, $docToksSql AS t FROM documents),
       |mx AS MATERIALIZED (SELECT MAX(len(t)) AS mx FROM tk),
       |pows AS (
       |  SELECT 0 AS k, CAST(1 AS BIGINT) AS v
       |  UNION ALL
       |  SELECT k + 1, (v * 31) % $P FROM pows WHERE k + 1 < (SELECT mx FROM mx)),
       |ps AS MATERIALIZED (
       |  SELECT doc_id, len(t) AS n, UNNEST(t) AS tok,
       |    UNNEST(range(1, len(t) + 1)) AS pos
       |  FROM tk),
       |hv AS (
       |  SELECT doc_id, n, pos, ${md5Long60Sql("tok")} % $P AS h FROM ps),
       |roll AS (
       |  -- SUM(BIGINT) is HUGEINT in DuckDB; the positional sum is
       |  -- < n·p (~2^47), so the BIGINT narrowing is exact
       |  SELECT doc_id, CAST(SUM((h * pw.v) % $P) % $P AS BIGINT) AS fp_rolling
       |  FROM hv JOIN pows pw ON pw.k = hv.n - hv.pos
       |  GROUP BY 1),
       |msh AS (
       |  SELECT doc_id, MIN(${md5Long60Sql("sh")} % $P) AS fp_min_shingle
       |  FROM (SELECT doc_id, UNNEST(shs) AS sh
       |        FROM (SELECT doc_id, ${shinglesSqlFor(3)} AS shs FROM tk))
       |  GROUP BY 1)
       |SELECT tk.doc_id, len(tk.t) AS n_tokens, roll.fp_rolling, msh.fp_min_shingle
       |FROM tk
       |JOIN roll ON roll.doc_id = tk.doc_id
       |JOIN msh ON msh.doc_id = tk.doc_id""".stripMargin
  }

  /** TextDedup.dedupRecallEval replayed: the exact prefix-filter truth
    * and both (now fully SQL-replayable) approximate tiers composed
    * into the two-row recall panel.
    */
  private def dedupRecallEvalOracleSql(toksSql: String, shinglesSql: String): String =
    s"""WITH truth AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (
       |${jaccardPairsOracleSqlUncapped(toksSql, shinglesSql)})),
       |mh AS MATERIALIZED (
       |  SELECT DISTINCT doc_a, doc_b FROM (${minhashLshOracleSql(0.5)})),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_a, doc_b FROM (${simhashOracleSql(8)})),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth)
       |SELECT 'minhash_lsh' AS method, nt.n_truth,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM mh) AS n_found,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
       |     JOIN mh ON mh.doc_a = t.doc_a AND mh.doc_b = t.doc_b) AS n_hit,
       |  CAST((SELECT COUNT(*) FROM truth t
       |     JOIN mh ON mh.doc_a = t.doc_a AND mh.doc_b = t.doc_b) AS DOUBLE)
       |    / CAST(nt.n_truth AS DOUBLE) AS recall
       |FROM nt
       |UNION ALL
       |SELECT 'simhash' AS method, nt.n_truth,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sh) AS n_found,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
       |     JOIN sh ON sh.doc_a = t.doc_a AND sh.doc_b = t.doc_b) AS n_hit,
       |  CAST((SELECT COUNT(*) FROM truth t
       |     JOIN sh ON sh.doc_a = t.doc_a AND sh.doc_b = t.doc_b) AS DOUBLE)
       |    / CAST(nt.n_truth AS DOUBLE) AS recall
       |FROM nt""".stripMargin

  /** The uncapped exact >= 0.5 Jaccard pair set (dedup_prefix_filter's
    * oracle body), reused as the recall panel's truth relation.
    */
  private def jaccardPairsOracleSqlUncapped(toksSql: String, shinglesSql: String): String =
    s"""WITH pf_docs AS (
       |  SELECT doc_id, $shinglesSql AS shs
       |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
       |pf_sh AS (SELECT doc_id, UNNEST(shs) AS sh FROM pf_docs),
       |pf_sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM pf_sh GROUP BY doc_id),
       |pf_pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM pf_sh a JOIN pf_sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b
       |FROM pf_pairs p
       |JOIN pf_sizes sa ON sa.doc_id = p.doc_a
       |JOIN pf_sizes sb ON sb.doc_id = p.doc_b
       |WHERE p.n_common / (sa.n_sh + sb.n_sh - p.n_common) >= 0.5""".stripMargin

  /** TextDedup.incrementalDedup / incrementalDedupIndexed mirrored —
    * corpus digests + df-capped postings, symmetric stop-shingle drop,
    * exact Jaccard, first-match decision. ONE string for both: the two
    * queries share the Scala decision tail, so they share the oracle.
    */
  private def incrementalDedupSql(toksSql: String, shinglesSql: String): String =
    s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
       |bat AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400),
       |corp_dig AS (
       |  SELECT sha256(text) AS digest, MIN(doc_id) AS corp_match
       |  FROM corp GROUP BY 1),
       |b2 AS (
       |  SELECT doc_id, sha256(text) AS digest,
       |    MIN(doc_id) OVER (PARTITION BY sha256(text)) AS batch_first
       |  FROM bat),
       |csh AS (
       |  SELECT doc_id AS c_id, UNNEST(shs) AS sh FROM (
       |    SELECT doc_id, $shinglesSql AS shs
       |    FROM (SELECT doc_id, $toksSql AS t FROM documents
       |          WHERE doc_id < 400))),
       |stop AS (SELECT sh FROM csh GROUP BY sh HAVING COUNT(*) > 1000),
       |ckept AS (SELECT c_id, sh FROM csh ANTI JOIN stop USING (sh)),
       |csizes AS (SELECT c_id, COUNT(*) AS n_c FROM ckept GROUP BY 1),
       |bsh AS (
       |  SELECT doc_id, UNNEST(shs) AS sh FROM (
       |    SELECT doc_id, $shinglesSql AS shs
       |    FROM (SELECT doc_id, $toksSql AS t FROM documents
       |          WHERE doc_id >= 400))),
       |bkept AS (SELECT doc_id, sh FROM bsh ANTI JOIN stop USING (sh)),
       |bsizes AS (SELECT doc_id, COUNT(*) AS n_b FROM bkept GROUP BY 1),
       |cmn AS (
       |  SELECT b.doc_id, c.c_id, COUNT(*) AS n_common
       |  FROM bkept b JOIN ckept c USING (sh) GROUP BY 1, 2),
       |near AS (
       |  SELECT doc_id, c_id, n_common / (n_b + n_c - n_common) AS jaccard
       |  FROM cmn JOIN bsizes USING (doc_id) JOIN csizes USING (c_id)
       |  WHERE n_common / (n_b + n_c - n_common) >= 0.5),
       |best AS (
       |  SELECT doc_id, c_id AS near_match FROM (
       |    SELECT doc_id, c_id, ROW_NUMBER() OVER (
       |      PARTITION BY doc_id ORDER BY jaccard DESC, c_id) AS r
       |    FROM near) WHERE r = 1)
       |SELECT b2.doc_id,
       |  (cd.corp_match IS NULL AND b2.doc_id = b2.batch_first
       |   AND bst.near_match IS NULL) AS keep,
       |  CASE WHEN cd.corp_match IS NOT NULL THEN 'EXACT_DUP_CORPUS'
       |       WHEN b2.doc_id <> b2.batch_first THEN 'EXACT_DUP_BATCH'
       |       WHEN bst.near_match IS NOT NULL THEN 'NEAR_DUP_CORPUS'
       |       ELSE 'KEPT' END AS reason,
       |  CASE WHEN cd.corp_match IS NOT NULL THEN cd.corp_match
       |       WHEN b2.doc_id <> b2.batch_first THEN b2.batch_first
       |       ELSE bst.near_match END AS match_id
       |FROM b2
       |LEFT JOIN corp_dig cd USING (digest)
       |LEFT JOIN best bst USING (doc_id)""".stripMargin

  private val shinglesSql =
    s"""CASE WHEN len(t) >= 3
       |     THEN list_distinct(list_transform(range(1, len(t) - 1),
       |          i -> array_to_string(list_slice(t, i, i + 2), ' ')))
       |     ELSE [array_to_string(t, ' ')] END""".stripMargin

  // The min-label fixpoint as a recursive transitive-closure CTE
  // (UNION-distinct terminates it) — shared by dedup_clusters and
  // the corpus-keep endpoint so both replay the SAME cluster set.
  // jp/edges/clusters are MATERIALIZED (r15, VERDICT #6): the
  // recursive walk re-scans `edges` every fixpoint round, and
  // DuckDB inlines non-materialized CTEs — at the 10x-replica gate
  // the re-inlined shingle join blew the 300 s oracle budget.
  // MATERIALIZED is a pure evaluation hint: the result set (and so
  // the driver's hash compare) is unchanged.
  private def clusterCtesFor(src: String) =
    s"""jp AS MATERIALIZED (${jaccardPairsOracleSql(toksSql, shinglesSql, src = src)}),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM jp
       |  UNION
       |  SELECT doc_b, doc_a FROM jp),
       |walk(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst),
       |clusters AS MATERIALIZED (
       |  SELECT id AS doc_id, MIN(label) AS cluster_id
       |  FROM walk GROUP BY id)""".stripMargin

  private val clusterCtes = clusterCtesFor("documents")

  /** The df-capped exact-Jaccard pair query, shared by the pairs row
    * and the clusters row (whose edge set it is).
    */
  private def jaccardPairsOracleSql(toksSql: String, shinglesSql: String,
                                    threshold: Double = 0.5,
                                    src: String = "documents"): String =
    s"""WITH docs AS (
       |  SELECT doc_id, $shinglesSql AS shs
       |  FROM (SELECT doc_id, $toksSql AS t FROM $src)),
       |sh AS (SELECT doc_id, UNNEST(shs) AS sh FROM docs),
       |dfc AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh HAVING COUNT(*) <= 1000),
       |kept AS (SELECT s.doc_id, s.sh, d.df FROM sh s JOIN dfc d USING (sh)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  WHERE a.df >= 2
       |  GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, sa.n_sh AS n_sh_a, sb.n_sh AS n_sh_b, p.n_common,
       |  p.n_common / (sa.n_sh + sb.n_sh - p.n_common) AS jaccard
       |FROM pairs p
       |JOIN sizes sa ON sa.doc_id = p.doc_a
       |JOIN sizes sb ON sb.doc_id = p.doc_b
       |WHERE p.n_common / (sa.n_sh + sb.n_sh - p.n_common) >= $threshold""".stripMargin
}
