package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator shape from SURVEY.md §2 (reference
  * file:line cited at each entry); `oracleSql` gives the DuckDB-equivalent
  * ANSI SQL over the same parquet tables. Column names and row order are
  * made deterministic on both sides (aliases + ORDER BY on unique keys);
  * double-typed aggregates go through DECIMAL so Spark and DuckDB agree
  * bit-for-bit.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full quality-filter pipeline on the deterministic synthetic
    * image+caption table and returns the keep/drop decision frame. */
  def entry(spark: SparkSession): DataFrame =
    graft.loop.ValidationRun.flagship(spark)

  // ---------------------------------------------------------------------
  // Spark-side queries. Key ↔ oracleSql key; see class doc.
  // ---------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ PipelineQueries.queries

  private val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/A4 + S1: hash aggregate with decimal-exact sums
    // (ref DQTestToolHelper.py:62 counts; Autoencoder.py:52 per-col means)
    "q01_group_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // S3: filtered scan with predicate pushdown (ref DQTestTool.py:93)
    "q02_filter_project" -> ((s, d) => {
      Tables.documents(s, d)
        .filter(col("lang") === "en" && col("n_chars") >= 200)
        .select("doc_id", "n_chars", "source")
        .orderBy("doc_id")
    }),

    // J1: semi-join via IN-subquery (ref DQTestToolHelper.py:271-274)
    "q03_semi_join" -> ((s, d) => {
      val hi = Tables.orders(s, d).filter(col("o_totalprice") > 100000)
      Tables.customer(s, d)
        .join(hi, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")
    }),

    // J2: anti-join via NOT IN / NOT EXISTS (ref testScript.py:40)
    "q04_anti_join" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 100000)
      Tables.customer(s, d)
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    }),

    // J7: distinct (ref DQTestTool.py:99,130-137)
    "q05_distinct" -> ((s, d) =>
      Tables.documents(s, d).select("lang", "source").distinct()
        .orderBy("lang", "source")),

    // A3/A5: exact percentile + median per group — the constraint-discovery
    // aggregate (ref DQTestToolHelper.py:171-173,198; Testing.py:34-37)
    "q06_percentile_by_group" -> ((s, d) => {
      Tables.documents(s, d).groupBy(col("lang"))
        .agg(
          round(expr("percentile(n_chars, 0.95D)"), 4).as("p95"),
          round(expr("percentile(n_chars, 0.5D)"), 4).as("median"),
          count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    // P3/M8: threshold filter — score >= corpus percentile
    // (ref DQTestToolHelper.py:204)
    "q07_threshold_filter" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val thr = docs.agg(expr("percentile(n_chars, 0.95D)").as("thr"))
      docs.crossJoin(broadcast(thr))
        .filter(col("n_chars") >= col("thr"))
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),

    // A2: one-pass grouped min/max (replaces 4 scans,
    // ref DQTestToolHelper.py:175-182)
    "q08_minmax_group" -> ((s, d) => {
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(min(col("value")).as("mn"), max(col("value")).as("mx"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // J5: set intersect (ref Evaluation.py:7-12)
    "q09_intersect" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.filter(col("lang") === "en").select("doc_id")
        .intersect(docs.filter(col("n_chars") > 250).select("doc_id"))
        .orderBy("doc_id")
    }),

    // J6: set difference (ref Evaluation.py:14-23)
    "q10_except" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.filter(col("lang") === "en").select("doc_id")
        .except(docs.filter(col("n_chars") > 250).select("doc_id"))
        .orderBy("doc_id")
    }),

    // J4 + F2: labeled union for interpretation training
    // (ref DQTestToolHelper.py:306,96)
    "q11_union_label" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val susp = docs.filter(col("n_chars") < 130)
        .select(col("doc_id"), lit("suspicious").as("status"))
      val valid = docs.filter(col("n_chars") >= 130)
        .select(col("doc_id"), lit("valid").as("status"))
      susp.unionByName(valid).orderBy("doc_id")
    }),

    // §2.5: top-k per group via window (exemplars per cluster)
    "q12_topk_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    }),

    // §2.6 north-rule scalar rules: symbol ratio, token count, stopword
    // ratio, keep decision — all built-in expressions
    "q13_quality_rules" -> ((s, d) => {
      val t = col("text")
      val tokCnt = size(split(t, " "))
      val symRatio = (length(t) - length(regexp_replace(t, "[^a-z0-9 ]", "")))
        .cast("double") / length(t).cast("double")
      val stopRatio = regexp_count(t, lit("\\b(the|a|value|table)\\b"))
        .cast("double") / tokCnt.cast("double")
      Tables.documents(s, d).select(
        col("doc_id"),
        symRatio.as("sym_ratio"),
        tokCnt.as("token_cnt"),
        stopRatio.as("stop_ratio"),
        (col("n_chars") >= 100 && col("n_chars") <= 400 && symRatio <= 0.1).as("keep"))
        .orderBy("doc_id")
    }),

    // Dedup (exact): keep-first by full text (training-data op)
    "q14_dedup_exact" -> ((s, d) => {
      Tables.documents(s, d).groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("c"))
        .select("keep_id", "c").orderBy("keep_id")
    }),

    // A7: metric-rate formulas PD/SD/UD on proxy E/A sets
    // (ref Evaluation.py:6-23)
    "q15_metrics_rates" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val e = docs.filter(col("n_chars") < 120).select("doc_id")
      val a = docs.filter(col("n_chars") < 150).select("doc_id")
      val eN = e.count().toDouble
      val aN = a.count().toDouble
      val eInterA = e.intersect(a).count().toDouble
      val pd = if (eN > 0) eInterA / eN else 0.0
      val ud = if (eN > 0) (eN - eInterA) / eN else 1.0
      val sd = if (aN > 0) (aN - eInterA) / aN else 0.0
      import s.implicits._
      Seq((pd, sd, ud)).toDF("pd", "sd", "ud")
    }),

    // M3 shape: n-gram LM training pass = explode + groupBy + count
    "q16_ngram_bigrams" -> ((s, d) => {
      Tables.documents(s, d)
        .select(split(col("text"), " ").as("w"))
        .select(explode(expr(
          "zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1), (a, b) -> concat(a, ' ', b))"))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20)
    }),

    // §2.7 streaming-shaped batch: hourly tumbling-window aggregate
    "q17_hour_window" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hr"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("mn"),
          max(col("value")).as("mx"))
        .orderBy("hr", "event_type")
    }),

    // Broadcast join + aggregate (3-way)
    "q18_join_agg" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("rev"))
        .orderBy("c_mktsegment")
    }),

    // M16: PII/toxicity scrub chain parity (UDF-free regexp_replace chain)
    "q19_scrub" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), graft.scrub.Scrub.scrub(col("text")).as("scrubbed"))
        .orderBy("doc_id")
    }),

    // Text analysis: heuristic langid via stopword votes (argmax w/ fixed
    // tie-break)
    "q20_langid_heuristic" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.langIdHeuristic(col("text")).as("pred"))
        .orderBy("doc_id")
    }),

    // Text analysis: md5 document fingerprint (engine-stable dedup key)
    "q21_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // Text analysis: whitespace + BPE-ish pre-tokenizer token counts
    "q22_token_counts" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("n_ws"),
          graft.ops.TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy("doc_id")
    }),

    // Text analysis: composite quality score
    "q23_quality_score" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // Generic tabular mode (the reference's CSV contract, M2/M3/M6/M7):
    // z-score + rare-level invalidity over documents(n_chars, lang)
    "q24_generic_zscore" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "n_chars", "lang")
      val model = graft.generic.GenericQuality.fit(docs, "doc_id")
      graft.generic.GenericQuality.withScores(docs, model)
        .select(col("doc_id"),
          round(col("score_n_chars"), 4).as("s_num"),
          round(col("score_lang"), 4).as("s_cat"),
          round(col("invalidity_score"), 4).as("inval"))
        .orderBy("doc_id")
    }),

    // Generic mode on a wider mixed-type table (2 numeric + 1 categorical
    // feature; hash-verified against the DuckDB oracle)
    "q25_generic_customer" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .select("c_custkey", "c_acctbal", "c_nationkey", "c_mktsegment")
      val model = graft.generic.GenericQuality.fit(c, "c_custkey")
      graft.generic.GenericQuality.withScores(c, model)
        .select(col("c_custkey"), round(col("invalidity_score"), 4).as("inval"))
        .orderBy("c_custkey")
    }),

    // Broadcast-join chain across the small dimension tables (supplier ⋈
    // nation ⋈ region): the classic star-schema shape — both dims must
    // broadcast, never shuffle the fact side (PlanSpec gates q18; same
    // planner behavior applies here)
    "q27_supplier_region" -> ((s, d) => {
      val sup = Tables.supplier(s, d)
      val nat = Tables.nation(s, d)
      val reg = Tables.region(s, d)
      sup.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
        .orderBy("r_name")
    }),

    // North-rule skew handling: salted two-phase aggregation over the
    // (skewed) language key — must agree exactly with a plain GROUP BY
    "q28_salted_counts" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cnt = graft.ops.Salting.saltedCount(docs, "lang", "doc_id")
      val tot = graft.ops.Salting.saltedSum(
        docs.withColumn("n_chars", col("n_chars").cast("long")),
        "lang", "n_chars", "doc_id")
      cnt.join(tot, Seq("lang"))
        .select(col("lang"), col("cnt"), col("total").as("sum_chars"))
        .orderBy("lang")
    }),

    // M2 multivariate: PCA reconstruction-error scorer (joint-structure
    // anomaly detection the per-column z-score path can't express). For
    // d=2 standardized features the eigenbasis is closed-form
    // ((1, ±1)/√2), so the full fit+score is SQL-expressible and
    // hash-verified against DuckDB.
    "q26_pca_residual" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .select("c_custkey", "c_acctbal", "c_nationkey")
      val st = graft.models.PcaResidual.fit(c, "c_custkey", k = 1)
      c.select(col("c_custkey"),
        round(graft.models.PcaResidual.scoreColumn(st), 4).as("s_pca"))
        .orderBy("c_custkey")
    })
  )

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL — one per SQL-expressible query above (plus the
  // SQL-expressible pipeline queries from PipelineQueries.oracleSql).
  // ---------------------------------------------------------------------
  def oracleSql: Map[String, String] = PipelineQueries.oracleSql ++ Map(
    "q01_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q02_filter_project" ->
      """SELECT doc_id, n_chars, source FROM documents
        |WHERE lang = 'en' AND n_chars >= 200 ORDER BY doc_id""".stripMargin,
    "q03_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q04_anti_join" ->
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q05_distinct" ->
      "SELECT DISTINCT lang, source FROM documents ORDER BY lang, source",
    "q06_percentile_by_group" ->
      """SELECT lang, ROUND(quantile_cont(n_chars, 0.95), 4) AS p95,
        | ROUND(quantile_cont(n_chars, 0.5), 4) AS median, COUNT(*) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q07_threshold_filter" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars >= (SELECT quantile_cont(n_chars, 0.95) FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q08_minmax_group" ->
      """SELECT event_type, MIN(value) AS mn, MAX(value) AS mx, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q09_intersect" ->
      """SELECT * FROM (
        | SELECT doc_id FROM documents WHERE lang = 'en'
        | INTERSECT
        | SELECT doc_id FROM documents WHERE n_chars > 250
        |) ORDER BY doc_id""".stripMargin,
    "q10_except" ->
      """SELECT * FROM (
        | SELECT doc_id FROM documents WHERE lang = 'en'
        | EXCEPT
        | SELECT doc_id FROM documents WHERE n_chars > 250
        |) ORDER BY doc_id""".stripMargin,
    "q11_union_label" ->
      """SELECT * FROM (
        | SELECT doc_id, 'suspicious' AS status FROM documents WHERE n_chars < 130
        | UNION ALL
        | SELECT doc_id, 'valid' AS status FROM documents WHERE n_chars >= 130
        |) ORDER BY doc_id""".stripMargin,
    "q12_topk_window" ->
      """SELECT lang, doc_id, n_chars FROM (
        | SELECT lang, doc_id, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
        | FROM documents) t
        |WHERE rn <= 3 ORDER BY lang, doc_id""".stripMargin,
    "q13_quality_rules" ->
      """SELECT doc_id,
        | CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
        |   / CAST(LENGTH(text) AS DOUBLE) AS sym_ratio,
        | LEN(STRING_SPLIT(text, ' ')) AS token_cnt,
        | CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(the|a|value|table)\b')) AS DOUBLE)
        |   / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS stop_ratio,
        | (n_chars >= 100 AND n_chars <= 400 AND
        |  CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
        |   / CAST(LENGTH(text) AS DOUBLE) <= 0.1) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q14_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS c FROM documents
        |GROUP BY text ORDER BY keep_id""".stripMargin,
    "q15_metrics_rates" ->
      """WITH e AS (SELECT doc_id FROM documents WHERE n_chars < 120),
        |     a AS (SELECT doc_id FROM documents WHERE n_chars < 150),
        |     x AS (SELECT COUNT(*) AS c FROM e WHERE doc_id IN (SELECT doc_id FROM a))
        |SELECT
        | CASE WHEN (SELECT COUNT(*) FROM e) > 0
        |      THEN CAST((SELECT c FROM x) AS DOUBLE) / (SELECT COUNT(*) FROM e)
        |      ELSE 0.0 END AS pd,
        | CASE WHEN (SELECT COUNT(*) FROM a) > 0
        |      THEN CAST((SELECT COUNT(*) FROM a) - (SELECT c FROM x) AS DOUBLE) / (SELECT COUNT(*) FROM a)
        |      ELSE 0.0 END AS sd,
        | CASE WHEN (SELECT COUNT(*) FROM e) > 0
        |      THEN CAST((SELECT COUNT(*) FROM e) - (SELECT c FROM x) AS DOUBLE) / (SELECT COUNT(*) FROM e)
        |      ELSE 1.0 END AS ud""".stripMargin,
    "q16_ngram_bigrams" ->
      """WITH t AS (SELECT STRING_SPLIT(text, ' ') AS w FROM documents),
        |p AS (SELECT w[i] || ' ' || w[i+1] AS bigram
        |      FROM t, UNNEST(RANGE(1, LEN(w))) AS r(i))
        |SELECT bigram, COUNT(*) AS cnt FROM p
        |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin,
    "q17_hour_window" ->
      """SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr,
        | event_type, COUNT(*) AS n, MIN(value) AS mn, MAX(value) AS mx
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q18_join_agg" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_scrub" -> {
      // Same frozen chain as Scrub.rules, innermost = first rule.
      val chain = graft.scrub.Scrub.rules.foldLeft("text") {
        case (acc, (_, pat, rep)) =>
          val p = pat.replace("'", "''")
          s"REGEXP_REPLACE($acc, '$p', '$rep', 'g')"
      }
      s"SELECT doc_id, $chain AS scrubbed FROM documents ORDER BY doc_id"
    },
    "q20_langid_heuristic" ->
      """WITH c AS (SELECT doc_id,
        | LEN(REGEXP_EXTRACT_ALL(text, '\b(the|a|of|and|on|with)\b')) AS c_en,
        | LEN(REGEXP_EXTRACT_ALL(text, '\b(le|la|une|de|qui|sur|avec)\b')) AS c_fr,
        | LEN(REGEXP_EXTRACT_ALL(text, '\b(der|die|das|ein|von|mit|und)\b')) AS c_de,
        | LEN(REGEXP_EXTRACT_ALL(text, '\b(el|una|de|que|en|con)\b')) AS c_es,
        | LEN(REGEXP_EXTRACT_ALL(text, '\b(de|zai|shang|yige|zhaopian)\b')) AS c_zh
        |FROM documents)
        |SELECT doc_id, CASE
        | WHEN GREATEST(c_en,c_fr,c_de,c_es,c_zh) = 0 THEN 'und'
        | WHEN c_en = GREATEST(c_en,c_fr,c_de,c_es,c_zh) THEN 'en'
        | WHEN c_fr = GREATEST(c_en,c_fr,c_de,c_es,c_zh) THEN 'fr'
        | WHEN c_de = GREATEST(c_en,c_fr,c_de,c_es,c_zh) THEN 'de'
        | WHEN c_es = GREATEST(c_en,c_fr,c_de,c_es,c_zh) THEN 'es'
        | WHEN c_zh = GREATEST(c_en,c_fr,c_de,c_es,c_zh) THEN 'zh'
        | ELSE 'und' END AS pred
        |FROM c ORDER BY doc_id""".stripMargin,
    "q21_fingerprint" ->
      """SELECT doc_id,
        | MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q22_token_counts" ->
      """SELECT doc_id,
        | LEN(REGEXP_EXTRACT_ALL(TRIM(text), '\S+')) AS n_ws,
        | LEN(REGEXP_EXTRACT_ALL(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q23_quality_score" ->
      """WITH t AS (SELECT doc_id, text,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(TRIM(text), '\S+')) AS DOUBLE) AS toks,
        |  GREATEST(
        |   LEN(REGEXP_EXTRACT_ALL(text, '\b(the|a|of|and|on|with)\b')),
        |   LEN(REGEXP_EXTRACT_ALL(text, '\b(le|la|une|de|qui|sur|avec)\b')),
        |   LEN(REGEXP_EXTRACT_ALL(text, '\b(der|die|das|ein|von|mit|und)\b')),
        |   LEN(REGEXP_EXTRACT_ALL(text, '\b(el|una|de|que|en|con)\b')),
        |   LEN(REGEXP_EXTRACT_ALL(text, '\b(de|zai|shang|yige|zhaopian)\b'))) AS stopmax
        | FROM documents)
        |SELECT doc_id, ROUND(
        |  (CASE WHEN LENGTH(text) >= 20 AND LENGTH(text) <= 2000 THEN 1.0 ELSE 0.0 END) * 0.25
        |  + LEAST(1.0, CAST(stopmax AS DOUBLE) / GREATEST(toks, 1.0) * 4) * 0.25
        |  + (CASE WHEN CAST(LENGTH(REGEXP_REPLACE(text, '\s+', '', 'g')) AS DOUBLE) / GREATEST(toks, 1.0) >= 2.5
        |          AND CAST(LENGTH(REGEXP_REPLACE(text, '\s+', '', 'g')) AS DOUBLE) / GREATEST(toks, 1.0) <= 12.0
        |     THEN 1.0 ELSE 0.0 END) * 0.25
        |  + (1.0 - LEAST(1.0,
        |      CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\p{L}\p{N}\s]', '', 'g')) AS DOUBLE)
        |       / GREATEST(LENGTH(text), 1) * 5)) * 0.25, 6) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,
    "q24_generic_zscore" ->
      """WITH s AS (SELECT AVG(CAST(n_chars AS DOUBLE)) AS m,
        |                  STDDEV_POP(CAST(n_chars AS DOUBLE)) AS sd FROM documents),
        |f AS (SELECT lang AS v, CAST(COUNT(*) AS DOUBLE) AS c FROM documents GROUP BY lang),
        |fm AS (SELECT MAX(c) AS mc FROM f),
        |scored AS (
        | SELECT d.doc_id,
        |  COALESCE(LEAST(1.0, GREATEST(0.0,
        |    (ABS(CAST(d.n_chars AS DOUBLE) - s.m) / s.sd - 3.0) / 3.0)), 1.0) AS s_num,
        |  1.0 - COALESCE(f.c / fm.mc, 0.0) AS s_cat
        | FROM documents d CROSS JOIN s CROSS JOIN fm
        | LEFT JOIN f ON f.v = COALESCE(CAST(d.lang AS VARCHAR), 'NULL'))
        |SELECT doc_id, ROUND(s_num, 4) AS s_num, ROUND(s_cat, 4) AS s_cat,
        | ROUND(GREATEST(s_num, s_cat), 4) AS inval
        |FROM scored ORDER BY doc_id""".stripMargin,
    "q25_generic_customer" ->
      """WITH s AS (
        |  SELECT AVG(CAST(c_acctbal AS DOUBLE)) AS m1,
        |         STDDEV_POP(CAST(c_acctbal AS DOUBLE)) AS sd1,
        |         AVG(CAST(c_nationkey AS DOUBLE)) AS m2,
        |         STDDEV_POP(CAST(c_nationkey AS DOUBLE)) AS sd2
        |  FROM customer),
        |f AS (SELECT c_mktsegment AS v, CAST(COUNT(*) AS DOUBLE) AS c
        |      FROM customer GROUP BY c_mktsegment),
        |fm AS (SELECT MAX(c) AS mc FROM f),
        |scored AS (
        | SELECT cu.c_custkey,
        |  COALESCE(LEAST(1.0, GREATEST(0.0,
        |    (ABS(CAST(cu.c_acctbal AS DOUBLE) - s.m1) / s.sd1 - 3.0) / 3.0)), 1.0) AS s1,
        |  COALESCE(LEAST(1.0, GREATEST(0.0,
        |    (ABS(CAST(cu.c_nationkey AS DOUBLE) - s.m2) / s.sd2 - 3.0) / 3.0)), 1.0) AS s2,
        |  1.0 - COALESCE(f.c / fm.mc, 0.0) AS s3
        | FROM customer cu CROSS JOIN s CROSS JOIN fm
        | LEFT JOIN f ON f.v = COALESCE(CAST(cu.c_mktsegment AS VARCHAR), 'NULL'))
        |SELECT c_custkey, ROUND(GREATEST(s1, s2, s3), 4) AS inval
        |FROM scored ORDER BY c_custkey""".stripMargin,
    "q28_salted_counts" ->
      // DuckDB SUM(BIGINT) returns HUGEINT (→ float64 in pandas); the
      // outer cast restores BIGINT so the hash compare sees the same type
      // Spark emits.
      """SELECT lang, COUNT(*) AS cnt,
        | CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q27_supplier_region" ->
      """SELECT r_name, COUNT(*) AS n_suppliers,
        | CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q26_pca_residual" ->
      """WITH s AS (
        |  SELECT AVG(CAST(c_acctbal AS DOUBLE)) AS mx,
        |         STDDEV_POP(CAST(c_acctbal AS DOUBLE)) AS sx,
        |         AVG(CAST(c_nationkey AS DOUBLE)) AS my,
        |         STDDEV_POP(CAST(c_nationkey AS DOUBLE)) AS sy,
        |         CORR(CAST(c_acctbal AS DOUBLE), CAST(c_nationkey AS DOUBLE)) AS r
        |  FROM customer),
        |z AS (
        |  SELECT c_custkey,
        |    (CAST(c_acctbal AS DOUBLE) - s.mx) / s.sx AS zx,
        |    (CAST(c_nationkey AS DOUBLE) - s.my) / s.sy AS zy,
        |    s.r AS r
        |  FROM customer CROSS JOIN s),
        |rr AS (
        |  SELECT c_custkey,
        |    ((zx*zx + zy*zy) -
        |     (zx + (CASE WHEN r >= 0 THEN 1.0 ELSE -1.0 END) * zy)
        |     * (zx + (CASE WHEN r >= 0 THEN 1.0 ELSE -1.0 END) * zy) / 2.0)
        |    / (1.0 - ABS(r) + 1e-9) AS ratio
        |  FROM z)
        |SELECT c_custkey,
        | ROUND(LEAST(1.0, GREATEST(0.0, (ratio - 3.0) / 6.0)), 4) AS s_pca
        |FROM rr ORDER BY c_custkey""".stripMargin
  )
}
