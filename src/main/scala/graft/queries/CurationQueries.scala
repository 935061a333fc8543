package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Corpus curation and data selection: cleaning, PII redaction, quality
  * rules, the curation report and training-corpus pipeline, mixes and
  * samples, packing and epoch shuffles, DSIR/drift/curriculum selection,
  * checksums, length buckets and train/val/test splits. */
object CurationQueries {

  /** Token-budgeted per-language corpus mix (5000 tokens per language,
    * quality tier first, bucket-granular cut — see Sampling.budgetedMix). */
  private def qCorpusMix(s: SparkSession, dir: String): DataFrame =
    pipeline.Sampling.budgetedMixBuckets(Tables.documents(s, dir), 5000L)
      .where(col("kept"))
      .groupBy("lang")
      .agg(sum("n_docs").cast("long").as("n_docs_kept"),
        sum("n_tokens").cast("long").as("n_tokens_kept"))
      .orderBy("lang")

  private val qCorpusMixSql = {
    val mixHash = DuckHash60.format("'graft-mix:' || CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (SELECT doc_id, lang, len($DuckToks) AS n_tokens,
       |  (len($DuckToks) >= 5 AND len($DuckToks) <= 100000
       |    AND len(list_filter($DuckToks, t -> list_contains($DuckEnStop, t))) * 100 >= len($DuckToks) * 2
       |    AND length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 10 <= length(text)) AS quality_ok
       |  FROM documents),
       |b AS (SELECT lang,
       |        (CASE WHEN quality_ok THEN 0 ELSE 1024 END) + ($mixHash % 1024) AS mix_bucket,
       |        n_tokens FROM t),
       |pb AS (SELECT lang, mix_bucket, COUNT(*) AS n_docs,
       |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |       FROM b GROUP BY 1, 2),
       |c AS (SELECT lang, n_docs, n_tokens,
       |        CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY mix_bucket
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |      FROM pb)
       |SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_docs_kept,
       |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept
       |FROM c WHERE cum <= 5000 GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Deterministic stratified sampling over documents (salted md5 buckets:
    * reproducible across runs and engines, no RNG state). */
  private def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    pipeline.Sampling.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "lang"),
        col("lang"), col("doc_id"),
        rates = Map("en" -> 50, "de" -> 30), defaultPct = 10)
      .orderBy("doc_id")

  private val qSampleStratifiedSql =
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    ${DuckHash60.format("concat('graft:', CAST(doc_id AS VARCHAR))")} % 100 AS bucket
       |  FROM documents)
       |SELECT doc_id, lang FROM b
       |WHERE bucket < (CASE WHEN lang = 'en' THEN 50
       |                     WHEN lang = 'de' THEN 30 ELSE 10 END)
       |ORDER BY doc_id""".stripMargin

  /** Composite training-data pipeline: quality filter -> exact-dedup
    * keep-first -> deterministic 50% sample, rolled up per language. The
    * end-to-end shape a corpus-cleaning job runs; every stage is one of the
    * library operators composing on DataFrames. */
  private def qCleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val stats = pipeline.TextAnalysis.textStats(Tables.documents(s, dir))
      .where(col("quality_ok"))
      .select("doc_id", "n_tokens")
    val kept = pipeline.Dedup.exact(Tables.documents(s, dir))
      .where(col("keep")).select("doc_id")
    val sampled = pipeline.Sampling.hashSample(
      stats.join(kept, "doc_id"), col("doc_id"), 50)
    Tables.documents(s, dir).select("doc_id", "lang")
      .join(sampled, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .orderBy("lang")
  }

  private val qCleanCorpusSql =
    s"""WITH st AS (
       |  SELECT doc_id, lang, len($DuckToks) AS n_tokens,
       |    len(list_filter($DuckToks, t -> list_contains($DuckEnStop, t))) AS stopword_count,
       |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_count,
       |    length(text) AS n_chars,
       |    $DuckFp AS fingerprint
       |  FROM documents),
       |ok AS (
       |  SELECT * FROM st
       |  WHERE n_tokens >= 5 AND n_tokens <= 100000
       |    AND stopword_count * 100 >= n_tokens * 2
       |    AND punct_count * 10 <= n_chars),
       |kept AS (
       |  SELECT doc_id, lang, n_tokens FROM (
       |    SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep
       |    FROM st) WHERE keep),
       |sampled AS (
       |  SELECT o.doc_id, o.lang, o.n_tokens
       |  FROM ok o JOIN kept k ON o.doc_id = k.doc_id
       |  WHERE ${DuckHash60.format("concat('graft:', CAST(o.doc_id AS VARCHAR))")} % 100 < 50)
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM sampled GROUP BY lang ORDER BY lang""".stripMargin


  /** Curation-funnel retention report (Curation.retentionReport): doc and
    * token survival through raw -> exact-dedup -> quality -> 50% sample,
    * as counts and basis points of raw. The per-doc flags relation is
    * computed once (textStats projection + Dedup.exact's fingerprint
    * window); the report itself is ONE keyless conditional aggregate +
    * a 1-row unpivot — never one corpus scan per stage. */
  private def qCurationReport(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val flags = pipeline.TextAnalysis.textStats(docs)
      .select("doc_id", "n_tokens", "quality_ok")
      .join(pipeline.Dedup.exact(docs).select("doc_id", "keep"), "doc_id")
    pipeline.Curation.retentionReport(flags, col("n_tokens"), Seq(
        "raw" -> lit(true),
        "deduped" -> col("keep"),
        "quality" -> (col("keep") && col("quality_ok")),
        "sampled" -> (col("keep") && col("quality_ok") &&
          (pipeline.Sampling.bucket(col("doc_id"), "graft") < 50))))
      .orderBy("stage_idx")
  }

  private val qCurationReportSql =
    s"""WITH st AS (
       |  SELECT doc_id, len($DuckToks) AS n_tokens,
       |    len(list_filter($DuckToks, t -> list_contains($DuckEnStop, t))) AS stopword_count,
       |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_count,
       |    length(text) AS n_chars,
       |    $DuckFp AS fingerprint
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, n_tokens,
       |    (n_tokens >= 5 AND n_tokens <= 100000
       |      AND stopword_count * 100 >= n_tokens * 2
       |      AND punct_count * 10 <= n_chars) AS quality_ok,
       |    doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep,
       |    ${DuckHash60.format("concat('graft:', CAST(doc_id AS VARCHAR))")} % 100 < 50 AS sampled
       |  FROM st),
       |u AS (
       |  SELECT 0 AS i, 'raw' AS stage, COUNT(*) AS n_docs,
       |    COALESCE(SUM(n_tokens), 0) AS tt FROM f
       |  UNION ALL SELECT 1, 'deduped', COUNT(*), COALESCE(SUM(n_tokens), 0)
       |    FROM f WHERE keep
       |  UNION ALL SELECT 2, 'quality', COUNT(*), COALESCE(SUM(n_tokens), 0)
       |    FROM f WHERE keep AND quality_ok
       |  UNION ALL SELECT 3, 'sampled', COUNT(*), COALESCE(SUM(n_tokens), 0)
       |    FROM f WHERE keep AND quality_ok AND sampled),
       |r AS (SELECT n_docs AS rd, tt AS rt FROM u WHERE i = 0)
       |SELECT CAST(i AS BIGINT) AS stage_idx, stage, n_docs,
       |  CAST(tt AS BIGINT) AS total_tokens,
       |  CAST(n_docs * 10000 // rd AS BIGINT) AS docs_bp,
       |  CAST(tt * 10000 // rt AS BIGINT) AS tokens_bp
       |FROM u, r ORDER BY stage_idx""".stripMargin


  /** The flagship end-to-end training-corpus pipeline: hold out the
    * benchmark slice, keep quality-passing docs, exact keep-first dedup,
    * drop non-canonical near-dup cluster members, drop benchmark-
    * contaminated docs, and summarize the surviving mixture per language.
    * Every stage is an oracle-proven operator; the composition is semi/anti
    * joins against small per-stage decision relations, so the corpus side
    * stays narrow and each stage's shuffle shape is unchanged from its
    * standalone query. */
  private def qTrainingCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.where(col("doc_id") % 97 =!= 0)
    val bench = docs.where(col("doc_id") % 97 === 0)
    val quality = pipeline.TextAnalysis.textStats(docs)
      .where(col("quality_ok")).select("doc_id")
    val keepFirst = pipeline.Dedup.exact(docs).where(col("keep")).select("doc_id")
    val nonCanonical = pipeline.Dedup.resolveClusters(
        pipeline.Dedup.minhashLshPairs(docs))
      .where(col("doc_id") =!= col("cluster_id")).select("doc_id")
    val contaminated = pipeline.Dedup.contamination(corpus, bench).select("doc_id")
    corpus
      .join(quality, Seq("doc_id"), "left_semi")
      .join(keepFirst, Seq("doc_id"), "left_semi")
      .join(nonCanonical, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  /** CTE names are disjoint from those inside the nested MinHash SQL —
    * under WITH RECURSIVE the outer names are visible inside nested
    * subqueries and would silently shadow same-named inner CTEs. */
  private val qTrainingCorpusSql =
    s"""WITH RECURSIVE mh_pairs AS (${DedupQueries.dedupMinhashLshSql}),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM mh_pairs
       |          UNION SELECT doc_b, doc_a FROM mh_pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |noncanon AS (SELECT u AS doc_id FROM reach
       |             GROUP BY u HAVING LEAST(u, MIN(v)) <> u),
       |q_ok AS (SELECT doc_id FROM documents
       |         WHERE len($DuckToks) >= 5 AND len($DuckToks) <= 100000
       |           AND len(list_filter($DuckToks, t -> list_contains($DuckEnStop, t))) * 100
       |               >= len($DuckToks) * 2
       |           AND length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 10
       |               <= length(text)),
       |fpx AS (SELECT doc_id, $DuckFp AS f FROM documents),
       |keepfirst AS (SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY f) AS m FROM fpx)
       |  WHERE doc_id = m),
       |ct_toks AS (SELECT doc_id, $DuckToks AS t FROM documents),
       |ct_sh AS (SELECT doc_id, list_distinct(list_transform(
       |            range(1, greatest(len(t) - 2, 0) + 1),
       |            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM ct_toks),
       |ct_sh2 AS (SELECT * FROM ct_sh WHERE len(sh) > 0),
       |ct_hs AS (SELECT doc_id, list_transform(sh,
       |            s -> ${DuckHash60.format("s")}) AS hs FROM ct_sh2),
       |ct_bench AS (SELECT DISTINCT h FROM (
       |               SELECT unnest(hs) AS h FROM ct_hs WHERE doc_id % 97 = 0)),
       |ct_expl AS (SELECT doc_id, unnest(hs) AS h FROM ct_hs WHERE doc_id % 97 <> 0),
       |contaminated AS (SELECT e.doc_id FROM ct_expl e JOIN ct_bench b USING (h)
       |                 GROUP BY e.doc_id HAVING COUNT(*) >= 3)
       |SELECT d.lang, COUNT(*) AS n_docs, CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
       |FROM documents d
       |JOIN q_ok USING (doc_id)
       |JOIN keepfirst USING (doc_id)
       |WHERE d.doc_id % 97 <> 0
       |  AND NOT EXISTS (SELECT 1 FROM noncanon n WHERE n.doc_id = d.doc_id)
       |  AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = d.doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin


  /** The driver corpus is synthetic word soup with no real PII, so the
    * scan would gate nothing; this fixture deterministically plants
    * emails/phones/SSNs/IPs from doc_id arithmetic (same spirit as
    * MetaFixtures: both engines re-derive the identical augmented text,
    * so detection AND redaction are oracle-checked on non-trivial
    * inputs). */
  private def piiAugmented(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def pad(x: Column, n: Int) = lpad(x.cast("string"), n, "0")
    Tables.documents(s, dir).withColumn("text", concat(
      col("text"),
      when(id % 3 === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@example.com soon"))).otherwise(lit("")),
      when(id % 5 === 1, concat(lit(" call +1-"), pad((id * 7) % 1000, 3),
        lit("-"), pad((id * 13) % 1000, 3), lit("-"),
        pad((id * 17) % 10000, 4))).otherwise(lit("")),
      when(id % 11 === 3, concat(lit(" ssn "), pad((id * 19) % 1000, 3),
        lit("-"), pad((id * 23) % 100, 2), lit("-"),
        pad((id * 29) % 10000, 4))).otherwise(lit("")),
      when(id % 7 === 2, concat(lit(" host 10."), (id % 250).cast("string"),
        lit("."), ((id * 3) % 250).cast("string"),
        lit("."), ((id * 11) % 250).cast("string"))).otherwise(lit(""))))
  }

  // single physical line per concatenation leg: this fragment is
  // interpolated into another stripMargin block, and a leading `||` after
  // the margin would get its first pipe eaten by the second strip
  private val piiAugmentedSqlText =
    "text" +
      " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com soon' ELSE '' END" +
      " || CASE WHEN doc_id % 5 = 1 THEN ' call +1-' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')" +
      " || '-' || lpad(CAST((doc_id * 13) % 1000 AS VARCHAR), 3, '0')" +
      " || '-' || lpad(CAST((doc_id * 17) % 10000 AS VARCHAR), 4, '0') ELSE '' END" +
      " || CASE WHEN doc_id % 11 = 3 THEN ' ssn ' || lpad(CAST((doc_id * 19) % 1000 AS VARCHAR), 3, '0')" +
      " || '-' || lpad(CAST((doc_id * 23) % 100 AS VARCHAR), 2, '0')" +
      " || '-' || lpad(CAST((doc_id * 29) % 10000 AS VARCHAR), 4, '0') ELSE '' END" +
      " || CASE WHEN doc_id % 7 = 2 THEN ' host 10.' || CAST(doc_id % 250 AS VARCHAR)" +
      " || '.' || CAST((doc_id * 3) % 250 AS VARCHAR)" +
      " || '.' || CAST((doc_id * 11) % 250 AS VARCHAR) ELSE '' END"

  private def piiRedact(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.piiScan(piiAugmented(s, dir))
      .select("doc_id", "n_email", "n_phone", "n_ssn", "n_ip", "n_pii",
        "redacted")
      .orderBy("doc_id")

  private val piiRedactSql = {
    val rules = pipeline.Curation.DefaultPiiRules
    val counts = rules.map(r =>
      s"len(regexp_extract_all(text, '${r.regex}')) AS n_${r.name}").mkString(",\n |  ")
    val redacted = rules.foldLeft("text") { (acc, r) =>
      s"regexp_replace($acc, '${r.regex}', '${r.replacement}', 'g')"
    }
    s"""WITH aug AS (SELECT doc_id, $piiAugmentedSqlText AS text FROM documents)
       |SELECT doc_id,
       |  $counts,
       |  ${rules.map(r => s"len(regexp_extract_all(text, '${r.regex}'))").mkString(" + ")} AS n_pii,
       |  $redacted AS redacted
       |FROM aug ORDER BY doc_id""".stripMargin
  }

  private def qQualityRules(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.qualityRules(Tables.documents(s, dir))
      .select("doc_id", "n_tokens", "token_chars", "n_numerals", "stop_hits",
        "mean_len_micros", "keep", "reasons")
      .orderBy("doc_id")

  private val qQualityRulesSql = {
    // rule list sorted by name — the same stable order the Scala side uses
    val fails = Seq(
      "mean_word_long" -> "mean_len_micros > 12000000",
      "mean_word_short" -> "n_tokens >= 5 AND mean_len_micros < 2000000",
      "no_stopwords" -> "stop_hits < 1",
      "numeral_heavy" -> "n_numerals * 100 > n_tokens * 30",
      "too_few_tokens" -> "n_tokens < 5",
      "too_many_tokens" -> "n_tokens > 100000")
    val reasonList = fails.map { case (n, c) =>
      s"CASE WHEN $c THEN '$n' END" }.mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |s AS (SELECT doc_id,
       |  len(toks) AS n_tokens,
       |  CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS token_chars,
       |  len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+'))) AS n_numerals,
       |  len(list_filter(toks, x -> list_contains($DuckEnStop, x))) AS stop_hits
       |  FROM t),
       |m AS (SELECT *, CASE WHEN n_tokens > 0
       |    THEN token_chars * 1000000 // n_tokens ELSE 0 END AS mean_len_micros
       |  FROM s)
       |SELECT doc_id, n_tokens, token_chars, n_numerals, stop_hits,
       |  CAST(mean_len_micros AS BIGINT) AS mean_len_micros,
       |  NOT (${fails.map(_._2).map(c => s"($c)").mkString(" OR ")}) AS keep,
       |  COALESCE(array_to_string(list_filter($reasonList, x -> x IS NOT NULL), ','), '') AS reasons
       |FROM m ORDER BY doc_id""".stripMargin
  }

  private def qPackSequences(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.packSequences(Tables.documents(s, dir))
      .orderBy("doc_id")

  private val qPackSequencesSql =
    s"""WITH t AS (SELECT doc_id, doc_id % 8 AS bucket,
       |  len($DuckToks) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, bucket, n_tokens,
       |  SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum FROM t)
       |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST((cum - n_tokens) // 256 AS BIGINT) AS seq,
       |  CAST((cum - n_tokens) % 256 AS BIGINT) AS seq_offset
       |FROM c ORDER BY doc_id""".stripMargin

  /** Epoch-2 training order over the documents corpus: 16 shards, md5
    * permutation (Curation.epochShuffle). The md5 key makes the shuffle
    * engine-independent, so the oracle re-derives the identical
    * (shard, pos) assignment. */
  private def qEpochShuffle(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.epochShuffle(
        Tables.documents(s, dir), col("doc_id"), epoch = 2, nShards = 16)
      .orderBy("id")

  private val qEpochShuffleSql =
    s"""WITH k AS (SELECT doc_id AS id,
       |    md5(doc_id || ':2') AS shuffle_key FROM documents),
       |s AS (SELECT id, shuffle_key,
       |    ('0x' || substr(shuffle_key, 1, 8))::BIGINT % 16 AS shard FROM k)
       |SELECT id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard
       |    ORDER BY shuffle_key, id) AS BIGINT) AS pos,
       |  shuffle_key
       |FROM s ORDER BY id""".stripMargin

  /** Priority sampling (Duffield/Lund/Thorup): 20 docs per language,
    * inclusion probability proportional to n_chars — priority =
    * salted-hash div weight, k smallest win. Integer-exact, RNG-free,
    * re-run-stable (see pipeline.Sampling.prioritySample). */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    pipeline.Sampling.prioritySample(
        Tables.documents(s, dir).select("doc_id", "lang", "n_chars"),
        col("lang"), col("doc_id"), col("n_chars"), k = 20)
      .orderBy("lang", "doc_id")

  private val qWeightedSampleSql =
    s"""WITH pri AS (
       |  SELECT doc_id, lang, n_chars,
       |    ${DuckHash60.format("concat('graft-pri:', CAST(doc_id AS VARCHAR))")} AS u
       |  FROM documents WHERE n_chars > 0),
       |ranked AS (
       |  SELECT doc_id, lang, n_chars, row_number() OVER (
       |    PARTITION BY lang ORDER BY u // n_chars, u, doc_id) AS rk
       |  FROM pri)
       |SELECT doc_id, lang, n_chars FROM ranked
       |WHERE rk <= 20 ORDER BY lang, doc_id""".stripMargin

  /** DSIR-style importance resampling (Selection.dsirSample): weight every
    * document by its smoothed target-share unigram average (target slice =
    * English docs), then priority-sample 10 docs per language proportional
    * to the weight. Exact-integer, RNG-free — the oracle re-derives the
    * vocabulary statistics, the weights, and the salted-hash sample. */
  private def qDsirSample(s: SparkSession, dir: String): DataFrame =
    pipeline.Selection.dsirSample(
        Tables.documents(s, dir).select("doc_id", "lang", "text"),
        col("lang") === "en", group = "lang", k = 10)
      .orderBy("lang", "doc_id")

  private val qDsirSampleSql =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, lang = 'en' AS is_target,
       |    unnest($DuckToks) AS term FROM documents),
       |vocab AS (
       |  SELECT term,
       |    CAST((SUM(CASE WHEN is_target THEN 1 ELSE 0 END) + 1) * 1000000
       |         // (COUNT(*) + 2) AS BIGINT) AS share_micros
       |  FROM toks GROUP BY term),
       |w AS (
       |  SELECT doc_id, any_value(lang) AS lang, COUNT(*) AS n_tokens,
       |    CAST(SUM(share_micros) // COUNT(*) AS BIGINT) AS weight_micros
       |  FROM toks JOIN vocab USING (term) GROUP BY doc_id),
       |pri AS (
       |  SELECT *, ${DuckHash60.format("concat('graft-pri:', CAST(doc_id AS VARCHAR))")} AS u
       |  FROM w WHERE weight_micros > 0),
       |ranked AS (
       |  SELECT doc_id, lang, n_tokens, weight_micros, row_number() OVER (
       |    PARTITION BY lang ORDER BY u // weight_micros, u, doc_id) AS rk
       |  FROM pri)
       |SELECT doc_id, lang, n_tokens, weight_micros FROM ranked
       |WHERE rk <= 10 ORDER BY lang, doc_id""".stripMargin

  /** Cross-slice unigram drift (Selection.corpusDrift): top-25 terms by
    * absolute share difference between sources src0-src9 and src10-src19 —
    * the per-term contribution to total-variation distance. */
  private def qCorpusDrift(s: SparkSession, dir: String): DataFrame = {
    val srcNum = expr("CAST(substring(source, 4, 10) AS INT)")
    pipeline.Selection.corpusDrift(
        Tables.documents(s, dir).select("source", "text"),
        srcNum < 10, srcNum >= 10, topK = 25)
      .orderBy(col("drift_micros").desc, col("term"))
  }

  private val qCorpusDriftSql =
    s"""WITH tagged AS (
       |  SELECT CAST(substr(source, 4) AS INT) < 10 AS in_a,
       |         CAST(substr(source, 4) AS INT) >= 10 AS in_b, text
       |  FROM documents),
       |toks AS (SELECT in_a, in_b, unnest($DuckToks) AS term
       |         FROM tagged WHERE in_a OR in_b),
       |stats AS (SELECT term,
       |    SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS cnt_a,
       |    SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS cnt_b
       |  FROM toks GROUP BY term),
       |tot AS (SELECT SUM(cnt_a) AS tot_a, SUM(cnt_b) AS tot_b FROM stats),
       |sh AS (SELECT term, CAST(cnt_a AS BIGINT) AS cnt_a,
       |    CAST(cnt_b AS BIGINT) AS cnt_b,
       |    CAST(CASE WHEN tot_a = 0 THEN 0
       |         ELSE cnt_a * 1000000 // tot_a END AS BIGINT) AS share_a_micros,
       |    CAST(CASE WHEN tot_b = 0 THEN 0
       |         ELSE cnt_b * 1000000 // tot_b END AS BIGINT) AS share_b_micros
       |  FROM stats, tot)
       |SELECT term, cnt_a, cnt_b, share_a_micros, share_b_micros,
       |  abs(share_a_micros - share_b_micros) AS drift_micros
       |FROM sh ORDER BY drift_micros DESC, term LIMIT 25""".stripMargin

  /** Curriculum interleave (Selection.curriculumInterleave): quality =
    * distinct-token ratio, strata = the 20 sources; sparse interleave key
    * = (pos-1)*20 + src so high-quality docs lead and sources round-robin,
    * with ONE per-stratum rank window and no global sort. */
  private def qCurriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
      .withColumn("toks", pipeline.TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      .withColumn("quality", expr(
        "CASE WHEN n_toks > 0 THEN n_distinct * 1000000 div n_toks ELSE 0L END"))
    pipeline.Selection.curriculumInterleave(docs,
        expr("CAST(substring(source, 4, 10) AS BIGINT)"), nStrata = 20,
        col("quality"))
      .select("doc_id", "source", "stratum_idx", "quality_micros",
        "pos_in_stratum", "interleave_key")
      .orderBy("interleave_key")
  }

  private val qCurriculumOrderSql =
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(substr(source, 4) AS BIGINT) AS stratum_idx,
       |    $DuckToks AS toks FROM documents),
       |qv AS (SELECT doc_id, source, stratum_idx,
       |    CASE WHEN len(toks) > 0
       |      THEN CAST(len(list_distinct(toks)) * 1000000 // len(toks) AS BIGINT)
       |      ELSE 0 END AS quality_micros FROM t),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY stratum_idx
       |    ORDER BY quality_micros DESC, doc_id) AS BIGINT) AS pos_in_stratum
       |  FROM qv)
       |SELECT doc_id, source, stratum_idx, quality_micros, pos_in_stratum,
       |  (pos_in_stratum - 1) * 20 + stratum_idx AS interleave_key
       |FROM r ORDER BY interleave_key""".stripMargin

  /** Order-independent per-source corpus checksum (Curation.corpusChecksum)
    * — XOR-folded salted hashes + exact counts; the ingest/backfill
    * byte-equivalence gate. */
  private def qCorpusChecksum(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.corpusChecksum(Tables.documents(s, dir),
        col("source"), col("doc_id"), col("text"))
      .orderBy("slice")

  private val qCorpusChecksumSql =
    s"""WITH h AS (SELECT source AS slice,
       |    ${DuckHash60.format("CAST(doc_id AS VARCHAR)")} AS kh,
       |    ${DuckHash60.format("text")} AS ph,
       |    length(text) AS n_chars
       |  FROM documents)
       |SELECT slice, COUNT(*) AS n_rows, bit_xor(kh) AS key_checksum,
       |  bit_xor(ph) AS payload_checksum,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars
       |FROM h GROUP BY slice ORDER BY slice""".stripMargin

  /** Power-of-2 length-bucket batching report (Curation.lengthBuckets)
    * over document token counts: per bucket, docs/tokens and the exact
    * padding-waste fraction a length-bucketed batcher pays. */
  private def qLengthBuckets(s: SparkSession, dir: String): DataFrame =
    pipeline.Curation.lengthBuckets(
        Tables.documents(s, dir).select(
          size(pipeline.TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_toks")),
        col("n_toks"), minBucket = 16L, maxBucket = 256L)
      .orderBy("bucket_hi")

  private val qLengthBucketsSql =
    s"""WITH t AS (SELECT len($DuckToks) AS n FROM documents),
       |b AS (SELECT n, CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
       |    WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 ELSE 256 END
       |    AS bucket_hi FROM t)
       |SELECT CAST(bucket_hi AS BIGINT) AS bucket_hi, COUNT(*) AS n_docs,
       |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
       |  CAST(COUNT(*) * bucket_hi AS BIGINT) AS padded_tokens,
       |  CAST((COUNT(*) * bucket_hi - SUM(LEAST(n, bucket_hi))) * 1000000
       |       // (COUNT(*) * bucket_hi) AS BIGINT) AS waste_micros
       |FROM b GROUP BY bucket_hi ORDER BY bucket_hi""".stripMargin

  /** Deterministic 80/10/10 train/val/test split (Sampling.split3) rolled
    * up per (lang, split) — the salted-hash assignment is re-derived in
    * the oracle, so the exact membership (not just the proportions) is
    * under the hash via the per-group token sums. */
  private def qTrainValTest(s: SparkSession, dir: String): DataFrame =
    pipeline.Sampling.split3(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          size(pipeline.TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tokens")),
        col("doc_id"), trainPct = 80, valPct = 10)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .orderBy("lang", "split")

  private val qTrainValTestSql =
    s"""WITH t AS (SELECT doc_id, lang, len($DuckToks) AS n_tokens,
       |    ${DuckHash60.format("concat('graft-split:', CAST(doc_id AS VARCHAR))")} % 100 AS b
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |       ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM t GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_sample_stratified", qSampleStratified, qSampleStratifiedSql),
    QuerySpec("q_clean_corpus", qCleanCorpus, qCleanCorpusSql),
    QuerySpec("q_curation_report", qCurationReport, qCurationReportSql),
    QuerySpec("q_training_corpus", qTrainingCorpus, qTrainingCorpusSql),
    QuerySpec("q_corpus_mix", qCorpusMix, qCorpusMixSql),
    QuerySpec("pii_redact", piiRedact, piiRedactSql),
    QuerySpec("q_quality_rules", qQualityRules, qQualityRulesSql),
    QuerySpec("q_pack_sequences", qPackSequences, qPackSequencesSql),
    QuerySpec("q_epoch_shuffle", qEpochShuffle, qEpochShuffleSql),
    QuerySpec("q_weighted_sample", qWeightedSample, qWeightedSampleSql),
    QuerySpec("q_dsir_sample", qDsirSample, qDsirSampleSql),
    QuerySpec("q_corpus_drift", qCorpusDrift, qCorpusDriftSql),
    QuerySpec("q_curriculum_order", qCurriculumOrder, qCurriculumOrderSql),
    QuerySpec("q_corpus_checksum", qCorpusChecksum, qCorpusChecksumSql),
    QuerySpec("q_length_buckets", qLengthBuckets, qLengthBucketsSql),
    QuerySpec("q_train_val_test", qTrainValTest, qTrainValTestSql)
  )
}
