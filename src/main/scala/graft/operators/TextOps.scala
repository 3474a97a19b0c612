package graft.operators

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline extensions (token stats, language-ID heuristic, quality
  * scoring, document fingerprinting). No reference counterpart (the
  * reference is a retail ETL); these follow the standard LLM-corpus
  * preprocessing recipes (Gopher/C4-style heuristic filters).
  *
  * Scale notes: every query is scan → narrow per-row array expressions →
  * (optional) explode + hash-agg. No joins, no windows; the only shuffle is
  * the final aggregation, partial-aggregated map-side. All expressions are
  * codegen'd Catalyst builtins — no UDFs — so at 100 TB these run at scan
  * throughput with column pruning (only `doc_id`,`text`,`lang` are read).
  */
object TextOps {

  private def docToks(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("text"), toks(col("text")).as("t"))

  /** `n / n_tokens` as a double, NULL for a zero-token (empty or
    * whitespace-only) document — what the oracle's DuckDB division
    * gives, where ANSI Spark would throw `DIVIDE_BY_ZERO` for the whole
    * query.
    */
  private def perToken(n: Column): Column =
    n.cast("double") / when(col("n_tokens") =!= 0, col("n_tokens"))

  /** Token statistics: counts, type-token ratio, mean token length.
    * Double divisions are ordered identically in the oracle so hashes match
    * bit-for-bit.
    */
  /** BPE-ish subtokenizer regex: letter runs, digit runs, single
    * punctuation marks — the standard pre-tokenization shape. Portable:
    * both engines use a regexp_extract_all with this exact pattern.
    */
  val SubtokenRe = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    docToks(spark, dir)
      .select(
        col("doc_id"),
        size(col("t")).as("n_tokens"),
        size(array_distinct(col("t"))).as("n_uniq"),
        size(regexp_extract_all(lower(col("text")), lit(SubtokenRe), lit(0)))
          .as("n_subtokens"),
        aggregate(transform(col("t"), x => length(x)), lit(0), (a, x) => a + x)
          .as("sum_len"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_uniq"), col("n_subtokens"),
        perToken(col("n_uniq")).as("ttr"),
        perToken(col("sum_len")).as("avg_token_len"))
      .orderBy(col("doc_id"))

  val tokenStatsSql: String =
    s"""WITH toks AS (SELECT doc_id, text, $toksSql AS t FROM documents),
      |s AS (SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_uniq,
      |  len(regexp_extract_all(lower(text), '$SubtokenRe')) AS n_subtokens,
      |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_len FROM toks)
      |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, CAST(n_uniq AS INT) AS n_uniq,
      |  CAST(n_subtokens AS INT) AS n_subtokens,
      |  CAST(n_uniq AS DOUBLE) / n_tokens AS ttr,
      |  CAST(sum_len AS DOUBLE) / n_tokens AS avg_token_len
      |FROM s ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic: stopword-set hit counts per language, highest
    * wins (en-biased tiebreak), compared against the labeled `lang`.
    */
  def langProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = docToks(spark, dir)
      .select(col("doc_id"), col("lang"),
        stopHits(col("t"), enStops).as("en_hits"),
        stopHits(col("t"), esStops).as("es_hits"),
        size(col("t")).as("n_tokens"))
    d.select(
        col("doc_id"), col("lang"), col("en_hits"), col("es_hits"),
        perToken(col("en_hits")).as("stop_ratio"),
        when(col("en_hits") >= col("es_hits") && col("en_hits") > 0, "en")
          .when(col("es_hits") > col("en_hits"), "es")
          .otherwise("und").as("predicted"))
      .withColumn("agree", col("predicted") === col("lang"))
      .orderBy(col("doc_id"))
  }

  val langProfileSql: String =
    s"""WITH toks AS (SELECT doc_id, lang, $toksSql AS t FROM documents),
      |h AS (SELECT doc_id, lang,
      |  ${stopHitsSql(enStops)} AS en_hits,
      |  ${stopHitsSql(esStops)} AS es_hits,
      |  len(t) AS n_tokens FROM toks)
      |SELECT doc_id, lang, CAST(en_hits AS INT) AS en_hits, CAST(es_hits AS INT) AS es_hits,
      |  CAST(en_hits AS DOUBLE) / n_tokens AS stop_ratio,
      |  CASE WHEN en_hits >= es_hits AND en_hits > 0 THEN 'en'
      |       WHEN es_hits > en_hits THEN 'es' ELSE 'und' END AS predicted,
      |  (CASE WHEN en_hits >= es_hits AND en_hits > 0 THEN 'en'
      |        WHEN es_hits > en_hits THEN 'es' ELSE 'und' END = lang) AS agree
      |FROM h ORDER BY doc_id""".stripMargin

  /** Gopher-style quality score: length term + stopword-density term +
    * word-length term, each clamped to [0,1], fixed weights; bucketed.
    * Term order is fixed left-to-right so double sums are bit-identical
    * across engines.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScoreUnsorted(spark, dir).orderBy(col("doc_id"))

  /** The score frame without the presentation sort — q62's canonical
    * pick consumes it straight into a join.
    */
  private[operators] def qualityScoreUnsorted(spark: SparkSession, dir: String): DataFrame =
    qualityScoreOf(Tables.spread(Tables.documents(spark, dir)))

  /** The q18 score over an explicit documents frame (`doc_id`, `text`) —
    * the seam [[graft.pipelines.CorpusPipeline]]'s quality stage drives
    * against its at-rest stage table.
    */
  private[graft] def qualityScoreOf(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), col("text"), toks(col("text")).as("t"))
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(col("t")).as("n_tokens"),
        stopHits(col("t"), enStops).as("en_hits"),
        aggregate(transform(col("t"), x => length(x)), lit(0), (a, x) => a + x)
          .as("sum_len"))
    // no round(): Spark and DuckDB round() differ by 1 ulp at decimal
    // boundaries; the unrounded doubles are bit-identical (same fold order)
    val score =
      least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.4 +
      perToken(col("en_hits")) * 0.3 +
      least(lit(1.0), perToken(col("sum_len")) / 10.0) * 0.3
    d.withColumn("score", score)
      .withColumn("bucket",
        when(col("score") >= 0.5, "high")
          .when(col("score") >= 0.3, "medium").otherwise("low"))
      .select("doc_id", "n_chars_m", "n_tokens", "score", "bucket")
  }

  val qualityScoreSql: String =
    s"""WITH toks AS (SELECT doc_id, length(text) AS n_chars_m, $toksSql AS t FROM documents),
      |s AS (SELECT doc_id, n_chars_m, len(t) AS n_tokens,
      |  ${stopHitsSql(enStops)} AS en_hits,
      |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_len FROM toks),
      |sc AS (SELECT doc_id, n_chars_m, n_tokens,
      |  least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4 +
      |        (CAST(en_hits AS DOUBLE) / n_tokens) * 0.3 +
      |        least(1.0, (CAST(sum_len AS DOUBLE) / n_tokens) / 10.0) * 0.3 AS score
      | FROM s)
      |SELECT doc_id, CAST(n_chars_m AS INT) AS n_chars_m, CAST(n_tokens AS INT) AS n_tokens, score,
      |  CASE WHEN score >= 0.5 THEN 'high' WHEN score >= 0.3 THEN 'medium'
      |       ELSE 'low' END AS bucket
      |FROM sc ORDER BY doc_id""".stripMargin

  /** Per-document salient terms: rank each doc's tokens by term frequency
    * (desc), document frequency (asc — rarer across the corpus beats
    * common), then term text; keep the top 3. The tf-idf shape with
    * integer-only ranking (no float idf, so cross-engine determinism is
    * structural). Plan: one (doc, token) hash-agg → a broadcast join
    * against the (small) vocabulary df table → per-doc top-k window.
    */
  def topTerms(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.TransientCache.register(docToks(spark, dir)
      .select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      // consumed twice — as the join probe AND as df's input; uncached,
      // the explode+agg lineage runs once per consumer (self-join rule)
      .cache())
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term"))
    tf.join(broadcast(df), Seq("term"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val topTermsSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |tf AS (
      |  SELECT doc_id, unnest(t) AS term FROM toks),
      |tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
      |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
      |ranked AS (
      |  SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df,
      |    row_number() OVER (PARTITION BY tfc.doc_id
      |                       ORDER BY tfc.tf DESC, dfc.df ASC, tfc.term) AS rank
      |  FROM tfc JOIN dfc ON tfc.term = dfc.term)
      |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df
      |FROM ranked WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** Document fingerprints: whole-text md5 + 60-bit hash, plus a min-hash
    * over word-3-gram shingles (the 1-permutation minhash — a content
    * fingerprint stable under small edits) and the distinct-shingle count.
    * The shingle side reads [[Dedup.shingleIndex]] — the same cached
    * distinct (doc, shingle-hash) intermediate q21/q22 verify through — so
    * this query is a narrow per-doc scan joined to one small aggregate:
    * no explode here, and no countDistinct Expand (the index is already
    * distinct, so min/count suffice). The inner join drops nothing:
    * [[graft.functions.TextFns.shingles3All]] emits a whole-doc fallback
    * shingle for < 3-token docs, so every doc has >= 1 index row.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), md5(col("text")).as("md5_hex"),
        hash60(col("text")).as("h60"),
        // rolling polynomial hash over the characters (base 31 mod 1e9+7)
        // as a native codegen'd walk — the declarative
        // aggregate(sequence(..)) form materializes an index array and
        // interprets the lambda per character (O(chars) interpreter cost
        // that matters on real-length documents; the fixture's ~300-char
        // docs hide it behind the shared shingle-index build). Bit-parity
        // with that form (and the oracle's seedless list_reduce, since
        // 0*31+c1 = c1) is differential-tested in VectorExprsSpec
        org.apache.spark.sql.graft.VectorExprs.polyHash(col("text"))
          .as("poly_h"))
    val shAgg = Dedup.shingleIndex(spark, dir)
      .groupBy(col("doc_id"))
      .agg(min(col("sh_h")).as("min_shingle_h"),
        count(lit(1)).as("n_shingles"))
    perDoc.join(shAgg, Seq("doc_id"))
      .select(col("doc_id"), col("md5_hex"), col("h60"), col("poly_h"),
        col("min_shingle_h"), col("n_shingles"))
      .orderBy(col("doc_id"))
  }

  val fingerprintSql: String =
    s"""WITH toks AS (SELECT doc_id, text, $toksSql AS t FROM documents),
      |sh AS (SELECT doc_id, md5(text) AS md5_hex, ${hash60Sql("text")} AS h60,
      |  list_reduce(list_transform(range(1, length(text)+1),
      |    i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS poly_h,
      |  unnest($shingles3AllSql) AS s FROM toks)
      |SELECT doc_id, max(md5_hex) AS md5_hex, max(h60) AS h60,
      |  max(poly_h) AS poly_h,
      |  min(${hash60Sql("s")}) AS min_shingle_h,
      |  count(DISTINCT ${hash60Sql("s")}) AS n_shingles
      |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q35 — Gopher-style repetition stats: the fraction of bigram mass in
    * the single most frequent bigram, and the duplicate-trigram fraction
    * (1 − distinct/total). High values flag boilerplate / degenerate
    * machine text for corpus filtering.
    *
    * Shape: explode the cheap non-distinct bigram generator → two stacked
    * hash-aggs (per-(doc,bigram) count, then per-doc max/sum — partials
    * map-side); the trigram side reuses the cached distinct shingle index
    * (the q19/q21/q22 intermediate). Docs with <2 tokens have no bigrams
    * and drop out (inner join), mirrored in the oracle.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val bi = docToks(spark, dir)
      .select(col("doc_id"), explode(bigramsAll(col("t"))).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bi"), sum(col("c")).as("n_bi"))
    val triD = Dedup.shingleIndex(spark, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri_d"))
    // surviving docs have >= 2 tokens, so n_bi = tokens-1 exactly and the
    // trigram total is greatest(n_bi-1, 1) — no second tokenize pass
    bi.join(triD, Seq("doc_id"))
      .withColumn("n_tri", greatest(col("n_bi") - 1, lit(1L)))
      .withColumn("top_bigram_frac", col("top_bi").cast("double") / col("n_bi"))
      .withColumn("dup_trigram_frac",
        lit(1.0) - col("n_tri_d").cast("double") / col("n_tri"))
      .withColumn("flagged",
        col("top_bigram_frac") > 0.1 || col("dup_trigram_frac") > 0.5)
      .select(col("doc_id"), col("top_bigram_frac"), col("dup_trigram_frac"),
        col("flagged"))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |bg AS (SELECT doc_id, unnest($bigramsAllSql) AS bg FROM toks),
      |bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
      |bi AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bi,
      |         CAST(sum(c) AS BIGINT) AS n_bi FROM bgc GROUP BY doc_id),
      |sh AS (SELECT doc_id, unnest($shingles3AllSql) AS s FROM toks),
      |tri AS (SELECT doc_id, count(DISTINCT ${hash60Sql("s")}) AS n_tri_d
      |        FROM sh GROUP BY doc_id),
      |tot AS (SELECT doc_id, greatest(len(t) - 2, 1) AS n_tri FROM toks),
      |j AS (
      |  SELECT b.doc_id,
      |    CAST(top_bi AS DOUBLE) / n_bi AS top_bigram_frac,
      |    1.0 - CAST(n_tri_d AS DOUBLE) / n_tri AS dup_trigram_frac
      |  FROM bi b JOIN tri USING (doc_id) JOIN tot USING (doc_id))
      |SELECT doc_id, top_bigram_frac, dup_trigram_frac,
      |  (top_bigram_frac > 0.1 OR dup_trigram_frac > 0.5) AS flagged
      |FROM j ORDER BY doc_id""".stripMargin

  /** q39 — deterministic stratified sampling: per-language keep rates
    * applied via a content-keyed hash bucket, so the sample is stable
    * across re-runs, partitionings and cluster sizes (same property as
    * the q34 split assignment — sampling decisions must never depend on
    * row order at 100 TB). A narrow filter at scan speed: no shuffle at
    * all until the output sort.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket",
        hash60(concat(lit("strat:"), col("doc_id").cast("string"))) % 100)
      .withColumn("rate",
        when(col("lang") === "en", 50L)
          .when(col("lang") === "es", 30L)
          .otherwise(10L))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("rate"))
      .orderBy(col("doc_id"))

  val stratifiedSampleSql: String =
    s"""WITH b AS (
      |  SELECT doc_id, lang,
      |    ${hash60Sql("'strat:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
      |    CASE WHEN lang = 'en' THEN 50
      |         WHEN lang = 'es' THEN 30 ELSE 10 END AS rate
      |  FROM documents)
      |SELECT doc_id, lang, bucket, CAST(rate AS BIGINT) AS rate
      |FROM b WHERE bucket < rate
      |ORDER BY doc_id""".stripMargin

  /** Per-source cap (q63). */
  val CapK = 20

  /** q63 — per-source cap sampling: the corpus-curation "domain cap"
    * operator — at most [[CapK]] docs per source, chosen by a stable
    * pseudo-random order (salted 60-bit hash of the doc id, doc_id
    * tiebreak) so the selection is identical across re-runs,
    * partitionings and cluster sizes, and adding new docs to a source
    * only ever displaces, never reshuffles, the kept set's ordering key.
    * One shuffle (hash-partition by source) + a per-group top-k window;
    * a skewed source costs only its own partition, and at 100 TB the
    * window is a rank-k selection per group, never a global sort.
    */
  def sourceCaps(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        hash60(concat(lit("cap:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CapK)
      .select(col("source"), col("rk"), col("doc_id"))
      .orderBy(col("source"), col("rk"))
  }

  val sourceCapsSql: String =
    s"""WITH h AS (
      |  SELECT doc_id, source,
      |    ${hash60Sql("'cap:' || CAST(doc_id AS VARCHAR)")} AS h
      |  FROM documents),
      |r AS (SELECT source, doc_id,
      |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
      |  FROM h)
      |SELECT source, CAST(rk AS INT) AS rk, doc_id
      |FROM r WHERE rk <= $CapK
      |ORDER BY source, rk""".stripMargin

  /** Per-domain cap (q75) — smaller than [[CapK]]: ~7 synthetic domains
    * over 500 fixture docs give ~71 docs/domain, so the cap must bind.
    */
  val DomainCapK = 40

  /** Portable URL-domain extractor: first capture group, no `\s` class
    * (identical semantics in Spark's Java regex and DuckDB's RE2 on
    * space-separated text).
    */
  val DomainRe = "https?://([^/ ]+)"

  /** q75 — domain-level corpus shaping: URL/domain extraction + a
    * per-domain document cap, the most common real pretraining corpus
    * filter (C4/RefinedWeb-style "no domain dominates"). Composes q46's
    * discipline with q63's quota machinery:
    *
    *  - The fixture text contains no URLs (q46's finding), so a
    *    deterministic doc_id-derived URL (`https://w{doc_id % 7}
    *    .example.com/p/{doc_id}`) is appended in BOTH engines — the
    *    extraction regex and every cap branch are actually exercised,
    *    with ~7 domains × ~71 docs against a cap of [[DomainCapK]].
    *  - Domain = first [[DomainRe]] capture (codegen'd regexp_extract
    *    at scan speed — the real-corpus shape, where the URL lives in
    *    the text/metadata and the domain is NOT a materialized column).
    *  - Cap = q63's stable pseudo-random selection: salted 60-bit hash
    *    order with doc_id tiebreak, `row_number() ≤ cap` per domain —
    *    re-run/partitioning-invariant, one shuffle (hash-partition by
    *    domain), per-group top-k, never a global sort. A mega-domain
    *    costs only its own partition and is the plain AQE-skew case.
    */
  def domainCaps(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("aug", concat(col("text"),
        lit(" https://w"), (col("doc_id") % 7).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string")))
      .select(col("doc_id"),
        regexp_extract(col("aug"), DomainRe, 1).as("domain"),
        hash60(concat(lit("dcap:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= DomainCapK)
      .select(col("domain"), col("rk"), col("doc_id"))
      .orderBy(col("domain"), col("rk"))
  }

  val domainCapsSql: String =
    s"""WITH a AS (
      |  SELECT doc_id,
      |    text || ' https://w' || CAST(doc_id % 7 AS VARCHAR)
      |      || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS aug
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, regexp_extract(aug, '$DomainRe', 1) AS domain,
      |    ${hash60Sql("'dcap:' || CAST(doc_id AS VARCHAR)")} AS h
      |  FROM a),
      |r AS (SELECT domain, doc_id,
      |  ROW_NUMBER() OVER (PARTITION BY domain ORDER BY h, doc_id) AS rk
      |  FROM d)
      |SELECT domain, CAST(rk AS INT) AS rk, doc_id
      |FROM r WHERE rk <= $DomainCapK
      |ORDER BY domain, rk""".stripMargin

  /** Chunking geometry (q64): context-window size and stride in tokens. */
  val ChunkSize = 16
  val ChunkStride = 12

  /** q64 — sliding-window token chunking: split every document into
    * fixed-size overlapping token windows (size [[ChunkSize]], stride
    * [[ChunkStride]]) — the standard pre-training "chunk long docs into
    * context windows" stage. Chunk count is the closed form
    * `1 + ceil(max(n - size, 0) / stride)` so every token is covered and
    * no spurious all-overlap tail chunk is emitted; the last chunk may be
    * short. Plan: scan → narrow per-row sequence/explode/slice — no joins,
    * no windows, the generator fans out inside the scan stage, so at
    * 100 TB this runs at scan throughput and parallelism follows the
    * input splits.
    */
  def chunkTokens(spark: SparkSession, dir: String): DataFrame = {
    val nch = (floor(
      (greatest(size(col("t")) - lit(ChunkSize), lit(0)) + lit(ChunkStride - 1))
        / lit(ChunkStride)) + 1).cast("int")
    docToks(spark, dir)
      .select(col("doc_id"), col("t"), explode(sequence(lit(0), nch - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("t"), col("chunk_id") * ChunkStride + 1, lit(ChunkSize)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).as("n_chunk_toks"),
        array_join(col("chunk"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val chunkTokensSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |c AS (SELECT doc_id, t,
      |  CAST(1 + floor((greatest(len(t) - $ChunkSize, 0) + ${ChunkStride - 1}) / $ChunkStride) AS INT) AS nch
      |  FROM toks),
      |x AS (SELECT doc_id, t, CAST(u.i AS INT) AS chunk_id
      |  FROM c, unnest(generate_series(0, nch - 1)) AS u(i)),
      |s AS (SELECT doc_id, chunk_id,
      |  list_slice(t, chunk_id * $ChunkStride + 1, chunk_id * $ChunkStride + $ChunkSize) AS chunk
      |  FROM x)
      |SELECT doc_id, chunk_id, CAST(len(chunk) AS INT) AS n_chunk_toks,
      |  array_to_string(chunk, ' ') AS chunk_text
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  /** q67 — token-distribution diversity per document: the
    * gibberish/repetition detector (low diversity = repeated tokens).
    * Emits the Gini–Simpson index `1 − Σ p²` and the modal token
    * frequency `max p` over the per-doc token distribution. Shannon
    * entropy is the textbook choice but `ln` is NOT correctly rounded in
    * either engine's libm (Java `Math.log` vs DuckDB `std::log` differ
    * at the last ulp), so the oracle can never be bit-exact; Simpson's
    * index ranks identically for this filter and uses only IEEE
    * exact-rounded ops (`+ * /`), folded left-to-right over the SORTED
    * distinct-token list so the double accumulation is bit-identical
    * across engines and partitionings (same discipline as q16).
    *
    * Cost: one `array_sort` + one run-length fold per row — O(n log n)
    * in document length. Each distinct token's count is the length of
    * its run in the sorted token array, and runs appear in exactly the
    * sorted-distinct order the oracle folds in, so flushing a run adds
    * the same `p²` terms in the same order as the naive
    * per-distinct-token rescan (kept as [[tokenDiversityQuadratic]],
    * test-only, for the differential spec — that form is O(uniq·n) per
    * row, which a 100k-token doc turns into ~10¹⁰ comparisons; this one
    * stays sort-rate). All inside whole-stage codegen, no shuffle before
    * the presentation sort.
    */
  def tokenDiversity(spark: SparkSession, dir: String): DataFrame =
    docToks(spark, dir)
      .select(col("doc_id"), size(col("t")).as("n_tokens"),
        array_sort(col("t")).as("st"))
      .select(col("doc_id"), col("n_tokens"),
        aggregate(
          col("st"),
          struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
            lit(0.0).as("acc"), lit(0.0).as("maxp"), lit(0).as("uniq")),
          (s, tok) => {
            // run continues: just extend it. Run breaks (or first token,
            // where `prev` is null and `same` evaluates null → false
            // branch): flush the previous run — add p², bump the max and
            // the distinct count — then open a run of 1. The first-token
            // flush is a no-op by construction: run = 0 gives p = 0.
            val same = tok === s("prev")
            val p = s("run").cast("double") / col("n_tokens")
            struct(
              tok.as("prev"),
              when(same, s("run") + 1).otherwise(lit(1)).as("run"),
              when(same, s("acc")).otherwise(s("acc") + p * p).as("acc"),
              when(same, s("maxp")).otherwise(greatest(s("maxp"), p)).as("maxp"),
              when(same, s("uniq")).otherwise(s("uniq") + 1).as("uniq"))
          },
          s => {
            // flush the final open run; an empty doc (run = 0) keeps
            // acc = 0 → simpson = 1.0 and a null max_p, matching the
            // array_max-of-empty semantics of the naive form
            val p = s("run").cast("double") / col("n_tokens")
            struct(
              s("uniq").as("n_uniq"),
              when(s("run") > 0, greatest(s("maxp"), p)).as("max_p"),
              (lit(1.0) -
                when(s("run") > 0, s("acc") + p * p).otherwise(s("acc")))
                .as("simpson"))
          }).as("d"))
      .select(col("doc_id"), col("n_tokens"), col("d.n_uniq").as("n_uniq"),
        col("d.max_p").as("max_p"), col("d.simpson").as("simpson"))
      .orderBy(col("doc_id"))

  /** The naive q67 form — per distinct token, rescan the full token
    * array to count occurrences. O(uniq·n) per row; superseded by the
    * run-length fold in [[tokenDiversity]] and kept ONLY as the
    * reference implementation for the differential spec (the two must
    * agree bit-for-bit, including the double fold order).
    */
  private[graft] def tokenDiversityQuadratic(spark: SparkSession, dir: String): DataFrame =
    docToks(spark, dir)
      .select(col("doc_id"), col("t"), size(col("t")).as("n_tokens"),
        array_sort(array_distinct(col("t"))).as("u"))
      .select(col("doc_id"), col("n_tokens"), col("u"),
        transform(col("u"), tok =>
          size(filter(col("t"), y => y === tok)).cast("double") /
            col("n_tokens")).as("ps"))
      .select(col("doc_id"), col("n_tokens"), size(col("u")).as("n_uniq"),
        array_max(col("ps")).as("max_p"),
        (lit(1.0) - aggregate(col("ps"), lit(0.0), (acc, p) => acc + p * p))
          .as("simpson"))
      .orderBy(col("doc_id"))

  val tokenDiversitySql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |s AS (SELECT doc_id, t, len(t) AS n_tokens,
      |  list_sort(list_distinct(t)) AS u FROM toks),
      |p AS (SELECT doc_id, n_tokens, u,
      |  list_transform(u, x ->
      |    CAST(len(list_filter(t, y -> y = x)) AS DOUBLE) / n_tokens) AS ps
      |  FROM s)
      |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
      |  CAST(len(u) AS INT) AS n_uniq,
      |  list_aggregate(ps, 'max') AS max_p,
      |  1.0 - list_reduce(list_prepend(0.0, list_transform(ps, x -> x * x)),
      |    (a, b) -> a + b) AS simpson
      |FROM p ORDER BY doc_id""".stripMargin

  /** Sequence-packing budget in tokens (q65). */
  val PackBudget = 256

  final case class DocTok(source: String, doc_id: Long, n_tokens: Int)
  final case class PackedDoc(source: String, doc_id: Long, n_tokens: Int,
                             bin: Int)

  /** q65 — greedy sequence packing: assign documents (per source, in
    * doc_id order) to consecutive training-batch bins of at most
    * [[PackBudget]] tokens — the "pack short docs into context windows"
    * stage. A doc that would overflow the open bin starts a new one; an
    * oversized doc occupies a bin alone. The running fill level depends
    * on its own history (a data-dependent reset to a computed value), so
    * unlike R4's segment-decomposable resets this is NOT
    * window-expressible; it runs as a typed `groupByKey.flatMapGroups`
    * fold per source — the same justified-sequential shape as
    * [[graft.streaming.StatefulBalance]]. One shuffle on
    * `source`; each group sorts in executor heap. At 100 TB packing is
    * keyed by (source, shard) so groups stay memory-bounded — the fold
    * itself is O(group) with O(1) state.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, dir))
      .select(col("source"), col("doc_id").cast("long"),
        graft.functions.TextFns.tokCount(col("text")).as("n_tokens"))
      .as[DocTok]
      .groupByKey(_.source)
      .flatMapGroups { (src: String, it: Iterator[DocTok]) =>
        val docs = it.toArray.sortBy(_.doc_id)
        var bin = 0
        var acc = 0
        docs.iterator.map { d =>
          if (acc + d.n_tokens > PackBudget && acc > 0) { bin += 1; acc = 0 }
          acc += d.n_tokens
          PackedDoc(src, d.doc_id, d.n_tokens, bin)
        }
      }
      .toDF()
      .orderBy(col("source"), col("doc_id"))
  }

  /** Oracle: the same greedy fold as a per-source recursive CTE stepping
    * through the doc_id rank.
    */
  val packSequencesSql: String =
    s"""WITH RECURSIVE toks AS (SELECT doc_id, source, $toksSql AS t FROM documents),
      |d AS (SELECT source, doc_id, CAST(len(t) AS INT) AS n_tokens,
      |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM toks),
      |r AS (
      |  SELECT source, doc_id, n_tokens, rn, 0 AS bin, n_tokens AS acc
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.source, d.doc_id, d.n_tokens, d.rn,
      |    CASE WHEN r.acc + d.n_tokens > $PackBudget AND r.acc > 0
      |         THEN r.bin + 1 ELSE r.bin END,
      |    CASE WHEN r.acc + d.n_tokens > $PackBudget AND r.acc > 0
      |         THEN d.n_tokens ELSE r.acc + d.n_tokens END
      |  FROM r JOIN d ON d.source = r.source AND d.rn = r.rn + 1)
      |SELECT source, doc_id, n_tokens, CAST(bin AS INT) AS bin
      |FROM r ORDER BY source, doc_id""".stripMargin

  /** Boilerplate gram geometry (q66): gram size and the distinct-doc
    * frequency at which a gram counts as boilerplate. The absolute
    * threshold keeps the op non-vacuous on the synthetic corpus (its
    * gram doc-frequency tops out near 10 regardless of SF); a production
    * corpus would use a relative `df >= frac * total_docs` cut.
    */
  val BoilerN = 3
  val BoilerDf = 4

  /** q66 — boilerplate n-gram removal (C4-style, reframed at token
    * level): any [[BoilerN]]-gram occurring in ≥ [[BoilerDf]] distinct
    * documents is corpus boilerplate; every token position covered by a
    * frequent gram is dropped and the surviving tokens are re-joined in
    * order. Plan: gram explode → distinct-doc hash-agg → broadcast of
    * the frequent-gram set (threshold-bounded, same contract as the LSH
    * candidate set) back onto the gram stream → covered positions
    * collected into a per-doc sorted set (hit docs only — far smaller
    * than the corpus) → one join back to the token stream, where a
    * row-local lambda filter drops covered positions in order. The
    * corpus is never self-joined and the full token stream is never
    * exploded or anti-joined; at 100 TB the cost is two scans plus an
    * occurrence-linear gram shuffle, and the rewrite itself runs at
    * scan speed.
    */
  def boilerplateRemoval(spark: SparkSession, dir: String): DataFrame =
    boilerplateFrom(docToks(spark, dir).select(col("doc_id"), col("t")))

  /** Core of [[boilerplateRemoval]] over an explicit (doc_id, t) token
    * frame — the seam the scale probe drives with synthetic blow-ups.
    */
  private[graft] def boilerplateFrom(toksDf: DataFrame): DataFrame =
    // the boilerplate gram set is threshold-bounded (df >= BoilerDf cuts
    // the tail), so it broadcasts safely at any corpus size
    coveredRemoval(toksDf, BoilerN, BoilerDf, broadcastFrequent = true)
      .orderBy(col("doc_id"))

  /** Shared covered-position removal: every token position covered by an
    * `n`-gram occurring in >= `minDf` DISTINCT documents is dropped and
    * the survivors re-joined in order. The q66/q76 engine — gram explode
    * → distinct-doc hash-agg → flagged-gram join back onto the gram
    * stream → per-doc sorted covered-position set (hit docs only) → one
    * join back to the token stream, where a row-local lambda filter
    * drops covered positions. The corpus is never self-joined and the
    * full token stream is never exploded or anti-joined; the token and
    * gram frames are transient caches (each has two consumers — see
    * inline notes; evicted post-query via TransientCache, drain-spec'd),
    * so the source is tokenized ONCE, cost is one scan plus an
    * occurrence-linear gram shuffle, and the rewrite runs at scan speed
    * (r7 probes: q66 2.48 s → 1.77 s, q76 1.86 s → 1.23 s at sf0.1).
    *
    * `broadcastFrequent` picks the flagged-gram join strategy: a HIGH
    * df threshold (q66's boilerplate cut) makes the set threshold-
    * bounded and broadcastable; a LOW threshold (q76's df >= 2 dup
    * spans) can flag a corpus-bounded fraction of all grams — e.g. a
    * heavily duplicated crawl — so that caller shuffle-joins instead
    * (the q72 de-broadcast lesson: never broadcast a frame whose bound
    * is the corpus).
    */
  private def coveredRemoval(toksDf0: DataFrame, n: Int, minDf: Long,
                             broadcastFrequent: Boolean): DataFrame = {
    // the token frame feeds the gram build AND the final reassembly join;
    // uncached, the source is re-tokenized per consumer
    val toksDf = graft.TransientCache.register(toksDf0.cache())
    // consumed twice (df agg + covered-position join) — uncached, the
    // tokenize + gram explode lineage runs once per consumer (self-join
    // rule); caching trades ~n tokens/row of transient storage for the
    // second scan. Registered for post-query eviction (TransientCache).
    val grams = graft.TransientCache.register(toksDf
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - (n - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        array_join(slice(col("t"), col("i"), lit(n)), " ").as("gram"))
      .cache())
    val frequent = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select("gram")
    val freq = if (broadcastFrequent) broadcast(frequent) else frequent
    val covered = grams.join(freq, Seq("gram"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (n - 1))).as("j"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("j"))).as("cov"))
    toksDf.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("t")).as("n_tokens"),
        filter(col("t"), (tok, i) => not(array_contains(
          coalesce(col("cov"), array().cast("array<int>")), i + 1)))
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).as("n_kept"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  val boilerplateRemovalSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |g AS (SELECT doc_id, CAST(u.i AS INT) AS i,
      |  array_to_string(t[u.i : u.i + ${BoilerN - 1}], ' ') AS gram
      |  FROM toks, unnest(generate_series(1, len(t) - ${BoilerN - 1})) AS u(i)),
      |f AS (SELECT gram FROM g GROUP BY gram
      |  HAVING count(DISTINCT doc_id) >= $BoilerDf),
      |cov AS (SELECT DISTINCT g.doc_id, CAST(v.j AS INT) AS j
      |  FROM g JOIN f USING (gram),
      |       unnest(generate_series(g.i, g.i + ${BoilerN - 1})) AS v(j)),
      |tp AS (SELECT doc_id, CAST(u.i AS INT) AS j, list_extract(t, u.i) AS tok
      |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
      |kept AS (SELECT tp.doc_id, count(*) AS n_kept,
      |  string_agg(tp.tok, ' ' ORDER BY tp.j) AS clean_text
      |  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.j = tp.j
      |  WHERE cov.doc_id IS NULL GROUP BY tp.doc_id)
      |SELECT t.doc_id, CAST(len(t.t) AS INT) AS n_tokens,
      |  CAST(coalesce(k.n_kept, 0) AS INT) AS n_kept,
      |  coalesce(k.clean_text, '') AS clean_text
      |FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Duplicated-span geometry (q76): span length in tokens, and the
    * distinct-doc count at which a span counts as a cross-corpus
    * duplicate. df >= 2 IS the definition (a span seen in two documents
    * is duplicated); the long n keeps the cut semantic rather than
    * collocational — 12-token spans don't repeat by chance.
    */
  val DupSpanN = 12
  val DupSpanDf = 2

  /** q76 — duplicated-span removal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", reframed at token
    * level): any [[DupSpanN]]-token span occurring in >= [[DupSpanDf]]
    * DISTINCT documents is a cross-document duplicate; every token
    * position covered by one is dropped from ALL its occurrences (the
    * C4-style remove-everywhere variant — deterministic and order-free,
    * where keep-first would depend on a document ordering) and the
    * survivors are re-joined in order. The granularity between q20
    * (whole-document) and q66 (short boilerplate grams): long spans,
    * minimal df.
    *
    * Same occurrence-linear engine as q66 ([[coveredRemoval]]) — gram
    * hash-agg, covered-position reassembly, corpus never self-joined —
    * with one scale-relevant difference: the flagged-span set is
    * df >= 2, corpus-bounded rather than threshold-bounded (a heavily
    * duplicated crawl can flag most of its grams), so it shuffle-joins
    * back onto the gram stream instead of broadcasting. Output carries
    * md5(clean_text) instead of the text — the compare surface stays
    * fixed-width however long documents get.
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanCleanOf(docToks(spark, dir))
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy(col("doc_id"))

  /** The q76 rewrite over an explicit documents frame (`doc_id`,
    * `text`), keeping the cleaned TEXT — what
    * [[graft.pipelines.CorpusPipeline]]'s span stage carries forward
    * into its at-rest table (q76's oracle surface hashes it instead).
    * Registers the [[coveredRemoval]] transients; callers drain after
    * materializing.
    */
  private[graft] def spanCleanOf(docs: DataFrame): DataFrame =
    coveredRemoval(
      docs.select(col("doc_id"), toks(col("text")).as("t")),
      DupSpanN, DupSpanDf, broadcastFrequent = false)

  val spanDedupSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |g AS (SELECT doc_id, CAST(u.i AS INT) AS i,
      |  array_to_string(t[u.i : u.i + ${DupSpanN - 1}], ' ') AS gram
      |  FROM toks, unnest(generate_series(1, len(t) - ${DupSpanN - 1})) AS u(i)),
      |f AS (SELECT gram FROM g GROUP BY gram
      |  HAVING count(DISTINCT doc_id) >= $DupSpanDf),
      |cov AS (SELECT DISTINCT g.doc_id, CAST(v.j AS INT) AS j
      |  FROM g JOIN f USING (gram),
      |       unnest(generate_series(g.i, g.i + ${DupSpanN - 1})) AS v(j)),
      |tp AS (SELECT doc_id, CAST(u.i AS INT) AS j, list_extract(t, u.i) AS tok
      |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
      |kept AS (SELECT tp.doc_id, count(*) AS n_kept,
      |  string_agg(tp.tok, ' ' ORDER BY tp.j) AS clean_text
      |  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.j = tp.j
      |  WHERE cov.doc_id IS NULL GROUP BY tp.doc_id)
      |SELECT t.doc_id, CAST(len(t.t) AS INT) AS n_tokens,
      |  CAST(coalesce(k.n_kept, 0) AS INT) AS n_kept,
      |  md5(coalesce(k.clean_text, '')) AS clean_md5
      |FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Shard geometry (q68): target tokens per output shard, and the bucket
    * fan-out for the distributed prefix sum.
    */
  val ShardBudget = 2048
  val ShardBuckets = 8

  /** q68 — balanced training-shard assignment: place every document into
    * consecutive output shards of ~[[ShardBudget]] tokens, in a
    * deterministic pseudo-random global order (salted 60-bit hash,
    * doc_id tiebreak) — the "shuffle the corpus and write fixed-size
    * training shards" stage. A naive global running sum is a
    * single-task window at 100 TB, so the cumulative token count runs as
    * a distributed two-phase prefix sum: hash-bucket the order key into
    * [[ShardBuckets]] modulo classes (`b = h % buckets`) and sort
    * globally by (b, h, doc_id), so the order is bucket-major by
    * construction; cumsum within each bucket in parallel, then add
    * per-bucket offsets computed from the tiny bucket-totals frame
    * (|buckets| rows, broadcast). Integer arithmetic throughout, so the
    * two-phase sum is bit-identical to the oracle's single global
    * window. shard = floor(start_offset / budget): shards are contiguous
    * in the global order and balanced to ±max_doc_tokens; a doc larger
    * than the budget spans its start shard alone. At scale
    * [[ShardBuckets]] rises with the cluster (it only has to exceed the
    * executor count) — the per-bucket window is the only large sort and
    * it parallelizes per bucket.
    */
  def shardAssign(spark: SparkSession, dir: String): DataFrame =
    shardAssignOf(
      docToks(spark, dir)
        .select(col("doc_id"), size(col("t")).cast("int").as("n_tokens")),
      concat(lit("shard:"), col("doc_id").cast("string")),
      Seq(col("doc_id")))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        col("shard"), col("shard_pos"))
      .orderBy(col("shard"), col("shard_pos"))

  /** The q68 two-phase packing over an explicit frame carrying
    * `n_tokens`: `key` seeds the deterministic hash order, `tie` breaks
    * hash collisions (q68 uses the doc_id; the pipeline's publish stage
    * keys by (doc_id, copy_id) since the temperature mix emits
    * replicas). All input columns ride through, plus
    * `cum_tokens`/`shard`/`shard_pos`.
    */
  private[graft] def shardAssignOf(docs: DataFrame, key: Column,
                                   tie: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .withColumn("h", hash60(key))
      .withColumn("b", col("h") % ShardBuckets)
    val offs = base.groupBy(col("b")).agg(sum(col("n_tokens")).as("tot"))
      // |buckets| rows: the single-partition window is driver-tiny
      .withColumn("off", coalesce(
        sum(col("tot")).over(
          Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("b"), col("off"))
    val order = col("h") +: tie
    val wLocal = Window.partitionBy(col("b")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base
      .withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offs), Seq("b"))
      .withColumn("cum_tokens", (col("off") + col("local_cum")).cast("long"))
      .withColumn("shard",
        floor((col("cum_tokens") - col("n_tokens")) / ShardBudget).cast("int"))
    cum
      .withColumn("shard_pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy((col("b") +: order): _*)))
      .drop("h", "b", "off", "local_cum")
  }

  val shardAssignSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |t AS (SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
      |  ${hash60Sql("'shard:' || CAST(doc_id AS VARCHAR)")} AS h FROM toks),
      |b AS (SELECT *, h % $ShardBuckets AS b FROM t),
      |c AS (SELECT doc_id, n_tokens, b, h,
      |  CAST(SUM(n_tokens) OVER (ORDER BY b, h, doc_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM b),
      |s AS (SELECT *,
      |  CAST(floor((cum_tokens - n_tokens) / $ShardBudget) AS INT) AS shard
      |  FROM c)
      |SELECT doc_id, n_tokens, cum_tokens, shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY b, h, doc_id)
      |    AS INT) AS shard_pos
      |FROM s ORDER BY shard, shard_pos""".stripMargin

  /** q69 — mixture resampling: re-weight the corpus toward target source
    * proportions by deterministic per-doc replication — rate ≥ 1 means
    * floor(rate) guaranteed copies plus a hash-Bernoulli extra, rate < 1
    * means hash-Bernoulli survival (the "data mixing / temperature
    * sampling" stage; rates here keyed on the source's numeric suffix so
    * the op is non-vacuous at every SF). The Bernoulli draw is a 20-bit
    * hash fraction compared against the rate's fractional part — all
    * powers of two, so every double involved is exact and the oracle
    * matches bit-for-bit, and the decision is content-keyed: stable
    * across re-runs, partitionings and cluster sizes. Plan: scan →
    * row-local rate lookup + hash → explode of a ≤⌈rate⌉-element
    * sequence — scan-rate, no shuffle before the presentation sort.
    */
  def mixResample(spark: SparkSession, dir: String): DataFrame = {
    val srcIdx = substring(col("source"), 4, 10).cast("int") % 4
    val rate = when(srcIdx === 0, 2.25)
      .when(srcIdx === 1, 1.0)
      .when(srcIdx === 2, 0.5)
      .otherwise(0.125)
    val frac = (hash60(concat(lit("mix:"), col("doc_id").cast("string")))
      % 1048576).cast("double") / 1048576.0
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), rate.as("rate"), frac.as("frac"))
      .withColumn("n_copies",
        (floor(col("rate")) +
          when(col("frac") < col("rate") - floor(col("rate")), 1)
            .otherwise(0)).cast("int"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"), col("n_copies"),
        explode(sequence(lit(1), col("n_copies"))).as("copy_id"))
      .orderBy(col("doc_id"), col("copy_id"))
  }

  /** q69's deterministic replication with the rates supplied as a
    * `(source, rate)` frame instead of literals — the form
    * [[graft.pipelines.CorpusPipeline]] uses with q78-DERIVED rates
    * (rate_s = expected_docs_s / n_docs_s). Same hash-Bernoulli draw:
    * content-keyed, exact-double fraction, stable across partitionings.
    * The rates side is source-bounded (one row per source), so the
    * broadcast is safe at any corpus size. All `docs` columns ride
    * through, so the output is a corpus table, not just an assignment.
    */
  private[graft] def resampleAtRates(docs: DataFrame, rates: DataFrame): DataFrame = {
    val frac = (hash60(concat(lit("mix:"), col("doc_id").cast("string")))
      % 1048576).cast("double") / 1048576.0
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("frac", frac)
      .withColumn("n_copies",
        (floor(col("rate")) +
          when(col("frac") < col("rate") - floor(col("rate")), 1)
            .otherwise(0)).cast("int"))
      .filter(col("n_copies") >= 1)
      .withColumn("copy_id", explode(sequence(lit(1), col("n_copies"))))
      .drop("rate", "frac")
  }

  val mixResampleSql: String =
    s"""WITH r AS (
      |  SELECT doc_id, source,
      |    CASE (CAST(substr(source, 4, 10) AS INT) % 4)
      |      WHEN 0 THEN 2.25 WHEN 1 THEN 1.0 WHEN 2 THEN 0.5
      |      ELSE 0.125 END AS rate,
      |    CAST(${hash60Sql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1048576
      |      AS DOUBLE) / 1048576.0 AS frac
      |  FROM documents),
      |n AS (SELECT doc_id, source,
      |  CAST(floor(rate) + (CASE WHEN frac < rate - floor(rate)
      |    THEN 1 ELSE 0 END) AS INT) AS n_copies
      |  FROM r)
      |SELECT doc_id, source, n_copies, CAST(u.i AS INT) AS copy_id
      |FROM n, unnest(generate_series(1, n_copies)) AS u(i)
      |WHERE n_copies >= 1
      |ORDER BY doc_id, copy_id""".stripMargin

  /** q77 — unigram-likelihood quality score: the engine-portable stand-in
    * for the CCNet/Wikipedia-LM perplexity filter. A unigram model is fit
    * on the corpus itself (p(tok) = occurrences / total occurrences) and
    * every document is scored by its MEAN token probability — documents
    * of rare/garbage vocabulary score low, stopword-heavy mainstream text
    * scores high, ranking equivalently to unigram perplexity for a
    * filter cut. Perplexity itself needs `exp`/`ln`, which are not
    * correctly-rounded in either engine's libm (the q67 lesson), so the
    * score stays in probability space: count/total division and the
    * position-ordered sum fold are all IEEE exact-rounded ops, making
    * the doubles bit-identical across engines and partitionings.
    *
    * Plan: one tokenize (transient-cached token stream, two consumers) →
    * vocab hash-agg (transient-cached: the model table, probed by the
    * scoring join AND summed for the total) → broadcast 1-row total →
    * equi-join token stream to the model ON the token — at 100 TB the
    * vocab is corpus-bounded so the join shuffles on the token key (no
    * broadcast), partial aggs map-side — → per-doc ordered fold (q70's
    * collect/sort/fold discipline; group size = doc length, the
    * oracle-parity shape).
    */
  def unigramLikelihood(spark: SparkSession, dir: String): DataFrame =
    withAllDocs(spark, dir,
      tokenProbs(spark, dir)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          collect_list(struct(col("pos"), col("p"))).as("ps"))
        .select(col("doc_id"), col("n_tokens"),
          (aggregate(transform(array_sort(col("ps")), s => s.getField("p")),
            lit(0.0), (acc, x) => acc + x) / col("n_tokens")).as("mean_p")))

  /** The q77 model fit: one tokenize (transient-cached — model fit +
    * scoring join), vocab hash-agg (transient-cached — probe join +
    * total), 1-row broadcast total, position-tagged per-token
    * probabilities.
    */
  private def tokenProbs(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.TransientCache.register(docToks(spark, dir)
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "tok")))
      .cache())
    val vocab = graft.TransientCache.register(
      tok.groupBy(col("tok")).agg(count(lit(1)).as("c")).cache())
    val total = vocab.agg(sum(col("c")).as("total"))
    tok.join(vocab, Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("pos"),
        (col("c").cast("double") / col("total")).as("p"))
  }

  /** Zero-token docs contribute no token rows, but a quality filter must
    * still SEE them (q76's left-join discipline): emit n_tokens = 0 with
    * a null score, identical in the oracle's LEFT JOIN.
    */
  private def withAllDocs(spark: SparkSession, dir: String,
                          scored: DataFrame): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0)).cast("int").as("n_tokens"),
        col("mean_p"))
      .orderBy(col("doc_id"))

  val unigramLikelihoodSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |tok AS (SELECT doc_id, CAST(u.i AS INT) AS pos, list_extract(t, u.i) AS tok
      |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
      |v AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
      |tt AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM v),
      |p AS (SELECT doc_id, pos, CAST(c AS DOUBLE) / total AS p
      |  FROM tok JOIN v USING (tok) CROSS JOIN tt),
      |d AS (SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
      |  list(p ORDER BY pos) AS ps FROM p GROUP BY doc_id)
      |SELECT t.doc_id, CAST(coalesce(d.n_tokens, 0) AS INT) AS n_tokens,
      |  list_reduce(list_prepend(0.0, d.ps), (a, b) -> a + b) / d.n_tokens AS mean_p
      |FROM documents t LEFT JOIN d ON d.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Interpolation weight for [[bigramLikelihood]]. 0.75 = 3/4 is exact
    * in binary (so is its complement 0.25), so the λ·p₂ + (1−λ)·p₁ blend
    * is two correctly-rounded multiplies and one add — deterministic
    * across engines, the q77 portability discipline extended to an
    * interpolated model.
    */
  val BigramLambda = 0.75

  /** q92 — interpolated bigram-likelihood score: the context-aware
    * upgrade of q77's unigram filter (CCNet's LM quality signal, one
    * order up). A bigram model is fit on the corpus itself —
    * p(cur | prev) = c(prev, cur) / c(prev, ·), with a `<s>`
    * start-of-document sentinel so position 1 is conditioned like every
    * other position — and Jelinek-Mercer-interpolated with the q77
    * unigram (λ = [[BigramLambda]]) so unseen-in-context tokens degrade
    * to their corpus rate instead of zeroing the document. Every
    * document is scored by its mean interpolated token probability:
    * repetitive/templated text (predictable continuations) scores high,
    * token-salad scores at its unigram floor. As in q77 the score stays
    * in probability space — no `ln`/`exp` (the q67 lesson), only
    * count divisions, exact-λ multiplies, and the position-ordered
    * fold, all IEEE exact-rounded → bit-identical across engines.
    *
    * Plan: ONE tokenize; the bigram stream is derived in-array
    * (`posexplode` + `element_at(t, pos)` for the predecessor — no
    * self-join, no window over the corpus); three hash-aggs fit the
    * model (bigram counts, context totals as a second agg OVER the
    * bigram counts so numerator and denominator can never disagree,
    * unigram counts); scoring equi-joins the stream to the three model
    * tables on their keys — all corpus-bounded vocab tables, shuffle
    * joins on the token keys at scale (broadcast only the 1-row grand
    * total). Per-doc reduction is the q77 ordered fold.
    */
  def bigramLikelihood(spark: SparkSession, dir: String): DataFrame =
    withAllDocs(spark, dir,
      bigramProbs(spark, dir)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          collect_list(struct(col("pos"), col("p"))).as("ps"))
        .select(col("doc_id"), col("n_tokens"),
          (aggregate(transform(array_sort(col("ps")), s => s.getField("p")),
            lit(0.0), (acc, x) => acc + x) / col("n_tokens")).as("mean_p")))

  /** The shared (doc_id, pos, prev, cur) bigram stream — q92's model fit
    * and q94's collocation mining both read it; within one session the
    * CacheManager unifies the identical cached plans.
    */
  private def bigramStream(spark: SparkSession, dir: String): DataFrame =
    graft.TransientCache.register(docToks(spark, dir)
      .select(col("doc_id"), col("t"), posexplode(col("t")).as(Seq("pos0", "cur")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        when(col("pos0") === 0, lit("<s>"))
          .otherwise(element_at(col("t"), col("pos0"))).as("prev"),
        col("cur"))
      .cache())

  /** The bigram MODEL — `(prev, cur, c2)` counts over the sentineled
    * stream — as the SHARED cross-query cache of the LM tier (q92 and
    * q94; the shingle-tier pattern, billed as the bench's `bigram`
    * tier). The whole model family derives from this one table: context
    * totals, unigram counts (every token occurrence is a `cur` exactly
    * once, so `uni(w) = Σ_prev c2(prev, w)`) and the grand total — the
    * q92 numerator/denominator discipline extended across queries. The
    * right thing to share at 100 TB is exactly this frame: it is
    * VOCAB-bounded (kilobytes per thousand word types) where the
    * per-occurrence stream it aggregates is corpus-bounded — cache the
    * model, never the exploded corpus.
    */
  private[graft] def bigramCounts(spark: SparkSession, dir: String): DataFrame =
    docToks(spark, dir)
      .select(posexplode(col("t")).as(Seq("pos0", "cur")), col("t"))
      .select(
        when(col("pos0") === 0, lit("<s>"))
          .otherwise(element_at(col("t"), col("pos0"))).as("prev"),
        col("cur"))
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
      .cache()

  /** The q92 model fit + per-token scoring. The bigram stream tags each
    * token with its predecessor (sentinel `<s>` at position 1; a
    * pathological literal `<s>` token in the text would merge contexts
    * with the sentinel — identically in both engines, and impossible in
    * the fixture's alnum/punct text); context totals are summed FROM the
    * bigram counts, so ctx(prev) ≡ Σ_cur c2(prev, cur) by construction.
    */
  private def bigramProbs(spark: SparkSession, dir: String): DataFrame = {
    val big = bigramStream(spark, dir)
    val c2 = bigramCounts(spark, dir)
    val ctx = c2.groupBy(col("prev")).agg(sum(col("c2")).as("ctx"))
    val uni = graft.TransientCache.register(
      c2.groupBy(col("cur")).agg(sum(col("c2")).as("c1")).cache())
    val total = uni.agg(sum(col("c1")).as("total"))
    big.join(c2, Seq("prev", "cur"))
      .join(ctx, Seq("prev"))
      .join(uni, Seq("cur"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("pos"),
        // 1.0 − 0.75 is EXACT (0.75 is a binary literal), so this equals
        // the oracle's written 0.25 bit-for-bit
        (lit(BigramLambda) * (col("c2").cast("double") / col("ctx")) +
          lit(1.0 - BigramLambda) * (col("c1").cast("double") / col("total"))).as("p"))
  }

  /** Oracle: the same stream/model/fold chain in DuckDB list dialect —
    * the predecessor via `list_extract(t, u.i - 1)`, the fold the q77
    * `list_reduce` with positions ordering the list.
    */
  val bigramLikelihoodSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |tok AS (SELECT doc_id, CAST(u.i AS INT) AS pos, list_extract(t, u.i) AS cur,
      |  CASE WHEN u.i = 1 THEN '<s>' ELSE list_extract(t, u.i - 1) END AS prev
      |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
      |c2 AS (SELECT prev, cur, count(*) AS c2 FROM tok GROUP BY prev, cur),
      |ctx AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS ctx FROM c2 GROUP BY prev),
      |uni AS (SELECT cur, count(*) AS c1 FROM tok GROUP BY cur),
      |tt AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM uni),
      |p AS (SELECT t.doc_id, t.pos,
      |  CAST(0.75 AS DOUBLE) * (CAST(c2.c2 AS DOUBLE) / ctx.ctx) +
      |  CAST(0.25 AS DOUBLE) * (CAST(uni.c1 AS DOUBLE) / tt.total) AS p
      |  FROM tok t JOIN c2 ON c2.prev = t.prev AND c2.cur = t.cur
      |  JOIN ctx ON ctx.prev = t.prev
      |  JOIN uni ON uni.cur = t.cur
      |  CROSS JOIN tt),
      |d AS (SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
      |  list(p ORDER BY pos) AS ps FROM p GROUP BY doc_id)
      |SELECT t.doc_id, CAST(coalesce(d.n_tokens, 0) AS INT) AS n_tokens,
      |  list_reduce(list_prepend(0.0, d.ps), (a, b) -> a + b) / d.n_tokens AS mean_p
      |FROM documents t LEFT JOIN d ON d.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Minimum bigram support and result size for [[collocations]]. */
  val CollocMinCount = 5
  val CollocK = 20

  /** q94 — collocation mining by lift: the PMI phrase-mining pass
    * (word2vec's phrase pass, tokenizer-vocab merge candidates) done in
    * RATIO space — lift(a, b) = c(a,b)·N / (c(a)·c(b)) ranks identically
    * to PMI = log lift (log is monotone) without the non-portable
    * `ln` (the q67 lesson, third application). Every factor is an exact
    * integer and the products are carried in DECIMAL(38,0) / HUGEINT
    * (c2·N would wrap a 64-bit long past ~3e9 corpus tokens), so the
    * single final division is the query's only float rounding —
    * bit-identical across engines with NO ordered fold. Document-start pairs are excluded
    * (the `<s>` sentinel is context, not a word) and a minimum support
    * of [[CollocMinCount]] keeps one-off juxtapositions out, the
    * standard phrase-mining guard.
    *
    * Plan: the shared q92 bigram stream, two hash-aggs (bigram counts,
    * word counts), the bigram table probed against the word table TWICE
    * (left word, right word — shuffle equi-joins on the word key; only
    * the 1-row grand total broadcasts), and the top-[[CollocK]] by
    * (lift, words) as a `TakeOrderedAndProject` — per-partition top-k,
    * one driver merge, never a global sort of the candidate table.
    */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    // everything derives from the SHARED vocab-bounded bigram model —
    // no corpus pass at all: unigram counts are the model's cur-marginal
    // (every token occurrence is a `cur` exactly once), so this query
    // never touches the documents table when the tier is warm
    val c2 = bigramCounts(spark, dir)
    val uni = graft.TransientCache.register(
      c2.groupBy(col("cur").as("w")).agg(sum(col("c2")).as("c1")).cache())
    val total = uni.agg(sum(col("c1")).as("total"))
    c2.filter(col("prev") =!= "<s>" && col("c2") >= CollocMinCount)
      .join(uni.select(col("w").as("prev"), col("c1").as("cp")), Seq("prev"))
      .join(uni.select(col("w").as("cur"), col("c1").as("cc")), Seq("cur"))
      .crossJoin(broadcast(total))
      .select(col("prev"), col("cur"), col("c2"),
        // products in DECIMAL(38,0): c2*N tops Long past ~3e9 corpus
        // tokens (a reviewed wrap hazard at the 100 TB design point);
        // decimal->double is correctly rounded in both engines, so the
        // values are bit-identical to the old long path at fixture scale
        ((col("c2").cast("decimal(38,0)") * col("total").cast("decimal(38,0)"))
          .cast("double") /
          (col("cp").cast("decimal(38,0)") * col("cc").cast("decimal(38,0)"))
            .cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("prev"), col("cur"))
      .limit(CollocK)
  }

  /** Oracle: same counts, same single-division lift, same total order
    * (lift desc with the word pair breaking exact ties at the cut).
    */
  val collocationsSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |tok AS (SELECT doc_id, CAST(u.i AS INT) AS pos, list_extract(t, u.i) AS cur,
      |  CASE WHEN u.i = 1 THEN '<s>' ELSE list_extract(t, u.i - 1) END AS prev
      |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
      |c2 AS (SELECT prev, cur, count(*) AS c2 FROM tok GROUP BY prev, cur),
      |uni AS (SELECT cur AS w, count(*) AS c1 FROM tok GROUP BY cur),
      |tt AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM uni)
      |SELECT c2.prev, c2.cur, c2.c2,
      |  CAST(CAST(c2.c2 AS HUGEINT) * CAST(tt.total AS HUGEINT) AS DOUBLE)
      |    / CAST(CAST(p.c1 AS HUGEINT) * CAST(c.c1 AS HUGEINT) AS DOUBLE) AS lift
      |FROM c2
      |JOIN uni p ON p.w = c2.prev
      |JOIN uni c ON c.w = c2.cur
      |CROSS JOIN tt
      |WHERE c2.prev <> '<s>' AND c2.c2 >= $CollocMinCount
      |ORDER BY lift DESC, c2.prev, c2.cur LIMIT $CollocK""".stripMargin

  /** Window radius for q100: each token pairs with the next this-many
    * tokens (word2vec's symmetric window, enumerated one-directionally
    * so every unordered pair is produced exactly once).
    */
  val CoocWindow = 4

  /** Support / cut for q100 — the q94 conventions. */
  val CoocMinCount = 5
  val CoocK = 20

  /** q100 — windowed co-occurrence lift (skip-gram PMI): the word2vec /
    * GloVe co-occurrence signal one step past q94's adjacency — token
    * pairs within a [[CoocWindow]]-token window, ranked by
    * lift(a,b) = c_ab·N / (c_a·c_b), which orders identically to
    * window PMI without the non-portable `ln` (the q94 lesson; the
    * constant window factor cancels in the ranking and is documented
    * out of the reported number).
    *
    * Plan: the pair stream is built IN-ARRAY — one
    * `transform(slice(...))`-flatten generator in the scan stage, so
    * window pairs are W·N rows (corpus-LINEAR, W a constant), never a
    * positional self-join or a corpus-wide window; pairs canonicalize
    * to unordered (least, greatest) at generation; the pair hash-agg is
    * the only corpus-bounded shuffle and the min-support cut lands
    * BEFORE the vocabulary probe joins (token-key shuffles — vocab
    * never broadcasts); unigram counts derive from the SHARED
    * vocab-bounded bigram model's cur-marginal (zero extra corpus pass
    * when the tier is warm — the q92/q94 single-source discipline);
    * only the 1-row total broadcasts; products ride DECIMAL(38,0)
    * (c_ab·N ≈ 10²⁷ at 100 TB, far under 10³⁸); the top-[[CoocK]] cut
    * is a `TakeOrderedAndProject` over the total order
    * (lift desc, a, b).
    */
  def cooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val uni = graft.TransientCache.register(
      bigramCounts(spark, dir)
        .groupBy(col("cur").as("w")).agg(sum(col("c2")).as("c1")).cache())
    // eager fill (the sibling-consumer rule): both probe joins AND the
    // 1-row total broadcast read `uni` inside the final job — cold, the
    // bigram-model subplan would run once per racing consumer
    uni.count()
    cooccurrenceOf(Tables.spread(Tables.documents(spark, dir)), uni)
  }

  /** The co-occurrence engine over explicit documents + unigram frames —
    * the seam the scale probe drives with blown-up corpora (the plan
    * must keep the pair stream in-array at any data size).
    */
  private[graft] def cooccurrenceOf(docs: DataFrame, uni: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val pairs = docs
      .select(toks(col("text")).as("t"))
      .select(explode(expr(
        s"flatten(transform(t, (x, i) -> transform(slice(t, i + 2, $CoocWindow), " +
          "y -> named_struct('l', x, 'r', y))))")).as("p"))
      .select(least(col("p.l"), col("p.r")).as("a"),
        greatest(col("p.l"), col("p.r")).as("b"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= CoocMinCount)
    val total = uni.agg(sum(col("c1")).as("total"))
    pairs
      .join(uni.select(col("w").as("a"), col("c1").as("ca")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("c1").as("cb")), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("c_ab"),
        ((col("c_ab").cast(dec) * col("total").cast(dec)).cast("double") /
          (col("ca").cast(dec) * col("cb").cast(dec)).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(CoocK)
  }

  /** Oracle: the same windowed pair enumeration via a lateral
    * generate_series (i+1 .. i+W), the same canonicalization, counts,
    * single HUGEINT-product division and total-order cut.
    */
  val cooccurrenceSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |tok AS (SELECT t, CAST(u.i AS INT) AS i
      |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
      |pr AS (SELECT list_extract(t, i) AS x, list_extract(t, v.j) AS y
      |  FROM tok,
      |    unnest(generate_series(i + 1, least(i + $CoocWindow, len(t)))) AS v(j)),
      |cp AS (SELECT least(x, y) AS a, greatest(x, y) AS b, count(*) AS c_ab
      |  FROM pr WHERE x <> y GROUP BY 1, 2),
      |uni AS (SELECT list_extract(t, i) AS w, count(*) AS c1 FROM tok GROUP BY 1),
      |tt AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM uni)
      |SELECT cp.a, cp.b, cp.c_ab,
      |  CAST(CAST(cp.c_ab AS HUGEINT) * CAST(tt.total AS HUGEINT) AS DOUBLE)
      |    / CAST(CAST(ua.c1 AS HUGEINT) * CAST(ub.c1 AS HUGEINT) AS DOUBLE) AS lift
      |FROM cp
      |JOIN uni ua ON ua.w = cp.a
      |JOIN uni ub ON ub.w = cp.b
      |CROSS JOIN tt
      |WHERE cp.c_ab >= $CoocMinCount
      |ORDER BY lift DESC, cp.a, cp.b LIMIT $CoocK""".stripMargin

  /** q78 — temperature-scaled mixture weights (the Gopher/PaLM "sample
    * source s proportionally to p_s^alpha" calculation, alpha = 1/2):
    * per-source corpus shares are raised to the temperature exponent and
    * renormalized, up-weighting small sources; `expected_docs` is the
    * weight applied back to the corpus size — the table q69's fixed
    * rates would be DERIVED from in a production mix. alpha is pinned to
    * 0.5 because `sqrt` is the one power IEEE requires correctly rounded
    * — bit-identical in both engines where a general `pow` is not (the
    * q67 `ln` lesson again).
    *
    * Plan: one hash-agg to per-source counts (transient-cached: three
    * consumers — total, the weight projection, the norm fold), a 1-row
    * broadcast total, and the normalizer as an ordered fold over the
    * (source, w) list — sources are bounded (thousands at worst), so the
    * single-row collect_list agg is never a scale concern, and the fold
    * keeps the double sum partition-order-free.
    */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame =
    mixtureWeightsOf(Tables.documents(spark, dir))

  /** The q78 weights over an explicit documents frame (`doc_id`,
    * `source`) — [[graft.pipelines.CorpusPipeline]] derives its
    * replication rates from this on the REFINED corpus, not the raw
    * fixture. Registers one transient; callers drain after use.
    */
  private[graft] def mixtureWeightsOf(docs: DataFrame): DataFrame = {
    val counts = graft.TransientCache.register(
      docs
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .cache())
    val total = counts.agg(sum(col("n_docs")).as("total"))
    val w = counts.crossJoin(broadcast(total))
      .withColumn("share", col("n_docs").cast("double") / col("total"))
      .withColumn("w", sqrt(col("share")))
    val norm = w.agg(collect_list(struct(col("source"), col("w"))).as("ws"))
      .select(aggregate(transform(array_sort(col("ws")), s => s.getField("w")),
        lit(0.0), (acc, x) => acc + x).as("norm"))
    w.crossJoin(broadcast(norm))
      .select(col("source"), col("n_docs"), col("share"),
        (col("w") / col("norm")).as("weight"),
        (col("w") / col("norm") * col("total")).as("expected_docs"))
      .orderBy(col("source"))
  }

  val mixtureWeightsSql: String =
    s"""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM c),
      |w AS (SELECT source, n_docs, total,
      |    CAST(n_docs AS DOUBLE) / total AS share,
      |    sqrt(CAST(n_docs AS DOUBLE) / total) AS w
      |  FROM c CROSS JOIN tt),
      |n AS (SELECT list_reduce(list_prepend(0.0, list(w ORDER BY source)),
      |    (a, b) -> a + b) AS norm FROM w)
      |SELECT source, n_docs, share, w / norm AS weight,
      |  w / norm * total AS expected_docs
      |FROM w CROSS JOIN n ORDER BY source""".stripMargin

  /** PII patterns — RE2-and-Java-regex-portable subset (no backrefs, no
    * lookaround) so the Spark and DuckDB evaluations agree byte-for-byte.
    */
  val UrlRe = "https?://[^\\s]+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val DigitRe = "[0-9]+"

  /** q46 — PII scrub: per-doc counts of URLs / emails / digit runs
    * (detected on the pre-scrub text), plus the md5 of the redacted text
    * with placeholders substituted in a fixed order (URL first — it can
    * contain '@' — then email, then remaining digit runs). The standard
    * pre-training redaction stage: pure codegen'd regex expressions at
    * scan speed, no shuffle until the output sort; the md5 stands in for
    * shipping the scrubbed text so the oracle diff stays compact.
    *
    * The fixture text contains NO urls/emails/digits (verified — every
    * count is zero on the raw column), which would make the oracle check
    * vacuous; a deterministic doc_id-derived PII suffix is appended in
    * BOTH engines so detection and every redaction branch are actually
    * exercised.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir))
      .withColumn("aug", concat(col("text"),
        lit(" contact: user"), col("doc_id").cast("string"),
        lit("@example.com http://ex.com/d/"), col("doc_id").cast("string"),
        lit(" ref:"), col("doc_id").cast("string")))
      .select(col("doc_id"),
        regexp_count(col("aug"), lit(UrlRe)).cast("long").as("n_urls"),
        regexp_count(col("aug"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("aug"), lit(DigitRe)).cast("long").as("n_digit_runs"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("aug"),
          UrlRe, "<URL>"), EmailRe, "<EMAIL>"), DigitRe, "<NUM>"))
          .as("scrub_md5"))
      .orderBy(col("doc_id"))

  val piiScrubSql: String =
    s"""WITH a AS (
      |  SELECT doc_id,
      |    text || ' contact: user' || CAST(doc_id AS VARCHAR)
      |      || '@example.com http://ex.com/d/' || CAST(doc_id AS VARCHAR)
      |      || ' ref:' || CAST(doc_id AS VARCHAR) AS aug
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(aug, '$UrlRe')) AS BIGINT) AS n_urls,
      |  CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(aug, '$DigitRe')) AS BIGINT) AS n_digit_runs,
      |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
      |    '$UrlRe', '<URL>', 'g'), '$EmailRe', '<EMAIL>', 'g'),
      |    '$DigitRe', '<NUM>', 'g')) AS scrub_md5
      |FROM a ORDER BY doc_id""".stripMargin

  /** Unrolled merge rounds learned by [[bpeMerges]]. */
  val BpeRounds = 4

  /** Symbol-boundary separator for the BPE merge encoding (U+001F unit
    * separator). A word's symbol segmentation is carried as ONE string,
    * `␟s1␟␟s2␟␟…␟␟sk␟` — every symbol wrapped in separators, adjacent
    * symbols sharing a double separator — so one `replace` per round
    * applies a merge greedily left-to-right (standard non-overlapping
    * replace semantics ARE the BPE greedy-scan semantics) and the
    * wrapped form makes partial-symbol matches impossible: the search
    * key `␟x␟␟y␟` can only match where `x` and `y` are COMPLETE
    * adjacent symbols, and the replacement `␟xy␟` re-establishes the
    * invariant so consecutive merge sites both fire (`a a a a` →
    * `aa aa`, while the odd one in `a a a` is left alone — exactly the
    * reference BPE behavior). The encode step strips any stray U+001F
    * from the input first, so the boundary invariant is self-enforced
    * rather than assumed of upstream text.
    */
  private val BpeSep = "\u001f"
  private val BpeSep2 = BpeSep + BpeSep

  /** q95 — BPE merge learning (Sennrich et al. 2016, the `learn_bpe`
    * counting pass): the top-[[BpeRounds]] byte-pair merges over the
    * corpus, each round counting adjacent-symbol pairs weighted by word
    * occurrence and merging the winner everywhere. This is the
    * tokenizer-training half of the pipeline ([[collocations]] ranks
    * word-level merge candidates; this one LEARNS the subword vocab) —
    * the computation `tokenizers`' BPE trainer runs, expressed
    * relationally.
    *
    * Plan: ONE corpus-scale hash-agg collapses the corpus to the
    * weighted vocab (map-side partial, the only corpus-bounded shuffle);
    * every round after that runs over the vocab table only — explode
    * pairs → hash-agg → top-1 as a 1-row `TakeOrderedAndProject`
    * (total order: count desc, then the pair — partition-invariant) →
    * broadcast the winner into a map-only `replace`. Like q91's power
    * iteration, the rounds are sequential BY NATURE (round r's counts
    * depend on round r−1's merge), so the unrolled chain is
    * [[BpeRounds]] small latency-bound jobs at fixture scale and
    * vocab-bounded work at 100 TB. Vocab frames are transient-cached
    * with an eager fill (two consumers each — the pair count and the
    * next merge — would otherwise race the cold cache, the q91 lesson);
    * all arithmetic is exact integers, so no ordered folds are needed.
    *
    * Degenerate corpora (every word collapsed to one symbol before the
    * rounds run out) exhaust the pair table early: such rounds emit no
    * output row — the result can carry fewer than [[BpeRounds]] rows —
    * and the exhausted-pair guard keeps the vocab intact so the apply
    * half (q97) still segments with the merges learned so far.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesOf(docToks(spark, dir))

  /** The q95 merge learner over an explicit `(t: array<string>)` token
    * frame — the spec drives greedy-overlap, boundary-safety and
    * stray-separator cases through this seam.
    */
  private[graft] def bpeMergesOf(toksDf: DataFrame,
                                 rounds: Int = BpeRounds): DataFrame =
    bpeChain(toksDf, rounds, applyLast = false)._1.reduce(_ union _)
      .orderBy(col("step"))

  /** The shared trainer chain behind q95/q97: the per-round winner
    * frames (1 row each) and the vocab — fully merged through round
    * `rounds` (default [[BpeRounds]]) when `applyLast` (the q97 apply path needs the final
    * segmentation; the q95 report does not, so its last merge is never
    * built, let alone run). Intermediate vocab frames have TWO consumers
    * (the next pair count and the round after's merge input) but those
    * run in strictly sequential jobs, so they are cached WITHOUT eager
    * fills; only the per-round winner `count()` stays eager — it both
    * sequences the rounds (each winner must exist before the next
    * round's counts mean anything) and prevents the final union job
    * from racing its broadcast materializations against cold caches.
    */
  private def bpeChain(toksDf: DataFrame, rounds: Int, applyLast: Boolean)
      : (Seq[DataFrame], DataFrame) =
    bpeChainFromCounts(
      toksDf.select(explode(col("t")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("w")),
      rounds, applyLast)

  /** Lineage truncation for deep relational merge budgets (the q91
    * pageRank discipline, but EVERY round past the demonstration
    * depth): each round references the previous vocab frame several
    * times (the pair count, the winner's cached plan, the merge input),
    * and plan-STRING generation prints every `InMemoryRelation`'s
    * cached plan transitively without sharing — so the per-job plan
    * description grows ~6× per round (measured: 1.9 KB at round 1 to
    * 2 billion chars — `maxPlanStringLength`-saturated — by round 9,
    * with the driver spending minutes in `generateTreeString` per job).
    * An eager `localCheckpoint` per round past [[BpeRounds]] resets the
    * base each round, keeping analysis, cache-manager canonicalization
    * and plan strings O(1) per round. The q95/q97 default of
    * [[BpeRounds]] = 4 never reaches the cadence — their plans and pins
    * are untouched. Values unchanged by construction; TrainingOpsSpec
    * walks 64 rounds (60 checkpointed) against an in-memory reference
    * trainer.
    */
  private def bpeDeepRound(i: Int): Boolean = i > BpeRounds

  /** The chain over an explicit `(word, w)` weighted vocab — q97 feeds
    * the word counts it already aggregated from its per-doc frame, so
    * the corpus is tokenized exactly once between the two halves.
    */
  private def bpeChainFromCounts(wordCounts: DataFrame, rounds: Int,
                                 applyLast: Boolean)
      : (Seq[DataFrame], DataFrame) = {
    // cached lazily for the same sequential-consumer reason as the
    // per-round vocab frames below
    val v0 = graft.TransientCache.register(
      wordCounts
        .select(col("word"),
          regexp_replace(
            regexp_replace(col("word"), BpeSep, ""),
            "(.)", BpeSep + "$1" + BpeSep).as("enc"),
          col("w"))
        .cache())
    var v = v0
    val outs = Seq.newBuilder[DataFrame]
    for (i <- 1 to rounds) {
      val pairs = v
        .select(split(trim(col("enc"), BpeSep), BpeSep2).as("s"), col("w"))
        .select(col("s"), col("w"), posexplode(col("s")).as(Seq("i0", "l")))
        .filter(col("i0") < size(col("s")) - 1)
        .select(col("l"), element_at(col("s"), col("i0") + 2).as("r"), col("w"))
        .groupBy(col("l"), col("r")).agg(sum(col("w")).as("cnt"))
      val best = graft.TransientCache.register(
        pairs.orderBy(col("cnt").desc, col("l"), col("r")).limit(1).cache())
      val haveWinner = best.count() > 0
      outs += best.select(lit(i).as("step"), col("l").as("lhs"),
        col("r").as("rhs"), concat(col("l"), col("r")).as("merged"),
        col("cnt").as("pair_count"))
      // exhausted-pair guard: on a degenerate corpus (every word one
      // symbol before the rounds run out) `best` is EMPTY, and merging
      // against an empty 1-row frame would wipe the whole vocab — the
      // apply half (q97) must keep segmenting with the merges learned
      // so far, not return zero documents
      if (haveWinner && (i < rounds || applyLast)) {
        val merged = v.crossJoin(broadcast(best))
          .select(col("word"),
            replace(col("enc"),
              concat(lit(BpeSep), col("l"), lit(BpeSep2), col("r"),
                lit(BpeSep)),
              concat(lit(BpeSep), col("l"), col("r"), lit(BpeSep)))
              .as("enc"),
            col("w"))
        // cached but NOT eagerly counted: unlike q91's sibling map
        // stages, this frame's two consumers (the next round's pair
        // count, then the round after's merge input) run in strictly
        // SEQUENTIAL jobs — the first fills the cache race-free, so an
        // eager fill would only add a redundant barrier'd job round
        // (measured ~0.1 s each at sf0.1 on kilobyte vocab frames).
        // At deep budgets every round swaps the cache for an eager
        // checkpoint — see [[bpeDeepRound]]. Superseded checkpoints are
        // deliberately NOT unpersisted (unlike pageRank's cadence,
        // where nothing but the rank chain references old rounds):
        // every round's cached 1-row winner in `outs` roots its
        // TRUNCATED lineage in that round's input checkpoint, so
        // dropping the blocks would turn a later winner-cache eviction
        // into a hard "checkpoint block not found" failure instead of
        // a recompute (a review-pass finding). The retained blocks are
        // vocab-bounded — one small frame per deep round, gone with
        // the session like the CC round checkpoints.
        v =
          if (i >= rounds) merged
          else if (bpeDeepRound(i)) merged.localCheckpoint(true)
          else graft.TransientCache.register(merged.cache())
      }
    }
    (outs.result(), v)
  }

  /** Oracle: the same rounds as a CTE chain — the identical wrapped
    * encoding (`chr(31)` boundaries), the identical greedy `replace`,
    * the identical (count desc, pair) top-1 cut. All integers; no float
    * ever appears.
    */
  /** One oracle merge round as a CTE block, shared by the q95 and q97
    * oracles (`carryWord` threads the word key through for the apply
    * half). The merge uses LEFT JOIN ON TRUE + coalesce rather than a
    * CROSS JOIN: when the pair table is exhausted (degenerate corpus)
    * `b$$i` is empty, a cross join would wipe the vocab, and the
    * coalesced empty-symbol search key `chr(31) x 4` can never match an
    * encoding (separator runs are at most 2), so the round becomes the
    * identity — mirroring the engine's exhausted-pair guard.
    */
  private def bpeRoundCte(i: Int, prev: String, carryWord: Boolean): String = {
    val w = if (carryWord) "word, " else ""
    s"""p$i AS (SELECT l, r, CAST(sum(w) AS BIGINT) AS cnt FROM (
      |  SELECT list_extract(s, u.i) AS l, list_extract(s, u.i + 1) AS r, w
      |  FROM (SELECT string_split(trim(enc, chr(31)), chr(31) || chr(31)) AS s, w
      |        FROM $prev) t,
      |       unnest(generate_series(1, len(s) - 1)) AS u(i)) q GROUP BY l, r),
      |b$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
      |e$i AS (SELECT ${w}replace(enc,
      |    chr(31) || coalesce(b.l, '') || chr(31) || chr(31) || coalesce(b.r, '') || chr(31),
      |    chr(31) || coalesce(b.l, '') || coalesce(b.r, '') || chr(31)) AS enc, w
      |  FROM $prev LEFT JOIN b$i b ON TRUE)""".stripMargin
  }

  val bpeMergesSql: String = {
    def round(i: Int, prev: String): String = bpeRoundCte(i, prev, carryWord = false)
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |tok AS (SELECT list_extract(t, u.i) AS cur
      |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
      |v0 AS (SELECT cur AS word, count(*) AS w FROM tok GROUP BY cur),
      |e0 AS (SELECT regexp_replace(replace(word, chr(31), ''),
      |    '(.)', chr(31) || '\\1' || chr(31), 'g') AS enc, w FROM v0),
      |${round(1, "e0")},
      |${round(2, "e1")},
      |${round(3, "e2")},
      |${round(4, "e3")}
      |SELECT * FROM (
      |  SELECT 1 AS step, l AS lhs, r AS rhs, l || r AS merged,
      |    cnt AS pair_count FROM b1
      |  UNION ALL SELECT 2, l, r, l || r, cnt FROM b2
      |  UNION ALL SELECT 3, l, r, l || r, cnt FROM b3
      |  UNION ALL SELECT 4, l, r, l || r, cnt FROM b4) u
      |ORDER BY step""".stripMargin
  }

  /** q97 — BPE segmentation stats: the APPLY half of [[bpeMerges]]'
    * trainer (learn_bpe's sibling `apply_bpe`): every document
    * re-segmented with the [[BpeRounds]] learned merges, reported as
    * per-doc token/char/symbol counts and the chars-per-symbol
    * compression the learned vocab achieves — the number a tokenizer
    * team tracks across corpus snapshots. Train→apply as ONE closed
    * declarative loop.
    *
    * Plan: the corpus is tokenized ONCE into a per-(doc, word) count
    * frame (transient-cached: the trainer's word counts are summed FROM
    * it — the q92 single-source discipline — and it is the apply-side
    * probe); the trainer chain runs vocab-bounded as in q95, the final
    * merged vocab is applied per distinct WORD (never per occurrence),
    * and the apply is a shuffle equi-join on the word key (vocab is
    * corpus-bounded — it never broadcasts) followed by one per-doc
    * hash-agg. All counts exact integers; the single float rounding is
    * the final ratio.
    */
  def bpeSegment(spark: SparkSession, dir: String): DataFrame =
    bpeSegmentOf(docToks(spark, dir))

  /** The q97 apply over an explicit `(doc_id, t)` token frame. */
  private[graft] def bpeSegmentOf(toksDf: DataFrame,
                                  rounds: Int = BpeRounds): DataFrame = {
    // two consumers (the trainer's word counts in round 1's job, the
    // apply probe in the final job) — strictly sequential, so the
    // cache fills race-free without an eager count
    val dw = graft.TransientCache.register(
      toksDf.select(col("doc_id"), explode(col("t")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
        .cache())
    val v4 = bpeChainFromCounts(
      dw.groupBy(col("word")).agg(sum(col("c")).as("w")),
      rounds, applyLast = true)._2
    val sym = v4.select(col("word"),
      length(regexp_replace(col("word"), BpeSep, "")).as("n_ch"),
      size(split(trim(col("enc"), BpeSep), BpeSep2)).as("n_sym"))
    dw.join(sym, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("n_ch")).as("n_chars"),
        sum(col("c") * col("n_sym")).as("n_symbols"))
      .select(col("doc_id"), col("n_tokens"), col("n_chars"),
        col("n_symbols"),
        (col("n_chars").cast("double") / col("n_symbols").cast("double"))
          .as("chars_per_symbol"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the q95 round chain re-derived with the word key carried
    * through (the apply needs word → final segmentation), then the same
    * word-key probe join and per-doc integer sums.
    */
  val bpeSegmentSql: String = {
    def round(i: Int, prev: String): String = bpeRoundCte(i, prev, carryWord = true)
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |tok AS (SELECT doc_id, list_extract(t, u.i) AS cur
      |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
      |dw AS (SELECT doc_id, cur AS word, count(*) AS c FROM tok
      |  GROUP BY doc_id, cur),
      |v0 AS (SELECT word, CAST(sum(c) AS BIGINT) AS w FROM dw GROUP BY word),
      |e0 AS (SELECT word, regexp_replace(replace(word, chr(31), ''),
      |    '(.)', chr(31) || '\\1' || chr(31), 'g') AS enc, w FROM v0),
      |${round(1, "e0")},
      |${round(2, "e1")},
      |${round(3, "e2")},
      |${round(4, "e3")},
      |sym AS (SELECT word,
      |    CAST(length(replace(word, chr(31), '')) AS INT) AS n_ch,
      |    CAST(len(string_split(trim(enc, chr(31)), chr(31) || chr(31)))
      |      AS INT) AS n_sym
      |  FROM e4),
      |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(sum(c * n_ch) AS BIGINT) AS n_chars,
      |    CAST(sum(c * n_sym) AS BIGINT) AS n_symbols
      |  FROM dw JOIN sym USING (word) GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_chars, n_symbols,
      |  CAST(n_chars AS DOUBLE) / CAST(n_symbols AS DOUBLE)
      |    AS chars_per_symbol
      |FROM a ORDER BY doc_id""".stripMargin
  }

  /** q96 — per-source distribution drift: the L1 (total-variation × 2)
    * distance between each source's token distribution and the corpus
    * distribution — the "is this source's language shifting away from
    * the mix" monitor a training pipeline runs per ingest snapshot
    * (domain drift, scrape rot, a source going spammy). Done in EXACT
    * integer space (the q93/q94 discipline): for source s with token
    * counts c_s(t), total N_s, corpus counts c(t), total N,
    *
    *   D(s) = Σ_t |c_s(t)·N − c(t)·N_s|
    *        = Σ_{t∈V_s} |c_s(t)·N − c(t)·N_s| + (N − Σ_{t∈V_s} c(t))·N_s
    *
    * — the second form needs only the rows where c_s(t) > 0 (the
    * missing-token mass is the closed-form remainder), so the join is
    * the source-token table itself, never a |sources|×|vocab|
    * expansion. Every product is DECIMAL(38,0) (N² at 100 TB ≈ 10²⁷,
    * far under 10³⁸), sums are commutative-exact, and the single float
    * rounding is the final division l1 = D / (N_s·N) — bit-identical
    * across engines and partitionings with NO ordered fold.
    *
    * Plan: one corpus-scale hash-agg to (source, token) counts
    * (transient-cached: three consumers — the corpus marginal, the
    * source marginal, and the probe side); the corpus marginal is
    * summed FROM it so numerator and denominator can never disagree
    * (the q92 lesson); the probe is a shuffle equi-join on the token
    * key (vocab is corpus-bounded — it never broadcasts); only the
    * per-source totals (sources operationally bounded, the
    * [[mixtureWeights]] precedent) and the 1-row grand total ride
    * broadcasts.
    */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame =
    sourceDriftOf(Tables.spread(Tables.documents(spark, dir)))

  /** The q96 drift over an explicit `(source, text)` frame — the spec
    * drives identical-distribution and disjoint-vocabulary cases (drift
    * exactly 0 and exactly 1) through this seam.
    */
  private[graft] def sourceDriftOf(docs: DataFrame): DataFrame =
    sourceDriftFromCounts(
      docs
        .select(col("source"), explode(toks(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cst")))

  /** Per-source token counts `(tok, cnt)` of a documents frame — the
    * additive building block the maintained live distribution
    * ([[graft.pipelines.CorpusPipeline]]'s `live_token_counts`) is kept
    * in: counts are exact integers, so the distribution of a corpus is
    * EXACTLY the sum of its appended batches' count frames.
    */
  private[graft] def tokenCountsOf(docs: DataFrame): DataFrame =
    docs.select(explode(toks(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))

  /** The q96 drift computed from an EXPLICIT per-source token-count
    * frame `(source, tok, cst)` — the seam that lets a maintained
    * at-rest distribution stand in for a corpus tokenize: everything
    * from the count frame down is identical to [[sourceDriftOf]] (which
    * is exactly "tokenize, then this"), and since every input is an
    * exact integer the drift is bit-identical whichever way the counts
    * were produced. This is what makes the nightly gate O(batch tokens
    * + live vocab) instead of a corpus-scale pass.
    */
  private[graft] def sourceDriftFromCounts(counts: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    // eager fill: the final job consumes `st` on the probe side WHILE
    // materializing the ns/n broadcasts built from it — sibling
    // consumers inside one job race a cold cache (the q91 rule)
    val st = graft.TransientCache.register(counts.cache())
    st.count()
    val gt = st.groupBy(col("tok")).agg(sum(col("cst")).as("ct"))
    val ns = st.groupBy(col("source")).agg(sum(col("cst")).as("n_s"))
    val n = ns.agg(sum(col("n_s")).as("n"))
    st.join(gt, Seq("tok"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(n))
      .groupBy(col("source"), col("n_s"), col("n"))
      .agg(
        sum(abs(col("cst").cast(dec) * col("n").cast(dec)
          - col("ct").cast(dec) * col("n_s").cast(dec))).as("d_in"),
        sum(col("ct").cast(dec)).as("cov"))
      .select(col("source"), col("n_s"), col("n"),
        (col("d_in") + (col("n").cast(dec) - col("cov"))
          * col("n_s").cast(dec)).as("d"))
      .select(col("source"),
        (col("d").cast("double")
          / (col("n_s").cast(dec) * col("n").cast(dec)).cast("double"))
          .as("l1_drift"),
        col("n_s").as("n_tokens"))
      .orderBy(col("source"))
  }

  /** Oracle: the per-row products are cast to DuckDB's 128-bit HUGEINT
    * BEFORE multiplying (BIGINT x BIGINT would overflow once the corpus
    * token total passes ~3e9 — the Spark side's DECIMAL(38,0) products
    * have the same headroom) and the sums stay HUGEINT; the lone
    * division is written in the identical order.
    */
  val sourceDriftSql: String =
    s"""WITH toks AS (SELECT doc_id, source, $toksSql AS t FROM documents),
      |tok AS (SELECT source, list_extract(t, u.i) AS tok
      |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
      |st AS (SELECT source, tok, count(*) AS cst FROM tok GROUP BY source, tok),
      |gt AS (SELECT tok, CAST(sum(cst) AS BIGINT) AS ct FROM st GROUP BY tok),
      |ns AS (SELECT source, CAST(sum(cst) AS BIGINT) AS n_s FROM st GROUP BY source),
      |tt AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM ns),
      |agg AS (SELECT st.source, ns.n_s, tt.n,
      |    sum(abs(CAST(st.cst AS HUGEINT) * CAST(tt.n AS HUGEINT)
      |      - CAST(gt.ct AS HUGEINT) * CAST(ns.n_s AS HUGEINT))) AS d_in,
      |    CAST(sum(gt.ct) AS BIGINT) AS cov
      |  FROM st JOIN gt USING (tok) JOIN ns ON ns.source = st.source
      |  CROSS JOIN tt
      |  GROUP BY st.source, ns.n_s, tt.n)
      |SELECT source,
      |  CAST(d_in + CAST(n - cov AS HUGEINT) * CAST(n_s AS HUGEINT) AS DOUBLE)
      |    / CAST(CAST(n_s AS HUGEINT) * CAST(n AS HUGEINT) AS DOUBLE)
      |    AS l1_drift,
      |  n_s AS n_tokens
      |FROM agg ORDER BY source""".stripMargin
}
