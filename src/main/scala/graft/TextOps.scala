package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Extended text-analysis operators for the training-data pipeline
  * (BASELINE.json north star): language-ID, quality scoring, token
  * counting, document fingerprinting, SimHash dedup. All portable
  * arithmetic so every query is DuckDB-oracle-checkable.
  *
  * Shared pipeline: tokenize (explode) → row-local 31-bit token id
  * (md5 content hash, LlmOps.textHash — no vocabulary dimension, no
  * global window, embarrassingly parallel at any scale) → per-doc
  * aggregates.
  */
object TextOps extends QueryModule {
  import Tables._

  private val P = 2147483647L

  /** (doc_id, lang, pos, tok) token stream. */
  private def toks(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), col("lang"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))

  /** Token stream + tid = 31-bit md5 content hash of the token, computed
    * row-locally, with no vocabulary window (bit-identical in DuckDB via
    * textHashSql). */
  private def tokensWithId(s: SparkSession, d: String): DataFrame =
    toks(s, d).withColumn("tid", expr(LlmOps.textHash("tok")))

  private val toksSqlCte: String =
    s"""toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |tt AS (SELECT doc_id, lang, pos, ${LlmOps.textHashSql("tok")} AS tid
      |       FROM toks)""".stripMargin

  // ---------------------------------------------------------- language ID

  /** n-gram-heuristic-shaped language ID: each token votes for one of 5
    * classes (tid mod 5); predicted class = argmax votes, ties to the
    * smallest class. The corpus is synthetic (shared vocabulary across
    * langs), so the *confusion matrix* against the labeled lang is the
    * deliverable — it exercises the real plumbing: explode → vote →
    * per-doc argmax → confusion rollup. */
  def qTextLangid(s: SparkSession, d: String): DataFrame = {
    val voteCols = (0 until 5).map(c =>
      sum(when(col("tid") % 5 === c, 1L).otherwise(0L)).as(s"s$c"))
    val votes = tokensWithId(s, d)
      .groupBy(col("doc_id"), col("lang"))
      .agg(voteCols.head, voteCols.tail: _*)
    val m = greatest((0 until 5).map(c => col(s"s$c")): _*)
    val predicted = (0 until 5).foldRight(lit(-1): Column) { (c, rest) =>
      when(col(s"s$c") === m, c).otherwise(rest)
    }
    // foldRight gives CASE s0=m THEN 0 WHEN s1=m ... — first (smallest) wins
    votes.withColumn("predicted", predicted)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))
  }

  val qTextLangidSql: String =
    s"""WITH $toksSqlCte,
       |votes AS (
       |  SELECT doc_id, lang,
       |    ${(0 until 5).map(c => s"CAST(SUM(CASE WHEN tid % 5 = $c THEN 1 ELSE 0 END) AS BIGINT) AS s$c").mkString(",\n    ")}
       |  FROM tt GROUP BY doc_id, lang),
       |pred AS (
       |  SELECT lang,
       |    CASE ${(0 until 5).map(c => s"WHEN s$c = GREATEST(s0, s1, s2, s3, s4) THEN $c").mkString(" ")}
       |    END AS predicted
       |  FROM votes)
       |SELECT lang, predicted, COUNT(*) AS n_docs
       |FROM pred GROUP BY lang, predicted
       |ORDER BY lang, predicted""".stripMargin

  // ------------------------------------------------------- quality scoring

  /** Quality score per document from unique-token ratio, stopword ratio,
    * and a length saturation term; reported as a per-(lang, decile-bucket)
    * histogram with the average score. All ratios are single double
    * divisions (deterministic); the score is rounded to 4dp before
    * bucketing so both engines bucket identically. */
  def qTextQuality(s: SparkSession, d: String): DataFrame = {
    // row-local: token/unique/stopword counts are array expressions over
    // the split — no explode, no per-doc groupBy (same shape as
    // qPipelineFunnel); the only shuffle is the (lang, bucket) rollup
    val tk = split(col("text"), " ")
    val perDoc = documents(s, d)
      .select(col("lang"),
        size(tk).cast(DoubleType).as("n_tok"),
        size(array_distinct(tk)).cast(DoubleType).as("n_uniq"),
        size(filter(tk, t => t === "the" || t === "a")).cast(DoubleType).as("n_stop"))
      .withColumn("score", round(
        lit(0.4) * (col("n_uniq") / col("n_tok")) +
          lit(0.3) * (lit(1.0) - col("n_stop") / col("n_tok")) +
          lit(0.3) * least(lit(1.0), col("n_tok") / lit(100.0)), 4))
    perDoc
      .withColumn("bucket", floor(col("score") * 10).cast(IntegerType))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("score").cast(DecimalType(8, 4))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 4).as("avg_score"))
      .orderBy(col("lang"), col("bucket"))
  }

  val qTextQualitySql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      |per_doc AS (
      |  SELECT doc_id, lang,
      |    round(0.4 * (CAST(COUNT(DISTINCT tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
      |        + 0.3 * (1.0 - CAST(SUM(CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
      |        + 0.3 * LEAST(1.0, CAST(COUNT(*) AS DOUBLE) / 100.0), 4) AS score
      |  FROM toks GROUP BY doc_id, lang)
      |SELECT lang, CAST(FLOOR(score * 10) AS INTEGER) AS bucket,
      |  COUNT(*) AS n_docs,
      |  round(CAST(SUM(CAST(score AS DECIMAL(8,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS avg_score
      |FROM per_doc GROUP BY lang, bucket
      |ORDER BY lang, bucket""".stripMargin

  // -------------------------------------------------------- token counting

  /** Token counting three ways per language: whitespace split, a BPE-ish
    * regex tokenizer ([a-z]+ / digit runs), and raw characters. */
  def qTextTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"),
        size(split(col("text"), " ")).as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+', 0))").as("re_tokens"),
        length(col("text")).as("n_chars"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("sum_ws_tokens"),
        sum(col("re_tokens")).as("sum_re_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))

  val qTextTokensSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS sum_re_tokens,
      |  CAST(SUM(len(text)) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------------------------------- doc fingerprinting

  /** Content fingerprint per document: sum of distinct 3-token shingle values
    * mod 2^31-1 (rolling-hash-family: order-sensitive through the shingles,
    * repetition-insensitive through DISTINCT). Each shingle value is itself
    * reduced mod 2^31-1 so the per-doc distinct sum stays far from Long
    * overflow at any document length. Fully ROW-LOCAL: token hashes, shingle
    * values, distinct, and the modular sum are all array expressions inside
    * one projection — zero shuffles before the final ORDER BY. */
  def qTextFingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        expr(s"transform(split(text, ' '), t -> ${LlmOps.textHash("t")})").as("tids"))
      .filter(size(col("tids")) >= 3)
      .select(col("doc_id"), expr(
        s"""aggregate(
           |  array_distinct(transform(sequence(1, size(tids) - 2),
           |    i -> ((tids[i-1] * 1024 + tids[i]) * 1024 + tids[i+1]) % $P)),
           |  CAST(0 AS BIGINT), (acc, x) -> acc + x) % $P""".stripMargin)
        .as("fingerprint"))
      .orderBy(col("doc_id"))

  val qTextFingerprintSql: String =
    s"""WITH $toksSqlCte,
       |led AS (SELECT doc_id, tid,
       |          LEAD(tid, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t2,
       |          LEAD(tid, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t3
       |        FROM tt),
       |sh AS (SELECT doc_id, ((tid * 1024 + t2) * 1024 + t3) % 2147483647 AS v
       |       FROM led WHERE t3 IS NOT NULL)
       |SELECT doc_id,
       |  CAST(SUM(DISTINCT v) % 2147483647 AS BIGINT) AS fingerprint
       |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- SimHash

  /** SimHash near-dup buckets: per document, each token instance votes ±1
    * on every bit of its portable hash h = (48271·tid + 11) mod 2^bits;
    * bit j of the signature is 1 iff the vote sum is positive. Buckets
    * holding ≥2 docs are Hamming-distance-0 near-dup candidates.
    * One explode + one grouped aggregate — fully shuffle-scalable. */
  /** (doc_id, simhash): per-doc SimHash signatures of the given width.
    * Both graded queries use 24 bits — a 12-bit space saturates with
    * random collisions once the corpus outgrows 2^12 docs. */
  private def simhashSigs(s: SparkSession, d: String, bits: Int): DataFrame = {
    // hh computed ONCE per token in the projection: inlining the
    // 48271·tid+11 hash into all `bits` aggregate expressions made the
    // generated aggregate ~24× larger for no reason — a measurable slice
    // of the one-shot janino compile the bench pays (same class of fix as
    // graft_lsh_sig); arithmetic unchanged, oracle unchanged
    val bitSums = (0 until bits).map { j =>
      sum(when(expr(s"(hh div ${1L << j}) % 2") === 1, 1L).otherwise(-1L)).as(s"b$j")
    }
    val sig = (0 until bits).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    tokensWithId(s, d)
      .withColumn("hh", expr(s"(CAST(48271 AS BIGINT) * tid + 11) % ${1L << bits}"))
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", sig)
      .select(col("doc_id"), col("simhash"))
  }

  /** Matching DuckDB CTE ending in `sig(doc_id, simhash)`. */
  private def simhashSqlCte(bits: Int): String = {
    val h = s"(48271 * tid + 11) % ${1L << bits}"
    s"""$toksSqlCte,
       |bits AS (
       |  SELECT doc_id,
       |    ${(0 until bits).map(j => s"SUM(CASE WHEN (($h) // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(",\n    ")}
       |  FROM tt GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id,
       |    ${(0 until bits).map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")} AS simhash
       |  FROM bits)""".stripMargin
  }

  def qDedupSimhash(s: SparkSession, d: String): DataFrame =
    // 24-bit signature, bucketed on the FULL signature: a 12-bit space
    // (4,096 buckets) saturates with random collisions once the corpus
    // outgrows 2^12 docs AND caps the groupBy at 4,096 reducer keys — a
    // skew wall at scale. 2^24 buckets keeps Hamming-0 collisions
    // meaningful and the shuffle key space wide (as in the pairs query).
    simhashSigs(s, d, 24)
      .groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("simhash"))

  val qDedupSimhashSql: String =
    s"""WITH ${simhashSqlCte(24)}
       |SELECT simhash, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_docs
       |FROM sig GROUP BY simhash HAVING COUNT(*) >= 2
       |ORDER BY simhash""".stripMargin

  /** SimHash near-dup PAIRS within Hamming distance ≤ 2: the 24-bit
    * signature splits into 3 bands of 8 bits, and by pigeonhole any pair
    * within distance 2 agrees on ≥1 whole band — so candidates come from
    * a band equi-join (never all-pairs), then the exact popcount of the
    * XOR verifies. 24 bits (vs the bucket query's 12) keeps the random
    * collision rate negligible as the corpus grows — at 12 bits a 5000-doc
    * corpus emitted 2.2M noise pairs. Signatures are checkpointed once
    * for both join sides; bit_count is a built-in in both engines. */
  def qDedupSimhashPairs(s: SparkSession, d: String): DataFrame = {
    val sigs = simhashSigs(s, d, 24).localCheckpoint(eager = false)
    val bandCols = (0 until 3).map(b =>
      (col("simhash") / lit(1L << (8 * b))).cast(LongType) % 256)
    val bandRows = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bv")))
    bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("va"), col("b.doc_id").as("vb"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      // popcount BEFORE distinct: the verify is a cheap row-local bit op,
      // so dedup of multi-band collisions runs over the surviving
      // near-pairs only, not the full candidate stream
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
      .filter(col("hamming") <= 2)
      .select(col("va"), col("vb"), col("hamming"))
      .distinct()
      .orderBy(col("va"), col("vb"))
  }

  val qDedupSimhashPairsSql: String =
    s"""WITH ${simhashSqlCte(24)},
       |bands AS (
       |  ${(0 until 3).map(b => s"SELECT doc_id, simhash, $b AS band, (simhash // ${1L << (8 * b)}) % 256 AS bv FROM sig").mkString("\n  UNION ALL\n  ")}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS va, b.doc_id AS vb,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT va, vb, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM pairs
       |WHERE bit_count(xor(sa, sb)) <= 2
       |ORDER BY va, vb""".stripMargin

  // -------------------------------------------------- bigram LM statistics

  /** Bigram language-model statistics: P(w2|w1) = count(w1,w2)/count(w1·)
    * as a ratio of exact integers, top-3 continuations for the 20 most
    * frequent head tokens. Head selection uses orderBy+limit
    * (TakeOrderedAndProject — per-partition top-k, no global window over
    * the vocabulary) and the tiny head set broadcasts back against the
    * bigram counts. */
  def qTextBigramLm(s: SparkSession, d: String): DataFrame = {
    // bigram extraction is row-local (array transform over adjacent token
    // pairs) — the first shuffle in the plan is already the (w1, w2)
    // count aggregate, not a per-doc lead window
    val bg = documents(s, d)
      .select(split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS w1, tk[i] AS w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val pairCounts = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val topHeads = pairCounts.groupBy(col("w1")).agg(sum(col("n")).as("n_head"))
      .orderBy(col("n_head").desc, col("w1")).limit(20)
    val wPer = Window.partitionBy(col("w1")).orderBy(col("n").desc, col("w2"))
    pairCounts.join(broadcast(topHeads), Seq("w1"))
      .withColumn("rn", row_number().over(wPer))
      .filter(col("rn") <= 3)
      .select(col("w1"), col("w2"), col("n"),
        round(col("n").cast(DoubleType) / col("n_head").cast(DoubleType), 4).as("p"),
        col("rn"))
      .orderBy(col("w1"), col("rn"))
  }

  val qTextBigramLmSql: String =
    s"""WITH $toksSqlCte,
       |led AS (SELECT doc_id, tok,
       |          LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |        FROM toks),
       |bg AS (SELECT tok AS w1, w2 FROM led WHERE w2 IS NOT NULL),
       |pc AS (SELECT w1, w2, COUNT(*) AS n FROM bg GROUP BY w1, w2),
       |th AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS n_head FROM pc GROUP BY w1
       |       ORDER BY n_head DESC, w1 LIMIT 20),
       |r AS (SELECT pc.w1, pc.w2, pc.n, th.n_head,
       |        ROW_NUMBER() OVER (PARTITION BY pc.w1 ORDER BY pc.n DESC, pc.w2) AS rn
       |      FROM pc JOIN th ON pc.w1 = th.w1)
       |SELECT w1, w2, n,
       |  round(CAST(n AS DOUBLE) / CAST(n_head AS DOUBLE), 4) AS p, rn
       |FROM r WHERE rn <= 3
       |ORDER BY w1, rn""".stripMargin

  // ------------------------------------------------------ LM quality score

  /** LM-based quality scoring — the perplexity-filter shape of a curation
    * pipeline: a bigram model is trained on the corpus itself (exact
    * (w1,w2) and head counts), then EVERY document's bigrams are scored
    * against it: mean conditional probability and rare-bigram fraction
    * (corpus count ≤ 2 — the "this text is unlike the corpus" signal).
    * Scoring is one shuffle join of doc-bigrams against the model on
    * (w1,w2) — the standard LM-scoring topology; at 100 TB the model
    * side is pruned to the vocabulary actually present and the join is
    * the only vocabulary-sized shuffle. Means go through exact decimal
    * sums of p = n/n_head (one IEEE division of exact ints per bigram),
    * so the rollup is bit-stable — no log(), whose last ulp differs
    * between engines. */
  def qTextLmScore(s: SparkSession, d: String): DataFrame = {
    val bgd = documents(s, d)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS w1, tk[i] AS w2))"))
        .as("p"))
      .select(col("doc_id"), col("lang"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val pairCounts = bgd.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val heads = pairCounts.groupBy(col("w1")).agg(sum(col("n")).as("n_head"))
    val model = pairCounts.join(heads, Seq("w1"))
    bgd.join(model, Seq("w1", "w2"))
      .select(col("doc_id"), col("lang"),
        (col("n").cast(DoubleType) / col("n_head").cast(DoubleType)).as("p"),
        when(col("n") <= 2, lit(1L)).otherwise(lit(0L)).as("rare"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        sum(col("rare")).as("n_rare"),
        round(sum(col("p").cast(DecimalType(38, 12))).cast(DoubleType) /
          count(lit(1)), 6).as("avg_p"))
      .orderBy(col("lang"))
  }

  val qTextLmScoreSql: String =
    s"""WITH $toksSqlCte,
       |led AS (SELECT doc_id, lang, tok,
       |          LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |        FROM toks),
       |bg AS (SELECT doc_id, lang, tok AS w1, w2 FROM led WHERE w2 IS NOT NULL),
       |pc AS (SELECT w1, w2, COUNT(*) AS n FROM bg GROUP BY 1, 2),
       |th AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS n_head FROM pc GROUP BY 1),
       |sc AS (SELECT bg.doc_id, bg.lang,
       |         CAST(pc.n AS DOUBLE) / CAST(th.n_head AS DOUBLE) AS p,
       |         CASE WHEN pc.n <= 2 THEN 1 ELSE 0 END AS rare
       |       FROM bg JOIN pc ON bg.w1 = pc.w1 AND bg.w2 = pc.w2
       |                JOIN th ON bg.w1 = th.w1)
       |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_bigrams,
       |  CAST(SUM(rare) AS BIGINT) AS n_rare,
       |  round(CAST(SUM(CAST(p AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS avg_p
       |FROM sc GROUP BY lang ORDER BY lang""".stripMargin

  // -------------------------------------------------- repetition scoring

  /** Repetition detection — the boilerplate/spam heuristic: repeated
    * 3-shingle fraction per doc, (total − distinct) / total, reported as a
    * per-(lang, decile) histogram with the exact repeated-shingle sum. The
    * ratio is one double division of two exact integers, so bucketing is
    * engine-identical without rounding tricks. */
  def qTextRepetition(s: SparkSession, d: String): DataFrame = {
    // row-local: per-doc shingle values, total and distinct counts are all
    // array expressions — no explode, no per-doc window, no per-doc
    // groupBy; the only shuffle is the final tiny (lang, bucket) rollup
    val sh = documents(s, d)
      .select(col("doc_id"), col("lang"),
        expr(s"transform(split(text, ' '), t -> ${LlmOps.textHash("t")})").as("tids"))
      .filter(size(col("tids")) >= 3)
      .select(col("lang"), expr(
        s"""transform(sequence(1, size(tids) - 2),
           |  i -> ((tids[i-1] * 1024 + tids[i]) * 1024 + tids[i+1]) % $P)""".stripMargin)
        .as("vs"))
    sh.select(col("lang"),
        size(col("vs")).cast(LongType).as("n_total"),
        size(array_distinct(col("vs"))).cast(LongType).as("n_dist"))
      .withColumn("rep",
        (col("n_total") - col("n_dist")).cast(DoubleType) /
          col("n_total").cast(DoubleType))
      .withColumn("bucket", floor(col("rep") * 10).cast(IntegerType))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_total") - col("n_dist")).as("sum_repeated"))
      .orderBy(col("lang"), col("bucket"))
  }

  val qTextRepetitionSql: String =
    s"""WITH $toksSqlCte,
       |led AS (SELECT doc_id, lang, tid,
       |          LEAD(tid, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t2,
       |          LEAD(tid, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t3
       |        FROM tt),
       |sh AS (SELECT doc_id, lang, ((tid * 1024 + t2) * 1024 + t3) % 2147483647 AS v
       |       FROM led WHERE t3 IS NOT NULL),
       |per_doc AS (
       |  SELECT doc_id, lang, COUNT(*) AS n_total, COUNT(DISTINCT v) AS n_dist
       |  FROM sh GROUP BY doc_id, lang)
       |SELECT lang,
       |  CAST(FLOOR(CAST(n_total - n_dist AS DOUBLE) / CAST(n_total AS DOUBLE) * 10) AS INTEGER) AS bucket,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_total - n_dist) AS BIGINT) AS sum_repeated
       |FROM per_doc GROUP BY lang, bucket
       |ORDER BY lang, bucket""".stripMargin

  /** Document chunking for training pipelines: fixed 32-token windows with
    * stride 16 (50% overlap). Chunk assignment is pure integer arithmetic
    * on token positions — one explode, no per-doc state. */
  def qTextChunk(s: SparkSession, d: String): DataFrame = {
    // posexplode is 0-based; DuckDB generate_subscripts is 1-based — align
    // on 1-based positions (matters here, unlike the shingle queries where
    // only relative order is used)
    val tk = toks(s, d).filter(col("doc_id") < 100)
      .withColumn("pos", col("pos") + 1)
    val c0 = tk.select(col("doc_id"), col("pos"), col("tok"),
      expr("(pos - 1) div 16").as("half"))
    // window w covers halves w and w+1 → each token lands in 2 chunks
    // (except the first half-window); chunk id = half and half - 1
    val chunks = c0.select(col("doc_id"), col("pos"), col("tok"), col("half").as("chunk"))
      .union(c0.filter(col("half") >= 1)
        .select(col("doc_id"), col("pos"), col("tok"), (col("half") - 1).as("chunk")))
    chunks
      .groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("n_tokens"),
        min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
      .filter(col("n_tokens") > 16 || col("chunk") === 0) // drop tail stubs
      .orderBy(col("doc_id"), col("chunk"))
  }

  val qTextChunkSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents WHERE doc_id < 100),
      |c0 AS (SELECT doc_id, pos, tok, (pos - 1) // 16 AS half FROM toks),
      |chunks AS (
      |  SELECT doc_id, pos, tok, half AS chunk FROM c0
      |  UNION ALL
      |  SELECT doc_id, pos, tok, half - 1 AS chunk FROM c0 WHERE half >= 1)
      |SELECT doc_id, chunk, COUNT(*) AS n_tokens,
      |  MIN(pos) AS first_pos, MAX(pos) AS last_pos
      |FROM chunks
      |GROUP BY doc_id, chunk
      |HAVING COUNT(*) > 16 OR chunk = 0
      |ORDER BY doc_id, chunk""".stripMargin

  /** TF-IDF in rational form: score = tf · N / df — one IEEE division of
    * exact integers, so doubles are bit-identical across engines (no
    * ln/log, which differ in the last ulp between libm implementations).
    * Top-3 scored tokens per document over the first 50 docs. */
  def qTextTfidf(s: SparkSession, d: String): DataFrame = {
    val tk = toks(s, d)
    // N is a 1-row aggregate folded into the plan via broadcast cross join
    // (the in-plan form of the oracle's scalar subquery) — never a
    // driver-side count() at plan-build time
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_corpus"))
    val tf = tk.filter(col("doc_id") < 50)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df_ = tk.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df_, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"),
        ((col("tf") * col("n_corpus")).cast(DoubleType) / col("df").cast(DoubleType))
          .as("tfidf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("doc_id"), col("rn"))
  }

  val qTextTfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf
      |       FROM toks WHERE doc_id < 50 GROUP BY doc_id, tok),
      |df AS (SELECT tok, COUNT(*) AS df
      |       FROM (SELECT DISTINCT doc_id, tok FROM toks) t GROUP BY tok),
      |scored AS (
      |  SELECT doc_id, tok,
      |    CAST(tf * (SELECT COUNT(*) FROM documents) AS DOUBLE) / CAST(df AS DOUBLE) AS tfidf
      |  FROM tf JOIN df USING (tok)),
      |r AS (SELECT doc_id, tok, tfidf,
      |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
      |      FROM scored)
      |SELECT doc_id, tok, tfidf, rn FROM r WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin

  // ------------------------------------------------------- PII redaction

  /** PII/identifier scrubbing — the pre-training redaction pass: strip
    * emails then numeric identifiers from a text column, count what was
    * removed. The document texts are word-only, so each doc is composed
    * with a synthetic id + contact address derived from doc_id (the
    * redaction targets are then real and per-row distinct). Patterns use
    * only character classes + quantifiers, which behave identically in
    * Java regex (Spark) and RE2 (DuckDB); DuckDB needs the 'g' flag to
    * match Spark's replace-all. Pure row-local expression work — no
    * shuffle until the final small per-lang rollup. */
  private val emailPat = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private val numPat = "[0-9]+"

  def qTextRedact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"),
        concat(col("text"), lit(" id "), col("doc_id").cast(StringType),
          lit(" contact u"), col("doc_id").cast(StringType),
          lit("@example.com")).as("txt"))
      .withColumn("n_emails",
        size(regexp_extract_all(col("txt"), lit(emailPat), lit(0))))
      .withColumn("re1", regexp_replace(col("txt"), emailPat, "<EMAIL>"))
      .withColumn("n_nums",
        size(regexp_extract_all(col("re1"), lit(numPat), lit(0))))
      .withColumn("re2", regexp_replace(col("re1"), numPat, "<NUM>"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_nums")).as("n_nums"),
        sum(length(col("txt")) - length(col("re2"))).as("chars_delta"))
      .orderBy(col("lang"))

  val qTextRedactSql: String =
    """WITH t AS (
      |  SELECT lang,
      |    text || ' id ' || CAST(doc_id AS VARCHAR)
      |         || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com' AS txt
      |  FROM documents),
      |r1 AS (
      |  SELECT lang, txt,
      |    len(regexp_extract_all(txt, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_emails,
      |    regexp_replace(txt, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g') AS re1
      |  FROM t),
      |r2 AS (
      |  SELECT lang, txt, n_emails,
      |    len(regexp_extract_all(re1, '[0-9]+')) AS n_nums,
      |    regexp_replace(re1, '[0-9]+', '<NUM>', 'g') AS re2
      |  FROM r1)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_emails) AS BIGINT) AS n_emails,
      |  CAST(SUM(n_nums) AS BIGINT) AS n_nums,
      |  CAST(SUM(len(txt) - len(re2)) AS BIGINT) AS chars_delta
      |FROM r2 GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------- HTML strip + Unicode normalization

  /** Unstructured-to-text extraction — the gate that precedes every
    * dedup/quality pass in practice: strip HTML tags, decode the common
    * entities, remove zero-width characters, NFC-canonicalize (via the
    * codegen'd graft_nfc expression), collapse whitespace. The corpus
    * texts are clean, so each doc is wrapped in deterministic dirt
    * derived from doc_id (markup, an entity run, a zero-width space, and
    * a combining-accent sequence that NFC must compose) — the operator
    * then has real work to undo on every row and the oracle checks the
    * full normalized STRING per doc, not just counts. Entirely row-local
    * expression work: at 100 TB this is a scan-bound projection with no
    * shuffle at all (the output is the per-doc normalized text itself).
    * Entity decode order matters and is pinned identically on both
    * sides: &lt;/&gt;/&quot;/&#39; first, &amp; last, so '&amp;' cannot
    * double-decode. */
  private val tagPat = "<[^>]*>"
  private val zwPat = "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]"
  private val wsPat = "[ \\t\\n\\r]+"

  /** The full normalization chain as a reusable Column — shared by
    * q_text_normalize and the curation funnel's gate 0. Its `graft_nfc`
    * needs the surface installed (`Surface.install`), which the module
    * query maps do. */
  private[graft] def normalizeCol(c: Column): Column = {
    val stripped = regexp_replace(c, tagPat, " ")
    val decoded =
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(stripped,
          "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"),
        "&amp;", "&")
    val nozw = regexp_replace(decoded, zwPat, "")
    trim(regexp_replace(call_function("graft_nfc", nozw), wsPat, " "))
  }

  /** The identical chain in DuckDB SQL over expression `e`. */
  private[graft] def normalizeSqlOf(e: String): String =
    s"""trim(regexp_replace(nfc_normalize(
       |      regexp_replace(
       |        replace(replace(replace(replace(replace(
       |          regexp_replace($e, '<[^>]*>', ' ', 'g'),
       |          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
       |          '&amp;', '&'),
       |        '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g')),
       |      '[ \\t\\n\\r]+', ' ', 'g'))""".stripMargin

  def qTextNormalize(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("lang"),
        concat(lit("<div id=\""), col("doc_id").cast(StringType),
          lit("\" class='x'>"), col("text"),
          lit("</div> &amp; &lt;t"), col("doc_id").cast(StringType),
          // U+200B zero-width space, then 'e' + U+0301 combining
          // acute (NFC must compose it) — explicit escapes so the
          // bytes provably match the oracle's chr(8203)/chr(769)
          lit("&gt;\u200B e\u0301 tail")).as("dirty"))
      .withColumn("norm", normalizeCol(col("dirty")))
      .select(col("doc_id"), col("lang"),
        length(col("dirty")).as("n_raw"), length(col("norm")).as("n_norm"),
        col("norm"))
      .orderBy(col("doc_id"))

  val qTextNormalizeSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, lang,
      |    '<div id="' || CAST(doc_id AS VARCHAR) || '" class=''x''>' || text
      |      || '</div> &amp; &lt;t' || CAST(doc_id AS VARCHAR)
      |      || '&gt;' || chr(8203) || ' e' || chr(769) || ' tail' AS dirty
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, lang, dirty,
      |    ${normalizeSqlOf("dirty")} AS norm
      |  FROM t)
      |SELECT doc_id, lang, length(dirty) AS n_raw, length(norm) AS n_norm,
      |  norm
      |FROM n ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- sequence packing

  /** Context-window length for training-example packing. */
  private val PackCtx = 256

  /** SEQUENCE PACKING — the concat-and-split step that turns a curated
    * corpus into fixed-length training examples: documents are packed in
    * order into PackCtx-token bins (a doc's bin = its exclusive running
    * token offset div PackCtx), reported as per-lang bin statistics.
    * Scale shape: packing is sequential BY CONSTRUCTION (each example's
    * content depends on every doc before it), so the corpus is sharded —
    * partitionBy (lang, doc_id mod 8) — and each shard packs
    * independently through one running-sum window; parallelism = number
    * of shards, the exact knob a 100 TB tokenization run turns, and no
    * shard ever sees another shard's tokens. */
  def qPackSequences(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_tok"),
        (col("doc_id") % 8).as("shard"))
      .withColumn("cum", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("bin", expr(s"cum div $PackCtx"))
      .groupBy(col("lang"), col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        max(col("n_tokens")).as("max_bin_tokens"))
      .orderBy(col("lang"))
  }

  val qPackSequencesSql: String =
    s"""WITH d AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
       |             doc_id % 8 AS shard
       |           FROM documents),
       |c AS (SELECT lang, shard, n_tok,
       |        (SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id)
       |         - n_tok) // $PackCtx AS bin
       |      FROM d),
       |b AS (SELECT lang, shard, bin, COUNT(*) AS n_docs,
       |        CAST(SUM(n_tok) AS BIGINT) AS n_tokens
       |      FROM c GROUP BY 1, 2, 3)
       |SELECT lang, COUNT(*) AS n_bins, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(MAX(n_tokens) AS BIGINT) AS max_bin_tokens
       |FROM b GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------ BPE tokenizer training

  /** Number of BPE merge rounds trained (production vocabularies are this
    * same loop with ~50k rounds over the same word-frequency table). */
  private val BpeRounds = 10

  /** BPE TOKENIZER TRAINING — the one text-pipeline stage everything else
    * (chunk/tokens/lm_score) assumes already exists: learn merge rules by
    * repeatedly fusing the corpus-wide most frequent adjacent symbol pair.
    *
    * Shape: BPE trains on the WORD-FREQUENCY table, not the raw corpus —
    * the distinct-word aggregate is the big shuffle, after which state is
    * O(|vocab|) regardless of corpus size. Each round is (1) a pair-count
    * aggregate over the symbol sequences weighted by word frequency,
    * (2) argmax with deterministic tie-break (count desc, then pair value
    * asc), (3) a broadcast of the 1-row winner applied as a row-local
    * merge — the same checkpoint-per-round driver loop as
    * connectedComponents, every round a keyed shuffle of vocab-sized
    * aggregates only.
    *
    * Symbol sequences are encoded as DOUBLE-space-delimited strings
    * ("  a  b  c  "): a merge of (x, y) is then the plain string
    * replacement "␣x␣␣y␣" → "␣xy␣", which consumes one space from each
    * 2-space boundary so consecutive pair instances still match — making
    * replace-all EXACTLY greedy left-to-right non-overlapping merging
    * (the BPE rule), identically in Spark and DuckDB. Output: the merge
    * table (rank, pair, count) + corpus token count after each merge. */
  /** The shared training loop: returns the per-round winning merges AND
    * the final symbol table (word, st, n) with all BpeRounds merges
    * applied — training (q_text_bpe) reads the merges, application
    * (q_text_bpe_apply) reads the final table. The word column rides
    * along untouched so the trained segmentation stays keyed by the
    * original word. */
  private def bpeTrain(s: SparkSession, d: String): (Seq[DataFrame], DataFrame) = {
    val words = documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    var st = words.select(col("word"),
      concat(regexp_replace(col("word"), "(.)", "  $1"), lit("  ")).as("st"),
      col("n")).localCheckpoint(eager = false)
    val mergeRows = Seq.newBuilder[DataFrame]
    for (r <- 0 until BpeRounds) {
      val pairs = st
        .select(col("n"), split(trim(col("st")), "  ").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS x, tk[i] AS y))"))
          .as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("n")).as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("x"), col("y")).limit(1)
        .localCheckpoint(eager = false)
      st = st.crossJoin(broadcast(best))
        .select(col("word"), expr(
          "replace(st, concat(' ', x, '  ', y, ' '), concat(' ', x, y, ' '))").as("st"),
          col("n"))
        .localCheckpoint(eager = false)
      val stats = st.agg(
        sum(col("n") * size(split(trim(col("st")), "  "))).as("n_tokens_after"))
      mergeRows += best
        .select(lit(r).as("merge_rank"), col("x"), col("y"), col("cnt"))
        .crossJoin(broadcast(stats))
    }
    (mergeRows.result(), st)
  }

  /** One sequential training per (application, sfDir): the merge table
    * AND the final per-word symbol table are two outputs of the SAME
    * driver-loop run, so both stage together under one SharedStage key.
    * Parquet round-trips the exact strings/longs, so consumers' oracle
    * hashes are unchanged. The only consumer is q_text_bpe itself
    * (untimed but Verify-graded on every run); the timed pair
    * (q_text_bpe_batched, q_text_bpe_apply) stages via the independent
    * batched trainer instead — see [[bpeTrainedBatched]]. The two stages
    * deliberately do NOT share: the batched trainer's graded claim is
    * that an INDEPENDENT trainer reproduces the sequential oracle's
    * table, so it must train itself. */
  private def bpeTrained(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val dir = SharedStage.memoDir(s, d, "bpe_train")(
      dd => new java.io.File(s"$dd/merges/_SUCCESS").exists() &&
        new java.io.File(s"$dd/st/_SUCCESS").exists())(
      dd => {
        val (mergeRows, finalSt) = bpeTrain(s, d)
        mergeRows.reduce(_ union _)
          .write.mode("overwrite").parquet(s"$dd/merges")
        finalSt.write.mode("overwrite").parquet(s"$dd/st")
      })
    (s.read.parquet(s"$dir/merges"), s.read.parquet(s"$dir/st"))
  }

  def qTextBpe(s: SparkSession, d: String): DataFrame =
    bpeTrained(s, d)._1.orderBy(col("merge_rank"))

  /** FREQUENCY-GAP-SAFE BATCHED BPE TRAINING — the driver-round lever
    * for production vocabularies (50k merges of the sequential loop ≈ an
    * hour of pure scheduler round-trips at the measured 70–90 ms/round
    * floor; see SCALE.md "BPE merge-round scaling"). Per round, the top
    * candidates are collected (bounded, ≤ 3·maxBatch rows) and a PREFIX
    * of the (cnt DESC, x, y) ranking is accepted greedily while each
    * candidate is provably what sequential BPE would pick next:
    *
    *  - SYMBOL-DISJOINT from every earlier accepted pair: merging (a,b)
    *    cannot change the count of (c,d) when {a,b} ∩ {c,d} = ∅ (no
    *    instance is shared or newly created), so accepted counts stay
    *    exact through the batch.
    *  - FREQUENCY GAP beats cross-interference: a merge of p = (x,y)
    * can only create pairs (z,·xy), each instance a "z x y" trigram before
    * the merge, so count ≤ tripleCnt(z,x,y) ≤ the pair's max trigram
    * extension — and (xy·,w) symmetrically — plus merged-merged adjacencies
    * (x_jy_j, x_ky_k) whose every instance overlies a (y_j, x_k) adjacency,
    * bounded by that pair's EXACT count in the same table. Requiring
    * cnt(candidate) STRICTLY above every earlier accepted pair's max trigram
    * extension and above every (y_j, x_k) count among accepted pairs
    * guarantees no created pair can outrank it, even on ties. (Pair-level
    * maxima would collapse to the global top count for common symbols and cap
    * the batches; specific trigrams are far rarer.)
    *  - PREFIX discipline: the first candidate that fails ends the
    *    batch (skipping it would let it win the next sequential round).
    *    A first candidate with x = y is taken as a singleton batch (its
    *    greedy run-merging needs a real recount).
    *
    * The batch applies as chained row-local replaces; token counts
    * decrement EXACTLY by each accepted cnt (an x ≠ y pair has no
    * overlapping instances, and disjointness keeps the other members'
    * instances untouched), so per-merge n_tokens_after needs no
    * intermediate job. Worst case every batch degenerates to size 1 =
    * the sequential loop; the oracle is q_text_bpe's UNCHANGED
    * sequential replay, so the hash match IS the vocabulary-equivalence
    * proof. SCALE.md "BPE merge-round scaling" records the realized
    * driver-round reduction.
    *
    * Returns BOTH outputs of the training run: the merge table and the
    * final per-word symbol table (word, st, n) — the same two artifacts
    * the sequential [[bpeTrain]] returns, so the batched trainer's final
    * segmentation is gradable against the sequential oracle too
    * (q_text_bpe_apply consumes it). */
  private[graft] def bpeTrainBatched(s: SparkSession, d: String,
      maxBatch: Int = 8): (DataFrame, DataFrame) = {
    import s.implicits._
    var st = documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .select(col("word"),
        concat(regexp_replace(col("word"), "(.)", "  $1"), lit("  ")).as("st"),
        col("n")).localCheckpoint(eager = false)
    // 0 on an empty corpus, which then trains no merge
    def tokens(st: DataFrame): Long = st
      .agg(coalesce(sum(col("n") * size(split(trim(col("st")), "  "))), lit(0L)))
      .collect()(0).getLong(0)
    var nTokens = tokens(st)
    val out = Seq.newBuilder[(Int, String, String, Long, Long)]
    var rank = 0
    while (rank < BpeRounds) {
      val pairs = st
        .select(col("n"), split(trim(col("st")), "  ").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS x, tk[i] AS y))"))
          .as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("n")).as("cnt"))
        .localCheckpoint(eager = false) // reused by the rank + bounds reads
      val top = pairs.orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(3 * maxBatch).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) { rank = BpeRounds }
      else {
        val (tripTopK, pairSub, clash) = safeBatchInputs(s, st, pairs, top)
        val accepted = selectSafeBatch(top, tripTopK, pairSub, clash,
          maxBatch, BpeRounds - rank)
        val merged = accepted.foldLeft(st) { case (df, (x, y, _)) =>
          df.select(col("word"),
            expr(s"replace(st, concat(' ', ${sqlStr(x)}, '  ', ${sqlStr(y)}, ' '), " +
              s"concat(' ', ${sqlStr(x)}, ${sqlStr(y)}, ' '))").as("st"),
            col("n"))
        }
        st = merged.localCheckpoint(eager = false)
        if (accepted.length == 1 && accepted(0)._1 == accepted(0)._2) {
          // self-pair: greedy run merging applies fewer than cnt — recount
          nTokens = tokens(st)
          val (x, y, cnt) = accepted(0)
          out += ((rank, x, y, cnt, nTokens))
          rank += 1
        } else {
          for ((x, y, cnt) <- accepted) {
            nTokens -= cnt
            out += ((rank, x, y, cnt, nTokens))
            rank += 1
          }
        }
      }
    }
    (out.result()
      .toDF("merge_rank", "x", "y", "cnt", "n_tokens_after")
      .orderBy(col("merge_rank")), st)
  }

  /** SQL string literal with single quotes escaped (symbols are corpus
    * characters — a quote in a document must not break the expression). */
  private def sqlStr(v: String): String =
    "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Driver-side snapshots feeding one safe-batch selection step, run as
    * CONCURRENT Spark jobs (all three derive from the already-counted
    * pair table / symbol table, so the round pays one barrier, not
    * three):
    *  - tripTopK: per top candidate pair, its four best trigram
    *    extensions (count, side L/R, extending symbol) in (count DESC,
    *    side, z) order — upper bounds on its created pairs' counts
    *    (exact when the consumption guards hold);
    *  - pairSub: exact counts of every pair among the candidate symbols
    *    (merged-merged adjacency bounds + reverse-pair chain checks);
    *  - clash: candidate concatenations that ALREADY exist as symbols
    *    in the pair table (a chained merge on a colliding symbol would
    *    mix old and new tokens of the same string). */
  private[graft] def safeBatchInputs(s: SparkSession, st: DataFrame,
      pairs: DataFrame, top: Array[(String, String, Long)])
      : (Map[(String, String), Seq[(Long, String, String)]],
         Map[(String, String), Long], Set[String]) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val syms = top.flatMap(t => Seq(t._1, t._2)).distinct.toSeq
    val topKeys = top.map(t => t._1 + " " + t._2).toSeq
    val concats = top.map(t => t._1 + t._2).distinct.toSeq
    val tripF = Future {
      val trip = st
        .select(col("n"), split(trim(col("st")), "  ").as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("n"), explode(expr(
          "transform(sequence(2, size(tk) - 1), i -> struct(tk[i-2] AS a, tk[i-1] AS b, tk[i] AS c))"))
          .as("t"))
        .select(col("t.a").as("a"), col("t.b").as("b"), col("t.c").as("c"),
          col("n"))
      trip.select(col("b").as("px"), col("c").as("py"), col("a").as("z"),
          lit("L").as("side"), col("n"))
        .union(trip.select(col("a").as("px"), col("b").as("py"),
          col("c").as("z"), lit("R").as("side"), col("n")))
        .filter(concat_ws(" ", col("px"), col("py")).isin(topKeys: _*))
        .groupBy(col("px"), col("py"), col("side"), col("z"))
        .agg(sum(col("n")).as("c3"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(4), r.getString(2), r.getString(3)))
        .groupBy(_._1)
        .map { case (k, vs) =>
          k -> vs.map(_._2).sortBy { case (c3, side, z) => (-c3, side, z) }
            .take(4).toSeq
        }
    }
    val pairF = Future {
      pairs.filter(col("x").isin(syms: _*) && col("y").isin(syms: _*))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    }
    val clashF = Future {
      pairs.filter(col("x").isin(concats: _*) || col("y").isin(concats: _*))
        .select(col("x"), col("y")).collect()
        .flatMap(r => Seq(r.getString(0), r.getString(1)))
        .filter(concats.contains).toSet
    }
    (Await.result(tripF, Duration.Inf), Await.result(pairF, Duration.Inf),
      Await.result(clashF, Duration.Inf))
  }

  /** One safe-batch selection step — a PURE function over the snapshots
    * (used by bpeTrainBatched; unit-testable
    * without Spark). Returns accepted merges in application order; each
    * entry (x, y, cnt) has an EXACT count, so token totals decrement per
    * merge without intermediate jobs. The full safety argument lives on
    * [[bpeTrainBatched]]; in short, a candidate joins the batch while it
    * is provably sequential BPE's next pick, and when an original
    * candidate first fails, ONE chained merge — the best created pair of
    * the accepted prefix — may close the batch if its exact trigram
    * count strictly dominates everything else in sight and the
    * chain-free / collision / survival guards all hold. */
  private[graft] def selectSafeBatch(
      top: Array[(String, String, Long)],
      tripTopK: Map[(String, String), Seq[(Long, String, String)]],
      pairSub: Map[(String, String), Long],
      clash: Set[String],
      maxBatch: Int, remaining: Int): Seq[(String, String, Long)] = {
    // sequential BPE's tie order: (cnt DESC, x ASC, y ASC) — at equal
    // counts the lexicographically smaller pair wins
    def tupleWins(x: String, y: String, ox: String, oy: String): Boolean =
      x < ox || (x == ox && y < oy)
    val accepted = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var open = true
    var failedCnt = -1L
    var failedTuple: (String, String) = ("", "")
    for ((x, y, cnt) <- top if open &&
        accepted.length < maxBatch && accepted.length < remaining) {
      val singletonSelf = accepted.isEmpty && x == y
      val ok = singletonSelf || (x != y &&
        accepted.forall { case (ax, ay, _) =>
          // only CROSS overlaps interact: merging (ax,ay) destroys an
          // (x,y) instance only when x == ay (candidate's left eaten as
          // the merge's right, "ax ay ...") or y == ax (candidate's
          // right eaten as the merge's left, "... ax ay"). Shared lefts
          // or shared rights leave both counts exactly invariant and
          // the replaces commute.
          ay != x && ax != y && {
            // the candidate must outrank every created pair of (ax,ay):
            // an extension bound BELOW cnt can never win; a bound EQUAL
            // to cnt resolves by the tie order (a bound is an upper
            // bound, so if the real count is lower the candidate wins
            // outright, and if equal the tuple decides — either way a
            // tuple win suffices); a bound ABOVE cnt rejects. The 4th
            // collected entry must sit strictly below cnt or deeper
            // unseen ties could lurk.
            val exts = tripTopK.getOrElse((ax, ay), Seq.empty)
            exts.forall { case (c3, side, z) =>
              val (ex, ey) =
                if (side == "L") (z, ax + ay) else (ax + ay, z)
              c3 < cnt || (c3 == cnt && tupleWins(x, y, ex, ey))
            } && (exts.length < 4 || exts.last._1 < cnt)
          }
        } &&
        accepted.forall { case (kx, ky, _) =>
          accepted.forall { case (lx, ly, _) =>
            // merged-merged created pair (kxky, lxly): every instance
            // overlies a (ky, lx) adjacency — same tie resolution
            val bound = pairSub.getOrElse((ky, lx), 0L)
            bound < cnt ||
              (bound == cnt && tupleWins(x, y, kx + ky, lx + ly))
          }
        })
      if (ok) accepted += ((x, y, cnt))
      else { failedCnt = cnt; failedTuple = (x, y) }
      if (!ok || singletonSelf) open = false
    }
    // CHAINED merges: when an original candidate was refused and the
    // batch has room, the best created pair (exact count, all ties
    // resolved by sequential's (cnt DESC, x, y) order) may provably be
    // sequential's next pick — accept it, then keep extending the
    // chained token while further extensions are FORCED at exactly its
    // count. This is how whole words batch in one round:
    // (c,t) → (ct,or) → (e,ctor) each provably next.
    if (failedCnt >= 0 && accepted.nonEmpty &&
        accepted.length < maxBatch && accepted.length < remaining) {
      // every known created-pair candidate across the accepted prefix,
      // with its pair tuple for tie resolution
      val cands = accepted.flatMap { case (jx, jy, _) =>
        tripTopK.getOrElse((jx, jy), Seq.empty).map { case (c3, side, z) =>
          val tuple = if (side == "L") (z, jx + jy) else (jx + jy, z)
          (jx, jy, c3, side, z, tuple)
        }
      }
      // unseen-extension guard: a pair whose 4 collected extensions do
      // not bottom out below the pick's count may hide deeper ties
      def capOk(c3: Long): Boolean = accepted.forall { case (jx, jy, _) =>
        val es = tripTopK.getOrElse((jx, jy), Seq.empty)
        es.length < 4 || es.last._1 < c3
      }
      if (cands.nonEmpty) {
        val pick = cands.minBy { case (_, _, c3, _, _, tuple) =>
          (-c3, tuple._1, tuple._2)
        }
        val (jx, jy, c3, side, z, chainTuple) = pick
        val merged = jx + jy
        // the pick must dominate every other known created pair — on
        // count, or on the tie tuple (a losing tie against an upper
        // BOUND is still fatal: the real count could equal the bound)
        val othersBeaten = cands.forall { case (_, _, oc, _, _, ot) =>
          ot == chainTuple || oc < c3 || (oc == c3 &&
            tupleWins(chainTuple._1, chainTuple._2, ot._1, ot._2))
        }
        val pairBoundsBeaten = accepted.forall { case (kx, ky, _) =>
          accepted.forall { case (lx, ly, _) =>
            val bound = pairSub.getOrElse((ky, lx), 0L)
            bound < c3 || (bound == c3 &&
              tupleWins(chainTuple._1, chainTuple._2, kx + ky, lx + ly))
          }
        }
        // exactness: the trigram count equals the created-pair count
        // unless the extending symbol can be eaten by ANOTHER instance
        // of j itself — only possible when z == jy (side L, "p q p q")
        // or z == jx (side R) — a 4-gram question we can't answer, so
        // those chains are skipped. Other consumption routes are closed
        // by the batch's own cross-overlap rule, leaving the explicit
        // guards below.
        val unambiguous = if (side == "L") z != jy else z != jx
        // survival: the extending symbol must not be eaten by another
        // accepted merge, collide with a merged string, or be the
        // merged string itself; and no other accepted concat may alias
        // the merged string
        val survives = (side match {
          case "L" => accepted.forall { case (ax, ay, _) =>
            ay != z && (ax + ay) != z } && z != merged
          case _ => accepted.forall { case (ax, ay, _) =>
            ax != z && (ax + ay) != z } && z != merged
        }) && accepted.forall { case (ax, ay, _) =>
          (ax == jx && ay == jy) || (ax + ay) != merged
        }
        val beatsFailed = c3 > failedCnt || (c3 == failedCnt &&
          tupleWins(chainTuple._1, chainTuple._2, failedTuple._1, failedTuple._2))
        if (beatsFailed && othersBeaten && capOk(c3) &&
            pairBoundsBeaten && unambiguous && survives &&
            !clash.contains(merged)) {
          accepted += ((chainTuple._1, chainTuple._2, c3))
          // FORCED continuation. Invariant: the chain token T spans
          // original symbols toks(0..k) with instance count exactly c3.
          // A further LEFT extension by w is exact and forced when
          // pairCnt(toks(0), toks(1)) == c3 — those c3 adjacencies ARE
          // precisely T's prefixes — and tripleCnt(w, toks(0), toks(1))
          // == c3 — each is preceded by w, so EVERY T instance is
          // "w T". (RIGHT symmetrically on the last two symbols.) The
          // anchor's in-chain extension (pointing back into T) always
          // ties at c3 and is excluded from the alternatives.
          var toks = if (side == "L") Vector(z, jx, jy) else Vector(jx, jy, z)
          var curToken = chainTuple._1 + chainTuple._2
          var growing = true
          while (growing && accepted.length < maxBatch &&
              accepted.length < remaining) {
            growing = false
            val tries = Seq("L", "R")
            for (dir <- tries if !growing) {
              val anchor =
                if (dir == "L") (toks(0), toks(1))
                else (toks(toks.length - 2), toks(toks.length - 1))
              val inChain: ((Long, String, String)) => Boolean =
                if (dir == "L") e => e._2 == "R" && e._3 == toks(2)
                else e => e._2 == "L" && e._3 == toks(toks.length - 3)
              val anchored = pairSub.get(anchor).contains(c3)
              val exts2 = tripTopK.getOrElse(anchor, Seq.empty)
              val rest = exts2.filterNot(inChain)
              val head = rest.headOption
              val forced = anchored && head.exists { case (hc, hs, _) =>
                hc == c3 && hs == dir
              } && (exts2.length < 4 || exts2.last._1 < c3)
              if (forced) {
                val w = head.get._3
                val newTuple =
                  if (dir == "L") (w, curToken) else (curToken, w)
                // remaining alternatives at this level must lose on
                // count or on the tie tuple
                val altsBeaten = rest.drop(1).forall { case (ac, as_, az) =>
                  ac < c3 || (ac == c3 && {
                    val at = if (as_ == "L") (az, curToken) else (curToken, az)
                    tupleWins(newTuple._1, newTuple._2, at._1, at._2)
                  })
                }
                val wSafe = accepted.forall { case (ax, ay, _) =>
                  ax != w && ay != w && (ax + ay) != w
                } && w != curToken && !toks.contains(w) &&
                  !clash.contains(newTuple._1 + newTuple._2)
                val beats = c3 > failedCnt || (c3 == failedCnt &&
                  tupleWins(newTuple._1, newTuple._2,
                    failedTuple._1, failedTuple._2))
                // re-verify the cross-pair bounds against the NEW tuple:
                // a tie that lost to an earlier chain tuple can win here
                val chained = accepted.map(a => (a._1, a._2)).toSet
                val othersOk = cands.forall { case (_, _, oc, _, _, ot) =>
                  chained.contains(ot) || oc < c3 || (oc == c3 &&
                    tupleWins(newTuple._1, newTuple._2, ot._1, ot._2))
                }
                val pairBoundsOk = accepted.forall { case (kx, ky, _) =>
                  accepted.forall { case (lx, ly, _) =>
                    val bound = pairSub.getOrElse((ky, lx), 0L)
                    bound < c3 || (bound == c3 &&
                      tupleWins(newTuple._1, newTuple._2, kx + ky, lx + ly))
                  }
                }
                if (altsBeaten && wSafe && beats && othersOk && pairBoundsOk) {
                  accepted += ((newTuple._1, newTuple._2, c3))
                  toks = if (dir == "L") w +: toks else toks :+ w
                  curToken = newTuple._1 + newTuple._2
                  growing = true
                }
              }
            }
          }
        }
      }
    }
    accepted.toSeq
  }

  /** One BATCHED training per (application, sfDir): like [[bpeTrained]]
    * but staged from the batched trainer — the driver-round scale path.
    * This is the stage the TIMED fleet pays (q_text_bpe_batched reads the
    * merges, q_text_bpe_apply the final table), while the sequential
    * q_text_bpe — untimed but still Verify-dumped and oracle-graded —
    * keeps its own [[bpeTrained]] stage, so the sequential implementation
    * never goes unexercised. Both trainers hash against ONE
    * sequential-replay DuckDB oracle; with apply reading this stage, the
    * equivalence claim covers the batched trainer's final symbol table,
    * not just its merge rows. */
  private def bpeTrainedBatched(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val dir = SharedStage.memoDir(s, d, "bpe_train_batched")(
      dd => new java.io.File(s"$dd/merges/_SUCCESS").exists() &&
        new java.io.File(s"$dd/st/_SUCCESS").exists())(
      dd => {
        val (merges, finalSt) = bpeTrainBatched(s, d)
        merges.write.mode("overwrite").parquet(s"$dd/merges")
        finalSt.write.mode("overwrite").parquet(s"$dd/st")
      })
    (s.read.parquet(s"$dir/merges"), s.read.parquet(s"$dir/st"))
  }

  def qTextBpeBatched(s: SparkSession, d: String): DataFrame =
    bpeTrainedBatched(s, d)._1.orderBy(col("merge_rank"))

  /** BPE APPLY — tokenize the corpus with the TRAINED vocabulary (the step
    * every downstream consumer of a tokenizer runs). Production shape: the
    * tokenizer is applied to the VOCABULARY (the final symbol table is
    * vocab-sized), and the corpus pass is a dictionary lookup — docs explode
    * to words and join the broadcast per-word segmentation, so the 100 TB
    * corpus never re-runs the merge rules, it streams through one
    * broadcast-hash join. Reported per lang as exact integers: whitespace
    * words, pre-merge tokens (= characters, the symbols before any merge),
    * and post-merge BPE tokens. Consumes the BATCHED trainer's final symbol
    * table: the oracle below replays the SEQUENTIAL chain, so this query's
    * hash match grades batched ≡ sequential on the whole final segmentation,
    * not just the merge rows. */
  def qTextBpeApply(s: SparkSession, d: String): DataFrame = {
    val finalSt = bpeTrainedBatched(s, d)._2
    val vocab = finalSt.select(col("word"),
      size(split(trim(col("st")), "  ")).as("n_tok_bpe"),
      length(col("word")).as("n_tok_char"))
    documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(vocab), Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok_char")).as("n_tokens_char"),
        sum(col("n_tok_bpe")).as("n_tokens_bpe"))
      .orderBy(col("lang"))
  }

  /** The identical training loop unrolled as chained DuckDB CTEs — the
    * word column rides through every s_r so the apply oracle can read
    * the final per-word segmentation (the training outputs ignore it). */
  private val bpeChainSql: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w AS (
        |  SELECT tok AS word, COUNT(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  WHERE tok <> '' GROUP BY tok),
        |s0 AS (SELECT word, regexp_replace(word, '(.)', '  \1', 'g') || '  ' AS st, n FROM w)""".stripMargin)
    for (r <- 0 until BpeRounds) {
      sb.append(s""",
        |tk$r AS (SELECT string_split(trim(st), '  ') AS tk, n FROM s$r),
        |px$r AS (SELECT tk, n, unnest(range(1, len(tk))) AS i FROM tk$r WHERE len(tk) >= 2),
        |p$r AS (SELECT tk[i] AS x, tk[i+1] AS y, CAST(SUM(n) AS BIGINT) AS cnt
        |        FROM px$r GROUP BY 1, 2),
        |b$r AS (SELECT x, y, cnt FROM p$r ORDER BY cnt DESC, x, y LIMIT 1),
        |s${r + 1} AS (SELECT word, replace(st, ' ' || x || '  ' || y || ' ', ' ' || x || y || ' ') AS st, n
        |        FROM s$r, b$r),
        |o$r AS (SELECT $r AS merge_rank, x, y, cnt,
        |        (SELECT CAST(SUM(n * len(string_split(trim(st), '  '))) AS BIGINT)
        |         FROM s${r + 1}) AS n_tokens_after
        |        FROM b$r)""".stripMargin)
    }
    sb.toString
  }

  val qTextBpeSql: String =
    bpeChainSql + "\n" +
      (0 until BpeRounds).map(r => s"SELECT * FROM o$r").mkString("\nUNION ALL\n") +
      "\nORDER BY merge_rank"

  val qTextBpeApplySql: String =
    bpeChainSql + s""",
      |v AS (SELECT word, len(string_split(trim(st), '  ')) AS n_tok_bpe,
      |        length(word) AS n_tok_char
      |      FROM s$BpeRounds),
      |dw AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
      |SELECT lang, COUNT(*) AS n_words,
      |  CAST(SUM(n_tok_char) AS BIGINT) AS n_tokens_char,
      |  CAST(SUM(n_tok_bpe) AS BIGINT) AS n_tokens_bpe
      |FROM dw JOIN v USING (word)
      |WHERE word <> ''
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------- edit-distance fuzzy dedup

  /** Edit-distance (Levenshtein) fuzzy near-dup over PREFIX-BLOCKED
    * candidates: docs sharing (lang, first 8 chars) form a candidate
    * block — an equi-join, so candidate generation stays O(block²) per
    * key, never corpus-wide all-pairs — then pairs are verified on the
    * 48-char prefix with the THRESHOLDED DP kernel (`levenshtein(a,b,12)`
    * prunes to the |12|-wide band and early-exits, O(k·n) not O(n²)).
    * Prefix blocking is deliberately one band of a multi-band scheme: at
    * scale you add a suffix block and/or the MinHash band keys
    * (q_dedup_near) to recover pairs whose edits hit the first 8 chars —
    * same union-of-bands recall argument as every LSH operator here. */
  def qTextEditdist(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("lang"),
      substring(col("text"), 1, 8).as("blk"),
      substring(col("text"), 1, 48).as("pfx"))
    val a = docs.select(col("doc_id").as("doc_a"), col("lang"),
      col("blk"), col("pfx").as("pa"))
    val b = docs.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
      col("blk").as("blk_b"), col("pfx").as("pb"))
    a.join(b, col("lang") === col("lang_b") && col("blk") === col("blk_b") &&
        col("doc_a") < col("doc_b"))
      .withColumn("dist", expr("levenshtein(pa, pb, 12)"))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist").cast(LongType).as("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val qTextEditdistSql: String =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(levenshtein(substr(a.text, 1, 48), substr(b.text, 1, 48)) AS BIGINT) AS dist
      |FROM documents a JOIN documents b
      |  ON a.lang = b.lang AND substr(a.text, 1, 8) = substr(b.text, 1, 8)
      | AND a.doc_id < b.doc_id
      |WHERE levenshtein(substr(a.text, 1, 48), substr(b.text, 1, 48)) <= 12
      |ORDER BY doc_a, doc_b""".stripMargin

  /** URL CANONICALIZATION — the first normalization a web-crawl dedup
    * runs (scheme/host case, default ports, tracking params, fragments
    * all make the same resource look distinct): deterministic URLs are
    * synthesized per doc with deliberate variance (upper-cased schemes
    * and hosts, an explicit :443, utm_* tracking params, fragments),
    * then canonicalized THROUGH Spark's real URL parser — `parse_url`
    * HOST (port- and case-free after lower), PATH, and targeted
    * QUERY extraction — rather than string surgery. The oracle computes
    * each canonical form CLOSED-FORM from the same synthesis arithmetic
    * without parsing anything, and the md5 checksum over every
    * canonical string makes one mis-parsed port or surviving fragment
    * anywhere a hash mismatch. Row-local projection + one rollup;
    * scan-bound at any corpus size. */
  def qTextUrlCanon(s: SparkSession, d: String): DataFrame = {
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
      when(col("doc_id") % 3 === 0, upper(col("source"))).otherwise(col("source")),
      lit(".Example.COM"),
      when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
      lit("/docs/"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 2 === 0,
        concat(lit("?utm_source=feed&id="), (col("doc_id") % 25).cast("string")))
        .otherwise(concat(lit("?id="), (col("doc_id") % 25).cast("string"))),
      lit("#sec"), (col("doc_id") % 3).cast("string"))
    documents(s, d)
      .select(col("doc_id"), col("source"), url.as("u"))
      .select(col("doc_id"), col("source"),
        concat(lit("https://"), lower(expr("parse_url(u, 'HOST')")),
          expr("parse_url(u, 'PATH')"),
          lit("?id="), expr("parse_url(u, 'QUERY', 'id')")).as("canon"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("canon")).as("n_canon"),
        sum(expr("CAST(conv(substring(md5(canon), 1, 12), 16, 10) AS BIGINT)"))
          .as("canon_checksum"))
      .orderBy(col("source"))
  }

  val qTextUrlCanonSql: String =
    """WITH c AS (
      |  SELECT doc_id, source,
      |    'https://' || lower(CASE WHEN doc_id % 3 = 0
      |                             THEN upper(source) ELSE source END)
      |      || '.example.com/docs/' || CAST(doc_id % 50 AS VARCHAR)
      |      || '?id=' || CAST(doc_id % 25 AS VARCHAR) AS canon
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_urls,
      |  COUNT(DISTINCT canon) AS n_canon,
      |  CAST(SUM(('0x' || substr(md5(canon), 1, 12))::BIGINT) AS BIGINT)
      |    AS canon_checksum
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------- registry

  val queries = graft.functions.Surface.queries(Map(
    "q_text_url_canon" -> (qTextUrlCanon _),
    "q_text_editdist" -> (qTextEditdist _),
    "q_text_redact" -> (qTextRedact _),
    "q_text_langid" -> (qTextLangid _),
    "q_text_quality" -> (qTextQuality _),
    "q_text_tokens" -> (qTextTokens _),
    "q_text_fingerprint" -> (qTextFingerprint _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_dedup_simhash_pairs" -> (qDedupSimhashPairs _),
    "q_text_repetition" -> (qTextRepetition _),
    "q_text_bigram_lm" -> (qTextBigramLm _),
    "q_text_lm_score" -> (qTextLmScore _),
    "q_text_chunk" -> (qTextChunk _),
    "q_text_tfidf" -> (qTextTfidf _),
    "q_text_bpe" -> (qTextBpe _),
    "q_text_bpe_batched" -> (qTextBpeBatched _),
    "q_text_bpe_apply" -> (qTextBpeApply _),
    "q_pack_sequences" -> (qPackSequences _),
    "q_text_normalize" -> (qTextNormalize _),
  ))

  val oracle: Map[String, String] = Map(
    "q_text_editdist" -> qTextEditdistSql,
    "q_text_url_canon" -> qTextUrlCanonSql,
    "q_text_redact" -> qTextRedactSql,
    "q_text_langid" -> qTextLangidSql,
    "q_text_quality" -> qTextQualitySql,
    "q_text_tokens" -> qTextTokensSql,
    "q_text_fingerprint" -> qTextFingerprintSql,
    "q_dedup_simhash" -> qDedupSimhashSql,
    "q_dedup_simhash_pairs" -> qDedupSimhashPairsSql,
    "q_text_repetition" -> qTextRepetitionSql,
    "q_text_bigram_lm" -> qTextBigramLmSql,
    "q_text_lm_score" -> qTextLmScoreSql,
    "q_text_chunk" -> qTextChunkSql,
    "q_text_tfidf" -> qTextTfidfSql,
    "q_text_bpe" -> qTextBpeSql,
    // identical sequential replay: the hash match IS the
    // vocabulary-equivalence proof for the batched trainer
    "q_text_bpe_batched" -> qTextBpeSql,
    "q_text_bpe_apply" -> qTextBpeApplySql,
    "q_pack_sequences" -> qPackSequencesSql,
    "q_text_normalize" -> qTextNormalizeSql,
  )
}
