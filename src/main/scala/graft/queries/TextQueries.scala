package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data pipeline operators over the `documents` table: text
  * quality metrics, token statistics, language-ID heuristic, content
  * fingerprinting, exact + near dedup (n-gram Jaccard, MinHash LSH,
  * SimHash). Every query is engine-agnostic-deterministic so the DuckDB
  * oracle matches cell-exact (string mins and md5 instead of
  * engine-specific hash functions; integer or per-row-double math only).
  *
  * Scale notes: per-document metrics are narrow map-only projections;
  * dedup pipelines are explode → partial-agg → shuffle-by-shingle joins
  * (the standard MinHash/LSH shape — band join replaces the quadratic
  * all-pairs comparison).
  */
object TextQueries {
  import org.apache.spark.sql.Column

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")

  // ---- shared curation expressions -------------------------------------
  // Single source of truth for the quality-score composite (q14), the
  // stratified-sampling threshold/weight tables (q42), and the
  // streaming curateDocs projection (StreamOps) — extracted so batch
  // and streaming verdicts cannot drift. The double() forms are
  // load-bearing: the DuckDB oracles mirror them bit-for-bit.

  /** ` the `-occurrence count; requires a `text` column in scope. */
  private[graft] def theCountExpr: Column = expr(
    "CAST((length(concat(' ', text, ' ')) - length(replace(concat(' ', text, ' '), ' the ', ' '))) / 4 AS BIGINT)")

  /** q14's composite quality score from the three per-doc counts. */
  private[graft] def qualityScore(nWords: Column, nThe: Column, nChars: Column): Column =
    least(expr("double(1.0)"), nWords / expr("double(100.0)")) * expr("double(0.5)") +
      when(nThe > 0, expr("double(0.25)")).otherwise(expr("double(0.0)")) +
      least(expr("double(1.0)"), nChars / expr("double(500.0)")) * expr("double(0.25)")

  /** q42's deterministic sampling hash over (doc id, stratum). */
  private[graft] def samplingHash(docId: Column, lang: Column): Column =
    md5(concat(docId.cast("string"), lit(":"), lang))

  /** q42's per-stratum hex-prefix threshold; requires `lang` in scope. */
  private[graft] def samplingThresholdExpr: Column = expr(
    "CASE lang WHEN 'en' THEN '8' WHEN 'de' THEN '4' WHEN 'fr' THEN '2' ELSE '1' END")

  /** q42's Horvitz-Thompson weight (1/rate); requires `lang` in scope. */
  private[graft] def samplingWeightExpr: Column = expr(
    "CASE lang WHEN 'en' THEN double(2.0) WHEN 'de' THEN double(4.0) " +
      "WHEN 'fr' THEN double(8.0) ELSE double(16.0) END")

  /** Distinct word-bigram shingles per document (shared by the Jaccard
    * and MinHash dedup pipelines — keep their shingling identical).
    * Deduplication happens map-side INSIDE [[graft.functions.TokenShingles]]
    * before the explode: a `.distinct()` after explode would shuffle
    * one row per raw bigram (tokens−1 per doc), while this ships
    * nothing — the output is already per-doc-distinct with no exchange
    * in the plan, and the tokenize→shingle→dedupe loop runs as one
    * JIT-compiled call per document instead of interpreted HOF lambdas
    * per element. */
  private def bigramShingles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", explode(expr("shingles(text, 2)")).as("shingle"))
  }

  /** One regime-dispatch probe per (session, corpus): q19/q41/q85/q111
    * all run pair operators over the SAME bigram-shingle frame, and the
    * probe (persist + one bounded collect) is the dominant fixed
    * cost at small scale — re-running it per operator cost q41 +0.5 s
    * at sf0.1 (r8 verdict). Single-entry memo: the sweeps this serves
    * (Verify, Bench) run one (session, dir) at a time, and the entry is
    * replaced wholesale on a new corpus so at most one collected stats
    * array is ever retained. */
  @volatile private[this] var shingleProbeMemo:
      (SparkSession, String, graft.operators.JaccardPairs.DispatchStats) = null
  private def shingleStats(s: SparkSession, dir: String):
      graft.operators.JaccardPairs.DispatchStats = synchronized {
    val m = shingleProbeMemo
    if (m != null && (m._1 eq s) && m._2 == dir) m._3
    else {
      val st = graft.operators.JaccardPairs.probe(bigramShingles(s, dir))
      shingleProbeMemo = (s, dir, st)
      st
    }
  }

  // ---------------------------------------------------------------- q14
  /** Per-document quality metrics + composite score (all per-row
    * arithmetic — deterministic in IEEE doubles). */
  def q14TextQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("n_chars_c", length($"text"))
      .withColumn("n_spaces", length($"text") - length(expr("replace(text, ' ', '')")))
      .withColumn("n_words", $"n_spaces" + 1)
      .withColumn("n_the", theCountExpr)
      .withColumn("avg_word_len", ($"n_chars_c" - $"n_spaces") / $"n_words")
      // double() casts inside qualityScore: Spark parses bare decimal
      // literals as DECIMAL, which would diverge from the oracle's
      // IEEE double arithmetic
      .withColumn("quality_score", qualityScore($"n_words", $"n_the", $"n_chars_c"))
      .select($"doc_id", $"n_chars_c".cast("long").as("n_chars"),
        $"n_words".cast("long").as("n_words"), $"n_the",
        $"avg_word_len", $"quality_score")
      .orderBy($"doc_id")
  }

  val q14Sql: String =
    """SELECT doc_id,
      |  length(text) AS n_chars,
      |  length(text) - length(replace(text,' ','')) + 1 AS n_words,
      |  CAST((length(' '||text||' ') - length(replace(' '||text||' ',' the ',' '))) / 4 AS BIGINT) AS n_the,
      |  (length(text) - (length(text) - length(replace(text,' ','')))) * 1.0
      |    / (length(text) - length(replace(text,' ','')) + 1) AS avg_word_len,
      |  least(1.0, (length(text) - length(replace(text,' ','')) + 1)/100.0) * 0.5
      |    + CASE WHEN CAST((length(' '||text||' ') - length(replace(' '||text||' ',' the ',' '))) / 4 AS BIGINT) > 0 THEN 0.25 ELSE 0.0 END
      |    + least(1.0, length(text)/500.0) * 0.25 AS quality_score
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q15
  /** Token statistics per language: counts are exact ints; the average
    * is one double division of two exact longs. */
  def q15TokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("n_spaces", length($"text") - length(expr("replace(text, ' ', '')")))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_spaces" + 1).as("total_words"),
           sum(length($"text") - $"n_spaces").as("total_word_chars"))
      .withColumn("avg_word_len", $"total_word_chars" / $"total_words")
      .orderBy($"lang")
  }

  val q15Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(length(text) - length(replace(text,' ','')) + 1) AS BIGINT) AS total_words,
      |  CAST(SUM(length(replace(text,' ',''))) AS BIGINT) AS total_word_chars,
      |  SUM(length(replace(text,' ','')))*1.0 / SUM(length(text) - length(replace(text,' ','')) + 1) AS avg_word_len
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Language-ID heuristic: stopword-presence scoring with a fixed
    * priority order on ties (en > de > fr > es). The score logic is the
    * operator; the labeled `lang` column is kept for accuracy eval. */
  def q16LangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = docs(s, dir)
      .withColumn("padded", concat(lit(" "), $"text", lit(" ")))
      .withColumn("sc_en", expr(
        "CAST(padded LIKE '% the %' AS INT) + CAST(padded LIKE '% and %' AS INT) + CAST(padded LIKE '% of %' AS INT)"))
      .withColumn("sc_de", expr(
        "CAST(padded LIKE '% der %' AS INT) + CAST(padded LIKE '% die %' AS INT) + CAST(padded LIKE '% und %' AS INT)"))
      .withColumn("sc_fr", expr(
        "CAST(padded LIKE '% le %' AS INT) + CAST(padded LIKE '% la %' AS INT) + CAST(padded LIKE '% et %' AS INT)"))
      .withColumn("sc_es", expr(
        "CAST(padded LIKE '% el %' AS INT) + CAST(padded LIKE '% los %' AS INT) + CAST(padded LIKE '% y %' AS INT)"))
      .withColumn("pred_lang", expr(
        """CASE WHEN sc_en >= sc_de AND sc_en >= sc_fr AND sc_en >= sc_es THEN 'en'
          |     WHEN sc_de >= sc_fr AND sc_de >= sc_es THEN 'de'
          |     WHEN sc_fr >= sc_es THEN 'fr'
          |     ELSE 'es' END""".stripMargin))
    scored.select($"doc_id", $"pred_lang", $"lang",
        ($"pred_lang" === $"lang").as("correct"))
      .orderBy($"doc_id")
  }

  val q16Sql: String =
    """WITH scored AS (
      |  SELECT doc_id, lang,
      |    CAST(' '||text||' ' LIKE '% the %' AS INT) + CAST(' '||text||' ' LIKE '% and %' AS INT) + CAST(' '||text||' ' LIKE '% of %' AS INT) AS sc_en,
      |    CAST(' '||text||' ' LIKE '% der %' AS INT) + CAST(' '||text||' ' LIKE '% die %' AS INT) + CAST(' '||text||' ' LIKE '% und %' AS INT) AS sc_de,
      |    CAST(' '||text||' ' LIKE '% le %' AS INT) + CAST(' '||text||' ' LIKE '% la %' AS INT) + CAST(' '||text||' ' LIKE '% et %' AS INT) AS sc_fr,
      |    CAST(' '||text||' ' LIKE '% el %' AS INT) + CAST(' '||text||' ' LIKE '% los %' AS INT) + CAST(' '||text||' ' LIKE '% y %' AS INT) AS sc_es
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN sc_en >= sc_de AND sc_en >= sc_fr AND sc_en >= sc_es THEN 'en'
      |       WHEN sc_de >= sc_fr AND sc_de >= sc_es THEN 'de'
      |       WHEN sc_fr >= sc_es THEN 'fr'
      |       ELSE 'es' END AS pred_lang,
      |  lang,
      |  (CASE WHEN sc_en >= sc_de AND sc_en >= sc_fr AND sc_en >= sc_es THEN 'en'
      |        WHEN sc_de >= sc_fr AND sc_de >= sc_es THEN 'de'
      |        WHEN sc_fr >= sc_es THEN 'fr'
      |        ELSE 'es' END) = lang AS correct
      |FROM scored
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q17
  /** Content fingerprint: md5 over whitespace-normalized lowercase text
    * (the portable form; a 64-bit Karp-Rabin rolling fingerprint is also
    * provided in Scala, see TextOps.rollingFingerprint). */
  def q17Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id",
        md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("fingerprint"))
      .orderBy($"doc_id")
  }

  val q17Sql: String =
    """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q18
  /** Exact dedup: keep the lowest doc_id per identical content hash.
    * One scan + one shuffle (by hash): the keep-lowest rule is a
    * row_number window over the hash partition, not a groupBy-min
    * joined back (which would scan and md5 the corpus twice). */
  def q18DedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"h").orderBy($"doc_id")
    docs(s, dir).withColumn("h", md5($"text"))
      .withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1)
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  val q18Sql: String =
    """SELECT doc_id, lang, n_chars FROM documents d
      |WHERE doc_id = (SELECT MIN(doc_id) FROM documents d2 WHERE md5(d2.text) = md5(d.text))
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Near-dup pairs by word-bigram Jaccard >= 0.5, via
    * [[graft.operators.JaccardPairs]] which picks the physical plan by
    * vocabulary shape: inverted-index shingle self-join for sparse
    * (natural-language) vocabularies, broadcast-bitmap popcount sweep
    * for dense ones (this synthetic corpus: 931 shingles / 5 000 docs
    * at sf0.1, where the inverted index degenerates to a 36M-row
    * shuffle discovering the all-pairs set).
    *
    * Note on alternatives: a PPJoin-style prefix-filtered variant
    * (index only each doc's globally-rarest `n − ceil(t·n) + 1`
    * shingles, verify candidates by array intersection) was measured 6×
    * SLOWER on this corpus — its tiny shared vocabulary makes every
    * shingle frequent, so prefixes prune nothing while verification
    * ships whole shingle arrays. */
  def q19NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.JaccardPairs.pairsFromStats(bigramShingles(s, dir),
        shingleStats(s, dir), threshold = 0.5)
      .orderBy($"doc_a", $"doc_b")
  }

  val q19Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ts[i]||' '||ts[i+1] AS shingle
      |       FROM toks, UNNEST(range(1, len(ts))) AS t(i) WHERE len(ts) >= 2),
      |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) common
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b, common * 1.0 / (sa.n + sb.n - common) AS jaccard
      |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q20
  /** MinHash + LSH near-dup candidates: k=8 portable min-hashes
    * (lexicographic min of seeded md5 — identical in any engine), LSH
    * with 8 bands of 1 row (candidate ⇔ any minhash collides), then
    * estimated Jaccard = matching-minhash fraction >= 0.25. */
  def q20MinHashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minhashPairs(s, dir, minEst = 0.25).orderBy($"doc_a", $"doc_b")
  }

  /** One minhash SIGNATURE build per (session, corpus): q20, q85,
    * q108 and q113 all consume the same 8-slice per-doc signature
    * table, and the build (shingle explode → 2 md5s per shingle →
    * per-doc min aggregation) is its dominant cost — re-run per query
    * it was paid four times per sweep (r16 verdict #2; the
    * [[shingleStats]] probe memo is the r9 precedent for this class:
    * per (session, dir) INSIDE one process, never across runs —
    * every fresh invocation still computes from the parquet inputs).
    * The entry is an EAGER `localCheckpoint` (RDD-level storage, so
    * the order-coupled `cacheManager.isEmpty` suite asserts stay
    * green — the r10 BlockGrid pattern) and is replaced wholesale on
    * a new (session, dir); a signature row is one doc_id + 8×8-char
    * strings, so a stale entry is KB-scale, the price the r3 lesson
    * sets for checkpoint-backed sharing (Dataset.unpersist is a no-op
    * on localCheckpoint'd frames). */
  @volatile private[this] var minhashSigMemo:
      (SparkSession, String, DataFrame) = null
  private[graft] def minhashSigWide(s: SparkSession, dir: String): DataFrame =
    synchronized {
      val m = minhashSigMemo
      if (m != null && (m._1 eq s) && m._2 == dir) m._3
      else {
        import s.implicits._
        val sh = bigramShingles(s, dir)
        // hash family: 8 independent 32-bit slices of two md5s — one
        // projection per shingle, per-doc mins computed map-side in ONE
        // aggregation (no explode-by-k, k× less hashing and shuffle)
        val hs = sh.withColumn("m1", md5($"shingle"))
          .withColumn("m2", md5(concat(lit("x"), $"shingle")))
        val sliceCols = (0 until 4).map(i => min(substring($"m1", i * 8 + 1, 8)).as(s"h$i")) ++
          (0 until 4).map(i => min(substring($"m2", i * 8 + 1, 8)).as(s"h${i + 4}"))
        val sigWide = hs.groupBy($"doc_id").agg(sliceCols.head, sliceCols.tail: _*)
          .localCheckpoint(true)
        minhashSigMemo = (s, dir, sigWide)
        sigWide
      }
    }

  /** q20's minhash candidate pipeline at any estimate threshold —
    * shared by q20 (0.25) and q108's verification stage (0.5). */
  private[graft] def minhashPairs(s: SparkSession, dir: String,
      minEst: Double): DataFrame = {
    // LSH candidate = any colliding slice; the per-pair count of
    // colliding slices IS the minhash estimate (×1/8). The operator
    // picks band-join (scale path) vs broadcast sweep (small corpus).
    graft.operators.MinHashLsh.pairs(minhashSigWide(s, dir), k = 8, minEst = minEst)
  }

  val q20Sql: String = minhashSql("0.25")

  /** q20's oracle at any estimate threshold (shared with q108). */
  private[graft] def minhashSql(minEst: String): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ts[i]||' '||ts[i+1] AS shingle
      |       FROM toks, UNNEST(range(1, len(ts))) AS t(i) WHERE len(ts) >= 2),
      |hs AS (SELECT doc_id, md5(shingle) m1, md5('x'||shingle) m2 FROM sh),
      |sigw AS (SELECT doc_id,
      |           MIN(substr(m1,1,8)) h0, MIN(substr(m1,9,8)) h1,
      |           MIN(substr(m1,17,8)) h2, MIN(substr(m1,25,8)) h3,
      |           MIN(substr(m2,1,8)) h4, MIN(substr(m2,9,8)) h5,
      |           MIN(substr(m2,17,8)) h6, MIN(substr(m2,25,8)) h7
      |         FROM hs GROUP BY doc_id),
      |sig AS (SELECT doc_id, i,
      |          CASE i WHEN 0 THEN h0 WHEN 1 THEN h1 WHEN 2 THEN h2 WHEN 3 THEN h3
      |                 WHEN 4 THEN h4 WHEN 5 THEN h5 WHEN 6 THEN h6 ELSE h7 END AS mh
      |        FROM sigw, UNNEST(range(0, 8)) AS r(i)),
      |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
      |         FROM sig a JOIN sig b ON a.i = b.i AND a.mh = b.mh AND a.doc_id < b.doc_id),
      |est AS (SELECT doc_a, doc_b,
      |          ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
      |         + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
      |         + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
      |         + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)) / 8.0 AS est_jaccard
      |        FROM cand JOIN sigw sa ON doc_a = sa.doc_id
      |                  JOIN sigw sb ON doc_b = sb.doc_id)
      |SELECT doc_a, doc_b, est_jaccard FROM est
      |WHERE est_jaccard >= $minEst
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q21
  /** 16-bit SimHash fingerprint from token md5 bits (sign of the
    * weighted bit sum; ties → 0). Portable: the bit of hex digit b is
    * its parity. */
  def q21SimHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val odd = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    val toks = docs(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .withColumn("h", md5($"tok"))
    // one wide aggregation: 16 per-bit contribution sums as columns of
    // a single groupBy (map-side partial combine, one shuffle of 16
    // ints per doc) instead of exploding tokens ×16 through a
    // crossJoin — same result, 1/16th the aggregated rows
    val bitSums = (0 until 16).map(b =>
      sum(when(substring($"h", b + 1, 1).isin(odd: _*), 1).otherwise(-1)).as(s"s$b"))
    toks.groupBy($"doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id",
        (0 until 16).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
      .orderBy($"doc_id")
  }

  val q21Sql: String =
    """WITH toks AS (SELECT doc_id, md5(t.tok) AS h
      |              FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)),
      |bits AS (SELECT doc_id, b,
      |           SUM(CASE WHEN substr(h, CAST(b AS INT)+1, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS sgn
      |         FROM toks, UNNEST(range(0, 16)) AS r(b)
      |         GROUP BY doc_id, b)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN sgn > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q38
  /** BPE-ish regex token statistics per language: tokens are maximal
    * alpha runs, digit runs, or single other-symbols — the common
    * pre-tokenization shape of BPE vocabularies (whitespace-only
    * counting is q15). Three codegen'd regexp_extract_all passes; the
    * alternation behaves identically in Java regex and RE2
    * (leftmost-first, greedy runs). */
  def q38RegexTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"lang",
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)")).as("nt"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).as("na"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("nn"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum($"nt").as("total_tokens"),
           sum($"na").as("total_alpha"),
           sum($"nn").as("total_num"))
      .orderBy($"lang")
  }

  val q38Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS total_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+'))) AS BIGINT) AS total_alpha,
      |  CAST(SUM(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS total_num
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Duplicate clusters: connected components over the q19 near-dup
    * pair graph (Jaccard >= 0.5), labeling every document with the
    * minimum doc_id of its duplicate cluster — the step that turns
    * pairwise "a duplicates b" findings into keep-one-representative
    * groups (a~b, b~c ⇒ one {a,b,c} cluster even when (a,c) itself
    * scores below threshold). Singletons cluster to themselves. */
  def q41DupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = graft.operators.JaccardPairs.pairsFromStats(
        bigramShingles(s, dir), shingleStats(s, dir), threshold = 0.5)
      .select($"doc_a", $"doc_b")
    val verts = docs(s, dir).select($"doc_id")
    val lab = graft.operators.ConnectedComponents.labels(verts, pairs)
    val sizes = lab.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, "cluster_id")
      .select($"doc_id", $"cluster_id", $"cluster_size",
        ($"doc_id" === $"cluster_id").as("is_rep"))
      .orderBy($"doc_id")
  }

  /** q41's oracle: the q19 pair pipeline + a recursive transitive
    * closure (min reachable id per document). */
  val q41Sql: String =
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ts[i]||' '||ts[i+1] AS shingle
      |       FROM toks, UNNEST(range(1, len(ts))) AS t(i) WHERE len(ts) >= 2),
      |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |cpairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) common
      |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      |jp AS (SELECT doc_a, doc_b
      |       FROM cpairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
      |       WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
      |          UNION ALL SELECT doc_b, doc_a FROM jp),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS root FROM documents
      |  UNION
      |  SELECT e.dst AS id, r.root FROM reach r JOIN edges e ON e.src = r.id),
      |lab AS (SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id),
      |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
      |SELECT l.doc_id, l.cluster_id, cs.cluster_size, l.doc_id = l.cluster_id AS is_rep
      |FROM lab l JOIN cs USING (cluster_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q42
  /** Deterministic stratified sampling with per-stratum rates — the
    * training-mix operator (downsample dominant languages, keep the
    * tail). A document is kept iff `md5(doc_id || ':' || lang)` is
    * lexicographically below its stratum's hex-prefix threshold:
    * '8' keeps exactly the md5s starting 0-7 (rate 1/2), '4' rate
    * 1/4, etc. — exact dyadic fractions of the hash space, stable
    * under reruns and engine-portable (pure string compare, no RNG,
    * no engine hash). `weight` = 1/rate makes downstream counts
    * unbiased (Horvitz-Thompson). Map-only: no shuffle, the filter
    * sits directly on the scan. */
  def q42StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("h", samplingHash($"doc_id", $"lang"))
      .withColumn("thr", samplingThresholdExpr)
      .filter($"h" < $"thr")
      .select($"doc_id", $"lang", samplingWeightExpr.as("weight"))
      .orderBy($"doc_id")
  }

  val q42Sql: String =
    """SELECT doc_id, lang,
      |  CASE lang WHEN 'en' THEN 2.0 WHEN 'de' THEN 4.0 WHEN 'fr' THEN 8.0 ELSE 16.0 END AS weight
      |FROM documents
      |WHERE md5(CAST(doc_id AS VARCHAR)||':'||lang) <
      |  CASE lang WHEN 'en' THEN '8' WHEN 'de' THEN '4' WHEN 'fr' THEN '2' ELSE '1' END
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q43
  /** Gopher-style repetition quality filters: per-document top-token
    * fraction and duplicate-bigram fraction, with a keep/drop verdict —
    * the repetition-removal gate of a training-data pipeline (docs
    * dominated by one token or by repeated n-grams are low-quality).
    *
    * Shapes: the unigram profile is explode → groupBy(doc, tok) with
    * map-side combine, then a per-doc argmax; the bigram dedup ratio
    * needs NO explode at all — distinct-bigram counts come map-only
    * from the native [[graft.functions.TokenShingles]] set size, and
    * total bigrams are `n_tokens − 1`. All counts exact ints; the two
    * fractions are single double divisions, so the oracle matches
    * bit-exact. */
  def q43RepetitionFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = docs(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"doc_id").orderBy($"cnt".desc, $"tok")
    // the groupBy(doc_id) after a doc_id-partitioned window reuses the
    // exchange — one shuffle for rank + profile together
    val uni = tf.withColumn("rn", row_number().over(w))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_tokens"), count(lit(1)).as("n_distinct"),
           max(when($"rn" === 1, $"tok")).as("top_tok"),
           max(when($"rn" === 1, $"cnt")).as("top_cnt"))
    val big = docs(s, dir)
      .select($"doc_id", size(expr("shingles(text, 2)")).cast("long").as("ndbig"))
    uni.join(big, Seq("doc_id"))
      .withColumn("top_frac", $"top_cnt".cast("double") / $"n_tokens")
      .withColumn("dup_bigram_frac", when($"n_tokens" > 1,
        ($"n_tokens" - 1 - $"ndbig").cast("double") / ($"n_tokens" - 1))
        .otherwise(expr("double(0.0)")))
      .withColumn("keep",
        expr("top_frac <= double(0.1) AND dup_bigram_frac <= double(0.05)"))
      .select($"doc_id", $"n_tokens", $"n_distinct", $"top_tok",
        $"top_frac", $"dup_bigram_frac", $"keep")
      .orderBy($"doc_id")
  }

  val q43Sql: String =
    """WITH toks AS (SELECT doc_id, t.tok FROM documents, UNNEST(string_split(text,' ')) t(tok)),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
      |ranked AS (SELECT doc_id, tok, cnt,
      |             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok) AS rn
      |           FROM tf),
      |uni AS (SELECT doc_id,
      |          CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |          COUNT(*) AS n_distinct,
      |          MAX(CASE WHEN rn = 1 THEN tok END) AS top_tok,
      |          CAST(MAX(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_cnt
      |        FROM ranked GROUP BY doc_id),
      |bigsh AS (SELECT DISTINCT doc_id, ts[i]||' '||ts[i+1] AS shingle
      |          FROM (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
      |               UNNEST(range(1, len(ts))) t(i) WHERE len(ts) >= 2),
      |big AS (SELECT doc_id, COUNT(*) AS ndbig FROM bigsh GROUP BY doc_id),
      |m AS (SELECT u.doc_id, u.n_tokens, u.n_distinct, u.top_tok,
      |        CAST(u.top_cnt AS DOUBLE) / u.n_tokens AS top_frac,
      |        CASE WHEN u.n_tokens > 1
      |             THEN CAST(u.n_tokens - 1 - COALESCE(b.ndbig, 0) AS DOUBLE) / (u.n_tokens - 1)
      |             ELSE 0.0 END AS dup_bigram_frac
      |      FROM uni u LEFT JOIN big b USING (doc_id))
      |SELECT doc_id, n_tokens, n_distinct, top_tok, top_frac, dup_bigram_frac,
      |  (top_frac <= 0.1 AND dup_bigram_frac <= 0.05) AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q44
  /** TF-IDF top terms: the 3 most characteristic terms per document.
    * IDF is the exact rational N/df (not ln(N/df) — libm logs aren't
    * bit-portable across engines; the monotone surrogate ranks terms
    * identically for fixed tf): tfidf = (cnt/n_tokens)·(N/df), computed
    * as one double division of two exact integer products.
    *
    * Scale shape: ONE explode → groupBy(doc, term) pass feeds the
    * whole query — document frequency is a count over a term-
    * partitioned window (vocabulary-keyed, the standard inverted-index
    * shape), doc length a sum over a doc-partitioned window that
    * SHARES its exchange with the rank window (consecutive windows on
    * the same key plan one shuffle), and the corpus size N is a 1-row
    * broadcast. The r3 form derived `dl`/`dfq` as separate aggregates
    * of `tf` and silently relied on ReuseExchange, which column
    * pruning defeated — the plan tokenized the corpus three times. */
  def q44TfIdf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = docs(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("cnt"))
    val nd = docs(s, dir).agg(count(lit(1)).as("nd"))
    val wTerm = Window.partitionBy($"term")
    val wDoc = Window.partitionBy($"doc_id")
    val wRank = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
    tf.withColumn("dfreq", count(lit(1)).over(wTerm))
      .withColumn("n_tokens", sum($"cnt").over(wDoc))
      .crossJoin(broadcast(nd))
      .withColumn("tfidf", ($"cnt" * $"nd").cast("double") / ($"n_tokens" * $"dfreq"))
      .withColumn("rnk", row_number().over(wRank))
      .filter($"rnk" <= 3)
      .select($"doc_id", $"term", $"tfidf", $"rnk".cast("long").as("rnk"))
      .orderBy($"doc_id", $"rnk")
  }

  val q44Sql: String =
    """WITH toks AS (SELECT doc_id, t.tok FROM documents, UNNEST(string_split(text,' ')) t(tok)),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM tf GROUP BY doc_id),
      |dfq AS (SELECT tok, COUNT(*) AS dfreq FROM tf GROUP BY tok),
      |n AS (SELECT COUNT(*) AS nd FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.tok AS term,
      |    CAST(tf.cnt * n.nd AS DOUBLE) / (dl.n_tokens * dfq.dfreq) AS tfidf
      |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tok) CROSS JOIN n),
      |ranked AS (SELECT doc_id, term, tfidf,
      |             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      |           FROM scored)
      |SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Benchmark decontamination via [[graft.operators.Decontamination]]:
    * flag every training document sharing a word-4-gram with the
    * held-out benchmark slice (source = 'src0'). 4-grams suit these
    * short synthetic docs; prose pipelines use 8-13. */
  def q47Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = docs(s, dir).withColumn("isBench", $"source" === "src0")
    graft.operators.Decontamination.verdicts(corpus, n = 4)
      .orderBy($"doc_id")
  }

  val q47Sql: String =
    """WITH d AS (SELECT doc_id, source, string_split(text,' ') AS ts FROM documents),
      |sh AS (SELECT DISTINCT doc_id, source,
      |         ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3] AS g
      |       FROM d, UNNEST(range(1, len(ts)-2)) t(i) WHERE len(ts) >= 4),
      |bench AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
      |hits AS (SELECT s.doc_id, COUNT(*) AS n_hits
      |         FROM sh s JOIN bench b USING (g)
      |         WHERE s.source <> 'src0' GROUP BY s.doc_id)
      |SELECT d2.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  COALESCE(h.n_hits, 0) >= 1 AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d2
      |LEFT JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q172
  /** q47's decontamination FORCED down the Bloom-prefilter regime
    * (`maxBroadcastGrams = 4` puts the bench's gram count far past the
    * exact-broadcast budget): the bench grams build a distributed
    * Bloom filter, the corpus shingles are prefiltered MAP-SIDE by
    * `mightContain` before the gram-key shuffle, and the join verifies
    * — no false negatives, so the result is EXACTLY q47's (the fpp
    * only adds ~1% stray shingles to the shuffle). Same oracle as q47:
    * the regimes must be indistinguishable in output, which is
    * precisely what this row pins. At 100 TB this is the middle
    * regime: shuffle volume ∝ candidate hits, not corpus shingles. */
  def q172BloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = docs(s, dir).withColumn("isBench", $"source" === "src0")
    graft.operators.Decontamination.verdicts(corpus, n = 4,
        maxBroadcastGrams = 4)
      .orderBy($"doc_id")
  }

  val q172Sql: String = q47Sql

  // ---------------------------------------------------------------- q48
  /** Sequence packing (concat-and-chunk): assign every document its
    * global token offset and 2048-token training-chunk coordinates —
    * the step that turns a shuffled corpus into fixed-length
    * pretraining windows. The global running total comes from
    * [[graft.operators.PrefixSum]]'s two-phase parallel scan, NOT a
    * global-order window (which would funnel the corpus through one
    * task at scale). */
  def q48SequencePacking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = docs(s, dir).select($"doc_id",
      (length($"text") - length(expr("replace(text, ' ', '')")) + 1)
        .cast("long").as("n_tokens"))
    graft.operators.PrefixSum.withRunningTotal(t, "doc_id", "n_tokens", "end_offset")
      .withColumn("chunk_id", expr("(end_offset - n_tokens) div 2048"))
      .withColumn("offset_in_chunk", expr("(end_offset - n_tokens) % 2048"))
      .select($"doc_id", $"n_tokens", $"end_offset", $"chunk_id", $"offset_in_chunk")
      .orderBy($"doc_id")
  }

  val q48Sql: String =
    """WITH t AS (SELECT doc_id,
      |             CAST(length(text) - length(replace(text,' ','')) + 1 AS BIGINT) AS n_tokens
      |           FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |        CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_offset
      |      FROM t)
      |SELECT doc_id, n_tokens, end_offset,
      |  (end_offset - n_tokens) // 2048 AS chunk_id,
      |  (end_offset - n_tokens) % 2048 AS offset_in_chunk
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q50
  /** Deterministic training-mix interleave: order the corpus so each
    * language stratum appears at its target share (en 40%, de 30%,
    * fr 20%, es 10%) evenly spread through the epoch — the dataset-
    * mixing step of pretraining (weighted round-robin without RNG).
    * Each document's stride key is (2·pos − 1) / (2·share) for its
    * position within its stratum; sorting by it interleaves strata
    * proportionally. BOTH positions come from
    * [[graft.operators.PrefixSum]] parallel scans: `pos_in_lang` from
    * the grouped variant (a `Window.partitionBy(lang)` would put each
    * stratum — billions of rows at scale — on ONE task; the grouped
    * scan stays partition-parallel with only per-stratum start offsets
    * crossing a tiny window) and `train_idx` from the multi-column
    * global scan. All arithmetic is one double division of exact
    * integers per row, so the oracle matches bit-exact. */
  def q50MixInterleave(s: SparkSession, dir: String): DataFrame =
    q50MixInterleaveImpl(s, dir, eagerCut = Some(true))

  /** r7's +30% on this query was adjudicated in r8 as HOST LOAD, not
    * the eager cut: same build, same sf0.1, one JVM apart — with the
    * cut 1.81 s, without it 2.84 s (the cut saves four re-executions
    * of the inner grouped-prefix pipeline, which costs more than the
    * one materialization job even at 5k rows). The cut is therefore
    * unconditional; the `eagerCut` knob exists so TrainingOpsSpec can
    * pin both variants result-identical. */
  private[graft] def q50MixInterleaveImpl(s: SparkSession, dir: String,
                                          eagerCut: Option[Boolean]): DataFrame = {
    import s.implicits._
    val d = docs(s, dir).select($"doc_id", $"lang").withColumn("__one", lit(1L))
    val keyed0 = graft.operators.PrefixSum
      .withRunningTotalGrouped(d, Seq("lang"), Seq("doc_id"), "__one", "pos_in_lang")
      .withColumn("mix_key", ($"pos_in_lang" * 2 - 1).cast("double") / expr(
        "CASE lang WHEN 'en' THEN double(0.8) WHEN 'de' THEN double(0.6) " +
          "WHEN 'fr' THEN double(0.4) ELSE double(0.2) END"))
    // the outer scan consumes its input four times (cut count, cut
    // sample, local sums, bucket totals) — fine on a raw parquet
    // scan, 4× a window+join pipeline here. On a large corpus one
    // eager local materialization (≈ one shuffle write's worth of
    // disk; blocks freed when the frame is dereferenced, never a
    // session-lifetime cache entry) makes those four passes read 5
    // slim columns — measured faster than the lazy form at every SF
    // tried (see q50MixInterleave's Scaladoc).
    val keyed = if (eagerCut.getOrElse(true)) keyed0.localCheckpoint(true) else keyed0
    graft.operators.PrefixSum
      .withRunningTotalOrdered(keyed, Seq("mix_key", "doc_id"), "__one", "train_idx")
      .select($"doc_id", $"lang", $"pos_in_lang", $"mix_key", $"train_idx")
      .orderBy($"train_idx")
  }


  val q50Sql: String =
    """WITH p AS (SELECT doc_id, lang,
      |             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS pos
      |           FROM documents),
      |m AS (SELECT doc_id, lang, CAST(pos AS BIGINT) AS pos_in_lang,
      |        CAST(2*pos - 1 AS DOUBLE) /
      |          (CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.6
      |                     WHEN 'fr' THEN 0.4 ELSE 0.2 END) AS mix_key
      |      FROM p)
      |SELECT doc_id, lang, pos_in_lang, mix_key,
      |  ROW_NUMBER() OVER (ORDER BY mix_key, doc_id) AS train_idx
      |FROM m ORDER BY train_idx""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Repeated-span detection via [[graft.operators.SpanDedup]]: for
    * each document, how many of its 5-token span starts repeat
    * anywhere in the corpus — the marking pass of substring-level
    * dedup (Lee et al. 2022 use 50-token spans on BPE ids; 5 word
    * tokens suit these short synthetic docs). */
  def q51RepeatedSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.SpanDedup.spanStats(docs(s, dir), "doc_id", "text", n = 5)
      .orderBy($"doc_id")
  }

  val q51Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
      |sp AS (SELECT doc_id, md5(ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]) AS h
      |       FROM d, UNNEST(range(1, len(ts)-3)) t(i) WHERE len(ts) >= 5),
      |pairs AS (SELECT h, doc_id, COUNT(*) AS m FROM sp GROUP BY 1, 2),
      |tot AS (SELECT h, doc_id, m, CAST(SUM(m) OVER (PARTITION BY h) AS BIGINT) AS c FROM pairs),
      |per AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_spans,
      |          CAST(SUM(CASE WHEN c >= 2 THEN m ELSE 0 END) AS BIGINT) AS n_dup_spans
      |        FROM tot GROUP BY doc_id)
      |SELECT d2.doc_id, COALESCE(p.n_spans, 0) AS n_spans,
      |  COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
      |  CASE WHEN COALESCE(p.n_spans, 0) > 0
      |       THEN CAST(p.n_dup_spans AS DOUBLE) / p.n_spans ELSE 0.0 END AS dup_frac
      |FROM (SELECT doc_id FROM documents) d2 LEFT JOIN per p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q52
  /** PII redaction via [[graft.operators.PiiRedact]]. The synthetic
    * corpus contains no PII, so the query plants a deterministic
    * amount per document (0-2 emails, 0-1 phones, 0-3 IPs keyed off
    * doc_id) and the operator must find and redact exactly that —
    * regex parity between Spark's Java regex and the oracle's RE2 is
    * the point of the check. */
  def q52PiiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val aug = docs(s, dir).withColumn("ptext",
      concat($"text",
        repeat(concat(lit(" u"), $"doc_id".cast("string"), lit("@ex.org")),
          ($"doc_id" % 3).cast("int")),
        repeat(lit(" +1-555-0199"), ($"doc_id" % 2).cast("int")),
        repeat(concat(lit(" 10.0."), ($"doc_id" % 256).cast("string"), lit(".7")),
          ($"doc_id" % 4).cast("int"))))
    import graft.operators.PiiRedact
    aug.select($"doc_id",
        PiiRedact.countEmails($"ptext").as("n_emails"),
        PiiRedact.countPhones($"ptext").as("n_phones"),
        PiiRedact.countIps($"ptext").as("n_ips"),
        PiiRedact.redact($"ptext").as("redacted"))
      .orderBy($"doc_id")
  }

  val q52Sql: String =
    """WITH aug AS (SELECT doc_id,
      |    text || repeat(' u' || CAST(doc_id AS VARCHAR) || '@ex.org', CAST(doc_id % 3 AS INT))
      |         || repeat(' +1-555-0199', CAST(doc_id % 2 AS INT))
      |         || repeat(' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7', CAST(doc_id % 4 AS INT))
      |      AS ptext FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'), '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
      |  CAST(len(regexp_extract_all(regexp_replace(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
      |  regexp_replace(regexp_replace(regexp_replace(ptext,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
      |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
      |FROM aug ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Chunk-level dedup via [[graft.operators.SpanDedup.dedupChunks]]:
    * split into 10-token chunks, keep each chunk text's first
    * occurrence (least (doc_id, chunk_idx)) — CCNet's paragraph-hash
    * dedup with fixed token windows standing in for paragraphs. */
  def q53ChunkDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.SpanDedup.dedupChunks(docs(s, dir), "doc_id", "text", n = 10)
      .orderBy($"doc_id", $"chunk_idx")
  }

  val q53Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
      |ch AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      |         array_to_string(ts[i*10+1 : least((i+1)*10, len(ts))], ' ') AS chunk
      |       FROM d, UNNEST(range(0, (len(ts)+9)//10)) t(i)),
      |r AS (SELECT doc_id, chunk_idx, chunk,
      |        ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      |      FROM ch)
      |SELECT doc_id, chunk_idx, chunk FROM r WHERE rn = 1
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- q54
  /** Unigram-LM quality scoring via [[graft.operators.UnigramLm]]:
    * mean corpus probability of each document's tokens — the
    * LM-filter stage with engine-exact integer statistics (libm-free;
    * same rational-surrogate trick as q44's idf). */
  def q54UnigramLm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.UnigramLm.score(docs(s, dir), "doc_id", "text")
      .orderBy($"doc_id")
  }

  val q54Sql: String =
    """WITH toks AS (SELECT doc_id, t.tok FROM documents, UNNEST(string_split(text,' ')) t(tok)),
      |vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM vocab),
      |per AS (SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(cnt) AS BIGINT) AS sum_cnt
      |        FROM toks JOIN vocab USING (tok) GROUP BY doc_id)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, sum_cnt,
      |  CAST(sum_cnt AS DOUBLE) / (n_tokens * total_tokens) AS unigram_score
      |FROM per CROSS JOIN tot ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q55
  /** Heavy-hitter vocabulary via [[graft.operators.HeavyHitters]]:
    * every token with frequency > n/(k+1), exact counts, WITHOUT
    * shuffling the full key space — per-partition Misra-Gries
    * summaries union into a guaranteed candidate superset, then one
    * exact count of candidates only. Deterministic output (the sketch
    * only prunes, the exact pass decides), so fully oracle-checkable
    * against a plain GROUP BY ... HAVING. */
  def q55HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = docs(s, dir).select(explode(split($"text", " ")).as("tok"))
    graft.operators.HeavyHitters.exact(toks, "tok", k = 30)
      .orderBy($"cnt".desc, $"tok")
  }

  val q55Sql: String =
    """WITH toks AS (SELECT t.tok FROM documents, UNNEST(string_split(text,' ')) t(tok)),
      |n AS (SELECT COUNT(*) AS total FROM toks),
      |c AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
      |SELECT tok, CAST(cnt AS BIGINT) AS cnt
      |FROM c CROSS JOIN n WHERE cnt * 31 > total
      |ORDER BY cnt DESC, tok""".stripMargin

  // ---------------------------------------------------------------- q56
  /** Repeated-span REMOVAL via [[graft.operators.SpanDedup.removeSpans]]:
    * cut every non-canonical repeated 5-token span occurrence and
    * rebuild the text — the dedup step itself (q51 is its marking
    * pass). Token counts use the shared space arithmetic on both
    * engines, so the values agree even for the all-cut empty edge. */
  def q56SpanRemoval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.SpanDedup.removeSpans(docs(s, dir), "doc_id", "text", n = 5)
      .select($"doc_id",
        (length($"text") - length(expr("replace(text, ' ', '')")) + 1)
          .cast("long").as("n_before"),
        (length($"clean_text") - length(expr("replace(clean_text, ' ', '')")) + 1)
          .cast("long").as("n_after"),
        $"clean_text")
      .orderBy($"doc_id")
  }

  val q56Sql: String =
    """WITH d AS (SELECT doc_id, text, string_split(text,' ') AS ts FROM documents),
      |sp AS (SELECT doc_id, i-1 AS pos,
      |         md5(ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]) AS h
      |       FROM d, UNNEST(range(1, len(ts)-3)) t(i) WHERE len(ts) >= 5),
      |mk AS (SELECT doc_id, pos FROM (
      |         SELECT doc_id, pos,
      |           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      |         FROM sp) WHERE rn > 1),
      |toks AS (SELECT doc_id, i-1 AS ti, ts[i] AS tok
      |         FROM d, UNNEST(range(1, len(ts)+1)) t(i)),
      |kept AS (SELECT t.doc_id, t.ti, t.tok FROM toks t
      |         WHERE NOT EXISTS (SELECT 1 FROM mk m
      |           WHERE m.doc_id = t.doc_id AND t.ti BETWEEN m.pos AND m.pos + 4)),
      |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS ct
      |        FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(length(d.text) - length(replace(d.text,' ','')) + 1 AS BIGINT) AS n_before,
      |  CAST(length(COALESCE(r.ct,'')) - length(replace(COALESCE(r.ct,''),' ','')) + 1 AS BIGINT) AS n_after,
      |  COALESCE(r.ct,'') AS clean_text
      |FROM d LEFT JOIN reb r USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Exact per-language word-count quantiles via
    * [[graft.operators.ExactQuantiles]]: the p25/p50/p75/p95 length
    * cut points curation filters use — computed from a histogram
    * aggregation (shuffle size = distinct lengths, not corpus rows),
    * never a corpus sort, and in integer rank arithmetic so the
    * oracle matches cell-exact. */
  def q57LengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = docs(s, dir).select($"lang",
      (length($"text") - length(expr("replace(text, ' ', '')")) + 1).as("n_words"))
    graft.operators.ExactQuantiles.byGroup(t, Seq("lang"), "n_words",
        Seq(25, 50, 75, 95))
      .orderBy($"lang")
  }

  val q57Sql: String =
    """WITH t AS (SELECT lang,
      |             CAST(length(text) - length(replace(text,' ','')) + 1 AS BIGINT) AS nw
      |           FROM documents),
      |h AS (SELECT lang, nw, COUNT(*) AS c FROM t GROUP BY 1, 2),
      |w AS (SELECT lang, nw,
      |        SUM(c) OVER (PARTITION BY lang ORDER BY nw) AS cum,
      |        SUM(c) OVER (PARTITION BY lang) AS total
      |      FROM h)
      |SELECT lang, CAST(MAX(total) AS BIGINT) AS n,
      |  MIN(CASE WHEN cum >= (total*25+99)//100 THEN nw END) AS p25,
      |  MIN(CASE WHEN cum >= (total*50+99)//100 THEN nw END) AS p50,
      |  MIN(CASE WHEN cum >= (total*75+99)//100 THEN nw END) AS p75,
      |  MIN(CASE WHEN cum >= (total*95+99)//100 THEN nw END) AS p95
      |FROM w GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q60
  /** Deterministic epoch shuffle: a reproducible pseudo-random
    * permutation of the corpus for training epoch N — order by
    * `md5(seed:doc_id)` (engine-portable, no RNG state; a different
    * seed per epoch gives independent permutations, and any worker
    * can recompute any position). The global position comes from
    * [[graft.operators.PrefixSum]]'s two-phase scan over the hash
    * order — a `row_number() OVER (ORDER BY ...)` would funnel the
    * corpus through one task. */
  def q60EpochShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seed = 7
    val keyed = docs(s, dir).select($"doc_id")
      .withColumn("shuffle_key", md5(concat(lit(s"$seed:"), $"doc_id".cast("string"))))
      .withColumn("__one", lit(1L))
    graft.operators.PrefixSum
      .withRunningTotalOrdered(keyed, Seq("shuffle_key", "doc_id"), "__one", "epoch_pos")
      .select($"doc_id", $"shuffle_key", $"epoch_pos")
      .orderBy($"epoch_pos")
  }

  val q60Sql: String =
    """SELECT doc_id, md5('7:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
      |  ROW_NUMBER() OVER (ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) AS epoch_pos
      |FROM documents ORDER BY epoch_pos""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Materialized sequence packing via
    * [[graft.operators.SequencePack]]: the actual 512-token training
    * rows — corpus concatenated in doc order, documents split across
    * chunk boundaries — not just the coordinates (q48). Every chunk
    * except the last holds exactly 512 tokens. */
  def q61PackedChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.SequencePack.packedChunks(docs(s, dir), "doc_id", "text", chunkTokens = 512)
      .withColumn("n_tokens",
        (length($"chunk_text") - length(expr("replace(chunk_text, ' ', '')")) + 1)
          .cast("long"))
      .select($"chunk_id", $"n_docs", $"n_tokens", $"chunk_text")
      .orderBy($"chunk_id")
  }

  val q61Sql: String =
    """WITH t AS (SELECT doc_id, text,
      |             CAST(length(text) - length(replace(text,' ','')) + 1 AS BIGINT) AS nt
      |           FROM documents),
      |c AS (SELECT doc_id, text, nt,
      |        CAST(SUM(nt) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
      |      FROM t),
      |s AS (SELECT doc_id, text, e, e - nt AS st,
      |        (e - nt)//512 AS fc, (e - 1)//512 AS lc FROM c),
      |p AS (SELECT doc_id, st, k AS chunk_id,
      |        array_to_string(list_slice(string_split(text,' '),
      |          CAST(greatest(k*512, st) - st + 1 AS BIGINT),
      |          CAST(least((k+1)*512, e) - st AS BIGINT)), ' ') AS piece
      |      FROM s, UNNEST(range(fc, lc+1)) u(k)),
      |g AS (SELECT chunk_id, COUNT(*) AS n_docs,
      |        string_agg(piece, ' ' ORDER BY st) AS chunk_text
      |      FROM p GROUP BY chunk_id)
      |SELECT CAST(chunk_id AS BIGINT) AS chunk_id, n_docs,
      |  CAST(length(chunk_text) - length(replace(chunk_text,' ','')) + 1 AS BIGINT) AS n_tokens,
      |  chunk_text
      |FROM g ORDER BY chunk_id""".stripMargin

  // ---------------------------------------------------------------- q62
  /** BPE merge census via [[graft.operators.BpePairs]]: the 100 most
    * frequent adjacent token pairs — the statistic each BPE/WordPiece
    * merge round maximizes. Native 2-token spans → one explode → one
    * map-side-combined groupBy; top-k plans as TakeOrdered. */
  def q62BpePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.BpePairs.topPairs(docs(s, dir), "text", k = 100)
      .orderBy($"cnt".desc, $"pair")
  }

  val q62Sql: String =
    """WITH d AS (SELECT string_split(text,' ') AS ts FROM documents),
      |p AS (SELECT ts[i] || ' ' || ts[i+1] AS pair
      |      FROM d, UNNEST(range(1, len(ts))) t(i)),
      |c AS (SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair)
      |SELECT pair, CAST(cnt AS BIGINT) AS cnt FROM c
      |ORDER BY cnt DESC, pair LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Shard assignment via [[graft.operators.ShardWriter.assignShards]]:
    * every document's cumulative token offset and budget-bucket shard —
    * the training-shard sink's placement logic, oracle-checked (the
    * write itself is ShardIoSpec's roundtrip). The running total is
    * PrefixSum's two-phase scan; the oracle states the same number as
    * a window prefix sum. */
  def q63ShardAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = docs(s, dir).select($"doc_id",
      (length($"text") - length(expr("replace(text, ' ', '')")) + 1)
        .cast("long").as("n_tokens"))
    graft.operators.ShardWriter.assignShards(t, "doc_id", "n_tokens", tokensPerShard = 4096)
      .select($"doc_id", $"n_tokens", $"end_offset", $"shard_id")
      .orderBy($"doc_id")
  }

  val q63Sql: String =
    """WITH t AS (SELECT doc_id,
      |             CAST(length(text) - length(replace(text,' ','')) + 1 AS BIGINT) AS n_tokens
      |           FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |        CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_offset
      |      FROM t)
      |SELECT doc_id, n_tokens, end_offset, (end_offset - n_tokens)//4096 AS shard_id
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q66
  /** Text normalization + dedup-key derivation via
    * [[graft.operators.IncrementalDedup.normalize]]: lowercase, strip
    * non-alphanumerics, collapse whitespace, trim, md5 — the CCNet
    * normalization that keeps trivial reformatting from defeating
    * exact dedup. Map-only. */
  def q66Normalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.IncrementalDedup
    docs(s, dir).select($"doc_id",
        IncrementalDedup.normalize($"text").as("norm_text"),
        IncrementalDedup.contentKey($"text").as("content_key"))
      .orderBy($"doc_id")
  }

  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  val q66Sql: String =
    s"""SELECT doc_id, $normSql AS norm_text, md5($normSql) AS content_key
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Incremental cross-corpus dedup via
    * [[graft.operators.IncrementalDedup.classify]]: the batch
    * (doc_id ≥ 250) deduplicated against the accepted corpus
    * (doc_id < 250) AND within itself — new / dup_vs_base /
    * dup_within_batch per document, one union + one hash-keyed
    * window, no text-keyed stage. */
  def q67IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    graft.operators.IncrementalDedup.classify(
        d.filter($"doc_id" < 250), d.filter($"doc_id" >= 250), "doc_id", "text")
      .orderBy($"doc_id")
  }

  val q67Sql: String =
    s"""WITH k AS (SELECT doc_id, md5($normSql) AS content_key FROM documents),
      |base AS (SELECT DISTINCT content_key FROM k WHERE doc_id < 250),
      |batch AS (SELECT doc_id, content_key,
      |            ROW_NUMBER() OVER (PARTITION BY content_key ORDER BY doc_id) AS rn
      |          FROM k WHERE doc_id >= 250)
      |SELECT t.doc_id, t.content_key,
      |  CASE WHEN b.content_key IS NOT NULL THEN 'dup_vs_base'
      |       WHEN t.rn > 1 THEN 'dup_within_batch'
      |       ELSE 'new' END AS status
      |FROM batch t LEFT JOIN base b USING (content_key)
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Wikitext link extraction — the link-graph construction pass of
    * the reference's domain (internal `[[Target]]` / `[[Target|label]]`
    * links; cf. the wikitext the reference's differ tokenizes,
    * `python/revision_differ.py:131-160`). The synthetic corpus has no
    * links, so the query plants a deterministic set keyed off doc_id
    * (q52's planting pattern) and the extractor must recover exactly
    * that — regex-group parity between Java and RE2 is the check.
    * One map-only extract → explode → groupBy(target): the adjacency
    * build for ConnectedComponents/PageRank over pages. */
  def q68LinkExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wiki = "\\[\\[([^\\]|]+)(\\|[^\\]]*)?\\]\\]"
    val aug = docs(s, dir).withColumn("wtext", concat($"text",
      repeat(concat(lit(" [[Page "), ($"doc_id" * 7 % 50).cast("string"), lit("]]")),
        ($"doc_id" % 4).cast("int")),
      repeat(concat(lit(" [[Page "), ($"doc_id" * 11 % 50).cast("string"), lit("|see also]]")),
        ($"doc_id" % 3).cast("int"))))
    aug.select($"doc_id",
        explode(regexp_extract_all($"wtext", lit(wiki), lit(1))).as("target"))
      .groupBy($"target")
      .agg(count(lit(1)).as("n_links"),
           countDistinct($"doc_id").as("n_docs"))
      .orderBy($"n_links".desc, $"target")
  }

  val q68Sql: String =
    """WITH aug AS (SELECT doc_id, text
      |    || repeat(' [[Page ' || CAST(doc_id*7 % 50 AS VARCHAR) || ']]', CAST(doc_id % 4 AS INT))
      |    || repeat(' [[Page ' || CAST(doc_id*11 % 50 AS VARCHAR) || '|see also]]', CAST(doc_id % 3 AS INT))
      |  AS wtext FROM documents),
      |l AS (SELECT doc_id, unnest(regexp_extract_all(wtext, '\[\[([^\]|]+)(\|[^\]]*)?\]\]', 1)) AS target
      |      FROM aug)
      |SELECT target, CAST(COUNT(*) AS BIGINT) AS n_links,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM l GROUP BY target ORDER BY n_links DESC, target""".stripMargin

  // ---------------------------------------------------------------- q69
  /** Quantized-integer PageRank (3 rounds) via
    * [[graft.operators.PageRank]] over the q68-style link graph
    * (pages 0..49, edges keyed off doc_id) — link-graph authority
    * scoring with floor-division arithmetic only, so the iterative
    * result is oracle-exact (float PageRank would drift with
    * summation order). */
  def q69PageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val e1 = d.filter($"doc_id" % 4 > 0)
      .select(($"doc_id" % 50).as("src"), ($"doc_id" * 7 % 50).as("dst"))
    val e2 = d.filter($"doc_id" % 3 > 0)
      .select(($"doc_id" % 50).as("src"), ($"doc_id" * 11 % 50).as("dst"))
    graft.operators.PageRank.ranksInt(e1.union(e2), iters = 3)
      .orderBy($"rank".desc, $"node")
  }

  val q69Sql: String =
    """WITH e AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT doc_id % 50 AS src, doc_id*7 % 50 AS dst FROM documents WHERE doc_id % 4 > 0
      |    UNION ALL
      |    SELECT doc_id % 50 AS src, doc_id*11 % 50 AS dst FROM documents WHERE doc_id % 3 > 0)),
      |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |o AS (SELECT src, COUNT(*) AS outd FROM e GROUP BY src),
      |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
      |c1 AS (SELECT e.dst AS node, SUM(r0.r // o.outd) AS m
      |       FROM e JOIN o USING (src) JOIN r0 ON r0.node = e.src GROUP BY e.dst),
      |r1 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c1.m, 0)) // 100 AS BIGINT) AS r
      |       FROM n LEFT JOIN c1 USING (node)),
      |c2 AS (SELECT e.dst AS node, SUM(r1.r // o.outd) AS m
      |       FROM e JOIN o USING (src) JOIN r1 ON r1.node = e.src GROUP BY e.dst),
      |r2 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c2.m, 0)) // 100 AS BIGINT) AS r
      |       FROM n LEFT JOIN c2 USING (node)),
      |c3 AS (SELECT e.dst AS node, SUM(r2.r // o.outd) AS m
      |       FROM e JOIN o USING (src) JOIN r2 ON r2.node = e.src GROUP BY e.dst),
      |r3 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c3.m, 0)) // 100 AS BIGINT) AS r
      |       FROM n LEFT JOIN c3 USING (node))
      |SELECT node, r AS rank FROM r3 ORDER BY rank DESC, node""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Deterministic train/val/test split: assign by md5 hash range
    * (~80/10/10) so membership is a pure function of (salt, doc_id) —
    * reproducible on any engine, stable under corpus growth (adding
    * documents never moves existing ones between splits, unlike
    * row-number modulo), map-only. Lexicographic hex-prefix
    * thresholds are q42's sampling-hash pattern: md5 is uniform over
    * hex strings, and 'cc'/'e6' (= 204/230 of 256) give
    * ≈ 79.7 / 10.2 / 10.2. */
  def q70SplitAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = md5(concat(lit("split:"), $"doc_id".cast("string")))
    docs(s, dir).select($"doc_id",
        substring(h, 1, 2).as("bucket"),
        when(h < "cc", "train").when(h < "e6", "val").otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  val q70Sql: String =
    """WITH b AS (SELECT doc_id,
      |    md5('split:' || CAST(doc_id AS VARCHAR)) AS h FROM documents)
      |SELECT doc_id, substring(h, 1, 2) AS bucket,
      |  CASE WHEN h < 'cc' THEN 'train' WHEN h < 'e6' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM b ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Multi-shard materialized packing via
    * [[graft.operators.SequencePack.packedChunksBy]]: documents land
    * in 3 deterministic shards (`doc_id % 3`) and each shard packs its
    * own 512-token chunk sequence — the batch twin of the streaming
    * per-shard packer, closing the stream ≡ batch ≡ oracle chain
    * (StreamingSpec pins stream ≡ packedChunksBy; this row pins
    * packedChunksBy ≡ SQL). */
  def q71PackedShards(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sharded = docs(s, dir)
      .withColumn("shard", concat(lit("s"), ($"doc_id" % 3).cast("string")))
    graft.operators.SequencePack
      .packedChunksBy(sharded, "shard", "doc_id", "text", chunkTokens = 512)
      .withColumn("n_tokens",
        (length($"chunk_text") - length(expr("replace(chunk_text, ' ', '')")) + 1)
          .cast("long"))
      .select($"shard", $"chunk_id", $"n_docs", $"n_tokens", $"chunk_text")
      .orderBy($"shard", $"chunk_id")
  }

  val q71Sql: String =
    """WITH t AS (SELECT 's' || CAST(doc_id % 3 AS VARCHAR) AS shard, doc_id, text,
      |             CAST(length(text) - length(replace(text,' ','')) + 1 AS BIGINT) AS nt
      |           FROM documents),
      |c AS (SELECT shard, doc_id, text, nt,
      |        CAST(SUM(nt) OVER (PARTITION BY shard ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
      |      FROM t),
      |s AS (SELECT shard, doc_id, text, e, e - nt AS st,
      |        (e - nt)//512 AS fc, (e - 1)//512 AS lc FROM c),
      |p AS (SELECT shard, doc_id, st, k AS chunk_id,
      |        array_to_string(list_slice(string_split(text,' '),
      |          CAST(greatest(k*512, st) - st + 1 AS BIGINT),
      |          CAST(least((k+1)*512, e) - st AS BIGINT)), ' ') AS piece
      |      FROM s, UNNEST(range(fc, lc+1)) u(k)),
      |g AS (SELECT shard, chunk_id, COUNT(*) AS n_docs,
      |        string_agg(piece, ' ' ORDER BY st) AS chunk_text
      |      FROM p GROUP BY shard, chunk_id)
      |SELECT shard, CAST(chunk_id AS BIGINT) AS chunk_id, n_docs,
      |  CAST(length(chunk_text) - length(replace(chunk_text,' ','')) + 1 AS BIGINT) AS n_tokens,
      |  chunk_text
      |FROM g ORDER BY shard, chunk_id""".stripMargin

  // ---------------------------------------------------------------- q161
  /** The EXACT batch form of [[graft.streaming.StreamOps.packStream]]
    * — the stateful streaming packer itself run on the batch frame
    * (one micro-batch per shard group, empty state): only FULL chunks
    * emit (the trailing partial stays in state), `chunk_seq` counts
    * them, and `n_docs` is the count of documents overlapping the
    * chunk. Because packing is doc_id-ordered and partial chunks can
    * only exist at the END of a shard's stream, the full chunks are
    * exactly q71's chunks with 512 tokens and `chunk_seq` coincides
    * with `chunk_id` — so the oracle is q71's gaps-and-islands SQL
    * restricted to full chunks. StreamingSpec pins the multi-batch
    * stream equal to this same operator; this row pins it to SQL
    * (closing the chain the r8 verdict asked for by name). The
    * per-shard group materializes in one task — the ORACLE
    * configuration; the scale path is the streaming form's
    * micro-batch-bounded groups or q71's relational packer. */
  def q161PackStreamBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sharded = docs(s, dir)
      .withColumn("shard", concat(lit("s"), ($"doc_id" % 3).cast("string")))
    graft.streaming.StreamOps
      .packStream(sharded, "shard", "doc_id", "text", chunkTokens = 512)
      .toDF()
      .orderBy($"shard", $"chunk_seq")
  }

  val q161Sql: String =
    """WITH t AS (SELECT 's' || CAST(doc_id % 3 AS VARCHAR) AS shard, doc_id, text,
      |             CAST(length(text) - length(replace(text,' ','')) + 1 AS BIGINT) AS nt
      |           FROM documents),
      |c AS (SELECT shard, doc_id, text, nt,
      |        CAST(SUM(nt) OVER (PARTITION BY shard ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
      |      FROM t),
      |s AS (SELECT shard, doc_id, text, e, e - nt AS st,
      |        (e - nt)//512 AS fc, (e - 1)//512 AS lc FROM c),
      |p AS (SELECT shard, doc_id, st, k AS chunk_id,
      |        array_to_string(list_slice(string_split(text,' '),
      |          CAST(greatest(k*512, st) - st + 1 AS BIGINT),
      |          CAST(least((k+1)*512, e) - st AS BIGINT)), ' ') AS piece
      |      FROM s, UNNEST(range(fc, lc+1)) u(k)),
      |g AS (SELECT shard, chunk_id, COUNT(*) AS n_docs,
      |        string_agg(piece, ' ' ORDER BY st) AS chunk_text
      |      FROM p GROUP BY shard, chunk_id)
      |SELECT shard, CAST(chunk_id AS BIGINT) AS chunk_seq, n_docs, chunk_text
      |FROM g
      |WHERE length(chunk_text) - length(replace(chunk_text,' ','')) + 1 = 512
      |ORDER BY shard, chunk_seq""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Length-bucketed batch assignment with padding-waste accounting —
    * the batching step of a training loader: documents bucket by token
    * count (so one batch never pads a 30-token doc to a 120-token
    * neighbor), each bucket fills fixed-size batches in doc order, and
    * every batch reports the padding it would cost (`n_docs·max −
    * Σtokens`). Positions within a bucket come from the grouped
    * two-phase prefix scan (q50's shape) — never a per-bucket global
    * window funnel. */
  def q72LengthBatches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = docs(s, dir).select($"doc_id",
        (length($"text") - length(expr("replace(text, ' ', '')")) + 1)
          .cast("long").as("n_tokens"))
      .withColumn("bucket", expr(
        "CASE WHEN n_tokens <= 32 THEN 32 WHEN n_tokens <= 48 THEN 48 " +
          "WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 96 THEN 96 ELSE 128 END"))
      .withColumn("__one", lit(1L))
    graft.operators.PrefixSum
      .withRunningTotalGrouped(t, Seq("bucket"), Seq("doc_id"), "__one", "__pos")
      .withColumn("batch_id", expr("(__pos - 1) div 16"))
      .groupBy($"bucket", $"batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max($"n_tokens").as("max_tokens"),
        sum($"n_tokens").as("sum_tokens"))
      .select($"bucket".cast("long").as("bucket"), $"batch_id", $"n_docs",
        $"max_tokens", $"sum_tokens",
        ($"n_docs" * $"max_tokens" - $"sum_tokens").as("padding"))
      .orderBy($"bucket", $"batch_id")
  }

  val q72Sql: String =
    """WITH t AS (SELECT doc_id,
      |    CAST(length(text) - length(replace(text,' ','')) + 1 AS BIGINT) AS n_tokens
      |  FROM documents),
      |b AS (SELECT doc_id, n_tokens,
      |    CASE WHEN n_tokens <= 32 THEN 32 WHEN n_tokens <= 48 THEN 48
      |         WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 96 THEN 96
      |         ELSE 128 END AS bucket FROM t),
      |p AS (SELECT doc_id, n_tokens, bucket,
      |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS pos FROM b),
      |g AS (SELECT bucket, (pos - 1)//16 AS batch_id, COUNT(*) AS n_docs,
      |    MAX(n_tokens) AS max_tokens,
      |    CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
      |  FROM p GROUP BY 1, 2)
      |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(batch_id AS BIGINT) AS batch_id,
      |  n_docs, max_tokens, sum_tokens,
      |  n_docs * max_tokens - sum_tokens AS padding
      |FROM g ORDER BY bucket, batch_id""".stripMargin

  // ---------------------------------------------------------------- q73
  /** Per-document n-gram diversity (distinct-2-gram ratio) — the
    * repetitiveness metric behind "diversity filtering" of generated /
    * boilerplate text (a Self-BLEU stand-in that needs no reference
    * set). Map-only: total bigrams from length arithmetic, distinct
    * bigrams from the native per-doc-distinct `shingles` expression —
    * zero shuffles at any corpus size. The ratio is one double
    * division of two exact integers (bit-portable). */
  def q73NgramDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select($"doc_id",
        (length($"text") - length(expr("replace(text, ' ', '')")))
          .cast("long").as("n2"),
        size(expr("shingles(text, 2)")).cast("long").as("d2"))
      .filter($"n2" >= 1)
      .withColumn("diversity", $"d2".cast("double") / $"n2".cast("double"))
      .orderBy($"doc_id")
  }

  val q73Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |p AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS pair
      |      FROM toks, UNNEST(range(1, len(ts))) t(i)),
      |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n2,
      |        CAST(COUNT(DISTINCT pair) AS BIGINT) AS d2
      |      FROM p GROUP BY doc_id)
      |SELECT doc_id, n2, d2,
      |  CAST(d2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS diversity
      |FROM g ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Cross-corpus shingle overlap: split the corpus in two (doc_id
    * parity standing in for "my crawl" vs "their dataset") and measure
    * exact Jaccard + per-side containment of the distinct 3-gram sets
    * — the corpus-level overlap audit run before merging data sources
    * (doc-level dedup answers a different question). One groupBy on
    * the shingle (high-cardinality key), then a single-row aggregate;
    * ratios are single divisions of exact integers. */
  def q74CorpusOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = docs(s, dir).select(($"doc_id" % 2 === 0).as("in_a"),
      explode(expr("shingles(text, 3)")).as("shingle"))
    sh.groupBy($"shingle")
      .agg(max(when($"in_a", 1L).otherwise(0L)).as("a"),
        max(when(!$"in_a", 1L).otherwise(0L)).as("b"))
      .agg(sum($"a").cast("long").as("n_a"),
        sum($"b").cast("long").as("n_b"),
        sum($"a" * $"b").cast("long").as("n_both"))
      .select($"n_a", $"n_b", $"n_both",
        ($"n_both".cast("double") / ($"n_a" + $"n_b" - $"n_both").cast("double")).as("jaccard"),
        ($"n_both".cast("double") / $"n_a".cast("double")).as("containment_a"),
        ($"n_both".cast("double") / $"n_b".cast("double")).as("containment_b"))
  }

  val q74Sql: String =
    """WITH toks AS (SELECT doc_id, doc_id % 2 = 0 AS in_a,
      |               string_split(text, ' ') AS ts FROM documents),
      |sh AS (SELECT DISTINCT in_a, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |       FROM toks, UNNEST(range(1, len(ts) - 1)) t(i) WHERE len(ts) >= 3),
      |f AS (SELECT shingle, MAX(CASE WHEN in_a THEN 1 ELSE 0 END) AS a,
      |        MAX(CASE WHEN in_a THEN 0 ELSE 1 END) AS b
      |      FROM sh GROUP BY shingle),
      |g AS (SELECT CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(b) AS BIGINT) AS n_b,
      |        CAST(SUM(a * b) AS BIGINT) AS n_both FROM f)
      |SELECT n_a, n_b, n_both,
      |  CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE) AS jaccard,
      |  CAST(n_both AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment_a,
      |  CAST(n_both AS DOUBLE) / CAST(n_b AS DOUBLE) AS containment_b
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Temperature-scaled source mixing weights (α = 0.5): sampling
    * probability per source ∝ n^α — the standard up-weighting of small
    * sources when composing a training mix (multilingual-LM style).
    * The α-power is quantized to exact integers (floor(√n · 2²⁰) as
    * BIGINT — IEEE sqrt is correctly rounded, so bit-portable) and the
    * probability is ONE double division of exact integer sums. The
    * whole query aggregates a handful of source rows; the only
    * single-partition stage is a window over those few rows —
    * tiny by design. */
  def q75MixWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    docs(s, dir).groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt($"n_docs".cast("double")) * 1048576).cast("long"))
      .withColumn("tot_w", sum($"w").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select($"source", $"n_docs", $"w",
        ($"w".cast("double") / $"tot_w".cast("double")).as("p_sample"))
      .orderBy($"source")
  }

  val q75Sql: String =
    """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      |           FROM documents GROUP BY source),
      |w AS (SELECT source, n_docs,
      |        CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1048576) AS BIGINT) AS w
      |      FROM c)
      |SELECT source, n_docs, w,
      |  CAST(w AS DOUBLE) / CAST((SELECT CAST(SUM(w) AS BIGINT) FROM w) AS DOUBLE) AS p_sample
      |FROM w ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q76
  /** BM25 retrieval scoring via [[graft.operators.Bm25]]: top-10 docs
    * per query term, query = the 5 highest-df corpus terms. The
    * rational libm-free surrogate (q44's idf trick extended to the
    * full BM25 term) makes every score one double division of exact
    * DECIMAL products — cell-exact against the oracle's HUGEINT
    * arithmetic. */
  def q76Bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    graft.operators.Bm25.scoreTerms(d, "doc_id", "text",
        graft.operators.Bm25.topDfTerms(d, "doc_id", "text", 5), topN = 10)
      .orderBy($"term", $"rnk")
  }

  val q76Sql: String =
    """WITH toks AS (SELECT doc_id, t.tok FROM documents, UNNEST(string_split(text,' ')) t(tok)),
      |tfa AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      |q AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS dfreq FROM tfa GROUP BY tok
      |      ORDER BY dfreq DESC, tok LIMIT 5),
      |t AS (SELECT doc_id,
      |        CAST(length(text) - length(replace(text,' ','')) + 1 AS BIGINT) AS dl
      |      FROM documents),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS tt FROM t),
      |sc AS (SELECT q.tok AS term, f.doc_id, f.tf,
      |    CAST((2*n.nd - 2*q.dfreq + 1)::HUGEINT * 44 * f.tf * n.tt AS DOUBLE) /
      |    CAST((2*q.dfreq + 1)::HUGEINT
      |         * (20::HUGEINT*f.tf*n.tt + 6::HUGEINT*n.tt + 18::HUGEINT*t.dl*n.nd)
      |      AS DOUBLE) AS bm25
      |  FROM tfa f JOIN q ON f.tok = q.tok JOIN t ON f.doc_id = t.doc_id CROSS JOIN n),
      |r AS (SELECT term, doc_id, tf, bm25,
      |        ROW_NUMBER() OVER (PARTITION BY term ORDER BY bm25 DESC, doc_id) AS rnk
      |      FROM sc)
      |SELECT term, doc_id, tf, bm25, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 10 ORDER BY term, rnk""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Hashed linear-classifier inference via
    * [[graft.operators.HashedClassifier]]: fastText-style quality
    * filter with 256 md5-hashed buckets and a deterministic demo
    * weight table (a trained model is the same `(bucket, weight)`
    * frame). Integer margins — exact on both engines. */
  def q77ClassifierInference(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    graft.operators.HashedClassifier.score(d, "doc_id", "text",
        graft.operators.HashedClassifier.demoWeights(d, 256), nBuckets = 256)
      .orderBy($"doc_id")
  }

  val q77Sql: String =
    """WITH toks AS (SELECT doc_id, t.tok FROM documents, UNNEST(string_split(text,' ')) t(tok)),
      |b AS (SELECT doc_id,
      |        CAST('0x' || substr(md5(tok), 1, 4) AS INTEGER) % 256 AS bucket
      |      FROM toks),
      |c AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
      |w AS (SELECT CAST(i AS INTEGER) AS bucket, (i*37 + 11) % 2001 - 1000 AS weight
      |      FROM UNNEST(range(0, 256)) t(i)),
      |m AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |        CAST(SUM(cnt * weight) AS BIGINT) AS margin
      |      FROM c JOIN w USING (bucket) GROUP BY doc_id)
      |SELECT doc_id, n_tokens, margin,
      |  CAST(CASE WHEN margin > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q79
  /** DSIR importance weights via [[graft.operators.DsirWeights]]:
    * target domain = the `en` slice; every document scored by mean
    * target probability of its tokens over mean corpus probability —
    * exact integer sums, one double division of DECIMAL/HUGEINT
    * products. */
  def q79DsirWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.DsirWeights.weights(docs(s, dir), "doc_id", "text",
        $"lang" === "en")
      .orderBy($"doc_id")
  }

  val q79Sql: String =
    """WITH toks AS (SELECT doc_id, lang = 'en' AS tgt, t.tok
      |              FROM documents, UNNEST(string_split(text,' ')) t(tok)),
      |v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cr,
      |        CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
      |      FROM toks GROUP BY tok),
      |tot AS (SELECT CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tt,
      |          CAST(COUNT(*) AS BIGINT) AS tr
      |        FROM toks),
      |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |          CAST(SUM(ct) AS BIGINT) AS a_sum, CAST(SUM(cr) AS BIGINT) AS b_sum
      |        FROM toks JOIN v USING (tok) GROUP BY doc_id)
      |SELECT doc_id, n_tokens, a_sum, b_sum,
      |  CAST(a_sum::HUGEINT * tr AS DOUBLE) / CAST(b_sum::HUGEINT * tt AS DOUBLE)
      |    AS dsir_weight
      |FROM per CROSS JOIN tot ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Bigram-LM quality scoring via
    * [[graft.operators.UnigramLm.scoreNgrams]]: mean corpus bigram
    * probability of each document's bigrams — the phrase-level
    * fluency filter (q54's unigram form scores token typicality; this
    * catches token-salad that reuses common tokens in uncommon
    * order). Integer statistics, one double division per doc. */
  def q80BigramLm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.UnigramLm.scoreNgrams(docs(s, dir), "doc_id", "text", n = 2)
      .orderBy($"doc_id")
  }

  val q80Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
      |bg AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS gram
      |       FROM d, UNNEST(range(1, len(ts))) t(i)),
      |v AS (SELECT gram, COUNT(*) AS cnt FROM bg GROUP BY gram),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_grams FROM v),
      |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |          CAST(SUM(cnt) AS BIGINT) AS sum_cnt
      |        FROM bg JOIN v USING (gram) GROUP BY doc_id)
      |SELECT doc_id, n_grams, sum_cnt,
      |  CAST(sum_cnt AS DOUBLE) / (n_grams * total_grams) AS ngram_score
      |FROM per CROSS JOIN tot ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q81
  /** BPE tokenizer training via [[graft.operators.BpeTrain]]: the
    * first 3 learned merges (rank, lhs, rhs, count-at-selection) —
    * distributed pair census + native greedy `bpe_merge` rewrite per
    * round. Fully oracle-checked: the oracle unrolls the 3 rounds as
    * generated SQL, reproducing the greedy left-to-right rewrite with
    * gaps-and-islands alternation over occurrence positions
    * (consecutive occurrences conflict on the shared middle symbol —
    * only possible when lhs = rhs — and greedy keeps the odd ones of
    * each chain). */
  def q81BpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.BpeTrain.learn(docs(s, dir), "text", nMerges = 3)
      .select($"rank".as("merge_rank"), $"left".as("lhs"),
        $"right".as("rhs"), $"cnt")
      .orderBy($"merge_rank")
  }

  /** Shared CTE prefix of the q81/q82 oracles: corpus c0, the three
    * census/argmax rounds, and the first two greedy rewrites —
    * everything up to (and including) the m3 census. */
  private val bpeSqlPrefix: String = {
    // census of corpus c{k-1} -> 1-row argmax m{k}
    def census(k: Int) =
      s"""p$k AS (SELECT s[i] AS l, s[i+1] AS r
         |      FROM c${k - 1}, UNNEST(range(1, len(s))) u(i)),
         |m$k AS (SELECT l, r, CAST(COUNT(*) AS BIGINT) AS cnt FROM p$k
         |      GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin
    // greedy rewrite of c{k-1} with m{k} -> c{k}: occurrence positions
    // chain by consecutiveness (gaps-and-islands); odd chain members
    // merge, the position after a merged one is consumed. An under-
    // minCount round selects no occurrences (learn() stops applying),
    // making the rewrite the identity.
    def rewrite(k: Int) =
      s"""t$k AS (SELECT doc_id, CAST(i AS BIGINT) AS i, s[i] AS tok, s[i+1] AS nxt
         |      FROM c${k - 1}, UNNEST(range(1, len(s)+1)) u(i)),
         |oa$k AS (SELECT doc_id, i,
         |        i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS chain
         |      FROM t$k WHERE tok = (SELECT l FROM m$k) AND nxt = (SELECT r FROM m$k)
         |        AND (SELECT cnt FROM m$k) >= 2),
         |o$k AS (SELECT doc_id, i FROM (
         |        SELECT doc_id, i,
         |          ROW_NUMBER() OVER (PARTITION BY doc_id, chain ORDER BY i) AS rn
         |        FROM oa$k) WHERE rn % 2 = 1),
         |c$k AS (SELECT t.doc_id,
         |        list(CASE WHEN ch.i IS NOT NULL THEN t.tok || ' ' || t.nxt
         |             ELSE t.tok END ORDER BY t.i) AS s
         |      FROM t$k t
         |        LEFT JOIN o$k ch ON ch.doc_id = t.doc_id AND ch.i = t.i
         |        LEFT JOIN o$k cons ON cons.doc_id = t.doc_id AND cons.i = t.i - 1
         |      WHERE cons.i IS NULL
         |      GROUP BY t.doc_id)""".stripMargin
    s"""WITH c0 AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
       |${census(1)},
       |${rewrite(1)},
       |${census(2)},
       |${rewrite(2)},
       |${census(3)}""".stripMargin
  }

  /** Merge k is emitted iff every round up to k cleared minCount=2. */
  private def bpeStop(k: Int): String =
    (1 to k).map(j => s"(SELECT cnt FROM m$j) >= 2").mkString(" AND ")

  val q81Sql: String =
    s"""$bpeSqlPrefix
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, cnt
       |  FROM m1 WHERE ${bpeStop(1)}
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), l, r, cnt FROM m2 WHERE ${bpeStop(2)}
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), l, r, cnt FROM m3 WHERE ${bpeStop(3)})
       |ORDER BY merge_rank""".stripMargin

  // ---------------------------------------------------------------- q82
  /** BPE encoding with the learned vocabulary: apply q81's 3 merges
    * ([[graft.operators.BpeTrain.encode]]) and report per-document
    * compression — the tokenizer-application half of the train→apply
    * chain. The merge list is q81's 3-row result (a driver-side
    * collect of 3 rows, like the census argmax). Oracle: q81's
    * unrolled rewrite continued one more round to c3, then per-doc
    * symbol counts; the ratio is one double division of exact
    * integers. */
  def q82BpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val merges = graft.operators.BpeTrain.learn(d, "text", nMerges = 3)
      .orderBy($"rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.BpeTrain.encode(d, "text", merges)
      .select($"doc_id",
        (length($"text") - length(expr("replace(text, ' ', '')")) + 1)
          .cast("long").as("n_tokens"),
        size($"syms").cast("long").as("n_symbols"))
      .withColumn("compression",
        $"n_tokens".cast("double") / $"n_symbols".cast("double"))
      .orderBy($"doc_id")
  }

  val q82Sql: String = {
    val prefix = bpeSqlPrefix
    // the shared CTE chain ends at the m3 census; continue with the round-3
    // rewrite to c3 (the fully encoded corpus), guarding each round's
    // application on its minCount the way learn() stops: if round k
    // stopped, c{k} must equal c{k-1}. The guard rides the occurrence
    // filter — an under-min round selects no occurrences, so the
    // rewrite is the identity.
    val r3 = """t3 AS (SELECT doc_id, CAST(i AS BIGINT) AS i, s[i] AS tok, s[i+1] AS nxt
      |      FROM c2, UNNEST(range(1, len(s)+1)) u(i)),
      |oa3 AS (SELECT doc_id, i,
      |        i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS chain
      |      FROM t3 WHERE tok = (SELECT l FROM m3) AND nxt = (SELECT r FROM m3)
      |        AND (SELECT cnt FROM m3) >= 2),
      |o3 AS (SELECT doc_id, i FROM (
      |        SELECT doc_id, i,
      |          ROW_NUMBER() OVER (PARTITION BY doc_id, chain ORDER BY i) AS rn
      |        FROM oa3) WHERE rn % 2 = 1),
      |c3 AS (SELECT t.doc_id,
      |        list(CASE WHEN ch.i IS NOT NULL THEN t.tok || ' ' || t.nxt
      |             ELSE t.tok END ORDER BY t.i) AS s
      |      FROM t3 t
      |        LEFT JOIN o3 ch ON ch.doc_id = t.doc_id AND ch.i = t.i
      |        LEFT JOIN o3 cons ON cons.doc_id = t.doc_id AND cons.i = t.i - 1
      |      WHERE cons.i IS NULL
      |      GROUP BY t.doc_id)""".stripMargin
    s"""$prefix,
       |$r3
       |SELECT d.doc_id,
       |  CAST(length(d.text) - length(replace(d.text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
       |  CAST(len(c3.s) AS BIGINT) AS n_symbols,
       |  CAST(length(d.text) - length(replace(d.text, ' ', '')) + 1 AS DOUBLE)
       |    / CAST(len(c3.s) AS DOUBLE) AS compression
       |FROM documents d JOIN c3 ON d.doc_id = c3.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q83
  /** Distributed perceptron training via
    * [[graft.operators.Perceptron]]: 3 batch epochs learning
    * lang='en' vs rest over 256 hashed token buckets — the
    * model-TRAINING half of the quality-filter arc (q77 is the
    * inference half and consumes exactly this `(bucket, weight)`
    * frame). All-integer arithmetic; the oracle unrolls the epochs as
    * generated SQL (zero-init weights, y·margin ≤ 0 update rule,
    * full-join weight accumulation). */
  def q83PerceptronTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Perceptron.learn(docs(s, dir), "doc_id", "text",
        when($"lang" === "en", 1L).otherwise(-1L), nBuckets = 256, epochs = 3)
      .select($"bucket".cast("long").as("bucket"), $"weight")
      .orderBy($"bucket")
  }

  /** Shared featurize + label + epoch-unroll prefix of the q83/q84
    * oracles: CTEs up to the epoch-`epochs` weight table `w{epochs}`. */
  private def perceptronSqlPrefix(epochs: Int): String = {
    def epoch(k: Int) =
      s"""mg$k AS (SELECT f.doc_id, CAST(COALESCE(SUM(f.cnt * w.weight), 0) AS BIGINT) AS margin
         |       FROM f LEFT JOIN w${k - 1} w USING (bucket) GROUP BY f.doc_id),
         |mc$k AS (SELECT l.doc_id, l.y FROM lab l JOIN mg$k m ON l.doc_id = m.doc_id
         |       WHERE l.y * m.margin <= 0),
         |dw$k AS (SELECT f.bucket, CAST(SUM(m.y * f.cnt) AS BIGINT) AS dw
         |       FROM f JOIN mc$k m ON f.doc_id = m.doc_id GROUP BY f.bucket),
         |w$k AS (SELECT COALESCE(w.bucket, d.bucket) AS bucket,
         |             CAST(COALESCE(w.weight, 0) + COALESCE(d.dw, 0) AS BIGINT) AS weight
         |      FROM w${k - 1} w FULL JOIN dw$k d ON w.bucket = d.bucket)""".stripMargin
    s"""WITH toks AS (SELECT doc_id, t.tok FROM documents, UNNEST(string_split(text,' ')) t(tok)),
       |f AS (SELECT doc_id,
       |        CAST('0x' || substr(md5(tok), 1, 4) AS INTEGER) % 256 AS bucket,
       |        CAST(COUNT(*) AS BIGINT) AS cnt
       |      FROM toks GROUP BY 1, 2),
       |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM documents),
       |w0 AS (SELECT NULL::INTEGER AS bucket, NULL::BIGINT AS weight WHERE FALSE),
       |${(1 to epochs).map(epoch).mkString(",\n")}""".stripMargin
  }

  val q83Sql: String =
    s"""${perceptronSqlPrefix(3)}
       |SELECT CAST(bucket AS BIGINT) AS bucket, weight FROM w3
       |WHERE weight <> 0 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Trained-model accuracy audit via
    * [[graft.operators.Perceptron.evaluate]]: per-language document
    * counts, correct verdicts, and accuracy of q83's weights — the
    * eval step between training a filter model and unleashing it on
    * the corpus. Integer counts; accuracy is one double division. */
  def q84PerceptronEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val label = when($"lang" === "en", 1L).otherwise(-1L)
    val (_, ev) = graft.operators.Perceptron.learnAndEvaluate(d, "doc_id",
      "text", label, nBuckets = 256, epochs = 3)
    ev
      .join(d.select($"doc_id", $"lang"), "doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"correct").as("n_correct"))
      .withColumn("accuracy",
        $"n_correct".cast("double") / $"n_docs".cast("double"))
      .orderBy($"lang")
  }

  val q84Sql: String =
    s"""${perceptronSqlPrefix(3)},
       |mg4 AS (SELECT f.doc_id, CAST(COALESCE(SUM(f.cnt * w.weight), 0) AS BIGINT) AS margin
       |      FROM f LEFT JOIN w3 w USING (bucket) GROUP BY f.doc_id),
       |ev AS (SELECT d.lang, CASE WHEN l.y * m.margin > 0 THEN 1 ELSE 0 END AS correct
       |      FROM documents d JOIN lab l ON d.doc_id = l.doc_id
       |        JOIN mg4 m ON d.doc_id = m.doc_id)
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(correct) AS BIGINT) AS n_correct,
       |  CAST(SUM(correct) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS accuracy
       |FROM ev GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Dedup-recall audit: MinHash-LSH candidates (q20) against the
    * exact n-gram-Jaccard truth set (q19) — the accuracy check run
    * before an approximate dedup index replaces the exact pass
    * (q78's recall audit, for text dedup). ONE pass over each side:
    * a full outer join on the pair key feeds a single-row flag
    * aggregate (never count() per side — that would re-run both
    * pipelines); ratios are single divisions of exact counts. */
  def q85DedupRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val truth = q19NgramJaccard(s, dir).select($"doc_a", $"doc_b", lit(1L).as("t"))
    val cand = q20MinHashLsh(s, dir).select($"doc_a", $"doc_b", lit(1L).as("c"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full")
      .agg(sum($"t").as("n_true"), sum($"c").as("n_cand"),
        sum($"t" * $"c").as("n_hit"))
      .select($"n_true", $"n_cand", $"n_hit",
        ($"n_hit".cast("double") / $"n_true".cast("double")).as("recall"),
        ($"n_hit".cast("double") / $"n_cand".cast("double")).as("cand_hit_rate"))
  }

  val q85Sql: String =
    s"""WITH truth AS (SELECT doc_a, doc_b FROM ($q19Sql)),
       |cand AS (SELECT doc_a, doc_b FROM ($q20Sql)),
       |j AS (SELECT CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS t,
       |             CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS c
       |      FROM truth t FULL JOIN cand c
       |        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
       |SELECT CAST(SUM(t) AS BIGINT) AS n_true, CAST(SUM(c) AS BIGINT) AS n_cand,
       |  CAST(SUM(t * c) AS BIGINT) AS n_hit,
       |  CAST(SUM(t * c) AS DOUBLE) / CAST(SUM(t) AS DOUBLE) AS recall,
       |  CAST(SUM(t * c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS cand_hit_rate
       |FROM j""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Per-document contamination RATE: the fraction of each training
    * document's distinct 4-grams that appear in the benchmark set —
    * q47's boolean verdict refined to the graded measure used when a
    * hard drop-all-hits rule is too blunt (near-duplicate eval splits
    * legitimately share some n-grams). Reuses
    * [[graft.operators.Decontamination.verdicts]] for the hit counts;
    * the per-doc gram total is the map-only native `shingles` size on
    * a second scan (no extra shuffle). Gram-less short docs rate 0. */
  def q86ContaminationRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = docs(s, dir).withColumn("isBench", $"source" === "src0")
    val v = graft.operators.Decontamination.verdicts(corpus, n = 4)
    val grams = corpus.filter(!$"isBench").select($"doc_id",
      size(expr("shingles(text, 4)")).cast("long").as("n_grams"))
    grams.join(v, "doc_id")
      .select($"doc_id", $"n_grams", $"n_hits",
        when($"n_grams" === 0, lit(0.0))
          .otherwise($"n_hits".cast("double") / $"n_grams".cast("double"))
          .as("contamination"))
      .orderBy($"doc_id")
  }

  val q86Sql: String =
    """WITH d AS (SELECT doc_id, source, string_split(text,' ') AS ts FROM documents),
      |sh AS (SELECT DISTINCT doc_id, source,
      |         ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3] AS g
      |       FROM d, UNNEST(range(1, len(ts)-2)) t(i) WHERE len(ts) >= 4),
      |bench AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
      |hits AS (SELECT s.doc_id, COUNT(*) AS n_hits
      |         FROM sh s JOIN bench b USING (g)
      |         WHERE s.source <> 'src0' GROUP BY s.doc_id),
      |gc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
      |       FROM sh WHERE source <> 'src0' GROUP BY doc_id)
      |SELECT d2.doc_id, CAST(COALESCE(gc.n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  CASE WHEN COALESCE(gc.n_grams, 0) = 0 THEN 0.0
      |       ELSE CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(gc.n_grams AS DOUBLE)
      |  END AS contamination
      |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d2
      |LEFT JOIN gc USING (doc_id) LEFT JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Systematic importance resampling via
    * [[graft.operators.ImportanceSample]]: q79's DSIR weights applied
    * — each document's copy count on the deterministic
    * cumulative-weight grid (the resampling phase of DSIR data
    * selection). Cumulative weights ride [[graft.operators.PrefixSum]]'s
    * two-phase scan (no global-order window funnel). Oracle composes
    * q79's full SQL as a nested CTE source (the q78/q85 pattern). */
  def q89ImportanceSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = graft.operators.DsirWeights.weights(docs(s, dir), "doc_id", "text",
      $"lang" === "en")
    graft.operators.ImportanceSample.systematic(w, "doc_id", "dsir_weight",
        n = 100)
      .orderBy($"doc_id")
  }

  val q89Sql: String =
    s"""WITH w AS (SELECT doc_id, dsir_weight FROM ($q79Sql)),
      |q AS (SELECT doc_id, CAST(floor(dsir_weight * 1048576) AS BIGINT) AS wq
      |      FROM w),
      |c AS (SELECT doc_id, wq, SUM(wq) OVER (ORDER BY doc_id) AS cum FROM q),
      |tot AS (SELECT SUM(wq) AS t FROM q),
      |st AS (SELECT GREATEST(1, t // 100) AS stride FROM tot)
      |SELECT c.doc_id, c.wq, CAST(c.cum AS BIGINT) AS cum,
      |  CAST(c.cum // s.stride - (c.cum - c.wq) // s.stride AS BIGINT)
      |    AS n_copies
      |FROM c CROSS JOIN st s ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Corpus-frequency boilerplate removal via
    * [[graft.operators.SpanDedup.removeBoilerplate]]: every 3-token
    * chunk whose text occurs in ≥3 distinct documents is cut from ALL
    * of them (C4's repeated-line filter shape — q53 keeps a canonical
    * copy, this keeps none), and the text is rebuilt. Chunk totals
    * come from length arithmetic, not a second tokenize. */
  def q90Boilerplate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.SpanDedup.removeBoilerplate(docs(s, dir), "doc_id", "text",
        n = 3, minDocs = 3)
      .orderBy($"doc_id")
  }

  val q90Sql: String =
    """WITH d AS (SELECT doc_id, text, string_split(text,' ') AS ts FROM documents),
      |ch AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      |         array_to_string(ts[i*3+1 : least((i+1)*3, len(ts))], ' ') AS chunk
      |       FROM d, UNNEST(range(0, (len(ts)+2)//3)) t(i)),
      |boiler AS (SELECT chunk FROM (
      |    SELECT chunk, COUNT(DISTINCT doc_id) AS ndocs FROM ch GROUP BY chunk)
      |  WHERE ndocs >= 3),
      |kept AS (SELECT c.* FROM ch c LEFT JOIN boiler b USING (chunk)
      |         WHERE b.chunk IS NULL),
      |reb AS (SELECT doc_id, COUNT(*) AS nk,
      |          string_agg(chunk, ' ' ORDER BY chunk_idx) AS ct
      |        FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id,
      |          CAST((length(text) - length(replace(text,' ','')) + 1 + 2) // 3
      |            AS BIGINT) AS n_chunks
      |        FROM d)
      |SELECT t.doc_id, t.n_chunks,
      |  CAST(t.n_chunks - COALESCE(r.nk, 0) AS BIGINT) AS n_boiler,
      |  COALESCE(r.ct, '') AS clean_text
      |FROM tot t LEFT JOIN reb r USING (doc_id) ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1
    * shape, thresholds fit to this corpus): per-document word count,
    * mean word length, top-word repetition share, and stopword
    * presence, plus the conjunctive pass verdict. All integer
    * arithmetic (×1000 fixed-point for the ratios) so the verdict is
    * engine-exact. One explode feeds both the repetition and stopword
    * aggregates; the length stats are pure length arithmetic on the
    * raw scan — map-only plus one groupBy(doc_id, tok). */
  def q91GopherRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir).select($"doc_id", $"text")
      .withColumn("n_words",
        expr("CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"))
      .withColumn("wchars", expr("CAST(length(replace(text, ' ', '')) AS BIGINT)"))
    val toks = d.select($"doc_id", explode(split($"text", " ")).as("tok"))
    val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val top = tf.groupBy($"doc_id").agg(max($"c").as("top1_cnt"))
    val stops = toks.groupBy($"doc_id").agg(
      sum(when($"tok".isin("the", "a"), 1L).otherwise(0L)).as("stop_hits"))
    d.join(top, "doc_id").join(stops, "doc_id")
      .withColumn("mwl_x1000", expr("wchars * 1000 div n_words"))
      .select($"doc_id", $"n_words", $"mwl_x1000", $"top1_cnt", $"stop_hits",
        when($"n_words".between(20L, 100000L) &&
             $"mwl_x1000".between(3800L, 5100L) &&
             $"top1_cnt" * 1000L <= $"n_words" * 150L &&
             $"stop_hits" >= 1L, 1L).otherwise(0L).as("pass"))
      .orderBy($"doc_id")
  }

  val q91Sql: String =
    """WITH d AS (SELECT doc_id, text,
      |    CAST(length(text) - length(replace(text,' ','')) + 1 AS BIGINT) AS n_words,
      |    CAST(length(replace(text,' ','')) AS BIGINT) AS wchars FROM documents),
      |w AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM d),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM w GROUP BY 1, 2),
      |top AS (SELECT doc_id, MAX(c) AS top1_cnt FROM tf GROUP BY 1),
      |st AS (SELECT doc_id,
      |    CAST(COUNT(*) FILTER (WHERE tok IN ('the','a')) AS BIGINT) AS stop_hits
      |  FROM w GROUP BY 1)
      |SELECT d.doc_id, d.n_words, d.wchars*1000//d.n_words AS mwl_x1000,
      |  top.top1_cnt, st.stop_hits,
      |  CAST(CASE WHEN d.n_words BETWEEN 20 AND 100000
      |    AND d.wchars*1000//d.n_words BETWEEN 3800 AND 5100
      |    AND top.top1_cnt*1000 <= d.n_words*150
      |    AND st.stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS pass
      |FROM d JOIN top USING (doc_id) JOIN st USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q92
  /** Borda-count rank fusion of two retrieval signals — document size
    * (n_chars) and lexical diversity (distinct tokens) — fused over
    * each signal's top-100 list with rank 101 as the miss penalty (the
    * cutoff form used for RRF in practice, integer ranks so the fusion
    * is engine-exact). The `row_number() <= k` filters compile to
    * map-side WindowGroupLimit pruning (partial top-k before the
    * shuffle), so the single-partition final sees ≤ k·numParts rows —
    * the q22 audited pattern, not a corpus funnel. */
  def q92RankFusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = docs(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id").agg(countDistinct($"tok").as("n_types"))
    val base = docs(s, dir).select($"doc_id", $"n_chars").join(types, "doc_id")
    val byChars = Window.orderBy($"n_chars".desc, $"doc_id")
    val byTypes = Window.orderBy($"n_types".desc, $"doc_id")
    val r1 = base.withColumn("rank_chars", row_number().over(byChars).cast("long"))
      .filter($"rank_chars" <= 100L).select($"doc_id", $"rank_chars")
    val r2 = base.withColumn("rank_types", row_number().over(byTypes).cast("long"))
      .filter($"rank_types" <= 100L).select($"doc_id", $"rank_types")
    r1.join(r2, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        (coalesce($"rank_chars", lit(101L)) + coalesce($"rank_types", lit(101L)))
          .as("borda"),
        coalesce($"rank_chars", lit(0L)).as("rank_chars"),
        coalesce($"rank_types", lit(0L)).as("rank_types"))
      .orderBy($"borda", $"doc_id").limit(50)
  }

  val q92Sql: String =
    """WITH types AS (SELECT doc_id, COUNT(DISTINCT tok) AS n_types FROM (
      |    SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)
      |  GROUP BY 1),
      |base AS (SELECT d.doc_id, d.n_chars, t.n_types
      |         FROM documents d JOIN types t USING (doc_id)),
      |r1 AS (SELECT doc_id, rank_chars FROM (
      |    SELECT doc_id, CAST(row_number() OVER
      |      (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank_chars FROM base)
      |  WHERE rank_chars <= 100),
      |r2 AS (SELECT doc_id, rank_types FROM (
      |    SELECT doc_id, CAST(row_number() OVER
      |      (ORDER BY n_types DESC, doc_id) AS BIGINT) AS rank_types FROM base)
      |  WHERE rank_types <= 100)
      |SELECT COALESCE(r1.doc_id, r2.doc_id) AS doc_id,
      |  COALESCE(r1.rank_chars, 101) + COALESCE(r2.rank_types, 101) AS borda,
      |  COALESCE(r1.rank_chars, 0) AS rank_chars,
      |  COALESCE(r2.rank_types, 0) AS rank_types
      |FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id
      |ORDER BY borda, doc_id LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q95
  /** HITS hubs and authorities over the same synthetic doc-id link
    * graph as q69's PageRank, two full rounds of [[graft.operators.Hits]]'s
    * max-norm integer iteration — bit-exact under any partitioning, so
    * the unrolled-CTE oracle matches cell-for-cell. */
  def q95Hits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val e1 = d.filter($"doc_id" % 4 > 0)
      .select(($"doc_id" % 50).as("src"), ($"doc_id" * 7 % 50).as("dst"))
    val e2 = d.filter($"doc_id" % 3 > 0)
      .select(($"doc_id" % 50).as("src"), ($"doc_id" * 11 % 50).as("dst"))
    graft.operators.Hits.hubsAuthsInt(e1.union(e2), iters = 2)
      .orderBy($"auth".desc, $"node")
  }

  val q95Sql: String = {
    // one max-norm half-step as SQL: raw sums keyed by the receiving
    // side, rescaled by the global max — mirrors Hits.halfStep
    def half(prev: String, prevCol: String, keyIn: String, keyOut: String,
             outCol: String, tag: String): String =
      s"""${tag}r AS (SELECT e.$keyOut AS node, SUM(p.$prevCol) AS raw
         |  FROM e JOIN $prev p ON e.$keyIn = p.node GROUP BY 1),
         |$tag AS (SELECT n.node,
         |    CAST(COALESCE(r.raw, 0) * 1000000
         |         // (SELECT MAX(raw) FROM ${tag}r) AS BIGINT) AS $outCol
         |  FROM n LEFT JOIN ${tag}r r USING (node))""".stripMargin
    s"""WITH e AS (SELECT DISTINCT src, dst FROM (
       |    SELECT doc_id % 50 AS src, doc_id * 7 % 50 AS dst FROM documents
       |    WHERE doc_id % 4 > 0
       |    UNION ALL
       |    SELECT doc_id % 50, doc_id * 11 % 50 FROM documents
       |    WHERE doc_id % 3 > 0)),
       |n AS (SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM n),
       |${half("h0", "hub", "src", "dst", "auth", "a1")},
       |${half("a1", "auth", "dst", "src", "hub", "h1")},
       |${half("h1", "hub", "src", "dst", "auth", "a2")},
       |${half("a2", "auth", "dst", "src", "hub", "h2")}
       |SELECT n.node, a2.auth, h2.hub
       |FROM n JOIN a2 USING (node) JOIN h2 USING (node)
       |ORDER BY a2.auth DESC, n.node""".stripMargin
  }

  // ---------------------------------------------------------------- q96
  /** Lexical diversity report: per-document token count, type count,
    * hapax-legomena count, and ×1000 fixed-point type-token ratio —
    * the standard corpus-linguistics diversity stats, one
    * explode → groupBy(doc_id, tok) → groupBy(doc_id) cascade with
    * map-side combines at both levels. */
  def q96TypeTokenRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when($"c" === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_x1000", expr("n_types * 1000 div n_tokens"))
      .orderBy($"doc_id")
  }

  val q96Sql: String =
    """WITH tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)
      |  GROUP BY 1, 2)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
      |  CAST(COUNT(*) AS BIGINT) * 1000 // CAST(SUM(c) AS BIGINT) AS ttr_x1000
      |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q99
  /** The composed curation pipeline END-TO-END: quality gate (q14's
    * score, shared expression) → exact-dedup canonical pick among the
    * survivors (q18's min-id-per-md5) → stratified sampling verdict
    * (q42's shared hash threshold), with per-stage flags so the output
    * audits WHERE each document fell out. One scored scan feeds
    * everything; the canonical window keys on the md5 hash
    * (high-cardinality); sampling is map-only. The oracle recomposes
    * the three stages' oracled SQL forms — operator COMPOSITION is
    * what a real curation run executes, and this pins the composition
    * itself, not just the pieces. */
  def q99CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val th = lit(0.625)
    val scored = docs(s, dir)
      .withColumn("n_words",
        expr("CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"))
      .withColumn("__nthe", theCountExpr)
      .withColumn("quality_score",
        qualityScore($"n_words", $"__nthe", length($"text")))
      .select($"doc_id", $"lang", $"text", $"quality_score")
    val pass = scored.filter($"quality_score" >= th)
      .withColumn("__h", md5($"text"))
      .withColumn("canonical",
        when($"doc_id" === min($"doc_id").over(Window.partitionBy($"__h")), 1L)
          .otherwise(0L))
      .select($"doc_id", lit(1L).as("q_pass"), $"canonical")
    scored.join(pass, Seq("doc_id"), "left")
      .withColumn("q_pass", coalesce($"q_pass", lit(0L)))
      .withColumn("canonical", coalesce($"canonical", lit(0L)))
      .withColumn("sampled",
        when(samplingHash($"doc_id", $"lang") < samplingThresholdExpr, 1L)
          .otherwise(0L))
      .select($"doc_id", $"quality_score", $"q_pass", $"canonical", $"sampled",
        ($"q_pass" * $"canonical" * $"sampled").as("kept"))
      .orderBy($"doc_id")
  }

  val q99Sql: String =
    """WITH sc AS (SELECT doc_id, lang, text,
      |    least(1.0, (length(text) - length(replace(text,' ','')) + 1)/100.0) * 0.5
      |    + CASE WHEN CAST((length(' '||text||' ') - length(replace(' '||text||' ',' the ',' '))) / 4 AS BIGINT) > 0 THEN 0.25 ELSE 0.0 END
      |    + least(1.0, length(text)/500.0) * 0.25 AS quality_score
      |  FROM documents),
      |p AS (SELECT doc_id, md5(text) AS h FROM sc WHERE quality_score >= 0.625),
      |canon AS (SELECT doc_id,
      |    CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY h) THEN 1 ELSE 0 END AS canonical
      |  FROM p),
      |f AS (SELECT sc.doc_id, sc.quality_score,
      |    CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS q_pass,
      |    COALESCE(c.canonical, 0) AS canonical,
      |    CASE WHEN md5(CAST(sc.doc_id AS VARCHAR)||':'||sc.lang) <
      |      CASE sc.lang WHEN 'en' THEN '8' WHEN 'de' THEN '4' WHEN 'fr' THEN '2' ELSE '1' END
      |      THEN 1 ELSE 0 END AS sampled
      |  FROM sc LEFT JOIN canon c USING (doc_id))
      |SELECT doc_id, quality_score, CAST(q_pass AS BIGINT) AS q_pass,
      |  CAST(canonical AS BIGINT) AS canonical, CAST(sampled AS BIGINT) AS sampled,
      |  CAST(q_pass * canonical * sampled AS BIGINT) AS kept
      |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q100
  /** Collocation strength: adjacent-pair LIFT
    * `(c_xy·N)/(c_x·c_y)` — the PMI exponent — for every bigram seen
    * ≥ 5 times, top 50. Exact integer products in DECIMAL(38,0)
    * (≡ DuckDB HUGEINT) and ONE double division (the q44 rational-
    * surrogate pattern: no logs, bit-portable). Bigrams ride the
    * native `token_spans(·,2)` expression; unigram counts join on the
    * token (high-cardinality); N is the 1-row length-arithmetic
    * aggregate broadcast in (q44's audited pattern). */
  def q100Collocations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val big = graft.operators.BpePairs.pairCounts(d, "text")
    val uni = d.select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c1"))
    val total = d.select(expr(
      "CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)")
      .as("n_total"))
    big.filter($"cnt" >= 5L)
      .withColumn("w1", expr("split(pair, ' ')[0]"))
      .withColumn("w2", expr("split(pair, ' ')[1]"))
      .join(uni.select($"tok".as("w1"), $"c1".as("cx")), "w1")
      .join(uni.select($"tok".as("w2"), $"c1".as("cy")), "w2")
      .crossJoin(broadcast(total))
      .withColumn("lift",
        ($"cnt".cast("decimal(38,0)") * $"n_total".cast("decimal(38,0)")).cast("double")
          / ($"cx".cast("decimal(38,0)") * $"cy".cast("decimal(38,0)")).cast("double"))
      .select($"pair", $"cnt", $"lift")
      .orderBy($"lift".desc, $"pair").limit(50)
  }

  val q100Sql: String =
    """WITH d AS (SELECT string_split(text,' ') AS ts FROM documents),
      |toks AS (SELECT unnest(ts) AS tok FROM d),
      |uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
      |n AS (SELECT COUNT(*) AS n_total FROM toks),
      |p AS (SELECT ts[i] || ' ' || ts[i+1] AS pair
      |      FROM d, UNNEST(range(1, len(ts))) t(i)),
      |big AS (SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair HAVING COUNT(*) >= 5)
      |SELECT b.pair, CAST(b.cnt AS BIGINT) AS cnt,
      |  CAST(CAST(b.cnt AS HUGEINT) * CAST(n.n_total AS HUGEINT) AS DOUBLE)
      |    / CAST(CAST(u1.c AS HUGEINT) * CAST(u2.c AS HUGEINT) AS DOUBLE) AS lift
      |FROM big b, n
      |JOIN uni u1 ON u1.tok = string_split(b.pair,' ')[1]
      |JOIN uni u2 ON u2.tok = string_split(b.pair,' ')[2]
      |ORDER BY lift DESC, pair LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q101
  /** Temperature-flattened mixture sampling (α = 1/2, the multilingual
    *-pretraining rebalance: low-resource sources are UP-weighted
    * relative to proportional sampling): source (language) i with cᵢ
    * documents receives an expected share ∝ √cᵢ of a target budget of
    * N = total/2 documents, realized as a deterministic per-document
    * keep rule — keep d of source i iff H(d)·S·cᵢ < N·wᵢ·2³², with
    * H(d) a 32-bit md5 bucket, wᵢ = isqrt(cᵢ) and S = Σwᵢ.
    * Bit-portable: isqrt is floor(sqrt) with a ±1 integer correction
    * (IEEE sqrt is correctly rounded, the guard makes it exact
    * regardless), and the keep rule is pure integer arithmetic in
    * DECIMAL(38,0) (≡ DuckDB HUGEINT — products pass 2⁶³ once source
    * counts reach ~10¹² docs). Scale shape: one tiny groupBy(lang)
    * histogram broadcast back; the verdict is map-only over the
    * corpus; membership is stable as sources grow (q70's hash-range
    * property, per-source). */
  def q101TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = docs(s, dir).groupBy($"lang").agg(count(lit(1)).as("cnt"))
      .withColumn("__r", expr("CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT)"))
      .withColumn("w", expr(
        "__r + (CASE WHEN (__r+1)*(__r+1) <= cnt THEN 1 WHEN __r*__r > cnt THEN -1 ELSE 0 END)"))
      .select($"lang", $"cnt", $"w")
    val tot = counts.agg(sum($"w").cast("long").as("sw"),
      sum($"cnt").cast("long").as("n_total"))
    val dims = counts.crossJoin(broadcast(tot))
    val d38 = "decimal(38,0)"
    docs(s, dir).select($"doc_id", $"lang")
      .withColumn("__h", expr(
        "CAST(conv(substring(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
      .join(broadcast(dims), "lang")
      .withColumn("kept", when(
        $"__h".cast(d38) * $"sw".cast(d38) * $"cnt".cast(d38) <
          expr("n_total div 2").cast(d38) * $"w".cast(d38) * lit(4294967296L).cast(d38),
        1L).otherwise(0L))
      .select($"doc_id", $"lang", $"kept")
      .orderBy($"doc_id")
  }

  val q101Sql: String =
    """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
      |r0 AS (SELECT lang, cnt, CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT) AS r FROM c),
      |w AS (SELECT lang, cnt,
      |        r + (CASE WHEN (r+1)*(r+1) <= cnt THEN 1 WHEN r*r > cnt THEN -1 ELSE 0 END) AS w
      |      FROM r0),
      |s AS (SELECT CAST(SUM(w) AS BIGINT) AS sw, CAST(SUM(cnt) AS BIGINT) AS n_total FROM w),
      |d AS (SELECT doc_id, lang,
      |        CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
      |      FROM documents)
      |SELECT d.doc_id, d.lang,
      |  CAST(CASE WHEN CAST(d.h AS HUGEINT) * CAST(s.sw AS HUGEINT) * CAST(w.cnt AS HUGEINT)
      |       < CAST(s.n_total // 2 AS HUGEINT) * CAST(w.w AS HUGEINT) * CAST(4294967296 AS HUGEINT)
      |       THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM d JOIN w USING (lang) CROSS JOIN s
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q102
  /** CCNet-style LM-score tiering (head / middle / tail thirds of the
    * corpus by language-model quality): q54's engine-exact unigram
    * score reduced to the integer surrogate
    * `lm_x1e6 = (Σ count(tok)) · 10⁶ div n_tokens` (the corpus-total
    * divisor is constant across documents, so ranking by the
    * surrogate ≡ ranking by the score — no doubles anywhere), cut at
    * the exact ceil-rank 34th/67th percentiles via
    * [[graft.operators.ExactQuantiles]] (histogram shuffle = distinct
    * values, never a corpus sort). The scored frame feeds BOTH the
    * quantile branch and the verdict branch, so it is eagerly
    * localCheckpoint'ed (the ImportanceSample pattern — one tokenize
    * pass, and no re-sampled exchange on the second branch). At
    * ~10¹³-token corpora promote the ×10⁶ product to DECIMAL before
    * the div (same headroom note as UnigramLm). */
  def q102LmTiers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.operators.UnigramLm.score(docs(s, dir), "doc_id", "text")
      .withColumn("lm_x1e6", expr("(sum_cnt * 1000000) div n_tokens"))
      .select($"doc_id", $"lm_x1e6")
      .localCheckpoint(true)
    val cuts = graft.operators.ExactQuantiles.byGroup(
        m.withColumn("__g", lit(1)), Seq("__g"), "lm_x1e6", Seq(34, 67))
      .select($"p34", $"p67")
    m.crossJoin(broadcast(cuts))
      .withColumn("tier",
        when($"lm_x1e6" <= $"p34", "tail")
          .when($"lm_x1e6" <= $"p67", "middle")
          .otherwise("head"))
      .select($"doc_id", $"lm_x1e6", $"tier")
      .orderBy($"doc_id")
  }

  val q102Sql: String =
    """WITH toks AS (SELECT doc_id, t.tok FROM documents, UNNEST(string_split(text,' ')) t(tok)),
      |vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
      |per AS (SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(cnt) AS BIGINT) AS sum_cnt
      |        FROM toks JOIN vocab USING (tok) GROUP BY doc_id),
      |m AS (SELECT doc_id, CAST((sum_cnt * 1000000) // n_tokens AS BIGINT) AS lm_x1e6 FROM per),
      |h AS (SELECT lm_x1e6 AS v, COUNT(*) AS c FROM m GROUP BY 1),
      |w AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS total FROM h),
      |cuts AS (SELECT MIN(CASE WHEN cum >= (total*34+99)//100 THEN v END) AS p34,
      |                MIN(CASE WHEN cum >= (total*67+99)//100 THEN v END) AS p67 FROM w)
      |SELECT m.doc_id, m.lm_x1e6,
      |  CASE WHEN m.lm_x1e6 <= c.p34 THEN 'tail'
      |       WHEN m.lm_x1e6 <= c.p67 THEN 'middle' ELSE 'head' END AS tier
      |FROM m CROSS JOIN cuts c ORDER BY m.doc_id""".stripMargin

  // ---------------------------------------------------------------- q104
  /** Corpus-level repeated-sequence mining via
    * [[graft.operators.RepeatedSequences]] — the bounded suffix-array
    * neighbor-LCP scan (Lee et al. 2021's substring dedup idea): top
    * 25 longest token sequences (≤ 8-token horizon) occurring at ≥ 2
    * corpus positions. The oracle re-derives the same pairs with a
    * global LAG over the sorted windows plus a generated 8-term
    * prefix-equality sum — an independent formulation of the
    * neighbor-LCP identity, pinning the distributed
    * bucket/boundary-carry machinery against plain SQL. */
  def q104RepeatedSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.RepeatedSequences
      .topRepeats(docs(s, dir), "doc_id", "text", window = 8, topK = 25)
      .orderBy($"lcp".desc, $"seq")
  }

  val q104Sql: String = {
    val w = 8
    // the i <= len guard is load-bearing: list_slice CLAMPS past the
    // list end, so two equal windows SHORTER than i would otherwise
    // count every term and inflate lcp beyond the window length
    val terms = (1 to w)
      .map(i => s"(CASE WHEN $i <= greatest(len(wt), len(pwt)) " +
        s"AND list_slice(pwt,1,$i) = list_slice(wt,1,$i) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
       |win AS (SELECT doc_id, i AS p,
       |          list_slice(ts, i, least(i + ${w - 1}, len(ts))) AS wt,
       |          array_to_string(list_slice(ts, i, least(i + ${w - 1}, len(ts))), ' ') AS ws
       |        FROM d, UNNEST(range(1, len(ts) + 1)) t(i)),
       |o AS (SELECT wt, LAG(wt) OVER (ORDER BY ws, doc_id, p) AS pwt FROM win),
       |l AS (SELECT wt, $terms AS lcp FROM o WHERE pwt IS NOT NULL),
       |f AS (SELECT DISTINCT CAST(lcp AS BIGINT) AS lcp,
       |        array_to_string(list_slice(wt, 1, lcp), ' ') AS seq
       |      FROM l WHERE lcp >= 1)
       |SELECT lcp, seq FROM f ORDER BY lcp DESC, seq LIMIT 25""".stripMargin
  }

  // ---------------------------------------------------------------- q105
  /** Exact triangle counts + local clustering coefficients via
    * [[graft.operators.Triangles]] (degree-ordered edge-iterator —
    * the orientation bounds wedge fan-out at O(m^{3/2}) so a hub
    * cannot become the "last reducer"). The graph is the q69-style
    * deterministic doc-id arithmetic family, densified to 200 nodes
    * so triangles are plentiful; the oracle recounts them with a
    * plain 3-way self-join on the canonicalized (a < b) edge set —
    * an independent formulation, no orientation involved. */
  def q105Triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val e1 = d.filter($"doc_id" % 2 === 0)
      .select(($"doc_id" % 200).as("src"), (($"doc_id" * 7 + 3) % 200).as("dst"))
    val e2 = d.filter($"doc_id" % 3 > 0)
      .select(($"doc_id" % 200).as("src"), (($"doc_id" * 13 + 5) % 200).as("dst"))
    val e3 = d.filter($"doc_id" % 5 > 0)
      .select((($"doc_id" * 3) % 200).as("src"), (($"doc_id" * 17) % 200).as("dst"))
    graft.operators.Triangles.perNode(e1.union(e2).union(e3))
      .orderBy($"node")
  }

  val q105Sql: String =
    """WITH raw AS (
      |  SELECT doc_id % 200 AS s, (doc_id*7+3) % 200 AS d FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id % 200, (doc_id*13+5) % 200 FROM documents WHERE doc_id % 3 > 0
      |  UNION ALL
      |  SELECT (doc_id*3) % 200, (doc_id*17) % 200 FROM documents WHERE doc_id % 5 > 0),
      |ce AS (SELECT DISTINCT least(s,d) AS a, greatest(s,d) AS b FROM raw WHERE s <> d),
      |deg AS (SELECT node, COUNT(*) AS deg FROM (
      |          SELECT a AS node FROM ce UNION ALL SELECT b FROM ce)
      |        GROUP BY node),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |        FROM ce e1
      |        JOIN ce e2 ON e2.a = e1.b
      |        JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tc AS (SELECT node, COUNT(*) AS tri FROM (
      |         SELECT x AS node FROM tri
      |         UNION ALL SELECT y FROM tri
      |         UNION ALL SELECT z FROM tri)
      |       GROUP BY node)
      |SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
      |  CAST(COALESCE(t.tri, 0) AS BIGINT) AS tri,
      |  CASE WHEN d.deg >= 2
      |       THEN CAST(2 * COALESCE(t.tri, 0) AS DOUBLE) / (d.deg * (d.deg - 1))
      |       ELSE CAST(0 AS DOUBLE) END AS coeff
      |FROM deg d LEFT JOIN tc t USING (node)
      |ORDER BY d.node""".stripMargin

  // ---------------------------------------------------------------- q106
  /** Corpus datacard: the per-source + overall release report (doc /
    * token / char counts, exact-dup rate in integer permille, quality-
    * gate pass count on q14's SHARED score expression) in one scan —
    * `rollup(lang)` adds the ALL row map-side, `countDistinct(md5)`
    * shuffles one hash per doc. Everything integer except the shared
    * quality composite (already pinned bit-exact by q14/q99). */
  def q106Datacard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = docs(s, dir)
      .withColumn("n_words",
        expr("CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"))
      .withColumn("__nthe", theCountExpr)
      .withColumn("q", qualityScore($"n_words", $"__nthe", length($"text")))
      .withColumn("h", md5($"text"))
    scored.rollup($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("n_tokens"),
        sum(length($"text")).cast("long").as("n_chars"),
        countDistinct($"h").as("n_uniq"),
        sum(when($"q" >= lit(0.625), 1L).otherwise(0L)).as("n_quality"))
      .withColumn("lang", coalesce($"lang", lit("ALL")))
      .withColumn("dup_pm", expr("((n_docs - n_uniq) * 1000) div n_docs"))
      .orderBy($"lang")
  }

  val q106Sql: String =
    """WITH sc AS (SELECT lang, text,
      |    least(1.0, (length(text) - length(replace(text,' ','')) + 1)/100.0) * 0.5
      |    + CASE WHEN CAST((length(' '||text||' ') - length(replace(' '||text||' ',' the ',' '))) / 4 AS BIGINT) > 0 THEN 0.25 ELSE 0.0 END
      |    + least(1.0, length(text)/500.0) * 0.25 AS q,
      |    CAST(length(text) - length(replace(text,' ','')) + 1 AS BIGINT) AS nw,
      |    md5(text) AS h
      |  FROM documents)
      |SELECT COALESCE(lang, 'ALL') AS lang,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(nw) AS BIGINT) AS n_tokens,
      |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_uniq,
      |  CAST(SUM(CASE WHEN q >= 0.625 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
      |  CAST(((COUNT(*) - COUNT(DISTINCT h)) * 1000) // COUNT(*) AS BIGINT) AS dup_pm
      |FROM sc GROUP BY ROLLUP(lang) ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q107
  /** Per-source quota admission, batch form: the first 100 documents
    * (by doc_id) of each language — ingestion rate limiting as a
    * deterministic query. `row_number() <= k` over the lang partition
    * compiles to Spark 4's WindowGroupLimit (map-side top-k pruning
    * BEFORE the exchange, so the low-cardinality lang key never sees
    * more than k·numParts rows). The streaming twin is
    * [[graft.streaming.StreamOps.quotaStream]] (one admission counter
    * per key, carried across micro-batches); StreamingSpec pins
    * stream ≡ this on a single-batch replay, closing
    * stream ≡ batch ≡ oracle. */
  def q107SourceQuota(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"lang").orderBy($"doc_id")))
      .filter($"rn" <= 100)
      .select($"doc_id", $"lang", $"rn".cast("long").as("rn"))
      .orderBy($"doc_id")
  }

  val q107Sql: String =
    """SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn FROM (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 100 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q108
  /** Edit-distance-VERIFIED near duplicates — the two-stage shape every
    * production dedup deploys: cheap LSH candidate generation (q20's
    * minhash pipeline, tightened to est >= 0.5) followed by an EXACT
    * Levenshtein check on the candidate set only. Both engines'
    * `levenshtein` is the classic character-level DP, so the distance
    * is an exact integer; the dup verdict is the pure-integer
    * comparison 5·lev <= max(len) (normalized distance <= 0.2 with no
    * float threshold). At 100 TB: candidates are LSH-bounded (never
    * corpus-quadratic), texts arrive through two high-cardinality
    * doc_id joins, and the O(len²) DP runs once per candidate. */
  def q108EditVerified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = docs(s, dir)
      .select($"doc_id", $"text", length($"text").cast("long").as("len"))
    minhashPairs(s, dir, minEst = 0.5)
      .join(t.as("ta"), $"doc_a" === $"ta.doc_id")
      .join(t.as("tb"), $"doc_b" === $"tb.doc_id")
      .select($"doc_a", $"doc_b",
        levenshtein($"ta.text", $"tb.text").cast("long").as("lev"),
        $"ta.len".as("len_a"), $"tb.len".as("len_b"))
      .withColumn("is_dup",
        when($"lev" * 5 <= greatest($"len_a", $"len_b"), 1L).otherwise(0L))
      .orderBy($"doc_a", $"doc_b")
  }

  val q108Sql: String =
    s"""WITH cand AS (SELECT doc_a, doc_b FROM (${minhashSql("0.5")})),
       |t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len FROM documents)
       |SELECT doc_a, doc_b,
       |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS lev,
       |  ta.len AS len_a, tb.len AS len_b,
       |  CAST(CASE WHEN 5 * levenshtein(ta.text, tb.text) <= greatest(ta.len, tb.len)
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |FROM cand JOIN t ta ON doc_a = ta.doc_id JOIN t tb ON doc_b = tb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q109
  /** k-core extraction (k=5) via [[graft.operators.KCore]] — the dense
    * cohesive-subgraph extractor for link/co-edit graphs. The input is
    * q105's deterministic arithmetic edge family plus a genuinely dense
    * block (`(doc_id % 20, (doc_id div 20) % 20)` — the second
    * coordinate varies independently of the first, so the block is a
    * near-clique, not a cycle); at sf0.01 peeling cascades 7 rounds
    * before the 20-node core stabilizes. Spark peels to fixpoint with
    * per-round convergence counts; the oracle unrolls 12 generated
    * rounds (idempotent past the fixpoint, so the margin is free). */
  def q109KCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val e1 = d.filter($"doc_id" % 2 === 0)
      .select(($"doc_id" % 200).as("src"), (($"doc_id" * 7 + 3) % 200).as("dst"))
    val e2 = d.filter($"doc_id" % 3 > 0)
      .select(($"doc_id" % 200).as("src"), (($"doc_id" * 13 + 5) % 200).as("dst"))
    val e3 = d.filter($"doc_id" % 5 > 0)
      .select((($"doc_id" * 3) % 200).as("src"), (($"doc_id" * 17) % 200).as("dst"))
    val e4 = d.select(($"doc_id" % 20).as("src"),
      expr("(doc_id div 20) % 20").as("dst"))
    graft.operators.KCore.core(e1.union(e2).union(e3).union(e4), k = 5)
      .orderBy($"node")
  }

  val q109Sql: String = graft.operators.KCore.oracleSql(
    """SELECT doc_id % 200 AS s, (doc_id*7+3) % 200 AS d FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL SELECT doc_id % 200, (doc_id*13+5) % 200 FROM documents WHERE doc_id % 3 > 0
      |  UNION ALL SELECT (doc_id*3) % 200, (doc_id*17) % 200 FROM documents WHERE doc_id % 5 > 0
      |  UNION ALL SELECT doc_id % 20, (doc_id // 20) % 20 FROM documents""".stripMargin,
    k = 5, rounds = 12)

  // ---------------------------------------------------------------- q111
  /** Directed near-containment (quote / subset / boilerplate-reuse
    * detection): |A∩B|/|A| >= 0.8 over word-bigram shingle sets via
    * [[graft.operators.Containment]] — the asymmetric counterpart of
    * q19's Jaccard (a short quote inside a long page never clears a
    * Jaccard threshold; containment is what catches it). Physical plan
    * dispatches like q19: inverted-index shingle join for sparse
    * vocabularies, broadcast-bitmap popcount sweep for dense ones
    * (this synthetic corpus). Containment itself is one double
    * division of exact longs. */
  def q111Containment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Containment.pairsFromStats(bigramShingles(s, dir),
        shingleStats(s, dir), threshold = 0.8)
      .orderBy($"doc_in", $"doc_out")
  }

  val q111Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ts[i]||' '||ts[i+1] AS shingle
      |       FROM toks, UNNEST(range(1, len(ts))) AS t(i) WHERE len(ts) >= 2),
      |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) common
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |j AS (SELECT da, db, common, sa.n AS na, sb.n AS nb
      |      FROM pairs JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id),
      |d AS (SELECT da AS doc_in, db AS doc_out, common * 1.0 / na AS containment FROM j
      |      UNION ALL
      |      SELECT db, da, common * 1.0 / nb FROM j)
      |SELECT doc_in, doc_out, containment FROM d
      |WHERE containment >= 0.8 ORDER BY doc_in, doc_out""".stripMargin

  // ---------------------------------------------------------------- q112
  /** Gazetteer (dictionary) tagging: match a broadcast term→tag
    * dictionary of unigrams AND bigrams against every occurrence in
    * the corpus, reporting per-term hit and document counts — the
    * entity/keyword-tagging primitive (dictionaries are DATA, so this
    * is a broadcast join, never a hardcoded filter; cf. the
    * weight-table lesson from the classifier ops). Unigram occurrences
    * ride one explode of `split`; bigram occurrences ride the native
    * `token_spans(·,2)` (all adjacent pairs, one eval per row). Both
    * streams union BEFORE the join so the dictionary probe and the
    * map-side-combined aggregation happen once. */
  def q112Gazetteer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dict = gazetteerTerms.toDF("term", "tag")
    val d = docs(s, dir)
    val uni = d.select($"doc_id", explode(split($"text", " ")).as("term"))
    val bi = d.select($"doc_id", explode(expr("token_spans(text, 2)")).as("term"))
    uni.union(bi).join(broadcast(dict), "term")
      .groupBy($"tag", $"term")
      .agg(count(lit(1)).as("hits"), countDistinct($"doc_id").as("n_docs"))
      .orderBy($"tag", $"term")
  }

  private val gazetteerTerms: Seq[(String, String)] = Seq(
    "join" -> "op", "scan" -> "op", "filter" -> "op", "merge" -> "op",
    "sort" -> "op",
    "table" -> "storage", "column" -> "storage", "row" -> "storage",
    "vector" -> "storage",
    "spark" -> "engine", "stream" -> "engine", "window" -> "engine",
    "hash join" -> "algo", "sort merge" -> "algo", "row group" -> "algo",
    "hash agg" -> "algo")

  val q112Sql: String = {
    val values = gazetteerTerms
      .map { case (t, g) => s"('$t','$g')" }.mkString(", ")
    s"""WITH dict(term, tag) AS (SELECT * FROM (VALUES $values)),
       |d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |uni AS (SELECT doc_id, t.tok AS term FROM d, UNNEST(ts) AS t(tok)),
       |bi AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS term
       |       FROM d, UNNEST(range(1, len(ts))) AS t(i)),
       |occ AS (SELECT * FROM uni UNION ALL SELECT * FROM bi)
       |SELECT tag, term, CAST(COUNT(*) AS BIGINT) AS hits,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM occ JOIN dict USING (term)
       |GROUP BY tag, term ORDER BY tag, term""".stripMargin
  }

  // ---------------------------------------------------------------- q141
  /** Duplicate-trigram fraction per document — the n-gram-level
    * repetition gate from the Gopher/MassiveText rules (reported
    * there as "fraction of duplicate n-grams"): 1 − distinct/total
    * over the document's trigrams, as exact counts plus ONE double
    * division. Complements q43 (line-level) and q139 (token-level
    * concentration). Docs with ≥ 10 trigrams, 50 most repetitive. */
  def q141DupNgramFrac(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", explode(expr("token_spans(text, 3)")).as("tri"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tri"), countDistinct($"tri").as("n_distinct"))
      .filter($"n_tri" >= 10L)
      .withColumn("dup_frac",
        ($"n_tri" - $"n_distinct").cast("double") / $"n_tri".cast("double"))
      .orderBy($"dup_frac".desc, $"doc_id").limit(50)
  }

  val q141Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |tri AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS tri
      |        FROM d, UNNEST(range(1, len(ts) - 1)) AS t(i)),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
      |    CAST(COUNT(DISTINCT tri) AS BIGINT) AS n_distinct
      |  FROM tri GROUP BY doc_id)
      |SELECT doc_id, n_tri, n_distinct,
      |  CAST(n_tri - n_distinct AS DOUBLE) / CAST(n_tri AS DOUBLE) AS dup_frac
      |FROM agg WHERE n_tri >= 10
      |ORDER BY dup_frac DESC, doc_id LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Redirect-chain resolution — MediaWiki's `#REDIRECT [[Target]]`
    * semantics (the reference consumer collapses these before diffing;
    * chains of redirects resolve transitively, here to the bounded
    * 2 hops MediaWiki itself follows): planted deterministic redirect
    * pages (page % 7 == 0 redirects to (page+7) % 100 — the target is
    * itself a redirect unless the chain wraps, so both 1-hop and
    * 2-hop resolutions occur) are resolved by LEFT self-joins with
    * coalesce —
    * non-redirects resolve to themselves, a dangling hop keeps the
    * last resolvable target. Output: per page its final target and
    * hop count. */
  def q142RedirectResolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = docs(s, dir).select(($"doc_id" % 100).as("page")).distinct()
      .withColumn("redirect_to",
        when($"page" % 7 === 0, ($"page" + 7) % 100))
    val r1 = pages.as("a")
      .join(pages.select($"page".as("b_page"), $"redirect_to".as("b_to")).as("b"),
        $"a.redirect_to" === $"b_page", "left")
    r1.select($"a.page".as("page"),
        coalesce($"b_to", $"a.redirect_to", $"a.page").as("final_target"),
        (when($"b_to".isNotNull, 2L)
          .when($"a.redirect_to".isNotNull, 1L).otherwise(0L)).as("hops"))
      .orderBy($"page")
  }

  val q142Sql: String =
    """WITH pages AS (SELECT DISTINCT doc_id % 100 AS page FROM documents),
      |r AS (SELECT page,
      |    CASE WHEN page % 7 = 0 THEN (page + 7) % 100 END AS redirect_to
      |  FROM pages)
      |SELECT a.page,
      |  COALESCE(b.redirect_to, a.redirect_to, a.page) AS final_target,
      |  CAST(CASE WHEN b.redirect_to IS NOT NULL THEN 2
      |            WHEN a.redirect_to IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS hops
      |FROM r a LEFT JOIN r b ON a.redirect_to = b.page
      |ORDER BY a.page""".stripMargin

  // ---------------------------------------------------------------- q143
  /** End-to-end oracle for the diff kernel — the reference's core
    * product (`python/revision_differ.py:68-84`, semantics doc
    * `python/example.py:67-107`): deterministic revision pairs with
    * PROVABLY UNIQUE minimal diffs are planted per doc_id, pushed
    * through the native `wiki_diff_safe` expression (tokenize →
    * intern → Myers bisect → region canonicalize → position
    * accounting, the same path `entry()`/diffdb runs), and the
    * op rows are compared against expectations computed by PLAIN
    * STRING ARITHMETIC on the construction — never by calling the
    * kernel, so the oracle is independent, not circular.
    *
    * Why the expectations are forced: within each planted text every
    * edited token is globally unique (doc-scoped word tokens; space
    * runs of distinct lengths are distinct ` +` tokens), so the LCS is
    * exactly the untouched tokens and ANY minimal script removes/adds
    * precisely the planted region; the kernel's canonicalization then
    * merges each region to one remove op followed by one add op at
    * the region-start position (equal and add content advance the
    * position; removes do not — `revision_differ.py:78-84`). The
    * shared prefix exercises the wikitext token classes (header,
    * template, link, bold, entity, newlines) without touching the
    * edit region. Five edit shapes keyed off doc_id % 5: identity,
    * single-token replace, excision, insertion, block replace. */
  private[graft] def diffPlant(id: Int): (String, String, Seq[(Int, Int, String)]) = {
    val prefix = s"== H$id ==\n{{t$id}} [[L$id]] '''b$id''' &amp; x$id\n"
    val u = (0 until 6).map(i => s"w${id}q$i")
    def sep(i: Int) = " " * i
    // old = prefix u0 s1 u1 s2 u2 s3 u3 s4 u4 s5 u5
    val old = prefix + u(0) + (1 until 6).map(i => sep(i) + u(i)).mkString
    val p2 = prefix.length + u(0).length + 1 + u(1).length          // before s2
    val p3 = p2 + 2 + u(2).length                                    // before s3
    id % 5 match {
      case 0 => (old, old, Seq.empty)
      case 1 =>
        // replace u2 -> r: remove then add at len(prefix u0 s1 u1 s2)
        val r = s"r${id}x"
        val nw = old.patch(p2 + 2, r, u(2).length)
        (old, nw, Seq((p2 + 2, -1, u(2)), (p2 + 2, 1, r)))
      case 2 =>
        // excise s2+u2: one remove at len(prefix u0 s1 u1)
        val nw = old.patch(p2, "", 2 + u(2).length)
        (old, nw, Seq((p2, -1, sep(2) + u(2))))
      case 3 =>
        // insert a 20-space run + new word after u1: one add
        val ins = " " * 20 + s"r${id}x"
        val nw = old.patch(p2, ins, 0)
        (old, nw, Seq((p2, 1, ins)))
      case _ =>
        // block replace u2 s3 u3 -> ra + 21 spaces + rb
        val rep = s"ra${id}x" + " " * 21 + s"rb${id}x"
        val cut = u(2).length + 3 + u(3).length
        val nw = old.patch(p2 + 2, rep, cut)
        (old, nw, Seq((p2 + 2, -1, old.substring(p2 + 2, p2 + 2 + cut)),
                      (p2 + 2, 1, rep)))
    }
  }

  /** Two-edit plants for q152 — the axis q143 cannot test: POSITION
    * ACCOUNTING ACROSS REGIONS. Both u1 and u4 are replaced with
    * strings of DIFFERENT length, so the second region's position
    * reflects the first region's add-advance (equal and add content
    * advance the position; removes do not): p₂ = len(prefix u0 s1) +
    * len(r1) + len(s2 u2 s3 u3 s4). Same uniqueness argument as
    * [[diffPlant]]. */
  private[graft] def diffPlant2(id: Int): (String, String, Seq[(Int, Int, String)]) = {
    val prefix = s"== H$id ==\n{{t$id}} [[L$id]] '''b$id''' &amp; x$id\n"
    val u = (0 until 6).map(i => s"w${id}q$i")
    def sep(i: Int) = " " * i
    val old = prefix + u(0) + (1 until 6).map(i => sep(i) + u(i)).mkString
    val r1 = s"ra${id}zz"      // always 1 char longer than u1 — the
                               // second region's position MUST shift
    val r2 = s"rb${id}zzz"
    val p1 = prefix.length + u(0).length + 1
    val off4 = p1 + u(1).length + 2 + u(2).length + 3 + u(3).length + 4
    // patch right edit first so left indices stay valid
    val nw = old.patch(off4, r2, u(4).length).patch(p1, r1, u(1).length)
    val p2 = p1 + r1.length + 2 + u(2).length + 3 + u(3).length + 4
    (old, nw, Seq((p1, -1, u(1)), (p1, 1, r1),
                  (p2, -1, u(4)), (p2, 1, r2)))
  }

  def q152DiffMulti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lookup = s.createDataFrame(
        (0 until 40).map { id => val (o, n, _) = diffPlant2(id); (id.toLong, o, n) })
      .toDF("doc_id", "old_text", "new_text")
    docs(s, dir).select($"doc_id").filter($"doc_id" < 40)
      .join(broadcast(lookup), "doc_id")
      .select($"doc_id",
        posexplode(expr("wiki_diff_safe(old_text, new_text).diffs")))
      .select($"doc_id", $"pos".cast("long").as("op_idx"),
        $"col.position".cast("long").as("position"),
        $"col.action".cast("long").as("action"),
        $"col.content".as("content"))
      .orderBy($"doc_id", $"op_idx")
  }

  val q152Sql: String = {
    val rows = (0 until 40).flatMap { id =>
      val (_, _, ops) = diffPlant2(id)
      ops.zipWithIndex.map { case ((pos, act, content), i) =>
        s"($id, $i, $pos, $act, '${content.replace("'", "''")}')"
      }
    }
    s"""WITH exp(doc_id, op_idx, position, action, content) AS (VALUES
       |  ${rows.mkString(",\n  ")}),
       |d AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 40)
       |SELECT CAST(e.doc_id AS BIGINT) AS doc_id,
       |  CAST(e.op_idx AS BIGINT) AS op_idx,
       |  CAST(e.position AS BIGINT) AS position,
       |  CAST(e.action AS BIGINT) AS action, e.content
       |FROM exp e JOIN d USING (doc_id)
       |ORDER BY doc_id, op_idx""".stripMargin
  }

  def q143DiffOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lookup = s.createDataFrame(
        (0 until 40).map { id => val (o, n, _) = diffPlant(id); (id.toLong, o, n) })
      .toDF("doc_id", "old_text", "new_text")
    docs(s, dir).select($"doc_id").filter($"doc_id" < 40)
      .join(broadcast(lookup), "doc_id")
      .select($"doc_id",
        posexplode(expr("wiki_diff_safe(old_text, new_text).diffs")))
      .select($"doc_id", $"pos".cast("long").as("op_idx"),
        $"col.position".cast("long").as("position"),
        $"col.action".cast("long").as("action"),
        $"col.content".as("content"))
      .orderBy($"doc_id", $"op_idx")
  }

  /** Expected rows embedded as literal VALUES (the q52 planting
    * pattern); joined against the table's doc_ids so the row set
    * tracks whatever documents the SF actually has. */
  val q143Sql: String = {
    val rows = (0 until 40).flatMap { id =>
      val (_, _, ops) = diffPlant(id)
      ops.zipWithIndex.map { case ((pos, act, content), i) =>
        s"($id, $i, $pos, $act, '${content.replace("'", "''")}')"
      }
    }
    s"""WITH exp(doc_id, op_idx, position, action, content) AS (VALUES
       |  ${rows.mkString(",\n  ")}),
       |d AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 40)
       |SELECT CAST(e.doc_id AS BIGINT) AS doc_id,
       |  CAST(e.op_idx AS BIGINT) AS op_idx,
       |  CAST(e.position AS BIGINT) AS position,
       |  CAST(e.action AS BIGINT) AS action, e.content
       |FROM exp e JOIN d USING (doc_id)
       |ORDER BY doc_id, op_idx""".stripMargin
  }

  // ---------------------------------------------------------------- q144
  /** Arbitrary-executable mapper via [[graft.operators.PipeMapper]] —
    * the reference's Hadoop-Streaming contract (`README.rst:22-27`:
    * any executable over stdin/stdout) exercised end-to-end: each
    * partition's (doc_id, text) rows stream through an external
    * `tr a-z A-Z` process and come back as rows. The corpus is pure
    * ASCII single-line text, so the external uppercase is
    * byte-identical to SQL `UPPER()` — which is what makes an
    * external-process operator oracle-checkable at all. */
  def q144PipeUpper(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    val out = StructType(Seq(
      StructField("doc_id", LongType), StructField("utext", StringType)))
    graft.operators.PipeMapper
      .pipe(docs(s, dir).select($"doc_id", $"text"),
        Seq("tr", "a-z", "A-Z"), out)
      .orderBy($"doc_id")
  }

  val q144Sql: String =
    """SELECT doc_id, UPPER(text) AS utext FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q158
  /** Wikitext → plaintext ([[graft.operators.WikitextStrip]]): markup
    * is CONSTRUCTED deterministically around each document's fields
    * (template + one nested level, piped + plain links, bold runs,
    * heading rule, XML entities) so the strip rules are exercised on
    * every row, then stripped by the operator's codegen'd rule chain.
    * The oracle builds the identical wikitext and applies the
    * operator's own SQL twin (`WikitextStrip.plainSql` — the two rule
    * lists live side by side so they can only drift visibly). */
  def q158WikitextStrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id",
        concat(lit("== "), $"source", lit(" ==\n{{t|"), $"lang",
          lit("}} {{o|{{i}}}} [[T|shown]] [[Plain]] '''"),
          substring($"text", 1, 60),
          lit("''' &amp; &lt;x&gt; &quot;q&quot;")).as("wikitext"))
      .select($"doc_id",
        graft.operators.WikitextStrip.plain($"wikitext").as("plain"))
      .orderBy($"doc_id")
  }

  val q158Sql: String = {
    val wt = "'== ' || source || ' ==' || chr(10) || '{{t|' || lang || " +
      "'}} {{o|{{i}}}} [[T|shown]] [[Plain]] ' || repeat(chr(39),3) || " +
      "left(text, 60) || repeat(chr(39),3) || ' &amp; &lt;x&gt; &quot;q&quot;'"
    s"""WITH w AS (SELECT doc_id, $wt AS wikitext FROM documents)
       |SELECT doc_id, ${graft.operators.WikitextStrip.plainSql("wikitext")} AS plain
       |FROM w ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q159
  /** Cross-source overlap matrix: shared distinct bigrams between
    * every pair of sources, with per-source set sizes and Jaccard —
    * the "how much do my corpus sources copy each other" report a
    * mixing pipeline consults before setting source weights. Scale
    * shape: one distinct on (source, shingle) (shuffle keyed by the
    * pair), then a self-join keyed by shingle whose fan-out per
    * shingle is bounded by #sources (tiny), never by docs. */
  def q159SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // per-source set size rides each row as a window over the SAME
    // branch instead of a separate `sizes` aggregate: the naive
    // sizes-join form re-executed the scan→explode→distinct subtree
    // FOUR times (self-join + two size joins; column pruning defeats
    // ReuseExchange — the r5 lesson), this form twice, with the size
    // carried through the join for free (constant per group key).
    val sh = docs(s, dir)
      .select($"source", explode(expr("shingles(text, 2)")).as("shingle"))
      .distinct()
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
    sh.as("a").join(sh.as("b"),
        $"a.shingle" === $"b.shingle" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"),
        $"a.n".as("n_a"), $"b.n".as("n_b"))
      .agg(count(lit(1)).as("common"))
      .select($"source_a", $"source_b", $"common", $"n_a", $"n_b",
        ($"common" / ($"n_a" + $"n_b" - $"common")).as("jaccard"))
      .orderBy($"source_a", $"source_b")
  }

  val q159Sql: String =
    """WITH toks AS (SELECT source, string_split(text, ' ') AS ts FROM documents),
      |sh AS (SELECT DISTINCT source, ts[i]||' '||ts[i+1] AS shingle
      |       FROM toks, UNNEST(range(1, len(ts))) AS t(i) WHERE len(ts) >= 2),
      |sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS common
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      |          GROUP BY 1, 2)
      |SELECT source_a, source_b, common, sa.n AS n_a, sb.n AS n_b,
      |  common * 1.0 / (sa.n + sb.n - common) AS jaccard
      |FROM pairs JOIN sizes sa ON source_a = sa.source
      |           JOIN sizes sb ON source_b = sb.source
      |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------- q154
  /** The EXACT batch twin of
    * [[graft.streaming.StreamOps.minhashCandidatesStream]] — the
    * operator code itself run on the batch frame (Spark executes
    * `flatMapGroupsWithState` on a batch Dataset as one micro-batch
    * with empty state), emitting the stream's own output shape: one
    * row per COLLIDING BAND per candidate pair, with the
    * full-signature estimate (m-of-8 matching slices, one double
    * division — portable). q20 oracles the pair-level dedup of this;
    * this row oracles the band-level emission the stream actually
    * produces, closing the chain StreamingSpec pins (stream ≡ this ≡
    * SQL). The unbounded `maxBucketDocs` is the oracle configuration
    * only — at scale the operator caps buckets, and the scale path for
    * batch dedup is [[graft.operators.MinHashLsh]]'s band join. */
  def q154LshBandCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.streaming.StreamOps.minhashCandidatesStream(
        docs(s, dir).select($"doc_id", $"text"), "doc_id", "text",
        minEst = 0.25, maxBucketDocs = Int.MaxValue)
      .toDF()
      .select($"band".cast("long").as("band"), $"doc_a", $"doc_b",
        $"est_jaccard")
      .orderBy($"band", $"doc_a", $"doc_b")
  }

  /** Band-level LSH oracle: q20's signature CTEs, but candidates keep
    * the band index and each colliding band emits its own row. */
  val q154Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ts[i]||' '||ts[i+1] AS shingle
      |       FROM toks, UNNEST(range(1, len(ts))) AS t(i) WHERE len(ts) >= 2),
      |hs AS (SELECT doc_id, md5(shingle) m1, md5('x'||shingle) m2 FROM sh),
      |sigw AS (SELECT doc_id,
      |           MIN(substr(m1,1,8)) h0, MIN(substr(m1,9,8)) h1,
      |           MIN(substr(m1,17,8)) h2, MIN(substr(m1,25,8)) h3,
      |           MIN(substr(m2,1,8)) h4, MIN(substr(m2,9,8)) h5,
      |           MIN(substr(m2,17,8)) h6, MIN(substr(m2,25,8)) h7
      |         FROM hs GROUP BY doc_id),
      |sig AS (SELECT doc_id, i,
      |          CASE i WHEN 0 THEN h0 WHEN 1 THEN h1 WHEN 2 THEN h2 WHEN 3 THEN h3
      |                 WHEN 4 THEN h4 WHEN 5 THEN h5 WHEN 6 THEN h6 ELSE h7 END AS mh
      |        FROM sigw, UNNEST(range(0, 8)) AS r(i)),
      |cand AS (SELECT a.i AS band, a.doc_id doc_a, b.doc_id doc_b
      |         FROM sig a JOIN sig b ON a.i = b.i AND a.mh = b.mh AND a.doc_id < b.doc_id),
      |est AS (SELECT band, doc_a, doc_b,
      |          ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
      |         + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
      |         + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
      |         + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)) / 8.0 AS est_jaccard
      |        FROM cand JOIN sigw sa ON doc_a = sa.doc_id
      |                  JOIN sigw sb ON doc_b = sb.doc_id)
      |SELECT CAST(band AS BIGINT) AS band, doc_a, doc_b, est_jaccard FROM est
      |WHERE est_jaccard >= 0.25
      |ORDER BY band, doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q149
  /** Community detection via synchronous label propagation
    * ([[graft.operators.LabelProp]], min-tie-break LPA) — the 6th
    * graph algorithm, on a planted two-block graph: dense intra-block
    * edge families on nodes 0-49 and 50-99 plus one bridge edge
    * (0,50), all derived from doc_id arithmetic so the construction
    * is identical SQL. After 4 synchronous rounds label mass has
    * consolidated within each block while the single bridge lets at
    * most its own neighborhood's label seep across — the blocks'
    * label sets stay (near-)disjoint. The oracle
    * unrolls the 4 rounds as generated CTEs; every round's label
    * table is referenced twice (count join + keep-old coalesce), so
    * each is `AS MATERIALIZED` (the r7 k-core lesson — DuckDB inlines
    * multiply-referenced CTEs into 2^r scans otherwise). */
  def q149Lpa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val eA = d.filter($"doc_id" % 2 === 0)
      .select(($"doc_id" % 50).as("a"), (($"doc_id" * 3 + 7) % 50).as("b"))
    val eB = d.filter($"doc_id" % 3 > 0)
      .select(($"doc_id" % 50 + 50).as("a"), (($"doc_id" * 5 + 3) % 50 + 50).as("b"))
    val eBr = d.filter($"doc_id" % 97 === 0)
      .select(lit(0L).as("a"), lit(50L).as("b"))
    val nodes = d.select(($"doc_id" % 100).as("node")).distinct()
    graft.operators.LabelProp
      .communities(nodes, eA.union(eB).union(eBr), rounds = 4)
      .select($"node", $"community")
      .orderBy($"node")
  }

  val q149Sql: String = {
    val rounds = (1 to 4).map { r =>
      val p = r - 1
      s"""c$r AS (SELECT n.src AS node, l.lbl, COUNT(*) AS c
         |  FROM nbrs n JOIN l$p l ON n.dst = l.node GROUP BY 1, 2),
         |p$r AS (SELECT node, lbl FROM (
         |    SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |    FROM c$r) WHERE rn = 1),
         |l$r AS MATERIALIZED (SELECT l.node, COALESCE(p.lbl, l.lbl) AS lbl
         |  FROM l$p l LEFT JOIN p$r p USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH eA AS (SELECT doc_id % 50 AS a, (doc_id*3+7) % 50 AS b
       |    FROM documents WHERE doc_id % 2 = 0),
       |eB AS (SELECT doc_id % 50 + 50 AS a, (doc_id*5+3) % 50 + 50 AS b
       |    FROM documents WHERE doc_id % 3 > 0),
       |eBr AS (SELECT 0 AS a, 50 AS b FROM documents WHERE doc_id % 97 = 0),
       |eRaw AS (SELECT a, b FROM eA UNION ALL SELECT a, b FROM eB
       |         UNION ALL SELECT a, b FROM eBr),
       |eC AS (SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b
       |       FROM eRaw WHERE a <> b),
       |nbrs AS (SELECT a AS src, b AS dst FROM eC
       |         UNION ALL SELECT b, a FROM eC),
       |l0 AS MATERIALIZED (
       |  SELECT node, node AS lbl FROM (
       |    SELECT DISTINCT doc_id % 100 AS node FROM documents
       |    UNION SELECT DISTINCT src AS node FROM nbrs)),
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node, CAST(lbl AS BIGINT) AS community
       |FROM l4 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q151
  /** Corpus snapshot diff (dataset-versioning / CDC): classify every
    * document across two corpus versions as unchanged / modified /
    * removed / added — the audit every dataset release pipeline runs
    * between crawls. Version 2 is derived deterministically from the
    * corpus (doc_id % 11 = 0 dropped — including ids that would also
    * have been modified; % 7 = 0 edited; % 13 = 0 spawns a new
    * 1 000 000-offset doc), then a FULL OUTER join on doc_id compares
    * md5 digests — 16-byte hashes shuffle, never bodies, exactly how
    * a 100 TB snapshot diff must run. */
  def q151SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v1 = docs(s, dir).select($"doc_id", md5($"text").as("h1"))
    val base = docs(s, dir).select($"doc_id", $"text")
    val v2kept = base.filter($"doc_id" % 11 =!= 0)
      .select($"doc_id", md5(when($"doc_id" % 7 === 0,
        concat($"text", lit(" [edited]"))).otherwise($"text")).as("h2"))
    val v2added = base.filter($"doc_id" % 13 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        md5(concat($"text", lit(" [new]"))).as("h2"))
    val v2 = v2kept.union(v2added)
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        when($"h1".isNull, "added")
          .when($"h2".isNull, "removed")
          .when($"h1" === $"h2", "unchanged")
          .otherwise("modified").as("status"))
      .orderBy($"doc_id")
  }

  val q151Sql: String =
    """WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents),
      |v2 AS (SELECT doc_id,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END) AS h2
      |  FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, md5(text || ' [new]') AS h2
      |  FROM documents WHERE doc_id % 13 = 0)
      |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
      |  CASE WHEN v1.doc_id IS NULL THEN 'added'
      |       WHEN v2.doc_id IS NULL THEN 'removed'
      |       WHEN v1.h1 = v2.h2 THEN 'unchanged'
      |       ELSE 'modified' END AS status
      |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q146
  /** Diff churn statistics — the aggregate consumers run over diffdb
    * (chars added/removed per revision, `fileformat.rst:20-27`'s op
    * rows rolled up): q143's planted pairs pushed through
    * `wiki_diff_safe`, aggregated per document, including the
    * identity docs as explicit zero rows (LEFT join — absent edits
    * are 0 churn, not absent rows). Expected values are the same
    * construction arithmetic as q143's, summed per doc. */
  def q146DiffChurn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lookup = s.createDataFrame(
        (0 until 40).map { id => val (o, n, _) = diffPlant(id); (id.toLong, o, n) })
      .toDF("doc_id", "old_text", "new_text")
    val ids = docs(s, dir).select($"doc_id").filter($"doc_id" < 40)
    val ops = ids.join(broadcast(lookup), "doc_id")
      .select($"doc_id", explode(expr("wiki_diff_safe(old_text, new_text).diffs")).as("op"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_ops"),
        sum(when($"op.action" === 1, length($"op.content").cast("long"))
          .otherwise(0L)).as("chars_added"),
        sum(when($"op.action" === -1, length($"op.content").cast("long"))
          .otherwise(0L)).as("chars_removed"))
    ids.join(ops, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_ops", lit(0L)).as("n_ops"),
        coalesce($"chars_added", lit(0L)).as("chars_added"),
        coalesce($"chars_removed", lit(0L)).as("chars_removed"))
      .orderBy($"doc_id")
  }

  val q146Sql: String = {
    val rows = (0 until 40).map { id =>
      val (_, _, ops) = diffPlant(id)
      val added = ops.filter(_._2 == 1).map(_._3.length).sum
      val removed = ops.filter(_._2 == -1).map(_._3.length).sum
      s"($id, ${ops.length}, $added, $removed)"
    }
    s"""WITH exp(doc_id, n_ops, chars_added, chars_removed) AS (VALUES
       |  ${rows.mkString(",\n  ")}),
       |d AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 40)
       |SELECT CAST(e.doc_id AS BIGINT) AS doc_id,
       |  CAST(e.n_ops AS BIGINT) AS n_ops,
       |  CAST(e.chars_added AS BIGINT) AS chars_added,
       |  CAST(e.chars_removed AS BIGINT) AS chars_removed
       |FROM exp e JOIN d USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q145
  /** Revert detection over a revision history — THE analysis the
    * reference's diffdb exists to serve (identity reverts: a revision
    * whose full text equals some EARLIER revision of the same page,
    * `fileformat.rst:4-27` motivates exactly this workload). A
    * deterministic 5-revision history is planted per document with
    * variant pattern v0 v1 v2 v1 v0, so rev 3 reverts to rev 1 and
    * rev 4 to rev 0. Detection joins on (page, md5(text)) — never on
    * the full text, so at 100 TB the shuffle carries 16-byte digests
    * instead of document bodies — and takes min(earlier rev) as the
    * revert target. DuckDB's md5 matches Spark's (both RFC 1321 hex),
    * but the JOIN result only needs digest EQUALITY, which holds iff
    * text equality does, so the oracle is robust even in principle. */
  def q145Reverts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // posexplode gives (rev = position, variant = value); the variant
    // text is built in a SEPARATE projection below the Generate (the
    // ExtractGenerator alias-hoist lesson)
    val revs0 = docs(s, dir).select($"doc_id", $"text",
      posexplode(expr("array(0, 1, 2, 1, 0)")))
    val revs = revs0.select($"doc_id", $"pos".cast("long").as("rev"),
      md5(concat($"text", lit(" v"), $"col".cast("string"))).as("h"))
    val earlier = revs.select($"doc_id", $"rev".as("prev_rev"), $"h")
    val hits = revs.as("a")
      .join(earlier.as("e"),
        $"a.doc_id" === $"e.doc_id" && $"a.h" === $"e.h" &&
          $"e.prev_rev" < $"a.rev")
      .groupBy($"a.doc_id".as("doc_id"), $"a.rev".as("rev"))
      .agg(min($"e.prev_rev").as("rt"))
    revs.select($"doc_id", $"rev")
      .join(hits, Seq("doc_id", "rev"), "left")
      .select($"doc_id", $"rev",
        coalesce($"rt", lit(-1L)).as("reverted_to"),
        when($"rt".isNotNull, 1L).otherwise(0L).as("is_revert"))
      .orderBy($"doc_id", $"rev")
  }

  val q145Sql: String =
    """WITH revs AS (
      |  SELECT doc_id, CAST(m.k AS BIGINT) AS rev,
      |         md5(text || ' v' || CAST(m.v AS VARCHAR)) AS h
      |  FROM documents, (VALUES (0,0),(1,1),(2,2),(3,1),(4,0)) AS m(k, v)),
      |hits AS (
      |  SELECT a.doc_id, a.rev, CAST(MIN(e.rev) AS BIGINT) AS rt
      |  FROM revs a JOIN revs e
      |    ON a.doc_id = e.doc_id AND a.h = e.h AND e.rev < a.rev
      |  GROUP BY a.doc_id, a.rev)
      |SELECT r.doc_id, r.rev,
      |  CAST(COALESCE(h2.rt, -1) AS BIGINT) AS reverted_to,
      |  CAST(CASE WHEN h2.rt IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_revert
      |FROM revs r LEFT JOIN hits h2 ON r.doc_id = h2.doc_id AND r.rev = h2.rev
      |ORDER BY r.doc_id, r.rev""".stripMargin

  // ---------------------------------------------------------------- q147
  /** Mutual-revert (edit-war) pairs — the canonical wiki conflict
    * metric built ON TOP of q145's identity reverts: when revision i
    * reverts to revision j, the authors of the undone revisions
    * j+1..i−1 were "reverted by" i's author; aggregating those
    * directed pairs and taking the symmetric minimum gives mutual
    * reverts (the edit-war signal of Sumi et al.). q145's planted
    * history (v0 v1 v2 v1 v0, authors alternating u0/u1) makes every
    * count fully derivable: rev 3 (u1) undoes rev 2 (u0); rev 4 (u0)
    * undoes revs 1-3 (u1, u0, u1) — self-reverts are excluded. The
    * whole derivation is relational (no VALUES), so the oracle runs
    * the identical CTEs; the revision→undone-range expansion is a
    * range join on rev indices, bounded by history length. */
  def q147EditWars(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val revs0 = docs(s, dir).select($"doc_id", $"text",
      posexplode(expr("array(0, 1, 2, 1, 0)")))
    val revs = revs0.select($"doc_id", $"pos".cast("long").as("rev"),
      concat(lit("u"), ($"pos" % 2).cast("string")).as("author"),
      md5(concat($"text", lit(" v"), $"col".cast("string"))).as("h"))
    val earlier = revs.select($"doc_id", $"rev".as("prev_rev"), $"h")
    val reverts = revs.as("a")
      .join(earlier.as("e"),
        $"a.doc_id" === $"e.doc_id" && $"a.h" === $"e.h" &&
          $"e.prev_rev" < $"a.rev")
      .groupBy($"a.doc_id".as("doc_id"), $"a.rev".as("rev"),
        $"a.author".as("reverter"))
      .agg(min($"e.prev_rev").as("rt"))
    val undone = reverts.as("r")
      .join(revs.select($"doc_id", $"rev".as("mid_rev"), $"author".as("reverted")).as("m"),
        $"r.doc_id" === $"m.doc_id" &&
          $"m.mid_rev" > $"r.rt" && $"m.mid_rev" < $"r.rev")
      .filter($"reverter" =!= $"reverted")
      .groupBy($"reverter", $"reverted")
      .agg(count(lit(1)).as("n_reverts"))
    val sym = undone.select($"reverted".as("reverter"), $"reverter".as("reverted"),
      $"n_reverts".as("n_back"))
    undone.join(sym, Seq("reverter", "reverted"), "left")
      .select($"reverter", $"reverted", $"n_reverts",
        least($"n_reverts", coalesce($"n_back", lit(0L))).as("mutual"))
      .orderBy($"reverter", $"reverted")
  }

  val q147Sql: String =
    """WITH revs AS (
      |  SELECT doc_id, CAST(m.k AS BIGINT) AS rev,
      |         'u' || CAST(m.k % 2 AS VARCHAR) AS author,
      |         md5(text || ' v' || CAST(m.v AS VARCHAR)) AS h
      |  FROM documents, (VALUES (0,0),(1,1),(2,2),(3,1),(4,0)) AS m(k, v)),
      |reverts AS (
      |  SELECT a.doc_id, a.rev, a.author AS reverter, CAST(MIN(e.rev) AS BIGINT) AS rt
      |  FROM revs a JOIN revs e
      |    ON a.doc_id = e.doc_id AND a.h = e.h AND e.rev < a.rev
      |  GROUP BY a.doc_id, a.rev, a.author),
      |undone AS (
      |  SELECT r.reverter, m.author AS reverted, CAST(COUNT(*) AS BIGINT) AS n_reverts
      |  FROM reverts r JOIN revs m
      |    ON r.doc_id = m.doc_id AND m.rev > r.rt AND m.rev < r.rev
      |  WHERE r.reverter <> m.author
      |  GROUP BY r.reverter, m.author)
      |SELECT u.reverter, u.reverted, u.n_reverts,
      |  CAST(LEAST(u.n_reverts, COALESCE(b.n_reverts, 0)) AS BIGINT) AS mutual
      |FROM undone u LEFT JOIN undone b
      |  ON u.reverter = b.reverted AND u.reverted = b.reverter
      |ORDER BY u.reverter, u.reverted""".stripMargin

  // ---------------------------------------------------------------- q139
  /** Per-document token concentration (Herfindahl index): HHI =
    * Σ cᵢ² / N² over the document's token counts — the entropy-free
    * repetition statistic (1/HHI is the "effective vocabulary size");
    * templated or looping text concentrates mass and pushes HHI up.
    * Both sums are exact integers, ONE double division per doc, no
    * logs (the q44 rational-surrogate rule). Top 50 most concentrated
    * docs of at least 20 tokens. */
  def q139TokenHhi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c" * $"c").as("sum_c2"), sum($"c").as("n_tok"))
      .filter($"n_tok" >= 20L)
      .withColumn("hhi",
        $"sum_c2".cast("double") / ($"n_tok" * $"n_tok").cast("double"))
      .select($"doc_id", $"n_tok", $"sum_c2", $"hhi")
      .orderBy($"hhi".desc, $"doc_id").limit(50)
  }

  val q139Sql: String =
    """WITH tc AS (SELECT doc_id, t.tok, COUNT(*) AS c
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
      |  GROUP BY doc_id, t.tok),
      |agg AS (SELECT doc_id, CAST(SUM(c*c) AS BIGINT) AS sum_c2,
      |    CAST(SUM(c) AS BIGINT) AS n_tok
      |  FROM tc GROUP BY doc_id)
      |SELECT doc_id, n_tok, sum_c2,
      |  CAST(sum_c2 AS DOUBLE) / CAST(n_tok * n_tok AS DOUBLE) AS hhi
      |FROM agg WHERE n_tok >= 20
      |ORDER BY hhi DESC, doc_id LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q140
  /** Source-size inequality (Gini coefficient): how skewed is the
    * corpus across sources? G = (2·Σ rᵢ·xᵢ)/(n·Σ xᵢ) − (n+1)/n over
    * sizes xᵢ sorted ascending with rank rᵢ — the mixture-balance
    * number a datacard quotes next to per-source counts. The series
    * is one row per source; every sum is an exact integer and the
    * result is two double divisions of exact integers combined by one
    * subtraction. */
  def q140SourceGini(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sizes = docs(s, dir).groupBy($"lang").agg(count(lit(1)).as("x"))
    val ranked = sizes.withColumn("r",
      row_number().over(Window.orderBy($"x", $"lang")).cast("long"))
    ranked.agg(
        count(lit(1)).as("n"),
        sum($"x").as("total"),
        sum($"r" * $"x").as("rx"))
      .select($"n", $"total",
        ((lit(2.0) * $"rx".cast("double")) / ($"n" * $"total").cast("double")
          - ($"n" + 1L).cast("double") / $"n".cast("double")).as("gini"))
  }

  val q140Sql: String =
    """WITH sizes AS (SELECT lang, COUNT(*) AS x FROM documents GROUP BY lang),
      |ranked AS (SELECT x,
      |    CAST(ROW_NUMBER() OVER (ORDER BY x, lang) AS BIGINT) AS r
      |  FROM sizes),
      |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS total,
      |    CAST(SUM(r * x) AS BIGINT) AS rx
      |  FROM ranked)
      |SELECT n, total,
      |  (2.0 * CAST(rx AS DOUBLE)) / CAST(n * total AS DOUBLE)
      |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
      |FROM s""".stripMargin

  // ---------------------------------------------------------------- q134
  /** Diversity-capped top-k curation: the global top-100 by q14's
    * SHARED quality score, but with at most 20 documents per source
    * (lang) — the "diverse shortlist" rule that stops one dominant
    * source from filling a curated slice. Two row_number windows
    * (per-source, then global over the ≤20·|sources| survivors);
    * Spark 4 inserts WindowGroupLimit partial top-k before each
    * exchange, so neither window ever sees unpruned corpus rows. */
  def q134DiverseTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = docs(s, dir)
      .withColumn("n_words", expr(
        "length(text) - length(replace(text, ' ', '')) + 1"))
      .withColumn("__nthe", theCountExpr)
      .withColumn("quality_score",
        qualityScore($"n_words", $"__nthe", length($"text")))
    val wLang = Window.partitionBy($"lang").orderBy($"quality_score".desc, $"doc_id")
    val wAll = Window.orderBy($"quality_score".desc, $"doc_id")
    scored
      .withColumn("lang_rn", row_number().over(wLang).cast("long"))
      .filter($"lang_rn" <= 20L)
      .withColumn("global_rn", row_number().over(wAll).cast("long"))
      .filter($"global_rn" <= 100L)
      .select($"doc_id", $"lang", $"quality_score", $"lang_rn", $"global_rn")
      .orderBy($"global_rn")
  }

  /** The quality composite as oracle SQL (q14's expression verbatim). */
  private val qualitySqlExpr: String =
    """least(1.0, (length(text) - length(replace(text,' ','')) + 1)/100.0) * 0.5
      |    + CASE WHEN CAST((length(' '||text||' ') - length(replace(' '||text||' ',' the ',' '))) / 4 AS BIGINT) > 0 THEN 0.25 ELSE 0.0 END
      |    + least(1.0, length(text)/500.0) * 0.25""".stripMargin

  val q134Sql: String =
    s"""WITH sc AS (SELECT doc_id, lang, $qualitySqlExpr AS quality_score FROM documents),
       |pl AS (SELECT doc_id, lang, quality_score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |         ORDER BY quality_score DESC, doc_id) AS BIGINT) AS lang_rn
       |  FROM sc),
       |f AS (SELECT doc_id, lang, quality_score, lang_rn,
       |    CAST(ROW_NUMBER() OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT) AS global_rn
       |  FROM pl WHERE lang_rn <= 20)
       |SELECT doc_id, lang, quality_score, lang_rn, global_rn
       |FROM f WHERE global_rn <= 100 ORDER BY global_rn""".stripMargin

  // ---------------------------------------------------------------- q135
  /** Cross-source score-drift report: each source's exact quality-
    * score quartiles against the POOLED quartiles — the calibration
    * check run before mixing scored corpora (a source whose p50 sits
    * far from the pool needs renormalizing, cf. per-source quantile
    * normalization in mixture pipelines). Scores quantize to
    * floor(q·2²⁰) BIGINT (q98's exact-histogram discipline — the
    * shuffle is distinct score values, never corpus rows); drift is an
    * integer difference. */
  def q135SourceDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = docs(s, dir)
      .withColumn("n_words", expr(
        "length(text) - length(replace(text, ' ', '')) + 1"))
      .withColumn("__nthe", theCountExpr)
      .withColumn("q", floor(
        qualityScore($"n_words", $"__nthe", length($"text")) * 1048576.0).cast("long"))
      .select($"lang", $"q")
      .persist()
    try {
      val bySrc = graft.operators.ExactQuantiles
        .byGroup(scored, Seq("lang"), "q", Seq(25, 50, 75))
        .select($"lang", $"n", $"p25", $"p50", $"p75")
      val pooled = graft.operators.ExactQuantiles
        .byGroup(scored.select(lit("all").as("g"), $"q"), Seq("g"), "q", Seq(25, 50, 75))
        .select($"p25".as("all_p25"), $"p50".as("all_p50"), $"p75".as("all_p75"))
      bySrc.crossJoin(broadcast(pooled))
        .withColumn("drift_p50", $"p50" - $"all_p50")
        .orderBy($"lang")
        .localCheckpoint(true)
    } finally scored.unpersist(false)
  }

  val q135Sql: String =
    s"""WITH sc AS (SELECT lang,
       |    CAST(floor(($qualitySqlExpr) * 1048576.0) AS BIGINT) AS q
       |  FROM documents),
       |h AS (SELECT lang, q, COUNT(*) AS c FROM sc GROUP BY 1, 2),
       |w AS (SELECT lang, q,
       |    SUM(c) OVER (PARTITION BY lang ORDER BY q) AS cum,
       |    SUM(c) OVER (PARTITION BY lang) AS total
       |  FROM h),
       |src AS (SELECT lang, CAST(MAX(total) AS BIGINT) AS n,
       |    MIN(CASE WHEN cum >= (total*25+99)//100 THEN q END) AS p25,
       |    MIN(CASE WHEN cum >= (total*50+99)//100 THEN q END) AS p50,
       |    MIN(CASE WHEN cum >= (total*75+99)//100 THEN q END) AS p75
       |  FROM w GROUP BY lang),
       |hp AS (SELECT q, COUNT(*) AS c FROM sc GROUP BY 1),
       |wp AS (SELECT q, SUM(c) OVER (ORDER BY q) AS cum, SUM(c) OVER () AS total FROM hp),
       |pool AS (SELECT
       |    MIN(CASE WHEN cum >= (total*25+99)//100 THEN q END) AS all_p25,
       |    MIN(CASE WHEN cum >= (total*50+99)//100 THEN q END) AS all_p50,
       |    MIN(CASE WHEN cum >= (total*75+99)//100 THEN q END) AS all_p75
       |  FROM wp)
       |SELECT lang, n, p25, p50, p75, all_p25, all_p50, all_p75,
       |  p50 - all_p50 AS drift_p50
       |FROM src, pool ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q132
  /** Wikitext TEMPLATE census — q68's sibling over `{{Template|...}}`
    * markup (the transclusion syntax the reference's revision text
    * carries; cf. `python/revision_differ.py:131-160` tokenizing
    * wikitext): per template name, total transclusions and distinct
    * transcluding pages. The synthetic corpus has no markup, so a
    * deterministic set is planted keyed off doc_id (q68's pattern) and
    * the extractor must recover exactly it — regex-group parity
    * between Java and RE2 is the check. Map-only extract → explode →
    * map-side-combined groupBy. */
  def q132TemplateCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tpl = "\\{\\{([^{}|]+)(\\|[^{}]*)?\\}\\}"
    val aug = docs(s, dir).withColumn("wtext", concat($"text",
      repeat(concat(lit(" {{Box "), ($"doc_id" * 5 % 12).cast("string"),
        lit("|x=1}}")), ($"doc_id" % 3).cast("int")),
      repeat(concat(lit(" {{Cite "), ($"doc_id" * 9 % 8).cast("string"),
        lit("}}")), ($"doc_id" % 5 === 0).cast("int"))))
    aug.select($"doc_id",
        explode(regexp_extract_all($"wtext", lit(tpl), lit(1))).as("template"))
      .groupBy($"template")
      .agg(count(lit(1)).as("n_uses"), countDistinct($"doc_id").as("n_pages"))
      .orderBy($"n_uses".desc, $"template")
  }

  val q132Sql: String =
    """WITH aug AS (SELECT doc_id, text
      |    || repeat(' {{Box ' || CAST(doc_id*5 % 12 AS VARCHAR) || '|x=1}}', CAST(doc_id % 3 AS INT))
      |    || repeat(' {{Cite ' || CAST(doc_id*9 % 8 AS VARCHAR) || '}}', CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INT))
      |  AS wtext FROM documents),
      |t AS (SELECT doc_id, unnest(regexp_extract_all(wtext, '\{\{([^{}|]+)(\|[^{}]*)?\}\}', 1)) AS template
      |      FROM aug)
      |SELECT template, CAST(COUNT(*) AS BIGINT) AS n_uses,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_pages
      |FROM t GROUP BY template ORDER BY n_uses DESC, template""".stripMargin

  // ---------------------------------------------------------------- q133
  /** Category-membership extraction — the `[[Category:X]]` special
    * links that build the reference wiki's taxonomy: per category, its
    * member count, plus each page's category count distribution rolled
    * into the same report via a grouping-free second aggregate
    * (category sizes ARE the membership census). Planted
    * deterministically (q68/q132's pattern); extractor = the link
    * regex anchored on the Category: prefix. */
  def q133Categories(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cat = "\\[\\[Category:([^\\]|]+)\\]\\]"
    val aug = docs(s, dir).withColumn("wtext", concat($"text",
      repeat(concat(lit(" [[Category:Topic "), ($"doc_id" % 10).cast("string"),
        lit("]]")), lit(1)),
      repeat(concat(lit(" [[Category:Year "), (($"doc_id" * 3) % 7).cast("string"),
        lit("]]")), ($"doc_id" % 2).cast("int"))))
    aug.select($"doc_id",
        explode(regexp_extract_all($"wtext", lit(cat), lit(1))).as("category"))
      .groupBy($"category")
      .agg(count(lit(1)).as("n_members"))
      .orderBy($"n_members".desc, $"category")
  }

  val q133Sql: String =
    """WITH aug AS (SELECT doc_id, text
      |    || ' [[Category:Topic ' || CAST(doc_id % 10 AS VARCHAR) || ']]'
      |    || repeat(' [[Category:Year ' || CAST(doc_id*3 % 7 AS VARCHAR) || ']]', CAST(doc_id % 2 AS INT))
      |  AS wtext FROM documents),
      |c AS (SELECT doc_id, unnest(regexp_extract_all(wtext, '\[\[Category:([^\]|]+)\]\]', 1)) AS category
      |      FROM aug)
      |SELECT category, CAST(COUNT(*) AS BIGINT) AS n_members
      |FROM c GROUP BY category ORDER BY n_members DESC, category""".stripMargin

  // ---------------------------------------------------------------- q123
  /** Weighted priority sampling (the Efraimidis–Spirakis shape, the
    * standard one-pass distributed weighted sample): each document
    * draws a deterministic uniform hash h and takes priority h/w with
    * w = its token count — the k smallest priorities form a sample
    * where inclusion probability grows with w. h is the first 12 hex
    * digits of md5 (exact 48-bit integer in both engines); the
    * priority is ONE double division of exact integers (bit-portable),
    * ties broken by doc_id. Map-only until the global top-k, which
    * plans as TakeOrdered (per-partition partial top-k). */
  def q123WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("w", expr(
        "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"))
      .withColumn("h", expr(
        "conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10)").cast("long"))
      .withColumn("priority", $"h" / $"w")
      .select($"doc_id", $"w", $"h", $"priority")
      .orderBy($"priority", $"doc_id")
      .limit(100)
  }

  val q123Sql: String =
    """WITH t AS (SELECT doc_id,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS w,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS h
      |  FROM documents)
      |SELECT doc_id, w, h, h * 1.0 / w AS priority
      |FROM t ORDER BY priority, doc_id LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q124
  /** KWIC concordance (keyword in context): every occurrence of the
    * target token with its ±2-token window — the corpus-linguistics
    * inspection tool (and the span-level audit a PII/gazetteer pass
    * wants for review). 5-token spans from native token_spans(·,5)
    * with the target centered; flanks re-split from the span string.
    * Map-only explode; output bounded by occurrence count. */
  def q124Kwic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", explode(expr("token_spans(text, 5)")).as("span"))
      .select($"doc_id", split($"span", " ").as("ts"))
      .filter(expr("ts[2] = 'spark'"))
      .select($"doc_id",
        expr("concat_ws(' ', ts[0], ts[1])").as("left_ctx"),
        expr("ts[2]").as("term"),
        expr("concat_ws(' ', ts[3], ts[4])").as("right_ctx"))
      .orderBy($"doc_id", $"left_ctx", $"right_ctx")
  }

  val q124Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |sp AS (SELECT doc_id, ts[i] AS w0, ts[i+1] AS w1, ts[i+2] AS w2,
      |              ts[i+3] AS w3, ts[i+4] AS w4
      |       FROM d, UNNEST(range(1, len(ts) - 3)) AS t(i))
      |SELECT doc_id, w0 || ' ' || w1 AS left_ctx, w2 AS term,
      |  w3 || ' ' || w4 AS right_ctx
      |FROM sp WHERE w2 = 'spark'
      |ORDER BY doc_id, left_ctx, right_ctx""".stripMargin

  // ---------------------------------------------------------------- q121
  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the canonical edge set — do hubs link to
    * hubs (assortative, r > 0) or to leaves (disassortative)? The
    * whole statistic reduces to five integer edge sums (Σx, Σy, Σxy,
    * Σx², Σy² with each edge counted in BOTH orientations so the
    * measure is symmetric); products of sums are taken in
    * DECIMAL(38,0) (≡ DuckDB HUGEINT — exact), the denominator is ONE
    * sqrt of the exact product and the result ONE double division —
    * bit-portable, no per-edge floats. Graph: q105's families. */
  def q121Assortativity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val e1 = d.filter($"doc_id" % 2 === 0)
      .select(($"doc_id" % 200).as("src"), (($"doc_id" * 7 + 3) % 200).as("dst"))
    val e2 = d.filter($"doc_id" % 3 > 0)
      .select(($"doc_id" % 200).as("src"), (($"doc_id" * 13 + 5) % 200).as("dst"))
    val e3 = d.filter($"doc_id" % 5 > 0)
      .select((($"doc_id" * 3) % 200).as("src"), (($"doc_id" * 17) % 200).as("dst"))
    val ce = e1.union(e2).union(e3)
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct()
      .persist()
    try {
      // r16 driver-finish: the canonical edge set is ~200 nodes by
      // construction (16 B per edge: two long ids), and the degree/sum
      // arithmetic is exact integers with the SAME decimal last mile
      // (BigDecimal products, one double cast each side, IEEE sqrt +
      // division — bit-identical to the distributed expression;
      // Math.addExact mirrors the ANSI sum overflow; pinned by
      // GraphDriverFinishSpec).
      if (graft.operators.DriverFinish.fitsCount("q121", ce, 16L)) {
        val (ea, eb) = graft.operators.DriverFinish.collectPairs(ce, "a", "b")
        return s.createDataFrame(
          s.sparkContext.parallelize(Seq(assortRow(ea, eb)), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("m",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("sx",
              org.apache.spark.sql.types.LongType, nullable = true),
            org.apache.spark.sql.types.StructField("sxy",
              org.apache.spark.sql.types.LongType, nullable = true),
            org.apache.spark.sql.types.StructField("assortativity",
              org.apache.spark.sql.types.DoubleType, nullable = true))))
      }
      val deg = ce.select($"a".as("node")).union(ce.select($"b".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
      // both orientations -> symmetric sums; degrees arrive by join
      val both = ce.select($"a".as("x"), $"b".as("y"))
        .union(ce.select($"b".as("x"), $"a".as("y")))
        .join(deg.select($"node".as("x"), $"deg".as("dx")), "x")
        .join(deg.select($"node".as("y"), $"deg".as("dy")), "y")
      val sums = both.agg(
        count(lit(1)).as("m"),
        sum($"dx").as("sx"), sum($"dy").as("sy"),
        sum($"dx" * $"dy").as("sxy"),
        sum($"dx" * $"dx").as("sxx"), sum($"dy" * $"dy").as("syy"))
      sums.select($"m", $"sx", $"sxy",
        (($"m".cast("decimal(38,0)") * $"sxy".cast("decimal(38,0)")
          - $"sx".cast("decimal(38,0)") * $"sy".cast("decimal(38,0)")).cast("double")
          / sqrt((($"m".cast("decimal(38,0)") * $"sxx".cast("decimal(38,0)")
              - $"sx".cast("decimal(38,0)") * $"sx".cast("decimal(38,0)"))
            * ($"m".cast("decimal(38,0)") * $"syy".cast("decimal(38,0)")
              - $"sy".cast("decimal(38,0)") * $"sy".cast("decimal(38,0)"))).cast("double")))
          .as("assortativity"))
        .localCheckpoint(true)
    } finally ce.unpersist(false)
  }

  /** Driver mirror of q121's sums + decimal last mile over collected
    * canonical edges. Empty edge set mirrors the global agg's
    * (0, NULL, NULL, NULL) row. */
  private def assortRow(ea: Array[Long], eb: Array[Long]): org.apache.spark.sql.Row = {
    if (ea.isEmpty)
      return org.apache.spark.sql.Row(0L, null, null, null)
    val deg = scala.collection.mutable.HashMap.empty[Long, Long]
    var i = 0
    while (i < ea.length) {
      deg.update(ea(i), deg.getOrElse(ea(i), 0L) + 1L)
      deg.update(eb(i), deg.getOrElse(eb(i), 0L) + 1L)
      i += 1
    }
    var m = 0L; var sx = 0L; var sy = 0L; var sxy = 0L; var sxx = 0L; var syy = 0L
    def acc(x: Long, y: Long): Unit = {
      val dx = deg(x); val dy = deg(y)
      m = Math.addExact(m, 1L)
      sx = Math.addExact(sx, dx); sy = Math.addExact(sy, dy)
      sxy = Math.addExact(sxy, Math.multiplyExact(dx, dy))
      sxx = Math.addExact(sxx, Math.multiplyExact(dx, dx))
      syy = Math.addExact(syy, Math.multiplyExact(dy, dy))
    }
    i = 0
    while (i < ea.length) { acc(ea(i), eb(i)); acc(eb(i), ea(i)); i += 1 }
    import java.math.BigDecimal
    // every decimal op result mirrors Spark's DECIMAL(38,0) overflow
    // check (ANSI mode throws) so the driver path cannot silently
    // succeed where the distributed expression would error
    def chk(b: BigDecimal): BigDecimal = {
      if (b.precision > 38)
        throw new ArithmeticException("q121 driver mirror: DECIMAL(38,0) overflow")
      b
    }
    val bm = BigDecimal.valueOf(m)
    val num = chk(chk(bm.multiply(BigDecimal.valueOf(sxy)))
      .subtract(chk(BigDecimal.valueOf(sx).multiply(BigDecimal.valueOf(sy)))))
    val vx = chk(chk(bm.multiply(BigDecimal.valueOf(sxx)))
      .subtract(chk(BigDecimal.valueOf(sx).multiply(BigDecimal.valueOf(sx)))))
    val vy = chk(chk(bm.multiply(BigDecimal.valueOf(syy)))
      .subtract(chk(BigDecimal.valueOf(sy).multiply(BigDecimal.valueOf(sy)))))
    val r = num.doubleValue() / math.sqrt(chk(vx.multiply(vy)).doubleValue())
    org.apache.spark.sql.Row(m, sx, sxy, r)
  }

  val q121Sql: String =
    """WITH raw AS (
      |  SELECT doc_id % 200 AS s, (doc_id*7+3) % 200 AS d FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL SELECT doc_id % 200, (doc_id*13+5) % 200 FROM documents WHERE doc_id % 3 > 0
      |  UNION ALL SELECT (doc_id*3) % 200, (doc_id*17) % 200 FROM documents WHERE doc_id % 5 > 0),
      |ce AS (SELECT DISTINCT least(s,d) AS a, greatest(s,d) AS b FROM raw WHERE s <> d),
      |deg AS (SELECT node, COUNT(*) AS deg FROM (
      |          SELECT a AS node FROM ce UNION ALL SELECT b FROM ce) GROUP BY node),
      |bo AS (SELECT a AS x, b AS y FROM ce UNION ALL SELECT b, a FROM ce),
      |j AS (SELECT dx.deg AS dx, dy.deg AS dy FROM bo
      |      JOIN deg dx ON x = dx.node JOIN deg dy ON y = dy.node),
      |sums AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
      |    CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
      |    CAST(SUM(dx*dy) AS BIGINT) AS sxy,
      |    CAST(SUM(dx*dx) AS BIGINT) AS sxx, CAST(SUM(dy*dy) AS BIGINT) AS syy
      |  FROM j)
      |SELECT m, sx, sxy,
      |  CAST(CAST(m AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
      |    / sqrt(CAST((CAST(m AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx)
      |                * (CAST(m AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy) AS DOUBLE))
      |  AS assortativity
      |FROM sums""".stripMargin

  // ---------------------------------------------------------------- q119
  /** Context-diversity profile — the Kneser-Ney continuation counts:
    * for each token, how many DISTINCT left neighbors and distinct
    * right neighbors it occurs with, plus its raw frequency. KN
    * smoothing weighs a word by how many contexts it completes (not
    * how often it occurs) — the same statistic separates function
    * words (high diversity) from words glued into fixed phrases (high
    * count, low diversity), which is what tokenizer-quality audits
    * read. One native token_spans(·,2) explode feeds both directions;
    * distinct-counting shuffles (token, neighbor) pairs — high-
    * cardinality keys, map-side combined. Top 50 by left diversity. */
  def q119ContextDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pair = docs(s, dir)
      .select(explode(expr("token_spans(text, 2)")).as("pair"))
      .select(expr("split(pair, ' ')[0]").as("w1"),
              expr("split(pair, ' ')[1]").as("w2"))
      .persist()
    try {
      val left = pair.groupBy($"w2".as("tok"))
        .agg(countDistinct($"w1").as("n_left"), count(lit(1)).as("c_right_of"))
      val right = pair.groupBy($"w1".as("tok"))
        .agg(countDistinct($"w2").as("n_right"))
      left.join(right, "tok")
        .select($"tok", $"n_left", $"n_right", $"c_right_of".as("freq"))
        .orderBy($"n_left".desc, $"tok").limit(50)
        .localCheckpoint(true)
    } finally pair.unpersist(false)
  }

  val q119Sql: String =
    """WITH d AS (SELECT string_split(text, ' ') AS ts FROM documents),
      |p AS (SELECT ts[i] AS w1, ts[i+1] AS w2
      |      FROM d, UNNEST(range(1, len(ts))) AS t(i)),
      |l AS (SELECT w2 AS tok, COUNT(DISTINCT w1) AS n_left, COUNT(*) AS freq
      |      FROM p GROUP BY w2),
      |r AS (SELECT w1 AS tok, COUNT(DISTINCT w2) AS n_right FROM p GROUP BY w1)
      |SELECT tok, CAST(n_left AS BIGINT) AS n_left,
      |  CAST(n_right AS BIGINT) AS n_right, CAST(freq AS BIGINT) AS freq
      |FROM l JOIN r USING (tok)
      |ORDER BY n_left DESC, tok LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q117
  /** Trigram frequency SPECTRUM: how many distinct trigrams occur
    * exactly k times (k = 1..10) — the vocabulary-growth / novelty
    * profile (a large singleton mass means the corpus keeps producing
    * new word sequences; a collapsed spectrum signals templated or
    * looped text). Two map-side-combined aggregations on
    * high-cardinality keys (trigram, then count value); trigrams ride
    * the native `token_spans(·,3)` — all occurrences, one eval per
    * row. */
  def q117NgramSpectrum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select(explode(expr("token_spans(text, 3)")).as("tri"))
      .groupBy($"tri").agg(count(lit(1)).as("c"))
      .filter($"c" <= 10L)
      .groupBy($"c".as("k")).agg(count(lit(1)).as("n_types"))
      .orderBy($"k")
  }

  val q117Sql: String =
    """WITH d AS (SELECT string_split(text, ' ') AS ts FROM documents),
      |tri AS (SELECT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS tri
      |        FROM d, UNNEST(range(1, len(ts) - 1)) AS t(i)),
      |c AS (SELECT tri, COUNT(*) AS c FROM tri GROUP BY tri)
      |SELECT c AS k, CAST(COUNT(*) AS BIGINT) AS n_types
      |FROM c WHERE c <= 10 GROUP BY c ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- q118
  /** Vocabulary growth curve (the Heaps'-law audit): distinct token
    * types seen within the first 10%, 20%, …, 100% of the corpus in
    * doc_id order. Each token shuffles once to find its FIRST document
    * (min doc_id, map-side combined); the per-token first-seen stream
    * then joins a broadcast 10-row decile table (vocab × 10 map-side
    * rows, no second corpus pass). The corpus size is the audited
    * 1-row aggregate broadcast (q44's pattern). */
  def q118VocabGrowth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val firstSeen = d.select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(min($"doc_id").as("first_seen"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val deciles = s.range(1, 11).toDF("decile")
      .crossJoin(broadcast(n))
      .withColumn("thr", expr("(n_docs * decile) div 10"))
    firstSeen.crossJoin(broadcast(deciles))
      .filter($"first_seen" < $"thr")
      .groupBy($"decile", $"thr")
      .agg(count(lit(1)).as("vocab"))
      .orderBy($"decile")
  }

  val q118Sql: String =
    """WITH fs AS (SELECT t.tok, MIN(doc_id) AS first_seen
      |            FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
      |            GROUP BY t.tok),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |dec AS (SELECT d AS decile, (n_docs * d) // 10 AS thr
      |        FROM n, UNNEST(range(1, 11)) AS r(d))
      |SELECT decile, CAST(thr AS BIGINT) AS thr,
      |  CAST(COUNT(*) AS BIGINT) AS vocab
      |FROM fs JOIN dec ON first_seen < thr
      |GROUP BY decile, thr ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- q114
  /** Per-source TOKEN-budget admission — q107's quota upgraded from
    * row counts to the unit pipelines actually budget by. Each
    * source (lang) admits documents in doc_id order until 2500 tokens
    * are consumed; the crossing document is admitted (fill-to-budget).
    * Batch form is one prefix-sum window per source (token counts via
    * length arithmetic on the scan, no tokenize); the streaming twin
    * [[graft.streaming.StreamOps.tokenBudgetStream]] carries one
    * counter per key across micro-batches — StreamingSpec closes
    * stream ≡ batch ≡ oracle. At 100 TB sources are domains
    * (high-cardinality key), so the window partitions parallelize. */
  def q114TokenBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("ntok",
        graft.operators.SequencePack.ntokCol($"text"))
      .withColumn("cum_before", coalesce(
        sum($"ntok").over(Window.partitionBy($"lang").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"doc_id", $"lang", $"ntok",
        ($"cum_before" + $"ntok").as("cum_tokens"),
        when($"cum_before" < 2500L, 1L).otherwise(0L).as("admitted"))
      .orderBy($"doc_id")
  }

  val q114Sql: String =
    """WITH t AS (SELECT doc_id, lang,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS ntok
      |  FROM documents),
      |w AS (SELECT doc_id, lang, ntok,
      |    COALESCE(CAST(SUM(ntok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
      |  FROM t)
      |SELECT doc_id, lang, ntok,
      |  CAST(cum_before + ntok AS BIGINT) AS cum_tokens,
      |  CAST(CASE WHEN cum_before < 2500 THEN 1 ELSE 0 END AS BIGINT) AS admitted
      |FROM w ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q113
  /** VERIFIED duplicate clusters — the full production dedup arc in
    * one query: LSH candidates → exact Levenshtein verification
    * (q108's pair set, is_dup only) → connected components → keep-one
    * representative groups. q41 clusters the Jaccard graph; this
    * clusters the edit-distance-verified graph, which is the edge set
    * a conservative dedup actually deletes on (estimates generate,
    * exact checks decide — the q55 heavy-hitter philosophy applied to
    * dedup). Only non-singleton clusters are reported: members with
    * their cluster id (min doc_id) and a keep/drop verdict. */
  def q113VerifiedClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // q108's pair pipeline with an EXACT length-bound prune ahead of
    // the O(len²) DP: levenshtein >= |len_a − len_b|, so any pair with
    // 5·|len_a − len_b| > max(len) can never verify — skip its DP
    // entirely (q108 itself must still compute lev for every candidate
    // because lev is in its output contract; here only the verdict
    // matters). The conjunct order short-circuits in codegen.
    val t = docs(s, dir)
      .select($"doc_id", $"text", length($"text").cast("long").as("len"))
    val verified = minhashPairs(s, dir, minEst = 0.5)
      .join(t.as("ta"), $"doc_a" === $"ta.doc_id")
      .join(t.as("tb"), $"doc_b" === $"tb.doc_id")
      .filter(abs($"ta.len" - $"tb.len") * 5 <= greatest($"ta.len", $"tb.len") &&
        levenshtein($"ta.text", $"tb.text").cast("long") * 5 <=
          greatest($"ta.len", $"tb.len"))
      .select($"doc_a", $"doc_b")
    val verts = docs(s, dir).select($"doc_id")
    val lab = graft.operators.ConnectedComponents.labels(verts, verified)
    val sizes = lab.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, "cluster_id")
      .filter($"cluster_size" > 1L)
      .select($"doc_id", $"cluster_id", $"cluster_size",
        ($"doc_id" === $"cluster_id").as("keep"))
      .orderBy($"doc_id")
  }

  val q113Sql: String =
    s"""WITH RECURSIVE vp AS (
       |  SELECT doc_a, doc_b FROM (${q108Sql.replace("ORDER BY doc_a, doc_b", "")}) WHERE is_dup = 1),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM vp
       |          UNION ALL SELECT doc_b, doc_a FROM vp),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS root FROM documents
       |  UNION
       |  SELECT e.dst AS id, r.root FROM reach r JOIN edges e ON e.src = r.id),
       |lab AS (SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id),
       |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
       |SELECT l.doc_id, l.cluster_id, cs.cluster_size, l.doc_id = l.cluster_id AS keep
       |FROM lab l JOIN cs USING (cluster_id)
       |WHERE cs.cluster_size > 1
       |ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q14_text_quality" -> q14TextQuality _,
    "q15_token_stats" -> q15TokenStats _,
    "q16_lang_id" -> q16LangId _,
    "q17_fingerprint" -> q17Fingerprint _,
    "q18_dedup_exact" -> q18DedupExact _,
    "q19_ngram_jaccard" -> q19NgramJaccard _,
    "q20_minhash_lsh" -> q20MinHashLsh _,
    "q21_simhash" -> q21SimHash _,
    "q38_regex_tokens" -> q38RegexTokens _,
    "q41_dup_clusters" -> q41DupClusters _,
    "q42_stratified_sample" -> q42StratifiedSample _,
    "q43_repetition_filter" -> q43RepetitionFilter _,
    "q44_tfidf_topterms" -> q44TfIdf _,
    "q47_decontaminate" -> q47Decontaminate _,
    "q48_sequence_packing" -> q48SequencePacking _,
    "q50_mix_interleave" -> q50MixInterleave _,
    "q51_repeated_spans" -> q51RepeatedSpans _,
    "q52_pii_redact" -> q52PiiRedact _,
    "q53_chunk_dedup" -> q53ChunkDedup _,
    "q54_unigram_lm" -> q54UnigramLm _,
    "q55_heavy_hitters" -> q55HeavyHitters _,
    "q56_span_removal" -> q56SpanRemoval _,
    "q57_length_quantiles" -> q57LengthQuantiles _,
    "q60_epoch_shuffle" -> q60EpochShuffle _,
    "q61_packed_chunks" -> q61PackedChunks _,
    "q62_bpe_pairs" -> q62BpePairs _,
    "q63_shard_assign" -> q63ShardAssign _,
    "q66_normalize" -> q66Normalize _,
    "q67_incremental_dedup" -> q67IncrementalDedup _,
    "q68_link_extract" -> q68LinkExtract _,
    "q69_pagerank" -> q69PageRank _,
    "q70_split_assign" -> q70SplitAssign _,
    "q71_packed_shards" -> q71PackedShards _,
    "q72_length_batches" -> q72LengthBatches _,
    "q73_ngram_diversity" -> q73NgramDiversity _,
    "q74_corpus_overlap" -> q74CorpusOverlap _,
    "q75_mix_weights" -> q75MixWeights _,
    "q76_bm25_retrieval" -> q76Bm25 _,
    "q77_classifier_inference" -> q77ClassifierInference _,
    "q79_dsir_weights" -> q79DsirWeights _,
    "q80_bigram_lm" -> q80BigramLm _,
    "q81_bpe_train" -> q81BpeTrain _,
    "q82_bpe_encode" -> q82BpeEncode _,
    "q83_perceptron_train" -> q83PerceptronTrain _,
    "q84_perceptron_eval" -> q84PerceptronEval _,
    "q85_dedup_recall" -> q85DedupRecall _,
    "q86_contamination_rate" -> q86ContaminationRate _,
    "q89_importance_sample" -> q89ImportanceSample _,
    "q90_boilerplate" -> q90Boilerplate _,
    "q91_gopher_rules" -> q91GopherRules _,
    "q92_rank_fusion" -> q92RankFusion _,
    "q95_hits" -> q95Hits _,
    "q96_ttr" -> q96TypeTokenRatio _,
    "q99_curation_pipeline" -> q99CurationPipeline _,
    "q100_collocations" -> q100Collocations _,
    "q101_temperature_mix" -> q101TemperatureMix _,
    "q102_lm_tiers" -> q102LmTiers _,
    "q104_repeated_sequences" -> q104RepeatedSequences _,
    "q105_triangles" -> q105Triangles _,
    "q106_datacard" -> q106Datacard _,
    "q107_source_quota" -> q107SourceQuota _,
    "q108_edit_verified" -> q108EditVerified _,
    "q109_kcore" -> q109KCore _,
    "q111_containment" -> q111Containment _,
    "q112_gazetteer" -> q112Gazetteer _,
    "q113_verified_clusters" -> q113VerifiedClusters _,
    "q114_token_budget" -> q114TokenBudget _,
    "q117_ngram_spectrum" -> q117NgramSpectrum _,
    "q118_vocab_growth" -> q118VocabGrowth _,
    "q119_context_diversity" -> q119ContextDiversity _,
    "q121_assortativity" -> q121Assortativity _,
    "q123_weighted_sample" -> q123WeightedSample _,
    "q124_kwic" -> q124Kwic _,
    "q132_template_census" -> q132TemplateCensus _,
    "q134_diverse_topk" -> q134DiverseTopK _,
    "q139_token_hhi" -> q139TokenHhi _,
    "q141_dup_ngram_frac" -> q141DupNgramFrac _,
    "q142_redirect_resolve" -> q142RedirectResolve _,
    "q143_diff_ops" -> q143DiffOps _,
    "q144_pipe_upper" -> q144PipeUpper _,
    "q145_reverts" -> q145Reverts _,
    "q146_diff_churn" -> q146DiffChurn _,
    "q147_edit_wars" -> q147EditWars _,
    "q149_lpa_communities" -> q149Lpa _,
    "q151_snapshot_diff" -> q151SnapshotDiff _,
    "q152_diff_multi" -> q152DiffMulti _,
    "q153_entry_diffdb" -> EntryOracle.q153EntryDiffdb _,
    "q163_entry_diffdb_bz2" -> EntryOracle.q163EntryDiffdbBz2 _,
    "q182_entry_diffdb_gz" -> EntryOracle.q182EntryDiffdbGz _,
    "q183_entry_multistream" -> EntryOracle.q183EntryMultistream _,
    "q184_entry_ms_excluded" -> EntryOracle.q184EntryMultistreamExcluded _,
    "q186_entry_ms_page_lookup" -> EntryOracle.q186EntryMsPageLookup _,
    "q187_entry_ms_stream" -> EntryOracle.q187EntryMsStream _,
    "q188_entry_ms_articles" -> EntryOracle.q188EntryMsArticlesOnly _,
    "q189_entry_ms_stream_articles" -> EntryOracle.q189EntryMsStreamArticles _,
    "q190_entry_ms_write" -> EntryOracle.q190EntryWriteRoundtrip _,
    "q191_entry_ms_rate_limited" -> EntryOracle.q191EntryMsRateLimited _,
    "q192_entry_ms_write_stream" -> EntryOracle.q192EntryMsWriteStream _,
    "q193_entry_ms_write_idxbz2" -> EntryOracle.q193EntryWriteIdxBz2 _,
    "q164_entry_excluded" -> EntryOracle.q164EntryExcluded _,
    "q165_entry_diffdb_stream" -> EntryOracle.q165EntryDiffdbStream _,
    "q166_entry_noprev" -> EntryOracle.q166EntryNoPrev _,
    "q167_entry_pruned" -> EntryOracle.q167EntryPruned _,
    "q169_entry_deleted" -> EntryOracle.q169EntryDeleted _,
    "q170_pair_stream" -> StreamOracle.q170PairStream _,
    "q171_mg_stream" -> StreamOracle.q171MgStream _,
    "q172_bloom_decontam" -> q172BloomDecontaminate _,
    "q173_token_budget_stream" -> StreamOracle.q173TokenBudgetStream _,
    "q174_pack_stream_real" -> StreamOracle.q174PackStream _,
    "q175_quota_stream_real" -> StreamOracle.q175QuotaStream _,
    "q176_scene_stream_real" -> StreamOracle.q176SceneStream _,
    "q177_revert_stream_real" -> StreamOracle.q177RevertStream _,
    "q178_lsh_stream_real" -> StreamOracle.q178LshStreamReal _,
    "q185_decontam_stream_real" -> StreamOracle.q185DecontamStreamReal _,
    "q179_window_stream_real" -> StreamOracle.q179WindowedStreamReal _,
    "q180_join_stream_real" -> StreamOracle.q180IntervalJoinStreamReal _,
    "q181_session_stream_real" -> StreamOracle.q181SessionStreamReal _,
    "q154_lsh_band_candidates" -> q154LshBandCandidates _,
    "q158_wikitext_strip" -> q158WikitextStrip _,
    "q161_pack_stream_batch" -> q161PackStreamBatch _,
    "q159_source_overlap" -> q159SourceOverlap _,
    "q140_source_gini" -> q140SourceGini _,
    "q135_source_drift" -> q135SourceDrift _,
    "q133_categories" -> q133Categories _,
  )

  def oracles: Map[String, String] = Map(
    "q14_text_quality" -> q14Sql,
    "q15_token_stats" -> q15Sql,
    "q16_lang_id" -> q16Sql,
    "q17_fingerprint" -> q17Sql,
    "q18_dedup_exact" -> q18Sql,
    "q19_ngram_jaccard" -> q19Sql,
    "q20_minhash_lsh" -> q20Sql,
    "q21_simhash" -> q21Sql,
    "q38_regex_tokens" -> q38Sql,
    "q41_dup_clusters" -> q41Sql,
    "q42_stratified_sample" -> q42Sql,
    "q43_repetition_filter" -> q43Sql,
    "q44_tfidf_topterms" -> q44Sql,
    "q47_decontaminate" -> q47Sql,
    "q48_sequence_packing" -> q48Sql,
    "q50_mix_interleave" -> q50Sql,
    "q51_repeated_spans" -> q51Sql,
    "q52_pii_redact" -> q52Sql,
    "q53_chunk_dedup" -> q53Sql,
    "q54_unigram_lm" -> q54Sql,
    "q55_heavy_hitters" -> q55Sql,
    "q56_span_removal" -> q56Sql,
    "q57_length_quantiles" -> q57Sql,
    "q60_epoch_shuffle" -> q60Sql,
    "q61_packed_chunks" -> q61Sql,
    "q62_bpe_pairs" -> q62Sql,
    "q63_shard_assign" -> q63Sql,
    "q66_normalize" -> q66Sql,
    "q67_incremental_dedup" -> q67Sql,
    "q68_link_extract" -> q68Sql,
    "q69_pagerank" -> q69Sql,
    "q70_split_assign" -> q70Sql,
    "q71_packed_shards" -> q71Sql,
    "q72_length_batches" -> q72Sql,
    "q73_ngram_diversity" -> q73Sql,
    "q74_corpus_overlap" -> q74Sql,
    "q75_mix_weights" -> q75Sql,
    "q76_bm25_retrieval" -> q76Sql,
    "q77_classifier_inference" -> q77Sql,
    "q79_dsir_weights" -> q79Sql,
    "q80_bigram_lm" -> q80Sql,
    "q81_bpe_train" -> q81Sql,
    "q82_bpe_encode" -> q82Sql,
    "q83_perceptron_train" -> q83Sql,
    "q84_perceptron_eval" -> q84Sql,
    "q85_dedup_recall" -> q85Sql,
    "q86_contamination_rate" -> q86Sql,
    "q89_importance_sample" -> q89Sql,
    "q90_boilerplate" -> q90Sql,
    "q91_gopher_rules" -> q91Sql,
    "q92_rank_fusion" -> q92Sql,
    "q95_hits" -> q95Sql,
    "q96_ttr" -> q96Sql,
    "q99_curation_pipeline" -> q99Sql,
    "q100_collocations" -> q100Sql,
    "q101_temperature_mix" -> q101Sql,
    "q102_lm_tiers" -> q102Sql,
    "q104_repeated_sequences" -> q104Sql,
    "q105_triangles" -> q105Sql,
    "q106_datacard" -> q106Sql,
    "q107_source_quota" -> q107Sql,
    "q108_edit_verified" -> q108Sql,
    "q109_kcore" -> q109Sql,
    "q111_containment" -> q111Sql,
    "q112_gazetteer" -> q112Sql,
    "q113_verified_clusters" -> q113Sql,
    "q114_token_budget" -> q114Sql,
    "q117_ngram_spectrum" -> q117Sql,
    "q118_vocab_growth" -> q118Sql,
    "q119_context_diversity" -> q119Sql,
    "q121_assortativity" -> q121Sql,
    "q123_weighted_sample" -> q123Sql,
    "q124_kwic" -> q124Sql,
    "q132_template_census" -> q132Sql,
    "q134_diverse_topk" -> q134Sql,
    "q139_token_hhi" -> q139Sql,
    "q141_dup_ngram_frac" -> q141Sql,
    "q142_redirect_resolve" -> q142Sql,
    "q143_diff_ops" -> q143Sql,
    "q144_pipe_upper" -> q144Sql,
    "q145_reverts" -> q145Sql,
    "q146_diff_churn" -> q146Sql,
    "q147_edit_wars" -> q147Sql,
    "q149_lpa_communities" -> q149Sql,
    "q151_snapshot_diff" -> q151Sql,
    "q152_diff_multi" -> q152Sql,
    "q153_entry_diffdb" -> EntryOracle.q153Sql,
    "q163_entry_diffdb_bz2" -> EntryOracle.q163Sql,
    "q182_entry_diffdb_gz" -> EntryOracle.q182Sql,
    "q183_entry_multistream" -> EntryOracle.q183Sql,
    "q184_entry_ms_excluded" -> EntryOracle.q184Sql,
    "q186_entry_ms_page_lookup" -> EntryOracle.q186Sql,
    "q187_entry_ms_stream" -> EntryOracle.q187Sql,
    "q188_entry_ms_articles" -> EntryOracle.q188Sql,
    "q189_entry_ms_stream_articles" -> EntryOracle.q189Sql,
    "q190_entry_ms_write" -> EntryOracle.q190Sql,
    "q191_entry_ms_rate_limited" -> EntryOracle.q191Sql,
    "q192_entry_ms_write_stream" -> EntryOracle.q192Sql,
    "q193_entry_ms_write_idxbz2" -> EntryOracle.q193Sql,
    "q164_entry_excluded" -> EntryOracle.q164Sql,
    "q165_entry_diffdb_stream" -> EntryOracle.q165Sql,
    "q166_entry_noprev" -> EntryOracle.q166Sql,
    "q167_entry_pruned" -> EntryOracle.q167Sql,
    "q169_entry_deleted" -> EntryOracle.q169Sql,
    "q170_pair_stream" -> StreamOracle.q170Sql,
    "q171_mg_stream" -> StreamOracle.q171Sql,
    "q172_bloom_decontam" -> q172Sql,
    "q173_token_budget_stream" -> StreamOracle.q173Sql,
    "q174_pack_stream_real" -> StreamOracle.q174Sql,
    "q175_quota_stream_real" -> StreamOracle.q175Sql,
    "q176_scene_stream_real" -> StreamOracle.q176Sql,
    "q177_revert_stream_real" -> StreamOracle.q177Sql,
    "q178_lsh_stream_real" -> StreamOracle.q178Sql(q154Sql),
    "q185_decontam_stream_real" -> q47Sql,
    "q179_window_stream_real" -> StreamOracle.q179Sql,
    "q180_join_stream_real" -> Relational.q155Sql,
    "q181_session_stream_real" -> StreamOracle.q181Sql(Relational.q103Sql),
    "q154_lsh_band_candidates" -> q154Sql,
    "q158_wikitext_strip" -> q158Sql,
    "q161_pack_stream_batch" -> q161Sql,
    "q159_source_overlap" -> q159Sql,
    "q140_source_gini" -> q140Sql,
    "q135_source_drift" -> q135Sql,
    "q133_categories" -> q133Sql,
  )
}
