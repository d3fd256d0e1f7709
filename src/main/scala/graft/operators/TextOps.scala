package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GQuery
import graft.GQuery.oracled
import graft.sources.Tables
import graft.functions.RollingHash.{duckSql, rollingHash}

/** Text-analysis operators for a training-data pipeline (north-star set:
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting), all over the `documents` fixture table. Everything is
  * a codegen'd column expression over one scan — per-document work with
  * no shuffle at all except the final presentation sort, which is the
  * shape that holds on a 100 TB corpus.
  */
object TextOps {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")
  private def stopwordsSql = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  private def toks: Column = split(col("text"), " ")

  /** The DuckDB spelling of [[qualityScore]] over an arbitrary SQL
    * expression — shared so composed-pipeline oracles (q113) apply the
    * IDENTICAL rule the q41 oracle proves. `sfx` de-collides the lambda
    * variable when nested.
    */
  private[graft] def qualityDuckSql(t: String, sfx: String = "q"): String =
    s"""(0.4 * (CAST(len(list_filter(string_split($t, ' '), w$sfx -> list_contains($stopwordsSql, w$sfx))) AS DOUBLE)
            / len(string_split($t, ' ')))
       + 0.4 * (CAST(len(list_distinct(string_split($t, ' '))) AS DOUBLE)
            / len(string_split($t, ' ')))
       + 0.2 * LEAST(CAST(length($t) AS DOUBLE) / 256.0, 1.0))"""

  /** Composite quality score over a text column — q41's exact rule
    * (0.4·stopword ratio + 0.4·distinct-token ratio + 0.2·capped length
    * score), exposed so the streaming intake ([[graft.streaming
    * .CorpusStream]]) gates on the SAME heuristic the batch query
    * oracles.
    */
  private[graft] def qualityScore(text: Column): Column = {
    val t = split(text, " ")
    val stopArr = typedLit(stopwords)
    val stopRatio = size(filter(t, w => array_contains(stopArr, w))).cast("double") / size(t)
    val distinctRatio = size(array_distinct(t)).cast("double") / size(t)
    val lenScore = length(text).cast("double") / 256.0
    lit(0.4) * stopRatio + lit(0.4) * distinctRatio + lit(0.2) * least(lenScore, lit(1.0))
  }

  /** q40 — token counting: whitespace tokens, word-regex tokens (the
    * BPE-ish `[a-z]+` pass), distinct tokens, mean token length.
    */
  val q40 = oracled(
    "q40_token_stats",
    "whitespace + regex tokenization, distinct counts, mean token length",
    """SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS n_distinct,
       CASE WHEN len(regexp_extract_all(text, '[a-z]+')) > 0
         THEN CAST(length(replace(text, ' ', '')) AS DOUBLE)
              / len(regexp_extract_all(text, '[a-z]+'))
         ELSE NULL END AS mean_token_len
       FROM documents
       ORDER BY doc_id""") { (s, dir) =>
    val words = regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_ws_tokens"),
        size(words).cast("long").as("n_word_tokens"),
        size(array_distinct(words)).cast("long").as("n_distinct"),
        when(size(words) > 0,
          length(regexp_replace(col("text"), " ", "")).cast("double") / size(words))
          .as("mean_token_len"))
      .orderBy(col("doc_id"))
  }

  /** q41 — quality scoring: stopword ratio, length stats, repetition
    * ratio (distinct/total) — the heuristics an LLM-data pipeline uses to
    * filter a crawl. Composite score = weighted sum of the ratios.
    */
  val q41 = oracled(
    "q41_quality_score",
    "stopword/length/repetition ratios + composite quality score",
    s"""SELECT doc_id, lang,
       CAST(len(list_filter(string_split(text, ' '), t -> list_contains($stopwordsSql, t))) AS BIGINT) AS n_stopwords,
       CAST(len(list_filter(string_split(text, ' '), t -> list_contains($stopwordsSql, t))) AS DOUBLE)
         / len(string_split(text, ' ')) AS stop_ratio,
       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         / len(string_split(text, ' ')) AS distinct_ratio,
       CAST(length(text) AS DOUBLE) / 256.0 AS len_score,
       0.4 * (CAST(len(list_filter(string_split(text, ' '), t -> list_contains($stopwordsSql, t))) AS DOUBLE)
              / len(string_split(text, ' ')))
         + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' ')))
         + 0.2 * LEAST(CAST(length(text) AS DOUBLE) / 256.0, 1.0) AS quality
       FROM documents
       ORDER BY doc_id""") { (s, dir) =>
    val stopArr = typedLit(stopwords)
    val nStop = size(filter(toks, t => array_contains(stopArr, t)))
    val nToks = size(toks)
    val stopRatio = nStop.cast("double") / nToks
    val distinctRatio = size(array_distinct(toks)).cast("double") / nToks
    val lenScore = length(col("text")).cast("double") / 256.0
    Tables.documents(s, dir)
      .select(
        col("doc_id"), col("lang"),
        nStop.cast("long").as("n_stopwords"),
        stopRatio.as("stop_ratio"),
        distinctRatio.as("distinct_ratio"),
        lenScore.as("len_score"),
        qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** q42 — language-ID heuristic: marker-word votes per language with a
    * deterministic argmax (fixed tie-break order). The fixture text is
    * synthetic, so accuracy is meaningless — the operator shape
    * (vote columns + deterministic argmax cascade) is what's exercised.
    */
  // shared by q42 (per-doc predictions) and q336 (confusion matrix):
  // the classifier must be ONE definition or the eval audits a fork
  private val langIdMarkers = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "la", "que"),
    "fr" -> Seq("le", "les", "et"))

  private def langScoreSql(ws: Seq[String]) = {
    val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(string_split(text, ' '), t -> list_contains($arr, t)))"
  }

  /** The marker-vote argmax over s_en/s_de/s_es/s_fr columns (SQL). */
  private def langCaseSql: String = {
    val s = langIdMarkers.map { case (l, _) => l -> s"s_$l" }.toMap
    s"""CASE WHEN ${s("en")} > 0 AND ${s("en")} >= ${s("de")} AND ${s("en")} >= ${s("es")} AND ${s("en")} >= ${s("fr")} THEN 'en'
        WHEN ${s("de")} > 0 AND ${s("de")} >= ${s("es")} AND ${s("de")} >= ${s("fr")} THEN 'de'
        WHEN ${s("es")} > 0 AND ${s("es")} >= ${s("fr")} THEN 'es'
        WHEN ${s("fr")} > 0 THEN 'fr'
        ELSE 'unknown' END"""
  }

  private def langScoredCteSql: String =
    s"""SELECT doc_id, lang,
          ${langIdMarkers.map { case (l, ws) => s"${langScoreSql(ws)} AS s_$l" }.mkString(",\n          ")}
        FROM documents"""

  /** The same classifier as a Spark column over `text`. */
  private[graft] def langPred: Column = {
    def score(ws: Seq[String]): Column =
      size(filter(toks, t => array_contains(typedLit(ws), t)))
    val sc = langIdMarkers.map { case (l, ws) => l -> score(ws) }.toMap
    when(sc("en") > 0 && sc("en") >= sc("de") && sc("en") >= sc("es") && sc("en") >= sc("fr"), "en")
      .when(sc("de") > 0 && sc("de") >= sc("es") && sc("de") >= sc("fr"), "de")
      .when(sc("es") > 0 && sc("es") >= sc("fr"), "es")
      .when(sc("fr") > 0, "fr")
      .otherwise("unknown")
  }

  val q42 = {
    val caseSql = langCaseSql
    oracled(
      "q42_lang_id",
      "marker-word language-ID votes + deterministic argmax",
      s"""WITH scored AS ($langScoredCteSql)
         SELECT doc_id, lang, $caseSql AS pred_lang,
           (lang = $caseSql) AS is_correct
         FROM scored
         ORDER BY doc_id""") { (s, dir) =>
      val pred = langPred
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), pred.as("pred_lang"),
          (col("lang") === pred).as("is_correct"))
        .orderBy(col("doc_id"))
    }
  }

  /** q43 — document fingerprinting with the native codegen'd RollingHash
    * expression; the DuckDB oracle recomputes the identical polynomial
    * fold with list_reduce, cross-checking the generated Java against an
    * independent implementation.
    */
  val q43 = oracled(
    "q43_fingerprint",
    "rolling-hash document fingerprint (native Catalyst expression)",
    s"""SELECT doc_id, ${duckSql("text")} AS fingerprint
       FROM documents
       ORDER BY doc_id""") { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), rollingHash(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** q64 — TF-IDF: term frequency per doc × smoothed inverse document
    * frequency, top-3 most characteristic terms per document. Fully
    * distributed: both the tf and df aggregates feed off the ONE
    * memoized tokenized corpus ([[Dedup.tokenized]] — tokenize 100 TB
    * once, not once per statistic), the tf⋈df vocabulary join is
    * UNHINTED (token TYPES are multi-GB at corpus scale; stats/AQE pick
    * broadcast at small SF and degrade to shuffle when the vocabulary
    * outgrows it — a forced broadcast here is a driver-OOM scale
    * killer), and n_docs rides the plan as a 1-row crossJoin (the q101
    * pattern) instead of a construction-time `count()` driver job.
    *
    * Exactness (ROUNDDIV burndown, VERDICT r10 #7): the idf log runs on
    * the shared [[graft.functions.IntLog2]] integer piecewise-linear
    * log2 instead of `ROUND(tf·LN(...), 6)` —
    *   tfidf_x20 = tf · (L2_x20(n_docs+1) − L2_x20(df+1))
    * (log2-base idf, smoothed +1, score in 2⁻²⁰ log2 units). Every
    * operation is a BIGINT op both engines evaluate identically, so the
    * top-3 cut crosses the hash gate with NO engine rounding policy in
    * play — the q245/q250 discipline applied to the classic tf-idf
    * ranking (monotone in the true idf up to the 0.0861 chord bound;
    * base-2 vs base-e rescales all scores by the same constant, so the
    * RANKING semantics match the textbook formula).
    */
  val q64 = oracled(
    "q64_tfidf",
    "distributed TF-IDF (exact-integer log2 idf), top-3 characteristic terms per doc",
    s"""WITH tok AS (
         SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
         FROM documents),
       tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
       df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
       n AS (SELECT COUNT(*) AS n_docs FROM documents),
       scored AS (
         SELECT tf.doc_id, tf.tok,
           tf.tf * (${graft.functions.IntLog2.duckSql("(n.n_docs + 1)")}
                  - ${graft.functions.IntLog2.duckSql("(df.df + 1)")})
             AS tfidf_x20
         FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
       SELECT doc_id, tok, CAST(tfidf_x20 AS BIGINT) AS tfidf_x20,
         CAST(rn AS BIGINT) AS rn FROM (
         SELECT doc_id, tok, tfidf_x20,
           ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY tfidf_x20 DESC, tok) AS rn
         FROM scored) t
       WHERE rn <= 3 AND doc_id < 100
       ORDER BY doc_id, rn""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = Dedup.tokenized(s, dir)
    val tok = toks.select(col("doc_id"), explode(col("toks")).as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tok.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
    val n = toks.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "tok")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
        expr(s"tf * (${graft.functions.IntLog2.sparkSql("(n_docs + 1L)")}" +
          s" - ${graft.functions.IntLog2.sparkSql("(df + 1L)")})")
          .as("tfidf_x20"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_x20").desc, col("tok"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("doc_id") < 100)
      .select(col("doc_id"), col("tok"), col("tfidf_x20"),
        col("rn").cast("long").as("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** q76 — bigram language-model counts: for every adjacent token pair,
    * c(w1,w2) and the conditional probability c(w1,w2)/c(w1); top 20 by
    * frequency. The unigram denominator joins back broadcast (the
    * vocabulary is the bounded side at any corpus scale — token TYPES,
    * not occurrences); both count passes are partial-aggregated
    * explode→groupBy shuffles, the standard n-gram statistics job shape.
    */
  val q76 = oracled(
    "q76_bigram_lm_counts",
    "top-20 bigram counts with conditional probability P(w2|w1)",
    """WITH t AS (
         SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
       bg AS (
         SELECT w1, w2, COUNT(*) AS c12 FROM (
           SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
                  unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
           FROM t) GROUP BY w1, w2),
       ug AS (
         SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bg GROUP BY w1)
       SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
         CAST(c12 AS DOUBLE) / c1 AS cond_p
       FROM bg JOIN ug USING (w1)
       ORDER BY c12 DESC, w1, w2
       LIMIT 20""") { (s, dir) =>
    val toks = split(trim(col("text")), " ")
    val pairs = Tables.documents(s, dir)
      .select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // Materialize the bigram counts once: `bg` feeds BOTH the join's left
    // side and the unigram rollup `ug`, and the broadcast of `ug` is
    // planned as a SEPARATE job before the main one, so exchange reuse
    // does not span it — without materialization the corpus
    // explode+aggregate runs twice (the round-4 12.96 s regression).
    // persist (not localCheckpoint, per round-5 advice): same
    // single-execution effect, but the block is RECOMPUTABLE on
    // executor loss where localCheckpoint's executor-local blocks are
    // fatal to the job — the right trade on a real cluster.
    val bg = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ug = bg.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    bg.join(broadcast(ug), "w1")
      .select(col("w1"), col("w2"), col("c12"),
        (col("c12").cast("double") / col("c1")).as("cond_p"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** The DuckDB CTE chain producing per-doc BM25 scores against the
    * corpus' top-3-DF terms — shared by q114's oracle and the hybrid
    * fusion oracle (q116). Yields relation `bm25s(doc_id, bm25)`.
    */
  private[operators] val bm25DuckCtes: String =
    """tok AS (
         SELECT doc_id, unnest(string_split(trim(text),' ')) AS tok FROM documents),
       tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
       df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       terms AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 3),
       stats AS (SELECT COUNT(*) AS n,
           AVG(len(string_split(trim(text),' '))) AS avg_len FROM documents),
       lens AS (SELECT doc_id, len(string_split(trim(text),' ')) AS dl FROM documents),
       contrib AS (
         SELECT tf.doc_id,
           CAST(ROUND(LN((stats.n - terms.df + 0.5)/(terms.df + 0.5) + 1.0)
             * tf.tf * 2.2 / (tf.tf + 1.2*(1 - 0.75 + 0.75*lens.dl/stats.avg_len)), 6)
             AS DECIMAL(18,6)) AS c
         FROM tf JOIN terms ON tf.tok = terms.tok
         JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats),
       bm25s AS (
         SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS bm25
         FROM contrib GROUP BY doc_id)"""

  /** Per-doc BM25 scores (doc_id, bm25) — the Spark twin of
    * [[bm25DuckCtes]], shared by q114 and q116.
    */
  private[operators] def bm25Scores(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val terms = df.orderBy(col("df").desc, col("tok")).limit(3)
    val stats = Tables.documents(s, dir)
      .agg(count(lit(1)).as("n"),
        avg(size(split(trim(col("text")), " "))).as("avg_len"))
    val lens = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(trim(col("text")), " ")).as("dl"))
    tf.join(broadcast(terms), "tok")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats)) // 1-row corpus stats
      .select(col("doc_id"),
        round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          * col("tf") * 2.2 / (col("tf")
            + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dl") / col("avg_len"))), 6)
          .cast("decimal(18,6)").as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("double").as("bm25"))
  }

  /** q114 — BM25 retrieval scoring (Robertson/Spärck Jones; k1=1.2,
    * b=0.75): score every document against the corpus' top-3-DF terms
    * and return the top-20. Fully distributed IR shape: tf and df are
    * hash aggregates, the 3-term query and the 1-row corpus stats
    * broadcast, and the per-(doc, term) contribution is rounded to 6dp
    * and summed as DECIMAL(18,6) — float addition order varies with
    * partitioning, exact decimal addition doesn't, which is what makes
    * a ranked float score hash-checkable at all.
    */
  val q114 = oracled(
    "q114_bm25_search",
    "BM25 top-20 against the corpus' top-3-DF terms (decimal-exact score sum)",
    s"""WITH $bm25DuckCtes
       SELECT doc_id, bm25 FROM bm25s ORDER BY bm25 DESC, doc_id LIMIT 20""") { (s, dir) =>
    bm25Scores(s, dir)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** q124 — sketch-prefiltered heavy hitters: `approx_top_k` (Spark 4's
    * frequent-items sketch) nominates candidate tokens in one pass, and
    * an exact count over ONLY the candidates produces the final top-10
    * — the sketch bounds what the exact pass must count, the exact pass
    * removes the sketch's error from the result (the q103/q108 pattern:
    * approximate to shrink, exact to finish). With capacity above the
    * vocabulary size the sketch is lossless, and any capacity breach
    * that dropped a true heavy hitter would hash-mismatch the plain
    * GROUP BY oracle — the gate checks the composition, not just the
    * final arithmetic.
    */
  val q124 = oracled(
    "q124_heavy_hitters",
    "approx_top_k candidate sketch + exact verification top-10 tokens",
    """SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
       FROM (SELECT unnest(string_split(trim(text),' ')) AS tok FROM documents)
       GROUP BY tok ORDER BY n DESC, tok LIMIT 10""") { (s, dir) =>
    val tok = Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), " ")).as("tok"))
    val cand = tok.agg(expr("approx_top_k(tok, 20, 10000)").as("tk"))
      .select(explode(col("tk")).as("c"))
      .select(col("c.item").as("tok"))
    tok.join(broadcast(cand), "tok")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(10)
  }

  /** q130 — unigram-entropy quality signal: per-doc token-distribution
    * entropy (low entropy ⇒ few distinct tokens dominate ⇒ degenerate
    * text — the information-theoretic sibling of q97's bigram ratio and
    * q122's compression ratio), rolled up per lang.
    *
    * Exactness (ROUNDDIV burndown, VERDICT r10 #7): entropy runs on the
    * shared [[graft.functions.IntLog2]] integer log2 instead of
    * `ROUND(-p·LN p, 6)` — the algebraic lift
    *   H·n = Σ_tok c·(log2 n − log2 c)
    * clears the per-term division entirely, so the inner sum
    *   h_raw = Σ c·(L2_x20(n) − L2_x20(c))
    * is an exact BIGINT (≤ n·L2(n) < 2⁶³ for any doc below ~4·10¹¹
    * tokens), and the per-doc score doc_h_x20 = h_raw div n is a single
    * NON-NEGATIVE floor division (L2 monotone ⇒ every term ≥ 0), where
    * Spark's `div` and DuckDB's `//` agree. No doubles anywhere; units
    * are 2⁻²⁰ bits (log2-base entropy).
    */
  val q130 = oracled(
    "q130_token_entropy",
    "per-doc unigram entropy (exact-integer log2 lift, rolled up per lang)",
    s"""WITH tok AS (
         SELECT doc_id, lang, unnest(string_split(trim(text),' ')) AS tok FROM documents),
       tf AS (SELECT doc_id, lang, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, lang, tok),
       n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nt FROM tf GROUP BY doc_id),
       dh AS (SELECT tf.lang, tf.doc_id,
           SUM(tf.c * (${graft.functions.IntLog2.duckSql("n.nt")}
                     - ${graft.functions.IntLog2.duckSql("tf.c")})) // MAX(n.nt)
             AS doc_h_x20
         FROM tf JOIN n ON tf.doc_id = n.doc_id
         GROUP BY tf.lang, tf.doc_id)
       SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(doc_h_x20) AS BIGINT) AS total_entropy_x20,
         CAST(MIN(doc_h_x20) AS BIGINT) AS min_doc_entropy_x20
       FROM dh GROUP BY lang ORDER BY lang""") { (s, dir) =>
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(split(trim(col("text")), " ")).as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val n = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("nt"))
    val dh = tf.join(n, "doc_id")
      .groupBy(col("lang"), col("doc_id"))
      .agg(sum(expr(s"c * (${graft.functions.IntLog2.sparkSql("nt")}" +
          s" - ${graft.functions.IntLog2.sparkSql("c")})")).as("__hraw"),
        max(col("nt")).as("__nt"))
      .select(col("lang"), col("doc_id"),
        expr("__hraw div __nt").as("doc_h_x20"))
    dh.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_h_x20")).cast("long").as("total_entropy_x20"),
        min(col("doc_h_x20")).cast("long").as("min_doc_entropy_x20"))
      .orderBy(col("lang"))
  }

  /** q131 — distribution drift per language: KL(lang unigram dist ‖
    * corpus dist), the monitoring signal that flags a language slice
    * drifting from the corpus mix (new crawl source, encoding bug,
    * template flood). The global distribution is a broadcast vocabulary
    * join — at 100 TB both distributions are the same two hash
    * aggregates this plan runs.
    *
    * Exactness (ROUNDDIV burndown, VERDICT r10 #7): the q234/q235
    * integer-RATIONAL output template. With p_l = c/t, p_g = g/tg,
    *   KL·t = Σ_tok c·(log2 c + log2 tg − log2 t − log2 g)
    * so the output is the exact rational KL_x20 = kl_num_x20 /
    * toks_total: the numerator Σ c·(L2(c)+L2(tg)−L2(t)−L2(g)) is an
    * exact (possibly negative — chord error can dip tiny terms below
    * zero) sum, accumulated in DECIMAL(38,0) and cast once to BIGINT
    * (the q72/q184 widening — terms are < t·1.8e8, so a lang above
    * ~5e10 tokens would overflow a raw BIGINT fold even though the
    * total fits), and NO division is performed at all — emitting
    * the (num, den) pair sidesteps the Spark-`div`-truncates vs
    * DuckDB-`//`-floors divergence on negative numerators entirely.
    * Units: 2⁻²⁰ bits per token, times toks_total.
    */
  val q131 = oracled(
    "q131_lang_drift_kl",
    "KL divergence of each lang's unigram distribution from the corpus distribution (exact rational)",
    s"""WITH tok AS (SELECT lang, unnest(string_split(trim(text),' ')) AS tok FROM documents),
       lc AS (SELECT lang, tok, COUNT(*) AS c FROM tok GROUP BY lang, tok),
       lt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM lc GROUP BY lang),
       gc AS (SELECT tok, COUNT(*) AS g FROM tok GROUP BY tok),
       gt AS (SELECT CAST(SUM(g) AS BIGINT) AS tg FROM gc),
       term AS (SELECT lc.lang, lt.t,
           lc.c * (${graft.functions.IntLog2.duckSql("lc.c")}
                 + ${graft.functions.IntLog2.duckSql("gt.tg")}
                 - ${graft.functions.IntLog2.duckSql("lt.t")}
                 - ${graft.functions.IntLog2.duckSql("gc.g")}) AS kl_term
         FROM lc JOIN lt ON lc.lang = lt.lang JOIN gc ON lc.tok = gc.tok CROSS JOIN gt)
       SELECT lang,
         CAST(SUM(CAST(kl_term AS DECIMAL(38,0))) AS BIGINT) AS kl_num_x20,
         CAST(MAX(t) AS BIGINT) AS toks_total
       FROM term GROUP BY lang ORDER BY lang""") { (s, dir) =>
    val tok = Tables.documents(s, dir)
      .select(col("lang"), explode(split(trim(col("text")), " ")).as("tok"))
    val lc = tok.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val lt = lc.groupBy(col("lang")).agg(sum(col("c")).as("t"))
    val gc = tok.groupBy(col("tok")).agg(count(lit(1)).as("g"))
    val gt = gc.agg(sum(col("g")).as("tg"))
    lc.join(broadcast(lt), "lang")
      .join(gc, "tok")
      .crossJoin(broadcast(gt)) // 1-row corpus total
      .select(col("lang"), col("t"),
        expr(s"c * (${graft.functions.IntLog2.sparkSql("c")}" +
          s" + ${graft.functions.IntLog2.sparkSql("tg")}" +
          s" - ${graft.functions.IntLog2.sparkSql("t")}" +
          s" - ${graft.functions.IntLog2.sparkSql("g")})").as("kl_term"))
      .groupBy(col("lang"))
      .agg(sum(col("kl_term").cast("decimal(38,0)")).cast("long")
          .as("kl_num_x20"),
        max(col("t")).cast("long").as("toks_total"))
      .orderBy(col("lang"))
  }

  /** q142 — overlapping text chunking (the embedding-ingestion / RAG
    * prep operator): every document splits into 200-char windows on a
    * 150-char stride (50-char overlap), with stable (doc_id, chunk_id)
    * identity so re-chunks are idempotent and chunk-level artifacts
    * (embeddings, fingerprints) can be maintained incrementally. The
    * whole operator is scan-side arithmetic — `sequence` + one
    * generator explode, no shuffle until the final order — so at 100 TB
    * it streams: output volume (~n_chars × 4/3 from the overlap) is the
    * only cost. Chunk count = max(ceil((n_chars - overlap) / stride), 1)
    * computed as (n_chars + 99) div 150 on both engines' integer
    * division; every doc yields at least one chunk (empty docs
    * included — losing them would silently shrink the corpus).
    */
  val q142 = oracled(
    "q142_text_chunking",
    "overlapping 200/150 char chunking with stable chunk identity",
    """SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_id,
         substr(text, CAST(u.i * 150 + 1 AS INTEGER), 200) AS chunk_text,
         CAST(length(substr(text, CAST(u.i * 150 + 1 AS INTEGER), 200)) AS BIGINT)
           AS chunk_len
       FROM (SELECT doc_id, text,
               unnest(range(0, GREATEST((n_chars + 99) // 150, 1))) AS i
             FROM documents) u
       ORDER BY doc_id, chunk_id""") { (s, dir) =>
    val k = greatest(expr("(n_chars + 99) div 150"), lit(1L))
    val start = col("chunk_id") * 150
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), k - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        col("text").substr(start + 1, lit(200)).as("chunk_text"),
        length(col("text").substr(start + 1, lit(200))).cast("long").as("chunk_len"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** q147 — chi-square independence screen over the lang × source
    * contingency table: the monitoring sibling of q131's KL drift (KL
    * asks "did the lang mix move vs a reference"; chi-square asks "are
    * lang and source associated at all" — the corpus-balance audit run
    * before mixing weights are trusted). Cells aggregate once; row and
    * column totals come from window sums OVER THE 25-ROW CELL TABLE, so
    * the heavy input is touched exactly once regardless of table count.
    *
    * Exactness (ROUNDDIV burndown, VERDICT r10 #7): the output is the
    * contingency table's EXACT integer pieces — obs, row_tot, col_tot,
    * n, and the signed residual numerator resid_num = obs·n −
    * row_tot·col_tot. Expected = row·col/n and the chi-square
    * contribution resid_num²/(n·row_tot·col_tot) are derivable
    * rationals; neither division nor the square is performed in the
    * gate (the square alone would overflow BIGINT ~3·10⁹ docs before
    * any published column does; all outputs stay < 2^63 to that point,
    * DECIMAL(38,0) beyond — documented, not silent).
    */
  val q147 = oracled(
    "q147_chi_square",
    "lang x source contingency: exact totals + signed chi-square residual numerators",
    """WITH cells AS (
         SELECT lang, source, COUNT(*) AS obs FROM documents GROUP BY 1, 2),
       t AS (
         SELECT lang, source, obs,
           SUM(obs) OVER (PARTITION BY lang) AS row_tot,
           SUM(obs) OVER (PARTITION BY source) AS col_tot,
           SUM(obs) OVER () AS n
         FROM cells)
       SELECT lang, source, CAST(obs AS BIGINT) AS obs,
         CAST(row_tot AS BIGINT) AS row_tot,
         CAST(col_tot AS BIGINT) AS col_tot,
         CAST(n AS BIGINT) AS n,
         CAST(obs * n - row_tot * col_tot AS BIGINT) AS resid_num
       FROM t ORDER BY lang, source""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("obs"))
    cells
      .withColumn("row_tot", sum(col("obs")).over(Window.partitionBy(col("lang"))))
      .withColumn("col_tot", sum(col("obs")).over(Window.partitionBy(col("source"))))
      .withColumn("n", sum(col("obs")).over(Window.partitionBy()))
      .select(col("lang"), col("source"), col("obs"),
        col("row_tot"), col("col_tot"), col("n"),
        (col("obs") * col("n") - col("row_tot") * col("col_tot"))
          .as("resid_num"))
      .orderBy(col("lang"), col("source"))
  }

  /** q156 — corpus-saturation curve (Heaps'-law novelty rate): slice the
    * observed COLLECTION WINDOW into ten equal event-time intervals
    * (each document's publication instant is its matching event's
    * timestamp — doc_id = event_id is a 1:1 equi-join against the events
    * table, the fixture's real time axis; equal-width slicing of
    * [min ts, max ts] keeps all ten buckets populated at every scale,
    * where fixed calendar buckets degenerate because doc ids are an
    * id-prefix of a ts-ordered event stream) and report, per interval,
    * how many trigram TYPES appear there for the first time — the
    * diminishing-returns metric a data-collection pipeline watches to
    * decide when more of the same source stops adding new content. The
    * scale shape is the non-obvious part: "cumulative distinct" is not
    * computable as a running window (distinct state grows with the
    * corpus); instead each type's FIRST interval is one min-aggregate
    * over the trigram stream (partial-agg, mergeable), and the curve
    * falls out of a 10-row histogram — the same first-occurrence trick
    * q120's winnowing uses for anchors. The window span is a 1-row
    * aggregate broadcast back over the corpus (q101's crossJoin
    * pattern — no driver job, no corpus-wide window). All bucket
    * arithmetic is exact BIGINT microseconds; the novelty RATE is the
    * exact rational new_types/n_trigrams already present as two output
    * columns, so no ratio column is published at all (ROUNDDIV
    * burndown, VERDICT r10 #7).
    * Reuses the memoized tokenized corpus ([[Dedup.tokenized]]).
    */
  val q156 = oracled(
    "q156_vocab_growth",
    "per-time-slice novel-trigram rate (Heaps-law saturation curve) via first-occurrence min-agg",
    """WITH de AS (SELECT d.doc_id, d.text,
           epoch_us(CAST(e.ts AS TIMESTAMP)) AS us
         FROM documents d JOIN events e ON d.doc_id = e.event_id),
       sp AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM de),
       w AS (SELECT (us - mn) * 10 // (mx - mn + 1) AS decile,
           string_split(trim(text), ' ') AS ws
         FROM de CROSS JOIN sp),
       dec AS (SELECT decile, unnest(list_transform(range(1, len(ws) - 1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tri FROM w),
       first AS (SELECT tri, MIN(decile) AS fd FROM dec GROUP BY tri),
       newt AS (SELECT fd AS decile, COUNT(*) AS new_types FROM first GROUP BY fd),
       tot AS (SELECT decile, COUNT(*) AS n_trigrams FROM dec GROUP BY decile)
       SELECT t.decile,
         CAST(COALESCE(nw.new_types, 0) AS BIGINT) AS new_types,
         CAST(t.n_trigrams AS BIGINT) AS n_trigrams,
         CAST(SUM(COALESCE(nw.new_types, 0)) OVER
           (ORDER BY t.decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
       FROM tot t LEFT JOIN newt nw ON nw.decile = t.decile
       ORDER BY t.decile""") { (s, dir) =>
    val de = Dedup.tokenized(s, dir)
      .join(Tables.events(s, dir)
        .select(col("event_id").as("doc_id"),
          unix_micros(col("ts")).as("us")), "doc_id")
    val span = de.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val tris = de.crossJoin(broadcast(span))
      .select(expr("(us - mn) * 10 div (mx - mn + 1)").as("decile"),
        explode(when(size(col("toks")) >= 3,
          expr("transform(sequence(0, size(toks) - 3), " +
            "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
          .otherwise(array())).as("tri"))
    val first = tris.groupBy(col("tri")).agg(min(col("decile")).as("fd"))
    val newt = first.groupBy(col("fd").as("decile"))
      .agg(count(lit(1)).as("new_types"))
    val tot = tris.groupBy(col("decile")).agg(count(lit(1)).as("n_trigrams"))
    // the curve itself is 10 rows: the running sum is a tiny post-agg
    // window, same class as q148's transition matrix
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    tot.join(newt, Seq("decile"), "left")
      .select(col("decile"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        col("n_trigrams"))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .orderBy(col("decile"))
  }

  /** q168 — trending terms: per event-time epoch (the observed
    * collection window [min ts, max ts] sliced into 5 equal intervals —
    * each document's publication instant is its matching event's
    * timestamp, doc_id = event_id 1:1 against the events table; see
    * q156 for why equal-width span slicing, not calendar buckets), the
    * top-5 tokens by frequency with their rank and the rank movement vs
    * the previous epoch — the "what's rising" dashboard over any text
    * stream. Shapes: a 1-row span aggregate broadcast over the corpus,
    * one explode→count shuffle; ranking and the epoch-over-epoch lag
    * run on the per-epoch VOCABULARY table (tokens × epochs,
    * corpus-independent size), so the windows never see corpus-scale
    * rows. All integer arithmetic; rank ties break on the token itself.
    */
  val q168 = oracled(
    "q168_trending_terms",
    "per-time-epoch top-5 tokens with rank and epoch-over-epoch rank delta",
    """WITH de AS (SELECT d.text,
           epoch_us(CAST(e.ts AS TIMESTAMP)) AS us
         FROM documents d JOIN events e ON d.doc_id = e.event_id),
       sp AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM de),
       tok AS (SELECT (us - mn) * 5 // (mx - mn + 1) AS epoch,
           unnest(string_split(trim(text), ' ')) AS tok
         FROM de CROSS JOIN sp),
       cnt AS (SELECT epoch, tok, CAST(COUNT(*) AS BIGINT) AS n_occ
         FROM tok GROUP BY epoch, tok),
       rk AS (SELECT epoch, tok, n_occ,
           CAST(row_number() OVER (PARTITION BY epoch
             ORDER BY n_occ DESC, tok) AS BIGINT) AS rnk
         FROM cnt),
       mv AS (SELECT epoch, tok, n_occ, rnk,
           lag(rnk) OVER (PARTITION BY tok ORDER BY epoch) AS prev_rnk
         FROM rk)
       SELECT epoch, tok, n_occ, rnk,
         CAST(COALESCE(prev_rnk - rnk, 0) AS BIGINT) AS rank_gain
       FROM mv WHERE rnk <= 5
       ORDER BY epoch, rnk""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val de = Dedup.tokenized(s, dir)
      .join(Tables.events(s, dir)
        .select(col("event_id").as("doc_id"),
          unix_micros(col("ts")).as("us")), "doc_id")
    val span = de.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val cnt = de.crossJoin(broadcast(span))
      .select(expr("(us - mn) * 5 div (mx - mn + 1)").as("epoch"),
        explode(col("toks")).as("tok"))
      .groupBy(col("epoch"), col("tok"))
      .agg(count(lit(1)).as("n_occ"))
    val rk = cnt.withColumn("rnk",
      row_number().over(Window.partitionBy(col("epoch"))
        .orderBy(col("n_occ").desc, col("tok"))).cast("long"))
    rk.withColumn("prev_rnk",
        lag(col("rnk"), 1).over(Window.partitionBy(col("tok")).orderBy(col("epoch"))))
      .filter(col("rnk") <= 5)
      .select(col("epoch"), col("tok"), col("n_occ"), col("rnk"),
        coalesce(col("prev_rnk") - col("rnk"), lit(0L)).as("rank_gain"))
      .orderBy(col("epoch"), col("rnk"))
  }

  /** q177 — Count-min sketch frequency estimation under its one-sided
    * error CONTRACT (the q19/q165/q176 gate style, for the frequency
    * sketch the family was missing): ONE pass folds every token
    * occurrence into a fixed 4×8192 counter grid (native
    * [[graft.functions.CountMinAgg]], mergeable elementwise like the
    * daily HLLs of q176), then the exact top-20 tokens are point-probed
    * against the sketch with plain built-in arithmetic (`pmod` +
    * `element_at` + `least` — the estimate needs no custom scalar).
    * Two contract columns cross the gate: `never_undercounts`
    * (CMS collisions only ADD — deterministically TRUE by construction)
    * and `within_eps` (estimate ≤ exact + (e/width)·N — the classic
    * Cormode-Muthukrishnan bound; with 8192 cells/row and 4 rows it
    * holds with wide margin on every fixture scale). The oracle
    * recomputes exact counts and emits literal TRUE for both. At
    * 100 TB: the sketch is 256 KB regardless of corpus size, partials
    * merge associatively, and no per-token frequency table ever
    * shuffles — approximate-count infrastructure a mixture-weighting or
    * vocabulary-pruning stage reads instead of a full GROUP BY.
    */
  val q177 = oracled(
    "q177_count_min_sketch",
    "count-min sketch (4x8192) point estimates vs exact top-20: one-sided error contract",
    """WITH tok AS (
         SELECT unnest(string_split(trim(text),' ')) AS tok FROM documents)
       SELECT tok, CAST(COUNT(*) AS BIGINT) AS n,
         TRUE AS never_undercounts, TRUE AS within_eps
       FROM tok GROUP BY tok ORDER BY n DESC, tok LIMIT 20""") { (s, dir) =>
    import graft.functions.CountMinAgg
    val depth = 4
    val width = 8192
    val p = Dedup.P
    val tok = Dedup.tokenized(s, dir).select(explode(col("toks")).as("tok"))
    val occ = tok.withColumn("h", rollingHash(col("tok")))
    val sketch = occ.agg(
      CountMinAgg.countMinAgg(col("h"), depth, width, p).as("sk"),
      count(lit(1)).as("n_total"))
    val top = occ.groupBy(col("tok"), col("h"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)
    // point probe: cell index per row i is ((h*a_i+b_i) mod p) mod width,
    // the exact arithmetic CountMinAgg.update ran on the build side
    val est = least((0 until depth).map { i =>
      element_at(col("sk"),
        (lit(i * width)
          + pmod(col("h") * CountMinAgg.rowA(i) + CountMinAgg.rowB(i), lit(p)) % width
          + 1).cast("int"))
    }: _*)
    top.crossJoin(broadcast(sketch))
      .select(col("tok"), col("n"),
        (est >= col("n")).as("never_undercounts"),
        (est - col("n") <= col("n_total").cast("double") * (math.E / width))
          .as("within_eps"))
      .orderBy(col("n").desc, col("tok"))
  }

  /** q185 — PMI collocations: the adjacent-bigram pairs whose joint
    * frequency most exceeds what their parts predict —
    * PMI = ln(c12·N / (c1·c2)) over the bigram table and its OWN
    * marginals (q76's construction; the marginal rollups and the final
    * ranking all run on the vocabulary² relation, never corpus rows,
    * and the join is UNHINTED — at 100 TB the marginal tables are
    * vocabulary-sized, the q64 lesson, so stats/AQE pick the join).
    * The score is the exact-integer log2 PMI (ROUNDDIV burndown,
    * VERDICT r10 #7 — the q64/q130 [[graft.functions.IntLog2]]
    * discipline): pmi_x20 = L2(c12) + L2(N) − L2(c1) − L2(c2), every
    * term a BIGINT both engines compute identically (base-2 vs base-e
    * rescales all scores by one constant — ranking semantics
    * unchanged; chord error ≤ 4·0.0861 log2 units). Min support 20
    * keeps the low-count PMI pathology (hapax pairs score highest) out
    * of the ranking — the standard collocation-extraction guard.
    */
  val q185 = oracled(
    "q185_pmi_collocations",
    "top-20 adjacent-bigram collocations by exact-integer log2 PMI (min support 20)",
    s"""WITH t AS (
         SELECT string_split(trim(text), ' ') AS toks FROM documents),
       bg AS (
         SELECT w1, w2, COUNT(*) AS c12 FROM (
           SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
                  unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
           FROM t) GROUP BY w1, w2),
       n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n2 FROM bg),
       m1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bg GROUP BY w1),
       m2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM bg GROUP BY w2)
       SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
         CAST(${graft.functions.IntLog2.duckSql("c12")}
            + ${graft.functions.IntLog2.duckSql("n.n2")}
            - ${graft.functions.IntLog2.duckSql("m1.c1")}
            - ${graft.functions.IntLog2.duckSql("m2.c2")} AS BIGINT) AS pmi_x20
       FROM bg JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN n
       WHERE c12 >= 20
       ORDER BY pmi_x20 DESC, w1, w2 LIMIT 20""") { (s, dir) =>
    val pairs = Dedup.tokenized(s, dir)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // one corpus-side aggregate; marginals + ranking run on vocab² rows
    val bg = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n2 = bg.agg(sum(col("c12")).cast("long").as("n2"))
    val m1 = bg.groupBy(col("w1")).agg(sum(col("c12")).cast("long").as("c1"))
    val m2 = bg.groupBy(col("w2")).agg(sum(col("c12")).cast("long").as("c2"))
    bg.filter(col("c12") >= 20)
      .join(m1, "w1").join(m2, "w2").crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c12"),
        expr(s"${graft.functions.IntLog2.sparkSql("c12")}" +
          s" + ${graft.functions.IntLog2.sparkSql("n2")}" +
          s" - ${graft.functions.IntLog2.sparkSql("c1")}" +
          s" - ${graft.functions.IntLog2.sparkSql("c2")}").cast("long")
          .as("pmi_x20"))
      .orderBy(col("pmi_x20").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Feature-hashing dimension (the "hashing trick" width). Deliberately
    * SMALL so bucket collisions actually occur on the fixture and the
    * collision accounting column is exercised — production would use
    * 2^18+; nothing below depends on the value.
    */
  private val HashDim = 64

  /** q190 — feature hashing (Weinberger et al. 2009): the fixed-width
    * sparse bag-of-words matrix a linear/logistic trainer consumes,
    * (doc, feature_bucket, count) with feature = rolling_hash(token)
    * mod [[HashDim]] — no vocabulary dictionary, no fit/transform state,
    * which is the whole point at corpus scale: the encoder is stateless,
    * so new shards stream through without a vocabulary rebuild or a
    * broadcast (exactly the dictionary join q64's TF-IDF cannot avoid).
    * `n_terms` counts the distinct tokens sharing the bucket — the
    * collision ledger that tells you when the dimension is too small.
    * Shape: memoized tokenized corpus → explode → ONE partial-aggregated
    * groupBy; the hash is the native codegen'd [[RollingHash]], mirrored
    * in DuckDB by its documented list_reduce spelling (q43's proven
    * parity). Output capped to doc_id < 50 (the q64 convention).
    */
  val q190 = oracled(
    "q190_feature_hashing",
    s"hashing-trick sparse features (dim $HashDim) with per-bucket collision counts",
    s"""WITH tok AS (
         SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
         FROM documents WHERE doc_id < 50),
       f AS (SELECT doc_id, (${duckSql("tok")}) % $HashDim AS feature, tok
         FROM tok)
       SELECT doc_id, CAST(feature AS BIGINT) AS feature,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_terms
       FROM f GROUP BY doc_id, feature
       ORDER BY doc_id, feature""") { (s, dir) =>
    Dedup.tokenized(s, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      // rollingHash lands in [0, mod), so % == pmod here
      .select(col("doc_id"), (rollingHash(col("tok")) % HashDim).as("feature"),
        col("tok"))
      .groupBy(col("doc_id"), col("feature"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("tok")).as("n_terms"))
      .orderBy(col("doc_id"), col("feature"))
  }

  /** q197 — exact all-pairs TF-IDF cosine within (lang, source) blocks,
    * top-20: the weighted sibling of q48's Jaccard join. Weights are
    * q64's exact-integer log2 tf-idf de-scaled 10 bits (ROUNDDIV
    * burndown, VERDICT r10 #7):
    *   wi = tf·(L2_x20(N+1) − L2_x20(df+1)) div 1024
    * (no transcendental: wi ≤ tf·42·2¹⁰ keeps wi² < 2^63, every dot and
    * norm is an exact BIGINT, so join order / partial aggregation /
    * engine make no difference). The only serving-time doubles are the
    * final IEEE dot/(|a||b|) divisions of exact integers. Norms cover
    * the FULL vector (blocking restricts candidates, not geometry).
    *
    * CANDIDATE SCHEME (r13 VERDICT #1 — the suite's last quadratic
    * intermediate): the unfiltered posting self-join carried
    * Σ_token |posting|² rows (measured 86 M at the 10× fixture for a
    * 20-row output). It is replaced by a THRESHOLD-TRACK L2 PREFIX
    * FILTER (Bayardo et al., WWW'07 all-pairs; the suffix-norm bound is
    * L2AP's l2 bound, Anastasiu & Karypis, ICDE'14):
    *
    *  1. τ track — ONE candidate pair per document (its smallest
    *     SimHash-Hamming-≤3 partner, read from the memoized q47 pair
    *     table), block-filtered and scored with the exact final
    *     formula: a linear-sized set of REAL pairs of the answer
    *     relation, and — because the global top-20 are extreme
    *     near-duplicates — one that reaches the true floor (measured
    *     sf1: τ = 0.959 = the true 20th-best). With ≥ 20 such pairs,
    *     τ = the minimum of their top-20 cosines lower-bounds the true
    *     20th-best pair cosine (20 real pairs score ≥ τ); with < 20,
    *     τ = 0 and the plan degenerates to the complete unfiltered
    *     join. (The first draft grouped identical pruned vectors —
    *     exact-dup groups — but the real corpus has none at any scale:
    *     the near-dups differ in surviving tokens, so the τ source
    *     must be a near-dup detector, not an equality group.)
    *  2. Prefix — per doc, tokens ordered rarest-first (df, tok); rank
    *     r stays in the prefix iff min(Σ_{j≥r} ŵ_j·mw(t_j),
    *     √(Σ_{j≥r} ŵ_j²)) ≥ τ − 1e-9, where ŵ = wi/√n2 and mw(t) is
    *     the corpus max of ŵ over t. COMPLETENESS: if a pair (a,b)
    *     with cos ≥ τ shared no token of a's prefix, its whole dot
    *     would live in a's suffix, and cos(a,b) = Σ_suffix ŵa·ŵb is
    *     bounded BOTH by Σ_suffix ŵa·mw (each partner weight ≤ its
    *     corpus max) AND by ‖â_suffix‖·‖b̂‖ = ‖â_suffix‖
    *     (Cauchy-Schwarz, b̂ unit) — both < τ − 1e-9 outside the
    *     prefix, contradiction; the 1e-9 guard dwarfs the ~1e-15 IEEE
    *     noise of the bound arithmetic (the dot itself is an exact
    *     integer), so float error can only LENGTHEN a prefix. Probing
    *     EVERY doc's prefix against FULL postings therefore catches
    *     every qualifying pair from the a-side alone. At τ ≈ 1 the l2
    *     bound collapses prefixes to ~1 token/doc: measured candidate
    *     mass at the 10× fixture is 9.3 M probe rows / 4.2 M distinct
    *     candidates (63× below the 587 M unfiltered join mass); at
    *     sf0.01 the fallback τ = 0 branch is the old plan exactly.
    *  3. Verify — candidates join the per-doc sorted (tok, wi) arrays
    *     and the dot is re-derived EXACTLY: integer Σ wa·wb via the
    *     codegen'd [[graft.functions.SortedDotLong]] two-pointer
    *     merge, so the emitted (dot, cosine) are bit-identical to the
    *     oracle's unfiltered join. (A map_from_entries + aggregate-HOF
    *     draft was CodegenFallback — interpreted, one map allocation
    *     per pair — and dominated the verify; the q70 lesson repeats.)
    *
    * The wi ≠ 0 prune stays upstream of everything (df → N sends
    * corpus-hot tokens to wi = 0, contributing 0 to every dot and
    * norm — value-neutral by the dot > 0 output filter).
    */
  val q197 = oracled(
    "q197_tfidf_cosine_pairs",
    "inverted-index all-pairs TF-IDF cosine (exact-integer log2 weights), top-20",
    s"""WITH tok AS (
         SELECT doc_id, lang, source,
           unnest(string_split(trim(text), ' ')) AS tok
         FROM documents),
       tf AS (SELECT doc_id, lang, source, tok, COUNT(*) AS tf
         FROM tok GROUP BY 1, 2, 3, 4),
       df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
       n AS (SELECT COUNT(*) AS n_docs FROM documents),
       w AS (SELECT doc_id, lang, source, tf.tok,
           tf.tf * (${graft.functions.IntLog2.duckSql("(n.n_docs + 1)")}
                  - ${graft.functions.IntLog2.duckSql("(df.df + 1)")}) // 1024
             AS wi
         FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
       nrm AS (SELECT doc_id, CAST(SUM(wi * wi) AS BIGINT) AS n2
         FROM w GROUP BY 1),
       dt AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(SUM(a.wi * b.wi) AS BIGINT) AS dot
         FROM w a JOIN w b ON a.tok = b.tok AND a.lang = b.lang
           AND a.source = b.source AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       sc AS (SELECT doc_a, doc_b, dot,
           CAST(dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
         FROM dt JOIN nrm na ON na.doc_id = dt.doc_a
                 JOIN nrm nb ON nb.doc_id = dt.doc_b)
       SELECT doc_a, doc_b, dot, cosine FROM sc WHERE dot > 0
       ORDER BY cosine DESC, doc_a, doc_b LIMIT 20""") { (s, dir) =>
    val (w, vecs) = tfidfArtifacts(s, dir)
    // --- τ track: one memoized near-dup pair per doc (scaladoc §1) ---
    import graft.functions.SortedDotLong.sortedDotLong
    val tauPairs = Dedup.simhashPairs(s, dir)
      .groupBy(col("doc_a")).agg(min(col("doc_b")).as("doc_b"))
      .join(vecs.select(col("doc_id").as("doc_a"), col("lang").as("la"),
        col("source").as("sa"), col("ka").as("kaa"), col("wa").as("waa"),
        col("n2").as("na")), "doc_a")
      .join(vecs.select(col("doc_id").as("doc_b"), col("lang"),
        col("source"), col("ka").as("kab"), col("wa").as("wab"),
        col("n2").as("nb")), "doc_b")
      .filter(col("la") === col("lang") && col("sa") === col("source"))
      .select((sortedDotLong(col("kaa"), col("waa"), col("kab"), col("wab"))
        .cast("double")
        / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
        .as("cs"))
    val tau = tauPairs
      .orderBy(col("cs").desc).limit(20)
      .agg(when(count(lit(1)) === 20, min(col("cs")))
        .otherwise(lit(0.0)).as("tau"))
    cosinePrefixPairs(w, vecs, tau)
      .filter(col("dot") > 0)
      .select(col("doc_a"), col("doc_b"), col("dot"), col("cosine"))
      .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** The exact-integer tf-idf weight relation (doc_id, lang, source,
    * tok, df, wi) with wi ≠ 0, plus its per-doc vector/norm form —
    * persisted parquet artifacts shared by q197 and the unified
    * similarity join (q322): in a production retrieval stack the
    * weighted postings are a persisted artifact every similarity
    * consumer reads, not a per-query recomputation (the `tokenized` /
    * `simhashes` memo discipline; ~12 s of the q197 sf1 time was this
    * build, and q322 was paying it again). The vector form is built
    * FROM the weights artifact's file scan, so a cold start writes two
    * artifacts off one weights materialization.
    */
  private[graft] def tfidfArtifacts(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val w = graft.Memo.artifact(s, dir, "tfidf_weights")(tfidfWeightsOf(s, dir))
    (w, graft.Memo.artifact(s, dir, "tfidf_vecs")(tfidfVecs(w)))
  }

  private[graft] def tfidfWeights(s: SparkSession, dir: String): DataFrame =
    tfidfArtifacts(s, dir)._1

  /** Un-memoized build — see [[tfidfArtifacts]]. One materialization
    * feeds the norms, the vector arrays, the postings, and the prefix
    * derivation (the r13 plan rebuilt the weight join three times).
    */
  /** Per-(doc, token) term frequencies from a (doc_id, lang, source,
    * toks) frame — factored so the streaming similarity join
    * ([[graft.streaming.SimilarityJoinStream]]) scores its arrivals
    * through the SAME aggregation the batch artifacts were built with.
    */
  private[graft] def termFrequencies(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), col("lang"), col("source"),
        explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("lang"), col("source"), col("tok"))
      .agg(count(lit(1)).as("tf"))

  /** The IDF dictionary from a term-frequency relation: (tok, tid, df)
    * under the deterministic (tok) total order — see the dictionary
    * rationale in [[tfidfWeightsOf]].
    */
  private[graft] def dictOf(tf: DataFrame): DataFrame =
    graft.plans.Ordinal.withGlobalOrdinal(
      tf.groupBy(col("tok")).agg(count(lit(1)).as("df")), "tid", col("tok"))

  /** The FROZEN-dictionary artifact for streaming consumers: (tok,
    * tid, df) persisted beside the weight artifacts. A production
    * retrieval stack does not recompute IDF per event — the dictionary
    * is a periodically-rebuilt snapshot artifact, and arrivals are
    * scored against it; [[SimilarityJoinStream]]'s stream == batch
    * equality holds exactly when the stream replays the corpus the
    * dictionary was frozen from (its scaladoc states the contract).
    */
  private[graft] def tfidfDict(s: SparkSession, dir: String): DataFrame =
    graft.Memo.artifact(s, dir, "tfidf_dict")(
      dictOf(termFrequencies(Dedup.tokenized(s, dir))))

  /** Exact-integer weights for a term-frequency relation against a
    * FIXED dictionary + corpus size — the shared arithmetic of
    * [[tfidfWeightsOf]] (which feeds it the corpus-derived dictionary)
    * and the streaming scorer (which feeds it the frozen one).
    * `nDocs`: a 1-row (n_docs) frame, broadcast-crossed to keep the
    * plan lazy. Tokens absent from the dictionary drop out (the inner
    * join) — impossible on the dictionary's own corpus, the declared
    * OOV policy for anything newer.
    */
  private[graft] def weightsFromDict(tf: DataFrame, dict: DataFrame,
      nDocs: DataFrame): DataFrame =
    tf.join(dict, "tok")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("lang"), col("source"),
        col("tid"), col("df"),
        expr(s"tf * (${graft.functions.IntLog2.sparkSql("(n_docs + 1L)")}" +
          s" - ${graft.functions.IntLog2.sparkSql("(df + 1L)")}) div 1024")
          .as("wi"))
      // EXACT hot-token prune: the div-1024 quantization sends common
      // tokens (df → N ⟹ log gap → 0) to wi = 0, and a zero weight
      // contributes 0 to every dot and every norm — dropping those rows
      // changes NO value (pairs whose every shared token is zero-weight
      // had dot = 0, below every positive threshold and excluded by
      // q197's dot > 0 filter) while removing the corpus-hot postings.
      .filter(col("wi") =!= 0L)

  private def tfidfWeightsOf(s: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokenized(s, dir)
    val tf = termFrequencies(toks)
      .localCheckpoint() // feeds df and the weight join
    // df from the COLLAPSED (doc, tok) relation: tf already holds one
    // row per document-token, so df is a cheap second-level count —
    // the previous countDistinct(doc_id) over raw postings was a
    // second corpus-sized shuffle (plus distinct's own two-phase agg)
    // for the same number
    // the dictionary: a dense BIGINT id per DISTINCT token under the
    // deterministic (tok) total order — a bijection, so joins and
    // merges on tid are joins and merges on the token, at 1/10 the
    // row width of the string (the r14 verify OOM was rows carrying
    // string-keyed struct arrays through two sort-merge joins). Built
    // with the distributed ordinal (range sort + stitch), never a
    // single-partition window — the vocabulary is corpus-scale at
    // 100 TB even though this fixture's is ~4 k.
    // the token STRING does not survive into the artifact: ordering,
    // grouping and join keys all use the dictionary id (a bijection
    // ordered BY the token, so (df, tid) is the (df, tok) order) —
    // the resident memo carries ~half the bytes
    val dfreq = dictOf(tf)
    val nDocs = toks.agg(count(lit(1)).as("n_docs"))
    weightsFromDict(tf, dfreq, nDocs)
      .localCheckpoint()
  }

  /** Per-doc PRIMITIVE vector form + exact norm — the verify side of
    * the prefix-filtered joins: sorted dictionary ids `ka` with
    * aligned weights `wa` as parallel ARRAY<BIGINT> (doc-length
    * bounded, one row per doc; primitive arrays so the verify merge
    * is allocation-free — see [[graft.functions.SortedDotLong]]).
    */
  private[graft] def tfidfVecs(w: DataFrame): DataFrame =
    w.groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(sort_array(collect_list(struct(col("tid"), col("wi")))).as("v"),
        sum(col("wi") * col("wi")).as("n2"))
      .select(col("doc_id"), col("lang"), col("source"),
        transform(col("v"), e => e.getField("tid")).as("ka"),
        transform(col("v"), e => e.getField("wi")).as("wa"),
        col("n2"))
      .localCheckpoint()

  /** L2-prefix-filtered cosine pair join at threshold `tau` (a 1-row
    * (tau DOUBLE) frame, broadcast-crossed so the whole plan stays
    * lazy): returns every same-(lang, source) pair with cosine ≥ tau —
    * possibly more (candidates the prefix could not exclude; callers
    * re-filter) — as (doc_a, doc_b, dot, cosine) with the dot
    * re-derived EXACTLY from the full integer vectors. Completeness
    * proof and bound derivation: q197's scaladoc §2-3. τ = 0
    * degenerates to the complete unfiltered posting join.
    */
  private[graft] def cosinePrefixPairs(w: DataFrame, vecs: DataFrame,
      tau: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // prefix under min(Σ ŵ·mw, ‖suffix‖) ≥ τ − 1e-9, rarest-first
    val nw = w.join(vecs.select(col("doc_id"), col("n2")), "doc_id")
      .withColumn("nwt",
        col("wi").cast("double") / sqrt(col("n2").cast("double")))
    val mw = nw.groupBy(col("tid")).agg(max(col("nwt")).as("mw"))
    val tailW = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("tid"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prefix = nw.join(mw, "tid").crossJoin(broadcast(tau))
      .withColumn("tailb", sum(col("nwt") * col("mw")).over(tailW))
      .withColumn("tailn", sqrt(sum(col("nwt") * col("nwt")).over(tailW)))
      .filter(least(col("tailb"), col("tailn")) >= col("tau") - 1e-9)
      .select(col("doc_id"), col("lang"), col("source"), col("tid"))
    val cand = prefix.alias("x")
      .join(w.select(col("doc_id"), col("lang"), col("source"),
          col("tid")).alias("y"),
        col("x.tid") === col("y.tid") && col("x.lang") === col("y.lang")
          && col("x.source") === col("y.source")
          && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    // exact verify over the pair's FULL vectors: integer Σ wa·wb via
    // the codegen'd two-pointer merge on the sorted term arrays. The
    // vec side carries the term ARRAYS — merge-hinted so no policy
    // ever broadcasts megabytes of arrays per rep (the r14 bench OOM:
    // array broadcasts from concurrent verify joins outlived their
    // reps faster than the ContextCleaner reclaimed them)
    import graft.functions.SortedDotLong.sortedDotLong
    cand
      .join(vecs.select(col("doc_id").as("doc_a"), col("ka").as("kaa"),
        col("wa").as("waa"), col("n2").as("na")).hint("merge"), "doc_a")
      .join(vecs.select(col("doc_id").as("doc_b"), col("ka").as("kab"),
        col("wa").as("wab"), col("n2").as("nb")).hint("merge"), "doc_b")
      .withColumn("dot",
        sortedDotLong(col("kaa"), col("waa"), col("kab"), col("wab")))
      .select(col("doc_a"), col("doc_b"), col("dot"),
        (col("dot").cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cosine"))
  }

  /** TextRank fixed-point scale (independent of Graph.Scale — no
    * cross-module constant entanglement): ranks are integers ≤ 1e9,
    * per-edge contributions ≤ rank·w < 2^53 at any fixture scale.
    */
  private val TrScale = 1000000000L
  private val TrIters = 4
  private val TrMinW = 5L

  /** q203 — TextRank keyword extraction (Mihalcea & Tarau 2004): the
    * graph ranking a keyword/keyphrase-extraction stage runs — tokens
    * are nodes, undirected co-occurrence edges come from ADJACENT
    * bigrams (weight = total occurrences both directions, min support
    * [[TrMinW]]), and importance is weighted PageRank. The q152/q188
    * gate discipline on a text-derived graph: all-BIGINT fixed-point
    * recurrence `rank' = (15·S)//(100·n) + 85·(Σ rank·w // sw)//100`,
    * identical floor arithmetic in the Spark loop and the oracle's
    * unrolled CTE chain, so the gate is bit-exact — no damping-factor
    * doubles anywhere. Scale shape: the ONE corpus-sized pass is the
    * bigram aggregate (the q185 pattern); the graph and every
    * iteration live on vocabulary² rows. The corpus never re-scans.
    */
  val q203 = oracled(
    "q203_textrank_keywords",
    "TextRank keywords: weighted integer PageRank over the adjacent-bigram co-occurrence graph",
    {
      def step(k: Int): String =
        s"""pr$k AS (
           SELECT nd.tok,
             (15 * CAST($TrScale AS BIGINT)) // (100 * (SELECT COUNT(*) FROM nodes))
               + (85 * COALESCE(fl.inflow, 0)) // 100 AS rnk
           FROM nodes nd LEFT JOIN (
             SELECT d.dst AS tok,
               CAST(SUM((p.rnk * d.w) // sw.sw) AS BIGINT) AS inflow
             FROM pr${k - 1} p
             JOIN d ON d.src = p.tok
             JOIN sw ON sw.src = d.src
             GROUP BY d.dst) fl ON fl.tok = nd.tok)"""
      s"""WITH t AS (SELECT string_split(trim(text), ' ') AS toks FROM documents),
       bg AS (
         SELECT w1, w2, COUNT(*) AS c FROM (
           SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
                  unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
           FROM t) GROUP BY w1, w2),
       e AS (
         SELECT LEAST(w1, w2) AS a, GREATEST(w1, w2) AS b,
           CAST(SUM(c) AS BIGINT) AS w
         FROM bg WHERE w1 <> w2
         GROUP BY 1, 2 HAVING SUM(c) >= $TrMinW),
       d AS (SELECT a AS src, b AS dst, w FROM e
             UNION ALL SELECT b, a, w FROM e),
       nodes AS (SELECT DISTINCT src AS tok FROM d),
       sw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS sw FROM d GROUP BY src),
       pr0 AS (SELECT tok,
           $TrScale // (SELECT COUNT(*) FROM nodes) AS rnk FROM nodes),
       ${(1 to TrIters).map(step).mkString(",\n       ")}
       SELECT tok, CAST(rnk AS BIGINT) AS rank_fp
       FROM pr$TrIters
       ORDER BY rank_fp DESC, tok LIMIT 10"""
    }) { (s, dir) =>
    val pairs = Dedup.tokenized(s, dir)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val und = pairs.filter(col("w1") =!= col("w2"))
      .groupBy(least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= TrMinW)
    // vocabulary-sized graph from here down: one localCheckpoint'd edge
    // table (the corpus work) carrying each source's weight sum, then
    // Graph.pageRank's 4 unpinned rounds over ≤ |V|² rows
    val d = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .withColumn("sw", sum(col("w"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .localCheckpoint()
    val pr = Graph.pageRank(d, d.select(col("src").as("tok")).distinct(),
      TrIters, scale = TrScale, node = "tok")
    pr.select(col("node").as("tok"), col("rnk").cast("long").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("tok"))
      .limit(10)
  }

  /** One greedy pair-merge round over a token stream (doc_id, p, tok):
    * count adjacent pairs, pick the globally most frequent (ties by
    * pair lexicographically — deterministic), apply it greedily
    * left-to-right (for an A=A pair, only even offsets within each
    * equal-token run merge — the textbook BPE overlap rule), and
    * renumber. Every window in the chain shares ONE (doc_id, p)
    * exchange+sort; the chosen pair rides in as a 1-row broadcast; the
    * rewrite never leaves doc_id partitioning — per round the stream
    * moves once, which is the 100 TB cost model of every distributed
    * BPE/phrase-mining trainer. Returns (next stream, 1-row stats).
    */
  private[graft] def mergeRound(st: org.apache.spark.sql.DataFrame,
      round: Int,
      lenBefore: Option[org.apache.spark.sql.DataFrame] = None)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val wdoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val wrun = wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // nx feeds BOTH the argmax pass and the rewrite: persist it so the
    // (doc_id, p) exchange+sort chain runs once per round, not twice
    val nx = st
      .withColumn("nxt", lead(col("tok"), 1).over(wdoc))
      .withColumn("prev", lag(col("tok"), 1).over(wdoc))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r17 (guide §1.2/§2.3): the 1-row argmax is CHECKPOINTED — it used
    // to be a lazy subtree that both the rewrite's broadcast and the
    // stats crossJoin re-executed, i.e. TWO full aggregate passes over
    // the stream per round for one argmax
    val top = nx.filter(col("nxt").isNotNull)
      .groupBy(col("tok").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("a"), col("b")).limit(1)
      .localCheckpoint()
    // bounded 1-row driver scalar (the q211 nodes-count discipline):
    // when the chosen pair's tokens DIFFER — the common case — the
    // greedy-left rule never consults the equal-run offset, so the
    // running-max window pass over the whole stream is skipped. An
    // empty top (pair-free stream) takes the full formula, whose
    // crossJoin with the empty frame yields the same empty result as
    // before.
    val needsRunOffset = top.collect().headOption
      .forall(r => r.getString(0) == r.getString(1))
    val vbase = nx.crossJoin(broadcast(top))
    val v = if (needsRunOffset) {
      vbase
        // run offset: p − last run start (a running max — no extra shuffle)
        .withColumn("off", col("p") -
          max(when(not(col("tok") <=> col("prev")), col("p"))).over(wrun))
        .withColumn("valid",
          coalesce(col("tok") === col("a") && col("nxt") === col("b"),
            lit(false)) &&
            (col("a") =!= col("b") || col("off") % 2 === 0))
    } else {
      vbase.withColumn("valid",
        coalesce(col("tok") === col("a") && col("nxt") === col("b"),
          lit(false)))
    }
    val cs = v.withColumn("consumed",
      coalesce(lag(col("valid"), 1).over(wdoc), lit(false)))
    val out = cs.filter(!col("consumed"))
      .select(col("doc_id"),
        row_number().over(wdoc).cast("long").as("p"), // keep p LongType round-over-round
        when(col("valid"), concat_ws(" ", col("tok"), col("nxt")))
          .otherwise(col("tok")).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every merge removes exactly one token, so n_merged is the length
    // delta — no second pass over the window chain needed. r17: rounds
    // after the first pass the PREVIOUS round's len_after in as
    // len_before (a 1-row frame) instead of re-counting the stream.
    val stats = top
      .crossJoin(lenBefore.getOrElse(nx.agg(count(lit(1)).as("len_before"))))
      .crossJoin(out.agg(count(lit(1)).as("len_after"),
        countDistinct(col("tok")).as("vocab_after")))
      .select(lit(round.toLong).as("round"),
        concat_ws(" ", col("a"), col("b")).as("pair"),
        col("c").as("n_matches"),
        (col("len_before") - col("len_after")).as("n_merged"),
        col("len_after"), col("vocab_after"))
    (out, stats, nx)
  }

  /** The DuckDB side of one merge round: CTEs `nx$i`, `top$i`, `v$i`
    * from stream `st$i`, producing `st${i+1}` and stats `m$i` — the
    * identical greedy-left rule stated declaratively.
    */
  private def mergeRoundSql(i: Int): String = {
    val n = i + 1
    s"""nx$i AS (SELECT doc_id, p, tok,
           lead(tok) OVER (PARTITION BY doc_id ORDER BY p) AS nxt,
           lag(tok)  OVER (PARTITION BY doc_id ORDER BY p) AS prev
         FROM st$i),
       top$i AS (SELECT tok AS a, nxt AS b, CAST(COUNT(*) AS BIGINT) AS c
         FROM nx$i WHERE nxt IS NOT NULL GROUP BY 1, 2
         ORDER BY c DESC, a, b LIMIT 1),
       v$i AS (SELECT x.*, t.a, t.b, t.c,
           (COALESCE(x.tok = t.a AND x.nxt = t.b, FALSE)
             AND (t.a <> t.b OR (x.p -
               MAX(CASE WHEN x.tok IS DISTINCT FROM x.prev THEN x.p END)
                 OVER (PARTITION BY x.doc_id ORDER BY x.p
                       ROWS UNBOUNDED PRECEDING)) % 2 = 0)) AS valid
         FROM nx$i x CROSS JOIN top$i t),
       c$i AS (SELECT *, COALESCE(lag(valid)
             OVER (PARTITION BY doc_id ORDER BY p), FALSE) AS consumed
         FROM v$i),
       st$n AS (SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY p) AS p,
           CASE WHEN valid THEN tok || ' ' || nxt ELSE tok END AS tok
         FROM c$i WHERE NOT consumed),
       m$i AS (SELECT CAST($i AS BIGINT) AS round, a || ' ' || b AS pair,
           c AS n_matches,
           (SELECT CAST(COUNT(*) FILTER (WHERE valid) AS BIGINT) FROM c$i)
             AS n_merged,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM st$n) AS len_after,
           (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) FROM st$n)
             AS vocab_after
         FROM top$i)"""
  }

  /** q224 — BPE-style merge learning (word-level phrase mining): three
    * greedy pair-merge rounds over the corpus token stream — the inner
    * loop of every tokenizer trainer (BPE/word2phrase), expressed as
    * per-round window passes instead of a driver-side loop over
    * sequences. Per round: ONE pair-count aggregate picks the global
    * argmax pair (ties lexicographic), a 1-row broadcast carries it
    * back, and the greedy left-to-right application (equal-pair runs
    * merge at even offsets only — the overlap rule naive implementations
    * get wrong) is a window chain sharing a single (doc_id, p) sort.
    * The oracle unrolls the identical three rounds declaratively;
    * n_matches vs n_merged differ exactly when an odd-length A A run
    * leaves an orphan — the observable that proves the greedy rule.
    */
  val q224 = oracled(
    "q224_bpe_merge_learning",
    "3 greedy pair-merge rounds: argmax pair, greedy-left apply, stream rewrite",
    s"""WITH t AS (
         SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
       st1 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p,
           unnest(toks) AS tok FROM t),
       ${mergeRoundSql(1)},
       ${mergeRoundSql(2)},
       ${mergeRoundSql(3)}
       SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL
       SELECT * FROM m3 ORDER BY round""") { (s, dir) =>
    val st1 = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), " ")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
        col("tok"))
    // r17: each round's 1-row stats is eagerly checkpointed and its
    // len_after threads into the next round as len_before — the next
    // round reads a pinned 1-row RDD instead of re-counting the stream
    // (and without the checkpoint the chained references would re-run
    // earlier rounds' aggregate subtrees quadratically)
    val (st2, m1l, nx1) = mergeRound(st1, 1)
    val m1 = m1l.localCheckpoint()
    val (st3, m2l, nx2) = mergeRound(st2, 2,
      Some(m1.select(col("len_after").as("len_before"))))
    val m2 = m2l.localCheckpoint()
    val (st4, m3l, nx3) = mergeRound(st3, 3,
      Some(m2.select(col("len_after").as("len_before"))))
    val m3 = m3l.localCheckpoint()
    val res = m1.unionByName(m2).unionByName(m3).orderBy(col("round"))
    Seq(st2, st3, st4, nx1, nx2, nx3).foreach(_.unpersist())
    res
  }

  /** q250 — bigram-LM surprisal as an EXACT-INTEGER quality score: the
    * language-model filter every CCNet-style pipeline runs (docs whose
    * token sequences the corpus LM finds improbable are boilerplate,
    * gibberish, or the wrong language), made hash-gateable by scoring
    * in the shared [[graft.functions.IntLog2]] integer log2 units
    * instead of float logprobs. Model: corpus bigram MLE
    * P(w₂|w₁) = c(w₁w₂)/c(w₁·) with c(w₁·) the prefix total (both
    * plain counts, ≥ 1 for every observed bigram — the corpus scores
    * itself, so no smoothing is needed);
    * per-doc surprisal_x20 = Σ over the doc's bigrams of
    * (L2_x20(c(w₁·)) − L2_x20(c(w₁w₂))) ≥ 0 — a log2 likelihood ratio
    * in exact BIGINTs, identical on both engines. Shapes: bigram pairs
    * form ARRAY-side (`transform(sequence)` over the token array — no
    * window, no per-token shuffle), one (w₁,w₂) count aggregate
    * re-aggregated to prefix totals (the q176 rollup pattern), one
    * equi-join back, one per-doc aggregate. The per-doc mean
    * (`mean_x20 = surprisal div n`) is what a filter thresholds —
    * kept integer.
    */
  val q250 = {
    import graft.functions.IntLog2
    oracled(
      "q250_bigram_lm_surprisal",
      "corpus bigram-LM doc surprisal in exact integer log2 units (the LM quality filter)",
      s"""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
         b AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           FROM t, unnest(range(1, len(toks))) u(i)),
         cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cbi
           FROM b GROUP BY 1, 2),
         cp AS (SELECT w1, CAST(SUM(cbi) AS BIGINT) AS cpre
           FROM cb GROUP BY 1),
         s AS (SELECT b.doc_id,
             ${IntLog2.duckSql("cp.cpre")} - ${IntLog2.duckSql("cb.cbi")}
               AS sup
           FROM b JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
                  JOIN cp ON cp.w1 = b.w1)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(sup) AS BIGINT) AS surprisal_x20,
           CAST(SUM(sup) // COUNT(*) AS BIGINT) AS mean_x20
         FROM s GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), split(trim(col("text")), " ").as("toks"))
      // size >= 2 guard: Spark's sequence(1, 0) DESCENDS where DuckDB's
      // range(1, 1) is empty — single-token docs must yield no bigrams
      val b = t.filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 1)," +
            " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))")).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val cb = b.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cbi"))
      val cp = cb.groupBy(col("w1")).agg(sum(col("cbi")).as("cpre"))
      b.join(cb, Seq("w1", "w2")).join(cp, Seq("w1"))
        .select(col("doc_id"),
          expr(s"${IntLog2.sparkSql("cpre")} - ${IntLog2.sparkSql("cbi")}")
            .as("sup"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("sup")).as("surprisal_x20"),
          expr("sum(sup) div count(1)").as("mean_x20"))
        .orderBy(col("doc_id"))
    }
  }

  /** q267 — INVERTED INDEX + POSITIONAL PHRASE QUERY, the text-retrieval
    * primitive (Lucene's postings; every search engine's core): the
    * corpus explodes into (token, doc_id, pos) postings — ONE
    * posexplode, naturally partitioned by token, which IS the inverted
    * index layout at scale (a posting shard per token-hash, built by
    * one shuffle, consumed by point lookups) — and the fixed two-token
    * phrase ("table hash", the fixture's most frequent bigram) resolves
    * as the positional merge of exactly TWO posting lists: an equi-join
    * on (doc_id, pos+1 = pos). Token filters reach the scan; the join
    * keys are (doc_id, pos) — no corpus-wide shuffle survives the
    * filter. Positions are 1-based on both engines (Spark's 0-based
    * posexplode is shifted at build time to match DuckDB's
    * generate_subscripts). Output: per matching doc, the match count
    * and first match position.
    */
  val q267 = oracled(
    "q267_phrase_search",
    "two-posting positional merge for a fixed phrase == unnest-with-subscripts oracle",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
           FROM documents),
       u AS (SELECT doc_id, unnest(toks) AS tok,
           generate_subscripts(toks, 1) AS pos FROM t),
       m AS (SELECT a.doc_id, a.pos
         FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         WHERE a.tok = 'table' AND b.tok = 'hash')
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
         CAST(MIN(pos) AS BIGINT) AS first_pos
       FROM m GROUP BY 1 ORDER BY doc_id""") { (s, dir) =>
    val postings = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("p0", "tok")))
      .select(col("doc_id"), col("tok"), (col("p0") + 1).as("pos"))
    val a = postings.filter(col("tok") === "table")
      .select(col("doc_id"), col("pos"))
    val b = postings.filter(col("tok") === "hash")
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    a.join(b, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
      .orderBy(col("doc_id"))
  }

  /** q270 — INCREMENTAL index-statistics maintenance: the corpus
    * replayed as four deterministic arrival batches (doc_id quartile
    * ranges, q256's arrival model) through
    * [[graft.streaming.IndexStream.step]], the SAME pure (stats, seen,
    * batch) → (stats', seen') fold the streaming sink runs per
    * micro-batch. df/tf are SUM-shaped state, so idempotence under
    * at-least-once delivery comes from the seen-doc anti-join (not from
    * the aggregate, unlike ClusterStream's min-labels) — the fold's
    * final stats EQUAL the from-scratch corpus aggregation, which IS
    * the oracle. Output restricted to tokens with df ≥ 3 (the head a
    * ranker would cache); the maintained store itself is
    * vocabulary-sized at any corpus scale.
    */
  val q270 = oracled(
    "q270_incremental_index_stats",
    "4-batch incremental replay via IndexStream.step fold == from-scratch df/tf aggregation",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
           FROM documents),
       u AS (SELECT doc_id, unnest(toks) AS tok FROM t)
       SELECT tok AS token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         CAST(COUNT(*) AS BIGINT) AS tf
       FROM u GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3
       ORDER BY token""") { (s, dir) =>
    import graft.streaming.IndexStream
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val mx = docs.agg(max(col("doc_id")).as("mxd"))
    val staged = docs.crossJoin(broadcast(mx))
      .withColumn("bk", expr("doc_id * 4 div (mxd + 1)"))
      .localCheckpoint() // four filtered scans below, one materialization
    var st = (IndexStream.emptyStats(s), IndexStream.emptySeen(s))
    for (k <- 0 to 3)
      st = IndexStream.step(st._1, st._2,
        staged.filter(col("bk") === k).select(col("doc_id"), col("text")))
    st._1.filter(col("df") >= 3)
      .select(col("token"), col("df"), col("tf"))
      .orderBy(col("token"))
  }

  /** Number of BPE merge rounds q271 trains (and its oracle unrolls). */
  private val BpeRounds = 6

  /** One oracle round of q271: word table `wN` (w, cnt, seq) → pair
    * counts → argmax merge `mN` under the total order (count DESC, a,
    * b) → re-segmented `wN+1`. The merge application is ONE left-to-
    * right non-overlapping `replace` pass over the space-padded
    * sequence — both engines' `replace` scans the original string
    * leftmost-non-overlapping, so the procedure is identical; where
    * canonical BPE's greedy walker would also merge a self-abutting
    * repeat (… x y x y …) in the same round, this variant leaves the
    * odd occurrence for a LATER round (the pair stays countable and
    * re-wins while frequent) — a documented, deterministic variant,
    * not an engine divergence. BpeSpec pins the two-engine agreement
    * on crafted abutting inputs.
    */
  private def bpeRoundCte(i: Int): String =
    s"""pc$i AS (SELECT a, b, c FROM (
           SELECT syms[i] AS a, syms[i+1] AS b, SUM(cnt) AS c FROM (
             SELECT cnt, syms, generate_subscripts(syms, 1) AS i FROM (
               SELECT cnt, string_split(seq, ' ') AS syms FROM w$i) s0) s1
           WHERE i < len(syms) GROUP BY 1, 2) s2),
       m$i AS (SELECT a, b, c FROM pc$i ORDER BY c DESC, a, b LIMIT 1),
       w${i + 1} AS (SELECT w, cnt,
           trim(replace(' ' || seq || ' ',
             ' ' || m$i.a || ' ' || m$i.b || ' ',
             ' ' || m$i.a || m$i.b || ' ')) AS seq
         FROM w$i CROSS JOIN m$i)"""

  /** q271 — BPE TOKENIZER TRAINING (byte-pair-encoding merge table,
    * Sennrich et al. 2016 — the construction behind every modern LLM
    * vocabulary): the corpus reduces to its WORD FREQUENCY table
    * (vocab-sized, the classical BPE working set — at 100 TB the
    * corpus pass is the one groupBy producing it; every merge round
    * after that touches only the vocabulary), each word starts as its
    * character sequence + end-of-word marker '_', and [[BpeRounds]]
    * rounds each: count adjacent symbol pairs weighted by word
    * frequency (one partial-agg groupBy), pick the argmax pair under
    * the total order (count DESC, a, b) — a 1-row bounded artifact —
    * and re-segment by one non-overlapping replace pass (see
    * [[bpeRoundCte]] for the abutting-repeat variant semantics). The
    * output IS the learned merge table (step, sym_a, sym_b,
    * pair_count): 6 rows, each the argmax over the full evolving pair
    * distribution — the oracle unrolls the identical recurrence as a
    * CTE chain, so any drift anywhere in the pipeline flips a row.
    * Relation to q224: that query mines WORD-level phrases over the
    * corpus token STREAM (positions, window chains, per-doc greedy
    * runs); this one is the actual subword-vocabulary construction —
    * character alphabet, end-of-word marker, and the vocab-sized
    * frequency-table working set that makes tokenizer training
    * corpus-size-independent after one pass.
    */
  val q271 = oracled(
    "q271_bpe_merges",
    s"$BpeRounds-round BPE merge-table training == unrolled CTE-chain oracle",
    s"""WITH w0 AS (
         SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
           array_to_string(string_split_regex(w, ''), ' ') || ' _' AS seq
         FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
               FROM documents) u
         WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w),
       ${(0 until BpeRounds).map(bpeRoundCte).mkString(",\n       ")}
       ${(0 until BpeRounds).map(i =>
           s"""SELECT CAST($i AS BIGINT) AS step, a AS sym_a, b AS sym_b,
              CAST(c AS BIGINT) AS pair_count FROM m$i""")
         .mkString("\n       UNION ALL ")}
       ORDER BY step""") { (s, dir) =>
    val words = Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    import s.implicits._
    bpeTrain(words, BpeRounds).toDF("step", "sym_a", "sym_b", "pair_count")
      .orderBy(col("step"))
  }

  /** The q271 training loop over a (w, cnt) word-frequency table —
    * factored out so BpeSpec can drive it on crafted abutting-repeat
    * vocabularies against a serial reference of the same variant.
    */
  private[graft] def bpeTrain(words: org.apache.spark.sql.DataFrame,
      rounds: Int): Seq[(Long, String, String, Long)] = {
    var wTab = words
      .withColumn("seq", concat(concat_ws(" ", split(col("w"), "")), lit(" _")))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (i <- 0 until rounds) {
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w")).orderBy(col("i"))
      val best = wTab
        .select(col("w"), col("cnt"),
          posexplode(split(col("seq"), " ")).as(Seq("i", "a")))
        .withColumn("b", lead(col("a"), 1).over(wp))
        .filter(col("b").isNotNull)
        .groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).head() // the round's 1-row merge decision
      val (a, b, c) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((i.toLong, a, b, c))
      wTab = wTab.withColumn("seq",
          trim(expr(s"replace(concat(' ', seq, ' '), ' ${a} ${b} ', ' ${a}${b} ')")))
        .localCheckpoint()
    }
    merges.result()
  }

  /** q273 — BPE ENCODING at corpus scale: the application side of
    * q271's training — the learned merge table re-segments every word,
    * and the per-language ledger reports what a tokenizer budget
    * actually buys (token counts are THE cost unit of LLM training):
    * words, characters-plus-marker tokens before merging, tokens
    * after, and the saving. The scale shape is the point: encoding
    * re-segments the WORD table (vocabulary-sized) and only the final
    * per-language accounting joins back through corpus word
    * frequencies — per-(lang, word) counts weight the vocab-level
    * token lengths, so the corpus is touched exactly once and no merge
    * pass ever sees a corpus-sized row set. The oracle re-trains the
    * same 6 merges (q271's CTE chain verbatim) and applies w6's
    * segmentation — training and encoding gated as one recurrence.
    */
  val q273 = oracled(
    "q273_bpe_encode",
    "apply the learned merge table: per-lang token-count ledger == re-trained w6 segmentation",
    s"""WITH w0 AS (
         SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
           array_to_string(string_split_regex(w, ''), ' ') || ' _' AS seq
         FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
               FROM documents) u
         WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w),
       ${(0 until BpeRounds).map(bpeRoundCte).mkString(",\n       ")},
       enc AS (SELECT w, len(string_split(seq, ' ')) AS n_tok
         FROM w${BpeRounds}),
       lw AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
           SELECT lang, unnest(string_split(lower(text), ' ')) AS w
           FROM documents) u
         WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1, 2)
       SELECT lang, CAST(SUM(lw.cnt) AS BIGINT) AS n_words,
         CAST(SUM(lw.cnt * (length(lw.w) + 1)) AS BIGINT) AS n_tokens_chars,
         CAST(SUM(lw.cnt * enc.n_tok) AS BIGINT) AS n_tokens_bpe,
         CAST(SUM(lw.cnt * (length(lw.w) + 1 - enc.n_tok)) AS BIGINT)
           AS tokens_saved
       FROM lw JOIN enc ON enc.w = lw.w
       GROUP BY lang ORDER BY lang""") { (s, dir) =>
    val corpus = Tables.documents(s, dir)
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .localCheckpoint() // feeds the global trainer and the per-lang ledger
    val words = corpus.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val merges = bpeTrain(words, BpeRounds)
    // apply the learned table to the VOCABULARY (not the corpus): the
    // same padded single-replace pass per merge, in merge order
    val enc = merges.foldLeft(
        words.withColumn("seq",
          concat(concat_ws(" ", split(col("w"), "")), lit(" _")))) {
        case (df, (_, a, b, _)) =>
          df.withColumn("seq", trim(expr(
            s"replace(concat(' ', seq, ' '), ' ${a} ${b} ', ' ${a}${b} ')")))
      }
      .select(col("w"), size(split(col("seq"), " ")).cast("long").as("n_tok"))
    corpus.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
      .join(enc, Seq("w"))
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * (length(col("w")) + 1)).as("n_tokens_chars"),
        sum(col("cnt") * col("n_tok")).as("n_tokens_bpe"),
        sum(col("cnt") * (length(col("w")) + 1 - col("n_tok")))
          .as("tokens_saved"))
      .orderBy(col("lang"))
  }

  // ------------------------------------------ mutual-information ranking

  /** q283 — MUTUAL-INFORMATION feature ranking of token presence vs
    * the language label (the feature-selection staple — Manning/IR
    * ch.13's MI term-selection, the same statistic behind
    * quality-classifier vocabulary pruning in corpus pipelines):
    * for token t with document frequency df over N docs and class c
    * with n_c docs of which n11 contain t,
    *   MI(t) = Σ_c [ n11/N·log2(N·n11/(df·n_c))
    *               + (n_c−n11)/N·log2(N·(n_c−n11)/((N−df)·n_c)) ]
    * with 0·log terms dropped (the standard convention). Reported
    * ×N×2²⁰ in EXACT integers via the shared [[graft.functions.
    * IntLog2]] piecewise-linear log2 — both engines run the identical
    * integer formula, so a ranking statistic that is textbook-float
    * crosses the hash gate as BIGINTs (the q245/q250 discipline; the
    * chord bound is a uniform ≤0.0861-log2-unit perturbation of each
    * log term — fine for a RANKING). Top 30 tokens by the score.
    *
    * Scale shape: presence extraction is one explode + distinct (the
    * q40 tokenize shape); the contingency table is (vocab × L) — two
    * partial-aggregable groupBys — and every subsequent op runs on
    * that vocab-bounded table against a broadcast 1-row N and L-row
    * class-prior dimension; the final rank is a window over the
    * vocab-bounded score table, never the corpus. Products stay under
    * 2⁶³ while N < ~3e9 docs (N·n11 ≤ N²), the scaladoc-owned bound.
    */
  val q283 = oracled(
    "q283_mutual_information",
    "exact-integer MI(token; lang) feature ranking via IntLog2, top 30",
    {
      val l2 = (e: String) => graft.functions.IntLog2.duckSql(e)
      s"""WITH raw AS (SELECT doc_id, lang,
           unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         tok AS (SELECT DISTINCT doc_id, lang, tok FROM raw),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         ncl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nc
           FROM documents GROUP BY lang),
         cell AS (SELECT tok, lang, CAST(COUNT(*) AS BIGINT) AS n11
           FROM tok GROUP BY 1, 2),
         dfs AS (SELECT tok, CAST(SUM(n11) AS BIGINT) AS df
           FROM cell GROUP BY tok),
         grid AS (SELECT d.tok, d.df, c.lang, c.nc,
             COALESCE(x.n11, 0) AS n11, nn.n
           FROM dfs d CROSS JOIN ncl c CROSS JOIN nn
           LEFT JOIN cell x ON x.tok = d.tok AND x.lang = c.lang),
         terms AS (SELECT tok, df,
             CASE WHEN n11 > 0
               THEN n11 * (${l2("(n * n11)")} - ${l2("(df * nc)")})
               ELSE 0 END
             + CASE WHEN nc - n11 > 0 AND n - df > 0
               THEN (nc - n11) * (${l2("(n * (nc - n11))")}
                 - ${l2("((n - df) * nc)")})
               ELSE 0 END AS term
           FROM grid),
         mi AS (SELECT tok, df, CAST(SUM(term) AS BIGINT) AS mi_x20n
           FROM terms GROUP BY tok, df),
         rk AS (SELECT tok, df, mi_x20n,
             ROW_NUMBER() OVER (ORDER BY mi_x20n DESC, tok) AS rank
           FROM mi)
         SELECT CAST(rank AS BIGINT) AS rank, tok, df, mi_x20n
         FROM rk WHERE rank <= 30 ORDER BY rank"""
    }) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val l2 = (e: String) => expr(graft.functions.IntLog2.sparkSql(e))
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(split(trim(col("text")), " ")).as("tok")).distinct()
    val nn = docs.agg(count(lit(1)).as("n"))
    val ncl = docs.groupBy(col("lang")).agg(count(lit(1)).as("nc"))
    val cell = tok.groupBy(col("tok"), col("lang"))
      .agg(count(lit(1)).as("n11"))
    val dfs = cell.groupBy(col("tok")).agg(sum(col("n11")).as("df"))
    val grid = dfs.crossJoin(broadcast(ncl)).crossJoin(broadcast(nn))
      .join(cell, Seq("tok", "lang"), "left")
      .withColumn("n11", coalesce(col("n11"), lit(0L)))
    val term =
      when(col("n11") > 0,
        col("n11") * (l2("(n * n11)") - l2("(df * nc)")))
        .otherwise(0L) +
      when(col("nc") - col("n11") > 0 && col("n") - col("df") > 0,
        (col("nc") - col("n11")) * (l2("(n * (nc - n11))")
          - l2("((n - df) * nc)")))
        .otherwise(0L)
    val mi = grid.select(col("tok"), col("df"), term.as("term"))
      .groupBy(col("tok"), col("df"))
      .agg(sum(col("term")).as("mi_x20n"))
    // r17 (§2.1 window sweep): top-k via orderBy+limit
    // (TakeOrderedAndProject — per-partition top-k, no vocabulary-sized
    // single-partition window); the rank window then runs on ≤30 rows
    mi.orderBy(col("mi_x20n").desc, col("tok")).limit(30)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("mi_x20n").desc, col("tok")))
          .cast("long"))
      .select(col("rank"), col("tok"), col("df"), col("mi_x20n"))
      .orderBy(col("rank"))
  }

  // --------------------------------------------------------- BM25 scoring

  /** q292 — BM25 ranked retrieval, INTEGER-EXACT form (Robertson/
    * Zaragoza; the scoring function q267's inverted index exists to
    * serve). q114 already ships BM25 via 6dp-rounded DECIMAL sums —
    * rounding is a correctness compromise the hash gate forced there;
    * THIS query eliminates it: three query terms scored against every
    * matching doc with k1 = 6/5, b = 3/4, entirely in EXACT integer
    * arithmetic (and with Lucene's idf where q114 uses Robertson's) —
    * zero rounding anywhere, which is also what makes it composable
    * into q303's rank fusion without re-ranking drift.
    * The trick is clearing every rational: with T total tokens, N
    * docs, dl the doc length (so avgdl = T/N), the term denominator
    * tf + k1·(1 − b + b·dl/avgdl) multiplied through by 20·T becomes
    * 20·T·tf + 6·T + 18·dl·N, and the term score is
    *   score = idf_x20 · 44·T·tf div (20·T·tf + 6·T + 18·dl·N)
    * — one DECLARED floor division per (term, doc) (the q286 credit
    * discipline). idf is Lucene's always-positive form
    * log2(1 + (N−df+½)/(df+½)) = L2(2N+2) − L2(2df+1) via the shared
    * [[graft.functions.IntLog2]] (positivity matters: Spark `div`
    * truncates where DuckDB `//` floors, so a signed numerator would
    * diverge — the scaladoc-owned reason for the Lucene variant).
    * log2 vs ln is a constant factor — ranking-equivalent.
    *
    * Scale shape: the query-term filter pushes INTO the token scan
    * (postings only for the 3 terms — candidate docs, never the
    * corpus); df/tf/dl are partial-aggregable groupBys; T and N ride
    * a 1-row broadcast. BIGINT-safe while idf_x20·44·T·tf < 2⁶³
    * (T ≈ 6e9 at the bound) — past that the score flips to
    * DECIMAL(38,0), the scaladoc-owned ceiling.
    */
  /** The BM25 scoring CTE chain (through `tot(doc_id, score_x20,
    * n_terms)` and `dl(doc_id, dl)`) shared by q292 and q303 — one
    * scorer text, two consumers (the lpaCte discipline).
    */
  private def bm25Cte: String = {
    val l2 = (e: String) => graft.functions.IntLog2.duckSql(e)
    s"""t AS (SELECT doc_id,
         unnest(string_split(trim(text), ' ')) AS tok FROM documents),
       dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
         FROM t GROUP BY 1),
       g AS (SELECT CAST(SUM(dl) AS BIGINT) AS tt,
           CAST(COUNT(*) AS BIGINT) AS n FROM dl),
       tf AS (SELECT tok AS term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
         FROM t WHERE tok IN ('spark', 'window', 'merge')
         GROUP BY 1, 2),
       dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         FROM tf GROUP BY 1),
       sc AS (SELECT tf.doc_id,
           (${l2("(2 * g.n + 2)")} - ${l2("(2 * dfs.df + 1)")})
             * (44 * g.tt * tf.tf)
             // (20 * g.tt * tf.tf + 6 * g.tt + 18 * dl.dl * g.n) AS s
         FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id)
         CROSS JOIN g),
       tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score_x20,
           CAST(COUNT(*) AS BIGINT) AS n_terms FROM sc GROUP BY 1)"""
  }

  /** Spark twin of [[bm25Cte]]: (doc_id, score_x20, n_terms) for the
    * fixed 3-term query, plus the (doc_id, dl) length table. Distinct
    * from q114's [[bm25Scores]] (the rounded-DECIMAL(18,6) scorer):
    * this family is the INTEGER-EXACT route.
    */
  private def bm25IntScores(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val t = Tables.documents(s, dir).select(col("doc_id"),
      explode(split(trim(col("text")), " ")).as("tok"))
    val dl = t.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .localCheckpoint(false)
    val g = dl.agg(sum(col("dl")).as("tt"), count(lit(1)).as("n"))
    val tf = t.filter(col("tok").isin("spark", "window", "merge"))
      .groupBy(col("tok").as("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val sc = tf.join(broadcast(dfs), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(g))
      .select(col("doc_id"), expr(
        s"""((${graft.functions.IntLog2.sparkSql("(2 * n + 2)")}
             - ${graft.functions.IntLog2.sparkSql("(2 * df + 1)")})
             * (44 * tt * tf))
            div (20 * tt * tf + 6 * tt + 18 * dl * n)""").as("s"))
    val tot = sc.groupBy(col("doc_id"))
      .agg(sum(col("s")).as("score_x20"), count(lit(1)).as("n_terms"))
    (tot, dl)
  }

  val q292 = oracled(
    "q292_bm25",
    "BM25 top-10 docs for a 3-term query: exact-integer rational arithmetic, Lucene idf",
    s"""WITH $bm25Cte,
       rk AS (SELECT doc_id, score_x20, n_terms,
           ROW_NUMBER() OVER (ORDER BY score_x20 DESC, doc_id) AS rank
         FROM tot)
       SELECT CAST(rank AS BIGINT) AS rank, r.doc_id, r.score_x20,
         r.n_terms, dl.dl
       FROM rk r JOIN dl ON dl.doc_id = r.doc_id
       WHERE rank <= 10 ORDER BY rank""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val (tot, dl) = bm25IntScores(s, dir)
    // r17 (§2.1 window sweep): top-k via orderBy+limit instead of a
    // corpus-sized single-partition rank window; rank assigned on ≤10 rows
    tot.orderBy(col("score_x20").desc, col("doc_id")).limit(10)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score_x20").desc,
          col("doc_id"))).cast("long"))
      .join(dl, Seq("doc_id"))
      .select(col("rank"), col("doc_id"), col("score_x20"),
        col("n_terms"), col("dl"))
      .orderBy(col("rank"))
  }

  // ----------------------------------------------- reciprocal rank fusion

  /** q303 — RECIPROCAL RANK FUSION (Cormack/Clarke/Büttcher SIGIR '09
    * — the embarrassingly-effective way to combine rankings, and what
    * every hybrid lexical+semantic retrieval stack runs on top of
    * scorers like q292): two rankings of the SAME candidate set (docs
    * matching ≥1 query term) — A = BM25 score, B = document length
    * (the "prefer longer context" heuristic arm; any second scorer
    * slots in) — fuse as
    *   RRF(d) = Σ_r 10⁶ div (60 + rank_r(d)),
    * k = 60 per the paper, the division a DECLARED floor-scaled
    * integer (the q286/q292 discipline — both engines run the same
    * integer op, the ≤1e-6-scale floor loss is the no-floats price).
    * Ledger: top-15 by fused score with both constituent ranks
    * visible — WHY a doc won is part of the artifact.
    *
    * Scale shape: reuses the factored [[bm25Scores]] pipeline (one
    * corpus scan); both rank windows run over the CANDIDATE set, not
    * the corpus (candidate-bounded single-partition windows — the
    * 100 TB form keeps per-query candidates bounded by the posting
    * intersection, which is what makes RRF cheap in real engines).
    */
  val q303 = oracled(
    "q303_rank_fusion",
    "reciprocal rank fusion of BM25 and length rankings: top-15, integer RRF",
    s"""WITH $bm25Cte,
       ra AS (SELECT doc_id, score_x20,
           ROW_NUMBER() OVER (ORDER BY score_x20 DESC, doc_id) AS rank_a
         FROM tot),
       rb AS (SELECT t.doc_id,
           ROW_NUMBER() OVER (ORDER BY dl.dl DESC, t.doc_id) AS rank_b
         FROM tot t JOIN dl ON dl.doc_id = t.doc_id),
       f AS (SELECT ra.doc_id, ra.rank_a, rb.rank_b,
           1000000 // (60 + ra.rank_a) + 1000000 // (60 + rb.rank_b)
             AS rrf
         FROM ra JOIN rb ON rb.doc_id = ra.doc_id),
       rk AS (SELECT doc_id, rank_a, rank_b, rrf,
           ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
         FROM f)
       SELECT CAST(rank AS BIGINT) AS rank, doc_id,
         CAST(rrf AS BIGINT) AS rrf_x1e6,
         CAST(rank_a AS BIGINT) AS rank_a, CAST(rank_b AS BIGINT)
           AS rank_b
       FROM rk WHERE rank <= 15 ORDER BY rank""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val (tot, dl) = bm25IntScores(s, dir)
    val ra = tot.withColumn("rank_a",
      row_number().over(Window.orderBy(col("score_x20").desc,
        col("doc_id"))).cast("long"))
    val rb = tot.select(col("doc_id")).join(dl, Seq("doc_id"))
      .withColumn("rank_b",
        row_number().over(Window.orderBy(col("dl").desc,
          col("doc_id"))).cast("long"))
    ra.select(col("doc_id"), col("rank_a"))
      .join(rb.select(col("doc_id"), col("rank_b")), Seq("doc_id"))
      .withColumn("rrf_x1e6", expr(
        "1000000 div (60 + rank_a) + 1000000 div (60 + rank_b)"))
      // r17 (§2.1): the FUSED top-15 via orderBy+limit (the two full
      // rank windows above are inherent — RRF consumes complete ranks)
      .orderBy(col("rrf_x1e6").desc, col("doc_id")).limit(15)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf_x1e6").desc,
          col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("rrf_x1e6"),
        col("rank_a"), col("rank_b"))
      .orderBy(col("rank"))
  }

  // ------------------------------------------------ PMI co-occurrence

  /** q304 — skip-gram PMI co-occurrence ranking (the word2vec-era
    * association statistic — Church/Hanks '90 PMI over a ±2 token
    * window; what q76's ADJACENT-bigram LM and q224's threshold-mined
    * phrases both are not: an association score over a symmetric
    * window, the matrix word embeddings implicitly factorize):
    * unordered within-window token pairs (window offsets +1, +2 — an
    * EQUI-join per offset on (doc, pos), never an inequality join)
    * counted corpus-wide; with Nt total tokens, Np total window
    * pairs, c_a/c_b unigram counts and c_ab the pair count,
    *   PMI_x20 = L2(c_ab) + 2·L2(Nt) − L2(Np) − L2(c_a) − L2(c_b)
    * via the shared [[graft.functions.IntLog2]] — the log SPLIT into
    * per-factor terms rather than the q288 cross-product form, because
    * IntLog2 scales its in-octave remainder by 2²⁰ internally and a
    * composite argument like c_ab·Nt² overflows BIGINT at sf0.1
    * (found by the scale sweep); per-factor arguments stay ≤ Nt. The
    * chord error grows to ≤ 5×0.0861 log2-units — fine for a RANKING
    * statistic. Ledger: top-30 pairs with c_ab ≥ 5 by (PMI, a, b).
    *
    * Scale shape: two equi-self-joins on (doc_id, pos) — shuffle on
    * the position key, no window sort; pair and unigram counts are
    * partial-aggregable; scoring runs on the vocab²-bounded (in
    * practice pair-count-bounded) table against a 1-row broadcast.
    * BIGINT-safe while every count < 2⁴² (IntLog2's own bound) —
    * per-factor splitting is what buys that at any corpus size.
    */
  val q304 = oracled(
    "q304_pmi_cooccurrence",
    "skip-gram window PMI via IntLog2 cross-products: top-30 associated token pairs",
    {
      val l2 = (e: String) => graft.functions.IntLog2.duckSql(e)
      s"""WITH tk AS (SELECT doc_id, pos, toks[pos] AS tok FROM (
           SELECT doc_id, string_split(trim(text), ' ') AS toks,
             unnest(range(1, len(string_split(trim(text), ' ')) + 1))
               AS pos
           FROM documents)),
         nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM tk),
         ug AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tk
           GROUP BY tok),
         pr AS (SELECT LEAST(a.tok, b.tok) AS ta,
             GREATEST(a.tok, b.tok) AS tb
           FROM tk a JOIN tk b ON b.doc_id = a.doc_id
             AND (b.pos = a.pos + 1 OR b.pos = a.pos + 2)),
         pc AS (SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS c_ab
           FROM pr GROUP BY 1, 2),
         np AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_pairs FROM pc),
         sc AS (SELECT ta, tb, c_ab,
             ${l2("c_ab")} + 2 * ${l2("nt.n_tok")}
               - ${l2("np.n_pairs")} - ${l2("ua.c")} - ${l2("ub.c")}
               AS pmi_x20
           FROM pc JOIN ug ua ON ua.tok = pc.ta
             JOIN ug ub ON ub.tok = pc.tb
           CROSS JOIN nt CROSS JOIN np
           WHERE c_ab >= 5),
         rk AS (SELECT ta, tb, c_ab, CAST(pmi_x20 AS BIGINT) AS pmi_x20,
             ROW_NUMBER() OVER (ORDER BY pmi_x20 DESC, ta, tb) AS rank
           FROM sc)
         SELECT CAST(rank AS BIGINT) AS rank, ta, tb, c_ab, pmi_x20
         FROM rk WHERE rank <= 30 ORDER BY rank"""
    }) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val l2s = (e: String) => expr(graft.functions.IntLog2.sparkSql(e))
    val tk = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), " ")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
      .localCheckpoint(false)
    val nt = tk.agg(count(lit(1)).as("n_tok"))
    val ug = tk.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val pr = Seq(1, 2).map { off =>
      tk.select(col("doc_id"), col("pos"), col("tok").as("t1"))
        .join(tk.select(col("doc_id"), (col("pos") - off).as("pos"),
          col("tok").as("t2")), Seq("doc_id", "pos"))
    }.reduce(_ union _)
      .select(least(col("t1"), col("t2")).as("ta"),
        greatest(col("t1"), col("t2")).as("tb"))
    val pc = pr.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(false)
    val np = pc.agg(sum(col("c_ab")).as("n_pairs"))
    val sc = pc.filter(col("c_ab") >= 5)
      .join(broadcast(ug.withColumnRenamed("tok", "ta")
        .withColumnRenamed("c", "ca")), Seq("ta"))
      .join(broadcast(ug.withColumnRenamed("tok", "tb")
        .withColumnRenamed("c", "cb")), Seq("tb"))
      .crossJoin(broadcast(nt)).crossJoin(broadcast(np))
      .select(col("ta"), col("tb"), col("c_ab"),
        (l2s("c_ab") + lit(2L) * l2s("n_tok") - l2s("n_pairs")
          - l2s("ca") - l2s("cb")).as("pmi_x20"))
    // r17 (§2.1): top-30 via orderBy+limit — the rank window no longer
    // drags the pair-vocabulary through one partition
    sc.orderBy(col("pmi_x20").desc, col("ta"), col("tb")).limit(30)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("pmi_x20").desc,
          col("ta"), col("tb"))).cast("long"))
      .select(col("rank"), col("ta"), col("tb"), col("c_ab"),
        col("pmi_x20"))
      .orderBy(col("rank"))
  }

  // ------------------------------------------- Good-Turing smoothing

  /** q309 — GOOD–TURING frequency-of-frequencies ledger (Good 1953;
    * the smoothing table behind Katz backoff and the classic
    * unseen-mass estimate — the LM-calibration statistic q76's bigram
    * counts and q250's surprisal filter both presuppose): with N_r =
    * number of token types occurring exactly r times, the GT adjusted
    * count is r* = (r+1)·N_{r+1}/N_r and the unseen-probability mass
    * is N_1/N. Shipped as exact integers per occupied r: N_r, the
    * numerator (r+1)·N_{r+1} (denominator N_r rides in its own
    * column — the q234 rational template), and the total-token count
    * N on every row so the mass estimates need no second artifact.
    *
    * Scale shape: token counts are one partial-aggregable explode +
    * groupBy(token); the frequency-of-frequency table is a second
    * groupBy over the VOCAB-sized count table; N_{r+1} is a LEAD over
    * the occupied-r table (frequency-domain-bounded — tiny), made
    * exact-on-gaps by a join on r+1 rather than positional lead.
    */
  val q309 = oracled(
    "q309_good_turing",
    "Good-Turing frequency-of-frequencies: N_r ledger with exact r* numerators",
    """WITH tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS r FROM (
           SELECT unnest(string_split(trim(text), ' ')) AS tok
           FROM documents) t
         GROUP BY tok),
       nn AS (SELECT CAST(SUM(r) AS BIGINT) AS n_tokens FROM tc),
       fof AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r
         FROM tc GROUP BY r)
       SELECT f.r, f.n_r,
         CAST((f.r + 1) * COALESCE(g.n_r, 0) AS BIGINT) AS rstar_num,
         f.n_r AS rstar_den, nn.n_tokens
       FROM fof f LEFT JOIN fof g ON g.r = f.r + 1
       CROSS JOIN nn
       ORDER BY f.r""") { (s, dir) =>
    val tc = Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("r"))
    val nn = tc.agg(sum(col("r")).as("n_tokens"))
    val fof = tc.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
      .localCheckpoint(false)
    fof.alias("f")
      .join(fof.alias("g"), col("g.r") === col("f.r") + 1, "left")
      .crossJoin(broadcast(nn))
      .select(col("f.r").as("r"), col("f.n_r").as("n_r"),
        ((col("f.r") + 1) * coalesce(col("g.n_r"), lit(0L)))
          .as("rstar_num"),
        col("f.n_r").as("rstar_den"), col("n_tokens"))
      .orderBy(col("r"))
  }

  /** Unified similarity-join thresholds (q322): high enough that the
    * output is the true near-dup set, not the co-occurrence mass.
    */
  private[graft] val SimJoinJacT = 0.8
  private[graft] val SimJoinCosT = 0.95

  /** q322 — the user-facing `similarity_join(threshold, metric)`
    * operator (r13 VERDICT #8): ONE prefix-filtered join surface
    * serving both set similarity (bigram-shingle Jaccard ≥
    * [[SimJoinJacT]], q48's rarest-first count prefix) and weighted
    * similarity (exact-integer TF-IDF cosine ≥ [[SimJoinCosT]], q197's
    * L2 prefix at a USER threshold instead of the top-k track — the
    * same [[cosinePrefixPairs]], τ supplied as a literal). Both legs
    * share the candidate-generation law the family proves piecewise:
    * prefixes under a fixed rarest-first order probed against full
    * postings are COMPLETE at the leg's threshold (q48 scaladoc for
    * the count bound, q197 §2 for the weighted L2 bound), and both
    * verify exactly (sorted-merge intersection / integer map-lookup
    * dot), so the brute-force oracle hash-matches. Output: (metric,
    * doc_a, doc_b, score) — a single relation a dedup pipeline can
    * route on metric.
    */
  val q322 = {
    val hashSql = graft.functions.RollingHash.duckSql("b", sfx = "2")
    oracled(
      "q322_similarity_join",
      "unified prefix-filtered similarity join: bigram Jaccard >= 0.8 and TF-IDF cosine >= 0.95 legs",
      s"""WITH t AS (
           SELECT doc_id, lang, source, string_split(trim(text), ' ') AS toks
           FROM documents),
         bg AS (
           SELECT doc_id, lang, source,
             list_sort(list_distinct(list_transform(
               list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i+1]),
               b -> $hashSql))) AS sh
           FROM t),
         jac AS (SELECT doc_a, doc_b, jaccard FROM (
             SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               CASE WHEN len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) > 0
                 THEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                   / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
                 ELSE NULL END AS jaccard
             FROM bg x JOIN bg y
               ON x.lang = y.lang AND x.source = y.source AND x.doc_id < y.doc_id)
           WHERE jaccard >= $SimJoinJacT),
         tok AS (
           SELECT doc_id, lang, source,
             unnest(string_split(trim(text), ' ')) AS tok
           FROM documents),
         tf AS (SELECT doc_id, lang, source, tok, COUNT(*) AS tf
           FROM tok GROUP BY 1, 2, 3, 4),
         df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         w AS (SELECT doc_id, lang, source, tf.tok,
             tf.tf * (${graft.functions.IntLog2.duckSql("(n.n_docs + 1)")}
                    - ${graft.functions.IntLog2.duckSql("(df.df + 1)")}) // 1024
               AS wi
           FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
         nrm AS (SELECT doc_id, CAST(SUM(wi * wi) AS BIGINT) AS n2
           FROM w GROUP BY 1),
         dt AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(a.wi * b.wi) AS BIGINT) AS dot
           FROM w a JOIN w b ON a.tok = b.tok AND a.lang = b.lang
             AND a.source = b.source AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         cosp AS (SELECT doc_a, doc_b,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
           FROM dt JOIN nrm na ON na.doc_id = dt.doc_a
                   JOIN nrm nb ON nb.doc_id = dt.doc_b)
         SELECT * FROM (
           SELECT 'jaccard' AS metric, doc_a, doc_b, jaccard AS score FROM jac
           UNION ALL
           SELECT 'cosine' AS metric, doc_a, doc_b, cosine AS score
           FROM cosp WHERE cosine >= $SimJoinCosT)
         ORDER BY metric, doc_a, doc_b""") { (s, dir) =>
      val jac = Dedup.ngramJaccardPairs(Dedup.tokenized(s, dir), SimJoinJacT)
        .select(lit("jaccard").as("metric"), col("doc_a"), col("doc_b"),
          col("jaccard").as("score"))
      val (w, vecs) = tfidfArtifacts(s, dir)
      val tauF = s.range(1).select(lit(SimJoinCosT).as("tau"))
      val cos = cosinePrefixPairs(w, vecs, tauF)
        .filter(col("cosine") >= SimJoinCosT)
        .select(lit("cosine").as("metric"), col("doc_a"), col("doc_b"),
          col("cosine").as("score"))
      jac.unionByName(cos)
        .orderBy(col("metric"), col("doc_a"), col("doc_b"))
    }
  }

  // ------------------------------------------------- n-gram novelty

  /** q328 — N-GRAM NOVELTY curve: per document (in doc_id ingest
    * order), how many of its word trigrams were NEVER seen in any
    * earlier document — the marginal-content measure behind
    * dedup-aware corpus growth ("is this crawl increment adding
    * anything?") and the per-doc complement of q156's corpus-level
    * vocabulary curve: near-copies score ≈ 0 novelty, fresh content
    * scores high. Ledger per doc: trigram positions, distinct
    * trigrams, novel trigrams (first global occurrence is here), and
    * novel_ppm = 10⁶·novel div distinct — all BIGINT.
    *
    * Scale shape: "seen earlier" needs no ordered scan or cumulative
    * distinct — a trigram is novel in EXACTLY the doc where it first
    * occurs, so one distinct over (gram, doc), one groupBy(gram) →
    * min(doc_id), and a join back on (gram, doc_id) settle every doc
    * in three keyed linear shuffles (the q156 first-occurrence trick
    * carried to per-doc resolution). Grams travel as the SAME 64-bit
    * rolling hash in the engine AND the oracle (q333's discipline):
    * both sides resolve first-occurrence over hashed grams, so a hash
    * collision — two grams sharing a bucket, which merges their
    * first-occurrence — is part of the DECLARED semantics rather than
    * a corpus-dependent accident the parity gate can't see. Collision
    * budget: mod ≈ 10⁹ (RollingHash.DefaultMod), so expected collisions
    * ≈ G²/(2·10⁹) distinct-gram pairs — negligible under ~10⁴ distinct
    * grams, and in any case IDENTICAL on both sides by construction.
    */
  val q328 = oracled(
    "q328_ngram_novelty",
    "per-doc trigram novelty vs all earlier docs: first-occurrence join over shared gram hashes, exact BIGINT ledger",
    s"""WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS t
           FROM documents),
       tri AS (SELECT doc_id,
           unnest(list_transform(
             list_transform(range(1, greatest(len(t) - 2, 0) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])),
             gs -> ${duckSql("gs", sfx = "g")})) AS g
         FROM tok),
       d AS (SELECT DISTINCT doc_id, g FROM tri),
       fo AS (SELECT g, MIN(doc_id) AS first_doc FROM d GROUP BY g),
       pd AS (SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN fo.first_doc = d.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel
         FROM d JOIN fo ON fo.g = d.g GROUP BY d.doc_id),
       np AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_positions
         FROM tri GROUP BY doc_id)
       SELECT pd.doc_id, np.n_positions, pd.n_distinct, pd.n_novel,
         (1000000 * pd.n_novel) // pd.n_distinct AS novel_ppm
       FROM pd JOIN np ON np.doc_id = pd.doc_id
       ORDER BY pd.doc_id""") { (s, dir) =>
    val tri = Tables.documents(s, dir)
      .select(col("doc_id"), split(trim(col("text")), " ").as("t"))
      .select(col("doc_id"),
        explode(sequence(lit(1),
          greatest(size(col("t")) - 2, lit(0)) + 1)).as("i"),
        col("t"))
      .filter(col("i") <= size(col("t")) - 2)
      .select(col("doc_id"),
        rollingHash(array_join(slice(col("t"), col("i"), lit(3)), " "))
          .as("g"))
    val np = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("n_positions"))
    val d = tri.distinct().localCheckpoint(false)
    val fo = d.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    val pd = d.join(fo, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    pd.join(np, Seq("doc_id"))
      .select(col("doc_id"), col("n_positions"), col("n_distinct"),
        col("n_novel"),
        expr("(1000000 * n_novel) div n_distinct").as("novel_ppm"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------- lexical concentration

  /** q341 — LEXICAL CONCENTRATION per source: type-token ratio plus
    * two exact concentration indices over the token-frequency
    * distribution — Herfindahl (Σp² — the "how much of this source is
    * a few tokens" number, the HHI of market-share fame) and Simpson's
    * index Σn(n−1)/(N(N−1)) (the probability two random tokens
    * coincide, the unbiased small-sample form). Low-diversity sources
    * (template/boilerplate farms) stand out before any model sees
    * them — the cheap screen that runs ahead of the dedup family.
    *
    * Exactness: both indices are ratios of integer sums; the numerator
    * Σn² reaches N², so the 10⁶ ppm scaling runs in DECIMAL(38,0)
    * (oracle: HUGEINT) — the q324 envelope discipline: exact up to
    * N ≤ 3×10⁹ tokens per source per Int64 n, and the widened ppm
    * arithmetic never wraps below 10²⁵. N ≤ 1 yields explicit NULL
    * simpson (declared boundary), not a ÷0 artifact.
    *
    * Scale shape: one partial-agg groupBy(source, tok) over the
    * tokenized ARTIFACT scan (column-pruned to (source, toks)), then a
    * source-bounded second aggregate. No joins, no windows.
    */
  val q341 = oracled(
    "q341_lexical_concentration",
    "per-source type-token ratio + exact Herfindahl/Simpson token concentration (ppm)",
    """WITH tok AS (SELECT source, unnest(string_split(trim(text), ' ')) AS tok
           FROM documents),
       g AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
         FROM tok GROUP BY 1, 2),
       a AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           SUM(CAST(n AS HUGEINT) * n) AS sum_sq,
           SUM(CAST(n AS HUGEINT) * (n - 1)) AS sum_pp
         FROM g GROUP BY 1)
       SELECT source, n_tokens, n_types,
         (1000000 * n_types) // n_tokens AS ttr_ppm,
         CAST((sum_sq * 1000000)
           // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT) AS hhi_ppm,
         CASE WHEN n_tokens <= 1 THEN NULL ELSE
           CAST((sum_pp * 1000000)
             // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
           END AS simpson_ppm
       FROM a ORDER BY source""") { (s, dir) =>
    val tok = Dedup.tokenized(s, dir)
      .select(col("source"), explode(col("toks")).as("tok"))
    tok.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * n")).as("sum_sq"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * (n - 1)")).as("sum_pp"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr("(1000000 * n_types) div n_tokens").as("ttr_ppm"),
        expr("""CAST((sum_sq * 1000000)
                div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) AS BIGINT)""")
          .as("hhi_ppm"),
        expr("""CASE WHEN n_tokens <= 1 THEN NULL ELSE
                CAST((sum_pp * 1000000)
                  div (CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1))
                AS BIGINT) END""").as("simpson_ppm"))
      .orderBy(col("source"))
  }

  // --------------------------------------- cross-document repetition

  /** q343 — CROSS-DOCUMENT 5-GRAM COVERAGE: per document, the fraction
    * of its word-5-gram POSITIONS whose gram also occurs in at least
    * one OTHER document — the span-level memorization-risk measure of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022): content repeated across documents is what a
    * model memorizes verbatim. The per-doc complement of q328's
    * novelty ledger: q328 asks "was this gram ever seen BEFORE", this
    * asks "is this span shared with ANY other doc" — symmetric, so a
    * near-dup pair scores high on both sides. Docs under 5 tokens have
    * no 5-gram positions and no row (declared).
    *
    * Scale shape: three keyed linear shuffles over the position table
    * — distinct (gram, doc), groupBy(gram) doc-count, flag join back —
    * with grams travelling as the SAME rolling hash in engine and
    * oracle (the q328/q333 shared-hash discipline). No pair join
    * anywhere: "shared with another doc" is a doc-count ≥ 2 predicate
    * on the gram key, never an enumeration of the pairs.
    */
  val q343 = oracled(
    "q343_crossdoc_gram_coverage",
    "per-doc share of 5-gram positions shared with other docs: first-class memorization-risk ledger",
    s"""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
       pos AS (SELECT doc_id,
           unnest(list_transform(
             list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
               i -> array_to_string(toks[i:i+4], ' ')),
             gs -> ${duckSql("gs", sfx = "g")})) AS g
         FROM t),
       np AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_positions
         FROM pos GROUP BY 1),
       d AS (SELECT DISTINCT doc_id, g FROM pos),
       crossg AS (SELECT g FROM d GROUP BY g HAVING COUNT(*) >= 2),
       nc AS (SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_cross
         FROM pos p JOIN crossg c ON c.g = p.g GROUP BY 1)
       SELECT np.doc_id, np.n_positions,
         CAST(COALESCE(nc.n_cross, 0) AS BIGINT) AS n_cross,
         (1000000 * CAST(COALESCE(nc.n_cross, 0) AS BIGINT))
           // np.n_positions AS cross_ppm
       FROM np LEFT JOIN nc ON nc.doc_id = np.doc_id
       ORDER BY np.doc_id""") { (s, dir) =>
    val pos = Dedup.tokenized(s, dir)
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 5,
            sequence(lit(1), size(col("toks")) - 4))
          .otherwise(array().cast("array<int>"))).as("i"),
        col("toks"))
      .select(col("doc_id"),
        rollingHash(array_join(slice(col("toks"), col("i"), lit(5)), " "))
          .as("g"))
      .localCheckpoint(false) // feeds np, the distinct, and the flag join
    val np = pos.groupBy(col("doc_id")).agg(count(lit(1)).as("n_positions"))
    val crossg = pos.distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("g"))
    val nc = pos.join(crossg, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_cross"))
    np.join(nc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_positions"),
        coalesce(col("n_cross"), lit(0L)).as("n_cross"),
        expr("(1000000 * COALESCE(n_cross, 0)) div n_positions")
          .as("cross_ppm"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------- classifier evaluation

  /** q336 — LANG-ID CONFUSION MATRIX: q42's marker-vote classifier
    * evaluated as a classifier — counts per (true lang, predicted
    * lang) cell plus each cell's exact ppm share of its true-lang row
    * (the diagonal's share IS per-lang recall). This is the eval
    * artifact a pipeline review reads before trusting q42's labels to
    * gate anything; the classifier is the SHARED [[langPred]] /
    * [[langCaseSql]] definition, so the audit can never fork from the
    * operator it audits.
    *
    * Scale shape: the classifier is scan-local per document; the
    * matrix is one partial-agg groupBy over the bounded lang ×
    * (langs + unknown) grid; row totals broadcast.
    */
  val q336 = oracled(
    "q336_lang_confusion",
    "lang-ID confusion matrix: (true, predicted) counts + exact ppm row shares (diagonal = recall)",
    s"""WITH scored AS ($langScoredCteSql),
       p AS (SELECT lang, $langCaseSql AS pred_lang FROM scored),
       m AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM p GROUP BY 1, 2),
       t AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang
         FROM m GROUP BY 1)
       SELECT m.lang, m.pred_lang, m.n_docs,
         (1000000 * m.n_docs) // t.n_lang AS share_ppm
       FROM m JOIN t ON t.lang = m.lang
       ORDER BY m.lang, m.pred_lang""") { (s, dir) =>
    val m = Tables.documents(s, dir)
      .select(col("lang"), langPred.as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val t = m.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_lang"))
    m.join(broadcast(t), Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        expr("(1000000 * n_docs) div n_lang").as("share_ppm"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** q337 — QUALITY × DUPLICATION interaction ledger: are low-quality
    * documents disproportionately duplicates? Documents are cut into
    * ascending-quality deciles by NTILE(10) under the (quality,
    * doc_id) total order (the q312 determinism discipline; quality is
    * q41's [[qualityScore]], whose doubles both engines compute
    * identically — the q41 oracle's proof carries over), each doc is
    * flagged exact-dup iff its raw text occurs more than once, and the
    * ledger is per-decile counts + exact dup ppm — the curve that says
    * whether a quality gate and a dedup pass do overlapping work.
    *
    * Scale shape: quality is scan-local; the dup flag is one
    * partial-agg groupBy(text) + keyed join back; the global NTILE is
    * the q302/q312-documented cutpoint-substitution site past
    * single-task row counts.
    */
  val q337 = oracled(
    "q337_quality_dup_interaction",
    "quality deciles x exact-dup membership: per-decile dup ppm (do quality and dedup gates overlap?)",
    s"""WITH q AS (SELECT doc_id, text,
           ${qualityDuckSql("text")} AS qual
         FROM documents),
       d AS (SELECT doc_id, text,
           CAST(NTILE(10) OVER (ORDER BY qual, doc_id) AS BIGINT) AS decile
         FROM q),
       dup AS (SELECT text, COUNT(*) AS c FROM documents GROUP BY text)
       SELECT d.decile,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN dup.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dups,
         CAST((1000000 * SUM(CASE WHEN dup.c > 1 THEN 1 ELSE 0 END))
           // COUNT(*) AS BIGINT) AS dup_ppm
       FROM d JOIN dup ON dup.text = d.text
       GROUP BY d.decile ORDER BY d.decile""") { (s, dir) =>
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), qualityScore(col("text")).as("qual"))
      .withColumn("decile", ntile(10).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("qual"), col("doc_id"))).cast("long"))
    val dup = Tables.documents(s, dir)
      .groupBy(col("text")).agg(count(lit(1)).as("c"))
    d.join(dup, Seq("text"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dups"))
      .select(col("decile"), col("n_docs"), col("n_dups"),
        expr("(1000000 * n_dups) div n_docs").as("dup_ppm"))
      .orderBy(col("decile"))
  }

  // --------------------------------------- inverted-index audit

  /** q350 — POSTING-INDEX cardinality audit: the tf-idf inverted
    * index's posting mass bucketed by octave of document frequency
    * (band = ⌊log2 df⌋ via `length(bin(df)) − 1`, identical integer
    * arithmetic in both engines) — the retrieval-planning profile
    * behind every prefix-filter and stop-list decision this family
    * makes: hot octaves (high df) are where posting joins square
    * (q132's lesson), and this ledger is how a pipeline SEES that
    * before paying it. Per band: distinct tokens, total postings, and
    * postings_ppm of the whole index (the product 10⁶ × band-postings
    * widens to DECIMAL(38,0)/HUGEINT — at 100 TB a band holds ~10¹²
    * postings and the product wraps Int64 at ~9.2×10¹², the q324
    * envelope discipline).
    *
    * Scale shape: one distinct over (doc, tok), one groupBy(tok), one
    * groupBy(band) over vocabulary-sized rows, one broadcast scalar —
    * three keyed linear shuffles, no joins against the corpus.
    */
  val q350 = oracled(
    "q350_posting_index_audit",
    "posting mass per df octave: the hot-token profile prefix filters and stop lists are decided on",
    """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
           FROM documents),
       d AS (SELECT DISTINCT doc_id, tok FROM tok),
       dfr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM d GROUP BY 1),
       tot AS (SELECT CAST(SUM(df) AS BIGINT) AS total_postings FROM dfr)
       SELECT (length(bin(df)) - 1) AS band,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(df) AS BIGINT) AS n_postings,
         CAST((1000000 * CAST(SUM(df) AS HUGEINT)) // tot.total_postings
           AS BIGINT) AS postings_ppm
       FROM dfr CROSS JOIN tot
       GROUP BY 1, tot.total_postings ORDER BY band""") { (s, dir) =>
    val d = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(trim(col("text")), " ")).as("tok"))
      .distinct()
    val dfr = d.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val tot = dfr.agg(sum(col("df")).as("total_postings"))
    dfr.select(expr("length(bin(df)) - 1").as("band"), col("df"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("df")).as("band_postings"))
      .crossJoin(broadcast(tot))
      .select(col("band"), col("n_tokens"),
        col("band_postings").as("n_postings"),
        expr("""CAST((1000000 * CAST(band_postings AS DECIMAL(38,0)))
                div total_postings AS BIGINT)""").as("postings_ppm"))
      .orderBy(col("band"))
  }

  /** q351 — FROZEN-DICTIONARY OOV drift: the measured cost of the
    * snapshot-dictionary contract [[graft.streaming.SimilarityJoinStream]]
    * scores under — freeze the vocabulary on the first half of the
    * corpus (doc_id ≤ max/2, the crawl-increment split q345 uses) and
    * ledger the second half against it per (lang, source): documents,
    * token positions, OOV positions (token absent from the snapshot
    * vocabulary — exactly the rows [[weightsFromDict]]'s inner join
    * drops), and oov_ppm. High oov_ppm in a block is the signal to
    * re-freeze the dictionary before similarity scores there decay.
    *
    * Scale shape: vocabulary is corpus-scale, so the membership probe
    * is a keyed LEFT JOIN on tok (never a broadcast — the scaladoc'd
    * r14 lesson on string-keyed big sides), then one partial agg per
    * block. The 10⁶ product widens to DECIMAL(38,0)/HUGEINT.
    */
  val q351 = oracled(
    "q351_frozen_dict_oov",
    "second-half OOV rate against a first-half vocabulary snapshot: when to re-freeze the IDF dictionary",
    """WITH thr AS (SELECT MAX(doc_id) // 2 AS t FROM documents),
       tok AS (SELECT doc_id, lang, source,
           unnest(string_split(trim(text), ' ')) AS tok
         FROM documents),
       vocab AS (SELECT DISTINCT tk.tok AS vtok
         FROM tok tk CROSS JOIN thr WHERE tk.doc_id <= thr.t),
       nw AS (SELECT tk.* FROM tok tk CROSS JOIN thr WHERE tk.doc_id > thr.t),
       m AS (SELECT nw.lang, nw.source, nw.doc_id,
           CASE WHEN v.vtok IS NULL THEN 1 ELSE 0 END AS oov
         FROM nw LEFT JOIN vocab v ON v.vtok = nw.tok)
       SELECT lang, source,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_positions,
         CAST(SUM(oov) AS BIGINT) AS n_oov,
         CAST((1000000 * CAST(SUM(oov) AS HUGEINT)) // COUNT(*)
           AS BIGINT) AS oov_ppm
       FROM m GROUP BY 1, 2 ORDER BY lang, source""") { (s, dir) =>
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(split(trim(col("text")), " ")).as("tok"))
    val thr = Tables.documents(s, dir)
      .agg(expr("max(doc_id) div 2").as("t"))
    val tokT = tok.crossJoin(broadcast(thr))
    val vocab = tokT.filter(col("doc_id") <= col("t"))
      .select(col("tok").as("vtok")).distinct()
    tokT.filter(col("doc_id") > col("t"))
      .join(vocab, col("vtok") === col("tok"), "left")
      .select(col("lang"), col("source"), col("doc_id"),
        when(col("vtok").isNull, 1L).otherwise(0L).as("oov"))
      .groupBy(col("lang"), col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_positions"), sum(col("oov")).as("n_oov"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_positions"),
        col("n_oov"),
        expr("""CAST((1000000 * CAST(n_oov AS DECIMAL(38,0)))
                div n_positions AS BIGINT)""").as("oov_ppm"))
      .orderBy(col("lang"), col("source"))
  }

  val all: Seq[GQuery] =
    Seq(q40, q41, q42, q43, q64, q76, q114, q124, q130, q131, q142, q147,
      q156, q168, q177, q185, q190, q197, q203, q224, q250, q267, q270,
      q271, q273, q283, q292, q303, q304, q309, q322, q328, q336, q337,
      q341, q343, q350, q351)
}
