package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.sources.Tables
import graft.CacheScope.ScopedPersist

/** Text-analysis operators (SURVEY.md §2.B D20): token counting
  * (whitespace + BPE-ish regex), quality scoring, language-ID heuristic,
  * document fingerprinting.
  *
  * All per-document features are narrow column expressions (codegen'd
  * built-ins, no UDFs, no explode except where an aggregation follows),
  * so they scale as a pure map over the corpus; the aggregations are
  * standard partial+final hash aggregates keyed on low-cardinality
  * columns (lang, source).
  */
object TextAnalysis {

  /** Tokens = lowercased whitespace split (corpus is space-separated). */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * non-alphanumeric glyphs — a cheap deterministic proxy for a BPE
    * tokenizer's token count. */
  def bpeishCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))

  /** English-y stopword markers present in the fixture vocabulary. */
  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")
  /** Marker sets for the language-ID heuristic (deterministic order). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "es" -> Seq("el", "la", "los", "de"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "les", "et"))

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** D20: per-document text statistics (subset for bounded output). */
  def t1TextStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    Tables.documents(spark, dir)
      .filter($"doc_id" < 100)
      .select(
        $"doc_id",
        length($"text").cast("int").as("n_chars_obs"),
        size(toks).as("n_tokens"),
        bpeishCount($"text").cast("int").as("n_bpeish"),
        round(length(regexp_replace(lower($"text"), "[a-z0-9\\s]", "")).cast("double") /
          length($"text"), 4).as("punct_ratio"),
        round(countIn(toks, stopwords).cast("double") / size(toks), 4).as("stopword_ratio"),
        round((length($"text") - size(toks) + 1).cast("double") / size(toks), 4)
          .as("avg_token_len"))
      .orderBy($"doc_id")
  }

  /** Session-scoped per-document cleaning facts — (doc_id, lang,
    * source, n_chars, nt = token count, quality, ch = normalized
    * content hash) persisted once per (session, dir): the quality gate
    * / exact-dedup preamble is shared verbatim by t2, c1, c2, c7, c8,
    * c11, c17 and c18, and [[qualityScore]]'s higher-order filter runs
    * interpreted per token (CodegenFallback), so round-15 profiling
    * measured the c-family spending 40–66 s of task time re-deriving
    * these columns inside single bench queries. The sharedSigs
    * discipline: a session-scoped materialized view over immutable
    * fixture data; stopped-session entries evict first. */
  private val docFactsCache =
    graft.SessionCaches.valueCache[String, DataFrame](Seq(_))
  private[graft] def docFacts(spark: SparkSession, dir: String)
      : DataFrame =
    docFactsCache.getOrElseUpdate(spark, dir) {
      import spark.implicits._
      Tables.documents(spark, dir).select($"doc_id", $"lang", $"source",
        $"n_chars",
        size(tokens($"text")).cast("long").as("nt"),
        qualityScore($"text").as("quality"),
        md5(regexp_replace(trim(lower($"text")), "\\s+", " ")).as("ch"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** Rule-based quality score in [0,1] from length / stopword /
    * repetition signals (shared by t2 and the c1 pipeline). */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks)
    val stopRatio = countIn(toks, stopwords).cast("double") / nTok
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
    val lengthOk = when(nTok.between(20, 80), 1.0).otherwise(0.0)
    round(lit(0.4) * lengthOk + lit(0.3) * least(stopRatio * 5.0, lit(1.0)) +
      lit(0.3) * distinctRatio, 4)
  }

  /** SQL twin of [[qualityScore]] (DuckDB dialect), shared by oracles. */
  private[operators] def qualityScoreSql: String = {
    val toks = "string_split(lower(text), ' ')"
    s"""round(0.4 * (CASE WHEN len($toks) BETWEEN 20 AND 80 THEN 1.0 ELSE 0.0 END)
       + 0.3 * least(${countInSql(stopwords)} * 1.0 / len($toks) * 5.0, 1.0)
       + 0.3 * (len(list_distinct($toks)) * 1.0 / len($toks)), 4)"""
  }

  /** D20: corpus quality scoring — rule-based score in [0,1] from
    * length / stopword / repetition signals, aggregated per source. */
  def t2Quality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docFacts(spark, dir)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg($"quality"), 4).as("avg_quality"),
        count(when($"quality" >= 0.5, 1)).as("n_pass"))
      .orderBy($"source")
  }

  /** D20: language-ID heuristic — marker-token hit counts per language,
    * argmax with a deterministic preference order, 'und' when nothing
    * matches. Checked against the fixture lang label. */
  def t3LangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    heuristicLangPred(spark, dir)
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"pred_lang")
  }

  /** Per-document heuristic language prediction (doc_id, lang,
    * pred_lang) — the t3 scorer before its confusion rollup, shared
    * with the t35 agreement test. */
  private[graft] def heuristicLangPred(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Hit counts land in their own projection; the argmax CASE below
    // references only the (non-cheap, multiply-used) hit columns, which
    // CollapseProject will not inline — each count is computed once per
    // row. A fold of chained whens would duplicate every count
    // expression at each level (exponential expression blow-up under
    // interpreted higher-order evaluation).
    val hitCols = langMarkers.map { case (l, ws) =>
      countIn(tokens($"text"), ws).as(s"hit_$l")
    }
    // later languages win only on strictly greater (same as the fold
    // en→es→de→fr with strict updates; mirrors the oracle CASE)
    val pred = when($"hit_fr" > greatest($"hit_en", $"hit_es", $"hit_de", lit(0)), "fr")
      .when($"hit_de" > greatest($"hit_en", $"hit_es", lit(0)), "de")
      .when($"hit_es" > greatest($"hit_en", lit(0)), "es")
      .when($"hit_en" > lit(0), "en")
      .otherwise("und")
    Tables.documents(spark, dir)
      .select(Seq($"doc_id", $"lang") ++ hitCols: _*)
      .withColumn("pred_lang", pred)
      .select($"doc_id", $"lang", $"pred_lang")
  }

  /** D20: token frequency — top 10 terms per source by count
    * (explode + two-level aggregation + window top-k). */
  def t4TermFreq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select($"source", explode(tokens($"text")).as("term"))
      .groupBy($"source", $"term")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"source").orderBy($"n".desc, $"term")
    tf.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 10)
      .select($"source", $"rk", $"term", $"n")
      .orderBy($"source", $"rk")
  }

  /** D20: document fingerprinting — content md5 over normalized text
    * plus a winnowing-style min-shingle-hash fingerprint. */
  def t5Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // min shingle hash via explode + partial-aggregated min (codegen'd
    // md5 per shingle row) rather than an interpreted array pipeline;
    // left join keeps sub-3-token docs with a null fingerprint, matching
    // array_min(empty) = null semantics. Reuses the session-persisted
    // DISTINCT shingle frame d3-d7 hang off (min is duplicate-
    // insensitive, so distinct rows give the identical fingerprint and
    // the corpus is shingled once per session, not once per query).
    val minSh = Dedup.sharedSigs(spark, dir)._1
      .groupBy($"doc_id").agg(min(md5($"s")).as("min_shingle_hash"))
    Tables.documents(spark, dir)
      .select(
        $"doc_id",
        md5(regexp_replace(trim(lower($"text")), "\\s+", " ")).as("content_md5"),
        size(tokens($"text")).as("n_tokens"))
      .join(minSh, Seq("doc_id"), "left")
      .select($"doc_id", $"content_md5", $"min_shingle_hash", $"n_tokens")
      .orderBy($"doc_id")
  }

  /** D20: TF-IDF top terms — document frequency from distinct
    * (doc, term) pairs, tf·ln(N/df) scoring, window top-5 per source.
    * Two partial-aggregated shuffles; the tf⋈df join on `term` stays a
    * shuffle join — the per-term df table is VOCABULARY-sized (10⁷–10⁹
    * terms on a web corpus), so a broadcast hint here would OOM the
    * driver at scale. ln() is IEEE-identical across engines. */
  def t6Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    val docTerm = docs.select($"doc_id", $"source", explode(tokens($"text")).as("term"))
    val df_ = docTerm.select($"doc_id", $"term").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val tf = docTerm.groupBy($"source", $"term").agg(count(lit(1)).as("tf"))
    val scored = tf.join(df_, "term")
      .withColumn("tfidf", round($"tf" * log(lit(nDocs.toDouble) / $"df"), 4))
    val w = Window.partitionBy($"source").orderBy($"tfidf".desc, $"term")
    scored.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"source", $"rk", $"term", $"tfidf")
      .orderBy($"source", $"rk")
  }

  /** D20: unigram negative log-likelihood per document — the
    * perplexity-style quality signal (CCNet/Gopher-family filters rank
    * documents by how surprising their tokens are under a corpus LM;
    * the unigram case is the SQL-replayable core of that). Per token:
    * −ln p(term) = ln(N/tf), rounded to 4 dp BEFORE the per-document
    * sum so cross-engine FP summation order cannot flip the final
    * 4-dp rounding (sum of 4-dp values is itself 4-dp — the c1
    * lesson). The per-term frequency table is VOCABULARY-sized, so the
    * tok⋈freq join stays a shuffle join keyed on the term, exactly the
    * t6 TF-IDF shape; everything else is partial-aggregated. */
  def t9UnigramNll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docTok = Tables.documents(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("term"))
    val nTotal = docTok.count()
    val freq = docTok.groupBy($"term").agg(count(lit(1)).as("tf"))
    docTok.join(freq, "term")
      .withColumn("v", round(log(lit(nTotal.toDouble) / $"tf"), 4))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"), round(sum($"v"), 4).as("sum_nll"))
      .orderBy($"doc_id")
  }

  /** D85: bigram language-model NLL per document — the t9 perplexity
    * signal upgraded to a conditional model: token surprisal under
    * add-one-smoothed corpus bigram frequencies,
    *
    *   −ln p(w2|w1) = ln((c(w1) + V) / (c(w1 w2) + 1)),
    *
    * the actual CCNet-style quality filter shape (a document of
    * individually-common words in an improbable ORDER now scores
    * badly, which unigram NLL cannot see). c(w1) is the corpus
    * occurrence count of w1, V the distinct-token vocabulary size.
    *
    * Float discipline: the ratio is one IEEE division of exact
    * integers and ln() is IEEE-identical across engines (t6), rounded
    * to 4 dp BEFORE the per-document sum (the t9/c1 lesson).
    *
    * Scale shape: both count tables are VOCABULARY-sized, so both
    * joins stay shuffle joins keyed on the bigram / first word (the t6
    * df-join rule — broadcasting a 10⁷–10⁹-term table would OOM the
    * driver); the two token-stream passes are each partial-aggregated
    * before their shuffle. */
  def t18BigramNll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bigramNllScores(spark, dir).orderBy($"doc_id")
  }

  /** Unordered (doc_id, n_bigrams, sum_nll) core of [[t18BigramNll]],
    * shared with the c13 perplexity gate (which joins it — no point
    * sorting a corpus-sized frame that is about to be re-shuffled). */
  private[graft] def bigramNllScores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val docTok = docs.select($"doc_id", explode(tokens($"text")).as("term"))
    val vocabSize = docTok.select($"term").distinct().count()
    val uniCnt = docTok.groupBy($"term").agg(count(lit(1)).as("c1"))
    val docBig = docs.select($"doc_id", explode(bigrams($"text")).as("bg"))
    val bigCnt = docBig.groupBy($"bg").agg(count(lit(1)).as("c12"))
    docBig.join(bigCnt, "bg")
      .withColumn("term", substring_index($"bg", " ", 1))
      .join(uniCnt, "term")
      .withColumn("v", round(log(($"c1" + lit(vocabSize)).cast("double") /
        ($"c12" + lit(1L)).cast("double")), 4))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(sum($"v"), 4).as("sum_nll"))
  }

  /** Kneser–Ney absolute discount for [[t38KnNll]]. */
  val knDiscount = 0.75

  /** D217: interpolated Kneser–Ney bigram NLL per document — the
    * KenLM-style quality filter (Heafield '11; Kneser & Ney '95):
    * token surprisal under
    *
    *   p(w2|w1) = (c(w1w2) − D)/c(w1) + D·N1+(w1·)/c(w1) · p_cont(w2),
    *   p_cont(w2) = N1+(·w2) / |bigram types|,
    *
    * where N1+(w1·)/N1+(·w2) are distinct-continuation/-predecessor
    * counts. Differs from t18's add-one model exactly where it
    * matters for filtering: a token that follows MANY distinct
    * predecessors (high continuation probability) is cheap even after
    * a rare context, so formulaic documents score differently than
    * under count-only smoothing — this is the smoothing every
    * production n-gram filter actually uses.
    *
    * Float discipline: all five count tables are exact integers; p is
    * ONE IEEE tree of casts/divisions (discount interpolated via
    * Double.toString), −ln rounded to 4 dp BEFORE the per-document
    * sum (the t9/c1 lesson). Every bigram here is attested (c12 ≥ 1 >
    * D), so p ∈ (0, 1] and the backoff never needs the unseen branch.
    *
    * Scale shape: the count tables are VOCABULARY-/bigram-type-sized,
    * so all four joins stay shuffle joins keyed on the gram (the t6
    * df-join rule); both token-stream passes partial-aggregate before
    * their shuffle; the only corpus-sized frames carry (doc_id, bg)
    * plus a handful of longs. */
  def t38KnNll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val docTok = docs.select($"doc_id", explode(tokens($"text")).as("term"))
    val docBig = docs.select($"doc_id", explode(bigrams($"text")).as("bg"))
    val uniCnt = docTok.select($"term".as("w1"))
      .groupBy($"w1").agg(count(lit(1)).as("c1"))
    val bigCnt = docBig.groupBy($"bg").agg(count(lit(1)).as("c12"))
      .scopedPersist()
    val bigTypes = bigCnt.count()
    val fwd = bigCnt.select(substring_index($"bg", " ", 1).as("w1"))
      .groupBy($"w1").agg(count(lit(1)).as("n1p"))
    val pred = bigCnt.select(substring_index($"bg", " ", -1).as("w2"))
      .groupBy($"w2").agg(count(lit(1)).as("pred2"))
    val d = knDiscount.toString
    docBig.join(bigCnt, "bg")
      .withColumn("w1", substring_index($"bg", " ", 1))
      .withColumn("w2", substring_index($"bg", " ", -1))
      .join(uniCnt, "w1").join(fwd, "w1").join(pred, "w2")
      .withColumn("v", expr(
        s"""round(-ln(((CAST(c12 AS DOUBLE) - $d)
            + $d * CAST(n1p AS DOUBLE)
              * (CAST(pred2 AS DOUBLE) / $bigTypes.0))
            / CAST(c1 AS DOUBLE)), 4)"""))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(sum($"v"), 4).as("sum_nll"))
      .orderBy($"doc_id")
  }

  /** D97: first-occurrence novelty scoring — per document, the
    * fraction of its word 3-shingles whose FIRST corpus occurrence
    * (min doc_id, the ingestion-order proxy) is this document. The
    * redundancy-growth curve of a crawl: late documents full of
    * already-seen shingles add little; a pretraining mix builder reads
    * low novelty as "this source has saturated" (the d12/d13
    * containment family viewed corpus-wide instead of pairwise).
    *
    * Determinism: novelty = novel/n_shingles is one exact-integer
    * division, 4-dp; everything upstream is min/count on integers.
    *
    * Scale shape: shingling is the Dedup.shingles O(tokens) array
    * expression; the first-occurrence table is VOCABULARY-sized →
    * the shingle⋈first join stays a shuffle join keyed on the shingle
    * (t6 rule), with both sides partial-aggregated before the
    * shuffle. */
  def t20Novelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Round-16 (guide §1.2): sh feeds the first-occurrence census AND
    // the join's probe side with different exchange shapes — without
    // the scoped persist the corpus was shingled twice.
    val sh = Tables.documents(spark, dir)
      .select($"doc_id", explode(Dedup.shingles($"text")).as("sh"))
      .scopedPersist()
    val first = sh.groupBy($"sh").agg(min($"doc_id").as("first_doc"))
    sh.join(first, "sh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(($"first_doc" === $"doc_id").cast("long")).as("novel"))
      .withColumn("novelty",
        round($"novel".cast("double") / $"n_shingles".cast("double"), 4))
      .orderBy($"doc_id")
  }

  /** D101: cross-source drift matrix — shingle-set Jaccard and overlap
    * for every source pair, the corpus curator's "are these two crawls
    * the same content" diagnostic (d5's pairwise-document question
    * lifted to whole sources).
    *
    * Scale trick: no pairwise source join over shingles. Each source
    * gets a bit (≤ 64 sources); ONE vocabulary-sized pass folds each
    * shingle's presence set to a bitmask (`bit_or`, partial-aggregated),
    * and a second groupBy collapses to the MASK census — at most
    * 2^|sources| and in practice tiny (1.4k rows on the fixture).
    * Every pairwise |A∩B| / |A∪B| / |A| then reads off the census with
    * bit tests: the pairwise stage touches |pairs|×|masks| bounded
    * rows, never the corpus. All counts exact integers; ratios are
    * single divisions, 4-dp.
    *
    * The pairs×census join is a broadcast cross of two BOUNDED frames
    * (dimension-sized × mask-census-sized) — the q43/t17 bounded-side
    * exemption, not a corpus×corpus product. */
  def t21SourceDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val srcBit = Tables.documents(spark, dir).select($"source").distinct()
      .withColumn("bit",
        (row_number().over(Window.orderBy($"source")) - 1).cast("int"))
    val maskCensus = Tables.documents(spark, dir)
      .select($"source", explode(Dedup.shingles($"text")).as("g"))
      .join(broadcast(srcBit), "source")
      .select($"g", expr("CAST(shiftleft(1, bit) AS BIGINT)").as("b"))
      .groupBy($"g").agg(expr("bit_or(b)").as("m"))
      .groupBy($"m").agg(count(lit(1)).as("c"))
    val pairs = srcBit.as("a")
      .join(srcBit.as("b"), $"a.bit" < $"b.bit")
      .select($"a.source".as("source_a"), $"b.source".as("source_b"),
        expr("CAST(shiftleft(1, a.bit) AS BIGINT)").as("ba"),
        expr("CAST(shiftleft(1, b.bit) AS BIGINT)").as("bb"))
    pairs.join(broadcast(maskCensus),
        ($"m".bitwiseAND($"ba" + $"bb")) =!= 0L)
      .groupBy($"source_a", $"source_b")
      .agg(
        sum(when($"m".bitwiseAND($"ba") =!= 0L, $"c").otherwise(0L))
          .as("n_a"),
        sum(when($"m".bitwiseAND($"bb") =!= 0L, $"c").otherwise(0L))
          .as("n_b"),
        sum(when($"m".bitwiseAND($"ba") =!= 0L &&
          $"m".bitwiseAND($"bb") =!= 0L, $"c").otherwise(0L))
          .as("n_inter"),
        sum($"c").as("n_union"))
      .withColumn("jaccard",
        round($"n_inter".cast("double") / $"n_union".cast("double"), 4))
      .orderBy($"source_a", $"source_b")
  }

  /** D102: multinomial naive-Bayes language classifier — train
    * add-one-smoothed per-language unigram models on the labeled
    * corpus, re-score every document, and emit the confusion matrix
    * (actual × predicted × count). The supervised companion of the
    * t3 hand-rule language-ID heuristic: the model IS the corpus
    * statistics, so "training" and "inference" are both one SQL-shaped
    * pass — the textbook reason NB is the first classifier a data
    * pipeline reaches for at 100 TB.
    *
    *   score(d, L) = ln P(L) + Σ_tokens ln((c(L,t) + 1) / (T_L + V))
    *
    * with c(L,t) the corpus count of token t under language L, T_L the
    * language's total token count, V the global vocabulary size.
    *
    * Float discipline: every per-token log-prob and the prior are
    * rounded to 4 dp BEFORE summation (the t9 lesson), the per-doc
    * sum re-rounded; argmax ties break on language name — both engines
    * rank on identical rounded doubles.
    *
    * Scale shape: the model grid is vocabulary × |languages| — built
    * by crossing the vocabulary with the (broadcast, |L|-row) totals
    * frame and left-joining the (lang, term) counts, so it stays a
    * shuffle join keyed on the term, never a driver collect. Scoring
    * joins the token stream to the grid on the term (the t6 df-join
    * rule: a 10⁷-term × L grid must not broadcast) with bounded ×|L|
    * fan-out, then partial-aggregates per (doc, lang). The final
    * argmax window partitions by doc_id over |L| rows each. */
  def t22NbLang(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    nbLangPred(spark, dir)
      .groupBy($"lang".as("actual_lang"), $"model_lang".as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"actual_lang", $"pred_lang")
  }

  /** Session-scoped persisted NB prediction frame per (session, dir)
    * — the Dedup.sharedSigs discipline: t22 (confusion matrix), t33
    * (per-language eval, via t22) and t35 (kappa vs the heuristic) are
    * three readouts of the SAME scorer over the same immutable
    * fixture, and round-15 measurement showed each re-running the full
    * train+score pipeline (2 counts + the vocabulary-grid join chain).
    * Stopped-session entries evict first (sigCache argument). */
  private val nbPredCache =
    graft.SessionCaches.valueCache[String, DataFrame](Seq(_))
  private[graft] def nbLangPred(spark: SparkSession, dir: String): DataFrame =
    nbPredCache.getOrElseUpdate(spark, dir)(
      nbLangPredBuild(spark, dir).persist(StorageLevel.MEMORY_AND_DISK))

  private def nbLangPredBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val docTok = docs.select($"doc_id", $"lang", explode(tokens($"text")).as("term"))
    val nDocs = docs.count()
    val vocabSize = docTok.select($"term").distinct().count()
    val ltc = docTok.groupBy($"lang", $"term").agg(count(lit(1)).as("c"))
    val ltot = ltc.groupBy($"lang").agg(sum($"c").as("tl"))
      .select($"lang".as("model_lang"), $"tl")
    val prior = docs.groupBy($"lang").agg(count(lit(1)).as("nd"))
      .select($"lang".as("model_lang"),
        round(log($"nd".cast("double") / lit(nDocs.toDouble)), 4).as("logprior"))
    val grid = docTok.select($"term").distinct()
      .crossJoin(broadcast(ltot))
      .join(ltc.select($"lang".as("model_lang"), $"term", $"c"),
        Seq("model_lang", "term"), "left")
      .select($"term", $"model_lang",
        round(log((coalesce($"c", lit(0L)) + lit(1L)).cast("double") /
          ($"tl" + lit(vocabSize)).cast("double")), 4).as("logp"))
    val scored = docTok.join(grid, "term")
      .groupBy($"doc_id", $"lang", $"model_lang")
      .agg(round(sum($"logp"), 4).as("ll"))
      .join(broadcast(prior), "model_lang")
      .withColumn("score", round($"ll" + $"logprior", 4))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"model_lang")
    scored.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"doc_id", $"lang", $"model_lang")
  }

  /** D188: Cohen's kappa agreement between the two language
    * classifiers — t3's marker heuristic vs t22's Naive Bayes, scored
    * per document and summarized as chance-corrected agreement
    * κ = (p_o − p_e)/(1 − p_e): the label-quality instrument a corpus
    * curator reads before trusting EITHER router on unlabeled data
    * (high κ = the cheap heuristic can stand in for the model at
    * scale; low κ = the labels are rater-dependent and need review).
    *
    * Exactness: p_o = agree/n and p_e = Σ_l n_a(l)·n_b(l) / n² are
    * ratios of EXACT integer counts (the marginal-product sum is one
    * bounded |labels|-row join); κ is one IEEE expression, 4-dp.
    *
    * Scale shape: one doc-keyed equi-join of the two prediction
    * frames, one map-side-combined count aggregate, two |labels|-row
    * censuses joined and folded to ONE row, and a 1×1 broadcast cross
    * of the two scalar frames (q43 shape). */
  def t35Kappa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val j = heuristicLangPred(spark, dir)
      .select($"doc_id", $"pred_lang".as("pa"))
      .join(nbLangPred(spark, dir)
        .select($"doc_id", $"model_lang".as("pb")), "doc_id")
    val counts = j.agg(count(lit(1)).as("n_docs"),
      sum(($"pa" === $"pb").cast("long")).as("n_agree"))
    val pe = j.groupBy($"pa".as("l")).agg(count(lit(1)).as("na"))
      .join(j.groupBy($"pb".as("l")).agg(count(lit(1)).as("nb")), "l")
      .agg(sum($"na".cast("decimal(38,0)") * $"nb").as("pe_num"))
    counts.crossJoin(broadcast(pe))
      .select($"n_docs", $"n_agree",
        round(expr("CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE)"), 4)
          .as("po"),
        round(expr("""CAST(pe_num AS DOUBLE)
            / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))"""), 4)
          .as("pe"),
        expr("""round(
            (CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE)
             - CAST(pe_num AS DOUBLE)
               / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
            / (1.0 - CAST(pe_num AS DOUBLE)
               / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))), 4)""")
          .as("kappa"))
  }

  /** D177: language-ID classifier EVALUATION — per-language
    * support/precision/recall/F1 derived from t22's oracle-gated
    * confusion matrix: the supervised-eval counterpart p13 provides
    * for the GLM, applied to the NB language classifier (a corpus
    * pipeline trusts t22's routing only after reading this table —
    * macro metrics hide which low-resource language the classifier
    * actually loses).
    *
    * Shape: three bounded rollups of the (#langs² max) confusion
    * frame + one full outer join; every metric is one 4-dp division
    * over exact counts (NULL when its denominator is empty). */
  def t33LangidEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cm = t22NbLang(spark, dir)
    val act = cm.groupBy($"actual_lang".as("lang"))
      .agg(sum($"n_docs").as("support"))
    val prd = cm.groupBy($"pred_lang".as("lang"))
      .agg(sum($"n_docs").as("predicted"))
    val tp = cm.filter($"actual_lang" === $"pred_lang")
      .select($"actual_lang".as("lang"), $"n_docs".as("tp"))
    act.join(prd, Seq("lang"), "full")
      .join(tp, Seq("lang"), "left")
      .na.fill(0L, Seq("support", "predicted", "tp"))
      .select($"lang", $"support", $"predicted", $"tp",
        when($"predicted" > 0,
          round($"tp".cast("double") / $"predicted".cast("double"), 4))
          .as("precision"),
        when($"support" > 0,
          round($"tp".cast("double") / $"support".cast("double"), 4))
          .as("recall"),
        when($"support" + $"predicted" > 0,
          round(lit(2.0) * $"tp".cast("double") /
            ($"support" + $"predicted").cast("double"), 4)).as("f1"))
      .orderBy($"lang")
  }

  /** Gopher-rule fences (t36): word-count bounds, mean-word-length
    * bounds, symbol-ratio and top-token-share caps — the Rae et al.
    * 2021 repetition/quality battery, integer-comparison form. */
  val gopherWcMin = 10L; val gopherWcMax = 100000L
  val gopherWlMin = 2L; val gopherWlMax = 12L
  val gopherSymPct = 10L
  val gopherMaxTfPct = 20L

  /** D197: Gopher quality-rule audit — the canonical pretraining
    * quality-filter battery (word-count fence, mean-word-length
    * fence, symbol-ratio cap, stopword presence, top-token-share
    * cap), reported as a PER-RULE failure census per source: c1/c13
    * gate the corpus, THIS says which rule fires where — the
    * observability a curator needs before changing any fence (a
    * source failing only the stopword rule is non-English, not junk;
    * one failing the repetition cap is template spam).
    *
    * Exactness: every rule is an INTEGER comparison (mean word length
    * as sumlen vs bound·n, ratios cross-multiplied — no division
    * anywhere except the final 4-dp pass_frac). Mean word length uses
    * the single-space corpus identity sumlen = chars − (n − 1).
    *
    * Scale shape: one narrow-expression scan + one per-(doc, term)
    * partial-aggregated explode for the top-token share (the t8
    * shape), one doc-keyed join, one per-source rollup. */
  def t36GopherAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select($"doc_id", $"source",
      size(tokens($"text")).cast("long").as("n"),
      (length($"text") - (size(tokens($"text")) - 1)).cast("long")
        .as("sumlen"),
      regexp_count(lower($"text"), lit("[^a-z0-9 ]")).cast("long").as("sym"),
      length($"text").cast("long").as("chars"),
      countIn(tokens($"text"), stopwords).cast("long").as("stop"))
    val maxtf = Tables.documents(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("t"))
      .groupBy($"doc_id", $"t").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("maxtf"))
    base.join(maxtf, "doc_id")
      .select($"source",
        ($"n" >= gopherWcMin && $"n" <= gopherWcMax).cast("long").as("ok_wc"),
        ($"sumlen" >= lit(gopherWlMin) * $"n" &&
          $"sumlen" <= lit(gopherWlMax) * $"n").cast("long").as("ok_wl"),
        ($"sym" * lit(100L) <= lit(gopherSymPct) * $"chars").cast("long")
          .as("ok_sym"),
        ($"stop" >= 1L).cast("long").as("ok_stop"),
        ($"maxtf" * lit(100L) <= lit(gopherMaxTfPct) * $"n").cast("long")
          .as("ok_rep"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - $"ok_wc").as("fail_wordcount"),
        sum(lit(1L) - $"ok_wl").as("fail_wordlen"),
        sum(lit(1L) - $"ok_sym").as("fail_symbol"),
        sum(lit(1L) - $"ok_stop").as("fail_stopword"),
        sum(lit(1L) - $"ok_rep").as("fail_repeat"),
        sum($"ok_wc" * $"ok_wl" * $"ok_sym" * $"ok_stop" * $"ok_rep")
          .as("n_pass"))
      .withColumn("pass_frac",
        round($"n_pass".cast("double") / $"n_docs".cast("double"), 4))
      .orderBy($"source")
  }

  /** D205: Jensen–Shannon divergence, each source vs the REST of the
    * corpus — the symmetric, bounded (≤ ln 2) cousin of t26's KL: the
    * "how different is this source's vocabulary usage, really" number
    * a mixture designer can compare ACROSS sources because the scale
    * is fixed (KL is unbounded and asymmetric, so its per-source
    * values don't rank cleanly).
    *
    * Terms absent from the source contribute exactly ½·ln2·q_t
    * (p = 0 ⇒ m = q/2); their total mass is 1 − Σ_present q_t, so
    * the absent side folds into ONE correction term — no
    * per-absent-term rows anywhere.
    *
    * Determinism: each present-term contribution and each q_t is one
    * IEEE expression over exact counts, snapped to a 1e-9 grid →
    * both rollup sums are ORDER-FREE exact integers; JS is one final
    * expression with the shortest-round-trip ln 2 literal
    * interpolated into both engines, 4-dp.
    *
    * Scale shape: the (term, source) census is vocabulary-sized and
    * both its joins are term-keyed SHUFFLE joins (the t6 rule); the
    * source-totals frame (≤ |sources| rows) and the one-row corpus
    * total broadcast. Output is |sources| rows. */
  def t37JsSources(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ln2 = math.log(2.0)
    val ts = Tables.documents(spark, dir)
      .select($"source", explode(tokens($"text")).as("term"))
      .groupBy($"term", $"source").agg(count(lit(1)).as("c"))
    val st = ts.groupBy($"source").agg(sum($"c").as("tot_s"))
    val ct = ts.groupBy($"term").agg(sum($"c").as("tot_t"))
    val nn = st.agg(sum($"tot_s").as("nn"))
    ts.join(ct, "term")
      .join(broadcast(st), "source")
      .crossJoin(broadcast(nn))
      .select($"source",
        expr(s"""CAST(floor((
            0.5 * (CAST(c AS DOUBLE) / CAST(tot_s AS DOUBLE))
              * ln((CAST(c AS DOUBLE) / CAST(tot_s AS DOUBLE))
                / ((CAST(c AS DOUBLE) / CAST(tot_s AS DOUBLE)
                    + CAST(tot_t - c AS DOUBLE) / CAST(nn - tot_s AS DOUBLE))
                   / 2.0))
            + CASE WHEN tot_t - c > 0 THEN
                0.5 * (CAST(tot_t - c AS DOUBLE) / CAST(nn - tot_s AS DOUBLE))
                * ln((CAST(tot_t - c AS DOUBLE) / CAST(nn - tot_s AS DOUBLE))
                  / ((CAST(c AS DOUBLE) / CAST(tot_s AS DOUBLE)
                      + CAST(tot_t - c AS DOUBLE) / CAST(nn - tot_s AS DOUBLE))
                     / 2.0))
              ELSE 0.0 END) * 1e9 + 0.5) AS BIGINT)""").as("contrib9"),
        expr("""CAST(floor((CAST(tot_t - c AS DOUBLE)
            / CAST(nn - tot_s AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)""")
          .as("q9"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_terms"),
        sum($"contrib9".cast("decimal(38,0)")).as("sc"),
        sum($"q9".cast("decimal(38,0)")).as("sq"))
      .select($"source", $"n_terms",
        round(expr(s"""CAST(sc AS DOUBLE) / 1e9
            + 0.5 * $ln2 * (1.0 - CAST(sq AS DOUBLE) / 1e9)"""), 4).as("js"))
      .orderBy($"source")
  }

  /** D184: Heaps'-law vocabulary growth curve — distinct-vocabulary
    * size and cumulative token supply at ten ingestion-order
    * checkpoints (doc_id deciles of the id RANGE): the sub-linear
    * V ≈ K·nᵝ growth a crawl curator reads to decide whether a source
    * still yields new vocabulary or has saturated (t20's novelty
    * signal, corpus-cumulative instead of per-document).
    *
    * Exactness: checkpoint cutoffs are pure integer arithmetic on the
    * exact (min, max) id bounds — cut_i = mn−1 + (span·i) div 10 —
    * computed identically on both engines; every output is an integer
    * count.
    *
    * Scale shape: vocabulary growth needs NO per-checkpoint corpus
    * pass — a term's contribution is fully determined by its FIRST
    * occurrence (min doc_id, one vocabulary-sized partial-aggregated
    * census), so all ten checkpoints are CONDITIONAL SUMS in one
    * map-side aggregate over that census (and one over the doc-size
    * frame); the ten-row result assembles driver-side from the two
    * one-row scalar frames (p11 pattern — no window, no explode, no
    * cross join). */
  def t34HeapsLaw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val b = docs.agg(min($"doc_id"), max($"doc_id")).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val span = mx - mn + 1
    val cuts = (1 to 10).map(i => mn - 1 + span * i / 10)
    val first = docs
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"term").agg(min($"doc_id").as("fd"))
    val vAggs = cuts.map(c => sum(when($"fd" <= c, 1L).otherwise(0L)))
    val vRow = first.agg(vAggs.head, vAggs.tail: _*).head()
    val dd = docs.select($"doc_id",
      size(tokens($"text")).cast("long").as("nt"))
    val dAggs = cuts.flatMap(c => Seq(
      sum(when($"doc_id" <= c, 1L).otherwise(0L)),
      sum(when($"doc_id" <= c, $"nt").otherwise(0L))))
    val dRow = dd.agg(dAggs.head, dAggs.tail: _*).head()
    (1 to 10).map { i =>
      (i.toLong, cuts(i - 1), dRow.getLong(2 * (i - 1)),
        dRow.getLong(2 * i - 1), vRow.getLong(i - 1))
    }.toDF("decile", "cutoff_id", "n_docs", "n_tokens", "vocab")
      .orderBy($"decile")
  }

  /** D103: per-document token-distribution diagnostics — Shannon
    * entropy (nats) of the document's own unigram distribution and the
    * type-token ratio, the two standard "is this text degenerate"
    * signals a quality filter reads next to t8's repetition fractions
    * (all-one-token spam → entropy 0, TTR → 1/n; natural prose sits
    * near ln(n_types)).
    *
    * Entropy via the one-pass identity H = ln(dl) − (Σ tf·ln tf)/dl —
    * no per-term p=tf/dl division against a separately-joined doc
    * length, so the whole thing is ONE token-stream pass: tf per
    * (doc, term), then a single per-doc aggregate (both
    * partial-aggregated). Per-term tf·ln(tf) is rounded to 4 dp before
    * the sum (t9), the final expression re-rounded. */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(round($"tf".cast("double") * log($"tf".cast("double")), 4)).as("sv"))
      .select($"doc_id", $"n_tokens", $"n_types",
        round(log($"n_tokens".cast("double")) - $"sv" / $"n_tokens".cast("double"), 4)
          .as("entropy"),
        round($"n_types".cast("double") / $"n_tokens".cast("double"), 4).as("ttr"))
      .orderBy($"doc_id")
  }

  def t23TokenEntropy(spark: SparkSession, dir: String): DataFrame =
    tokenEntropy(Tables.documents(spark, dir))

  /** Coverage thresholds and rank cap for [[t24VocabCoverage]].
    * Production values would be BPE-scale (8k/32k/128k); the fixture
    * corpus draws from a 31-term vocabulary at every SF, so the
    * defaults sit inside it to exercise a real (non-saturated)
    * curve. */
  val coverageKs: Seq[Int] = Seq(5, 15, 30)

  /** D118: vocabulary coverage curve — for each candidate vocabulary
    * size k, the share of corpus TOKEN OCCURRENCES covered by the top-k
    * terms (rank = frequency desc, term asc). The tokenizer-design
    * instrument: "how big must the vocab be before OOV is negligible"
    * read straight off the corpus instead of assumed from Zipf (t16
    * fits the law; this measures the integral the law predicts).
    *
    * Scale shape: the term census is the one corpus-sized pass
    * (partial-aggregated); ranking touches only the top-max(k) terms
    * via orderBy+limit (a TakeOrdered, no global sort), and the two
    * windows after it run over that ≤10k-row frame — bounded BY
    * CONSTRUCTION (the t14 bounded-global-window exemption). The
    * census totals ride a one-row broadcast cross (q43 pattern). */
  def t24VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tf = Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("tf"))
    val st = tf.agg(count(lit(1)).as("n_terms"), sum($"tf").as("n_tokens"))
    val maxK = coverageKs.max
    val wRank = Window.orderBy($"tf".desc, $"term")
    val top = tf.orderBy($"tf".desc, $"term").limit(maxK)
      .withColumn("rk", row_number().over(wRank))
      .withColumn("covered",
        sum($"tf").over(Window.orderBy($"rk")
          .rowsBetween(Window.unboundedPreceding, 0)))
    coverageKs.toDF("k")
      .crossJoin(broadcast(st))
      .withColumn("eff_k", least($"k".cast("long"), $"n_terms"))
      .join(top.select($"rk".cast("long").as("eff_k"), $"covered"), "eff_k")
      .select($"k", $"eff_k".as("n_terms_used"), $"covered",
        round($"covered".cast("double") / $"n_tokens".cast("double"), 4)
          .as("coverage"))
      .orderBy($"k")
  }

  /** Sample size for [[t19WeightedSample]]. */
  val wsampleK = 100

  /** D88: weighted sampling without replacement (Efraimidis–Spirakis
    * A-ES, Inf. Proc. Letters 2006) — draw [[wsampleK]] documents with
    * inclusion probability proportional to n_chars, the
    * length-weighted pick a token-budgeted pretraining mix wants
    * ("sample 100 docs worth of signal, long docs count more").
    *
    * A-ES keys each item by u^(1/w); we rank by the monotone transform
    * ln(u)/w instead (same order, no pow — pow is NOT reliably
    * IEEE-identical across engines, ln and division are). u derives
    * from md5(doc_id) exactly like t7's gate: u = (h32+1)/(2³²+1) ∈
    * (0,1], so no RNG state and no ln(0). Ranking compares RAW doubles
    * (bit-identical both engines); the 6-dp round is display-only.
    *
    * Scale shape: key computation is a narrow projection; the top-k is
    * the s1/q9 two-phase salted rank — local top-k per salt bucket in
    * parallel, then a final rank over ≤ k·32 survivors. No global sort
    * of the corpus. */
  def t19WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keyed = Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars",
        (log((conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
            .cast("long") + lit(1L)).cast("double") / lit(4294967297.0)) /
          $"n_chars").as("skey"))
    val wLocal = Window.partitionBy(pmod($"doc_id", lit(32)))
      .orderBy($"skey".desc, $"doc_id")
    val w = Window.partitionBy().orderBy($"skey".desc, $"doc_id")
    keyed
      .withColumn("lrk", row_number().over(wLocal))
      .filter($"lrk" <= wsampleK)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= wsampleK)
      .select($"rk", $"doc_id", $"n_chars", round($"skey", 6).as("skey"))
      .orderBy($"rk")
  }

  /** D20/D17: deterministic 10% stratified sample — hash-gated by
    * md5(doc_id), reproducible on any engine/cluster, no RNG state.
    * The sampling predicate is a pure narrow filter. */
  def t7Sample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
        .cast("long") % 10 === 0)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_sampled"),
        round(avg($"n_chars"), 4).as("avg_chars"))
      .orderBy($"lang")
  }

  /** D20 data-mixing: temperature-rebalanced language sampling — the
    * pretraining mix step that downsamples dominant strata so the kept
    * distribution follows p^(1/T) (T=2 here: sqrt smoothing; the
    * multilingual-corpus recipe). Per-stratum keep fraction
    * f_s = (√p_s / n_s) normalized to max 1 (downsample-only), applied
    * with the same deterministic md5 gate as [[t7Sample]] — no RNG
    * state, reproducible on any cluster layout.
    *
    * Scale shape: the stratum census is one partial-aggregated
    * groupBy (output = |strata| rows, bounded), factors broadcast back,
    * and the sample is a narrow filter. All factor arithmetic is
    * IEEE ops on exact integer counts, so DuckDB computes bit-identical
    * thresholds and the oracle is hash-exact despite the hash gate. */
  def t10MixLanguages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val all = Window.partitionBy() // |strata| rows — bounded at any scale
    val factors = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
      .withColumn("wt",
        sqrt($"n".cast("double") / sum($"n").over(all)) / $"n".cast("double"))
      .withColumn("f", $"wt" / max($"wt").over(all))
      .select($"lang", $"n".as("n_orig"), $"f")
    val kept = docs
      .select($"lang",
        (conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
          .cast("double") / 65536.0).as("frac"))
      .join(broadcast(factors), Seq("lang"))
      .filter($"frac" < $"f")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"))
    factors.join(kept, Seq("lang"), "left")
      .select($"lang", $"n_orig",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        round($"f", 6).as("sample_frac"))
      .orderBy($"lang")
  }

  /** Word bigrams as strings (the 2-gram sibling of Dedup.shingles;
    * array arguments bound once per row, lambdas touch only bound vars). */
  def bigrams(text: Column): Column = {
    def t = tokens(text)
    val n = greatest(size(t) - 1, lit(0))
    zip_with(slice(t, lit(1), n), slice(t, lit(2), n),
      (a, b) => concat(a, lit(" "), b))
  }

  /** D20: repetition / boilerplate metrics (Gopher-style quality
    * filters): per document, the distinct-token ratio, the fraction of
    * tokens taken by the single most frequent token, and the fraction
    * of bigrams taken by the most frequent bigram. High top-fraction /
    * low distinct-ratio = machine-generated or boilerplate text.
    *
    * Shape: explode → partial-aggregated groupBy(doc, gram) →
    * groupBy(doc) max/sum, once for tokens and once for bigrams, then a
    * co-partitioned join on doc_id — the shuffle carries (doc, gram
    * hash, count) rows, never the text, and both aggregate outputs are
    * hash-partitioned on doc_id so the final join adds no exchange.
    * (A per-row array-HOF mode() would avoid the shuffle but evaluates
    * interpreted and O(distinct·n) per row — wrong for long documents.) */
  def t8Repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionMetrics(Tables.documents(spark, dir))

  /** Core of [[t8Repetition]] over any (doc_id, text) frame. */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val tok = docs.select($"doc_id", explode(tokens($"text")).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("n"))
      .groupBy($"doc_id")
      .agg(sum($"n").as("n_tokens"), count(lit(1)).as("n_distinct"),
        max($"n").as("top_tok"))
    val big = docs.select($"doc_id", explode(bigrams($"text")).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("n"))
      .groupBy($"doc_id")
      .agg(sum($"n").as("n_bigrams"), max($"n").as("top_big"))
    tok.join(big, "doc_id")
      .select($"doc_id", $"n_tokens",
        round($"n_distinct".cast("double") / $"n_tokens", 4).as("distinct_ratio"),
        round($"top_tok".cast("double") / $"n_tokens", 4).as("top_token_frac"),
        round($"top_big".cast("double") / $"n_bigrams", 4).as("top_bigram_frac"))
      .orderBy($"doc_id")
  }

  /** D20: inverted-index construction — per-term posting lists
    * (document frequency, total term frequency, and an md5 digest of
    * the doc_id-sorted posting list), top 50 terms by df.
    *
    * Scale shape: explode → partial-aggregated (term, doc) counts →
    * per-term aggregate; the shuffle carries (term, doc_id, tf)
    * triples, never text. The posting list itself is materialized per
    * term — at web scale a stop-word's postings would be range-sharded
    * (term, doc_id div shard) first; the fixture corpus needs no shard
    * split, and the md5 digest keeps the output row bounded either
    * way. Top-50 is TakeOrderedAndProject (distributed heap top-k),
    * not a global sort. */
  def t11InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
      .groupBy($"term")
      .agg(count(lit(1)).as("df"), sum($"tf").as("total_tf"),
        md5(concat_ws(",",
          sort_array(collect_list($"doc_id")).cast("array<string>")))
          .as("postings_md5"))
      .orderBy($"df".desc, $"term")
      .limit(50)
  }

  /** Per-stratum quota for [[t12StratifiedQuota]]. */
  val stratumQuota = 20

  /** D20: stratified EXACT-quota sampling — keep exactly
    * [[stratumQuota]] documents per language, chosen by md5(doc_id)
    * rank (deterministic, engine-independent; no RNG state). The
    * fraction-based samplers (t7/t10) can't promise exact counts;
    * evaluation sets and per-domain caps need them.
    *
    * Scale shape: a rank within a 4-value stratum key is a hot-key
    * trap (one task per language sorts the whole stratum), so the
    * rank runs in two phases, the s1/q9 pattern: a salted local
    * row_number keeps the per-task sort bounded and discards all but
    * quota rows per (stratum, salt), then the final per-stratum rank
    * sees ≤ quota·32 survivors. Identical output to the direct
    * window — phase 1 can never drop a global top-quota row. */
  def t12StratifiedQuota(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        md5($"doc_id".cast("string")).as("h"))
    val local = Window.partitionBy($"lang", pmod($"doc_id", lit(32)))
      .orderBy($"h", $"doc_id")
    val global = Window.partitionBy($"lang").orderBy($"h", $"doc_id")
    docs
      .withColumn("lrk", row_number().over(local))
      .filter($"lrk" <= stratumQuota)
      .withColumn("rk", row_number().over(global))
      .filter($"rk" <= stratumQuota)
      .select($"lang", $"rk", $"doc_id")
      .orderBy($"lang", $"rk")
  }

  /** Report bigrams holding > 1/[[hhK]] of all bigram occurrences. */
  val hhK = 800
  /** Misra–Gries capacity; candidates provably cover every phrase with
    * share > 1/(capacity+1), so capacity > [[hhK]] makes the recount
    * answer exact. */
  val hhCapacity = 2048

  /** D20: heavy-hitter phrase mining (boilerplate detection) — the
    * exact set of word bigrams whose corpus share exceeds 1/[[hhK]],
    * found WITHOUT a vocabulary-wide shuffle.
    *
    * Two passes: (1) a mergeable Misra–Gries sketch
    * ([[graft.functions.MisraGries]]) — each partition ships at most
    * [[hhCapacity]] counters, independent of corpus size or phrase
    * cardinality, and the sketch guarantees no true heavy hitter is
    * missed; (2) an exact recount of only the ≤ [[hhCapacity]]
    * candidates (InSet prefilter pushed to the scan), so the only
    * full aggregate runs over candidate-matching rows. Contrast with
    * t4/t11, whose groupBy shuffles the entire vocabulary — at web
    * scale the sketch pass is the difference between O(C) and
    * O(distinct-phrases) shuffle width. */
  def t13Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ph = Tables.documents(spark, dir)
      .select(explode(bigrams($"text")).as("phrase"))
    val (cands, total) =
      ph.as[String].select(new graft.functions.MisraGries(hhCapacity).toColumn).head()
    ph.filter($"phrase".isInCollection(cands.keys.toSeq))
      .groupBy($"phrase").agg(count(lit(1)).as("n"))
      .filter($"n" * hhK > total)
      .orderBy($"n".desc, $"phrase")
  }

  /** Vocabulary size for [[t14VocabEncode]]. */
  val vocabSize = 1000
  /** Max encoded positions per document (sequence-length bound). */
  val encodeLen = 32

  /** D50: vocabulary build + token-id encoding — the tokenizer-ish
    * front door of a pretraining pipeline: rank the corpus vocabulary
    * by frequency, assign dense ids, and re-express each document as
    * its first [[encodeLen]] token ids (OOV → 0).
    *
    * Scale shape: the top-[[vocabSize]] vocabulary comes from
    * `TakeOrderedAndProject` (O(V) per partition, no global sort);
    * the id assignment window runs on ≤ V rows (bounded by design,
    * never corpus-sized); the encode join broadcasts the vocabulary —
    * a real 32k–256k-entry tokenizer vocab is still broadcast-sized,
    * unlike t6's unbounded per-term df table. Output ids are a
    * '.'-joined digest string (t11's bounded-postings convention). */
  def t14VocabEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tok = docs.select($"doc_id", posexplode(tokens($"text")).as(Seq("pos0", "term")))
      .select($"doc_id", ($"pos0" + 1).as("pos"), $"term")
    val freq = tok.groupBy($"term").agg(count(lit(1)).as("cnt"))
    // distributed top-V, then rank the V survivors (single partition of
    // exactly V rows — bounded by the constant, not the corpus)
    val vocab = freq.orderBy($"cnt".desc, $"term").limit(vocabSize)
      .withColumn("id", row_number().over(
        Window.orderBy($"cnt".desc, $"term")))
      .select($"term", $"id")
    val enc = tok.filter($"pos" <= encodeLen)
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy($"doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"pos", coalesce($"id", lit(0)).as("id")))),
        x => x("id").cast("string")), ".").as("ids_str"))
    val nTok = tok.groupBy($"doc_id").agg(count(lit(1)).as("n_tokens"))
    nTok.join(enc, "doc_id").select($"doc_id", $"n_tokens", $"ids_str")
  }

  /** D69: per-document keyword extraction — the top-3 TF-IDF terms of
    * every document (the metadata-tagging step a corpus pipeline runs
    * before routing/mixing). t6's per-SOURCE variant windows over a
    * handful of partitions; this one windows over doc_id — a
    * high-cardinality key, so the rank parallelizes with the corpus
    * (the c2 discipline). The document frequency is derived from the
    * (doc, term) tf aggregate itself (tf rows are distinct pairs), so
    * there is no second distinct pass over the token stream. Scores
    * are rounded to 4 dp BEFORE ranking and tie-break on the term, so
    * the top-3 is deterministic cross-engine. */
  def t15DocKeywords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    val tf = docs.select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
    tf.join(df_, "term")
      .withColumn("tfidf", round($"tf" * log(lit(nDocs.toDouble) / $"df"), 4))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"doc_id", $"rk", $"term", $"tfidf")
      .orderBy($"doc_id", $"rk")
  }

  /** D72: Zipf-law fit of the corpus vocabulary — OLS of ln(freq) on
    * ln(rank), the standard corpus-statistics diagnostic (a healthy
    * natural-language corpus fits slope ≈ −1; synthetic or boilerplate
    * corpora deviate — a cheap corpus-health gate before training).
    * The rank window runs over the VOCABULARY-sized frequency table
    * (t14's bounded-window precedent), then one p7-style mergeable
    * moment aggregate (covar_samp/var_samp) — only O(1)-magnitude
    * ratios are rounded, never partial sums. */
  def t16Zipf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("f"))
    freq
      .withColumn("rnk", row_number().over(Window.orderBy($"f".desc, $"term")))
      .select(log($"rnk".cast("double")).as("x"),
        log($"f".cast("double")).as("y"))
      .agg(count(lit(1)).as("n_terms"),
        covar_samp($"x", $"y").as("cxy"), var_samp($"x").as("vx"),
        var_samp($"y").as("vy"), avg($"x").as("mx"), avg($"y").as("my"))
      .select($"n_terms",
        round($"cxy" / $"vx", 4).as("zipf_slope"),
        round($"my" - ($"cxy" / $"vx") * $"mx", 4).as("intercept"),
        round($"cxy" * $"cxy" / ($"vx" * $"vy"), 4).as("r2"))
  }

  /** D173: Good–Turing frequency-of-frequencies census per source —
    * the held-out probability-mass estimate a corpus builder uses to
    * judge how OPEN each source's vocabulary still is: p0 = N1/N is
    * the Turing estimate of the probability that the NEXT token drawn
    * from the source is unseen (high p0 → the source still yields new
    * vocabulary, keep crawling; low → saturated), plus the
    * r* = (r+1)·N_{r+1}/N_r adjusted counts for r = 1..3 (Gale &
    * Sampson 1995's simple Good–Turing, unsmoothed — the raw Turing
    * estimates; N_r = number of terms seen exactly r times).
    *
    * Scale shape: one token explode → (source, term) count table
    * (map-side combined, vocabulary-bounded — the t6 discipline) →
    * ONE more per-source aggregate with conditional sums; every count
    * is an exact integer, each output ratio one 4-dp division (NULL
    * when its N_r denominator is empty). */
  def t32GoodTuring(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tf = Tables.documents(spark, dir)
      .select($"source", explode(tokens($"text")).as("t"))
      .groupBy($"source", $"t").agg(count(lit(1)).as("r"))
    tf.groupBy($"source").agg(
        sum($"r").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when($"r" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"r" === 2, 1L).otherwise(0L)).as("n2"),
        sum(when($"r" === 3, 1L).otherwise(0L)).as("n3"),
        sum(when($"r" === 4, 1L).otherwise(0L)).as("n4"))
      .select($"source", $"n_tokens", $"vocab", $"n1", $"n2",
        round($"n1".cast("double") / $"n_tokens".cast("double"), 4)
          .as("p0_unseen"),
        when($"n1" > 0,
          round(lit(2.0) * $"n2".cast("double") / $"n1".cast("double"), 4))
          .as("r1_star"),
        when($"n2" > 0,
          round(lit(3.0) * $"n3".cast("double") / $"n2".cast("double"), 4))
          .as("r2_star"),
        when($"n3" > 0,
          round(lit(4.0) * $"n4".cast("double") / $"n3".cast("double"), 4))
          .as("r3_star"))
      .orderBy($"source")
  }

  /** BM25 parameters (Robertson–Spärck Jones defaults) and the fixed
    * literal query set for [[t17Bm25]] — interpolated into the oracle
    * via Double.toString (the s2 plane-constant precedent), so both
    * engines compute with bit-identical constants. */
  val bm25K1 = 1.2
  val bm25B = 0.75
  val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("spark", "join"),
    1 -> Seq("hash", "merge", "sort"),
    2 -> Seq("dup", "scan"),
    3 -> Seq("window", "group", "order"),
    4 -> Seq("vector", "query", "fast"))

  /** D78: BM25 ranked retrieval — the search-engine companion of the
    * t11 inverted index: top-10 documents per query under
    * idf·(k1+1)tf / (tf + k1(1−b+b·dl/avgdl)) with
    * idf = ln((N−df+0.5)/(df+0.5)+1) (the Lucene-style non-negative
    * variant).
    *
    * Scale shape: tf is the one token-stream shuffle; doc length and
    * corpus stats (N, Σdl) derive from tf — the token stream is read
    * once (t15's no-second-pass discipline); query terms and the
    * vocabulary-sized df frame broadcast; corpus stats ride a
    * broadcast scalar cross-join (the q43 pattern — no driver
    * round-trip). The per-query top-10 runs two-phase (salted local
    * row_number prune, then a ≤10·32-row global rank) because
    * query_id has only 5 values — the t12 hot-stratum pattern.
    * Determinism: per-term contributions rounded to 4 dp before the
    * sum, the sum re-rounded (t9), rank on (rounded score, doc_id). */
  def t17Bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    val st = dl.agg(count(lit(1)).as("n"), sum($"dl").as("sdl"))
    val df_ = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val qterms = bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val scored = tf
      .join(broadcast(qterms), "term")
      .join(broadcast(df_), "term")
      .join(dl, "doc_id")
      .join(broadcast(st))
      .withColumn("avgdl", $"sdl".cast("double") / $"n".cast("double"))
      .withColumn("idf",
        log(($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5)) + lit(1.0)))
      .withColumn("c", round(
        $"idf" * ($"tf" * lit(bm25K1 + 1.0)) /
          ($"tf" + lit(bm25K1) *
            (lit(1.0 - bm25B) + lit(bm25B) * $"dl" / $"avgdl")), 4))
      .groupBy($"query_id", $"doc_id")
      .agg(round(sum($"c"), 4).as("score"))
    val local = Window.partitionBy($"query_id", pmod($"doc_id", lit(32)))
      .orderBy($"score".desc, $"doc_id")
    val global = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"doc_id")
    scored
      .withColumn("lrk", row_number().over(local))
      .filter($"lrk" <= 10)
      .withColumn("rk", row_number().over(global))
      .filter($"rk" <= 10)
      .select($"query_id", $"rk", $"doc_id", $"score")
      .orderBy($"query_id", $"rk")
  }

  /** Minimum adjacent-pair support for a reported t25 collocation. */
  val pmiMinPairs = 5L

  /** D124: PMI collocation mining (Church & Hanks, CL 1990) — the top
    * adjacent token pairs by pointwise mutual information
    * PMI = ln(N·c_ab / (c_a·c_b)), the lexical-association signal
    * behind phrase mining and tokenizer-merge candidates (t18 scores
    * documents UNDER the bigram counts; t25 ranks the associations
    * themselves).
    *
    * Scale shape: both count tables are VOCABULARY-sized (unigram ≤ V,
    * bigram ≤ observed adjacencies) — the t6/t18 shuffle-join rule, no
    * quadratic stage anywhere; the corpus is touched exactly twice
    * (once per n-gram order), each a partial-aggregated explode.
    *
    * Exact-integer counts everywhere; the PMI double forms marginal
    * products in DOUBLE (q52 cast-before-multiply — two corpus-scale
    * marginals overflow BIGINT) and is rounded to the 4-dp grid
    * BEFORE ranking (the D69 rank-on-rounded discipline). Top-20 is
    * TakeOrdered on (pmi DESC, w1, w2) — total order, no global
    * sort. */
  def t25Pmi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val docTok = docs.select($"doc_id", explode(tokens($"text")).as("term"))
    val nTok = docTok.count()
    val uniCnt = docTok.groupBy($"term").agg(count(lit(1)).as("c"))
    val bigCnt = docs.select(explode(bigrams($"text")).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c_ab"))
      .filter($"c_ab" >= pmiMinPairs)
      .select(substring_index($"bg", " ", 1).as("w1"),
        substring_index($"bg", " ", -1).as("w2"), $"c_ab")
    bigCnt
      .join(uniCnt.select($"term".as("w1"), $"c".as("c_a")), Seq("w1"))
      .join(uniCnt.select($"term".as("w2"), $"c".as("c_b")), Seq("w2"))
      .select($"w1", $"w2", $"c_ab",
        round(log(lit(nTok.toDouble) * $"c_ab".cast("double") /
          ($"c_a".cast("double") * $"c_b".cast("double"))), 4).as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2")
      .limit(20)
  }

  /** D132: per-source KL divergence from the corpus unigram
    * distribution — "how far does each source's vocabulary usage drift
    * from the mix" (the distribution-shift audit a mixture builder
    * (c6) reads before reweighting; t21 compares sources pairwise by
    * shingle SETS, this compares each source to the corpus by token
    * FREQUENCIES).
    *
    *   KL(source ‖ corpus) = Σ_t (c_st/n_s) · ln(c_st·N / (n_s·c_t))
    *
    * All counts exact integers; each per-term contribution is rounded
    * to the 4-dp grid BEFORE the sum (t9: a sum of 4-dp values is
    * itself 4-dp — no cross-engine summation-order risk). Terms
    * absent from a source contribute 0 (the p·ln(p/q) limit), and
    * every source term exists in the corpus by construction, so no
    * smoothing is needed. Both count tables are VOCABULARY-sized
    * (t6 shuffle-join rule); marginal products form in DOUBLE (q52). */
  def t26KlSources(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docTok = Tables.documents(spark, dir)
      .select($"source", explode(tokens($"text")).as("term"))
    val st = docTok.groupBy($"source", $"term").agg(count(lit(1)).as("c_st"))
    val srcTot = st.groupBy($"source").agg(sum($"c_st").as("n_s"))
    val corp = docTok.groupBy($"term").agg(count(lit(1)).as("c_t"))
    val n = docTok.count()
    st.join(corp, "term").join(srcTot, "source")
      .withColumn("contrib", round(
        ($"c_st".cast("double") / $"n_s".cast("double")) *
          log($"c_st".cast("double") * lit(n.toDouble) /
            ($"n_s".cast("double") * $"c_t".cast("double"))), 4))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_terms"), round(sum($"contrib"), 4).as("kl"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- t27

  /** D147: per-source lexical diversity — Simpson's index in the
    * UNBIASED form λ = Σ nᵢ(nᵢ−1) / (N(N−1)), its inverse (effective
    * vocabulary size), and the Berger–Parker dominance (top term
    * share): the concentration view of what t23's entropy measures —
    * a collapsed/templated source shows up as λ → 1 long before mean
    * entropy moves.
    *
    * Exactness: the unbiased estimator is a RATIO OF EXACT INTEGERS
    * (DECIMAL(38,0) — Σ nᵢ² passes 2⁶³ at warehouse scale), so each
    * output is one double division on identical integers, 4-dp. No
    * probabilities are ever materialized.
    *
    * Scale shape: one tokenize + partial-aggregated (source, term)
    * census (vocabulary-bounded, the t6 rule), then a source-level
    * rollup. No windows. */
  def t27Simpson(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tf = Tables.documents(spark, dir)
      .select($"source", explode(tokens($"text")).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("n"))
    tf.groupBy($"source")
      .agg(sum($"n").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum($"n".cast("decimal(38,0)") * ($"n" - 1)).as("coll"),
        max($"n").as("max_n"))
      .select($"source", $"n_tokens", $"vocab",
        round(expr("""CAST(coll AS DOUBLE) /
            (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))"""), 4)
          .as("simpson"),
        round(expr("""(CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))
            / CAST(coll AS DOUBLE)"""), 4).as("inv_simpson"),
        round(expr("CAST(max_n AS DOUBLE) / CAST(n_tokens AS DOUBLE)"), 4)
          .as("berger_parker"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- t28

  /** Minimum corpus count for a t28 term (keeps the burst table off
    * hapax noise). */
  val burstMinCount = 100L
  /** t28 leaderboard depth. */
  val burstTopK = 30

  /** D152: term burstiness — the Fano factor (variance/mean) of each
    * frequent term's PER-DOCUMENT count, zeros included: a term with
    * B ≈ 1 is Poisson-scattered (function words); B ≫ 1 concentrates
    * in few documents (topical or SPAM/template terms — the signal
    * t8's within-doc repetition can't see because it never compares
    * across documents). Church & Gale's burstiness diagnostic as a
    * corpus screen.
    *
    * Exactness: with D docs, n total and Σc² over per-doc counts,
    * B = (D·Σc² − n²) / (D·n) — a ratio of EXACT integers
    * (DECIMAL(38,0)), one division, 4-dp. Zero-count documents enter
    * through the closed form, never materialized.
    *
    * Scale shape: one tokenize + (doc, term) partial agg, then a
    * term-level rollup (vocabulary-bounded, t6 rule); the doc count
    * broadcasts as a one-row cross join; top-K is a TakeOrdered. */
  def t28Burstiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val perDoc = docs
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
    val terms = perDoc.groupBy($"term")
      .agg(sum($"c").as("n"), count(lit(1)).as("df"),
        sum($"c".cast("decimal(38,0)") * $"c").as("sumsq"))
      .filter($"n" >= burstMinCount)
    val d = docs.agg(count(lit(1)).as("n_docs"))
    terms.crossJoin(broadcast(d))
      .select($"term", $"n", $"df",
        round(expr("""CAST(CAST(n_docs AS DECIMAL(38,0)) * sumsq
              - CAST(n AS DECIMAL(38,0)) * n AS DOUBLE) /
            (CAST(n_docs AS DOUBLE) * CAST(n AS DOUBLE))"""), 4)
          .as("burstiness"))
      .orderBy($"burstiness".desc, $"term")
      .limit(burstTopK)
  }

  // ---------------------------------------------------------------- t29

  /** t29 span width in tokens. */
  val dupNgramN = 8

  /** D159: duplicate n-gram coverage — per source, what fraction of
    * its [[dupNgramN]]-token span OCCURRENCES are repeats of a span
    * seen elsewhere in the corpus: the memorization-risk census of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") — d19/d20 FIND the duplicated spans, t29 reports
    * how much of each source is made of them. Both a within-source
    * rate (repeats inside the source) and the cross-corpus rate
    * (repeats anywhere) are emitted.
    *
    * Exactness: rates are (T − D)/T over exact counts — T span
    * occurrences, D distinct spans — one division each, 4-dp. Spans
    * hash to md5 before the distinct so only 128-bit keys shuffle
    * (the d3 signature rule), never the text.
    *
    * Scale shape: one tokenize + span explode (fan-out ×(len−N+1)),
    * partial-aggregated (source, span) census; the cross-corpus
    * distinct reuses the same census grouped by span. */
  def t29DupNgrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spans = Tables.documents(spark, dir)
      .select($"source", tokens($"text").as("tk"))
      .filter(size($"tk") >= dupNgramN)
      .select($"source", explode(expr(
        s"""transform(sequence(1, size(tk) - ${dupNgramN - 1}),
            i -> md5(concat_ws(' ', slice(tk, i, $dupNgramN))))"""))
        .as("h"))
    val perSrc = spans.groupBy($"source", $"h")
      .agg(count(lit(1)).as("c"))
      .scopedPersist()
    val within = perSrc.groupBy($"source")
      .agg(sum($"c").as("t_spans"), count(lit(1)).as("d_spans"))
    // an occurrence is cross-corpus duplicated when its span ALSO
    // appears in another source (gc > this source's own count)
    val global = perSrc.groupBy($"h")
      .agg(sum($"c").as("gc"))
    val cross = perSrc.join(global, "h")
      .groupBy($"source")
      .agg(sum(when($"gc" > $"c", $"c").otherwise(lit(0L)))
        .as("cross_other"))
    within.join(cross, "source")
      .select($"source", $"t_spans", $"d_spans",
        round(expr("CAST(t_spans - d_spans AS DOUBLE) / CAST(t_spans AS DOUBLE)"), 4)
          .as("within_dup_rate"),
        round(expr("CAST(cross_other AS DOUBLE) / CAST(t_spans AS DOUBLE)"), 4)
          .as("cross_dup_rate"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- t30

  /** D165: per-source entropy rate — the bigram conditional entropy
    * H(next token | current) = H₂ − H₁ over each source's token
    * stream: the compressibility / templatedness readout (a low rate
    * means boilerplate-predictable text even when the unigram entropy
    * t23 reports looks healthy). The t9/t18 LM-surprisal machinery
    * turned into a one-number source audit.
    *
    * Float discipline: counts are exact; each n·ln n term is rounded
    * to the 4-dp grid BEFORE the sum and the final 4-dp round absorbs
    * ulp drift (the t23 entropy convention); H₁, H₂, and the rate are
    * single fixed expressions over those sums.
    *
    * Scale shape: one tokenize producing both the unigram census and
    * the within-doc adjacent-bigram census (vocabulary²-bounded, t6
    * rule); two source-level rollups. */
  def t30EntropyRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"source", tokens($"text").as("tk"))
    val uni = docs.select($"source", explode($"tk").as("t"))
      .groupBy($"source", $"t").agg(count(lit(1)).as("n"))
      .groupBy($"source")
      .agg(sum($"n").as("nt"),
        sum(round($"n" * log($"n".cast("double")), 4)).as("unl"))
    val bi = docs.filter(size($"tk") >= 2)
      .select($"source", explode(expr(
        """transform(sequence(1, size(tk) - 1),
            i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"""))
        .as("bg"))
      .groupBy($"source", $"bg").agg(count(lit(1)).as("m"))
      .groupBy($"source")
      .agg(sum($"m").as("nb"),
        sum(round($"m" * log($"m".cast("double")), 4)).as("bnl"))
    uni.join(bi, "source")
      .select($"source", $"nt".as("n_tokens"), $"nb".as("n_bigrams"),
        round(expr("ln(CAST(nt AS DOUBLE)) - unl / CAST(nt AS DOUBLE)"), 4)
          .as("h_unigram"),
        round(expr("ln(CAST(nb AS DOUBLE)) - bnl / CAST(nb AS DOUBLE)"), 4)
          .as("h_bigram"),
        round(expr("""(ln(CAST(nb AS DOUBLE)) - bnl / CAST(nb AS DOUBLE))
            - (ln(CAST(nt AS DOUBLE)) - unl / CAST(nt AS DOUBLE))"""), 4)
          .as("h_rate"))
      .orderBy($"source")
  }

  /** Snapshot modulus for [[t40OovDrift]]'s frozen vocabulary (the
    * c20 "previous crawl" convention), the CAP on the frozen table
    * (production vocab/embedding tables are size-capped — OOV is
    * measured against the capped table, not the unbounded term set),
    * and the arrival-epoch modulus (the s22 convention). */
  val oovSnapMod = 11
  val oovVocabCap = 20
  val oovEpochs = 3

  /** D248: out-of-vocabulary drift monitor — the operational
    * complement to the frozen-IDF scoring artifact
    * ([[graft.ml.feature.GraftIDF]]): per arrival epoch, what share
    * of incoming TOKENS falls outside the vocabulary table the model
    * was shipped with, and how many NOVEL distinct terms the epoch
    * introduced. A rising OOV rate is the signal to refit (and
    * generally that the corpus distribution moved — new language,
    * new domain, new boilerplate). The frozen table = the
    * [[oovVocabCap]] most frequent terms of the snapshot docs
    * (ids % [[oovSnapMod]] ≠ 0; frequency-desc, term-asc ties — a
    * size-capped table, the shape every production embedding/BPE
    * vocabulary actually has); epoch = (doc_id div 10) mod
    * [[oovEpochs]] over the ARRIVING docs (the remaining ids).
    *
    * Scale shape: the vocabulary census is one token exchange over
    * the snapshot (vocabulary-sized, Heaps-bounded) + a cap-sized
    * TakeOrdered; arriving tokens LEFT-JOIN the capped table keyed on
    * the term (the t6/t9 shuffle shape) and reduce to a ≤#epochs-row
    * census. The novel-terms count is a distinct-per-epoch rollup of
    * the same joined frame — nothing wider than (term, epoch) ever
    * shuffles. */
  def t40OovDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val vocab = docs.filter($"doc_id" % oovSnapMod =!= 0)
      .select(explode(tokens($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"term").limit(oovVocabCap)
      .select($"term").withColumn("known", lit(1L))
    val arriving = docs.filter($"doc_id" % oovSnapMod === 0)
      .select(expr(s"(doc_id div 10) % $oovEpochs").as("epoch"),
        explode(tokens($"text")).as("term"))
      .join(vocab, Seq("term"), "left")
      .scopedPersist()
    val tok = arriving.groupBy($"epoch")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"known".isNull, 1L).otherwise(0L)).as("n_oov"))
    val novel = arriving.filter($"known".isNull)
      .select($"epoch", $"term").distinct()
      .groupBy($"epoch").agg(count(lit(1)).as("n_novel_terms"))
    tok.join(novel, Seq("epoch"), "left")
      .na.fill(0L, Seq("n_novel_terms"))
      .select($"epoch", $"n_tokens", $"n_oov",
        round($"n_oov".cast("double") / $"n_tokens".cast("double"), 4)
          .as("oov_rate"),
        $"n_novel_terms")
      .orderBy($"epoch")
  }

  /** Shared IEEE readability expressions over exact integer columns
    * (n_words, n_sentences, n_syllables) — interpolated into BOTH
    * engines (the q103 discipline). */
  private val fleschSql =
    """(206.835 - 1.015 * (CAST(n_words AS DOUBLE)
        / CAST(n_sentences AS DOUBLE))
        - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))"""
  private val fkGradeSql =
    """(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        - 15.59)"""

  /** D261: Flesch readability per document — reading-ease score and
    * Flesch–Kincaid grade level from exact word / sentence / syllable
    * counts: the classic text-difficulty feature a curriculum builder
    * (c7) or quality filter (t3/t35) consumes as a complexity axis
    * the existing length/stopword heuristics don't capture.
    * Sentences = terminal-punctuation runs are approximated by
    * counting [.!?] glyphs (min 1 so fragments don't divide by
    * zero); syllables per word = vowel-group count ([aeiouy]+ runs,
    * min 1) — the standard cheap deterministic approximation (real
    * hyphenation dictionaries are a lookup table this pipeline would
    * broadcast; the COUNTING plumbing is identical).
    *
    * Determinism: all three counts are exact integers (regexp_count
    * over each engine's regex on a character-class pattern — no
    * engine-divergent syntax); the two scores are ONE shared IEEE
    * tree ([[fleschSql]]/[[fkGradeSql]]), 4-dp.
    *
    * Scale shape: a pure per-row projection — the syllable fold is a
    * higher-order `aggregate` over the token array (codegen'd, no
    * UDF), no shuffle anywhere except the output sort. */
  def t41Flesch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select($"doc_id",
      size(tokens($"text")).cast("long").as("n_words"),
      greatest(regexp_count($"text", lit("[.!?]")), lit(1)).cast("long")
        .as("n_sentences"),
      aggregate(transform(tokens($"text"),
          w => greatest(regexp_count(w, lit("[aeiouy]+")), lit(1))
            .cast("long")),
        lit(0L), (acc, x) => acc + x).as("n_syllables"))
    base.select($"doc_id", $"n_words", $"n_sentences", $"n_syllables",
        expr(s"round($fleschSql, 4)").as("flesch"),
        expr(s"round($fkGradeSql, 4)").as("fk_grade"))
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t41_flesch" -> t41Flesch,
    "t40_oov_drift" -> t40OovDrift,
    "t30_entropy_rate" -> t30EntropyRate,
    "t27_simpson" -> t27Simpson,
    "t28_burstiness" -> t28Burstiness,
    "t29_dup_ngrams" -> t29DupNgrams,
    "t26_kl_sources" -> t26KlSources,
    "t25_pmi" -> t25Pmi,
    "t24_vocab_coverage" -> t24VocabCoverage,
    "t23_token_entropy" -> t23TokenEntropy,
    "t22_nb_lang" -> t22NbLang,
    "t21_source_drift" -> t21SourceDrift,
    "t20_novelty" -> t20Novelty,
    "t19_weighted_sample" -> t19WeightedSample,
    "t18_bigram_nll" -> t18BigramNll,
    "t38_kn_nll" -> t38KnNll,
    "t17_bm25" -> t17Bm25,
    "t32_good_turing" -> t32GoodTuring,
    "t33_langid_eval" -> t33LangidEval,
    "t34_heaps_law" -> t34HeapsLaw,
    "t35_kappa" -> t35Kappa,
    "t36_gopher_audit" -> t36GopherAudit,
    "t37_js_sources" -> t37JsSources,
    "t16_zipf" -> t16Zipf,
    "t15_doc_keywords" -> t15DocKeywords,
    "t14_vocab_encode" -> t14VocabEncode,
    "t13_boilerplate" -> t13Boilerplate,
    "t11_inverted_index" -> t11InvertedIndex,
    "t12_stratified_quota" -> t12StratifiedQuota,
    "t1_text_stats" -> t1TextStats,
    "t2_quality" -> t2Quality,
    "t3_langid" -> t3LangId,
    "t4_term_freq" -> t4TermFreq,
    "t5_fingerprint" -> t5Fingerprint,
    "t6_tfidf" -> t6Tfidf,
    "t7_sample" -> t7Sample,
    "t10_mix_languages" -> t10MixLanguages,
    "t8_repetition" -> t8Repetition,
    "t9_unigram_nll" -> t9UnigramNll)

  private val toksSql = "string_split(lower(text), ' ')"

  /** Per-bigram smoothed-surprisal CTE chain (ends at `s`: doc_id,
    * nll) — the t18 oracle body, extracted so the c13 perplexity-gate
    * oracle can reuse it. */
  private[graft] val bigramNllCtes: String =
    """t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
                    FROM documents),
          tok AS (SELECT doc_id, unnest(tk) AS term FROM t),
          b AS (SELECT doc_id, unnest(list_transform(
                  generate_series(1, len(tk) - 1),
                  i -> tk[i] || ' ' || tk[i+1])) AS bg FROM t),
          uc AS (SELECT term, CAST(count(*) AS BIGINT) AS c1
                 FROM tok GROUP BY term),
          bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
                 FROM b GROUP BY bg),
          v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS vsz FROM tok),
          s AS (SELECT b.doc_id,
                  round(ln(CAST(uc.c1 + v.vsz AS DOUBLE) /
                           CAST(bc.c12 + 1 AS DOUBLE)), 4) AS nll
                FROM b JOIN bc USING (bg)
                       JOIN uc ON uc.term = split_part(b.bg, ' ', 1)
                       CROSS JOIN v)"""

  /** DuckDB replay of the per-doc NB prediction chain (ends at `pred`:
    * doc_id, lang, model_lang, rn) — shared by t22, t33 and t35. */
  private lazy val t22PredCtes: String =
    s"""tok AS (SELECT doc_id, lang, unnest($toksSql) AS term
              FROM documents),
          v AS (SELECT DISTINCT term FROM tok),
          vs AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM v),
          ltc AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c
                  FROM tok GROUP BY 1, 2),
          ltot AS (SELECT lang AS model_lang, CAST(sum(c) AS BIGINT) AS tl
                   FROM ltc GROUP BY 1),
          nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
          prior AS (SELECT lang AS model_lang,
              round(ln(count(*) * 1.0 / (SELECT n FROM nd)), 4) AS logprior
            FROM documents GROUP BY 1),
          grid AS (SELECT v.term, lt.model_lang,
              round(ln((COALESCE(c.c, 0) + 1) * 1.0 /
                (lt.tl + (SELECT vsz FROM vs))), 4) AS logp
            FROM v CROSS JOIN ltot lt
            LEFT JOIN ltc c ON c.lang = lt.model_lang AND c.term = v.term),
          sc AS (SELECT t.doc_id, t.lang, g.model_lang,
              round(sum(g.logp), 4) AS ll
            FROM tok t JOIN grid g ON t.term = g.term GROUP BY 1, 2, 3),
          scored AS (SELECT doc_id, lang, sc.model_lang,
              round(ll + p.logprior, 4) AS score
            FROM sc JOIN prior p ON sc.model_lang = p.model_lang),
          pred AS (SELECT doc_id, lang, model_lang,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, model_lang) AS rn
            FROM scored)"""

  /** DuckDB replay of [[t22NbLang]] — the pred chain + confusion
    * rollup (extracted so the t33 eval oracle can wrap it). */
  private lazy val t22OracleSql: String =
    s"""WITH $t22PredCtes
          SELECT lang AS actual_lang, model_lang AS pred_lang,
            CAST(count(*) AS BIGINT) AS n_docs
          FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2"""
  private def countInSql(words: Seq[String]) =
    s"len(list_filter($toksSql, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"

  /** DuckDB replay of [[t17Bm25]]: same single token-stream pass
    * (tf → dl → corpus stats), BM25 constants interpolated via
    * Double.toString so both engines parse identical doubles, same
    * 4-dp round-before-sum-and-rank discipline. */
  private val t17OracleSql: String = {
    val qVals = bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term
            FROM documents),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM tok GROUP BY doc_id, term),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
            FROM tf GROUP BY doc_id),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
        df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY term),
        q(query_id, term) AS (VALUES $qVals),
        c AS (SELECT q.query_id, tf.doc_id,
            round(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
              * (tf.tf * ${bm25K1 + 1.0})
              / (tf.tf + $bm25K1 * (${1.0 - bm25B}
                 + $bm25B * dl.dl
                   / (CAST(st.sdl AS DOUBLE) / CAST(st.n AS DOUBLE)))),
              4) AS c
          FROM tf JOIN q USING (term) JOIN df USING (term)
               JOIN dl USING (doc_id) CROSS JOIN st),
        s AS (SELECT query_id, doc_id, round(sum(c), 4) AS score
            FROM c GROUP BY query_id, doc_id),
        r AS (SELECT query_id, doc_id, score,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS rk
          FROM s)
        SELECT query_id, CAST(rk AS INT) AS rk, doc_id, score
        FROM r WHERE rk <= 10 ORDER BY query_id, rk"""
  }

  val oracle: Map[String, String] = Map(
    "t41_flesch" ->
      s"""WITH b AS (SELECT doc_id,
              CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                AS n_words,
              CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1)
                AS BIGINT) AS n_sentences,
              CAST(list_sum(list_transform(string_split(lower(text), ' '),
                w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
                AS BIGINT) AS n_syllables
            FROM documents)
          SELECT doc_id, n_words, n_sentences, n_syllables,
            round($fleschSql, 4) AS flesch,
            round($fkGradeSql, 4) AS fk_grade
          FROM b ORDER BY doc_id""",
    "t40_oov_drift" ->
      s"""WITH vocab AS (SELECT term FROM (
              SELECT unnest($toksSql) AS term
              FROM documents WHERE doc_id % $oovSnapMod <> 0)
            GROUP BY term ORDER BY count(*) DESC, term
            LIMIT $oovVocabCap),
          arr AS (SELECT (doc_id // 10) % $oovEpochs AS epoch,
              unnest($toksSql) AS term
            FROM documents WHERE doc_id % $oovSnapMod = 0),
          j AS (SELECT arr.epoch, arr.term,
              CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END AS oov
            FROM arr LEFT JOIN vocab ON vocab.term = arr.term),
          tk AS (SELECT epoch, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(oov) AS BIGINT) AS n_oov
            FROM j GROUP BY epoch),
          nv AS (SELECT epoch,
              CAST(count(DISTINCT term) AS BIGINT) AS n_novel_terms
            FROM j WHERE oov = 1 GROUP BY epoch)
          SELECT tk.epoch, tk.n_tokens, tk.n_oov,
            round(CAST(tk.n_oov AS DOUBLE)
              / CAST(tk.n_tokens AS DOUBLE), 4) AS oov_rate,
            coalesce(nv.n_novel_terms, 0) AS n_novel_terms
          FROM tk LEFT JOIN nv ON nv.epoch = tk.epoch
          ORDER BY tk.epoch""",
    "t32_good_turing" ->
      s"""WITH tok AS (SELECT source, unnest($toksSql) AS t FROM documents),
          tf AS (SELECT source, t, CAST(count(*) AS BIGINT) AS r
                 FROM tok GROUP BY 1, 2),
          ff AS (SELECT source,
              CAST(sum(r) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS vocab,
              CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
              CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
              CAST(sum(CASE WHEN r = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
              CAST(sum(CASE WHEN r = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
            FROM tf GROUP BY 1)
          SELECT source, n_tokens, vocab, n1, n2,
            round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
              AS p0_unseen,
            CASE WHEN n1 > 0 THEN
              round(2.0 * CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 4)
            END AS r1_star,
            CASE WHEN n2 > 0 THEN
              round(3.0 * CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE), 4)
            END AS r2_star,
            CASE WHEN n3 > 0 THEN
              round(4.0 * CAST(n4 AS DOUBLE) / CAST(n3 AS DOUBLE), 4)
            END AS r3_star
          FROM ff ORDER BY source""",
    "t30_entropy_rate" ->
      s"""WITH dk AS (SELECT source, $toksSql AS tk FROM documents),
          uni AS (SELECT source, t, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT source, unnest(tk) AS t FROM dk) GROUP BY 1, 2),
          u AS (SELECT source, CAST(sum(n) AS BIGINT) AS nt,
              sum(round(n * ln(n), 4)) AS unl
            FROM uni GROUP BY 1),
          bg AS (SELECT source, b, CAST(count(*) AS BIGINT) AS m
            FROM (SELECT source,
                unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i + 1])) AS b
              FROM dk WHERE len(tk) >= 2)
            GROUP BY 1, 2),
          bb AS (SELECT source, CAST(sum(m) AS BIGINT) AS nb,
              sum(round(m * ln(m), 4)) AS bnl
            FROM bg GROUP BY 1)
          SELECT u.source, u.nt AS n_tokens, bb.nb AS n_bigrams,
            round(ln(CAST(nt AS DOUBLE)) - unl / CAST(nt AS DOUBLE), 4)
              AS h_unigram,
            round(ln(CAST(nb AS DOUBLE)) - bnl / CAST(nb AS DOUBLE), 4)
              AS h_bigram,
            round((ln(CAST(nb AS DOUBLE)) - bnl / CAST(nb AS DOUBLE))
              - (ln(CAST(nt AS DOUBLE)) - unl / CAST(nt AS DOUBLE)), 4)
              AS h_rate
          FROM u JOIN bb ON u.source = bb.source ORDER BY u.source""",
    "t29_dup_ngrams" ->
      s"""WITH sp AS (SELECT source, $toksSql AS tk FROM documents
            WHERE len($toksSql) >= $dupNgramN),
          ex AS (SELECT source,
              unnest(list_transform(range(1, len(tk) - ${dupNgramN - 2}),
                i -> md5(array_to_string(tk[i : i + ${dupNgramN - 1}], ' '))))
                AS h
            FROM sp),
          ps AS (SELECT source, h, CAST(count(*) AS BIGINT) AS c
            FROM ex GROUP BY 1, 2),
          wi AS (SELECT source, CAST(sum(c) AS BIGINT) AS t_spans,
              CAST(count(*) AS BIGINT) AS d_spans
            FROM ps GROUP BY 1),
          gl AS (SELECT h, CAST(sum(c) AS BIGINT) AS gc FROM ps GROUP BY 1),
          cr AS (SELECT ps.source,
              CAST(sum(CASE WHEN gl.gc > ps.c THEN ps.c ELSE 0 END)
                AS BIGINT) AS cross_other
            FROM ps JOIN gl USING (h) GROUP BY 1)
          SELECT wi.source, t_spans, d_spans,
            round(CAST(t_spans - d_spans AS DOUBLE) / CAST(t_spans AS DOUBLE), 4)
              AS within_dup_rate,
            round(CAST(cross_other AS DOUBLE) / CAST(t_spans AS DOUBLE), 4)
              AS cross_dup_rate
          FROM wi JOIN cr USING (source) ORDER BY source""",
    "t28_burstiness" ->
      s"""WITH pd AS (SELECT doc_id, unnest($toksSql) AS term
            FROM documents),
          pc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
            FROM pd GROUP BY 1, 2),
          tm AS (SELECT term, CAST(sum(c) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS df,
              sum(CAST(c AS HUGEINT) * c) AS sumsq
            FROM pc GROUP BY 1
            HAVING sum(c) >= $burstMinCount),
          d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
          SELECT term, n, df,
            round(CAST(CAST(n_docs AS HUGEINT) * sumsq
                - CAST(n AS HUGEINT) * n AS DOUBLE) /
              (CAST(n_docs AS DOUBLE) * CAST(n AS DOUBLE)), 4) AS burstiness
          FROM tm CROSS JOIN d
          ORDER BY burstiness DESC, term LIMIT $burstTopK""",
    "t27_simpson" ->
      s"""WITH tf AS (SELECT source, unnest($toksSql) AS term
            FROM documents),
          cen AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n
            FROM tf GROUP BY 1, 2),
          agg AS (SELECT source,
              CAST(sum(n) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS vocab,
              sum(CAST(n AS HUGEINT) * (n - 1)) AS coll,
              CAST(max(n) AS BIGINT) AS max_n
            FROM cen GROUP BY 1)
          SELECT source, n_tokens, vocab,
            round(CAST(coll AS DOUBLE) /
              (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE)), 4)
              AS simpson,
            round((CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))
              / CAST(coll AS DOUBLE), 4) AS inv_simpson,
            round(CAST(max_n AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
              AS berger_parker
          FROM agg ORDER BY source""",
    "t26_kl_sources" ->
      s"""WITH tok AS (SELECT source, unnest($toksSql) AS term
            FROM documents),
          st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c_st
            FROM tok GROUP BY 1, 2),
          ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
            FROM st GROUP BY 1),
          ct AS (SELECT term, CAST(count(*) AS BIGINT) AS c_t
            FROM tok GROUP BY 1),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tok),
          c AS (SELECT st.source,
              round((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)) *
                ln(CAST(c_st AS DOUBLE) * (SELECT n_tok FROM n) /
                   (CAST(n_s AS DOUBLE) * CAST(c_t AS DOUBLE))), 4) AS contrib
            FROM st JOIN ct USING (term) JOIN ns USING (source))
          SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
            round(sum(contrib), 4) AS kl
          FROM c GROUP BY source ORDER BY source""",
    "t25_pmi" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          tok AS (SELECT doc_id, unnest(tk) AS term FROM t),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tok),
          uc AS (SELECT term, CAST(count(*) AS BIGINT) AS c
                 FROM tok GROUP BY term),
          b AS (SELECT unnest(list_transform(
                  generate_series(1, len(tk) - 1),
                  i -> tk[i] || ' ' || tk[i+1])) AS bg FROM t),
          bc AS (SELECT split_part(bg, ' ', 1) AS w1,
                   split_part(bg, ' ', 2) AS w2,
                   CAST(count(*) AS BIGINT) AS c_ab
                 FROM b GROUP BY bg HAVING count(*) >= $pmiMinPairs)
          SELECT bc.w1, bc.w2, bc.c_ab,
            round(ln((SELECT n_tok FROM n) * CAST(bc.c_ab AS DOUBLE)
              / (CAST(a.c AS DOUBLE) * CAST(z.c AS DOUBLE))), 4) AS pmi
          FROM bc JOIN uc a ON a.term = bc.w1
                  JOIN uc z ON z.term = bc.w2
          ORDER BY pmi DESC, w1, w2 LIMIT 20""",
    "t24_vocab_coverage" ->
      s"""WITH tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT unnest($toksSql) AS term FROM documents)
            GROUP BY 1),
          st AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
              CAST(sum(tf) AS BIGINT) AS n_tokens FROM tf),
          top AS (SELECT tf, term,
              row_number() OVER (ORDER BY tf DESC, term) AS rk
            FROM tf ORDER BY tf DESC, term LIMIT ${coverageKs.max}),
          cum AS (SELECT rk, CAST(sum(tf) OVER (ORDER BY rk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS covered FROM top),
          ks(k) AS (VALUES ${coverageKs.map(k => s"($k)").mkString(", ")})
          SELECT k, least(CAST(k AS BIGINT), st.n_terms) AS n_terms_used,
            c.covered,
            round(c.covered * 1.0 / st.n_tokens, 4) AS coverage
          FROM ks CROSS JOIN st
          JOIN cum c ON c.rk = least(CAST(k AS BIGINT), st.n_terms)
          ORDER BY k""",
    "t33_langid_eval" ->
      s"""WITH cm AS ($t22OracleSql),
          act AS (SELECT actual_lang AS lang,
              CAST(sum(n_docs) AS BIGINT) AS support FROM cm GROUP BY 1),
          prd AS (SELECT pred_lang AS lang,
              CAST(sum(n_docs) AS BIGINT) AS predicted FROM cm GROUP BY 1),
          tp AS (SELECT actual_lang AS lang, n_docs AS tp FROM cm
                 WHERE actual_lang = pred_lang),
          j AS (SELECT coalesce(a.lang, p.lang) AS lang,
              coalesce(a.support, 0) AS support,
              coalesce(p.predicted, 0) AS predicted
            FROM act a FULL JOIN prd p ON a.lang = p.lang)
          SELECT j.lang, j.support, j.predicted,
            coalesce(t.tp, 0) AS tp,
            CASE WHEN j.predicted > 0 THEN
              round(CAST(coalesce(t.tp, 0) AS DOUBLE)
                / CAST(j.predicted AS DOUBLE), 4) END AS precision,
            CASE WHEN j.support > 0 THEN
              round(CAST(coalesce(t.tp, 0) AS DOUBLE)
                / CAST(j.support AS DOUBLE), 4) END AS recall,
            CASE WHEN j.support + j.predicted > 0 THEN
              round(2.0 * CAST(coalesce(t.tp, 0) AS DOUBLE)
                / CAST(j.support + j.predicted AS DOUBLE), 4) END AS f1
          FROM j LEFT JOIN tp t ON t.lang = j.lang
          ORDER BY j.lang""",
    "t22_nb_lang" -> t22OracleSql,
    "t35_kappa" ->
      s"""WITH $t22PredCtes,
          nbp AS (SELECT doc_id, model_lang AS pb FROM pred WHERE rn = 1),
          hh AS (SELECT doc_id,
            ${langMarkers.map { case (l, ws) => s"${countInSql(ws)} AS hit_$l" }.mkString(", ")}
            FROM documents),
          hp AS (SELECT doc_id, CASE
            WHEN hit_fr > greatest(hit_en, hit_es, hit_de, 0) THEN 'fr'
            WHEN hit_de > greatest(hit_en, hit_es, 0) THEN 'de'
            WHEN hit_es > greatest(hit_en, 0) THEN 'es'
            WHEN hit_en > 0 THEN 'en'
            ELSE 'und' END AS pa FROM hh),
          j AS (SELECT hp.pa, nbp.pb FROM hp JOIN nbp USING (doc_id)),
          c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN pa = pb THEN 1 ELSE 0 END) AS BIGINT)
                AS n_agree
            FROM j),
          pe AS (SELECT sum(CAST(na AS HUGEINT) * nb) AS pe_num FROM
            (SELECT pa AS l, CAST(count(*) AS BIGINT) AS na
             FROM j GROUP BY 1) a
            JOIN (SELECT pb AS l, CAST(count(*) AS BIGINT) AS nb
                  FROM j GROUP BY 1) b USING (l))
          SELECT n_docs, n_agree,
            round(CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE), 4) AS po,
            round(CAST(pe_num AS DOUBLE)
              / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)), 4) AS pe,
            round((CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE)
                - CAST(pe_num AS DOUBLE)
                  / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
              / (1.0 - CAST(pe_num AS DOUBLE)
                  / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))), 4)
              AS kappa
          FROM c CROSS JOIN pe""",
    "t37_js_sources" ->
      s"""WITH ts AS (SELECT term, source, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT source, unnest($toksSql) AS term FROM documents)
            GROUP BY 1, 2),
          st AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot_s
            FROM ts GROUP BY source),
          ct AS (SELECT term, CAST(sum(c) AS BIGINT) AS tot_t
            FROM ts GROUP BY term),
          nn AS (SELECT CAST(sum(tot_s) AS BIGINT) AS nn FROM st),
          j AS (SELECT ts.source,
              CAST(floor((
                0.5 * (CAST(c AS DOUBLE) / CAST(tot_s AS DOUBLE))
                  * ln((CAST(c AS DOUBLE) / CAST(tot_s AS DOUBLE))
                    / ((CAST(c AS DOUBLE) / CAST(tot_s AS DOUBLE)
                        + CAST(tot_t - c AS DOUBLE)
                          / CAST(nn - tot_s AS DOUBLE)) / 2.0))
                + CASE WHEN tot_t - c > 0 THEN
                    0.5 * (CAST(tot_t - c AS DOUBLE)
                      / CAST(nn - tot_s AS DOUBLE))
                    * ln((CAST(tot_t - c AS DOUBLE)
                        / CAST(nn - tot_s AS DOUBLE))
                      / ((CAST(c AS DOUBLE) / CAST(tot_s AS DOUBLE)
                          + CAST(tot_t - c AS DOUBLE)
                            / CAST(nn - tot_s AS DOUBLE)) / 2.0))
                  ELSE 0.0 END) * 1e9 + 0.5) AS BIGINT) AS contrib9,
              CAST(floor((CAST(tot_t - c AS DOUBLE)
                / CAST(nn - tot_s AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS q9
            FROM ts JOIN ct USING (term) JOIN st USING (source)
              CROSS JOIN nn)
          SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
            round(CAST(sum(CAST(contrib9 AS HUGEINT)) AS DOUBLE) / 1e9
              + 0.5 * ${math.log(2.0)}
                * (1.0 - CAST(sum(CAST(q9 AS HUGEINT)) AS DOUBLE) / 1e9), 4)
              AS js
          FROM j GROUP BY source ORDER BY source""",
    "t36_gopher_audit" ->
      s"""WITH tk AS (SELECT doc_id, source, text, $toksSql AS toks
            FROM documents),
          base AS (SELECT doc_id, source,
              CAST(len(toks) AS BIGINT) AS n,
              CAST(length(text) - (len(toks) - 1) AS BIGINT) AS sumlen,
              CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))
                AS BIGINT) AS sym,
              CAST(length(text) AS BIGINT) AS chars,
              CAST(len(list_filter(toks, t -> t IN
                (${stopwords.map(w => s"'$w'").mkString(",")})))
                AS BIGINT) AS stop
            FROM tk),
          mt AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS maxtf FROM (
              SELECT doc_id, t, count(*) AS c
              FROM (SELECT doc_id, unnest(toks) AS t FROM tk)
              GROUP BY 1, 2) GROUP BY 1),
          fl AS (SELECT b.source,
              CASE WHEN b.n >= $gopherWcMin AND b.n <= $gopherWcMax
                THEN 1 ELSE 0 END AS ok_wc,
              CASE WHEN b.sumlen >= $gopherWlMin * b.n
                AND b.sumlen <= $gopherWlMax * b.n
                THEN 1 ELSE 0 END AS ok_wl,
              CASE WHEN b.sym * 100 <= $gopherSymPct * b.chars
                THEN 1 ELSE 0 END AS ok_sym,
              CASE WHEN b.stop >= 1 THEN 1 ELSE 0 END AS ok_stop,
              CASE WHEN m.maxtf * 100 <= $gopherMaxTfPct * b.n
                THEN 1 ELSE 0 END AS ok_rep
            FROM base b JOIN mt m USING (doc_id))
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(1 - ok_wc) AS BIGINT) AS fail_wordcount,
            CAST(sum(1 - ok_wl) AS BIGINT) AS fail_wordlen,
            CAST(sum(1 - ok_sym) AS BIGINT) AS fail_symbol,
            CAST(sum(1 - ok_stop) AS BIGINT) AS fail_stopword,
            CAST(sum(1 - ok_rep) AS BIGINT) AS fail_repeat,
            CAST(sum(ok_wc * ok_wl * ok_sym * ok_stop * ok_rep) AS BIGINT)
              AS n_pass,
            round(CAST(sum(ok_wc * ok_wl * ok_sym * ok_stop * ok_rep)
                AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS pass_frac
          FROM fl GROUP BY source ORDER BY source""",
    "t34_heaps_law" ->
      s"""WITH b AS (SELECT CAST(min(doc_id) AS BIGINT) AS mn,
              CAST(max(doc_id) AS BIGINT) AS mx FROM documents),
          g AS (SELECT unnest(generate_series(1, 10)) AS i),
          cuts AS (SELECT CAST(i AS BIGINT) AS decile,
              mn - 1 + ((mx - mn + 1) * i) // 10 AS cutoff_id
            FROM g CROSS JOIN b),
          fd AS (SELECT term, CAST(min(doc_id) AS BIGINT) AS fd
            FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
            GROUP BY term),
          voc AS (SELECT c.decile,
              CAST(sum(CASE WHEN f.fd <= c.cutoff_id THEN 1 ELSE 0 END)
                AS BIGINT) AS vocab
            FROM cuts c CROSS JOIN fd f GROUP BY 1),
          dd AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS nt
            FROM documents),
          dcs AS (SELECT c.decile,
              CAST(sum(CASE WHEN d.doc_id <= c.cutoff_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN d.doc_id <= c.cutoff_id THEN d.nt
                ELSE 0 END) AS BIGINT) AS n_tokens
            FROM cuts c CROSS JOIN dd d GROUP BY 1)
          SELECT c.decile, c.cutoff_id, dcs.n_docs, dcs.n_tokens, voc.vocab
          FROM cuts c JOIN voc USING (decile) JOIN dcs USING (decile)
          ORDER BY c.decile""",
    "t23_token_entropy" ->
      s"""WITH tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
            GROUP BY 1, 2)
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
            CAST(count(*) AS BIGINT) AS n_types,
            round(ln(CAST(sum(tf) AS BIGINT)) -
              sum(round(tf * ln(tf), 4)) / CAST(sum(tf) AS BIGINT), 4)
              AS entropy,
            round(count(*) * 1.0 / sum(tf), 4) AS ttr
          FROM tf GROUP BY doc_id ORDER BY doc_id""",
    "t17_bm25" -> t17OracleSql,
    "t16_zipf" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS term FROM documents),
          f AS (SELECT term, count(*) AS f FROM tok GROUP BY term),
          r AS (SELECT
              ln(CAST(row_number() OVER (ORDER BY f DESC, term) AS DOUBLE)) AS x,
              ln(CAST(f AS DOUBLE)) AS y
            FROM f)
          SELECT CAST(count(*) AS BIGINT) AS n_terms,
            round(covar_samp(x, y) / var_samp(x), 4) AS zipf_slope,
            round(avg(y) - (covar_samp(x, y) / var_samp(x)) * avg(x), 4)
              AS intercept,
            round(covar_samp(x, y) * covar_samp(x, y)
              / (var_samp(x) * var_samp(y)), 4) AS r2
          FROM r""",
    "t15_doc_keywords" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term
            FROM documents),
          tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM tok GROUP BY 1, 2),
          df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY 1),
          sc AS (SELECT t.doc_id, t.term,
              round(t.tf * ln((SELECT CAST(count(*) AS DOUBLE)
                FROM documents) / d.df), 4) AS tfidf
            FROM tf t JOIN df d ON t.term = d.term),
          rk AS (SELECT doc_id, term, tfidf, row_number() OVER (
              PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
            FROM sc)
          SELECT doc_id, CAST(rk AS INT) AS rk, term, tfidf
          FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""",
    "t14_vocab_encode" ->
      s"""WITH tok AS (SELECT doc_id,
              unnest(generate_series(1, len($toksSql))) AS pos,
              unnest($toksSql) AS term
            FROM documents),
          freq AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
          vocab AS (SELECT term,
              row_number() OVER (ORDER BY cnt DESC, term) AS id
            FROM freq ORDER BY cnt DESC, term LIMIT $vocabSize),
          enc AS (SELECT t.doc_id,
              string_agg(CAST(coalesce(v.id, 0) AS VARCHAR), '.' ORDER BY t.pos) AS ids_str
            FROM tok t LEFT JOIN vocab v USING (term)
            WHERE t.pos <= $encodeLen GROUP BY t.doc_id),
          ntok AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
            FROM tok GROUP BY doc_id)
          SELECT n.doc_id, n.n_tokens, e.ids_str
          FROM ntok n JOIN enc e ON n.doc_id = e.doc_id""",
    "t13_boilerplate" ->
      s"""WITH ph AS (SELECT unnest(list_transform(
              generate_series(1, len($toksSql) - 1),
              i -> $toksSql[i] || ' ' || $toksSql[i+1])) AS phrase
            FROM documents),
          tot AS (SELECT count(*) AS t FROM ph)
          SELECT phrase, CAST(count(*) AS BIGINT) AS n FROM ph, tot
          GROUP BY phrase, t HAVING count(*) * $hhK > t
          ORDER BY n DESC, phrase""",
    "t11_inverted_index" ->
      s"""WITH td AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents) t
            GROUP BY term, doc_id),
          p AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                  CAST(sum(tf) AS BIGINT) AS total_tf,
                  md5(array_to_string(list_sort(list(doc_id)), ',')) AS postings_md5
                FROM td GROUP BY term)
          SELECT term, df, total_tf, postings_md5 FROM p
          ORDER BY df DESC, term LIMIT 50""",
    "t12_stratified_quota" ->
      s"""WITH r AS (SELECT lang, doc_id,
            row_number() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents)
          SELECT lang, CAST(rk AS INT) AS rk, doc_id FROM r
          WHERE rk <= $stratumQuota ORDER BY lang, rk""",
    "t21_source_drift" ->
      s"""WITH src AS (SELECT source,
              CAST(row_number() OVER (ORDER BY source) - 1 AS INT) AS bit
            FROM (SELECT DISTINCT source FROM documents)),
          sh AS (SELECT sr.bit, unnest(${Dedup.shinglesSql}) AS g
                 FROM documents d JOIN src sr USING (source)),
          mk AS (SELECT g, CAST(bit_or(CAST(1 AS BIGINT) << bit) AS BIGINT)
                   AS m
                 FROM sh GROUP BY g),
          mc AS (SELECT m, CAST(count(*) AS BIGINT) AS c FROM mk GROUP BY m),
          pr AS (SELECT a.source AS source_a, b.source AS source_b,
              CAST(CAST(1 AS BIGINT) << a.bit AS BIGINT) AS ba,
              CAST(CAST(1 AS BIGINT) << b.bit AS BIGINT) AS bb
            FROM src a JOIN src b ON a.bit < b.bit),
          j AS (SELECT pr.source_a, pr.source_b,
              CAST(sum(CASE WHEN (mc.m & pr.ba) <> 0 THEN mc.c ELSE 0 END)
                AS BIGINT) AS n_a,
              CAST(sum(CASE WHEN (mc.m & pr.bb) <> 0 THEN mc.c ELSE 0 END)
                AS BIGINT) AS n_b,
              CAST(sum(CASE WHEN (mc.m & pr.ba) <> 0 AND (mc.m & pr.bb) <> 0
                THEN mc.c ELSE 0 END) AS BIGINT) AS n_inter,
              CAST(sum(mc.c) AS BIGINT) AS n_union
            FROM pr JOIN mc ON (mc.m & (pr.ba + pr.bb)) <> 0
            GROUP BY 1, 2)
          SELECT source_a, source_b, n_a, n_b, n_inter, n_union,
            round(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE), 4)
              AS jaccard
          FROM j ORDER BY source_a, source_b""",
    "t20_novelty" ->
      s"""WITH s AS (SELECT doc_id, unnest(${Dedup.shinglesSql}) AS sh
                     FROM documents),
          f AS (SELECT sh, min(doc_id) AS first_doc FROM s GROUP BY sh),
          d AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
              CAST(count(*) FILTER (f.first_doc = s.doc_id) AS BIGINT)
                AS novel
            FROM s JOIN f USING (sh) GROUP BY s.doc_id)
          SELECT doc_id, n_shingles, novel,
            round(CAST(novel AS DOUBLE) / CAST(n_shingles AS DOUBLE), 4)
              AS novelty
          FROM d ORDER BY doc_id""",
    "t19_weighted_sample" ->
      s"""WITH keyed AS (SELECT doc_id, n_chars,
            ln(CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) + 1 AS DOUBLE) / 4294967297.0)
              / n_chars AS skey
          FROM documents),
          ranked AS (SELECT doc_id, n_chars, skey,
              row_number() OVER (ORDER BY skey DESC, doc_id) AS rk
            FROM keyed)
          SELECT CAST(rk AS INT) AS rk, doc_id, n_chars,
            round(skey, 6) AS skey
          FROM ranked WHERE rk <= $wsampleK ORDER BY rk""",
    "t38_kn_nll" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
                     FROM documents),
          tok AS (SELECT doc_id, unnest(tk) AS term FROM t),
          b AS (SELECT doc_id, unnest(list_transform(
                  generate_series(1, len(tk) - 1),
                  i -> tk[i] || ' ' || tk[i+1])) AS bg FROM t),
          uc AS (SELECT term AS w1, CAST(count(*) AS BIGINT) AS c1
                 FROM tok GROUP BY term),
          bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
                 FROM b GROUP BY bg),
          tz AS (SELECT CAST(count(*) AS BIGINT) AS tsz FROM bc),
          fwd AS (SELECT split_part(bg, ' ', 1) AS w1,
                    CAST(count(*) AS BIGINT) AS n1p
                  FROM bc GROUP BY 1),
          pr AS (SELECT split_part(bg, ' ', 2) AS w2,
                    CAST(count(*) AS BIGINT) AS pred2
                  FROM bc GROUP BY 1),
          s AS (SELECT b.doc_id,
                  round(-ln(((CAST(c12 AS DOUBLE) - $knDiscount)
                    + $knDiscount * CAST(n1p AS DOUBLE)
                      * (CAST(pred2 AS DOUBLE) / CAST(tsz AS DOUBLE)))
                    / CAST(c1 AS DOUBLE)), 4) AS v
                FROM b JOIN bc USING (bg)
                       JOIN uc ON uc.w1 = split_part(b.bg, ' ', 1)
                       JOIN fwd ON fwd.w1 = split_part(b.bg, ' ', 1)
                       JOIN pr ON pr.w2 = split_part(b.bg, ' ', 2)
                       CROSS JOIN tz)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
            round(sum(v), 4) AS sum_nll
          FROM s GROUP BY doc_id ORDER BY doc_id""",
    "t18_bigram_nll" ->
      s"""WITH $bigramNllCtes
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
            round(sum(nll), 4) AS sum_nll
          FROM s GROUP BY doc_id ORDER BY doc_id""",
    "t9_unigram_nll" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                      FROM documents),
          tot AS (SELECT count(*) AS n FROM tok),
          freq AS (SELECT term, count(*) AS tf FROM tok GROUP BY term)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
            round(sum(round(ln((SELECT n FROM tot) * 1.0 / tf), 4)), 4) AS sum_nll
          FROM tok JOIN freq USING (term)
          GROUP BY doc_id ORDER BY doc_id""",
    "t1_text_stats" ->
      s"""SELECT doc_id,
          CAST(length(text) AS INT) AS n_chars_obs,
          CAST(len($toksSql) AS INT) AS n_tokens,
          CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_bpeish,
          round(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) * 1.0 /
            length(text), 4) AS punct_ratio,
          round(${countInSql(stopwords)} * 1.0 / len($toksSql), 4) AS stopword_ratio,
          round((length(text) - len($toksSql) + 1) * 1.0 / len($toksSql), 4) AS avg_token_len
          FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
    "t2_quality" ->
      s"""WITH q AS (SELECT source, $qualityScoreSql AS quality
          FROM documents)
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            round(avg(quality), 4) AS avg_quality,
            CAST(count(*) FILTER (quality >= 0.5) AS BIGINT) AS n_pass
          FROM q GROUP BY source ORDER BY source""",
    "t3_langid" ->
      s"""WITH h AS (SELECT lang,
            ${langMarkers.map { case (l, ws) => s"${countInSql(ws)} AS hit_$l" }.mkString(", ")}
          FROM documents),
          p AS (SELECT lang, CASE
            ${/* replicate the fold: later languages win only on strictly greater */ ""}
            WHEN hit_fr > greatest(hit_en, hit_es, hit_de, 0) THEN 'fr'
            WHEN hit_de > greatest(hit_en, hit_es, 0) THEN 'de'
            WHEN hit_es > greatest(hit_en, 0) THEN 'es'
            WHEN hit_en > 0 THEN 'en'
            ELSE 'und' END AS pred_lang FROM h)
          SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
          FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang""",
    "t4_term_freq" ->
      s"""WITH tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT source, unnest($toksSql) AS term FROM documents) t
            GROUP BY source, term),
          r AS (SELECT source, term, n,
            row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rk FROM tf)
          SELECT source, CAST(rk AS INT) AS rk, term, n FROM r
          WHERE rk <= 10 ORDER BY source, rk""",
    "t6_tfidf" ->
      s"""WITH dt AS (SELECT doc_id, source, unnest($toksSql) AS term FROM documents),
          idf AS (SELECT term, count(*) AS df
                  FROM (SELECT DISTINCT doc_id, term FROM dt) GROUP BY term),
          tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
                 FROM dt GROUP BY source, term),
          sc AS (SELECT tf.source, tf.term,
                   round(tf.tf * ln((SELECT count(*) FROM documents) * 1.0 / idf.df), 4) AS tfidf
                 FROM tf JOIN idf ON tf.term = idf.term),
          r AS (SELECT source, term, tfidf,
                  row_number() OVER (PARTITION BY source
                    ORDER BY tfidf DESC, term) AS rk FROM sc)
          SELECT source, CAST(rk AS INT) AS rk, term, tfidf
          FROM r WHERE rk <= 5 ORDER BY source, rk""",
    "t10_mix_languages" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
                    FROM documents GROUP BY lang),
         f AS (SELECT lang, n,
                 sqrt(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE))
                   / CAST(n AS DOUBLE) AS wt
               FROM c),
         f2 AS (SELECT lang, n, wt / max(wt) OVER () AS f FROM f),
         kept AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept
                  FROM documents d JOIN f2 USING (lang)
                  WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                          / 65536.0 < f2.f
                  GROUP BY d.lang)
         SELECT f2.lang, f2.n AS n_orig,
           coalesce(k.n_kept, 0) AS n_kept,
           round(f2.f, 6) AS sample_frac
         FROM f2 LEFT JOIN kept k ON f2.lang = k.lang
         ORDER BY f2.lang""",
    "t7_sample" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
           round(avg(n_chars), 4) AS avg_chars
         FROM documents
         WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 = 0
         GROUP BY lang ORDER BY lang""",
    "t8_repetition" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS g FROM documents),
          tc AS (SELECT doc_id, g, count(*) AS n FROM tok GROUP BY 1, 2),
          ts AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
                   count(*) AS n_distinct, max(n) AS top_tok
                 FROM tc GROUP BY 1),
          big AS (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len($toksSql) - 1),
                      i -> $toksSql[i] || ' ' || $toksSql[i+1])) AS g
                  FROM documents),
          bc AS (SELECT doc_id, g, count(*) AS n FROM big GROUP BY 1, 2),
          bs AS (SELECT doc_id, sum(n) AS n_bigrams, max(n) AS top_big
                 FROM bc GROUP BY 1)
          SELECT ts.doc_id, n_tokens,
            round(n_distinct * 1.0 / n_tokens, 4) AS distinct_ratio,
            round(top_tok * 1.0 / n_tokens, 4) AS top_token_frac,
            round(top_big * 1.0 / n_bigrams, 4) AS top_bigram_frac
          FROM ts JOIN bs ON ts.doc_id = bs.doc_id ORDER BY ts.doc_id""",
    "t5_fingerprint" ->
      s"""WITH sh AS (SELECT doc_id,
            list_transform(generate_series(1, len($toksSql) - 2),
              i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2]) AS sh
          FROM documents)
          SELECT d.doc_id,
            md5(regexp_replace(trim(lower(d.text)), '\\s+', ' ', 'g')) AS content_md5,
            list_min(list_transform(sh.sh, s -> md5(s))) AS min_shingle_hash,
            CAST(len($toksSql) AS INT) AS n_tokens
          FROM documents d JOIN sh ON d.doc_id = sh.doc_id
          ORDER BY d.doc_id""")
}
