package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.CacheScope.ScopedPersist

/** End-to-end corpus-cleaning pipeline — the composition a training-data
  * engineer actually runs, built entirely from the engine's own
  * operators (D20 quality gate → D17 exact dedup → D18 near-dup
  * removal → summary):
  *
  *  1. score every document with [[TextAnalysis.qualityScore]] and keep
  *     quality ≥ 0.5;
  *  2. collapse exact duplicates among survivors (min doc_id per
  *     normalized-content hash — d1's rule, applied to the filtered set);
  *  3. remove near-duplicates: for every shingle-Jaccard ≥ 0.5 pair
  *     (d5's LSH-bucketed pairs — never all-pairs) whose BOTH endpoints
  *     survived step 2, drop the higher id (single pass, not transitive
  *     closure — deterministic and oracle-replayable);
  *  4. report surviving doc counts and total quality per (lang, source).
  *
  * Every stage is a narrow filter or a partial-aggregated shuffle; the
  * only pair-wise work is inherited from d5's candidate set, which LSH
  * banding keeps linear-ish in the corpus. The whole chain is replayed
  * verbatim in the DuckDB oracle.
  */
/** One document entering the packer: its pack bucket, id, and token
  * count. Top-level so the Dataset encoder resolves. */
case class PackDoc(bucket: Long, doc_id: Long, toks: Long)

/** One packed document: which sequence (bin) of its bucket it landed
  * in. */
case class PackedDoc(doc_id: Long, bucket: Long, seq_id: Long, toks: Long)

object Pipeline {

  def c1CleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // round-15: quality/hash columns come off the shared
    // TextAnalysis.docFacts session frame (same expressions, computed
    // once per session for the whole c-family)
    val s1 = TextAnalysis.docFacts(spark, dir).filter($"quality" >= 0.5)
    // exact dedup among survivors: content hash is near-unique, so the
    // window min is a regular hash-partitioned shuffle, no hot keys
    val s2 = s1
      .withColumn("keep_id",
        min($"doc_id").over(Window.partitionBy($"ch")))
      .filter($"doc_id" === $"keep_id")
      .select($"doc_id", $"lang", $"source", $"quality")
    val ids = s2.select($"doc_id")
    val livePairs = Dedup.sharedJaccardPairs(spark, dir)
      .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
    val s3 = s2.join(livePairs.select($"doc_b".as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    // sum, not avg: the sum of 4dp-rounded scores has ≤4 decimal places,
    // so round(·,4) can never land on a cross-engine rounding boundary
    // (an avg of a small group can — observed at sf0.01)
    s3.groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        round(sum($"quality"), 4).as("sum_quality"))
      .orderBy($"lang", $"source")
  }

  /** Component-aware corpus dedup — c1's step 3 drops EVERY pair
    * member that ever appears as a doc_b, which can delete a whole
    * near-dup family; the cluster-correct rule keeps exactly one
    * representative per connected component, and picks the BEST one:
    *
    *  1. quality-gate the corpus (≥ 0.5, as c1);
    *  2. assign every document its near-dup component ([[Dedup.componentAssignment]] —
    *     LSH pairs → min-label propagation, never all-pairs);
    *  3. per component, keep the highest-quality member (ties → lowest
    *     doc_id; both engines order on the same 4-dp score so the
    *     choice is deterministic);
    *  4. per-(lang, source) survivor counts + total quality.
    *
    * The per-component top-1 is a window over `cluster_id` — a
    * high-cardinality key (≈ one per document), so the rank
    * parallelizes with the cluster; no q9-style low-cardinality trap. */
  def c2ComponentDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gated = TextAnalysis.docFacts(spark, dir)
      .filter($"quality" >= 0.5)
      .select($"doc_id", $"lang", $"source", $"quality")
    val assigned = gated
      .join(Dedup.componentAssignment(spark, dir).select($"doc_id", $"cluster_id"),
        "doc_id")
    val w = Window.partitionBy($"cluster_id")
      .orderBy($"quality".desc, $"doc_id")
    assigned
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        round(sum($"quality"), 4).as("sum_quality"))
      .orderBy($"lang", $"source")
  }

  /** Token budget per packed training sequence (c3). Chosen so fixture
    * documents (≈54 tokens each) pack 4–5 per sequence, exercising the
    * overflow boundary; production would use the model context size. */
  val packBudget = 256L

  /** Number of pack buckets at fixture scale. In production this is
    * corpus_tokens / target_shard_tokens — parallelism grows WITH the
    * corpus, each bucket packs independently, and the doc_id modulus
    * keeps the assignment deterministic and oracle-replayable. */
  val packBuckets = 8L

  /** Greedy contiguous sequence packing — the pretraining-data step
    * that concatenates documents into fixed-token-budget training
    * sequences. Documents are split into [[packBuckets]] independent
    * buckets (mod on doc_id); within a bucket, docs are taken in
    * doc_id order and appended to the current sequence while the
    * running token total stays ≤ [[packBudget]]; a doc that would
    * overflow starts the next sequence (an oversized doc occupies one
    * alone).
    *
    * Spark shape: `groupByKey(bucket).flatMapSortedGroups(doc_id)` —
    * the sort rides the shuffle's sort machinery (secondary sort, no
    * in-memory group buffering), the per-group fold is a streaming
    * iterator, and buckets pack in parallel. This is the (d)-tier
    * `mapPartitions`-style escape hatch of the preference order:
    * justified here because a running *conditional-reset* fill is not
    * expressible as a window cumsum (sequence boundaries depend on the
    * fold state itself). Oracle: DuckDB recursive CTE replays the same
    * fold per bucket, hash-exact. */
  def c3PackSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(($"doc_id" % packBuckets).as("bucket"), $"doc_id",
        size(TextAnalysis.tokens($"text")).cast("long").as("toks"))
      .as[PackDoc]
    docs.groupByKey(_.bucket)
      .flatMapSortedGroups($"doc_id") { (_: Long, it: Iterator[PackDoc]) =>
        packFold(it, packBudget)
      }
      .toDF()
      .orderBy($"doc_id")
  }

  /** The pure greedy fold under [[c3PackSequences]]: consume docs in
    * order, appending to the current sequence while the running token
    * total stays within `budget`; an overflowing doc starts the next
    * sequence (an oversized doc occupies one alone). Streaming — O(1)
    * state, never buffers the group. Extracted so PipelineSpec can
    * property-test the invariants on arbitrary token lists. */
  def packFold(docs: Iterator[PackDoc], budget: Long): Iterator[PackedDoc] = {
    var seq = 0L
    var fill = 0L
    docs.map { d =>
      if (fill > 0 && fill + d.toks > budget) { seq += 1; fill = 0L }
      fill += d.toks
      PackedDoc(d.doc_id, d.bucket, seq, d.toks)
    }
  }

  /** Chunk size / stride in tokens for [[c4ChunkOverlap]]. 32/24 gives
    * 8-token overlap — the RAG/pretraining windowing shape — and
    * exercises the short-tail (docs under one chunk) at fixture scale. */
  val chunkSize = 32
  val chunkStride = 24

  /** Sliding-window document chunking with overlap — the
    * context-window preparation step (RAG indexing, long-doc
    * pretraining): split each document's token stream into
    * [[chunkSize]]-token windows advancing by [[chunkStride]] tokens
    * (so consecutive chunks share `chunkSize - chunkStride` tokens);
    * the final window may be shorter, and a doc at or under one chunk
    * yields exactly one.
    *
    * Scale shape: chunk count per doc is derived arithmetically from
    * the token count (no UDF, no per-token explode — the only Generate
    * is one row per CHUNK, ~n/stride, not per token), and everything
    * is a narrow map: no shuffle at all until the output sort. The
    * chunk text is digested to md5 so the result stays bounded and
    * hash-comparable; a production variant would carry the slice
    * itself. */
  def c4ChunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
      .withColumn("n", size($"toks"))
      // nch − 1 = ceil(max(n − C, 0) / S): last start index S·(nch−1)
      // is the smallest multiple of S with S·(nch−1) + C ≥ n
      .withColumn("last",
        ceil(greatest($"n" - chunkSize, lit(0)).cast("double") / chunkStride)
          .cast("int"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), $"last")).as("chunk_id"))
      .withColumn("chunk",
        slice($"toks", $"chunk_id" * chunkStride + 1, lit(chunkSize)))
      .select($"doc_id", $"chunk_id",
        size($"chunk").as("n_chunk_toks"),
        md5(concat_ws(" ", $"chunk")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** D65: near-dup-aware train/validation split. A random per-DOCUMENT
    * split leaks training data into validation whenever two near-dups
    * land on opposite sides — the canonical eval-contamination bug. The
    * group-stable rule assigns each whole near-dup COMPONENT to one
    * split, keyed by a deterministic md5 gate on the component id (the
    * t7/t12 no-RNG discipline): every member inherits its component's
    * side, so no near-dup pair ever straddles the boundary
    * (PipelineSpec pins the invariant). Output is the per-(split, lang)
    * census with component counts.
    *
    * Scale shape: reuses the session-cached component assignment (one
    * LSH + label-propagation pass shared with d8/c2); the split gate is
    * a codegen'd md5 projection — no shuffle beyond the census
    * aggregate. */
  def c5StableSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val split = when(
      conv(substring(md5($"cluster_id".cast("string")), 1, 4), 16, 10)
        .cast("long") % 10 < 8, "train").otherwise("val")
    Tables.documents(spark, dir).select($"doc_id", $"lang")
      .join(Dedup.componentAssignment(spark, dir)
        .select($"doc_id", $"cluster_id"), "doc_id")
      .withColumn("split", split)
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster_id").as("n_components"))
      .orderBy($"split", $"lang")
  }

  /** Per-source token quota for [[c6Mixture]]: base × tier where the
    * tier cycles 1..4 by source index — stands in for the hand-tuned
    * per-source sampling weights of a production mixture spec. */
  val mixtureBaseQuota = 400

  /** D75: training-mixture builder — the "data mixing" stage every
    * LLM corpus recipe ends with (Pile/LLaMA-style source weighting):
    * each source gets a TOKEN budget (weight × base), and documents
    * are admitted in a deterministic pseudo-random order (md5 of the
    * doc id — the t7/t12 no-RNG discipline) until the next document
    * would overflow the source's budget. Output is the admitted set
    * with per-source admission rank and running token total.
    *
    * Scale shape: the admission cumsum is a per-source window, but it
    * never sees the corpus — a parallel per-(source, doc_id mod 32)
    * row_number prune keeps at most quota rows per sub-partition first
    * (every document costs ≥ 1 token, so a document at per-source
    * position > quota can never be admitted — the t12 two-level
    * discipline), bounding the global window at 32 × quota rows per
    * source regardless of corpus size. Token counts ride the same
    * codegen'd projection; no join anywhere. */
  def c6Mixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"),
        md5($"doc_id".cast("string")).as("h"))
      .withColumn("quota",
        (lit(1) + regexp_extract($"source", "src(\\d+)", 1).cast("int") % 4)
          .cast("long") * mixtureBaseQuota)
    val local = Window.partitionBy($"source", pmod($"doc_id", lit(32)))
      .orderBy($"h", $"doc_id")
    val global = Window.partitionBy($"source").orderBy($"h", $"doc_id")
    docs
      .withColumn("lrk", row_number().over(local))
      .filter($"lrk" <= $"quota") // ≥1 token/doc ⇒ safe local prune
      .withColumn("cum_tokens", sum($"n_tokens").over(
        global.rowsBetween(Window.unboundedPreceding, 0)))
      .filter($"cum_tokens" <= $"quota")
      .withColumn("sel_rank", row_number().over(global))
      .select($"source", $"sel_rank", $"doc_id", $"n_tokens",
        $"cum_tokens", $"quota")
      .orderBy($"source", $"sel_rank")
  }

  /** Curriculum stage bands on the 4-dp quality score (stage 0 = easy/
    * cleanest first — the anti-curriculum variant just flips the CASE). */
  val currHi = 0.64
  val currLo = 0.55
  /** Salt fan-out for the shard-interleaved within-stage order. */
  val currSalts = 32

  /** D90: curriculum schedule builder — a TOTAL training order over the
    * corpus (quality-banded stages, cleanest stage first) computed
    * WITHOUT a global sort-rank: the exact global position of every
    * document is derived from a broadcast census.
    *
    * Order semantics: stage major (0 = high-quality band first), then
    * salt shard, then quality-desc within (stage, salt) — i.e. each
    * stage is consumed as [[currSalts]] interleaved deterministic
    * shards, which is exactly what a multi-worker data loader wants
    * (shard-local order, no cross-shard coordination).
    *
    * Scale shape: row_number runs per (stage, salt) (parallel, the
    * t12 phase-1 shape) — never over the corpus; the census is one partial-agg groupBy of ≤ 3·32 rows;
    * positions = broadcast-joined census prefix-offsets + local rank,
    * all exact integers. No corpus-sized window, no global sort in the
    * computation (the final orderBy is presentation-only and drops out
    * when the schedule is written partitioned-by-stage). */
  def c7Curriculum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = TextAnalysis.docFacts(spark, dir)
      .select($"doc_id", $"quality".as("q"))
      .withColumn("stage",
        when($"q" >= currHi, 0).when($"q" >= currLo, 1).otherwise(2))
      .withColumn("salt", pmod($"doc_id", lit(currSalts)).cast("int"))
    val local = Window.partitionBy($"stage", $"salt")
      .orderBy($"q".desc, $"doc_id")
    val ranked = scored.withColumn("lrk", row_number().over(local))
    val census = scored.groupBy($"stage", $"salt")
      .agg(count(lit(1)).as("n"))
    // prefix offsets over the ≤ 96-row census — bounded global window
    val wOff = Window.orderBy($"stage", $"salt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = census
      .withColumn("off", coalesce(sum($"n").over(wOff), lit(0L)))
      .select($"stage", $"salt", $"off")
    ranked.join(broadcast(offsets), Seq("stage", "salt"))
      .select(($"off" + $"lrk" - 1).as("pos"), $"stage", $"doc_id",
        $"q".as("quality"))
      .orderBy($"pos")
  }

  /** D115: dataset card — the one-row corpus summary a curated release
    * ships with (the "datasheet" numbers): sizes, language/source
    * breadth, exact-duplicate rate (d1's normalized-text hash), mean
    * rule-based quality (t2's score), and English share. A
    * composition capstone: every number is one of the pipeline's own
    * oracle-gated signals re-aggregated corpus-wide.
    *
    * Scale shape: ONE pass over documents computing per-doc columns,
    * then a single global aggregate (the three exact count-distincts
    * ride Spark's Expand — 3× the aggregate input, constant factor,
    * no extra scan). */
  def c8DatasetCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.docFacts(spark, dir)
      .withColumnRenamed("ch", "content_hash")
      .withColumnRenamed("nt", "n_tokens")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        countDistinct($"source").as("n_sources"),
        sum($"n_chars").as("total_chars"),
        sum($"n_tokens").as("total_tokens"),
        countDistinct($"content_hash").as("n_unique"),
        round(avg($"quality"), 4).as("mean_quality"),
        sum(($"lang" === "en").cast("long")).as("n_english"))
      .select($"n_docs", $"n_langs", $"n_sources", $"total_chars",
        $"total_tokens",
        round(lit(1.0) - $"n_unique".cast("double") / $"n_docs".cast("double"), 4)
          .as("dup_rate"),
        $"mean_quality",
        round($"n_english".cast("double") / $"n_docs".cast("double"), 4)
          .as("pct_english"))
  }

  // ---------------------------------------------------------------- c9

  /** Number of BPE merge rounds c9 learns. Fixed (not to-convergence)
    * so the oracle replays the identical rounds as chained CTEs — the
    * g3/g4 fixed-superstep discipline applied to tokenizer training. */
  val bpeMerges = 8

  /** D142: BPE tokenizer training — learn the first [[bpeMerges]]
    * byte-pair-encoding merges over the corpus word vocabulary
    * (Sennrich et al. 2016), the step every LLM data pipeline runs
    * before t14's vocab-encode can exist. Each round: count adjacent
    * symbol pairs weighted by word frequency, take the most frequent
    * (ties → lexicographic (lhs, rhs), identical on both engines), and
    * merge every non-overlapping left-to-right occurrence.
    *
    * Representation trick that makes the merge ENGINE-NEUTRAL: a
    * word's symbol sequence is kept as a bracketed string
    * `<h><e><l><l><o><_>` ('_' is the end-of-word symbol; corpus words
    * are [a-z]+ so '<', '>', '_' can never occur inside a symbol).
    * Merging pair (x, y) is then exactly
    * `replace(rep, '<x><y>', '<xy>')` — SQL `replace` scans left to
    * right over non-overlapping matches, which IS BPE's greedy merge
    * order (`<a><a><a>` + (a,a) → `<aa><a>`), and any match must align
    * to bracket boundaries because '<' only opens a symbol. Both
    * engines run the same replace; the spec replays the merge with an
    * independent list-walk implementation.
    *
    * Scale shape: the only corpus-sized work is ONE tokenize +
    * partial-aggregated word count; all [[bpeMerges]] rounds run over
    * the DISTINCT word vocabulary (Heaps-law sublinear in corpus
    * size), each round one vocab-sized explode + map-side-combined
    * pair count, with only the single best (pair, count) row ever
    * collected to the driver. `localCheckpoint` per round truncates
    * the 8-deep replace lineage (g1 discipline). */
  def c9BpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrace(spark, dir)._2
      .toDF("round", "lhs", "rhs", "merged", "pair_count")
      .orderBy($"round")
  }

  /** The c9 training loop, shared with [[c19BpeApply]]: returns the
    * FINAL (word, n, rep) vocabulary after all [[bpeMerges]] rounds
    * plus the merge trace. The only corpus-sized work is the one
    * word-count pass; the loop runs over the distinct vocabulary. */
  private[operators] def bpeTrace(spark: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) =
    bpeTraceOn(Tables.documents(spark, dir))

  /** [[bpeTrace]] over any frame with a `text` column — the entry the
    * GraftBPE Estimator fits through (same loop, user data). */
  private[graft] def bpeTraceOn(docs: DataFrame)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = docs
      .select(explode(split(lower($"text"), " ")).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
      .groupBy($"word").agg(count(lit(1)).as("n"))
      .withColumn("rep",
        concat(lit("<"), array_join(split($"word", ""), "><"), lit("><_>")))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= bpeMerges && !exhausted) {
      val bestRows = vocab
        .select($"n", expr("""explode(transform(
            sequence(1, size(split(substring(rep, 2, length(rep) - 2), '><')) - 1),
            i -> struct(
              element_at(split(substring(rep, 2, length(rep) - 2), '><'), i) AS x,
              element_at(split(substring(rep, 2, length(rep) - 2), '><'), i + 1) AS y)))
          """).as("p"))
        .groupBy($"p.x".as("x"), $"p.y".as("y"))
        .agg(sum($"n").as("cnt"))
        .orderBy($"cnt".desc, $"x", $"y")
        .limit(1).collect()
      if (bestRows.isEmpty) {
        // no adjacent symbol pair anywhere (empty vocabulary, or every
        // word already fused to a single symbol): training is DONE —
        // stop merging instead of indexing into an empty census. The
        // GraftBPE Estimator runs this loop over arbitrary user data,
        // so this is a reachable end state, not an error.
        exhausted = true
      } else {
        val best = bestRows(0)
        val (x, y, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
        merges += ((r, x, y, x + y, cnt))
        // localCheckpoint is EAGER, so the new generation's blocks are
        // fully materialized before the previous generation's are
        // dropped — only the newest vocab frame is ever live.
        // (Round-14 bench audit: retaining all 8 checkpoint
        // generations held ~8× the vocabulary in block storage until
        // an eventual GC, cache pressure the rest of the suite paid —
        // Dataset.unpersist can't release checkpoint blocks, hence
        // the shim.)
        val prev = vocab
        vocab = vocab
          .withColumn("rep",
            expr(s"replace(rep, '<$x><$y>', '<$x$y>')"))
          .localCheckpoint()
        org.apache.spark.sql.graftshim.StreamingShim
          .unpersistLocalCheckpoint(prev)
        r += 1
      }
    }
    (vocab, merges.toSeq)
  }

  /** D225: BPE tokenizer APPLICATION — encode the corpus with the
    * merges c9 just learned and report, per source, the word count,
    * pre-BPE character mass (end-of-word marker included) and
    * post-BPE symbol count, with the chars-per-symbol compression
    * ratio: the readout that decides whether a learned tokenizer is
    * WORTH shipping, and the per-source drift view (a source whose
    * compression lags trained merges is out-of-domain for the
    * tokenizer — the tokenizer-side twin of t24's vocabulary-coverage
    * curve). Training (c9) without application is half a tokenizer.
    *
    * Scale shape: encoding happens on the DISTINCT vocabulary (the
    * merges chain is word-type-sized, Heaps-law sublinear), never the
    * token stream; the corpus contributes one (source, word)
    * partial-aggregated census that joins the encoded vocabulary on
    * the word key (t6 rule: vocabulary-sized shuffle join, no
    * broadcast hint). Counts are exact integers; the ratio is one
    * 4-dp division. */
  def c19BpeApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = bpeTrace(spark, dir)._1
      .withColumn("n_sym",
        size(expr("split(substring(rep, 2, length(rep) - 2), '><')"))
          .cast("long"))
      .select($"word", $"n_sym")
    val ws = Tables.documents(spark, dir)
      .select($"source", explode(split(lower($"text"), " ")).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
      .groupBy($"source", $"word").agg(count(lit(1)).as("occ"))
    ws.join(vocab, "word")
      .groupBy($"source")
      .agg(sum($"occ").as("n_words"),
        sum($"occ" * (length($"word") + lit(1))).as("n_chars"),
        sum($"occ" * $"n_sym").as("n_bpe_tokens"))
      .select($"source", $"n_words", $"n_chars", $"n_bpe_tokens",
        round($"n_chars".cast("double") / $"n_bpe_tokens".cast("double"), 4)
          .as("compression"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- c10

  /** D154: temperature-scaled mixture weights — per source, the raw
    * token share and the α = 0.5 temperature share
    * wᵢ = nᵢ^α / Σ nⱼ^α, the standard multilingual/multi-source
    * rebalancing rule (upweight small sources, α→0 uniform, α=1 raw;
    * the WEIGHT-side companion of c6's budget-side mixture builder).
    *
    * Exactness: nᵢ^0.5 is `sqrt` (IEEE-correctly-rounded, identical
    * both engines — never `pow`, the t19 rule); the Σ√n fold rides an
    * ORDERED running frame over the source census (bounded rows,
    * source order) so the double summation order is pinned (q75
    * argument); Σn is an exact integer. Shares and the boost ratio
    * are fixed IEEE trees, 4-dp.
    *
    * Scale shape: one tokenize + partial-aggregated source census
    * (≤ |sources| rows), then window arithmetic on that census. */
  def c10MixtureTemperature(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.documents(spark, dir)
      .select($"source", size(split(lower($"text"), " ")).cast("long").as("nt"))
      .groupBy($"source").agg(sum($"nt").as("n_tokens"))
    val wCum = Window.orderBy($"source")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    census
      .withColumn("tot", sum($"n_tokens").over(wAll))
      .withColumn("run_sqrt", sum(sqrt($"n_tokens".cast("double"))).over(wCum))
      .withColumn("tot_sqrt", max($"run_sqrt").over(wAll))
      .select($"source", $"n_tokens",
        round(expr("CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)"), 4)
          .as("raw_share"),
        round(expr("sqrt(CAST(n_tokens AS DOUBLE)) / tot_sqrt"), 4)
          .as("temp_share"),
        round(expr("""(sqrt(CAST(n_tokens AS DOUBLE)) / tot_sqrt) /
            (CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE))"""), 4)
          .as("boost"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- c11

  /** D167: cleaning-funnel observability — document and token
    * survival through each stage of the c1 chain (raw → quality gate
    * → exact dedup → near-dup removal), with retained fractions
    * against the raw corpus: the per-stage loss report every corpus
    * curation run ships next to its dataset card (c8 describes the
    * OUTPUT; c11 explains what the pipeline DID to get there).
    *
    * Exactness: doc/token counts are exact integers; retained
    * fractions are one division each, 4-dp. Stages reuse c1's exact
    * logic (same quality gate, same content-hash keeper rule, same
    * d5 near-dup drop), so the funnel is definitionally consistent
    * with the oracle-gated c1/c2 outputs.
    *
    * Scale shape: each stage is the c1 plan plus a one-row rollup;
    * the stage frames chain (no recomputation of earlier stages —
    * each adds one operator to the previous). */
  def c11StageFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s0 = TextAnalysis.docFacts(spark, dir)
    val s1 = s0.filter($"quality" >= 0.5)
    val s2 = s1
      .withColumn("keep_id",
        min($"doc_id").over(Window.partitionBy($"ch")))
      .filter($"doc_id" === $"keep_id")
      .select($"doc_id", $"nt")
      .scopedPersist()
    val ids = s2.select($"doc_id")
    val livePairs = Dedup.sharedJaccardPairs(spark, dir)
      .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
    val s3 = s2.join(livePairs.select($"doc_b".as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    def stageAgg(df: DataFrame, stage: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"))
        .select(lit(stage).as("stage"), lit(name).as("stage_name"),
          $"n_docs", $"n_tokens")
    val stages = stageAgg(s0, 0, "raw")
      .unionByName(stageAgg(s1, 1, "quality_gate"))
      .unionByName(stageAgg(s2, 2, "exact_dedup"))
      .unionByName(stageAgg(s3, 3, "near_dedup"))
    val raw = stageAgg(s0, 0, "raw")
      .select($"n_docs".as("rd"), $"n_tokens".as("rt"))
    stages.crossJoin(broadcast(raw))
      .select($"stage", $"stage_name", $"n_docs", $"n_tokens",
        round(expr("CAST(n_docs AS DOUBLE) / CAST(rd AS DOUBLE)"), 4)
          .as("docs_retained"),
        round(expr("CAST(n_tokens AS DOUBLE) / CAST(rt AS DOUBLE)"), 4)
          .as("tokens_retained"))
      .orderBy($"stage")
  }

  /** D180: dedup-aware mixture accounting — per source, the RAW token
    * supply next to the EFFECTIVE (dedup-corrected) supply, counting
    * each distinct content once at its canonical (lowest-id) copy: the
    * table a data-mixing pass must read INSTEAD of raw counts, because
    * a source that is 40% self-copies contributes 40% fewer unique
    * training tokens than its size claims (and its mixture share
    * should shrink accordingly — share_raw vs share_eff shows exactly
    * how much).
    *
    * Exactness + scale: canonical attribution keeps every count an
    * integer (no fractional 1/n_copies splits); one content-hash
    * census (the d16 pass), one per-source conditional-sum aggregate,
    * and a broadcast ONE-row totals frame for the shares (the g8/q43
    * audited cross-join shape). */
  def c12DedupMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashed = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"),
        md5(regexp_replace(trim(lower($"text")), "\\s+", " ")).as("ch"))
    val census = hashed.groupBy($"ch").agg(min($"doc_id").as("keep_id"))
    val per = hashed.join(census, "ch")
      .withColumn("canon", ($"doc_id" === $"keep_id").cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"canon").as("n_canonical"),
        sum($"n_tokens").as("raw_tokens"),
        sum($"canon" * $"n_tokens").as("eff_tokens"))
    val tot = per.agg(sum($"raw_tokens").as("traw"),
      sum($"eff_tokens").as("teff"))
    per.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"n_canonical",
        $"raw_tokens", $"eff_tokens",
        round(lit(1.0) - $"eff_tokens".cast("double")
          / $"raw_tokens".cast("double"), 4).as("dup_overhead"),
        round($"raw_tokens".cast("double") / $"traw".cast("double"), 4)
          .as("share_raw"),
        round($"eff_tokens".cast("double") / $"teff".cast("double"), 4)
          .as("share_eff"))
      .orderBy($"source")
  }

  /** c13's mean-bigram-NLL quality ceiling: documents whose mean
    * token surprisal under the corpus bigram LM exceeds this are
    * dropped. Sits at ≈ the fixture's p90 — a data-independent tuned
    * constant (the CCNet convention: perplexity buckets are fixed by
    * the released model, not recomputed per shard), so the gate is
    * O(1) state and identical on every engine. */
  val pplNllCutoff = 3.44

  /** D186: perplexity-gated quality filter — the CCNet-style pass a
    * pretraining pipeline runs between cleaning (c1) and mixing (c6):
    * score every document by MEAN bigram surprisal under t18's
    * add-one-smoothed corpus LM, drop documents above
    * [[pplNllCutoff]], and report the per-source funnel (docs and
    * token supply kept, boundary scores). A source whose kept_frac
    * craters is mostly improbable word salad — exactly what the gate
    * exists to catch before it pollutes the mixture.
    *
    * Determinism: per-doc mean NLL is t18's hash-green 4-dp sum
    * divided once by the exact bigram count — an identical double on
    * both engines, so the threshold comparison and the min/max
    * boundary scores (order-free aggregates over identical doubles)
    * replay exactly. Documents with < 2 tokens are unscorable and
    * fail CLOSED (dropped) via the left join's NULL.
    *
    * Scale shape: t18's vocabulary-sized count joins (t6 shuffle-join
    * rule) + ONE doc-keyed join + ONE per-source rollup — no new
    * corpus passes beyond the scoring chain itself. */
  def c13PplFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        size(TextAnalysis.tokens($"text")).cast("long").as("nt"))
    val sc = TextAnalysis.bigramNllScores(spark, dir)
      .select($"doc_id", ($"sum_nll" / $"n_bigrams".cast("double")).as("m"))
    docs.join(sc, Seq("doc_id"), "left")
      .withColumn("kept", $"m".isNotNull && $"m" <= pplNllCutoff)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"kept".cast("long")).as("n_kept"),
        sum($"nt").as("raw_tokens"),
        sum(when($"kept", $"nt").otherwise(0L)).as("kept_tokens"),
        round(max(when($"kept", $"m")), 4).as("max_kept_nll"),
        round(min(when(!$"kept", $"m")), 4).as("min_dropped_nll"))
      .withColumn("kept_frac",
        round($"n_kept".cast("double") / $"n_docs".cast("double"), 4))
      .select($"source", $"n_docs", $"n_kept", $"kept_frac",
        $"raw_tokens", $"kept_tokens", $"max_kept_nll", $"min_dropped_nll")
      .orderBy($"source")
  }

  /** c15 training-token budget (fixture-scale constant; production =
    * the run's total token budget) and the repeat-epoch ceiling above
    * which a source is flagged oversubscribed (the "4 epochs of the
    * same data starts to hurt" rule of thumb). */
  val mixPlanBudget = 500000L
  val mixPlanMaxEpochs = 4.0

  /** D206: mixture PLANNING table — c10's √-temperature shares
    * applied to a fixed training budget, accounted against c12's
    * DEDUP-EFFECTIVE supply: per source, the allocated tokens, the
    * implied repeat epochs (allocation / effective supply), and an
    * oversubscription flag when the plan would cycle a source more
    * than [[mixPlanMaxEpochs]] times. This is the artifact a mixture
    * designer actually signs off on — c10 says what the shares should
    * be, c12 says what each source can really supply, THIS says
    * whether the plan is feasible.
    *
    * Exactness: raw/effective token counts are exact integers (the
    * c12 canonical attribution); the √-share fold rides the c10
    * ordered frame (pinned double order); allocation is one floor of
    * an identical double; epochs one 4-dp division.
    *
    * Scale shape: the c12 hash census + ONE source-census pass with
    * window arithmetic on ≤ |sources| rows. */
  def c15MixPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashed = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"),
        md5(regexp_replace(trim(lower($"text")), "\\s+", " ")).as("ch"))
    val census = hashed.groupBy($"ch").agg(min($"doc_id").as("keep_id"))
    val per = hashed.join(census, "ch")
      .withColumn("canon", ($"doc_id" === $"keep_id").cast("long"))
      .groupBy($"source")
      .agg(sum($"n_tokens").as("raw_tokens"),
        sum($"canon" * $"n_tokens").as("eff_tokens"))
    val wCum = Window.orderBy($"source")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    per
      .withColumn("run_sqrt", sum(sqrt($"raw_tokens".cast("double"))).over(wCum))
      .withColumn("tot_sqrt", max($"run_sqrt").over(wAll))
      .withColumn("share", expr("sqrt(CAST(raw_tokens AS DOUBLE)) / tot_sqrt"))
      .withColumn("alloc_tokens",
        floor($"share" * lit(mixPlanBudget.toDouble)).cast("long"))
      .select($"source", $"raw_tokens", $"eff_tokens",
        round($"share", 4).as("temp_share"), $"alloc_tokens",
        round(expr("CAST(alloc_tokens AS DOUBLE) / CAST(eff_tokens AS DOUBLE)"), 4)
          .as("epochs"),
        (expr("CAST(alloc_tokens AS DOUBLE) / CAST(eff_tokens AS DOUBLE)")
          > mixPlanMaxEpochs).cast("int").as("over_cap"))
      .orderBy($"source")
  }

  /** D211: shard checksum manifest — per packed training sequence
    * (c3's bins), the document count, token supply, and an ORDER-FREE
    * content fingerprint (sum of each member's 60-bit content-hash
    * value, mod 1e18): the integrity artifact shipped WITH the shards
    * so a consumer can verify "the shard I loaded is the shard you
    * packed" without re-reading the corpus — and re-packing after any
    * upstream change shows up as a fingerprint diff, not a silent
    * drift.
    *
    * Exactness: the fingerprint is commutative integer addition of
    * md5-derived values (DECIMAL(38,0)/HUGEINT, one pmod) — immune to
    * partitioning and order; counts/tokens exact.
    *
    * Scale shape: c3's streaming pack fold + ONE doc-keyed join to
    * the hash projection + a per-(bucket, seq) partial-aggregated
    * rollup. */
  def c16ChecksumManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(($"doc_id" % packBuckets).as("bucket"), $"doc_id",
        size(TextAnalysis.tokens($"text")).cast("long").as("toks"))
      .as[PackDoc]
    val packed = docs.groupByKey(_.bucket)
      .flatMapSortedGroups($"doc_id") { (_: Long, it: Iterator[PackDoc]) =>
        packFold(it, packBudget)
      }
      .toDF()
    val hashes = Tables.documents(spark, dir)
      .select($"doc_id",
        conv(substring(md5(regexp_replace(trim(lower($"text")),
          "\\s+", " ")), 1, 15), 16, 10).cast("long").as("h"))
    packed.join(hashes, "doc_id")
      .groupBy($"bucket", $"seq_id".as("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"),
        pmod(sum($"h".cast("decimal(38,0)")), lit(1000000000000000000L))
          .cast("long").as("fingerprint"))
      .orderBy($"bucket", $"shard_id")
  }

  /** c17 training-token budget: deliberately SMALLER than c15's
    * planning budget so the √-temperature draw actually trims sources
    * at fixture scale (spec-pinned); production = the run's budget. */
  val pretrainBudget = 20000L

  /** D214: the FULL pretraining-data run in one composition — every
    * stage a pipeline engineer signs off on, chained on one session
    * and gated end-to-end by the final shard manifest (the way c1
    * gates cleaning):
    *
    *  1. quality gate (t2's score ≥ 0.5 — c1 stage 1);
    *  2. exact dedup (min doc_id per normalized-content hash — d1);
    *  3. near dedup (drop the doc_b of every surviving d5
    *     Jaccard ≥ 0.5 LSH pair — c1 stage 3);
    *  4. SEMANTIC dedup (drop a survivor whose d14 top
    *     embedding-cosine witness also survived stage 3 — SemDeDup's
    *     cluster-local rule on the engine's own quantized-Lloyd fit);
    *  5. decontaminate (withhold the d7 eval split entirely AND every
    *     train doc sharing ≥ 2 rare test 3-grams with it);
    *  6. mix (√-temperature shares over the SURVIVING per-source
    *     token supply, allocated against [[pretrainBudget]]; the draw
    *     is c6's salted-local-prune + per-source hash-ordered token
    *     prefix — deterministic, no RNG, no corpus-wide window);
    *  7. pack (c3's per-bucket streaming first-fit fold at
    *     [[packBudget]] tokens);
    *  8. manifest (c16's order-free content fingerprint per shard) —
    *     the artifact the run SHIPS, and the oracle-verified output.
    *
    * Every upstream operator is reused verbatim (d5's shared shingle
    * frames, d14's fitted centroids, d7's decontamination pairs), so
    * the whole chain costs one pass over each already-cached
    * intermediate; the DuckDB oracle replays all eight stages as one
    * CTE chain ending in the identical manifest.
    *
    * Scale shape: stages 1–5 are narrow filters and bucketed joins
    * (never all-pairs); stage 6's windows are bounded by the salt
    * prune (each cell caps at alloc rows, and alloc ≤ budget — a
    * constant, not a corpus fraction); stage 7 is the c3 fold
    * (parallelism = bucket count, production sets buckets ∝ corpus);
    * stage 8 a partial-aggregated rollup. */
  def c17PretrainRun(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // stages 1+2: quality gate, then exact dedup among survivors
    val qual = TextAnalysis.docFacts(spark, dir)
      .filter($"quality" >= 0.5)
      .select($"doc_id", $"source", $"nt", $"ch")
    val g2 = qual
      .withColumn("keep_id", min($"doc_id").over(Window.partitionBy($"ch")))
      .filter($"doc_id" === $"keep_id")
      .select($"doc_id", $"source", $"nt")
      .scopedPersist() // near-dup semi-joins + stage-4 carry
    // stage 3: near dedup (c1's single-pass drop-doc_b rule)
    val ids2 = g2.select($"doc_id")
    val livePairs = Dedup.jaccardPairsBuild(spark, dir)
      .join(ids2.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(ids2.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
    val g3 = g2.join(livePairs.select($"doc_b".as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .scopedPersist() // semantic witness probe + stage-5 carry
    // stage 4: semantic dedup — embeddings are doc-aligned (vec_id =
    // doc_id); a survivor drops when its top semantic witness survived
    val semDrop = KMeans.d14SemDedup(spark, dir)
      .select($"vec_id".as("doc_id"), $"dup_of")
      .join(g3.select($"doc_id".as("dup_of")), Seq("dup_of"), "left_semi")
      .select($"doc_id")
    val g4 = g3.join(semDrop, Seq("doc_id"), "left_anti")
    // stage 5: decontamination — the eval split itself plus every
    // train doc d7 flags as sharing rare test n-grams
    val contaminated = Dedup.d7Decontaminate(spark, dir)
      .select($"train_id".as("doc_id")).distinct()
    // nt > 0 enforced HERE (and in the oracle's g5 CTE): the salted
    // local prune below (lrk <= alloc_tokens) is equivalent to the
    // cumulative-token draw ONLY when every surviving doc carries at
    // least one token — a 0-token doc costs nothing against the cum
    // budget but does consume an lrk slot. Filtering it out (it
    // contributes no tokens to supply either) makes the equivalence
    // an invariant instead of a fixture property.
    val g5 = g4.filter($"doc_id" % Dedup.testModulus =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .filter($"nt" > 0)
      .scopedPersist() // supply census + draw
    // stage 6: √-temperature allocation over surviving supply (c15's
    // pinned-order share fold), then the c6-style deterministic draw
    val per = g5.groupBy($"source").agg(sum($"nt").as("supply"))
    val wCum = Window.orderBy($"source")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val alloc = per
      .withColumn("run_sqrt", sum(sqrt($"supply".cast("double"))).over(wCum))
      .withColumn("tot_sqrt", max($"run_sqrt").over(Window.partitionBy()))
      .withColumn("alloc_tokens",
        floor(expr("sqrt(CAST(supply AS DOUBLE)) / tot_sqrt")
          * lit(pretrainBudget.toDouble)).cast("long"))
      .select($"source", $"alloc_tokens")
    val local = Window.partitionBy($"source", pmod($"doc_id", lit(32)))
      .orderBy($"h", $"doc_id")
    val global = Window.partitionBy($"source").orderBy($"h", $"doc_id")
    val drawn = g5
      .withColumn("h", md5($"doc_id".cast("string")))
      .join(broadcast(alloc), "source")
      .withColumn("lrk", row_number().over(local))
      .filter($"lrk" <= $"alloc_tokens") // ≥1 token/doc ⇒ safe local prune
      .withColumn("cum", sum($"nt").over(
        global.rowsBetween(Window.unboundedPreceding, 0)))
      .filter($"cum" <= $"alloc_tokens")
    // stages 7+8: pack the drawn docs, fingerprint the shards
    val packed = drawn
      .select(($"doc_id" % packBuckets).as("bucket"), $"doc_id",
        $"nt".as("toks"))
      .as[PackDoc]
      .groupByKey(_.bucket)
      .flatMapSortedGroups($"doc_id") { (_: Long, it: Iterator[PackDoc]) =>
        packFold(it, packBudget)
      }
      .toDF()
    val hashes = TextAnalysis.docFacts(spark, dir)
      .select($"doc_id",
        conv(substring($"ch", 1, 15), 16, 10).cast("long").as("hv"))
    packed.join(hashes, "doc_id")
      .groupBy($"bucket", $"seq_id".as("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"),
        pmod(sum($"hv".cast("decimal(38,0)")), lit(1000000000000000000L))
          .cast("long").as("fingerprint"))
      .orderBy($"bucket", $"shard_id")
  }

  /** Snapshot-membership moduli for [[c20SnapshotDiff]]: the previous
    * crawl keeps ids % 11 ≠ 0, the current crawl ids % 7 ≠ 0, and the
    * current crawl's extractor output changed for ids % 5 = 0. */
  val snapPrevMod = 11
  val snapCurMod = 7
  val snapMutMod = 5

  /** Scratch path for c20's versioned snapshot table: stable per
    * (application, input dir) so repeated runs inside one app (Bench
    * warm+timed) rebuild the same two versions deterministically,
    * while the applicationId scope keeps concurrent sessions — or two
    * users sharing a host's tmpdir — from deleting each other's
    * in-flight tables. */
  private def snapScratchPath(spark: SparkSession, dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val app = spark.sparkContext.applicationId
    s"${sys.props("java.io.tmpdir")}/graft_snapshot_c20_${app}_$h"
  }

  /** D240: corpus snapshot diff — the crawl-over-crawl delta census a
    * pipeline operator reads before re-running downstream stages: per
    * source, how many documents were ADDED (in the current snapshot
    * only), REMOVED (previous only), CHANGED (both, but the extracted
    * text differs — re-crawl or extractor change), UNCHANGED, and the
    * churn rate over the union. Tells you whether an incremental run
    * (d11's pattern) suffices or the source needs a full rebuild.
    * Snapshots are simulated by the id-modulus membership rule above
    * (the s21/s22 old-vs-new convention); the "changed" extraction is
    * a deterministic first-token drop.
    *
    * Since round 12 the two snapshots are TWO REAL COMMITTED VERSIONS
    * of one [[graft.sources.SnapshotTable]] (D249): the query writes
    * crawl N as version 1 and crawl N+1 as an overwriting version 2,
    * then time-travel-reads BOTH sides of the diff from the same table
    * path — the production shape, where the previous crawl is history
    * you query, not a frame you kept around.
    *
    * Scale shape: each snapshot reduces to (doc_id, source, 16-byte
    * md5) BEFORE the diff, so TEXT NEVER SHUFFLES (the d1 digest
    * discipline); the diff is ONE id-keyed full-outer join of digest
    * frames + a partial-aggregated per-source census (≤ #sources
    * rows). The snapshot writes are one linear pass each. */
  /** Build the shared two-version scratch table (crawl N as version 1,
    * crawl N+1 — membership AND mutation rules above — as an
    * overwriting version 2) and return its path. ONE definition so
    * c20's diff and c22's delta are the same snapshots by
    * construction, not by parallel edits. */
  private def buildSnapshotPair(spark: SparkSession, dir: String,
      suffix: String): String = {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"text")
    val table = snapScratchPath(spark, dir) + suffix
    val tPath = new org.apache.hadoop.fs.Path(table)
    val fs = tPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tPath, true)
    graft.sources.SnapshotTable.writeSnapshot(
      docs.filter($"doc_id" % snapPrevMod =!= 0), table)
    graft.sources.SnapshotTable.writeSnapshot(
      docs.filter($"doc_id" % snapCurMod =!= 0)
        .select($"doc_id", $"source",
          when($"doc_id" % snapMutMod === 0,
              regexp_replace($"text", "^[^ ]+ ", ""))
            .otherwise($"text").as("text")), table)
    table
  }

  def c20SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = buildSnapshotPair(spark, dir, "")
    // both sides read through the registered batch format (D288) —
    // the query twin of SinksSpec's format ≡ readSnapshot gate
    def asOf(v: Int) = spark.read.format("graft-snapshot")
      .option("versionAsOf", v.toString).load(table)
    val prev = asOf(1)
      .select($"doc_id".as("ida"), $"source".as("sa"), md5($"text").as("ha"))
    val cur = asOf(2)
      .select($"doc_id".as("idb"), $"source".as("sb"), md5($"text").as("hb"))
    prev.join(cur, $"ida" === $"idb", "full_outer")
      .select(coalesce($"sa", $"sb").as("source"),
        when($"ida".isNull, "added")
          .when($"idb".isNull, "removed")
          .when($"ha" =!= $"hb", "changed")
          .otherwise("unchanged").as("cls"))
      .groupBy($"source")
      .agg(sum(when($"cls" === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when($"cls" === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when($"cls" === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when($"cls" === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"),
        count(lit(1)).as("n_union"))
      .select($"source", $"n_added", $"n_removed", $"n_changed",
        $"n_unchanged",
        round(($"n_added" + $"n_removed" + $"n_changed").cast("double")
          / $"n_union".cast("double"), 4).as("churn"))
      .orderBy($"source")
  }

  /** D268: incremental corpus refresh — the c20 decision ACTED ON:
    * re-process ONLY the delta (docs added or text-changed between
    * the two committed snapshot versions) through the c1-style
    * quality gate, and report per source what the refresh costs and
    * yields: delta size, quality pass/fail split, tokens the
    * increment contributes, and the delta's share of the current
    * snapshot. At 100 TB this is THE operating mode — a crawl refresh
    * touches a few percent of the corpus, and re-running the full
    * clean/dedup (c17) over the other 97% is the cost this operator
    * exists to avoid (d11's incremental-ingest argument applied to
    * the pipeline itself).
    *
    * Scale shape: both snapshot sides reduce to (doc_id, digest)
    * BEFORE the diff (text rides only on the CURRENT side, which must
    * be read anyway to process the delta); the diff is one id-keyed
    * left join; the quality gate is a pure projection over the
    * delta-sized frame; two partial-aggregated per-source censuses.
    * The snapshot writes are the c20 scratch-table build (real
    * committed versions, D249). */
  def c22IncrementalRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = buildSnapshotPair(spark, dir, "_c22")
    val prev = graft.sources.SnapshotTable.readSnapshot(spark, table, 1)
      .select($"doc_id".as("ida"), md5($"text").as("ha"))
    val cur = graft.sources.SnapshotTable.readSnapshot(spark, table, 2)
      .scopedPersist()
    val delta = cur.join(prev, cur("doc_id") === prev("ida"), "left")
      .filter($"ida".isNull || md5($"text") =!= $"ha")
      .select($"source", $"text")
    val gated = delta
      .withColumn("quality", TextAnalysis.qualityScore($"text"))
      .withColumn("toks", size(TextAnalysis.tokens($"text")).cast("long"))
      .withColumn("pass", ($"quality" >= 0.5).cast("long"))
    val v2 = cur.groupBy($"source").agg(count(lit(1)).as("n_v2"))
    gated.groupBy($"source")
      .agg(count(lit(1)).as("n_delta"), sum($"pass").as("n_pass"),
        (count(lit(1)) - sum($"pass")).as("n_fail"),
        sum(when($"pass" === 1L, $"toks").otherwise(0L)).as("delta_tokens"))
      .join(v2, Seq("source"))
      .select($"source", $"n_delta", $"n_pass", $"n_fail", $"delta_tokens",
        round($"n_delta".cast("double") / $"n_v2".cast("double"), 4)
          .as("delta_share"))
      .orderBy($"source")
  }

  /** Cells in the c21 lifecycle index (the s6/s21/s22 constant). */
  val lifecycleK = 16

  /** D242: ANN index lifecycle — the s-family's operational story as
    * ONE composition (the c17 pattern applied to index maintenance):
    * stage 1 TRAINS the coarse quantizer on the old corpus and reads
    * its occupancy balance; stage 2 INGESTS the new vectors into the
    * old cells without retraining (the s21/s22 move) and reads the
    * occupancy drift it caused; stage 3 RETRAINS on the full corpus
    * and reads how much of the occupancy histogram the retrain
    * actually moved — the number that tells the operator whether the
    * retrain was worth invalidating every stored cell assignment.
    * Per stage: vectors indexed, non-empty cells, max cell share, and
    * the stage's drift statistic (stage 2: max per-cell share change
    * vs the trained baseline — same centroids, so cells align; stage
    * 3: total-variation distance between the SORTED occupancy
    * histograms — alignment-free, since retrained cell ids don't
    * correspond).
    *
    * Determinism: both trainers are the s6 quantized-Lloyd replay;
    * every statistic is integer counts (share arithmetic stays in
    * BIGINT cross-products — |nc·n_old − no·n_all| — until one final
    * 4-dp division), so the DuckDB twin (two prefixed Lloyd CTE
    * chains) hash-matches.
    *
    * Scale shape: two bounded `ivfTrainSample` collects (the audited
    * s6 shape), THREE codegen'd assignment passes over the corpus,
    * each reduced map-side to a ≤k-row census; all lifecycle math runs
    * on those ≤k-row frames driver-side. */
  def c21IndexLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val old = emb.filter($"vec_id" % Similarity.ingestMod =!= 0)
    // lifecycleK == 16, the s6 codebook family: reuse the session
    // memo (round-15 — same deterministic trainer, same inputs)
    require(lifecycleK == 16, "lifecycle codebooks reuse the k=16 memo")
    val centsOld = Similarity.oldCents(spark, dir)
    val centsNew = Similarity.fullCents(spark, dir)
    def census(df: DataFrame, cents: Array[Array[Double]]): Map[Int, Long] =
      df.select(Similarity.nearestCentroidCol($"embedding", cents)
          .as("c"))
        .groupBy($"c").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val oldC = census(old, centsOld)
    val combC = census(emb, centsOld)
    val retC = census(emb, centsNew)
    val nOld = oldC.values.sum
    val nAll = combC.values.sum
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def maxShare(c: Map[Int, Long], tot: Long) =
      r4(c.values.max.toDouble / tot.toDouble)
    // stage 2: same centroids, so cells align — max per-cell share
    // change, kept in BIGINT cross-products until the one division
    val drift2 = r4((0 until lifecycleK).map(i =>
        math.abs(combC.getOrElse(i, 0L) * nOld - oldC.getOrElse(i, 0L) * nAll))
      .max.toDouble / (nOld.toDouble * nAll.toDouble))
    // stage 3: retrained ids don't correspond — TV distance between
    // the SORTED occupancy count vectors (same total, exact integers)
    def sortedCounts(c: Map[Int, Long]) =
      (0 until lifecycleK).map(i => c.getOrElse(i, 0L)).sorted.reverse
    val tv = r4(0.5 * sortedCounts(combC).zip(sortedCounts(retC))
      .map { case (a, b) => math.abs(a - b) }.sum.toDouble / nAll.toDouble)
    Seq(
      ("1_train", nOld, oldC.size.toLong, maxShare(oldC, nOld), 0.0),
      ("2_ingest", nAll, combC.size.toLong, maxShare(combC, nAll), drift2),
      ("3_retrain", nAll, retC.size.toLong, maxShare(retC, nAll), tv))
      .toDF("stage", "n_vecs", "n_cells", "max_share", "drift")
  }

  /** D291/D292: the graft-snapshot WRITE path + date-partitioned
    * pruned reads, oracle-gated — the round-14 asks #1 and #7 landed
    * as one query. Builds a MONTH-partitioned snapshot table from
    * orders entirely through `df.write.format("graft-snapshot")`
    * (pre-1999 months as the initial overwrite with an explicit
    * layout, 1999+ as a plain append that INHERITS it), then reads
    * 1996 back through the format with a plain
    * `WHERE m BETWEEN DATE…` — which prunes to the 12 intersecting
    * month partitions from the manifest's recorded ISO date stats,
    * zero footer reads (SinksSpec gates the planned-file reduction;
    * this query gates the VALUES against DuckDB re-aggregating
    * orders directly, so a pruning bug that dropped or duplicated a
    * file cannot hash-match).
    *
    * Scale shape: the writes are two linear passes landing one file
    * per month value; the read plans 12 files out of ~80+ from ONE
    * manifest read — the time-partitioned-fact seek that motivates
    * the whole format (at 100 TB: a month of files out of a decade).
    * Month strings (not DATE values) ride the output so the
    * cross-engine hash never touches date encodings. */
  def c23DateSeek(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = graft.sources.Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_totalprice",
        date_trunc("month", $"o_orderdate").cast("date").as("m"))
    val table = snapScratchPath(spark, dir) + "_c23"
    val tPath = new org.apache.hadoop.fs.Path(table)
    val fs = tPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tPath, true)
    orders.filter(year($"m") < 1999)
      .write.format("graft-snapshot").mode("overwrite")
      .option("partitionCols", "m").save(table)
    orders.filter(year($"m") >= 1999)
      .write.format("graft-snapshot").mode("append").save(table)
    spark.read.format("graft-snapshot").load(table)
      .filter($"m".between(lit("1996-01-01").cast("date"),
        lit("1996-12-01").cast("date")))
      .groupBy(date_format($"m", "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor($"o_totalprice" * 100).cast("long")).as("cents"))
      .orderBy($"month")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c23_date_seek" -> c23DateSeek,
    "c22_incremental_refresh" -> c22IncrementalRefresh,
    "c21_index_lifecycle" -> c21IndexLifecycle,
    "c20_snapshot_diff" -> c20SnapshotDiff,
    "c18_filter_ablation" -> c18FilterAblation,
    "c17_pretrain_run" -> c17PretrainRun,
    "c16_checksum_manifest" -> c16ChecksumManifest,
    "c15_mix_plan" -> c15MixPlan,
    "c13_ppl_filter" -> c13PplFilter,
    "c12_dedup_mixture" -> c12DedupMixture,
    "c11_stage_funnel" -> c11StageFunnel,
    "c9_bpe_train" -> c9BpeTrain,
    "c19_bpe_apply" -> c19BpeApply,
    "c10_mixture_temperature" -> c10MixtureTemperature,
    "c8_dataset_card" -> c8DatasetCard,
    "c7_curriculum" -> c7Curriculum,
    "c1_clean_corpus" -> c1CleanCorpus,
    "c2_component_dedup" -> c2ComponentDedup,
    "c3_pack_sequences" -> c3PackSequences,
    "c4_chunk_overlap" -> c4ChunkOverlap,
    "c5_stable_split" -> c5StableSplit,
    "c6_mixture" -> c6Mixture)

  /** D224: leave-one-out filter ablation — the "which cleaning filter
    * costs the most data" dashboard a corpus curator reads before
    * loosening anything: for the full c1 filter set and each
    * single-filter ablation (no_quality / no_exact / no_neardup), the
    * surviving document count, total quality mass, and survivor ratio
    * vs the full pipeline.
    *
    * Semantics: each filter's pass flag is computed INDEPENDENTLY on
    * the full corpus (quality ≥ 0.5; exact-dup keep = min doc_id of
    * the content-hash group; near-dup drop = appears as doc_b in the
    * d5 pair set) and a configuration is the conjunction of its
    * flags — the standard marginal-ablation dashboard, NOT four
    * sequential pipeline re-runs (documented: under sequential
    * semantics the dedup keep-sets would shift with the quality
    * gate).
    *
    * Scale shape: ONE corpus pass computes all three flags (the
    * content-hash window is the c1 near-unique-key shuffle; the d5
    * pair set arrives as a distinct doc_b semi-structure), then ONE
    * map-side-combined conditional aggregate to a single 8-column
    * row; the 4-row output explodes from that one row driver-free. */
  def c18FilterAblation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nd = Dedup.sharedJaccardPairs(spark, dir)
      .select($"doc_b".as("doc_id")).distinct()
    val flags = TextAnalysis.docFacts(spark, dir)
      .withColumn("keep_id", min($"doc_id").over(Window.partitionBy($"ch")))
      .join(nd.withColumn("nd", lit(1)), Seq("doc_id"), "left")
      .select($"quality",
        ($"quality" >= 0.5).cast("int").as("qok"),
        ($"doc_id" === $"keep_id").cast("int").as("eok"),
        (coalesce($"nd", lit(0)) === 0).cast("int").as("nok"))
    val configs = Seq(
      ("full", true, true, true), ("no_quality", false, true, true),
      ("no_exact", true, false, true), ("no_neardup", true, true, false))
    val aggCols = configs.flatMap { case (name, q, e, n) =>
      val cond = Seq(if (q) Some($"qok" === 1) else None,
        if (e) Some($"eok" === 1) else None,
        if (n) Some($"nok" === 1) else None).flatten.reduce(_ && _)
      Seq(sum(when(cond, 1L).otherwise(0L)).as(s"n_$name"),
        // quality is a 4-dp score: sum it as EXACT 1e-4 integer units
        // so the corpus-wide sum is order-free (the q104 grid
        // discipline — raw double sums depend on partial-agg order)
        sum(when(cond, floor($"quality" * 10000 + 0.5).cast("long"))
          .otherwise(0L)).as(s"sq_$name"))
    }
    val m = flags.agg(aggCols.head, aggCols.tail: _*)
    m.select(explode(array(configs.map { case (name, _, _, _) =>
          struct(lit(name).as("config"), col(s"n_$name").as("n_docs"),
            col(s"sq_$name").as("sq"))
        }: _*)).as("c"), $"n_full")
      .select($"c.config".as("config"), $"c.n_docs".as("n_docs"),
        round($"c.sq".cast("double") / 10000.0, 4).as("sum_quality"),
        round($"c.n_docs".cast("double") / $"n_full".cast("double"), 4)
          .as("vs_full"))
      .orderBy($"config")
  }

  /** One BPE round as chained CTEs (MATERIALIZED is load-bearing: each
    * v is referenced by the next round AND the final union — plain CTEs
    * would inline 2^8-fold, the g3 lesson). */
  private def bpeRoundSql(r: Int): String =
    s"""s$r AS (SELECT n, string_split(substring(rep, 2, length(rep) - 2),
            '><') AS sy FROM v${r - 1}),
        e$r AS (SELECT n, sy, unnest(range(1, len(sy))) AS i FROM s$r),
        p$r AS (SELECT sy[i] AS x, sy[i + 1] AS y,
            CAST(sum(n) AS BIGINT) AS cnt
          FROM e$r GROUP BY 1, 2),
        b$r AS MATERIALIZED (SELECT x, y, cnt,
            row_number() OVER (ORDER BY cnt DESC, x, y) AS rn FROM p$r),
        v$r AS MATERIALIZED (SELECT word, n,
            replace(rep, '<' || x || '><' || y || '>',
              '<' || x || y || '>') AS rep
          FROM v${r - 1} CROSS JOIN (SELECT x, y FROM b$r WHERE rn = 1))"""

  val oracle: Map[String, String] = Map(
    "c23_date_seek" ->
      """SELECT strftime(CAST(date_trunc('month', o_orderdate) AS DATE),
             '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
         FROM orders
         WHERE CAST(date_trunc('month', o_orderdate) AS DATE)
           BETWEEN DATE '1996-01-01' AND DATE '1996-12-01'
         GROUP BY 1 ORDER BY 1""",
    "c21_index_lifecycle" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
          smpo AS (SELECT rn, e FROM (
              SELECT e, row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              FROM e WHERE vec_id % ${Similarity.ingestMod} <> 0)
            WHERE rn <= ${Similarity.ivfTrainSize}),
          smpa AS (SELECT rn, e FROM (
              SELECT e, row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              FROM e) WHERE rn <= ${Similarity.ivfTrainSize}),
          ${Similarity.ivfOracleCtes(k = lifecycleK, iters = 2, nprobe = 4,
            dim = 64, pfx = "o", smpCte = "smpo")},
          ${Similarity.ivfOracleCtes(k = lifecycleK, iters = 2, nprobe = 4,
            dim = 64, pfx = "r", smpCte = "smpa")},
          oldc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
            FROM ocells WHERE vec_id % ${Similarity.ingestMod} <> 0
            GROUP BY cell),
          comb AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
            FROM ocells GROUP BY cell),
          ret AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
            FROM rcells GROUP BY cell),
          grid AS (SELECT unnest(generate_series(0, ${lifecycleK - 1}))
            AS cell),
          g AS (SELECT grid.cell,
              coalesce(oldc.n, 0) AS no, coalesce(comb.n, 0) AS nc,
              coalesce(ret.n, 0) AS nr
            FROM grid
            LEFT JOIN oldc ON oldc.cell = grid.cell
            LEFT JOIN comb ON comb.cell = grid.cell
            LEFT JOIN ret ON ret.cell = grid.cell),
          tots AS (SELECT CAST(sum(no) AS BIGINT) AS n_old,
              CAST(sum(nc) AS BIGINT) AS n_all,
              CAST(count(*) FILTER (WHERE no > 0) AS BIGINT) AS k_old,
              CAST(count(*) FILTER (WHERE nc > 0) AS BIGINT) AS k_comb,
              CAST(count(*) FILTER (WHERE nr > 0) AS BIGINT) AS k_ret,
              CAST(max(no) AS BIGINT) AS mx_old,
              CAST(max(nc) AS BIGINT) AS mx_comb,
              CAST(max(nr) AS BIGINT) AS mx_ret
            FROM g),
          d2 AS (SELECT CAST(max(abs(g.nc * t.n_old - g.no * t.n_all))
              AS BIGINT) AS m
            FROM g CROSS JOIN tots t),
          sc AS (SELECT row_number() OVER (ORDER BY nc DESC) AS rk, nc
            FROM g),
          sr AS (SELECT row_number() OVER (ORDER BY nr DESC) AS rk, nr
            FROM g),
          tv AS (SELECT CAST(sum(abs(sc.nc - sr.nr)) AS BIGINT) AS sd
            FROM sc JOIN sr ON sc.rk = sr.rk)
          SELECT s.stage, s.n_vecs, s.n_cells, s.max_share, s.drift
          FROM (
            SELECT '1_train' AS stage, t.n_old AS n_vecs,
              t.k_old AS n_cells,
              round(CAST(t.mx_old AS DOUBLE) / CAST(t.n_old AS DOUBLE), 4)
                AS max_share,
              0.0 AS drift
            FROM tots t
            UNION ALL
            SELECT '2_ingest', t.n_all, t.k_comb,
              round(CAST(t.mx_comb AS DOUBLE) / CAST(t.n_all AS DOUBLE), 4),
              round(CAST(d2.m AS DOUBLE)
                / (CAST(t.n_old AS DOUBLE) * CAST(t.n_all AS DOUBLE)), 4)
            FROM tots t CROSS JOIN d2
            UNION ALL
            SELECT '3_retrain', t.n_all, t.k_ret,
              round(CAST(t.mx_ret AS DOUBLE) / CAST(t.n_all AS DOUBLE), 4),
              round(0.5 * CAST(tv.sd AS DOUBLE)
                / CAST(t.n_all AS DOUBLE), 4)
            FROM tots t CROSS JOIN tv) s
          ORDER BY s.stage""",
    "c22_incremental_refresh" ->
      s"""WITH a AS (SELECT doc_id, md5(text) AS ha
            FROM documents WHERE doc_id % $snapPrevMod <> 0),
          b AS (SELECT doc_id, source,
              CASE WHEN doc_id % $snapMutMod = 0
                  THEN regexp_replace(text, '^[^ ]+ ', '')
                  ELSE text END AS text
            FROM documents WHERE doc_id % $snapCurMod <> 0),
          d AS (SELECT b.source, b.text FROM b
            LEFT JOIN a ON b.doc_id = a.doc_id
            WHERE a.doc_id IS NULL OR md5(b.text) <> a.ha),
          g AS (SELECT source,
              CASE WHEN ${TextAnalysis.qualityScoreSql} >= 0.5
                THEN 1 ELSE 0 END AS pass,
              CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS toks
            FROM d),
          v2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_v2
            FROM b GROUP BY source),
          c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_delta,
              CAST(sum(pass) AS BIGINT) AS n_pass,
              CAST(count(*) - sum(pass) AS BIGINT) AS n_fail,
              CAST(sum(CASE WHEN pass = 1 THEN toks ELSE 0 END)
                AS BIGINT) AS delta_tokens
            FROM g GROUP BY source)
          SELECT c.source, c.n_delta, c.n_pass, c.n_fail, c.delta_tokens,
            round(CAST(c.n_delta AS DOUBLE) / CAST(v2.n_v2 AS DOUBLE), 4)
              AS delta_share
          FROM c JOIN v2 ON c.source = v2.source ORDER BY c.source""",
    "c20_snapshot_diff" ->
      s"""WITH a AS (SELECT doc_id, source, md5(text) AS ha
            FROM documents WHERE doc_id % $snapPrevMod <> 0),
          b AS (SELECT doc_id, source,
              md5(CASE WHEN doc_id % $snapMutMod = 0
                  THEN regexp_replace(text, '^[^ ]+ ', '')
                  ELSE text END) AS hb
            FROM documents WHERE doc_id % $snapCurMod <> 0),
          j AS (SELECT coalesce(a.source, b.source) AS source,
              CASE WHEN a.doc_id IS NULL THEN 'added'
                   WHEN b.doc_id IS NULL THEN 'removed'
                   WHEN ha <> hb THEN 'changed'
                   ELSE 'unchanged' END AS cls
            FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
          SELECT source,
            CAST(count(*) FILTER (WHERE cls = 'added') AS BIGINT)
              AS n_added,
            CAST(count(*) FILTER (WHERE cls = 'removed') AS BIGINT)
              AS n_removed,
            CAST(count(*) FILTER (WHERE cls = 'changed') AS BIGINT)
              AS n_changed,
            CAST(count(*) FILTER (WHERE cls = 'unchanged') AS BIGINT)
              AS n_unchanged,
            round(CAST(count(*) FILTER (WHERE cls IN
                ('added', 'removed', 'changed')) AS DOUBLE)
              / CAST(count(*) AS DOUBLE), 4) AS churn
          FROM j GROUP BY source ORDER BY source""",
    "c18_filter_ablation" ->
      s"""${Dedup.jaccardCte},
          qual AS (SELECT doc_id, text,
                ${TextAnalysis.qualityScoreSql} AS quality
              FROM documents),
          f AS (SELECT doc_id, quality,
                CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END AS qok,
                CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY
                    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')))
                  THEN 1 ELSE 0 END AS eok,
                CASE WHEN doc_id IN (SELECT doc_b FROM jp)
                  THEN 0 ELSE 1 END AS nok
              FROM qual),
          m AS (SELECT
              CAST(sum(CASE WHEN qok = 1 AND eok = 1 AND nok = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
              CAST(sum(CASE WHEN qok = 1 AND eok = 1 AND nok = 1
                THEN CAST(floor(quality * 10000 + 0.5) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS sq_full,
              CAST(sum(CASE WHEN eok = 1 AND nok = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_no_quality,
              CAST(sum(CASE WHEN eok = 1 AND nok = 1
                THEN CAST(floor(quality * 10000 + 0.5) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS sq_no_quality,
              CAST(sum(CASE WHEN qok = 1 AND nok = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_no_exact,
              CAST(sum(CASE WHEN qok = 1 AND nok = 1
                THEN CAST(floor(quality * 10000 + 0.5) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS sq_no_exact,
              CAST(sum(CASE WHEN qok = 1 AND eok = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_no_neardup,
              CAST(sum(CASE WHEN qok = 1 AND eok = 1
                THEN CAST(floor(quality * 10000 + 0.5) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS sq_no_neardup
            FROM f)
          SELECT config, n_docs,
            round(CAST(sq AS DOUBLE) / 10000.0, 4) AS sum_quality,
            round(CAST(n_docs AS DOUBLE) / CAST(nf AS DOUBLE), 4) AS vs_full
          FROM (
            SELECT 'full' AS config, n_full AS n_docs, sq_full AS sq,
              n_full AS nf FROM m
            UNION ALL SELECT 'no_quality', n_no_quality, sq_no_quality,
              n_full FROM m
            UNION ALL SELECT 'no_exact', n_no_exact, sq_no_exact,
              n_full FROM m
            UNION ALL SELECT 'no_neardup', n_no_neardup, sq_no_neardup,
              n_full FROM m)
          ORDER BY config""",
    // c17: all eight stages as ONE chain — the d5 LSH/Jaccard CTEs,
    // the d14 quantized-Lloyd semantic-witness CTEs, the c11-style
    // gate chain, d7's decontamination, the c15 share fold, the c6
    // hash-ordered draw, and the c16 recursive pack + fingerprint.
    "c17_pretrain_run" ->
      s"""${Dedup.jaccardCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
          ${KMeans.semWitnessCtes},
          qual AS (SELECT doc_id, source, text,
              CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt,
              ${TextAnalysis.qualityScoreSql} AS quality
            FROM documents),
          g1 AS (SELECT doc_id, source, nt,
              md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS ch
            FROM qual WHERE quality >= 0.5),
          keep2 AS (SELECT min(doc_id) AS doc_id FROM g1 GROUP BY ch),
          g2 AS (SELECT g1.doc_id, g1.source, g1.nt
                 FROM g1 JOIN keep2 USING (doc_id)),
          drops3 AS (SELECT DISTINCT doc_b AS doc_id FROM jp
                     WHERE doc_a IN (SELECT doc_id FROM g2)
                       AND doc_b IN (SELECT doc_id FROM g2)),
          g3 AS (SELECT * FROM g2
                 WHERE doc_id NOT IN (SELECT doc_id FROM drops3)),
          semdrop AS (SELECT vec_id AS doc_id FROM r
                      WHERE rk = 1
                        AND dup_of IN (SELECT doc_id FROM g3)),
          g4 AS (SELECT * FROM g3
                 WHERE doc_id NOT IN (SELECT doc_id FROM semdrop)),
          te AS (SELECT doc_id AS test_id, s FROM dsh
                 WHERE doc_id % ${Dedup.testModulus} = 0),
          okd AS (SELECT s FROM te GROUP BY s
                  HAVING count(*) <= ${Dedup.maxShingleDf}),
          dpair AS (SELECT tr.doc_id AS train_id
                    FROM dsh tr JOIN te ON tr.s = te.s
                                JOIN okd ON te.s = okd.s
                    WHERE tr.doc_id % ${Dedup.testModulus} <> 0
                    GROUP BY tr.doc_id, te.test_id
                    HAVING count(*) >= ${Dedup.minSharedShingles}),
          contam AS (SELECT DISTINCT train_id AS doc_id FROM dpair),
          g5 AS (SELECT * FROM g4
                 WHERE doc_id % ${Dedup.testModulus} <> 0
                   AND doc_id NOT IN (SELECT doc_id FROM contam)
                   AND nt > 0),
          per AS (SELECT source, CAST(sum(nt) AS BIGINT) AS supply
                  FROM g5 GROUP BY 1),
          wsh AS (SELECT *,
              sum(sqrt(CAST(supply AS DOUBLE))) OVER (ORDER BY source
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS run_sqrt
            FROM per),
          wsh2 AS (SELECT *, max(run_sqrt) OVER () AS tot_sqrt FROM wsh),
          allo AS (SELECT source,
              CAST(floor(sqrt(CAST(supply AS DOUBLE)) / tot_sqrt
                * ${pretrainBudget.toDouble}) AS BIGINT) AS alloc_tokens
            FROM wsh2),
          drawn AS (SELECT doc_id, nt FROM (
              SELECT g5.doc_id, g5.nt, allo.alloc_tokens,
                sum(g5.nt) OVER (PARTITION BY g5.source
                  ORDER BY md5(CAST(g5.doc_id AS VARCHAR)), g5.doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM g5 JOIN allo USING (source))
            WHERE cum <= alloc_tokens),
          pd AS (SELECT doc_id % $packBuckets AS bucket, doc_id,
              nt AS toks,
              row_number() OVER (PARTITION BY doc_id % $packBuckets
                ORDER BY doc_id) AS rn
            FROM drawn),
          pr AS (SELECT bucket, doc_id, toks, rn,
              CAST(0 AS BIGINT) AS seq_id, toks AS fill
            FROM pd WHERE rn = 1
            UNION ALL
            SELECT d.bucket, d.doc_id, d.toks, d.rn,
              CASE WHEN p.fill + d.toks > $packBudget
                   THEN p.seq_id + 1 ELSE p.seq_id END,
              CASE WHEN p.fill + d.toks > $packBudget
                   THEN d.toks ELSE p.fill + d.toks END
            FROM pr p JOIN pd d ON d.bucket = p.bucket
                               AND d.rn = p.rn + 1),
          hsh AS (SELECT doc_id,
              CAST(CAST('0x' || substring(md5(regexp_replace(trim(
                lower(text)), '\\s+', ' ', 'g')), 1, 15) AS UBIGINT)
                AS HUGEINT) AS hv
            FROM documents)
          SELECT pr.bucket, pr.seq_id AS shard_id,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(pr.toks) AS BIGINT) AS n_tokens,
            CAST(sum(hsh.hv) % 1000000000000000000 AS BIGINT)
              AS fingerprint
          FROM pr JOIN hsh USING (doc_id)
          GROUP BY pr.bucket, pr.seq_id
          ORDER BY pr.bucket, shard_id""",
    "c16_checksum_manifest" ->
      s"""WITH RECURSIVE d AS (
            SELECT doc_id % $packBuckets AS bucket, doc_id,
              CAST(length(string_split(lower(text), ' ')) AS BIGINT) AS toks,
              row_number() OVER (PARTITION BY doc_id % $packBuckets
                ORDER BY doc_id) AS rn
            FROM documents),
          r AS (
            SELECT bucket, doc_id, toks, rn,
              CAST(0 AS BIGINT) AS seq_id, toks AS fill
            FROM d WHERE rn = 1
            UNION ALL
            SELECT d.bucket, d.doc_id, d.toks, d.rn,
              CASE WHEN r.fill + d.toks > $packBudget
                   THEN r.seq_id + 1 ELSE r.seq_id END,
              CASE WHEN r.fill + d.toks > $packBudget
                   THEN d.toks ELSE r.fill + d.toks END
            FROM r JOIN d ON d.bucket = r.bucket AND d.rn = r.rn + 1),
          h AS (SELECT doc_id,
              CAST(CAST('0x' || substring(md5(regexp_replace(trim(
                lower(text)), '\\s+', ' ', 'g')), 1, 15) AS UBIGINT)
                AS HUGEINT) AS hv
            FROM documents)
          SELECT r.bucket, r.seq_id AS shard_id,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(r.toks) AS BIGINT) AS n_tokens,
            CAST(sum(h.hv) % 1000000000000000000 AS BIGINT) AS fingerprint
          FROM r JOIN h USING (doc_id)
          GROUP BY r.bucket, r.seq_id
          ORDER BY r.bucket, shard_id""",
    "c15_mix_plan" ->
      s"""WITH h AS (SELECT doc_id, source,
              CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                AS n_tokens,
              md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS ch
            FROM documents),
          c AS (SELECT ch, min(doc_id) AS keep_id FROM h GROUP BY 1),
          per AS (SELECT h.source,
              CAST(sum(h.n_tokens) AS BIGINT) AS raw_tokens,
              CAST(sum(CASE WHEN h.doc_id = c.keep_id THEN h.n_tokens
                ELSE 0 END) AS BIGINT) AS eff_tokens
            FROM h JOIN c USING (ch) GROUP BY 1),
          w AS (SELECT *,
              sum(sqrt(CAST(raw_tokens AS DOUBLE))) OVER (ORDER BY source
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS run_sqrt
            FROM per),
          w2 AS (SELECT *, max(run_sqrt) OVER () AS tot_sqrt FROM w),
          p AS (SELECT source, raw_tokens, eff_tokens,
              sqrt(CAST(raw_tokens AS DOUBLE)) / tot_sqrt AS share
            FROM w2),
          a AS (SELECT *,
              CAST(floor(share * ${mixPlanBudget.toDouble}) AS BIGINT)
                AS alloc_tokens
            FROM p)
          SELECT source, raw_tokens, eff_tokens,
            round(share, 4) AS temp_share, alloc_tokens,
            round(CAST(alloc_tokens AS DOUBLE) / CAST(eff_tokens AS DOUBLE),
              4) AS epochs,
            CAST(CASE WHEN CAST(alloc_tokens AS DOUBLE)
                / CAST(eff_tokens AS DOUBLE) > $mixPlanMaxEpochs
              THEN 1 ELSE 0 END AS INT) AS over_cap
          FROM a ORDER BY source""",
    "c13_ppl_filter" ->
      s"""WITH ${TextAnalysis.bigramNllCtes},
          sl AS (SELECT doc_id, round(sum(nll), 4) AS sum_nll,
              CAST(count(*) AS BIGINT) AS nb
            FROM s GROUP BY doc_id),
          d AS (SELECT doc_id, source,
              CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt
            FROM documents),
          j AS (SELECT d.source, d.nt, sl.sum_nll / sl.nb AS m,
              sl.sum_nll IS NOT NULL
                AND sl.sum_nll / sl.nb <= $pplNllCutoff AS kept
            FROM d LEFT JOIN sl USING (doc_id))
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            round(CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(count(*) AS DOUBLE), 4) AS kept_frac,
            CAST(sum(nt) AS BIGINT) AS raw_tokens,
            CAST(sum(CASE WHEN kept THEN nt ELSE 0 END) AS BIGINT)
              AS kept_tokens,
            round(max(CASE WHEN kept THEN m END), 4) AS max_kept_nll,
            round(min(CASE WHEN NOT kept THEN m END), 4) AS min_dropped_nll
          FROM j GROUP BY source ORDER BY source""",
    "c12_dedup_mixture" ->
      """WITH h AS (SELECT doc_id, source,
              CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                AS n_tokens,
              md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS ch
            FROM documents),
          c AS (SELECT ch, min(doc_id) AS keep_id FROM h GROUP BY 1),
          per AS (SELECT h.source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN h.doc_id = c.keep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_canonical,
              CAST(sum(h.n_tokens) AS BIGINT) AS raw_tokens,
              CAST(sum(CASE WHEN h.doc_id = c.keep_id THEN h.n_tokens
                ELSE 0 END) AS BIGINT) AS eff_tokens
            FROM h JOIN c USING (ch) GROUP BY 1),
          tot AS (SELECT CAST(sum(raw_tokens) AS BIGINT) AS traw,
              CAST(sum(eff_tokens) AS BIGINT) AS teff
            FROM per)
          SELECT source, n_docs, n_canonical, raw_tokens, eff_tokens,
            round(1.0 - CAST(eff_tokens AS DOUBLE)
              / CAST(raw_tokens AS DOUBLE), 4) AS dup_overhead,
            round(CAST(raw_tokens AS DOUBLE) / CAST(traw AS DOUBLE), 4)
              AS share_raw,
            round(CAST(eff_tokens AS DOUBLE) / CAST(teff AS DOUBLE), 4)
              AS share_eff
          FROM per CROSS JOIN tot ORDER BY source""",
    "c11_stage_funnel" ->
      s"""${Dedup.jaccardCte},
          qual AS (SELECT doc_id, text, lang, source,
                     CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt,
                     ${TextAnalysis.qualityScoreSql} AS quality
                   FROM documents),
          s1 AS (SELECT doc_id, nt, quality,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS ch
                 FROM qual WHERE quality >= 0.5),
          keepers AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY ch),
          s2 AS (SELECT s1.doc_id, nt FROM s1 JOIN keepers USING (doc_id)),
          drops AS (SELECT DISTINCT doc_b AS doc_id FROM jp
                    WHERE doc_a IN (SELECT doc_id FROM s2)
                      AND doc_b IN (SELECT doc_id FROM s2)),
          s3 AS (SELECT * FROM s2
                 WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
          st AS (
            SELECT 0 AS stage, 'raw' AS stage_name,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(nt) AS BIGINT) AS n_tokens FROM qual
            UNION ALL SELECT 1, 'quality_gate', CAST(count(*) AS BIGINT),
              CAST(sum(nt) AS BIGINT) FROM s1
            UNION ALL SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
              CAST(sum(nt) AS BIGINT) FROM s2
            UNION ALL SELECT 3, 'near_dedup', CAST(count(*) AS BIGINT),
              CAST(sum(nt) AS BIGINT) FROM s3),
          raw AS (SELECT n_docs AS rd, n_tokens AS rt FROM st WHERE stage = 0)
          SELECT stage, stage_name, n_docs, n_tokens,
            round(CAST(n_docs AS DOUBLE) / CAST(rd AS DOUBLE), 4)
              AS docs_retained,
            round(CAST(n_tokens AS DOUBLE) / CAST(rt AS DOUBLE), 4)
              AS tokens_retained
          FROM st CROSS JOIN raw ORDER BY stage""",
    "c10_mixture_temperature" ->
      """WITH cen AS (SELECT source,
              CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
                AS n_tokens
            FROM documents GROUP BY 1),
          w AS (SELECT source, n_tokens,
              CAST(sum(n_tokens) OVER () AS BIGINT) AS tot,
              sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (ORDER BY source
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_sqrt
            FROM cen),
          w2 AS (SELECT *, max(run_sqrt) OVER () AS tot_sqrt FROM w)
          SELECT source, n_tokens,
            round(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE), 4)
              AS raw_share,
            round(sqrt(CAST(n_tokens AS DOUBLE)) / tot_sqrt, 4) AS temp_share,
            round((sqrt(CAST(n_tokens AS DOUBLE)) / tot_sqrt) /
              (CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)), 4) AS boost
          FROM w2 ORDER BY source""",
    "c19_bpe_apply" ->
      s"""WITH tok AS (SELECT source,
              unnest(string_split(lower(text), ' ')) AS word
            FROM documents),
          wf AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM tok
            WHERE regexp_full_match(word, '[a-z]+') GROUP BY 1),
          v0 AS MATERIALIZED (SELECT word, n,
            '<' || array_to_string(list_transform(
              range(1, length(word) + 1), i -> substring(word, i, 1)),
              '><') || '><_>' AS rep
            FROM wf),
          ${(1 to bpeMerges).map(bpeRoundSql).mkString(",\n          ")},
          sym AS (SELECT word,
              CAST(len(string_split(substring(rep, 2, length(rep) - 2),
                '><')) AS BIGINT) AS n_sym
            FROM v$bpeMerges),
          ws AS (SELECT source, word, CAST(count(*) AS BIGINT) AS occ
            FROM tok WHERE regexp_full_match(word, '[a-z]+')
            GROUP BY 1, 2)
          SELECT source, CAST(sum(occ) AS BIGINT) AS n_words,
            CAST(sum(occ * (length(word) + 1)) AS BIGINT) AS n_chars,
            CAST(sum(occ * n_sym) AS BIGINT) AS n_bpe_tokens,
            round(CAST(sum(occ * (length(word) + 1)) AS DOUBLE)
              / CAST(sum(occ * n_sym) AS DOUBLE), 4) AS compression
          FROM ws JOIN sym USING (word)
          GROUP BY source ORDER BY source""",
    "c9_bpe_train" ->
      s"""WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents),
          wf AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM tok
            WHERE regexp_full_match(word, '[a-z]+') GROUP BY 1),
          v0 AS MATERIALIZED (SELECT word, n,
            '<' || array_to_string(list_transform(
              range(1, length(word) + 1), i -> substring(word, i, 1)),
              '><') || '><_>' AS rep
            FROM wf),
          ${(1 to bpeMerges).map(bpeRoundSql).mkString(",\n          ")}
          SELECT * FROM (
            ${(1 to bpeMerges).map(r =>
              s"SELECT $r AS round, x AS lhs, y AS rhs, x || y AS merged, " +
                s"cnt AS pair_count FROM b$r WHERE rn = 1")
              .mkString("\n            UNION ALL\n            ")}
          ) ORDER BY round""",
    "c8_dataset_card" ->
      s"""WITH d AS (SELECT lang, source, n_chars,
              CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
              md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                AS content_hash,
              ${TextAnalysis.qualityScoreSql} AS quality
            FROM documents)
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
            CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
            CAST(sum(n_chars) AS BIGINT) AS total_chars,
            CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
            round(1.0 - count(DISTINCT content_hash) * 1.0 / count(*), 4)
              AS dup_rate,
            round(avg(quality), 4) AS mean_quality,
            round(count(*) FILTER (lang = 'en') * 1.0 / count(*), 4)
              AS pct_english
          FROM d""",
    "c7_curriculum" ->
      s"""WITH s AS (SELECT doc_id, ${TextAnalysis.qualityScoreSql} AS q
                     FROM documents),
          st AS (SELECT doc_id, q,
              CAST(CASE WHEN q >= $currHi THEN 0
                        WHEN q >= $currLo THEN 1 ELSE 2 END AS INT) AS stage,
              CAST(doc_id % $currSalts AS INT) AS salt
            FROM s),
          r AS (SELECT doc_id, q, stage, salt,
              row_number() OVER (PARTITION BY stage, salt
                ORDER BY q DESC, doc_id) AS lrk
            FROM st),
          c AS (SELECT stage, salt, CAST(count(*) AS BIGINT) AS n
                FROM st GROUP BY stage, salt),
          o AS (SELECT stage, salt,
              COALESCE(CAST(sum(n) OVER (ORDER BY stage, salt
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS BIGINT), 0) AS off
            FROM c)
          SELECT CAST(o.off + r.lrk - 1 AS BIGINT) AS pos, r.stage,
            r.doc_id, r.q AS quality
          FROM r JOIN o USING (stage, salt) ORDER BY pos""",
    "c6_mixture" ->
      s"""WITH d AS (SELECT doc_id, source,
            CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
            md5(CAST(doc_id AS VARCHAR)) AS h,
            CAST(1 + CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 4
              AS BIGINT) * $mixtureBaseQuota AS quota
          FROM documents),
          w AS (SELECT *,
            CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
            row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
              AS rk
          FROM d)
          SELECT source, CAST(rk AS INT) AS sel_rank, doc_id, n_tokens,
            cum_tokens, quota
          FROM w WHERE cum_tokens <= quota
          ORDER BY source, sel_rank""",
    "c1_clean_corpus" ->
      s"""${Dedup.jaccardCte},
          qual AS (SELECT doc_id, text, lang, source,
                     ${TextAnalysis.qualityScoreSql} AS quality
                   FROM documents),
          s1 AS (SELECT doc_id, lang, source, quality,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS ch
                 FROM qual WHERE quality >= 0.5),
          keepers AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY ch),
          s2 AS (SELECT s1.doc_id, lang, source, quality
                 FROM s1 JOIN keepers USING (doc_id)),
          drops AS (SELECT DISTINCT doc_b AS doc_id FROM jp
                    WHERE doc_a IN (SELECT doc_id FROM s2)
                      AND doc_b IN (SELECT doc_id FROM s2)),
          s3 AS (SELECT * FROM s2
                 WHERE doc_id NOT IN (SELECT doc_id FROM drops))
          SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
            round(sum(quality), 4) AS sum_quality
          FROM s3 GROUP BY 1, 2 ORDER BY 1, 2""",
    "c3_pack_sequences" ->
      s"""WITH RECURSIVE d AS (
            SELECT doc_id % $packBuckets AS bucket, doc_id,
              CAST(length(string_split(lower(text), ' ')) AS BIGINT) AS toks,
              row_number() OVER (PARTITION BY doc_id % $packBuckets
                ORDER BY doc_id) AS rn
            FROM documents),
          r AS (
            SELECT bucket, doc_id, toks, rn,
              CAST(0 AS BIGINT) AS seq_id, toks AS fill
            FROM d WHERE rn = 1
            UNION ALL
            SELECT d.bucket, d.doc_id, d.toks, d.rn,
              CASE WHEN r.fill + d.toks > $packBudget
                   THEN r.seq_id + 1 ELSE r.seq_id END,
              CASE WHEN r.fill + d.toks > $packBudget
                   THEN d.toks ELSE r.fill + d.toks END
            FROM r JOIN d ON d.bucket = r.bucket AND d.rn = r.rn + 1)
          SELECT doc_id, bucket, seq_id, toks FROM r ORDER BY doc_id""",
    "c4_chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                     FROM documents),
          c AS (SELECT doc_id, toks,
                  unnest(generate_series(0,
                    CAST(ceil(greatest(len(toks) - $chunkSize, 0)
                         / ($chunkStride * 1.0)) AS INT))) AS chunk_id
                FROM t)
          SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
            CAST(len(list_slice(toks, chunk_id * $chunkStride + 1,
              chunk_id * $chunkStride + $chunkSize)) AS INT) AS n_chunk_toks,
            md5(array_to_string(list_slice(toks, chunk_id * $chunkStride + 1,
              chunk_id * $chunkStride + $chunkSize), ' ')) AS chunk_md5
          FROM c ORDER BY doc_id, chunk_id""",
    "c2_component_dedup" ->
      s"""${Dedup.componentsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
          gated AS (SELECT doc_id, lang, source,
                      ${TextAnalysis.qualityScoreSql} AS quality
                    FROM documents),
          ok AS (SELECT g.doc_id, g.lang, g.source, g.quality, a.cluster_id
                 FROM gated g JOIN assign a USING (doc_id)
                 WHERE g.quality >= 0.5),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
                       ORDER BY quality DESC, doc_id) AS rk FROM ok)
          SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
            round(sum(quality), 4) AS sum_quality
          FROM ranked WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""",
    "c5_stable_split" ->
      s"""${Dedup.componentsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
          s AS (SELECT d.doc_id, d.lang, a.cluster_id,
                  CASE WHEN CAST('0x' ||
                      substring(md5(CAST(a.cluster_id AS VARCHAR)), 1, 4)
                      AS BIGINT) % 10 < 8
                    THEN 'train' ELSE 'val' END AS split
                FROM documents d JOIN assign a ON d.doc_id = a.doc_id)
          SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_components
          FROM s GROUP BY 1, 2 ORDER BY 1, 2""")
}
