package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines over the
 * `documents` table: tokenization, language-ID, quality scoring, document
 * fingerprinting. Everything is expressed as codegen-friendly `Column`
 * functions (`org.apache.spark.sql.functions`) — no UDFs — so whole-stage
 * codegen applies and the same logic is mirrorable in ANSI SQL for the
 * DuckDB oracle.
 *
 * Scale notes: all operators are embarrassingly parallel per-row map work;
 * no shuffles are introduced here. Aggregations composed on top of these
 * columns use stock partial+final hash aggregation.
 */
object TextAnalysis {

  /** Whitespace tokenization of trimmed, lowercased text.
    *
    * Convention: EMPTY text yields `[""]` (one empty-string token), not an
    * empty array — `split` behaves this way in both Spark and DuckDB, and
    * every oracle replay relies on the two engines agreeing, so the
    * convention is deliberately kept. Consequence: an empty document
    * counts one token in chunking/packing/domain-budget arithmetic; a
    * corpus with empty documents should filter them before the mixers
    * (the quality-filter stage upstream of every real pipeline already
    * does). */
  def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(tokens(text))

  /**
   * BPE-ish subword proxy count: number of matches of a word/number/punct
   * regex, the standard pre-tokenizer shape. Mirrors DuckDB
   * `len(regexp_extract_all(text, pattern))`.
   */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(bpeTokenPattern), lit(0)))

  /** Distinct lowercase word set (for Jaccard / language-ID). */
  def wordSet(text: Column): Column = array_distinct(tokens(text))

  // --- language identification (marker-word heuristic) ------------------

  /** tiny stopword marker sets per language */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "los", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une"),
    "de" -> Seq("der", "die", "und", "das", "ein", "mit", "von"))

  /** marker-hit count for one language */
  def langHits(text: Column, markers: Seq[String]): Column =
    size(array_intersect(wordSet(text), array(markers.map(lit): _*)))

  /**
   * Predicted language: the language with the most distinct marker hits;
   * ties broken by the declaration order of `langMarkers` (first wins);
   * zero hits => 'und'. Deterministic and fully expressible as a SQL CASE
   * chain for the oracle.
   */
  def langId(text: Column): Column = {
    val hits = langMarkers.map { case (l, m) => l -> langHits(text, m) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.reverse.foldLeft(lit("und"): Column) { case (acc, (l, h)) =>
      when(h === best && h > 0, lit(l)).otherwise(acc)
    }
  }

  // --- quality scoring ---------------------------------------------------

  val stopwords: Seq[String] = langMarkers.flatMap(_._2)

  /**
   * Heuristic quality score in [0,1]: blends length, mean word length,
   * stopword ratio and alpha-character ratio. Deterministic; rounded by
   * callers for oracle comparison.
   */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val nChars = length(text).cast("double")
    val meanWordLen = nChars / greatest(nTok, lit(1.0))
    val stopRatio =
      size(array_intersect(wordSet(text), array(stopwords.map(lit): _*))).cast("double") /
        greatest(size(wordSet(text)).cast("double"), lit(1.0))
    val alphaRatio =
      (length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")) / greatest(nChars, lit(1.0))
    val lenScore = least(nTok / lit(200.0), lit(1.0))
    round(
      lenScore * lit(0.3) +
        least(meanWordLen / lit(8.0), lit(1.0)) * lit(0.2) +
        least(stopRatio * lit(3.0), lit(1.0)) * lit(0.2) +
        alphaRatio * lit(0.3), 4)
  }

  /**
   * The Gopher rule-bundle quality filter (Rae et al. 2021, App. A1.1) as
   * per-document boolean flags plus the conjunction — the standard
   * pretraining-corpus admission gate, kept as FLAGS (not a silent filter)
   * so curation can audit which rule kills which slice:
   *
   *  - `r_word_count`:  50 <= tokens <= 100000
   *  - `r_word_len`:    3 <= mean token length <= 10
   *  - `r_symbol`:      ('#' chars + '...' occurrences) / tokens < 0.1
   *  - `r_bullet`:      < 90% of lines start with a bullet (- * •)
   *  - `r_ellipsis`:    < 30% of lines end with '...'
   *  - `r_alpha`:       >= 80% of tokens contain an alphabetic character
   *  - `r_stopwords`:   >= 2 distinct common stopwords present
   *  - `gopher_pass`:   all of the above
   *
   * Everything is narrow per-row expression work (regex counts + one
   * token pass) — zero shuffles; the flags ride whatever aggregation the
   * caller composes on top.
   */
  def gopherRules(df: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks).cast("double")
    val tokChars = aggregate(toks, lit(0L), (a, x) => a + length(x)).cast("double")
    val meanLen = tokChars / greatest(nTok, lit(1.0))
    val hashes = (length(t) - length(regexp_replace(t, "#", ""))).cast("double")
    val ellipses = (size(split(t, "\\.\\.\\.", -1)) - 1).cast("double")
    val lines = split(t, "\n", -1)
    val nLines = size(lines).cast("double")
    val bulletLines = size(filter(lines,
      l => trim(l).rlike("^[-*•]"))).cast("double")
    val ellipsisLines = size(filter(lines,
      l => trim(l).rlike("\\.\\.\\.$"))).cast("double")
    val alphaToks = size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("double")
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = size(array_intersect(array_distinct(toks),
      array(stops.map(lit): _*))).cast("double")
    df
      .withColumn("n_words", nTok.cast("long"))
      .withColumn("r_word_count", nTok >= 50 && nTok <= 100000)
      .withColumn("r_word_len", meanLen >= 3.0 && meanLen <= 10.0)
      .withColumn("r_symbol", (hashes + ellipses) / greatest(nTok, lit(1.0)) < 0.1)
      .withColumn("r_bullet", bulletLines / greatest(nLines, lit(1.0)) < 0.9)
      .withColumn("r_ellipsis", ellipsisLines / greatest(nLines, lit(1.0)) < 0.3)
      .withColumn("r_alpha", alphaToks / greatest(nTok, lit(1.0)) >= 0.8)
      .withColumn("r_stopwords", stopHits >= 2.0)
      .withColumn("gopher_pass",
        col("r_word_count") && col("r_word_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stopwords"))
  }

  // --- repetition signals (Gopher-style quality filters) -----------------

  /**
   * Per-document repetition signals — the Gopher/C4 family of quality
   * filters that kill degenerate (repetitive, template, keyword-stuffed)
   * documents before training (Rae et al. 2021, "Scaling Language Models",
   * App. A1.1 uses exactly these duplicate-fraction / top-n-gram-fraction
   * shapes):
   *
   *  - `n_tokens`:        whitespace token count
   *  - `dup_token_frac`:  1 − distinct/total tokens
   *  - `top_token_frac`:  most-frequent-token count / total tokens
   *  - `top_bigram_frac`: most-frequent-bigram count / total bigrams
   *                       (0.0 for documents below two tokens)
   *
   * Scale: two explode→two-level hash aggregations keyed by document plus
   * one join — partial aggregation collapses each document's counts
   * map-side, so the shuffles carry per-(doc, gram) counts, never raw
   * token streams. Everything stays in whole-stage codegen.
   */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val tokCounts = toks
      .select(col(idCol), explode(col("__toks")).as("__tok"))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__n"))
    val tokStats = tokCounts.groupBy(col(idCol)).agg(
      sum("__n").as("n_tokens"),
      round(lit(1.0) - count(lit(1)).cast("double") / sum("__n"), 4)
        .as("dup_token_frac"),
      round(max("__n").cast("double") / sum("__n"), 4).as("top_token_frac"))
    val bigCounts = toks
      .select(col(idCol), explode(shinglesOfTokens(col("__toks"), 2)).as("__bg"))
      .groupBy(col(idCol), col("__bg")).agg(count(lit(1)).as("__n"))
    val bigStats = bigCounts.groupBy(col(idCol)).agg(
      round(max("__n").cast("double") / sum("__n"), 4).as("top_bigram_frac"))
    tokStats.join(bigStats, Seq(idCol), "left")
      .withColumn("top_bigram_frac", coalesce(col("top_bigram_frac"), lit(0.0)))
  }

  /** The filtering counterpart: keep documents whose repetition signals
    * stay under the given caps (defaults near Gopher's published cuts).
    * No broadcast hint on the kill-list anti-join: repetitive docs can be
    * a large fraction of a raw corpus, so the join strategy is left to
    * AQE, which broadcasts only when the measured size allows. */
  def filterRepetitive(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, maxDupTokenFrac: Double = 0.6,
      maxTopBigramFrac: Double = 0.2): org.apache.spark.sql.DataFrame = {
    val bad = repetitionSignals(df, textCol, idCol)
      .filter(col("dup_token_frac") > maxDupTokenFrac ||
        col("top_bigram_frac") > maxTopBigramFrac)
      .select(col(idCol))
    df.join(bad, Seq(idCol), "left_anti")
  }

  // --- corpus-statistical scoring ---------------------------------------

  /**
   * Unigram language-model quality score (the CCNet/CC-100 shape: documents
   * are scored by a token-level LM and filtered on the score; here the LM
   * is the corpus's own unigram distribution, so no external model file is
   * needed). Per document: the mean log-probability of its tokens,
   * `avg(ln(count(token)/total_tokens))` — degenerate/rare-token documents
   * score low, fluent ones near the corpus mode score high.
   *
   * Output: `(idCol, n_tokens, lm_score)` with `lm_score` rounded to 4
   * decimals for cross-engine comparison.
   *
   * Scale shape: one explode → (token) hash aggregation builds the vocab
   * (partial map-side combine collapses per-partition counts), the
   * token→frequency lookup is a plain equi-join ON TOKEN — the vocab of a
   * 100 TB corpus is far beyond driver memory, so no broadcast; both sides
   * shuffle-partition by token, then one final per-document aggregation.
   * The grand total rides along as a broadcast single-row cross join.
   */
  def unigramLmScore(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    // single-task small scans serialize the tokenize front — repair
    // parallelism first (no-op on already-parallel inputs)
    val toks = Par.fanOut(df, col(idCol))
      .select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
    val vocab = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__tf"))
    val total = vocab.agg(sum(col("__tf")).cast("double").as("__total"))
    toks.join(vocab, "__tok")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("__tf") / col("__total"))), 4).as("lm_score"))
  }

  /**
   * Interpolated bigram language-model score + perplexity per document —
   * the perplexity-filtering signal of CCNet-style corpus curation
   * (documents whose text the corpus LM finds surprising are boilerplate,
   * gibberish, or off-distribution), one modeling step above
   * [[unigramLmScore]]. For each in-document bigram `(prev, cur)`:
   * `P = lambda * c(prev cur)/c(prev) + (1-lambda) * c(cur)/T`
   * (corpus-trained MLE bigram interpolated with the unigram floor, so
   * unseen bigrams never zero out), scored as `avg(ln P)` with
   * `ppl = exp(-avg)`. Documents shorter than 2 tokens have no bigrams
   * and are omitted.
   *
   * The LM trains on `df` itself (every scored bigram therefore has
   * count >= 1 — scores are always finite). Self-training means a doc
   * whose vocabulary is UNIQUE to it scores deceptively well (its
   * bigrams are deterministic in the MLE); the production CCNet setup
   * trains on a held-out reference corpus instead — score a frame
   * against a reference by unioning it in as training weight, or use the
   * per-source [[vocabOverlap]] audit to find isolated-vocab slices
   * first.
   *
   * Scale shape: the corpus explodes once to tokens and once to 2-token
   * shingles; both count tables collapse map-side to VOCAB-sized
   * aggregates. Every probability join runs on the DICTIONARY — each
   * distinct bigram is scored once against the two unigram counts and
   * the broadcast grand total — and corpus-sized rows ride exactly ONE
   * shuffle join (bigram instance → its precomputed score) before the
   * per-document aggregate collapses map-side. The earlier shape joined
   * the corpus-sized instance table three times; scoring the dictionary
   * first cuts that to one, which is also the only shape that holds when
   * instances outnumber dictionary entries by orders of magnitude.
   */
  def bigramLmScore(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, lambda: Double = 0.7): org.apache.spark.sql.DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    // tokenize ONCE into a column; inlining tokens() inside the shingle
    // lambda re-splits the text per OUTPUT SHINGLE (the O(tokens^2) trap
    // documented at [[shingles]]). Fan out single-task small scans first
    // (no-op on already-parallel inputs).
    val base = Par.fanOut(df, col(idCol))
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
    val toks = base.select(col(idCol), explode(col("__toks")).as("__tok"))
    // pinned WHEN LARGE (pinIfLarge): the unigram dictionary feeds the
    // two context-count joins AND the corpus-total aggregate — three
    // consumers, each of which would otherwise replan the full corpus
    // tokenize+explode+vocab aggregate. Dictionary-sized output, but the
    // pin's materialization barrier still loses to recompute on small
    // corpora, so the size gate applies here too.
    val vocab1 = Dedup.pinIfLarge(df,
      toks.groupBy(col("__tok")).agg(count(lit(1)).as("__c1")))
    val total = vocab1.agg(sum(col("__c1")).cast("double").as("__total"))
    // pre-aggregate per (doc, bigram): every downstream consumer — the
    // bigram dictionary AND the per-doc scoring join — now builds on this
    // ONE canonically-shared (id, bg) exchange, so the corpus shingle
    // explode plans/executes once (deriving the dictionary straight from
    // `bgs` pruned its columns differently per branch and re-ran the
    // explode); the map-side combine also shrinks the shuffle by the
    // within-doc repeat factor. Pinned when large too: its two consumers
    // prune columns differently, so without a pin the bigram explode
    // still runs twice on a big corpus; the pinned set is the
    // doc-distinct bigram postings — the same magnitude the aggregation
    // shuffle already pays.
    val perDoc = Dedup.pinIfLarge(df, base.select(col(idCol),
        explode(shinglesOfTokens(col("__toks"), 2)).as("__bg"))
      .groupBy(col(idCol), col("__bg")).agg(count(lit(1)).as("__n")))
    val vocab2 = perDoc.groupBy(col("__bg")).agg(sum(col("__n")).as("__c2"))
    // dictionary-sized scoring: one row per DISTINCT bigram
    val bgScore = vocab2
      // tokens are \s+-split, so the single interior space splits cleanly
      .withColumn("__prev", substring_index(col("__bg"), " ", 1))
      .withColumn("__cur", substring_index(col("__bg"), " ", -1))
      .join(vocab1.withColumnRenamed("__tok", "__prev")
        .withColumnRenamed("__c1", "__cprev"), "__prev")
      .join(vocab1.withColumnRenamed("__tok", "__cur")
        .withColumnRenamed("__c1", "__ccur"), "__cur")
      .crossJoin(broadcast(total))
      .select(col("__bg"),
        log(lit(lambda) * (col("__c2") / col("__cprev"))
          + lit(1 - lambda) * (col("__ccur") / col("__total"))).as("__logp"))
    // instance-weighted mean over the per-(doc, bigram) counts — exactly
    // the avg over bigram instances, without re-exploding them
    perDoc
      .join(bgScore, "__bg")
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_bigrams"),
        round(sum(col("__n") * col("__logp")) / sum(col("__n")), 4).as("lm_score"),
        round(exp(-(sum(col("__n") * col("__logp")) / sum(col("__n")))), 2).as("ppl"))
  }

  /**
   * Windowed PMI collocations — word-association mining (collocation /
   * phrase extraction, word2vec-style co-occurrence statistics): every
   * unordered token pair co-occurring within `window` positions is
   * counted, and pointwise mutual information
   * `pmi = ln( (n_ab/P) / ((n_a/T)·(n_b/T)) )` scores how much more often
   * the pair co-occurs than independence predicts (P = total pair slots,
   * T = total tokens). Pairs below `minCount` are dropped (PMI is
   * unstable on rare pairs); top `k` by (pmi desc, pair asc) — unique, so
   * the cut is deterministic.
   *
   * Scale shape: pair generation is a per-row expression (O(tokens·window)
   * per doc, zip of two slices per distance — never a corpus self-join);
   * pair and unigram counts collapse map-side to DICTIONARY-sized
   * aggregates; scoring joins run dictionary-vs-dictionary with the two
   * scalar totals broadcast. The corpus is never shuffled, but it IS
   * scanned+tokenized by three narrow subtrees (pairs, unigrams, slot
   * totals) — persist the token column upstream if scan cost dominates.
   */
  def collocations(df: DataFrame, textCol: String, window: Int = 2,
      minCount: Long = 5L, k: Int = 30): DataFrame = {
    require(window >= 1, s"window must be positive, got $window")
    require(k >= 1, s"k must be positive, got $k")
    val base = df.select(tokens(col(textCol)).as("__toks"))
    val n = size(col("__toks"))
    // native codegen'd pair emitter (expressions.scala TokenPairs) —
    // bit-identical to the per-distance zip_with/array_sort/concat_ws HOF
    // chain it replaced (UTF8 byte-order min/max, same output order;
    // TokenPairsSpec pins parity)
    val pairs = base.select(explode(
      graft.functions.GraftFunctions.token_pairs(col("__toks"), window))
      .as("__pair"))
    val pairCounts = pairs.groupBy(col("__pair"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val uni = base.select(explode(col("__toks")).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
    val totTok = uni.agg(sum(col("__c")).cast("double").as("__t"))
    // total pair slots from token counts alone — no second pair pass
    val totPairs = base
      .select((1 to window).map(j => greatest(n - j, lit(0)).cast("long"))
        .reduce(_ + _).as("__slots"))
      .agg(sum(col("__slots")).cast("double").as("__p"))
    pairCounts
      .withColumn("tok_a", substring_index(col("__pair"), " ", 1))
      .withColumn("tok_b", substring_index(col("__pair"), " ", -1))
      .join(uni.withColumnRenamed("__tok", "tok_a")
        .withColumnRenamed("__c", "__ca"), "tok_a")
      .join(uni.withColumnRenamed("__tok", "tok_b")
        .withColumnRenamed("__c", "__cb"), "tok_b")
      .crossJoin(broadcast(totTok)).crossJoin(broadcast(totPairs))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        round(log((col("n_ab") / col("__p"))
          / ((col("__ca") / col("__t")) * (col("__cb") / col("__t")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
      .limit(k)
  }

  /**
   * Zipf / Heaps corpus-law audit: fits `ln(freq) ~ ln(rank)` by least
   * squares over the top `topN` terms (natural language sits near slope
   * -1; template or synthetic text shows up as a flat or kinked fit — a
   * one-row corpus-health signal), plus the type-token ratio. Returns ONE
   * row: n_terms, zipf_slope/intercept/r2, distinct_terms, total_tokens,
   * ttr.
   *
   * Scale shape: one explode → map-side-combined term-count aggregate;
   * the top-`topN` cut is `orderBy(...).limit(topN)` — Spark lowers it to
   * `TakeOrderedAndProject` (each task keeps a local top-N heap, the
   * driver merges N·parts rows), so the FULL vocabulary is never sorted
   * or ranked through one task. Only the ≤ topN survivors see a rank
   * window, and that window carries an explicit (constant) partition key
   * so no partition-less WindowExec ever appears in the plan. The
   * regression itself is a mergeable `regr_*` aggregate.
   */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 100): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val freq = df.select(explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__freq"))
    // distributed top-N (TakeOrderedAndProject: each task keeps a local
    // heap, the driver merges), then rank the ≤ topN survivors by
    // streaming them through one TINY task in sorted order — no window at
    // all (a rank window here would either be partition-less, moving the
    // FULL vocab through one task pre-limit, or have its constant
    // partition key folded away by Catalyst, which comes to the same)
    val topSorted = freq.orderBy(col("__freq").desc, col("__tok").asc).limit(topN)
    val rankedSchema = topSorted.schema
      .add("__rank", org.apache.spark.sql.types.IntegerType, nullable = false)
    val top = topSorted
      .repartition(1)
      .sortWithinPartitions(col("__freq").desc, col("__tok").asc)
      .mapPartitions { it =>
        var r = 0
        it.map { row => r += 1; org.apache.spark.sql.Row.fromSeq(row.toSeq :+ r) }
      }(org.apache.spark.sql.Encoders.row(rankedSchema))
    val y = log(col("__freq"))
    val x = log(col("__rank"))
    val fit = top.agg(
      count(lit(1)).as("n_terms"),
      round(regr_slope(y, x), 4).as("zipf_slope"),
      round(regr_intercept(y, x), 4).as("zipf_intercept"),
      round(regr_r2(y, x), 4).as("zipf_r2"))
    val heaps = freq.agg(count(lit(1)).as("distinct_terms"),
      sum(col("__freq")).as("total_tokens"))
    fit.crossJoin(broadcast(heaps))
      .withColumn("ttr",
        round(col("distinct_terms") / col("total_tokens"), 6))
  }

  /**
   * Unigram-distribution divergence between two corpus slices — the
   * "how different is source/language A from B" audit signal behind
   * mixture design and drift detection (the lexical sibling of the PSI
   * drift monitor on events). Restricted to the top `topN` terms by
   * COMBINED count across the two slices (deterministic `(count desc,
   * term)` cut), then Laplace-smoothed over that vocabulary:
   * `p_t = (c_A(t)+1) / (N_A+V)` and likewise `q_t`, so both
   * distributions are strictly positive and the divergences finite.
   * Returns ONE row: `n_terms`, `kl_ab` = Σ p ln(p/q), `kl_ba`, and the
   * symmetric bounded `js` (Jensen–Shannon, natural log), all rounded to
   * 6 decimals (the Σ over ≤ topN doubles is order-sensitive only at the
   * last ulp — far below the rounding).
   *
   * Scale shape: ONE explode → ONE map-side-combined per-term aggregate
   * carrying both slices' counts as conditional sums (a pivot, so the
   * term dictionary is built once — not once per slice per consumer);
   * the top-N cut is a distributed `TakeOrderedAndProject`; everything
   * after runs over ≤ topN rows with broadcast totals. The corpus never
   * shuffles.
   */
  def unigramDivergence(df: DataFrame, textCol: String, groupCol: String,
      groupA: String, groupB: String, topN: Int = 200): DataFrame = {
    require(topN >= 1, s"topN must be positive, got $topN")
    val counts = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("__g"), explode(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col("__tok"))
      .agg(sum(when(col("__g") === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__g") === groupB, 1L).otherwise(0L)).as("__cb"))
    val grid = counts
      .orderBy((col("__ca") + col("__cb")).desc, col("__tok").asc).limit(topN)
    val totals = grid.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"), count(lit(1)).as("__v"))
    val p = (col("__ca") + 1).cast("double") / (col("__na") + col("__v"))
    val q = (col("__cb") + 1).cast("double") / (col("__nb") + col("__v"))
    val m = (p + q) / 2
    grid.crossJoin(broadcast(totals))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(p * log(p / q)), 6).as("kl_ab"),
        round(sum(q * log(q / p)), 6).as("kl_ba"),
        round(sum(p * log(p / m) / 2 + q * log(q / m) / 2), 6).as("js"))
  }

  /**
   * TF-IDF top terms per group (e.g. per language or per source): the
   * corpus-exploration operator that surfaces what distinguishes one slice
   * from the rest. `tf` counts ALL occurrences of the term inside the
   * group; `doc_freq` counts documents (corpus-wide) containing the term;
   * score = tf * ln(N / doc_freq). Top `k` per group by (score desc, term
   * asc) — the deterministic tie order.
   *
   * Scale shape: two explode → hash aggregations (per-(group, term) tf and
   * per-term document frequency — both collapse map-side), one equi-join
   * on term, and a per-group top-k window over the small aggregated set.
   * The document count N is a broadcast single row.
   */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, textCol: String,
      groupCol: String, idCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(groupCol), col(idCol),
      explode(tokens(col(textCol))).as("__tok"))
    val tf = toks.groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = toks.select(col(idCol), col("__tok")).distinct()
      .groupBy(col("__tok")).agg(count(lit(1)).as("doc_freq"))
    val nDocs = df.agg(count(lit(1)).cast("double").as("__n_docs"))
    // salted two-phase per-group cut: |groups| is small (languages,
    // sources) while a group's vocabulary is web-scale — a plain
    // per-group window would rank one group's whole vocab in one task
    val order = Seq(col("__score").desc, col("__tok").asc)
    val local = Window
      .partitionBy(col(groupCol), pmod(hash(col("__tok")), lit(64)))
      .orderBy(order: _*)
    val global = Window.partitionBy(col(groupCol)).orderBy(order: _*)
    tf.join(docFreq, "__tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("__score", col("tf") * log(col("__n_docs") / col("doc_freq")))
      .withColumn("__lr", row_number().over(local))
      .filter(col("__lr") <= k)
      .withColumn("rank", row_number().over(global))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col("__tok").as("term"),
        col("tf"), col("doc_freq"), round(col("__score"), 4).as("tfidf"))
  }

  /**
   * Pairwise vocabulary overlap between corpus groups (Jaccard over the
   * distinct whitespace-token sets) — the corpus-comparison step of a
   * mixing/contamination audit ("how much of source A's vocabulary does
   * source B share?"). One tokens shuffle reduces the corpus to the
   * distinct (group, token) set; the self-join then runs on VOCAB-sized
   * inputs (dictionary entries, not documents or occurrences), so at
   * 100 TB the join sides are orders of magnitude below the corpus and
   * the pair matrix is |groups|² rows.
   */
  def vocabOverlap(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val vocab = docs
      .select(col(groupCol).as("g"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
    val sizes = vocab.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val inter = vocab.as("a")
      .join(vocab.select(col("g").as("g2"), col("tok")).as("b"), "tok")
      .filter(col("g") < col("g2"))
      .groupBy(col("g").as("src_a"), col("g2").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    // pair scaffold from the |groups|-row sizes aggregate, so disjoint
    // pairs surface with inter=0 instead of silently vanishing
    sizes.select(col("g").as("src_a"), col("n").as("n_a"))
      .crossJoin(sizes.select(col("g").as("src_b"), col("n").as("n_b")))
      .filter(col("src_a") < col("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("inter"))
      .select(col("src_a"), col("src_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union_size"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
  }

  // --- fingerprinting ----------------------------------------------------

  /** Content fingerprint: md5 of whitespace-normalized lowercase text.
    * (The codegen'd rolling-hash variant lives in graft.functions.) */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /**
   * BM25 top-k retrieval (Robertson & Walker's Okapi BM25, the Lucene
   * `ln(1 + (N-df+0.5)/(df+0.5))` idf variant — public literature): for
   * each query, the `k` highest-scoring documents with
   * `score(q,d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1)/(tf + k1·(1-b+b·|d|/avgdl))`.
   * Query terms are DISTINCT (standard bag-of-words query semantics);
   * ties break on ascending doc id, so the cut is deterministic.
   *
   * Scale shape: the corpus becomes a term-keyed postings aggregate (one
   * explode → (doc, term, tf)); the QUERY term table — tiny by contract —
   * broadcasts into the postings first, so only postings of queried terms
   * survive into every later stage; document frequency joins
   * term-keyed against those survivors, per-document length joins
   * doc-keyed, and the two corpus scalars (N, avgdl) ride a broadcast
   * 1-row cross join. The per-query top-k window partitions on query id —
   * O(queries) parallel, never a global sort. The corpus is never joined
   * doc×doc or query×doc; cost is bounded by the postings of queried
   * terms.
   */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    // (r17 note: a Par.fanOut of `docs` measured SLOWER in an interleaved
    // A/B (+0.37 s on the bm25 bench row) — the three corpus passes fuse
    // with their aggregates, and the added exchange + stage barriers cost
    // more than the tokenize parallelism buys; left as-is deliberately)
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("__term"))
    val qterms = queries.select(col(queryIdCol),
      explode(array_distinct(tokens(col(queryTextCol)))).as("__term"))
    val qt = qterms.select(col("__term")).distinct()
    // The queried-term prune joins ABOVE the tf aggregate. Below it, the
    // postings exchange would shrink from corpus-wide to query-terms-only,
    // but an r18 interleaved A/B at 32 cores measured that shape 0.50 s
    // SLOWER on the x_bm25 bench row (min of 5/arm: 1.60 vs 1.10): the
    // bench queries are stopword-heavy (first-5-token prefixes), so the
    // prune removes almost nothing while a pre-aggregate probe pays a
    // broadcast-hash lookup per corpus TOKEN rather than per postings
    // GROUP. Both placements give identical results (the term is a group
    // key, so dropping whole groups before or after counting commutes).
    val tf = toks.groupBy(col(idCol), col("__term"))
      .agg(count(lit(1)).as("__tf"))
      .join(broadcast(qt), Seq("__term"))
    val dlen = docs.select(col(idCol),
      tokenCount(col(textCol)).cast("double").as("__dl"))
    val stats = docs.agg(count(lit(1)).cast("double").as("__n"),
      avg(tokenCount(col(textCol))).as("__avgdl"))
    // The query dimension is attached AFTER the document frequency so the
    // df computation never has to collapse it back out (r17): tf has ONE
    // row per (doc, term), so df(t) is a plain count over the pruned
    // postings — computed as a term-partitioned WINDOW in the same stream
    // (the tfidfCosinePairs shape). The r16 form derived df from the
    // query-expanded rows via distinct + aggregate, and because that gave
    // `hit` two consumers the optimizer re-ran the ENTIRE corpus
    // tokenize+explode+postings pass once per consumer (plan audit:
    // two Generate-over-Scan subtrees; two ~0.4 s serial stages at
    // sf0.1). One stream = one corpus pass, no pin needed. The window
    // group is a queried term's postings list — bounded by the same
    // postings the scoring join streams, and it spills rather than
    // OOMs (ExternalAppendOnlyUnsafeRowArray), the trade
    // tfidfCosinePairs already takes.
    val hit = tf
      .withColumn("__df_hit",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("__term"))))
      .join(broadcast(qterms), Seq("__term"))
    val contrib = hit
      .join(dlen, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(col(queryIdCol), col(idCol),
        (log(lit(1.0) + (col("__n") - col("__df_hit") + lit(0.5)) /
            (col("__df_hit") + lit(0.5))) *
          (col("__tf") * lit(k1 + 1.0)) /
          (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
          .as("__contrib"))
    val scored = contrib.groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__contrib")).as("score"))
    // salted two-phase top-k (the Similarity.saltedTopK shape): a single
    // per-query window would funnel every scored posting of a small query
    // workload through a handful of tasks; phase 1 cuts within
    // (query, salt-of-doc) at 64x the parallelism, phase 2 ranks only the
    // <= 64k survivors — identical tie order, bit-equal result
    import org.apache.spark.sql.expressions.Window
    val order = Seq(round(col("score"), 6).desc, col(idCol).asc)
    val local = Window
      .partitionBy(col(queryIdCol), pmod(hash(col(idCol)), lit(64)))
      .orderBy(order: _*)
    val global = Window.partitionBy(col(queryIdCol)).orderBy(order: _*)
    scored
      .withColumn("__lr", row_number().over(local))
      .filter(col("__lr") <= k)
      .withColumn("rank", row_number().over(global))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col(idCol), col("score"))
  }

  /** Word n-gram shingles (n consecutive tokens joined by a space).
    *
    * Prefer [[shinglesOfTokens]] over a materialized token-array column on
    * hot paths: higher-order functions are interpreted (no whole-stage
    * codegen, no cross-lambda subexpression elimination), so a `tokens(...)`
    * expression inlined here is re-split once per OUTPUT SHINGLE, turning
    * an O(tokens) row into O(tokens^2) regex work. */
  def shingles(text: Column, n: Int): Column =
    shinglesOfTokens(tokens(text), n)

  /** [[shingles]] over an already-computed token array (cheap to reference
    * from inside the per-position lambda). */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    // native codegen'd expression (graft.functions.Shingles) — the
    // interpreted transform(slice+array_join) lambda it replaces cost
    // ~1.5 ms/document and sat under every lexical-similarity operator.
    // coalesce preserves the original contract: null input -> EMPTY array
    coalesce(graft.functions.GraftFunctions.shingles(toks, n),
      array().cast("array<string>"))
}
