package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines over `documents`:
 * exact, MinHash+LSH, SimHash, and n-gram Jaccard near-dup.
 *
 * Scale design:
 *  - exact dedup is one hash-shuffle on the content digest;
 *  - MinHash signatures are computed with a single explode + k min-aggregates
 *    (map-side partial aggregation applies — no per-seed passes);
 *  - LSH banding turns the O(n^2) pair space into an equi-join on
 *    (band, band_hash) buckets, the standard shingle->minhash->band->bucket
 *    pipeline; only bucket-colliding pairs pay the exact-Jaccard verify;
 *  - SimHash reduces each doc to 64 bits; near-dup = small hamming distance
 *    within LSH buckets of bit-prefixes.
 */
object Dedup {

  /** Stable content digest for exact dedup. */
  def contentKey(text: Column): Column = TextAnalysis.fingerprint(text)

  /**
   * Content-defined chunking (the CDC family behind rsync/LBFS and
   * shift-resistant corpus dedup — public literature): split each document
   * into variable-size token chunks whose BOUNDARIES depend only on local
   * token content, never on absolute position. A boundary falls AFTER any
   * token whose md5's first two hex chars compare below a threshold
   * derived from `avgTokens` (probability 1/avgTokens per token), so
   * inserting or deleting a prefix shifts at most the chunks up to the
   * first boundary — every later chunk re-aligns bit-identically. That is
   * the property fixed-size chunking ([[graft.ops.Corpus.chunkByTokens]])
   * fundamentally lacks: one leading token added to a crawl re-shingles
   * every fixed chunk, but leaves CDC chunks (and therefore chunk-level
   * dedup against yesterday's corpus) intact.
   *
   * Output: one row per chunk — `idCol`, `chunk_idx` (0-based, in order),
   * `chunk_text`, `chunk_tokens`. Chunk sizes are geometric with mean
   * ~`avgTokens`; production CDC adds min/max clamps, which break the
   * pure prefix-sum form (each boundary would depend on the previous) —
   * the unclamped form keeps the plan one doc-keyed window and is what
   * the DuckDB oracle replays marker-for-marker (lowercase-hex string
   * comparison is identical in both engines).
   *
   * Scale shape: tokenize + posexplode + marker are narrow; chunk ids are
   * one prefix sum over a (doc)-keyed window (state = one running count
   * per doc, bounded); the rebuild groups on (doc, chunk) under the same
   * doc-keyed distribution. Never a corpus-wide aggregate.
   */
  def contentDefinedChunks(df: DataFrame, textCol: String, idCol: String,
      avgTokens: Int = 8): DataFrame = {
    require(avgTokens >= 2 && avgTokens <= 256,
      s"avgTokens must be in [2, 256], got $avgTokens")
    val thr = f"${256 / avgTokens}%02x" // lexical hex compare == numeric
    val toks = df.select(col(idCol),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val marked = toks.withColumn("__marker",
      when(substring(md5(col("__tok")), 1, 2) < thr, lit(1)).otherwise(lit(0)))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    marked
      .withColumn("chunk_idx", coalesce(sum(col("__marker")).over(w), lit(0L)))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(
        array_join(transform(array_sort(collect_list(
          struct(col("__pos"), col("__tok")))), s => s.getField("__tok")), " ")
          .as("chunk_text"),
        count(lit(1)).as("chunk_tokens"))
  }

  /**
   * Exact dedup: keep the lowest-`idCol` row per identical (normalized)
   * text. One shuffle on the digest; deterministic keeper choice.
   */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(contentKey(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * Exact dedup keeping the BEST duplicate (highest `scoreCol`, ties to
   * the lowest `idCol`) — the production policy when duplicates differ in
   * quality metadata (crawl recency, length, quality score) and "first
   * seen" is the wrong keeper. Same single digest shuffle as
   * [[exactDedup]]; only the window order changes.
   */
  def exactDedupBest(df: DataFrame, textCol: String, scoreCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(contentKey(col(textCol)))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact-duplicate groups: digest, group size, keeper id. */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(contentKey(col(textCol)).as("content_key"))
      .agg(count(lit(1)).as("group_size"), min(col(idCol)).as("keeper_id"))
      .filter(col("group_size") > 1)

  /**
   * Incremental exact dedup — the daily-ingestion shape: drop incoming rows
   * whose content already exists in the accumulated corpus, then self-dedup
   * what survives (lowest id wins). `existing` only needs the text column;
   * in production it is the stored digest column of the corpus table, so
   * the anti-join shuffles 16-byte keys, never document text.
   *
   * Scale: one hash shuffle of (key) on each side for the anti-join — no
   * broadcast hint, the accumulated corpus is unbounded and AQE can still
   * choose broadcast while the batch or the corpus key set is small — plus
   * the self-dedup window on the same key.
   */
  def incrementalDedup(incoming: DataFrame, existing: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val existingKeys = existing
      .select(contentKey(col(textCol)).as("__k")).distinct()
    val fresh = incoming.withColumn("__k", contentKey(col(textCol)))
      .join(existingKeys, Seq("__k"), "left_anti")
    val w = Window.partitionBy(col("__k")).orderBy(col(idCol).asc)
    fresh.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__k")
  }

  /**
   * [[incrementalDedup]] with a Bloom bypass on the corpus anti-join (see
   * [[Bloom.antiJoinKeys]]): batch rows whose digest is definitely not in
   * the accumulated corpus skip the anti-join shuffle entirely; only
   * might-contain candidates pay it. Output is EXACTLY
   * [[incrementalDedup]]'s — the exact join removes Bloom false positives.
   * This is the preferred shape when the batch is mostly-new content and
   * the corpus key set is far beyond broadcast size.
   *
   * @param expectedItems corpus distinct-digest estimate for filter sizing
   *                      (underestimates cost candidates, never results)
   */
  def incrementalDedupBloom(incoming: DataFrame, existing: DataFrame,
      textCol: String, idCol: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val existingKeys = existing.select(contentKey(col(textCol)).as("__ek"))
    val fresh = Bloom.antiJoinKeys(
      incoming.withColumn("__k", contentKey(col(textCol))), existingKeys,
      "__k", "__ek", expectedItems, fpp)
    val w = Window.partitionBy(col("__k")).orderBy(col(idCol).asc)
    fresh.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__k")
  }

  // --- MinHash + LSH -----------------------------------------------------

  /** Pin a multiply-consumed subtree when the SOURCE is large: at corpus
    * scale, re-running a scan+tokenize+digest subtree per consumer is the
    * dominant cost and materializing once wins; below the threshold the
    * RDD round-trip (row conversion, no codegen over ExistingRDD) costs
    * more than recomputing the codegen'd subtree.
    *
    * Caveat shared with EVERY multi-consumer Spark plan: when the pin
    * does NOT engage, each consumer re-evaluates the source, so a
    * NON-DETERMINISTIC input (`df.sample`, `rand()`/`uuid()` columns)
    * can produce a different row set per consumer. Callers feeding such
    * inputs must materialize them first (cache/checkpoint/write) — the
    * operators here assume deterministic sources, like Spark's own
    * self-join of a sampled frame does. A source with NO
    * statistics propagates the `defaultSizeInBytes` sentinel — any
    * estimate at or above the session's sentinel is treated as UNKNOWN,
    * never as large, so stat-less inputs are not force-pinned. The
    * deliberately conservative consequence: a deployment that tunes the
    * sentinel low also stops pinning genuinely-large sources above it
    * (recompute instead of materialize — a perf choice, never a
    * correctness one; sizes cannot be told apart from the sentinel at
    * equal values). RDD-level persist so the ContextCleaner reclaims the
    * cache once the result plan is garbage-collected (the Skyline
    * pattern). */
  private[ops] def pinIfLarge(source: DataFrame, plan: DataFrame): DataFrame = {
    val sz = source.queryExecution.optimizedPlan.stats.sizeInBytes
    val sentinel = BigInt(
      source.sparkSession.sessionState.conf.defaultSizeInBytes)
    if (sz <= (256L << 20) || sz >= sentinel) plan
    else {
      val rdd = plan.rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      source.sparkSession.createDataFrame(rdd, plan.schema)
    }
  }

  /** splitmix64-derived odd multipliers/offsets for the affine minhash
    * family h_i(x) = a_i * xxhash64(x) + b_i (wrapping arithmetic). */
  private def mixConst(i: Int): (Long, Long) = {
    def sm(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (sm(i.toLong * 2 + 1) | 1L, sm(i.toLong * 2 + 2))
  }

  /**
   * Hashed `n`-gram shingles without materializing shingle strings: tokens
   * are hashed once (`__th` must be a bound column of token hashes), then
   * each shingle hash combines a window of n token hashes with
   * position-dependent wrapping affine mixes (order-sensitive). Cuts the
   * dominant cost of shingling — per-shingle string building + hashing.
   */
  private[ops] def shingleHashCol(th: Column, n: Int): Column =
    when(size(th) >= n,
      transform(sequence(lit(0), size(th) - lit(n)), i =>
        (0 until n).map { j =>
          val (a, b) = mixConst(1000 + j)
          graft.functions.GraftFunctions.wrapping_affine(
            element_at(th, i + lit(j + 1)), a, b)
        }.reduce((x, y) => x.bitwiseXOR(y))))
      .otherwise(array().cast("array<long>"))

  /** xxhash64 tokens + windowed affine-XOR shingle hashes in ONE native
    * codegen'd pass (expressions.scala TokenShingleHashes) — bit-identical
    * to `transform(tokens, xxhash64)` |> [[shingleHashCol]] (the retained
    * HOF form, which ShingleHashSpec pins parity against). NULL text
    * coalesces to the empty array, the HOF's when/otherwise behavior. */
  private[ops] def hashedShingles(textCol: Column, n: Int): Column = {
    val (as, bs) = (0 until n).map(j => mixConst(1000 + j)).unzip
    coalesce(
      graft.functions.GraftFunctions.token_shingle_hashes(
        TextAnalysis.tokens(textCol), as, bs),
      typedlit(Seq.empty[Long]))
  }

  /**
   * MinHash signature over hashed word `shingleN`-gram shingles. The k
   * permutations are affine mixes of one base shingle hash (`a_i*h+b_i`,
   * wrapping) — the standard one-hash minhash family. One explode + k min()
   * aggregates with map-side partial aggregation. Returns
   * (idCol, sig array<long>).
   */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
      k: Int = 32, shingleN: Int = 3): DataFrame = {
    // explode + k codegen'd min() aggregates, NOT k array_min(transform)
    // folds over a per-row gram array: higher-order functions are
    // interpreted, and k passes of boxed per-element eval measured ~15x
    // slower end-to-end than this shuffle of (doc, hash) pairs with
    // map-side partial mins (22.5s vs 1.5s for d_minhash_lsh at sf0.1).
    // The shuffle carries 16 bytes/shingle and combines before exchange.
    val exploded = df
      .select(col(idCol),
        explode(array_distinct(hashedShingles(col(textCol), shingleN))).as("__h0"))
    val mins = (0 until k).map { i =>
      val (a, b) = mixConst(i)
      min(graft.functions.GraftFunctions.wrapping_affine(col("__h0"), a, b)).as(s"__h$i")
    }
    exploded
      .groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"__h$i")): _*).as("minhash_sig"))
  }

  /**
   * LSH candidate pairs: band the signature (`bands` x rows), bucket-join on
   * (band index, hash of band slice), emit distinct (id_a < id_b) pairs.
   */
  def lshCandidatePairs(sigs: DataFrame, idCol: String,
      bands: Int = 8, k: Int = 32): DataFrame = {
    val rowsPerBand = k / bands
    val banded = sigs.select(
      col(idCol),
      posexplode(
        array((0 until bands).map(b =>
          xxhash64(concat_ws(",",
            (0 until rowsPerBand).map(r => col("minhash_sig")(b * rowsPerBand + r)): _*))): _*))
        .as(Seq("band", "band_hash")))
    val a = banded.select(col(idCol).as("id_a"), col("band"), col("band_hash"))
    val b = banded.select(col(idCol).as("id_b"), col("band"), col("band_hash"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Exact set Jaccard between two distinct-element array columns.
    * |A ∪ B| is computed arithmetically (|A|+|B|-|A∩B|) so only the
    * intersection's hash set is materialized per pair. */
  def jaccard(setA: Column, setB: Column): Column = {
    val inter = size(array_intersect(setA, setB)).cast("double")
    val uni = size(setA).cast("double") + size(setB).cast("double") - inter
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** Fraction of agreeing MinHash signature positions — an unbiased
    * estimator of Jaccard similarity; a native codegen'd count of equal
    * positions (no per-pair array allocation). */
  def sigEstimate(sigA: Column, sigB: Column, k: Int): Column =
    graft.functions.GraftFunctions.array_eq_count(sigA, sigB).cast("double") / k

  /**
   * Full MinHash-LSH near-dup pipeline: candidates from LSH buckets,
   * pre-filtered by the cheap signature-overlap estimate (margin below the
   * threshold to keep recall), then verified with exact shingle-set
   * Jaccard >= `threshold`. Output: (id_a, id_b, jaccard_sim).
   *
   * Scale shape: the band join is the only large shuffle; the signature and
   * shingle-set side tables are per-doc summaries, broadcast when small.
   * The estimate filter cuts the verify set by ~100x on self-similar
   * corpora, so the expensive array_intersect runs on survivors only.
   */
  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, k: Int = 32, bands: Int = 8,
      shingleN: Int = 3, estimateMargin: Double = 0.15,
      maxBucketSize: Int = 1000): DataFrame = {
    // single-task small scans serialize the two per-row-heavy fronts (the
    // shingle+k-min signature pass and the verify side's hashed shingle
    // sets — r18 profile: 265 ms + 131 ms one-task stages); repair
    // parallelism once for both (no-op on already-parallel inputs)
    val src = Par.fanOut(df, col(idCol))
    val sigs = minhashSignatures(src, textCol, idCol, k, shingleN)
    val rowsPerBand = k / bands
    // carry the signature through the band join: the est filter then runs
    // BEFORE the pair distinct, so non-candidates never shuffle twice
    val bandedRaw = sigs.select(
      col(idCol), col("minhash_sig"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(concat_ws(",",
          (0 until rowsPerBand).map(r => col("minhash_sig")(b * rowsPerBand + r)): _*))): _*))
        .as(Seq("band", "band_hash")))
    // scale guard: degenerate buckets (stop-shingle collisions) would
    // square; cap them with a bucket-count WINDOW over the same
    // (band, band_hash) partitioning the pair join shuffles on — the
    // guard rides the join's own exchange instead of re-running the
    // whole signature pipeline for a separate bucket-count aggregate
    // (the previous anti-join formulation planned the explode + k-min
    // aggregation three times: once per join side plus once for the
    // oversized list; the windowed subtree is canonically identical on
    // both join sides, so it plans/executes once). The per-partition
    // sort the window adds is over docs x bands rows — orders of
    // magnitude cheaper than a second pass over corpus shingles. Recall
    // for capped keys is covered by the other bands.
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    val banded = bandedRaw
      .withColumn("__bn", count(lit(1)).over(wBucket))
      .filter(col("__bn") <= maxBucketSize)
      .drop("__bn")
    val a = banded.select(col(idCol).as("id_a"), col("minhash_sig").as("__sig_a"),
      col("band"), col("band_hash"))
    val b = banded.select(col(idCol).as("id_b"), col("minhash_sig").as("__sig_b"),
      col("band"), col("band_hash"))
    val estFiltered = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b") &&
        sigEstimate(col("__sig_a"), col("__sig_b"), k) >= threshold - estimateMargin)
      .select("id_a", "id_b")
      .distinct()
    // verify on hashed shingle sets: long-array intersection is far cheaper
    // than string-array intersection, and the Jaccard value is identical up
    // to 64-bit hash collisions (negligible)
    val sets = src
      .select(col(idCol),
        array_distinct(hashedShingles(col(textCol), shingleN)).as("__set"))
    estFiltered
      .join(sets.select(col(idCol).as("id_a"), col("__set").as("__set_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("__set").as("__set_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("__set_a"), col("__set_b")), 4).as("jaccard_sim"))
      .filter(col("jaccard_sim") >= threshold)
  }

  /**
   * Brute-force n-gram Jaccard near-dup over a deterministic subsample
   * (oracle-checkable ground truth for the LSH pipeline). All pairs
   * (a.id < b.id) with word-set Jaccard >= threshold.
   */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 1): DataFrame = {
    // small-input scans plan as one task; the tokenize+shingle front and
    // the pair verification are per-row heavy, so repair the parallelism
    // first (Par.fanOut is a no-op whenever the scan is already parallel)
    val src = Par.fanOut(df, col(idCol))
    // tokenize in a separate projection so the interpreted shingle lambda
    // slices a materialized array instead of re-splitting the text per
    // shingle (higher-order functions get no subexpression elimination)
    val sets = src.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        (if (shingleN == 1) array_distinct(col("__toks"))
         else array_distinct(TextAnalysis.shinglesOfTokens(col("__toks"), shingleN))).as("__set"))
    val a = sets.select(col(idCol).as("id_a"), col("__set").as("__set_a"))
    val b = sets.select(col(idCol).as("id_b"), col("__set").as("__set_b"))
    // size prefilter: jaccard >= t implies least(|A|,|B|) >= t*greatest
    // (intersection <= min size, union >= max size), so the O(|A|+|B|)
    // array intersection runs only on size-compatible pairs — an O(1)
    // check that prunes the vast majority of a cross join at high
    // thresholds without changing any result
    // epsilon guard: when t*maxSize is exactly integral (t=0.9, |B|=10)
    // the double product can land a hair ABOVE the integer and wrongly
    // prune a pair sitting exactly at the threshold — 1e-9 re-admits the
    // boundary without admitting anything below it (set sizes << 1e9)
    val sizeCompatible =
      least(size(col("__set_a")), size(col("__set_b"))).cast("double") >=
        lit(threshold) * greatest(size(col("__set_a")), size(col("__set_b"))) - lit(1e-9)
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b") && sizeCompatible)
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("__set_a"), col("__set_b")), 4).as("jaccard_sim"))
      .filter(col("jaccard_sim") >= threshold)
  }

  /**
   * EXACT Jaccard similarity self-join via prefix filtering — the
   * AllPairs/PPJoin family (Bayardo et al. WWW'07, Xiao et al. WWW'08;
   * public literature). Same output as [[ngramJaccardPairs]] (every pair
   * with shingle-set Jaccard >= threshold, no approximation), but instead
   * of a cross join the candidate generation is an inverted-index
   * equi-join over each document's PREFIX:
   *
   *  - order all shingles by ascending document frequency (rarest first,
   *    shingle text as tie-break) — one GLOBAL total order;
   *  - a set of size s keeps only its first `s - ceil(t*s) + 1` shingles
   *    in that order. Two sets with Jaccard >= t MUST share at least one
   *    prefix shingle (dropping the suffix discards fewer elements than
   *    the minimum required overlap), so joining on prefix shingles loses
   *    nothing — and prefixes are by construction the RAREST shingles, so
   *    postings stay short and frequent-shingle skew prunes itself;
   *  - candidates pass the size-ratio filter, then verify with one exact
   *    array intersection per pair.
   *
   * Scale shape: posting-list equi-joins keyed by shingle + one doc-keyed
   * window for the prefix ranks; never doc x doc. This is the exact-answer
   * scale path next to MinHash-LSH's approximate one — same inverted-index
   * economics, zero recall loss.
   */
  def jaccardPrefixJoin(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    // pin only LARGE inputs (shared [[pinIfLarge]] gate): at corpus scale,
    // re-running the scan+shingle subtree for every consumer (sized has 3,
    // prefixes 2) is the dominant cost and materializing once wins
    // (sf0.1: 2.3 s pinned vs 1.6 s recomputed — same 100 TB plan, sized
    // by the optimizer's scan estimate)
    def maybePin(plan: DataFrame): DataFrame = pinIfLarge(df, plan)
    // single-task small scans serialize the tokenize+shingle front —
    // repair parallelism first (no-op on already-parallel inputs)
    val src = Par.fanOut(df, col(idCol))
    val sized = maybePin(src.select(col(idCol).as("__id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("__id"),
        (if (shingleN == 1) array_distinct(col("__toks"))
         else array_distinct(TextAnalysis.shinglesOfTokens(col("__toks"), shingleN))).as("__set"))
      .select(col("__id"), col("__set"), size(col("__set")).as("__sz")))
    // explode_outer + a post-generate null filter, NOT plain explode with a
    // size >= 1 filter (r18): a filter on the derived __set column gets
    // substituted and PUSHED BELOW the fan-out exchange, where it re-runs
    // the whole tokenize+shingle expression serially on the single scan
    // task (plan audit: a 288 ms one-task Filter evaluating shingles()
    // twice, ahead of the exchange meant to parallelize exactly that
    // work). The null filter on the GENERATOR OUTPUT cannot sink below the
    // Generate, so the shingle work stays post-exchange. Row-identical:
    // explode_outer only adds null-__tok rows for empty/null sets, which
    // the filter drops; docs with no shingles never form candidate pairs
    // and the verify joins are inner, so dropping the size filter from
    // `sized` changes nothing either.
    val posts = sized.select(col("__id"), col("__sz"),
      explode_outer(col("__set")).as("__tok"))
      .filter(col("__tok").isNotNull)
    // prefix length s - ceil(t*s) + 1; the 1e-9 nudge keeps an integral
    // t*s from float-rounding UP (a too-long prefix only adds candidates,
    // a too-short one silently loses pairs)
    val prefixLen = (col("__sz") -
      ceil(lit(threshold) * col("__sz") - lit(1e-9)) + lit(1)).cast("int")
    // r18: document frequency as a shingle-partitioned COUNT window over
    // the postings instead of a separate aggregate joined back (the r17
    // x_bm25 / tfidfCosinePairs shape, guide §2.3/§2.4): the dfreq
    // aggregate gave the postings subtree a second consumer, and
    // per-consumer column pruning made the copies non-reusable — the plan
    // re-ran the corpus tokenize+shingle+explode pass once per copy (r18
    // plan audit: four Generate-over-Scan subtrees; values identical
    // since posts is one row per (doc, shingle)). The window group is one
    // shingle's postings list; it spills (never OOMs) on a degenerate
    // stop-shingle, which the rarest-first prefix discards anyway.
    val wTok = Window.partitionBy(col("__tok"))
    val w = Window.partitionBy(col("__id")).orderBy(col("__df").asc, col("__tok").asc)
    // the prefix table feeds BOTH sides of the candidate self-join —
    // persist it too, or the doc-keyed window runs twice
    val prefixes = maybePin(posts
      .withColumn("__df", count(lit(1)).over(wTok))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= prefixLen)
      .select(col("__id"), col("__sz"), col("__tok"), col("__rank")))
    val sizeCompatible =
      least(col("__sza"), col("__szb")).cast("double") >=
        lit(threshold) * greatest(col("__sza"), col("__szb")) - lit(1e-9)
    // PPJoin positional filter (Xiao et al. WWW'08 §3.2): a match at ranks
    // (ra, rb) within the two sets' global rarest-first orders bounds the
    // overlap reachable through it by 1 + min(sza-ra, szb-rb); Jaccard >= t
    // needs overlap >= ceil(t/(1+t) * (sza+szb)). The bound is only valid
    // at a pair's FIRST common token — but that token is always in both
    // prefixes (anything globally earlier and shared would be too, having
    // strictly smaller ranks), so its match row always survives and the
    // per-match filter + distinct is LOSSLESS: it can only drop match rows
    // whose pair still reaches the verifier through the first-common-token
    // row. Cuts surviving candidates ~3.4x before the distinct exchange
    // and the exact verification — the factor grows with corpus size
    // (epsilon nudged DOWN so an integral bound never rounds up and drops
    // a boundary pair, same convention as prefixLen).
    val minOverlap = ceil(lit(threshold) / (1.0 + threshold) *
      (col("__sza") + col("__szb")) - lit(1e-9))
    val cand = prefixes.select(col("__id").as("id_a"), col("__sz").as("__sza"),
        col("__tok"), col("__rank").as("__ra"))
      .join(prefixes.select(col("__id").as("id_b"), col("__sz").as("__szb"),
        col("__tok"), col("__rank").as("__rb")), Seq("__tok"))
      .filter(col("id_a") < col("id_b") && sizeCompatible)
      .filter(lit(1) + least(col("__sza") - col("__ra"),
        col("__szb") - col("__rb")) >= minOverlap)
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(sized.select(col("__id").as("id_a"), col("__set").as("__set_a")),
        Seq("id_a"))
      .join(sized.select(col("__id").as("id_b"), col("__set").as("__set_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("__set_a"), col("__set_b")), 4).as("jaccard_sim"))
      .filter(col("jaccard_sim") >= threshold)
  }

  /**
   * Sparse TF-IDF cosine similarity join via an inverted index — the
   * weighted lexical companion of [[ngramJaccardPairs]] (multiset,
   * idf-weighted, so shared RARE shingles dominate the score the way
   * shared common ones never can). Terms are `shingleN`-token shingles;
   * `w(d,t) = tf(d,t) · ln(N / df(t))`; all pairs (id_a < id_b) with
   * `cosine >= threshold` are returned.
   *
   * Terms with document frequency above `maxDf` are EXCLUDED from the
   * vocabulary — that is part of the similarity definition (ubiquitous
   * terms carry no discriminative weight) and simultaneously the scale
   * guard: candidate pairs meet through per-term postings lists, whose
   * join cost is bounded by `maxDf · |postings|` products instead of the
   * df² blowup a stop-shingle would contribute. Documents whose every
   * term is pruned leave the index (template text has no rare-shingle
   * identity to compare). Norms are over INDEXED terms, consistently
   * with the pruned definition.
   *
   * Scale shape: one explode → (id, term) tf aggregate; the document
   * frequency rides a term-partitioned WINDOW over that aggregate rather
   * than a separate vocab aggregate joined back — so tf, df and the
   * weight all live in ONE term-partitioned stream, and the df filter /
   * norm aggregate / postings self-join are all consumers of the SAME
   * subtree (canonically equal → Spark plans one explode + reused
   * exchanges, where the vocab-join formulation re-ran the corpus explode
   * once per consumer). The pair join runs postings-vs-postings on term
   * keys (never doc×doc), collapsing map-side into per-pair dot products;
   * norms join id-keyed. Everything shuffles ids+terms+doubles, never
   * text.
   */
  def tfidfCosinePairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 3, maxDf: Long = 20L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shingleN >= 1, s"shingleN must be positive, got $shingleN")
    require(maxDf >= 2, s"maxDf < 2 can never produce a pair, got $maxDf")
    // single-task small scans serialize the tokenize+shingle front —
    // repair parallelism first (no-op on already-parallel inputs)
    val base = Par.fanOut(df, col(idCol))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
    val terms = base.select(col(idCol),
        explode(if (shingleN == 1) col("__toks")
        else TextAnalysis.shinglesOfTokens(col("__toks"), shingleN)).as("__term"))
      .groupBy(col(idCol), col("__term")).agg(count(lit(1)).as("__tf"))
    val nDocs = df.agg(count(lit(1)).cast("double").as("__n"))
    // df via a term-partitioned window: counts (id, term) rows per term —
    // identical to a vocab aggregate, but keeps everything in one stream
    // r18: `weights` is MATERIALIZED (lazy localCheckpoint) instead of the
    // size-gated pinIfLarge — it feeds the norm aggregate AND both sides
    // of the pair self-join, three consumers each of which otherwise
    // replans the full corpus tokenize+shingle+explode+postings+window
    // chain (r17 left this as the known residual; exchange reuse is
    // defeated by per-consumer pruning). The materialized set is the
    // maxDf-filtered postings (rare terms only — most of a shingle
    // vocabulary is df=1 and everything above maxDf is gone), far smaller
    // than the corpus passes it replaces, at ANY scale. Interleaved A/B
    // at 32 cores in the bench AQE regime: 1.139 -> 0.971 s (the r17
    // "wash" verdict predated the bench session's 256k AQE floor in the
    // A/B tool). Fault-tolerance note: localCheckpoint truncates lineage,
    // so an executor loss mid-query fails the query instead of
    // recomputing — same trade Graph/marginMinePairs already make.
    val weights = terms
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("__term"))))
      .filter(col("__df") <= maxDf)
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("__term"), col("__df"),
        (col("__tf") * log(col("__n") / col("__df"))).as("__w"))
      .localCheckpoint(false)
    val norms = weights.groupBy(col(idCol))
      .agg(sqrt(sum(col("__w") * col("__w"))).as("__norm"))
    // df=1 terms contribute to norms but can never meet a partner — a
    // narrow filter drops them before the pair join (most of a shingle
    // vocabulary is df=1, so this prunes the bulk of the postings)
    val pairable = weights.filter(col("__df") >= 2)
    val dots = pairable.select(col(idCol).as("id_a"), col("__term"), col("__w").as("__wa"))
      .join(pairable.select(col(idCol).as("id_b"), col("__term"), col("__w").as("__wb")),
        "__term")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("__wa") * col("__wb")).as("__dot"))
    dots
      .join(norms.select(col(idCol).as("id_a"), col("__norm").as("__na")), "id_a")
      .join(norms.select(col(idCol).as("id_b"), col("__norm").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("__dot") / (col("__na") * col("__nb")), 4).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  // --- SimHash -----------------------------------------------------------

  /**
   * 64-bit SimHash over word tokens: each distinct token's 64-bit hash
   * votes its bits +1/-1, sign of the vote total forms the fingerprint
   * bit. Computed by the SimHash64 native expression in one codegen'd
   * loop per row — a narrow map with no explode/shuffle. Output:
   * (idCol, simhash long).
   *
   * `tokenHash` picks the per-token hash. Default xxhash64 (best
   * avalanche). Pass [[Dedup.reproducibleTokenHash]] to make the whole
   * fingerprint reproducible outside Spark (external oracles): a
   * byte-level polynomial rolling hash whose high bits are then filled by
   * a wrapping multiply — both steps plain mod-2^64 arithmetic any engine
   * can replay.
   */
  def simhash(df: DataFrame, textCol: String, idCol: String,
      tokenHash: Column => Column = xxhash64(_)): DataFrame =
    // the fingerprint expression is per-row heavy (tokenize + per-token
    // hash + 64 bit votes); a single-task small scan serializes it —
    // repair parallelism first (no-op on already-parallel inputs)
    Par.fanOut(df, col(idCol)).select(col(idCol),
      graft.functions.GraftFunctions.simhash64(
        transform(array_distinct(TextAnalysis.tokens(col(textCol))), tokenHash))
        .as("simhash"))

  /** Golden-ratio odd multiplier (0x9E3779B97F4A7C15) — spreads the
    * low-entropy rolling hash of short tokens across all 64 bits so the
    * high simhash bits still discriminate. */
  val ReproducibleHashMix: Long = -7046029254386353131L

  /** Engine-independent token hash: rolling_hash then a wrapping multiply.
    * Every step is mod-2^64 integer arithmetic — see the d_simhash DuckDB
    * oracle in SparkEntry for the SQL replay. */
  def reproducibleTokenHash(t: Column): Column =
    graft.functions.GraftFunctions.wrapping_affine(
      graft.functions.GraftFunctions.rolling_hash(t), ReproducibleHashMix, 0L)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dups: pairs with hamming distance <= maxDist. Candidate
   * generation buckets on `maxDist + 1` fingerprint segments: a pair with
   * at most `maxDist` differing bits cannot differ in every one of
   * `maxDist + 1` disjoint segments (pigeonhole), so it must agree on at
   * least one — recall is GUARANTEED, not heuristic. Exact distance is
   * verified on the candidates. Avoids the O(n^2) cross join.
   *
   * maxDist is capped at 15: more segments mean narrower ones, and a
   * segment below 4 bits has so few distinct values that every bucket
   * degenerates toward n^2 — past that point brute force is cheaper.
   */
  /** Pigeonhole banding of (id, simhash) fingerprints: `maxDist + 1`
    * disjoint bit segments per fingerprint — two fingerprints within
    * `maxDist` hamming distance MUST agree on at least one whole segment,
    * so a segment-value equi-join has guaranteed recall. Output:
    * (idCol, simhash, seg, seg_val). */
  private[ops] def simhashBanded(fps: DataFrame, idCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 15,
      s"maxDist must be in [0, 15] for pigeonhole banding, got $maxDist")
    val segments = maxDist + 1
    val base = 64 / segments
    val rem = 64 % segments
    val widths = (0 until segments).map(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    fps.select(col(idCol), col("simhash"),
      posexplode(array((0 until segments).map { seg =>
        val mask = if (widths(seg) == 64) -1L else (1L << widths(seg)) - 1L
        shiftright(col("simhash"), offsets(seg)).bitwiseAND(mask)
      }: _*))
        .as(Seq("seg", "seg_val")))
  }

  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3,
      tokenHash: Column => Column = xxhash64(_)): DataFrame =
    fingerprintNearDups(simhash(df, textCol, idCol, tokenHash), idCol,
      "simhash", maxDist)

  /**
   * All pairs within `maxDist` Hamming over ANY 64-bit fingerprint column
   * — the banding machinery of [[simhashNearDups]] factored out so other
   * perceptual fingerprints ride it unchanged (image dHash, audio
   * fingerprints, rolling-hash sketches). Guaranteed recall via pigeonhole
   * segments; shuffle carries 8-byte keys + ids, never payloads.
   */
  def fingerprintNearDups(fps: DataFrame, idCol: String, fpCol: String,
      maxDist: Int = 3): DataFrame = {
    val banded = simhashBanded(
      fps.select(col(idCol), col(fpCol).as("simhash")), idCol, maxDist)
    val a = banded.select(col(idCol).as("id_a"), col("simhash").as("fp_a"), col("seg"), col("seg_val"))
    val b = banded.select(col(idCol).as("id_b"), col("simhash").as("fp_b"), col("seg"), col("seg_val"))
    a.join(b, Seq("seg", "seg_val"))
      // hamming is one xor+popcount on values already in the join row:
      // filter BEFORE the distinct so far pairs never shuffle again
      .filter(col("id_a") < col("id_b") &&
        hamming(col("fp_a"), col("fp_b")) <= maxDist)
      .select(col("id_a"), col("id_b"), hamming(col("fp_a"), col("fp_b")).as("hamming_dist"))
      .distinct()
  }

  /**
   * Ids in `newFps` within `maxDist` hamming of ANY fingerprint in
   * `seenFps` (both `(idCol, simhash)` shaped) — the incremental-arrival
   * half of [[simhashNearDups]]: new-vs-seen candidates come from the same
   * guaranteed-recall pigeonhole band join (8-byte keys, never all-pairs,
   * never text), so a daily/streaming batch checks against an accumulated
   * corpus at shuffle cost O(batch + collisions), not O(corpus²).
   */
  def simhashNearDupAgainst(newFps: DataFrame, seenFps: DataFrame,
      idCol: String, maxDist: Int = 3): DataFrame = {
    val a = simhashBanded(newFps, idCol, maxDist)
      .select(col(idCol), col("simhash").as("fp_a"), col("seg"), col("seg_val"))
    val b = simhashBanded(seenFps, idCol, maxDist)
      .select(col(idCol).as("__seen_id"), col("simhash").as("fp_b"),
        col("seg"), col("seg_val"))
    a.join(b, Seq("seg", "seg_val"))
      .filter(hamming(col("fp_a"), col("fp_b")) <= maxDist)
      .select(col(idCol))
      .distinct()
  }

  // --- near-dup clusters -------------------------------------------------

  /**
   * Connected components over an undirected pair graph — the step that
   * turns near-dup PAIRS into dedup CLUSTERS ("keep one doc per cluster").
   * Returns `(id, component)` for every id appearing in `pairs`, where
   * `component` is the minimum id reachable through the pair graph.
   *
   * Min-label propagation: each iteration is ONE equi-join shuffle on ids
   * (labels never carry payload columns), and labels strictly decrease
   * until fixpoint, reached in O(cluster diameter) iterations. Near-dup
   * clusters are shallow by construction (docs similar to a common ancestor
   * collide directly), so 2-4 iterations suffice in practice; `maxIter`
   * bounds adversarial chains, and the method fails loudly rather than
   * returning half-propagated labels. For graphs with genuinely deep
   * components the two-phase large-star/small-star variant (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC'14) drops the
   * round count to O(log n); near-dup graphs don't need it.
   *
   * Small-graph fast path: the edge list is materialized (checkpointed)
   * before the loop anyway, so its size is known for free — an edge set
   * of at most `localThreshold` integral-id pairs (16 bytes each; the
   * default 2M ≈ 32 MB) skips the loop entirely and runs ONE in-task
   * union-find ([[groupedConnectedComponents]] under a constant group).
   * This is the AQE move — measured-small inputs take the cheap plan —
   * and near-dup edge sets are tiny relative to their corpus (only
   * colliding pairs survive the verify). Every iterative-loop job
   * (seed, per-round join + checkpoint + convergence count) disappears
   * for the common case; the loop remains the scale path above the
   * threshold, and `localThreshold = 0` forces it (spec-pinned
   * equivalence between the two).
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, localThreshold: Long = 2000000L): DataFrame = {
    // materialize the (possibly expensive) pair source once: the two union
    // branches below would otherwise each re-evaluate its full subtree —
    // for near-dup input that is the candidate-verify pipeline, twice
    val directed = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint()
    val integralIds = directed.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (integralIds && directed.count() <= localThreshold) {
      val idType = directed.schema("src").dataType
      return groupedConnectedComponents(
          directed.withColumn("__g", lit(0L)), "__g", "src", "dst")
        .select(col("id").cast(idType).as("id"),
          col("component").cast(idType).as("component"))
    }
    // both directions once; reused by every iteration. No distinct: the
    // propagation aggregates with min(), which is idempotent, so duplicate
    // edges change nothing — deduplicating here would cost a full shuffle
    // of the edge set for zero semantic effect
    val edges = directed
      .union(directed.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    // the loop references each round's labels twice (neighbor lookup +
    // rejoin), so lineage would double per round — localCheckpoint
    // materializes the iterate and truncates the plan, the standard
    // treatment for iterative DataFrame algorithms (a durable checkpoint
    // dir does the same on a cluster)
    // seed with min(id, direct neighbors) — one aggregation over the
    // already-partitioned edges performs the whole first propagation round
    // at a fraction of an iteration's join + checkpoint + action cost
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("component"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    try {
      while (!converged && iter < maxIter) {
        // min over own label and all neighbors' labels, one shuffle
        val nbrMin = edges.join(labels.withColumnRenamed("id", "__nid"),
            edges("dst") === col("__nid"))
          .groupBy(col("src").as("id"))
          .agg(min(col("component")).as("__nbr"))
        val next = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("component"), coalesce(col("__nbr"), col("component"))).as("component"),
            (col("__nbr") < col("component")).as("__changed"))
          .localCheckpoint()
        converged = next.filter(col("__changed")).limit(1).count() == 0
        labels = next.drop("__changed")
        iter += 1
      }
      require(converged, s"connectedComponents did not converge in $maxIter " +
        "iterations: component diameter exceeds the bound; raise maxIter or " +
        "switch to the large-star/small-star variant")
    } finally edges.unpersist()
    labels
  }

  /**
   * Near-duplicate CLUSTER dedup: MinHash-LSH pairs → connected components
   * → keep the minimum-id representative of each cluster plus every
   * unpaired doc. The full pipeline a training corpus runs: only ids flow
   * through the clustering shuffles; document payloads are joined back
   * exactly once at the end (broadcast when the cluster map is small).
   */
  def nearDupDedup(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, k: Int = 32, bands: Int = 16,
      shingleN: Int = 2): DataFrame =
    keepRepresentatives(df,
      minhashNearDups(df, textCol, idCol, threshold, k, bands, shingleN), idCol)

  /** The cluster-keep step of [[nearDupDedup]] on an EXPLICIT pair list:
    * connected components over `pairs` (columns `id_a`/`id_b`), then keep
    * each cluster's minimum-id representative plus every unpaired row.
    * Factored out so any pair source (MinHash, SimHash, brute-force
    * Jaccard, embedding cosine) feeds the same dedup tail — and so the
    * tail is oracle-checkable from a deterministic pair source. */
  def keepRepresentatives(df: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame =
    keepByComponents(df, connectedComponents(pairs, "id_a", "id_b"), idCol)

  /** The representative-keep join on a PRECOMPUTED `(id, component)`
    * labeling: keep rows that are their component's label (= the minimum
    * id) plus every unlabeled row. Shared by the iterative and the
    * grouped component sources. */
  private[graft] def keepByComponents(df: DataFrame, comps: DataFrame,
      idCol: String): DataFrame = {
    val c = comps.withColumnRenamed("id", "__cc_id")
    df.join(c, df(idCol) === col("__cc_id"), "left")
      .filter(col("component").isNull || col("component") === df(idCol))
      .drop("__cc_id", "component")
  }

  /**
   * Connected components of a pair graph whose edges are GUARANTEED never
   * to cross `groupCol` — e.g. [[graft.ops.Similarity.semDedupPairs]],
   * where every pair shares a centroid cell by construction. Exploiting
   * that invariant collapses [[connectedComponents]]' iterative join loop
   * (a localCheckpoint + convergence-count JOB per round — the dominant
   * cost of the semantic-dedup pipeline at bench scale) into ONE id-only
   * shuffle followed by an in-task union-find per group.
   *
   * Scale shape: the exchange carries `(group, id_a, id_b)` triples —
   * never payloads — and each task's state is one union-find over a
   * single group's edge set, bounded by the same per-cell cap that bounds
   * the quadratic pair join producing the edges (a group whose edges fit
   * through the pair join by definition fits in memory as id pairs). The
   * per-group imperative fold is genuine per-partition logic — the
   * sanctioned mapGroups case — not a row-lambda standing in for a
   * builtin. Output matches [[connectedComponents]] exactly: one row per
   * id that appears in `pairs`, labeled with its component's minimum id.
   */
  def groupedConnectedComponents(pairs: DataFrame, groupCol: String,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val sp = pairs.sparkSession
    import sp.implicits._
    pairs
      .select(col(groupCol).cast("long").as("g"),
        col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, edges) =>
        // union-find with path halving; roots relabeled to component-min id
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrElse(x, x)
          while (p != x) {
            val gp = parent.getOrElse(p, p)
            parent(x) = gp
            x = p
            p = parent.getOrElse(x, x)
          }
          x
        }
        edges.foreach { case (_, a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        // roots are already component minima: union always points the
        // larger root at the smaller, and roots only ever decrease
        parent.keysIterator.map(id => (id, find(id))).toSeq.iterator
      }
      .toDF("id", "component")
  }

  /**
   * Shared five-stage plan behind the span statistics: shingle explode
   * over a PRE-MATERIALIZED token array (inlining `tokens()` into the
   * shingle lambda would re-split the text once per output shingle —
   * O(tokens²) regex work, see [[TextAnalysis.shingles]]'s warning),
   * md5 digest, a TWO-LEVEL per-digest aggregate (map-side partial
   * min/max collapse every digest to one row per input partition before
   * the exchange, so no task ever buffers a digest's full occurrence
   * list — a viral boilerplate window with 10⁸ corpus-wide occurrences
   * costs its reduce task ≤ #map-partitions partial rows, where the
   * window-over-digest shape this replaced materialized all 10⁸ in one
   * WindowExec group), a streaming shuffled-hash join of the instances
   * against the per-digest stats (build side = the digest stats, probe
   * side streams — a hot digest's instances concentrate in one join
   * partition but are never buffered, and AQE's skew-join split can
   * further divide that partition), and a map-side-collapsed per-doc
   * aggregate left-joined back onto the DISTINCT doc ids — one output
   * row per distinct id even if the input repeats ids, and zero-window
   * docs (shorter than `window` tokens) rejoin with zero counts. The
   * corpus-sized digest rows ride two exchanges (agg partials + join) —
   * O(corpus tokens × digest width) either way, the price of deleting
   * the unbounded hot-digest group; no driver-side state.
   */
  private def spanFlagStats(df: DataFrame, textCol: String, idCol: String,
      window: Int, flagName: String)(
      flag: (Column, Column) => Column): DataFrame = {
    require(window >= 2, s"window must be >= 2 tokens, got $window")
    // both the per-digest aggregate and the join probe consume the
    // tokenize+shingle+md5 subtree — pin it for large corpora so the
    // regex/digest map work runs once, not twice; fan out single-task
    // small scans first (no-op on already-parallel inputs)
    val wins = pinIfLarge(df, Par.fanOut(df, col(idCol))
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol),
        explode(TextAnalysis.shinglesOfTokens(col("__toks"), window)).as("__w"))
      .select(col(idCol), md5(col("__w")).as("__k")))
    val keyStats = wins
      .groupBy(col("__k"))
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
    val stats = wins
      .join(keyStats.hint("shuffle_hash"), Seq("__k"))
      .withColumn("__f", flag(col("__mn"), col("__mx")).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"), sum(col("__f")).as(flagName))
    df.select(col(idCol)).distinct()
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col(flagName), lit(0L)).as(flagName))
  }

  /**
   * Cross-document duplicated-SPAN statistics — substring-level dedup
   * signal (the "dedup the repeated 50-token spans, not whole documents"
   * idea from the training-data dedup literature; whole-doc near-dup
   * misses boilerplate/license blocks pasted into otherwise-distinct
   * documents). For every document: how many of its `window`-token
   * sliding windows also occur in at least one OTHER document —
   * `min(doc) != max(doc)` over the span key ("seen in ≥2 distinct
   * docs", no countDistinct).
   *
   * Returns one row per distinct doc id:
   * `(idCol, n_windows, n_dup_windows, dup_frac)` where `dup_frac` is
   * `n_dup_windows / n_windows` (0 for docs shorter than the window).
   * Plan shape: [[spanFlagStats]].
   */
  def duplicatedSpanStats(df: DataFrame, textCol: String, idCol: String,
      window: Int = 8): DataFrame =
    spanFlagStats(df, textCol, idCol, window, "n_dup_windows") { (mn, mx) =>
      mn =!= mx
    }.withColumn("dup_frac",
      when(col("n_windows") > 0,
        round(col("n_dup_windows").cast("double") / col("n_windows"), 4))
        .otherwise(lit(0.0)))

  /**
   * Per-document span NOVELTY — the directional companion of
   * [[duplicatedSpanStats]]: processing documents in `idCol` order, what
   * fraction of a document's `window`-token spans has never appeared in
   * any EARLIER document? This is the "how much does this doc add"
   * curation signal (novelty-weighted sampling; dataset-growth audits):
   * a span is "seen" for doc d iff its corpus-wide first occurrence
   * (`min(doc)` over the span key) precedes d.
   *
   * Returns one row per distinct doc id:
   * `(idCol, n_windows, n_seen_windows, novelty_frac)` with
   * `novelty_frac = 1 - n_seen/n_windows`; docs shorter than the window
   * score 1.0 (nothing repeated). Plan shape: [[spanFlagStats]].
   */
  def spanNoveltyStats(df: DataFrame, textCol: String, idCol: String,
      window: Int = 8): DataFrame =
    spanFlagStats(df, textCol, idCol, window, "n_seen_windows") { (mn, _) =>
      mn < col(idCol)
    }.withColumn("novelty_frac",
      when(col("n_windows") > 0,
        round(lit(1.0) - col("n_seen_windows").cast("double") / col("n_windows"), 4))
        .otherwise(lit(1.0)))

  /**
   * Exact long-substring dedup at MAXIMAL match granularity (Lee et al.
   * 2022, "Deduplicating Training Data Makes Language Models Better" —
   * the ExactSubstr operation: flag every verbatim substring of >= k
   * tokens that occurs more than once in the corpus, merged to maximal
   * spans rather than fixed windows; public literature). The companion
   * of [[duplicatedSpanStats]] (which only COUNTS fixed windows): this
   * returns the actual spans a dedup pass would cut.
   *
   * Definition (the distributed anchored-extension equivalent of Lee's
   * suffix-array pass): a token position p of document d is COVERED iff
   * the k-token window starting at p occurs >= 2 times corpus-wide
   * (any document, including d itself). Maximal runs of consecutive
   * covered positions [p..q] become one span `[p, q + k - 1]` — a
   * repeat of length L >= k covers exactly L - k + 1 consecutive
   * windows, so maximal repeats reassemble exactly, however many window
   * boundaries they straddle (spec-pinned).
   *
   * Returns one row per maximal span:
   * `(idCol, start_pos, end_pos, n_tokens)` (1-based token positions,
   * inclusive). Docs with no repeated >= k substring produce no rows.
   *
   * Scale shape: only digest-keyed exchanges and one doc-keyed window —
   * window text never leaves the map side (16-byte md5 + doc + pos ride
   * the shuffles). The duplicate test is a TWO-LEVEL count: map-side
   * partial counts collapse every digest to one row per input partition,
   * so a viral boilerplate window with 10⁸ corpus-wide occurrences costs
   * its reduce task ≤ #map-partitions partial rows — the
   * count-over-digest window this replaced buffered all 10⁸ occurrences
   * in a single WindowExec group (straggler + spill). The duplicated-key
   * set then flags instances through a streaming left-semi shuffled-hash
   * join (build side = the duplicated digests, probe side streams
   * unbuffered; AQE's skew-join split can further divide a hot probe
   * partition). Finally a doc-keyed window does the gaps-and-islands
   * merge (per-doc partitions, bounded by document length). No
   * self-join, no suffix array materialization: the suffix-array
   * construction of the paper is a single-machine formulation — window
   * digests + run merging compute the same covered set with
   * corpus-linear shuffled bytes.
   */
  def maximalRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"k must be >= 2 tokens, got $k")
    // pinned for large corpora: the duplicate-key aggregate and the
    // semi-join probe both consume the tokenize+shingle+md5 subtree;
    // fan out single-task small scans first (no-op when already parallel)
    // the RAW native shingles expression, not shinglesOfTokens' coalesce
    // wrapper (r18): under a non-outer posexplode a NULL array and the
    // coalesced empty array emit identically zero rows, but the coalesce
    // fallback literal carries containsNull=true, which made the exploded
    // window column nullable — and the duplicate-key join then INFERRED
    // `isnotnull(md5(...))`, evaluating the md5 digest a second time per
    // window row in a Filter (plan audit: md5 in both Filter and Project).
    // With containsNull=false the inferred filter constant-folds away and
    // each window digest is computed exactly once.
    val wins = pinIfLarge(df, Par.fanOut(df, col(idCol))
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol),
        posexplode(graft.functions.GraftFunctions.shingles(col("__toks"), k)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("__p"),
        md5(col("col")).as("__k")))
    val dupKeys = wins
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
      .select(col("__k"))
    val covered = wins
      .join(dupKeys.hint("shuffle_hash"), Seq("__k"), "leftsemi")
      .select(col(idCol), col("__p"))
    // gaps-and-islands: consecutive covered positions share (p - rank)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__p"))
    covered
      .withColumn("__g", col("__p") - row_number().over(byDoc))
      .groupBy(col(idCol), col("__g"))
      .agg(min(col("__p")).as("start_pos"),
        (max(col("__p")) + lit(k - 1)).as("end_pos"))
      .select(col(idCol), col("start_pos"), col("end_pos"),
        (col("end_pos") - col("start_pos") + 1).as("n_tokens"))
  }
}
