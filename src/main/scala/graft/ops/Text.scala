package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (beyond-reference;
  * BASELINE.json north star): token counting, quality scoring, language ID,
  * fingerprinting. Everything is built from codegen'd
  * `org.apache.spark.sql.functions` expressions — no UDFs, so the whole
  * pipeline stays inside WholeStageCodegen and scales linearly with
  * executors (pure map-side work, zero shuffles except the oracle sort).
  */
object Text {

  /** Whitespace tokens of the normalized text. */
  def tokensCol(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish subword segments: split on whitespace AND letter/digit/punct
    * boundaries — a cheap deterministic stand-in for a real BPE vocab that
    * still distinguishes "words" from punctuation/number runs. */
  def subwordsCol(text: Column): Column =
    // e.g. "ab12,cd" -> ["ab","12",",","cd"]
    filter(
      split(regexp_replace(text, "([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+)", "$1 "), "\\s+"),
      t => t =!= "")

  /** Per-document token statistics: `size` of [[tokensCol]], of its
    * `array_distinct` and of [[subwordsCol]], from ONE pass of the
    * [[graft.functions.TextKernels.tokenStats]] kernel (no regex, no
    * token arrays). [[Tables.documentsByDocId]] arrives range-partitioned
    * on doc_id, so the kernel runs once after that spread and the ORDER
    * BY is a local sort — no second exchange whose sampling job would
    * replay the projection. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsByDocId(spark, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars_m"),
        graft.functions.TextKernels.tokenStatsKernel(col("text")).as("ts"))
      .select(col("doc_id"), col("n_chars_m"), col("ts.n_tokens"),
        col("ts.n_unique_tokens"), col("ts.n_subwords"))
      .orderBy("doc_id")

  /** Heuristic quality score from length/punctuation/letter/stopword ratios —
    * the standard pre-training corpus filter features, all as codegen'd
    * string expressions. */
  def qualityScores(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val nChars = length(t).cast("double")
    val nLetters = (length(t) - length(regexp_replace(t, "[a-zA-Z]", ""))).cast("double")
    val nPunct = (length(t) - length(regexp_replace(t, "[.,;:!?]", ""))).cast("double")
    val nToks = col("ts.n_tokens").cast("double")
    val meanTokLen = nChars / greatest(nToks, lit(1.0))
    // ratios stay UNROUNDED: they are integer/integer quotients, and
    // round(int/int, k) is cross-engine flaky when the denominator is
    // 2^a·5^b (the quotient terminates exactly on a decimal tie, where
    // Spark's HALF_UP and DuckDB's binary rounding disagree — same class
    // of bug as ev_tumbling's avg). The quotient of identical integers
    // is bit-identical in both engines; nothing to round, nothing to
    // disagree about.
    Tables.documents(spark, dir)
      .select(col("doc_id"), t,
        graft.functions.TextKernels.tokenStatsKernel(t).as("ts"))
      .select(
        col("doc_id"),
        (nLetters / greatest(nChars, lit(1.0))).as("letter_ratio"),
        (nPunct / greatest(nChars, lit(1.0))).as("punct_ratio"),
        meanTokLen.as("mean_token_len"),
        col("ts.n_unique_tokens").cast("double")
          .divide(greatest(nToks, lit(1.0))).as("ttr"))
      .orderBy("doc_id")
  }

  /** Corpus language statistics (group by the labeled lang column). */
  def langStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        // unrounded: integer-sum / count quotient (see qualityScores)
        (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("lang")

  /** Stopword tables for the n-gram/stopword language-ID heuristic. Small,
    * broadcast-friendly; at scale this would be a broadcast dim of
    * (lang, marker) rather than an inlined literal array. */
  private val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "no", "por", "que", "una"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  /** Language-ID prediction: score = count of language-marker tokens,
    * argmax over languages; ties resolve to the alphabetically-first
    * language code. Pure per-row expression work (array intersection
    * against tiny literal arrays) — embarrassingly parallel at any scale. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    // one tokenization pass via the langScores kernel (the composable
    // per-language size(filter(isin)) form re-expanded into ~15 splits
    // per document across its consumers); languages sorted ascending so
    // array_position's FIRST max = the smallest lang code on ties —
    // identical to the previous array_min-over-ties rule
    val sorted = langMarkers.toSeq.sortBy(_._1)
    val markersArr = array(sorted.map { case (_, ms) => array(ms.map(lit): _*) }: _*)
    val langsArr = array(sorted.map(p => lit(p._1)): _*)
    val sc = graft.functions.TextKernels.langScoresKernel(col("text"), markersArr)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("lang_true"), sc.as("sc"))
      .select(
        col("doc_id"),
        col("lang_true"),
        element_at(langsArr,
          array_position(col("sc"), array_max(col("sc"))).cast("int")).as("lang_pred"),
        array_max(col("sc")).cast("int").as("score"))
      .orderBy("doc_id")
  }

  /** Corpus sampling via deterministic hash-mod bucketing: a Knuth
    * multiplicative hash of doc_id lands each row in [0, 2^32); rows under
    * `fraction * 2^32` are kept. Two shapes a training-data pipeline uses:
    * a uniform eval split, and per-language stratified rebalancing
    * (downsample the dominant language, keep the tail).
    *
    * Why hash-mod instead of `df.sample`/`sampleBy`: (a) fully in-plan —
    * no driver-side strata discovery (`sampleBy` needs the key list up
    * front), no RNG state; (b) reproducible across engines, so the query
    * is DuckDB-oracle-able instead of rows-only; (c) stable under
    * re-partitioning — `sample`'s seed is per-partition, so the same row
    * can flip in/out when partitioning changes; a content hash can't.
    * This is the split-assignment scheme production corpus pipelines use. */
  def sampledCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val M = 4294967296L // 2^32
    val hUni = pmod(col("doc_id") * lit(2654435761L), lit(M))
    val uniform = docs.filter(hUni < lit(858993459L)) // 20% of 2^32
      .select(col("doc_id"), lit("uniform").as("split"))
    // independent salt+multiplier so the stratified split is uncorrelated
    // with the uniform one; en (the dominant language) downsampled to 5%,
    // tail languages kept at 15%
    val hStr = pmod((col("doc_id") + lit(7L)) * lit(2246822519L), lit(M))
    val frac = when(col("lang") === "en", lit(0.05)).otherwise(lit(0.15))
    val stratified = docs.filter(hStr.cast("double") < frac * M.toDouble)
      .select(col("doc_id"), lit("stratified").as("split"))
    uniform.unionByName(stratified).orderBy("split", "doc_id")
  }

  /** Corpus heavy hitters: explode tokens -> two-stage count -> top-k.
    * The shuffle carries (token, partial_count) pairs — at 100 TB the
    * partial map-side count collapses each partition to its vocabulary
    * before anything moves. Exact (oracle-able); the sketch alternative at
    * extreme cardinality is count-min + freqItems, same plan shape. */
  def topTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokensCol(lower(col("text")))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(50)

  /** Per-language heavy hitters: the partitioned variant of [[topTokens]]
    * — token counts per (lang, token), then a rank-per-lang top-10. The
    * rank filter plans as WindowGroupLimit (per-partition k-heap), so at
    * scale each language's candidate set shrinks map-side before the
    * final rank — the standard "top-k per group" shape. */
  def topTokensPerLang(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("token").asc)
    Tables.documents(spark, dir)
      .select(col("lang"), explode(tokensCol(lower(col("text")))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .orderBy("lang", "rk")
  }

  /** Per-domain cap — the web-corpus guard against a single domain
    * dominating the training mixture: within each source, keep only the
    * top-[[DomainCapK]] documents by (length desc, doc_id) and emit their
    * per-source rank. Kept deliberately a PURE rank-filter (no second
    * unbounded window in the same pass) so Catalyst plans it as
    * WindowGroupLimit: every map task keeps a k-heap per source and
    * discards the long tail BEFORE the shuffle — at 100 TB the exchange
    * carries ~|domains|·k rows, not the corpus. Pinned by PlanShapeSpec. */
  val DomainCapK = 10
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= DomainCapK)
      .orderBy("source", "rnk")
  }

  /** Breadth check over the scalar string-function surface (the reference
    * has zero string functions, SURVEY.md §2.4): case mapping, slicing,
    * concat, regexp extraction, padding, reversal — all codegen'd. */
  def stringFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey").as("custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
        regexp_extract(col("c_name"), "(\\d+)", 1).as("name_digits"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded_key"),
        reverse(col("c_mktsegment")).as("seg_rev"),
        length(col("c_name")).as("name_len"))
      .orderBy("custkey")

  /** Document fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key. Deterministic and SQL-expressible, so it
    * oracle-checks byte-for-byte. (The xxhash64 rolling fingerprint lives
    * in [[fingerprintsFast]]; DuckDB has no xxhash64, so that variant gets
    * the rows-only check.) */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp_md5"))
      .orderBy("doc_id")

  /** Deterministic output sharding — the WRITE stage of a training-data
    * pipeline: each document routes to one of `nShards` shards by a
    * content hash (top-32 md5 word, the repo's verified cross-engine
    * idiom), and the manifest reports per-shard doc/token/char totals
    * for balance auditing. Content-addressed routing keeps byte-equal
    * replicas in one shard (the dedup-friendly layout) and is engine-
    * and partitioning-independent — re-running anywhere yields the same
    * shard map. Scale shape: the shard id is one codegen'd md5+conv
    * projection (map-side); the ONLY shuffle is the ≤nShards-row
    * manifest aggregate. The actual write is the same plan with
    * `.write.partitionBy("shard_id")` — at 100 TB each shard lands as
    * its own parquet partition and the manifest is the audit artifact
    * the training loader reads. */
  def shardManifest(spark: SparkSession, dir: String, nShards: Int = 64): DataFrame =
    shardManifestDf(Tables.documents(spark, dir), nShards)

  /** Core of [[shardManifest]] over any (doc_id, text, n_chars) corpus —
    * the composition pipelines (PipelineRoundTripSpec) shard their
    * incrementally-built corpora through the same plan. */
  private[graft] def shardManifestDf(documents: DataFrame, nShards: Int = 64): DataFrame =
    documents
      .select(col("doc_id"), col("n_chars"),
        pmod(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"),
          lit(nShards.toLong)).as("shard_id"),
        size(tokensCol(col("text"))).as("n_toks"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("long").as("n_tokens"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("shard_id")

  /** Compaction planner over the [[shardManifest]] — the write stage's
    * small-file remedy: consecutive shards are packed into output files
    * of ~[[CompactionTargetChars]] chars by running-total bucketing
    * (`file_id = floor(chars_before / target)`), so each file holds a
    * contiguous, deterministic shard range and overshoots the target by
    * at most one shard. The plan is the manifest's bounded aggregate plus
    * ONE single-partition window over ≤64 rows (pre-bounded input — the
    * same plan class as the pinned top-k windows) and a ≤64-row rollup:
    * corpus size never touches the window. Fill ratios are exact-int/int
    * double quotients (cross-engine bit-identical, the repo's ratio
    * discipline). */
  val CompactionTargetChars = 16384L
  def compactionPlan(spark: SparkSession, dir: String): DataFrame =
    compactionPlanDf(shardManifest(spark, dir))

  /** Core of [[compactionPlan]] over any [[shardManifestDf]] output. */
  private[graft] def compactionPlanDf(manifest: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val before = Window.orderBy(col("shard_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    manifest
      .withColumn("chars_before", coalesce(sum(col("total_chars")).over(before), lit(0L)))
      .withColumn("file_id", floor(col("chars_before") / CompactionTargetChars))
      .groupBy(col("file_id"))
      .agg(
        count(lit(1)).as("n_shards"),
        min(col("shard_id")).as("first_shard"),
        max(col("shard_id")).as("last_shard"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("total_chars")).as("n_chars"))
      .withColumn("fill_ratio",
        col("n_chars").cast("double") / CompactionTargetChars.toDouble)
      .orderBy("file_id")
  }

  /** End-to-end corpus-cleaning pipeline — the composition a pre-training
    * data pipeline actually runs, expressed as ONE declarative plan so
    * Catalyst fuses the stages: length filter → exact dedup (keep the
    * smallest doc_id per fingerprint) → deterministic train/val split
    * (90/10 hash-mod, same scheme as [[sampledCorpus]]). The only shuffle
    * is the dedup window on the 16-byte fingerprint; filters reach the
    * scan. Fully deterministic, so the whole pipeline oracle-checks. */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val M = 4294967296L // 2^32
    val scored = Tables.documents(spark, dir)
      .filter(col("n_chars").between(50, 100000))
      .select(col("doc_id"), col("lang"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
    scored
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("lang"),
        when(pmod(col("doc_id") * lit(2654435761L), lit(M)) < lit(3865470566L), "train")
          .otherwise("val").as("split"))
      .orderBy("doc_id")
  }

  /** Long-document chunking: split each document into fixed-size
    * character windows with overlap (stride = chunk − overlap) — the
    * context-window preparation step before tokenization/packing. Pure
    * per-row explode + substring (map-side, no shuffle but the oracle
    * sort); emits chunk metadata + an md5 content fingerprint per chunk
    * rather than the chunk text itself, so downstream joins carry 16-byte
    * keys, not body bytes. */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame = {
    val chunk = 500
    val overlap = 50
    val stride = chunk - overlap // 450
    val nChunks = greatest(
      ceil((col("n_chars") - lit(overlap)).cast("double") / stride).cast("long"), lit(1L))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), nChunks - 1)).as("idx"))
      .select(col("doc_id"), col("idx"),
        length(substring(col("text"), (col("idx") * stride + 1).cast("int"), lit(chunk)))
          .as("chunk_len"),
        md5(substring(col("text"), (col("idx") * stride + 1).cast("int"), lit(chunk)))
          .as("chunk_md5"))
      .orderBy("doc_id", "idx")
  }

  /** Benchmark decontamination: corpus documents sharing ≥2 distinct
    * 3-gram shingles with the eval set (here: doc_id < 10 stands in for
    * the benchmark) — the overlap check run before training to avoid
    * test-set leakage. The eval shingle set is tiny → broadcast, so the
    * whole scan is map-side; shingles hash to int64 like the other dedup
    * paths; the only shuffle is the per-doc overlap count. */
  def contaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextKernels
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextKernels.shinglesKernel(col("text"), 3)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("shingle"))
    val evalSet = sh.filter(col("doc_id") < 10).select(col("shingle")).distinct()
    sh.filter(col("doc_id") >= 10)
      .join(broadcast(evalSet), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("shingle")).as("n_overlap"))
      .filter(col("n_overlap") >= 2)
      .orderBy("doc_id")
  }

  /** Mixture accounting over the corpus `source` column: per (source,
    * lang) document/token tallies plus each cell's share of the total
    * token budget — the bookkeeping a data-mixture config is derived
    * from. One groupBy shuffle; the share normalization rides a
    * single-row broadcast crossJoin (not an unpartitioned window — same
    * scalar pattern as [[trigramPerplexityDf]]; the duplicated agg branch
    * is free via exchange reuse). */
  def mixtureReport(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(tokensCol(col("text"))).cast("long").as("n_toks"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("total_tokens"))
    val grand = cells.agg(sum(col("total_tokens")).as("grand_total"))
    cells.crossJoin(broadcast(grand))
      .withColumn("token_share", col("total_tokens") / col("grand_total"))
      .drop("grand_total")
      .orderBy("source", "lang")
  }

  /** Gopher-style quality rules (Rae et al. 2021, public): word count in
    * [50, 100k], mean word length in [3, 10], and ≥2 of the 8 canonical
    * English stopwords present. Emits per-document rule inputs + the
    * combined keep flag rather than filtering, so downstream can audit
    * WHY a document fails (the operational shape of corpus filtering —
    * you never throw away the reason). All codegen'd HOF expressions,
    * map-side only. Non-English docs naturally fail the stopword rule —
    * that is the rule working as published, not a bug. */
  def gopherQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // one tokenization pass via the gopherStats kernel (the composable
    // size/aggregate/array_contains form re-tokenized ~11× per document);
    // the g array is referenced by several columns, so CollapseProject
    // keeps the single call (non-cheap multi-reference rule)
    val g = graft.functions.TextKernels.gopherStatsKernel(
      col("text"), array(stops.map(lit): _*))
    val nW = element_at(col("g"), 1)
    val meanLen = element_at(col("g"), 2).cast("double") /
      greatest(nW.cast("double"), lit(1.0))
    val stopHits = element_at(col("g"), 3).cast("int")
    Tables.documents(spark, dir)
      .select(col("doc_id"), g.as("g"))
      .select(col("doc_id"), nW.as("n_words"),
        meanLen.as("mean_word_len"), stopHits.as("stop_hits"),
        (nW.between(50L, 100000L) && meanLen.between(3.0, 10.0) &&
          (stopHits >= 2)).as("keep"))
      .orderBy("doc_id")
  }

  /** Sequence packing for training batches: assign documents to
    * fixed-token-budget bins (context windows) by contiguous fill in
    * doc_id order within each language shard — bin = floor(tokens-before
    * / budget), the standard streaming-pack approximation of bin packing
    * (greedy first-fit needs sequential state; the contiguous fill is
    * order-deterministic, one window shuffle, and within 1 doc of greedy
    * occupancy per boundary). Output: one row per document with its bin
    * and intra-bin offset. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 2048L
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(tokensCol(col("text"))).cast("long").as("n_tokens"))
      .withColumn("tokens_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor(col("tokens_before") / budget).as("bin"),
        (col("tokens_before") % budget).as("bin_offset"))
      .orderBy("doc_id")
  }

  /** Temperature-based language rebalancing (the `p_l ∝ share_l^α`
    * mixture trick from multilingual pre-training): a language's keep
    * probability is `(share_l)^(α-1)` normalized so the rarest language
    * keeps everything — downsampling dominant languages, keeping the
    * tail. Per-doc keep decision is the deterministic multiplicative
    * hash, so the whole query is in-plan and oracle-able; the per-lang
    * rates come from a broadcast-joined aggregate, never a driver
    * collect. */
  def temperatureResample(spark: SparkSession, dir: String, alpha: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // per-lang counts + two corpus scalars (total, max weight) as
    // single-row broadcast crossJoins — no unpartitioned window
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("tot_n"))
    val weighted = counts.crossJoin(broadcast(tot))
      .withColumn("w", pow(col("n") / col("tot_n"), alpha - 1.0))
    val maxW = weighted.agg(max(col("w")).as("max_w"))
    val rates = weighted.crossJoin(broadcast(maxW))
      .select(col("lang"), (col("w") / col("max_w")).as("p"))
    val M = 4294967296L
    val h = pmod((col("doc_id") + lit(13L)) * lit(2654435761L), lit(M))
    docs.join(broadcast(rates), Seq("lang"))
      .filter(h.cast("double") < col("p") * M.toDouble)
      .select(col("doc_id"), col("lang"), round(col("p"), 6).as("keep_p"))
      .orderBy("doc_id")
  }

  /** BM25 retrieval over the corpus for a fixed query-term set — the
    * classic sparse-retrieval scorer a training-data pipeline uses to mine
    * topical documents (and the lexical half of hybrid search next to the
    * ANN operators in [[Vectors]]).
    *
    * Scale shape: ZERO explode — per-document term frequencies for the
    * (tiny, fixed) query vocabulary come from ONE tokenization pass PER
    * BRANCH (the [[graft.functions.TextKernels.termFreqs]] codegen
    * kernel; the composable `size(filter(split(...)))` form re-tokenized
    * the text once per column with interpreted lambdas). The projected tf
    * table feeds two consumers — the stats aggregate and the scoring
    * branch — with no exchange between them, so the corpus is scanned
    * twice and the kernel runs at most twice per document
    * (PlanShapeSpec pins ≤ 2, not 1); the corpus statistics
    * (N, avgdl, per-term document frequencies) are ONE single-row
    * aggregate broadcast back via crossJoin; the result is a
    * TakeOrderedAndProject top-k. The only full shuffle at any scale is
    * the top-k's final merge. Ordering is by ROUNDED score (then
    * doc_id), so the cross-engine cut line never depends on a last-ulp
    * difference. */
  def bm25Retrieval(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(20)

  /** Unlimited BM25 score table (doc_id, bm25) for the fixed query-term
    * set — the pre-top-k core of [[bm25Retrieval]], reused as the lexical
    * leg of [[hybridSearch]]. */
  def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "shuffle", "join")
    val k1 = 1.2
    val b = 0.75
    val tfs = graft.functions.TextKernels.termFreqsKernel(
      col("text"), array(terms.map(lit): _*))
    // coalesce makes each extracted column non-nullable (element_at is
    // nullable in general), so InferFiltersFromConstraints has no
    // isnotnull(...) to push below the projection — without it, the
    // inferred null checks re-invoke the kernel once per column at the scan
    val tfCols = coalesce(element_at(col("tfs"), 1), lit(0L)).cast("double").as("dl") +:
      terms.indices.map(i =>
        coalesce(element_at(col("tfs"), i + 2), lit(0L)).cast("double").as(s"tf$i"))
    val withTf = Tables.documents(spark, dir)
      .select(col("doc_id"), tfs.as("tfs"))
      .select(col("doc_id") +: tfCols: _*)
    val statCols = count(lit(1)).cast("double").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      terms.indices.map(i => sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
    val stats = withTf.agg(statCols.head, statCols.tail: _*)
    val score = terms.indices.map { i =>
      val idf = log((col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1.0)
      idf * (col(s"tf$i") * (k1 + 1.0)) /
        (col(s"tf$i") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    // filter on the RAW score (> 0 ⟺ some tf > 0, since idf > 0), AFTER
    // the stats join: a tf-only predicate would be pushed below the tfs
    // projection and re-invoke the tokenization kernel once per term; the
    // score references both join sides, so it stays put and the kernel
    // runs exactly once per document (plan-pinned in PlanShapeSpec)
    withTf.crossJoin(broadcast(stats))
      .select(col("doc_id"), score.as("score_raw"))
      .filter(col("score_raw") > 0)
      .select(col("doc_id"), round(col("score_raw"), 4).as("bm25"))
  }

  /** Hybrid retrieval — Reciprocal Rank Fusion of the BM25 lexical leg
    * and a vector-similarity leg (query vector = embedding of id 0; the
    * id spaces of `documents` and `embeddings` coincide in the driver
    * data, the usual doc↔embedding pairing): each leg contributes
    * 1/(60 + rank) over its TOP-100 (ranking only a bounded top list is
    * both the standard RRF practice and what makes the rank window
    * scale-safe — it runs on ≤ 100 rows regardless of corpus size).
    * Ranks order by ROUNDED score with id tie-breaks, so both the cut
    * lines and the fused sum are cross-engine stable. */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rrfK = 60
    val topN = 100
    // windows partition by a constant: a deliberate single partition of a
    // PRE-LIMITED 100-row list (not an unbounded unpartitioned window)
    val lexW = Window.partitionBy(lit("lex")).orderBy(desc("bm25"), col("doc_id"))
    val lex = bm25Scores(spark, dir)
      .orderBy(desc("bm25"), col("doc_id")).limit(topN)
      .select(col("doc_id"), row_number().over(lexW).as("lex_rk"))
    val emb = graft.Tables.embeddings(spark, dir)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_vec"))
    val vecW = Window.partitionBy(lit("vec")).orderBy(desc("cos"), col("doc_id"))
    val vec = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("doc_id"), col("embedding").as("c_vec"))
      .crossJoin(broadcast(qv)) // single-row query-vector broadcast
      .select(col("doc_id"),
        round(graft.ops.Vectors.cosineCol(col("q_vec"), col("c_vec")), 4).as("cos"))
      .orderBy(desc("cos"), col("doc_id")).limit(topN)
      .select(col("doc_id"), row_number().over(vecW).as("vec_rk"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("lex_rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rk")), lit(0.0)), 6).as("rrf"))
      .orderBy(desc("rrf"), col("doc_id"))
      .limit(20)
  }

  /** PII scrubbing patterns — chosen to parse and behave identically in
    * Java regex (Spark) and RE2 (DuckDB): character classes, bounded
    * repetition and ASCII word boundaries only (no lookarounds, no
    * backrefs — RE2 has neither). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** PII scrub over any (doc_id, text): per-document email/phone match
    * counts plus the md5 fingerprint of the redacted text (the audit
    * artifact a scrubbing job emits — counts say how much was removed,
    * the fingerprint pins WHAT the clean text was without shipping it).
    * Pure map-side; regexes run inside codegen string expressions. */
  def piiScrubDf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("text"), EmailRe, "[EMAIL]"),
          PhoneRe, "[PHONE]").cast("binary")).as("clean_fp"))
      .orderBy("doc_id")

  /** Driver query: the corpus carries no natural PII, so a deterministic
    * contact line (email + phone derived from doc_id) is planted first —
    * every row then exercises both patterns and the whole
    * plant→match→redact→fingerprint chain replays exactly in DuckDB. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubDf(Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or 555-"),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text")))

  /** Gopher-style repetition rules (Rae et al. 2021, public): fraction of
    * duplicate words and the share of the document taken by its most
    * frequent bigram — the signals that catch templated/boilerplate text
    * that the length-based [[gopherQualityFilter]] rules miss. Emits the
    * rule inputs plus the keep flag (audit shape, like the other filters).
    *
    * Scale shape: PURE MAP-SIDE — one [[graft.functions.TextKernels.repStats]]
    * kernel call per document yields [n_tokens, n_distinct,
    * top_bigram_count, n_bigrams]; no shuffle anywhere (the earlier shape
    * exploded one row per bigram and stacked two hash aggregates to
    * recover a per-doc scalar). PlanShapeSpec pins the one-call shape. */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    val rs = graft.functions.TextKernels.repStatsKernel(col("text"))
    // coalesce makes each extracted column non-nullable, so no inferred
    // isnotnull constraint re-invokes the kernel per column (same
    // CollapseProject trap as bm25Retrieval)
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), rs.as("rs"))
      .select(col("doc_id"),
        coalesce(element_at(col("rs"), 1), lit(0L)).as("n_tokens"),
        coalesce(element_at(col("rs"), 2), lit(0L)).as("n_distinct"),
        coalesce(element_at(col("rs"), 3), lit(0L)).as("top_bg"),
        coalesce(element_at(col("rs"), 4), lit(0L)).as("n_bg"))
    // fractions stay UNROUNDED: both are int/int quotients, bit-identical
    // cross-engine, and round() on terminating quotients is where
    // HALF_UP-vs-binary tie bugs live (same rule as qualityScores)
    base.select(col("doc_id"), col("n_tokens"),
        (lit(1.0) - col("n_distinct").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double")).as("dup_word_frac"),
        when(col("n_bg") > 0,
          col("top_bg").cast("double") / col("n_bg").cast("double"))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
      .withColumn("keep",
        col("dup_word_frac") <= 0.95 && col("top_bigram_frac") <= 0.18)
      .orderBy("doc_id")
  }

  /** Deterministic weighted sampling without replacement per language
    * shard (Efraimidis–Spirakis A-ES): key = u^(1/w) with u a
    * deterministic multiplicative-hash uniform and w the document weight
    * (here n_chars — longer documents weighted up, the quality-weighted
    * corpus-sampling shape). Top-k per stratum by key = the exact A-ES
    * sample.
    *
    * Scale shape: one map-side projection, then the rk ≤ k filter pushes
    * into the window operator (WindowGroupLimit: a per-partition k-heap,
    * never a full sort of the shard). The continuous key stays OUT of the
    * output — rows are (doc_id, lang, rk), all discrete, so the oracle
    * compare never touches a float. u is an exact power-of-two scaling of
    * integer arithmetic → bit-identical cross-engine; 1-ulp pow()
    * divergence would need two keys within ~1e-16 to flip a rank. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val M = 4294967296L // 2^32
    val u = (pmod((col("doc_id") + lit(101L)) * lit(2654435761L), lit(M))
      .cast("double") + 0.5) / M.toDouble
    val w = greatest(col("n_chars").cast("double"), lit(1.0))
    val byLang = Window.partitionBy(col("lang"))
      .orderBy(pow(col("u"), lit(1.0) / col("w")).desc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), u.as("u"), w.as("w"))
      .withColumn("rk", row_number().over(byLang))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
      .orderBy("lang", "rk")
  }

  /** 64-bit fingerprint variant: xxhash64 of the normalized text plus the
    * SimHash rolling fingerprint — the cheap keys a 100 TB dedup pass
    * actually shuffles (8-byte vs 16-byte md5, no hex encoding). */
  def fingerprintsFast(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        xxhash64(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp_xx64"),
        graft.functions.TextKernels.simhashKernel(col("text")).as("fp_simhash"))
      .orderBy("doc_id")

  /** Array-function breadth over token arrays: size / distinct / indexed
    * access / sort + slice + join — the whole chain stays inside one
    * whole-stage-codegen projection (no explode, no shuffle; the only
    * shuffle is the output sort for the oracle). Mirrors DuckDB's list_*
    * family, so every column oracle-checks exactly (ASCII-only corpus →
    * binary collation agrees between engines). */
  def arrayTokenOps(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        element_at(col("toks"), 1).as("first_tok"),
        element_at(col("toks"), -1).as("last_tok"),
        array_join(slice(array_sort(array_distinct(col("toks"))), 1, 5), "_")
          .as("first5_sorted"))
      .orderBy("doc_id")

  /** Character-trigram language-model quality score — the statistical-LM
    * cousin of the heuristic [[gopherQualityFilter]]: train a unigram-of-
    * trigrams model ON the corpus itself (count / total), then score each
    * document by its mean log-probability. Low scores = improbable
    * character sequences (boilerplate, mojibake, non-text) — a standard
    * corpus-quality signal.
    *
    * Scale shape: the model is a bounded-vocabulary aggregate (≤ |charset|³
    * rows regardless of corpus size) → built once, broadcast back; the
    * per-document score is then a map-side join + per-doc agg, so the only
    * full shuffle ever carries (doc_id, trigram) pairs. The corpus-total
    * scalar rides a single-row broadcast crossJoin, same pattern as the
    * k-means argmax. sequence() would flip to a DESCENDING range when
    * char_length < 3 (Spark default step -1), hence the explicit length
    * guard on both engines. */
  def trigramPerplexity(spark: SparkSession, dir: String): DataFrame =
    trigramPerplexityDf(Tables.documents(spark, dir))

  /** DataFrame core of [[trigramPerplexity]] (docs must carry doc_id,
    * text). Documents shorter than 3 chars have no trigrams and are
    * excluded — NOT scored 0, which would rank them as high-quality. */
  def trigramPerplexityDf(docs: DataFrame): DataFrame = {
    val base = docs
      .filter(char_length(col("text")) >= 3)
      .select(col("doc_id"), lower(col("text")).as("t"))
    val tris = base.select(col("doc_id"),
      explode(graft.functions.TextKernels.charTrigramsKernel(col("t"))).as("tri"))
    // model = bounded-vocab (≤ |charset|³) trigram counts, folded into ONE
    // row of parallel sorted arrays (keys ascending, counts aligned —
    // array_sort on the struct orders by the first field in UTF8 binary
    // order, the same comparator the kernel's binary search uses) plus the
    // corpus total, broadcast back.
    val model = tris.groupBy("tri").agg(count(lit(1)).as("c"))
    val modelRow = model.agg(
      array_sort(collect_list(struct(col("tri"), col("c")))).as("kv"),
      sum("c").cast("double").as("tc"))
      .select(expr("transform(kv, x -> x.tri)").as("ks"),
        expr("transform(kv, x -> x.c)").as("cs"), col("tc"))
    // scoring is then pure map-side: per doc, one codegen kernel call
    // binary-searching the broadcast arrays (see TextKernels.trigramScore
    // for why neither a map column nor an aggregate() lambda survives at
    // scale) — no second explode, no per-trigram join rows, no per-doc
    // re-agg shuffle. The only shuffles left are the bounded model build
    // and the output sort.
    base.crossJoin(broadcast(modelRow))
      .select(col("doc_id"),
        graft.functions.TextKernels.charTrigramsKernel(col("t")).as("tris"),
        col("ks"), col("cs"), col("tc"))
      .select(col("doc_id"),
        round(graft.functions.TextKernels.trigramScoreKernel(
          col("tris"), col("ks"), col("cs"), col("tc")), 4).as("avg_logp"),
        size(col("tris")).cast("long").as("n_tri"))
      .orderBy("doc_id")
  }

  /** Per-language token entropy — a corpus-diversity metric (low entropy =
    * repetitive/templated text, a mixture-balancing signal next to
    * [[mixtureReport]]'s counts). Algebraic one-pass form: H = ln N −
    * (Σ n·ln n)/N over the term-frequency table, so the plan is two
    * stacked hash aggregates (tf per (lang, token), then one row per
    * lang) with map-side partials — no window, no join, no second scan. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    tokenEntropyDf(Tables.documents(spark, dir))

  /** DataFrame core of [[tokenEntropy]] (docs must carry lang, text). */
  def tokenEntropyDf(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(
        sum("n").as("n_tokens"),
        count(lit(1)).as("vocab"),
        round(
          log(sum("n")) -
            sum(col("n").cast("double") * log(col("n").cast("double"))) / sum("n"),
          4).as("entropy"))
      .orderBy("lang")

  /** Scalable fuzzy self-join: bigram blocking + levenshtein verify — the
    * end-to-end shape a 100 TB fuzzy dedup runs (generate blocking keys →
    * equi-join on the key → cheap verify on the tiny candidate set),
    * versus the O(n²) all-pairs the oracle can afford at test scale. The
    * blocking is EXACT here, not approximate: a name of length L has L−1
    * bigrams and each edit disturbs at most 2 of them, so 2 edits leave
    * (L−1)−4 ≥ 1 shared bigram whenever L ≥ 6 — that bound is ENFORCED
    * as a filter on both engines (names shorter than 6 would need
    * 1-gram blocking and are out of scope for this operator), so the
    * exactness is an invariant, not a property of today's data. The
    * oracle's brute-force pair set proves no candidate was lost. Same
    * capped-bucket caveats as [[graft.ops.Dedup]] apply when the key
    * distribution is skewed. */
  def fuzzyNameJoin(spark: SparkSession, dir: String): DataFrame =
    fuzzyNameJoinDf(Tables.part(spark, dir).select(lower(col("p_name")).as("name")))

  /** DataFrame core of [[fuzzyNameJoin]] (input: a `name` column; need
    * not be distinct). */
  def fuzzyNameJoinDf(input: DataFrame): DataFrame = {
    val names = input
      .filter(char_length(col("name")) >= 6) // the bigram-blocking exactness bound
      .distinct()
    val grams = names.select(col("name"),
      explode(array_distinct(expr(
        "transform(sequence(1, char_length(name) - 1), i -> substring(name, i, 2))")))
        .as("bg"))
    grams.as("a").join(grams.as("b"),
        col("a.bg") === col("b.bg") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .orderBy("name_a", "name_b")
  }

  /** Edit-distance fuzzy match: levenshtein() against a probe string —
    * a map-side scalar filter (classic Wagner–Fischer in both engines,
    * identical distances). The fuzzy-JOIN variant at scale composes this
    * with an LSH/n-gram blocking stage (see [[graft.ops.Dedup]]); the
    * scalar kernel is what this query pins cross-engine. */
  def fuzzyPartNames(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey").as("partkey"),
        col("p_name").as("pname"),
        levenshtein(col("p_name"), lit("small bolt")).as("dist"))
      .filter(col("dist") <= 4)
      .orderBy("partkey")

  /** Boilerplate detection (the C4/RefinedWeb "repeated template" filter
    * class): the top-`topK` word-3-gram shingles by document frequency —
    * ties broken by shingle string, so the set is deterministic at every
    * corpus size, unlike an absolute-df cut — form the boilerplate set;
    * each document reports what fraction of its distinct shingles fall in
    * it. Scale shape: one posting aggregate (shuffle carries shingle
    * strings — this operator NEEDS the string identities for the
    * broadcast set, unlike the dedup family's hashed postings), a
    * TakeOrderedAndProject top-K (tiny), and a BROADCAST semi-annotation
    * join of the ≤topK-row set back onto the postings — the fact side is
    * never shuffled twice. The keep flag compares the unrounded int/int
    * quotient (bit-identical cross-engine; see [[qualityScores]]). */
  def boilerplateStats(spark: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    import graft.functions.TextKernels
    val post = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextKernels.shinglesKernel(col("text"), 3)).as("shingle"))
    // shingles are distinct per doc (kernel dedups), so count(*) IS the
    // document frequency — no countDistinct shuffle needed
    val top = post.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle").asc)
      .limit(topK)
      .select(col("shingle"), lit(1).as("is_boiler"))
    post.join(broadcast(top), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_boiler"), lit(0))).as("n_boiler"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_shingles")).as("boiler_ratio"),
        (col("n_boiler").cast("double") / col("n_shingles") <= 0.5).as("keep"))
      .orderBy("doc_id")
  }

  /** TF-IDF top terms per language — the retrieval-weighting companion to
    * the raw counts of [[topTokensPerLang]]: rank terms by total term
    * frequency × smoothed idf (ln((N+1)/(df+1)) + 1, df = documents
    * containing the term corpus-wide). The ranking compares the ROUNDED
    * score (cross-engine-stable cut lines, the repo convention), with the
    * term string as tiebreak. Scale shape: one token-count aggregate per
    * (lang, token), one per-token distinct-doc aggregate, N via a
    * single-row broadcast crossJoin — the unigram/df tables are
    * vocabulary-bounded, so every join is broadcast-sized. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE tokenize pass feeds both statistics through a two-level
    // aggregate: (lang, token, doc) occurrence counts, then per
    // (lang, token) tf = Σ counts and per-lang df = row count — a doc
    // has exactly one lang, so Σ_lang per-lang-df = count(DISTINCT doc)
    // per token, which a window sum over the vocabulary-bounded (lang,
    // token) table finishes. The former shape ran the tokenize explode
    // TWICE (separate df and tf aggregates over the raw token stream)
    // plus a two-phase count_distinct — sf0.1 job count 15 → 9.
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(tokensCol(lower(col("text")))).as("token"))
      .filter(col("token") =!= "")
    val nDocs = broadcast(Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs")))
    val perDoc = toks.groupBy(col("lang"), col("token"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val tfdf = perDoc.groupBy(col("lang"), col("token"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("dfl"))
    val scored = tfdf
      .withColumn("df", sum(col("dfl")).over(Window.partitionBy(col("token"))))
      .crossJoin(nDocs)
      .select(col("lang"), col("token"), col("tf"), col("df"),
        round(col("tf") *
          (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1), 4)
          .as("tfidf"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .orderBy("lang", "rk")
  }

  /** Collocation mining: top-`k` adjacent-token bigrams by pointwise
    * mutual information, PMI = ln(n_ab·T² / (B·n_a·n_b)) with T total
    * tokens and B total bigrams — the "New York"-finder every corpus
    * analysis runs. Support floor `minCount` keeps the PMI estimate out
    * of the low-count noise regime. Both engines evaluate the IDENTICAL
    * double expression (one product quotient, one ln, one round), so the
    * rounded ranking key cannot diverge. Scale shape: two map-side
    * explode→count aggregates (bigrams, unigrams); the unigram table is
    * vocabulary-bounded → broadcast re-attach ×2; totals ride a
    * single-row broadcast crossJoin; TakeOrderedAndProject tail. */
  def collocations(spark: SparkSession, dir: String, minCount: Long = 10,
                   k: Int = 25): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        filter(tokensCol(lower(col("text"))), t => t =!= "").as("t"))
    val uni = docs.select(explode(col("t")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val bigrams = docs
      .select(explode(when(size(col("t")) >= 2,
        expr("transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS tok_a, element_at(t, i + 1) AS tok_b))"))
        .otherwise(array().cast("array<struct<tok_a:string,tok_b:string>>")))
        .as("bg"))
      .select(col("bg.tok_a").as("tok_a"), col("bg.tok_b").as("tok_b"))
      .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("n_ab"))
    val totals = broadcast(uni.agg(sum(col("n")).as("tt")))
    val btotals = broadcast(bigrams.agg(sum(col("n_ab")).as("bt")))
    val scored = bigrams.filter(col("n_ab") >= minCount)
      .join(broadcast(uni.select(col("token").as("tok_a"), col("n").as("n_a"))), Seq("tok_a"))
      .join(broadcast(uni.select(col("token").as("tok_b"), col("n").as("n_b"))), Seq("tok_b"))
      .crossJoin(totals).crossJoin(btotals)
      .select(concat_ws(" ", col("tok_a"), col("tok_b")).as("bigram"),
        col("n_ab"),
        round(log(col("n_ab").cast("double") * col("tt") * col("tt") /
          (col("bt").cast("double") * col("n_a") * col("n_b"))), 4).as("pmi"))
    scored.orderBy(col("pmi").desc, col("bigram").asc).limit(k)
      .orderBy(col("pmi").desc, col("bigram").asc)
  }
}
