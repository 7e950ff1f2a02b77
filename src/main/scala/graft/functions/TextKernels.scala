package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels for the text-dedup hot path, invoked from codegen via
  * `StaticInvoke` (one static call per row inside WholeStageCodegen).
  *
  * The composable forms (`transform(sequence(...), i -> array_join(
  * slice(...)))` and the nested minhash `transform`s) allocate hundreds of
  * intermediate arrays per document and evaluate every lambda interpreted —
  * measured ~2-4× slower end-to-end on the dedup queries. A kernel does one
  * pass over the tokens with zero per-element closure overhead.
  *
  * MinHash here uses one md5-derived base hash per shingle plus
  * Carter-Wegman mixing ((a_i·h + b_i) mod p) instead of re-hashing the
  * string per permutation — the standard trick to make signature cost
  * independent of permutation count — with md5 (not xxhash64) as the base
  * so every sketch replays bit-for-bit in the DuckDB oracle.
  */
object TextKernels {

  /** Carter-Wegman permutation constants for the MinHash family — ONE
    * source shared by the kernel, the HOF reference form, the SQL-parity
    * pipeline, and the rendered DuckDB oracles. `a` odd and < 2²⁰ keeps
    * a·h + b < 2⁵² exact in int64 on BOTH engines (DuckDB raises on
    * BIGINT overflow; Spark wraps — stay where they agree). */
  def permA(i: Int): Long = ((i * 2654435761L) % 1048573L) | 1L
  def permB(i: Int): Long = (i * 40503L + 2531011L) % 2147483647L
  val SqlPrime = 2147483647L // 2^31 - 1

  // Base hashes are md5-derived so every sketch is REPLAYABLE in a second
  // engine (DuckDB has md5; xxhash64 it does not): the 32-bit words are
  // big-endian slices of the digest, i.e. exactly
  // conv(substring(md5(s), 1+8w, 8), 16, 10) on the Spark SQL side and a
  // byte-swap of md5_number_upper's 32-bit halves on the DuckDB side
  // (the repo's verified cross-engine md5 idiom; see minhashSqlOracle).
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def md5Digest(s: UTF8String): Array[Byte] = {
    val d = mdLocal.get()
    d.reset()
    d.digest(s.getBytes)
  }

  private def word32(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xFFL) << 24) | ((d(off + 1) & 0xFFL) << 16) |
      ((d(off + 2) & 0xFFL) << 8) | (d(off + 3) & 0xFFL)

  /** Normalized (lowercase, whitespace-split, empty tokens dropped)
    * distinct word k-shingles, in first-occurrence order — semantics
    * identical to the composable `shinglesCol`. Single pass, one
    * LinkedHashSet. NULL text yields NULL (StaticInvoke propagateNull);
    * all-whitespace text yields the single empty shingle. */
  def shingles(text: UTF8String, k: Int): ArrayData = {
    val toks0 = text.toString.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val toks = if (toks0.isEmpty) Array("") else toks0
    val out = new java.util.LinkedHashSet[String]()
    if (toks.length <= k) {
      out.add(toks.mkString(" "))
    } else {
      var i = 0
      val sb = new java.lang.StringBuilder()
      while (i + k <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        out.add(sb.toString); i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator(); var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(arr)
  }

  /** numPerms-wide MinHash signature of a shingle array: per shingle ONE
    * md5 (base hash = big-endian top 32 bits of the digest), permutation
    * i = (permA(i)·h + permB(i)) mod SqlPrime — Carter-Wegman mixing, so
    * signature cost is one digest per shingle regardless of permutation
    * count, and the whole signature replays bit-for-bit in DuckDB. */
  def minhashSig(shingles: ArrayData, numPerms: Int): ArrayData = {
    val sig = Array.fill[Long](numPerms)(Long.MaxValue)
    val as = Array.tabulate(numPerms)(permA)
    val bs = Array.tabulate(numPerms)(permB)
    val n = shingles.numElements()
    var s = 0
    while (s < n) {
      val str = shingles.getUTF8String(s)
      if (str != null) {
        val h = word32(md5Digest(str), 0)
        var i = 0
        while (i < numPerms) {
          val v = (as(i) * h + bs(i)) % SqlPrime
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      s += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash of whitespace tokens (lowercased, `\s+`-split, empty
    * tokens dropped; a no-token document fingerprints to 0): per-token
    * md5 supplies two independent 32-bit words (big-endian digest bytes
    * 0-3 and 4-7) that vote on bits 0-31 and 32-63 respectively — each
    * word replays exactly in DuckDB via the md5_number_upper byte-swap
    * idiom, keeping the whole fingerprint oracle-able. NULL text yields
    * NULL (StaticInvoke propagateNull). */
  def simhash64(text: UTF8String): Long = {
    val toks = text.toString.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val votes = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val d = md5Digest(UTF8String.fromString(toks(t)))
      val ha = word32(d, 0)
      val hb = word32(d, 4)
      var j = 0
      while (j < 32) {
        if (((ha >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        if (((hb >>> j) & 1L) == 1L) votes(j + 32) += 1 else votes(j + 32) -= 1
        j += 1
      }
      t += 1
    }
    var out = 0L; var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** Mean log-probability of a trigram array under a broadcast unigram-of-
    * trigrams model shipped as PARALLEL SORTED ARRAYS (keys ascending in
    * UTF8 binary order, counts aligned): binary search per trigram, so a
    * lookup is O(log V) with V bounded by |charset|³ regardless of corpus
    * size. This exists because the two composable forms are asymptotically
    * wrong in Spark: `m[x]` on a map column is a LINEAR scan per lookup
    * (GetMapValue has no hash index) and `aggregate()` lambdas evaluate
    * interpreted; a model join needs explode + re-agg (a per-trigram row
    * stage). Sums in array order (deterministic per document). A trigram
    * absent from the model scores as count 1 (cannot happen when the model
    * is trained on the same corpus; guards ln(0)). */
  def trigramScore(tris: ArrayData, keys: ArrayData, counts: ArrayData, tc: Double): Double = {
    val n = tris.numElements()
    if (n == 0) return 0.0
    val v = keys.numElements()
    var sum = 0.0
    var i = 0
    while (i < n) {
      val t = tris.getUTF8String(i)
      var lo = 0
      var hi = v - 1
      var c = 1L
      var found = false
      // null guards (mirroring termFreqs/gopherStats): a null trigram
      // scores as an absent one (count 1), a null model key sorts FIRST
      // (sort_array nulls-first order) so the search steps past it, and a
      // null COUNT slot also degrades to the absent-trigram count 1
      // (getLong on a null slot would read 0 and poison the score with
      // ln 0 = -∞) — the kernel is user-reachable through the registered
      // SQL function graft_trigram_score with arbitrary arrays.
      if (t != null) {
        while (lo <= hi && !found) {
          val mid = (lo + hi) >>> 1
          val k = keys.getUTF8String(mid)
          val cmp = if (k == null) -1 else k.compareTo(t)
          if (cmp == 0) {
            if (!counts.isNullAt(mid)) c = counts.getLong(mid)
            found = true
          }
          else if (cmp < 0) lo = mid + 1
          else hi = mid - 1
        }
      }
      sum += Math.log(c.toDouble / tc)
      i += 1
    }
    sum / n
  }

  /** One-pass per-document stats for a FIXED query-term set (BM25 etc.):
    * returns [n_tokens, tf(term_0), …, tf(term_k-1)]. The composable form
    * (`size(filter(split(...)))` per column) re-tokenizes the document
    * once per output column and evaluates the filter lambda interpreted
    * per token per term; this does one tokenization and one small inner
    * loop. Normalization mirrors the composable form exactly:
    * UTF8String.toLowerCase + trim (space-only, Spark `trim` semantics),
    * split on `\s+`, empty tokens dropped. */
  def termFreqs(text: UTF8String, terms: ArrayData): ArrayData = {
    val toks = text.toLowerCase.trim().toString.split("\\s+").filter(_.nonEmpty)
    val k = terms.numElements()
    val out = new Array[Long](k + 1)
    out(0) = toks.length
    var i = 0
    while (i < toks.length) {
      var j = 0
      while (j < k) {
        val term = terms.getUTF8String(j)
        if (term != null && term.toString == toks(i)) out(j + 1) += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass Gopher-rule inputs: [n_words, total_word_chars,
    * distinct_stopword_hits] — the composable form re-tokenized each
    * document ~11× across the rule columns (plan-verified). Tokenization
    * mirrors [[termFreqs]]; word length counts code points (Spark
    * `length()` semantics); stop hits count DISTINCT stopwords present
    * (array_contains semantics, not occurrences). */
  def gopherStats(text: UTF8String, stops: ArrayData): ArrayData = {
    val toks = text.toLowerCase.trim().toString.split("\\s+").filter(_.nonEmpty)
    val k = stops.numElements()
    val seen = new Array[Boolean](k)
    var totalLen = 0L
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      totalLen += t.codePointCount(0, t.length)
      var j = 0
      while (j < k) {
        if (!seen(j)) {
          val s = stops.getUTF8String(j)
          if (s != null && s.toString == t) seen(j) = true
        }
        j += 1
      }
      i += 1
    }
    var hits = 0L
    var j = 0
    while (j < k) { if (seen(j)) hits += 1; j += 1 }
    new GenericArrayData(Array[Any](toks.length.toLong, totalLen, hits))
  }

  /** One-pass repetition stats: [n_tokens, n_distinct, top_bigram_count,
    * n_bigrams]. The composable form exploded one row per bigram and
    * stacked two hash aggregates just to recover a per-doc scalar — this
    * does one tokenization, one distinct-token set, and one bigram count
    * map per document, making the repetition query pure map-side.
    * Tokenization mirrors [[termFreqs]] (UTF8String.toLowerCase + trim,
    * split on `\s+`, empty tokens dropped). n_bigrams = n_tokens − 1 for
    * n_tokens ≥ 2, else 0 (top_bigram_count 0). */
  def repStats(text: UTF8String): ArrayData = {
    val toks = text.toLowerCase.trim().toString.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    val distinct = new java.util.HashSet[String]()
    var i = 0
    while (i < n) { distinct.add(toks(i)); i += 1 }
    var topBigram = 0L
    if (n >= 2) {
      val counts = new java.util.HashMap[String, Long]()
      i = 1
      while (i < n) {
        val bg = toks(i - 1) + " " + toks(i)
        val c = counts.merge(bg, 1L, (a, b) => a + b)
        if (c > topBigram) topBigram = c
        i += 1
      }
    }
    new GenericArrayData(Array[Any](n.toLong, distinct.size.toLong,
      topBigram, if (n >= 2) (n - 1).toLong else 0L))
  }

  /** One-pass token statistics: (n_tokens, n_unique_tokens, n_subwords),
    * exactly `size(split(trim(t), "\\s+"))`, `size(array_distinct(...))`
    * of the same split, and `size(filter(split(regexp_replace(t,
    * "([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+)", "$1 "), "\\s+"), _ != ""))`
    * ([[graft.ops.Text.tokensCol]] / [[graft.ops.Text.subwordsCol]]),
    * without the regex engine or the token arrays:
    *  - tokens: `trim` strips spaces (0x20) only; Java `\s` is the six
    *    ASCII bytes space, \t, \n, \x0B, \f, \r, none of which occurs
    *    inside a multi-byte UTF-8 sequence, so the split runs on bytes.
    *    A limit −1 split keeps empty pieces: n_tokens = whitespace runs
    *    + 1 (a leading tab after the trim, or an all-whitespace text,
    *    yields empty tokens, and "" is one empty token), and an empty
    *    piece counts once among the distinct tokens.
    *  - subwords: one per maximal run of ASCII letters, of ASCII digits,
    *    or of any other non-`\s` characters (every non-ASCII byte is in
    *    that class, so a surrogate pair or a non-ASCII letter never
    *    splits a run); `\s` ends a run.
    *
    * Invalid UTF-8 is first re-encoded the way the expression forms see
    * it (`toString` substitutes U+FFFD), so distinct counts compare the
    * same token bytes. NULL text yields NULL (StaticInvoke propagateNull). */
  def tokenStats(text: UTF8String): InternalRow = {
    val s = if (text.isValid) text else UTF8String.fromString(text.toString)
    val b = s.getBytes
    var lo = 0
    var hi = b.length
    while (lo < hi && b(lo) == ' ') lo += 1
    while (hi > lo && b(hi - 1) == ' ') hi -= 1
    // distinct tokens: open addressing over (start, end) byte ranges
    // (at most (hi - lo + 1) / 2 + 1 distinct tokens: the table stays
    // under ~half full)
    var bits = 3
    while ((1 << bits) < hi - lo + 1) bits += 1
    val mask = (1 << bits) - 1
    val starts = new Array[Int](mask + 1)
    val ends = new Array[Int](mask + 1)
    val used = new Array[Boolean](mask + 1)
    var nUnique = 0
    def addToken(st: Int, en: Int): Unit = {
      var h = 1
      var i = st
      while (i < en) { h = 31 * h + b(i); i += 1 }
      var slot = ((h ^ (h >>> 16)) * 0x9E3779B9) >>> (32 - bits)
      var found = false
      while (used(slot) && !found) {
        if (java.util.Arrays.equals(b, starts(slot), ends(slot), b, st, en)) found = true
        else slot = (slot + 1) & mask
      }
      if (!found) { used(slot) = true; starts(slot) = st; ends(slot) = en; nUnique += 1 }
    }
    var nTokens = 1
    var start = lo
    var i = lo
    while (i < hi) {
      if (isJavaSpace(b(i))) {
        addToken(start, i)
        while (i < hi && isJavaSpace(b(i))) i += 1
        start = i
        nTokens += 1
      } else i += 1
    }
    addToken(start, hi)
    // subword runs over the untrimmed text: class 0 = \s, 1 = letter,
    // 2 = digit, 3 = anything else
    var nSub = 0
    var prev = 0
    i = 0
    while (i < b.length) {
      val c = b(i)
      val cls =
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) 1
        else if (c >= '0' && c <= '9') 2
        else if (isJavaSpace(c)) 0
        else 3
      if (cls != 0 && cls != prev) nSub += 1
      prev = cls
      i += 1
    }
    new GenericInternalRow(Array[Any](nTokens, nUnique, nSub))
  }

  private def isJavaSpace(c: Byte): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  val TokenStatsType: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_unique_tokens", IntegerType, nullable = false),
    StructField("n_subwords", IntegerType, nullable = false)))

  /** One-pass language-marker scores: for each language's marker list,
    * the count of document tokens contained in it (occurrences, matching
    * the composable `size(filter(toks, isin(markers)))` — which
    * re-tokenized the document once per language per consumer, ~15× in
    * the lang-id plan). Tokenization mirrors [[termFreqs]]. */
  def langScores(text: UTF8String, markers: ArrayData): ArrayData = {
    val toks = text.toLowerCase.trim().toString.split("\\s+").filter(_.nonEmpty)
    val nLangs = markers.numElements()
    val out = new Array[Long](nLangs)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      var l = 0
      while (l < nLangs) {
        val ms = markers.getArray(l)
        val k = ms.numElements()
        var j = 0
        var hit = false
        while (j < k && !hit) {
          val m = ms.getUTF8String(j)
          if (m != null && m.toString == t) hit = true
          j += 1
        }
        if (hit) out(l) += 1
        l += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** All character trigrams of `text` in order, one O(n) pass — the
    * compiled form of `transform(sequence(1, char_length(t) - 2),
    * i -> substring(t, i, 3))`, whose per-index lambda substring runs
    * interpreted AND re-walks the string from its start per call
    * (quadratic for non-ASCII). Slices by CODEPOINT offsets exactly like
    * SQL `substring`, so each trigram is byte-identical to the expression
    * form and the DuckDB replay; emission order is ascending i, so
    * downstream left-to-right FP accumulation is unchanged. Fewer than 3
    * chars → empty array (callers filter those out first). */
  def charTrigrams(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    // codepoint start offsets (+ end sentinel)
    var n = 0
    var off = 0
    val offs = new Array[Int](text.numChars() + 1)
    while (off < len) {
      offs(n) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      n += 1
    }
    offs(n) = len
    if (n < 3) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](n - 2)
    var i = 0
    while (i + 3 <= n) {
      out(i) = UTF8String.fromBytes(bytes, offs(i), offs(i + 3) - offs(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  // ---- Column wrappers (StaticInvoke => direct static call in codegen) ---

  def charTrigramsKernel(text: Column): Column =
    bridge.column(StaticInvoke(
      TextKernels.getClass,
      ArrayType(StringType, containsNull = false),
      "charTrigrams",
      Seq(bridge.expression(text)),
      inputTypes = Seq(StringType),
      returnNullable = false))

  def shinglesKernel(text: Column, k: Int): Column =
    bridge.column(StaticInvoke(
      TextKernels.getClass,
      ArrayType(StringType, containsNull = false),
      "shingles",
      Seq(bridge.expression(text),
        org.apache.spark.sql.catalyst.expressions.Literal(k)),
      inputTypes = Seq(StringType, IntegerType),
      returnNullable = false))

  def minhashSigKernel(shingles: Column, numPerms: Int): Column =
    bridge.column(StaticInvoke(
      TextKernels.getClass,
      ArrayType(LongType, containsNull = false),
      "minhashSig",
      Seq(bridge.expression(shingles),
        org.apache.spark.sql.catalyst.expressions.Literal(numPerms)),
      inputTypes = Seq(ArrayType(StringType), IntegerType),
      returnNullable = false))

  def simhashKernel(text: Column): Column =
    bridge.column(StaticInvoke(
      TextKernels.getClass,
      LongType,
      "simhash64",
      Seq(bridge.expression(text)),
      inputTypes = Seq(StringType),
      returnNullable = false))

  def termFreqsKernel(text: Column, terms: Column): Column =
    bridge.column(StaticInvoke(
      TextKernels.getClass,
      ArrayType(LongType, containsNull = false),
      "termFreqs",
      Seq(bridge.expression(text), bridge.expression(terms)),
      inputTypes = Seq(StringType, ArrayType(StringType)),
      returnNullable = false))

  /** [[tokenStats]] as a struct column (n_tokens, n_unique_tokens,
    * n_subwords); select it once and read its fields, so the one pass
    * runs once per row. */
  def tokenStatsKernel(text: Column): Column =
    bridge.column(StaticInvoke(
      TextKernels.getClass,
      TokenStatsType,
      "tokenStats",
      Seq(bridge.expression(text)),
      inputTypes = Seq(StringType),
      returnNullable = false))

  def repStatsKernel(text: Column): Column =
    bridge.column(StaticInvoke(
      TextKernels.getClass,
      ArrayType(LongType, containsNull = false),
      "repStats",
      Seq(bridge.expression(text)),
      inputTypes = Seq(StringType),
      returnNullable = false))

  def langScoresKernel(text: Column, markers: Column): Column =
    bridge.column(StaticInvoke(
      TextKernels.getClass,
      ArrayType(LongType, containsNull = false),
      "langScores",
      Seq(bridge.expression(text), bridge.expression(markers)),
      inputTypes = Seq(StringType, ArrayType(ArrayType(StringType))),
      returnNullable = false))

  def gopherStatsKernel(text: Column, stops: Column): Column =
    bridge.column(StaticInvoke(
      TextKernels.getClass,
      ArrayType(LongType, containsNull = false),
      "gopherStats",
      Seq(bridge.expression(text), bridge.expression(stops)),
      inputTypes = Seq(StringType, ArrayType(StringType)),
      returnNullable = false))

  def trigramScoreKernel(tris: Column, keys: Column, counts: Column, tc: Column): Column =
    bridge.column(StaticInvoke(
      TextKernels.getClass,
      DoubleType,
      "trigramScore",
      Seq(bridge.expression(tris), bridge.expression(keys),
        bridge.expression(counts), bridge.expression(tc)),
      inputTypes = Seq(ArrayType(StringType), ArrayType(StringType),
        ArrayType(LongType), DoubleType),
      returnNullable = false))
}
