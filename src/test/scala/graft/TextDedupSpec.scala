package graft

import graft.ops._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

class TextDedupSpec extends SparkSpec {

  test("token counts: n_unique <= n_tokens, subwords >= tokens") {
    val rows = Text.tokenCounts(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_unique_tokens") <= r.getAs[Int]("n_tokens"))
      assert(r.getAs[Int]("n_subwords") >= r.getAs[Int]("n_tokens"))
    }
  }

  test("quality ratios are in [0, 1]") {
    Text.qualityScores(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Double]("letter_ratio") >= 0 && r.getAs[Double]("letter_ratio") <= 1)
      assert(r.getAs[Double]("punct_ratio") >= 0 && r.getAs[Double]("punct_ratio") <= 1)
      assert(r.getAs[Double]("ttr") > 0 && r.getAs[Double]("ttr") <= 1)
    }
  }

  test("lang id predicts a known language code with score >= 0") {
    val rows = Text.langId(spark, sfDir).collect()
    val langs = Set("en", "de", "fr", "es", "zh")
    rows.foreach { r =>
      assert(langs.contains(r.getAs[String]("lang_pred")))
      assert(r.getAs[Int]("score") >= 0)
    }
    // heuristic should beat 5-class chance (0.2) on the synthetic corpus
    val acc = rows.count(r => r.getAs[String]("lang_pred") == r.getAs[String]("lang_true"))
      .toDouble / rows.length
    assert(acc > 0.3, s"lang-id accuracy $acc")
  }

  test("fingerprints: identical normalized text -> identical fp") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello   World"),
      (2L, "  hello world "),
      (3L, "different text")).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("exact dedup groups sum to corpus size") {
    val rows = Dedup.exactDedup(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_copies")).sum
    assert(total == Tables.documents(spark, sfDir).count())
  }

  test("minhash est_sim approximates exact jaccard on planted dups") {
    val rows = Dedup.minhashPairs(spark, sfDir).collect()
    rows.foreach { r =>
      val est = r.getAs[Double]("est_sim")
      val jac = r.getAs[Double]("jaccard")
      assert(jac >= 0.2 && est >= 0.25)
      assert(math.abs(est - jac) < 0.5, s"est $est vs jaccard $jac")
    }
  }

  test("simhash groups: identical docs collide") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"),
      (3L, "entirely unrelated words here")).toDF("doc_id", "text")
    val hashes = Dedup.simhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L))
    assert(hashes(1L) != hashes(3L))
  }

  test("simhash near-dup: every hamming is the XOR popcount of the two fingerprints") {
    // driver-side reference for the broadcast fp-dictionary attach: each
    // output row's hamming must equal bitCount(fp_a ^ fp_b) over the
    // fingerprints the same kernel computes, and pass the ≤ 3 gate
    val docs = Tables.documents(spark, sfDir)
    val fp = docs.select(col("doc_id"),
        graft.functions.TextKernels.simhashKernel(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Dedup.simhashNearPairsDf(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val h = r.getAs[Number]("hamming").intValue
      assert(h == java.lang.Long.bitCount(fp(a) ^ fp(b)), s"($a, $b): hamming $h")
      assert(h <= 3, s"($a, $b): hamming $h")
    }
  }

  test("ngram jaccard pairs are symmetric-deduped and above threshold") {
    val rows = Dedup.ngramJaccardPairs(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Double]("jaccard") >= 0.5)
    }
  }

  test("containment catches a planted doc-inside-doc that jaccard misses") {
    import spark.implicits._
    val short = (1 to 10).map(i => s"tok$i").mkString(" ")
    val long = (1 to 60).map(i => s"tok$i").mkString(" ")   // short is a prefix
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairsDf(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("containment")).toMap
    // all 8 of short's 3-shingles appear in long -> containment 1.0
    assert(cont.get((1L, 2L)).contains(1.0), s"got $cont")
    assert(!cont.contains((1L, 3L)) && !cont.contains((2L, 3L)))
    // the same pair is INVISIBLE to jaccard at 0.5 (8 common of 58 union)
    val jac = Dedup.ngramJaccardPairsDf(docs).collect()
    assert(!jac.exists(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L))
  }

  test("containment pairs on real docs: canonical order, threshold, size sanity") {
    Dedup.containmentPairs(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val c = r.getAs[Double]("containment")
      assert(c >= 0.8 && c <= 1.0, s"containment $c out of range")
      assert(r.getAs[Long]("sz_a") > 0 && r.getAs[Long]("sz_b") > 0)
    }
  }

  test("pack sequences: offsets inside the budget, bins contiguous per lang") {
    val rows = graft.ops.Text.packSequences(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("bin_offset") >= 0 && r.getAs[Long]("bin_offset") < 2048)
      assert(r.getAs[Long]("bin") >= 0)
    }
    // bins are contiguous 0..max per language (contiguous fill can't skip)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val bins = rs.map(_.getAs[Long]("bin")).toSet
      assert(bins == (0L to bins.max).toSet, s"$lang bins not contiguous")
    }
  }

  test("clean corpus: only deduped keeper ids, valid splits, ~90/10") {
    val rows = graft.ops.Text.cleanCorpus(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ids = rows.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length)
    val splits = rows.map(_.getAs[String]("split")).toSet
    assert(splits.subsetOf(Set("train", "val")))
    val trainFrac = rows.count(_.getAs[String]("split") == "train").toDouble / rows.length
    assert(trainFrac > 0.8 && trainFrac < 0.98, s"train fraction $trainFrac")
  }

  /** Driver-side reference: every C(n,2) pair (a, b), a < b, of the
    * distinct non-null ids. */
  private def pairsReference(ids: Seq[java.lang.Long]): Seq[(Long, Long)] =
    ids.filter(_ != null).map(_.longValue).distinct.sorted
      .combinations(2).map { case Seq(a, b) => (a, b) }.toSeq

  test("sortedLongPairs kernel emits all C(n,2) ordered pairs") {
    import spark.implicits._
    import graft.functions.GraftFunctions.sortedLongPairsKernel
    val lists = Seq(Seq(1L, 2L, 3L, 4L), Seq.empty[Long], Seq(7L), (1L to 20L).map(_ * 37 % 101))
    val df = lists.zipWithIndex.map { case (ids, k) => (k, ids) }.toDF("k", "ids")
    val got = df.select(col("k"), explode(sortedLongPairsKernel(col("ids"))).as("p"))
      .select("k", "p.a", "p.b").collect().toSeq
      .groupBy(_.getInt(0)).map { case (k, rs) => k -> rs.map(r => (r.getLong(1), r.getLong(2))).sorted }
    assert(got(0).toSet == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    lists.zipWithIndex.foreach { case (ids, k) =>
      assert(got.getOrElse(k, Seq.empty) == pairsReference(ids.map(Long.box)), s"list $k")
    }
  }

  /** Column-level reference: all pairs (a, b) with a before b in array
    * order, by higher-order functions (the pre-kernel composition). On a
    * sorted distinct array it must agree with the kernel exactly. */
  private def pairsCol(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y => struct(x.as("a"), y.as("b")))))

  test("sortedLongPairs kernel == pairsCol on sorted input; sorts, dedups, drops nulls") {
    import spark.implicits._
    import graft.functions.GraftFunctions.sortedLongPairsKernel
    // on sorted distinct input the kernel and the HOF composition agree
    val sorted = Seq(Tuple1((1L to 20L).map(_ * 37 % 101).sorted)).toDF("ids")
    def pairsOf(c: Column) = sorted.select(explode(c).as("p"))
      .select("p.a", "p.b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairsOf(sortedLongPairsKernel(col("ids"))) == pairsOf(pairsCol(col("ids"))))
    // unsorted with a null AND a duplicate: kernel sorts a copy, drops the
    // null, and collapses the duplicate — no (3,3) self-pair can escape
    val ids = Seq[java.lang.Long](4L, 1L, null, 3L, 2L, 3L)
    val df = Seq(Tuple1(ids)).toDF("ids")
    val rows = df.select(explode(sortedLongPairsKernel(col("ids"))).as("p"))
      .select("p.a", "p.b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 6) // exactly C(4,2) — duplicate emitted no extras
    val pairs = rows.toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(rows.sorted.toSeq == pairsReference(ids))
    // every pair canonical (a < b) — in particular no self-pairs
    pairs.foreach { case (a, b) => assert(a < b) }
  }

  test("weighted sample: contiguous per-lang ranks, WindowGroupLimit top-k") {
    val df = graft.ops.Text.weightedSample(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (l, rs) =>
      val rks = rs.map(_.getAs[Long]("rk")).sorted.toSeq
      assert(rks == (1L to rks.length), s"$l: ranks not contiguous from 1")
      assert(rks.length <= 50)
    }
    // rk <= k must push INTO the window operator (per-partition k-heap,
    // never a full shard sort) — the property that makes A-ES scale
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("bm25: top-20 descending, every hit contains a query term") {
    val rows = graft.ops.Text.bm25Retrieval(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getAs[Double]("bm25"))
    assert(scores.forall(_ > 0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    val hitIds = rows.map(_.getAs[Long]("doc_id")).toSet
    val withTerm = Tables.documents(spark, sfDir)
      .filter(col("doc_id").isin(hitIds.toSeq: _*))
      .filter(lower(col("text")).rlike("\\b(spark|shuffle|join)\\b"))
      .count()
    assert(withTerm == hitIds.size, s"$withTerm of ${hitIds.size} hits contain a query term")
  }

  test("pii scrub: counts and redaction on planted strings") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail me at a.b+c@foo-bar.org or x@y.io, call 555-123-4567"),
      (2L, "no pii here; 12-34 and user@@nope are not matches"),
      (3L, "5551234567 unformatted is not matched; call 555-123-4567.")).toDF("doc_id", "text")
    val rows = graft.ops.Text.piiScrubDf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"))).toMap
    assert(rows(1L) == (2L, 1L))
    assert(rows(2L) == (0L, 0L))
    // digits-only 10-run fails \b…\b with the dashes; '4567.' bounds fine
    assert(rows(3L) == (0L, 1L))
    // redaction removes every match: scrubbing the scrubbed text is a no-op
    val once = graft.ops.Text.piiScrubDf(docs).select(col("clean_fp")).collect()
    val scrubbed = docs.select(col("doc_id"),
      regexp_replace(regexp_replace(col("text"), graft.ops.Text.EmailRe, "[EMAIL]"),
        graft.ops.Text.PhoneRe, "[PHONE]").as("text"))
    val twice = graft.ops.Text.piiScrubDf(scrubbed).select(col("clean_fp")).collect()
    assert(once.map(_.getString(0)).toSeq == twice.map(_.getString(0)).toSeq)
  }

  test("hybrid search: RRF bounds, descending, both legs contribute") {
    val rows = graft.ops.Text.hybridSearch(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val rrfs = rows.map(_.getAs[Double]("rrf"))
    // each leg contributes at most 1/(60+1); two legs cap the fusion
    assert(rrfs.forall(r => r > 0 && r <= 2.0 / 61 + 1e-9))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
    // the fused top must include the lexical #1 and the vector #1 —
    // RRF's defining property (rank 1 in any leg ≥ 1/61, which beats any
    // doc ranked below ~40 in both legs)
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    val lexTop = graft.ops.Text.bm25Scores(spark, sfDir)
      .orderBy(desc("bm25"), col("doc_id")).limit(1)
      .collect().head.getAs[Long]("doc_id")
    assert(ids.contains(lexTop), s"lexical top $lexTop missing from fused top-20")
  }

  test("repetition filter: fractions in range, top-bigram lower bound holds") {
    val rows = graft.ops.Text.repetitionFilter(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      val dup = r.getAs[Double]("dup_word_frac")
      val top = r.getAs[Double]("top_bigram_frac")
      val n = r.getAs[Long]("n_tokens")
      assert(dup >= 0.0 && dup <= 1.0)
      assert(top >= 0.0 && top <= 1.0)
      // the most frequent of n-1 bigrams takes at least a 1/(n-1) share
      if (n >= 2) assert(top >= 1.0 / (n - 1), s"doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Boolean]("keep") == (dup <= 0.95 && top <= 0.18))
    }
  }

  test("chunk dedup: planted shared tiles are flagged, keepers exempt") {
    import spark.implicits._
    val tileA = "a" * 200; val tileB = "b" * 200
    val tileC = "c" * 200; val tileD = "d" * 200
    val docs = Seq(
      (1L, tileA + tileB, 400L), // first occurrence of A and B — keeper
      (2L, tileA + tileC, 400L), // A is a dup of doc 1's tile
      (3L, tileD + tileD, 400L)  // self-duplicate: second D is a dup
    ).toDF("doc_id", "text", "n_chars")
    val rows = Dedup.chunkDedupDf(docs).collect()
    val byDoc = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_tiles"), r.getAs[Long]("n_dup_tiles"))).toMap
    assert(byDoc(1L) == ((2L, 0L)))
    assert(byDoc(2L) == ((2L, 1L)))
    assert(byDoc(3L) == ((2L, 1L)))
  }

  test("shard manifest: shards partition the corpus, ids in range, totals conserve") {
    val total = Tables.documents(spark, sfDir).count()
    val rows = Text.shardManifest(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 64)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach { r =>
      val sid = r.getAs[Long]("shard_id")
      assert(sid >= 0 && sid < 64)
      assert(r.getAs[Long]("n_tokens") >= r.getAs[Long]("n_docs")) // >=1 token/doc
      assert(r.getAs[Long]("min_doc_id") <= r.getAs[Long]("max_doc_id"))
    }
    // deterministic: a second run yields the identical manifest
    val again = Text.shardManifest(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("bloom dedup: exact verdicts right, no false negatives, planted dup caught") {
    import spark.implicits._
    // doc 1 (batch) duplicates doc 2 (snapshot) after normalization;
    // docs 3/5 are batch-only novel texts; doc 7 duplicates ANOTHER BATCH
    // doc's text only (9) — cross-batch dups are NOT snapshot dups
    val docs = Seq(
      (1L, "  The Quick\nBrown   Fox "), (2L, "the quick brown fox"),
      (3L, "completely novel text one"), (4L, "snapshot only text"),
      (5L, "another novel batch doc"), (7L, "batch twin"), (9L, "batch twin"),
      (6L, "more snapshot material")).toDF("doc_id", "text")
    val out = Dedup.bloomDedupFromDocs(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("maybe_seen"), r.getAs[Boolean]("is_dup"),
          r.getAs[Boolean]("bloom_ok")))).toMap
    assert(out.keySet == Set(1L, 3L, 5L, 7L, 9L)) // batch = odd ids only
    assert(out(1L)._2, "planted snapshot dup must be exact-confirmed")
    assert(out(1L)._1, "a true dup must ALWAYS pass the bloom (no false negatives)")
    assert(!out(3L)._2 && !out(5L)._2 && !out(7L)._2 && !out(9L)._2)
    out.values.foreach { case (_, _, ok) => assert(ok, "bloom_ok must hold on every row") }
  }

  test("bloom dedup on driver data: bloom_ok everywhere, maybe_seen superset of dups") {
    val rows = Dedup.bloomDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("bloom_ok"))
      if (r.getAs[Boolean]("is_dup")) assert(r.getAs[Boolean]("maybe_seen"))
    }
  }

  test("leak-safe split: partitions corpus, duplicates co-locate, audit = 1") {
    import spark.implicits._
    val rows = Dedup.leakSafeSplit(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "val", "test")))
    assert(rows.forall(_.getAs[Long]("max_splits_per_fp") == 1L))
    val total = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    // content-keyed: byte-identical docs land in the SAME split even with
    // different ids — the eval-leakage guarantee the op exists for
    val docs = (1L to 40L).map(i => (i, s"doc body number ${i % 10}", 20L))
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.leakSafeSplitFromDocs(docs).collect()
    assert(out.forall(_.getAs[Long]("max_splits_per_fp") == 1L))
    assert(out.map(_.getAs[Long]("n_fps")).sum == 10L) // 10 distinct bodies
  }

  test("domain cap: <= K per source, ranks contiguous from 1, lengths non-increasing") {
    val rows = Text.domainCap(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, g) =>
      val rks = g.map(_.getAs[Int]("rnk")).sorted
      assert(rks.length <= Text.DomainCapK)
      assert(rks.toSeq == (1 to rks.length))
      val lens = g.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("n_chars"))
      assert(lens.zip(lens.tail).forall { case (a, b) => a >= b })
    }
  }

  test("domain cap plans as WindowGroupLimit (map-side per-source top-k)") {
    val plan = Text.domainCap(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("compaction plan: contiguous shard ranges, totals conserve, bounded overshoot") {
    val shards = Text.shardManifest(spark, sfDir).collect()
    val files = Text.compactionPlan(spark, sfDir).collect()
    assert(files.nonEmpty)
    assert(files.map(_.getAs[Long]("n_shards")).sum == shards.length)
    assert(files.map(_.getAs[Long]("n_chars")).sum ==
      shards.map(_.getAs[Long]("total_chars")).sum)
    // files cover disjoint contiguous shard ranges in order
    val ordered = files.sortBy(_.getAs[Long]("file_id"))
    ordered.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("last_shard") < b.getAs[Long]("first_shard"))
      case _ =>
    }
    // each non-final file runs up to (or past) its bucket boundary: its
    // cumulative end is what pushed the next shard into a later file
    val cums = ordered.scanLeft(0L)((acc, r) => acc + r.getAs[Long]("n_chars")).tail
    ordered.init.zip(cums.init).foreach { case (r, cumEnd) =>
      assert(cumEnd >= (r.getAs[Long]("file_id") + 1) * Text.CompactionTargetChars,
        r.toString)
    }
  }

  test("chunk dedup: a document overflowing the 2^20 idx packing fails loudly") {
    import spark.implicits._
    // n_chars drives the tile count; 300M chars => 1.5M tiles > 2^20
    val docs = Seq((1L, "x", 300000000L)).toDF("doc_id", "text", "n_chars")
    val e = intercept[Exception] { Dedup.chunkDedupDf(docs).collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("overflows the 2^20 idx packing")), e.toString)
  }
}
