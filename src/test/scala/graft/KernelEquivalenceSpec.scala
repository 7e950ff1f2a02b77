package graft

import graft.functions.{GraftFunctions, TextKernels}
import graft.ops.Vectors
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pins every round-9 compiled kernel against the interpreted
  * expression/HOF form it replaced: the kernels exist purely for speed
  * (HOF lambdas and giant CASE trees evaluate outside codegen), so any
  * value divergence from the composable reference is a bug. References
  * are written inline exactly as the pre-kernel code had them. */
class KernelEquivalenceSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)

  test("charTrigrams kernel == transform(sequence, substring) on real docs + unicode") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .union(Seq(
        (90001L, "abc"), (90002L, "ab"), (90003L, "αβγδε züß 試験テキスト"),
        (90004L, "aaa bbb ccc"), (90005L, "x")).toDF("doc_id", "text"))
      .filter(char_length(col("text")) >= 3)
      .select(col("doc_id"), lower(col("text")).as("t"))
    val mismatches = docs.select(
      TextKernels.charTrigramsKernel(col("t")).as("k"),
      expr("transform(sequence(1, char_length(t) - 2), i -> substring(t, i, 3))").as("h"))
      .filter(col("k") =!= col("h"))
      .count()
    assert(mismatches == 0)
  }

  test("tokenStats kernel == split / array_distinct / subword expression forms") {
    import spark.implicits._
    import graft.ops.Text.{subwordsCol, tokensCol}
    // the real documents plus the edges the byte-level split must match:
    // Java \s (not Unicode) separators, a space-only trim, kept empty
    // tokens, and non-ASCII / surrogate-pair characters inside runs
    val edges = Seq[String](
      null, "", "   ", " \t\n\r\f\u000B ", "  \tlead tab after trim", "trail tab\t",
      "a  b\t\tc", "!!!...,,;;", "?!a?!b", "a1b2c3d4 9z8y", "123 abc 123 abc",
      "héllo wörld ÀÉÎ", "Привет мир", "試験 テキスト", "a😀b 😀😀 x𝄞y 𝄞",
      "non\u00A0breaking\u2003space", "x\u0085y", "dup dup dup Dup")
    val docs = Tables.documents(spark, sfDir).select(col("text"))
      .union(edges.toDF("text"))
      // invalid UTF-8: two different bad lead bytes decode to the same
      // U+FFFD token in the expression forms
      .union(spark.range(1).select(expr("cast(unhex('C320C4') as string)").as("text")))
    val t = col("text")
    val both = docs.select(t, TextKernels.tokenStatsKernel(t).as("k"),
      size(tokensCol(t)).as("n_tokens"),
      size(array_distinct(tokensCol(t))).as("n_unique_tokens"),
      size(subwordsCol(t)).as("n_subwords"))
    val bad = both.filter(
      !(col("k.n_tokens") <=> col("n_tokens")) ||
        !(col("k.n_unique_tokens") <=> col("n_unique_tokens")) ||
        !(col("k.n_subwords") <=> col("n_subwords"))).collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
    // the null row yields null fields, like size(null) under ANSI
    val nul = both.filter(t.isNull).select(col("k"), col("n_tokens")).collect()
    assert(nul.length == 1 && nul.head.isNullAt(0) && nul.head.isNullAt(1))
    // the edge rows are really edges: empty tokens are kept and counted
    val byText = both.filter(t.isin("", "  \tlead tab after trim", "a😀b 😀😀 x𝄞y 𝄞"))
      .select(t, col("k.n_tokens"), col("k.n_unique_tokens"), col("k.n_subwords")).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(byText("") == ((1, 1, 0)))
    assert(byText("  \tlead tab after trim") == ((5, 5, 4)))
    assert(byText("a😀b 😀😀 x𝄞y 𝄞") == ((4, 4, 8)))
  }

  test("lshCodesOf kernel == lshBucketsCol expression form on real embeddings") {
    val ref = emb.select(col("vec_id"),
      Vectors.lshCodesKernel(col("embedding")).as("k"),
      transform(Vectors.lshBucketsCol(col("embedding")), x => x.getField("code")).as("h"))
    assert(ref.filter(col("k") =!= col("h")).count() == 0)
  }

  test("pqCodesOf kernel == pqCodeCol expression form on real embeddings") {
    val codes = Vectors.pqCodesKernel(col("embedding"))
    val ref = emb.select(
      (0 until Vectors.PqSub).map(s =>
        (codes.getItem(s) <=> Vectors.pqCodeCol(col("embedding"), s)).as(s"eq$s")): _*)
    val bad = ref.filter((0 until Vectors.PqSub).map(s => !col(s"eq$s")).reduce(_ || _)).count()
    assert(bad == 0)
  }

  test("pqCodesOf kernel == pqCodeCol on SHORT embeddings (slice past end)") {
    // the expression form slices per subspace, and slice past the array
    // end yields a shorter/empty subvector — the kernel must bound its
    // reads the same way instead of reading out of range
    val short = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 37).as("embedding"))
    val codes = Vectors.pqCodesKernel(col("embedding"))
    val ref = short.select(
      (0 until Vectors.PqSub).map(s =>
        (codes.getItem(s) <=> Vectors.pqCodeCol(col("embedding"), s)).as(s"eq$s")): _*)
    val bad = ref.filter((0 until Vectors.PqSub).map(s => !col(s"eq$s")).reduce(_ || _)).count()
    assert(bad == 0)
  }

  test("centroidTopIds kernel == interpreted sort-based reference (keep=1 and keep=3)") {
    // reference: the pre-kernel transform/array_sort comparator pipeline
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))
    val cOne = cents.agg(collect_list(struct(col("cent_id"), col("cent_vec"))).as("cents"))
    val scored = transform(col("cents"), c => struct(
      Vectors.cosineCol(col("embedding"), c.getField("cent_vec")).as("cos"),
      c.getField("cent_id").as("cent_id")))
    val cmp = (l: Column, r: Column) =>
      when(l.getField("cos") > r.getField("cos"), -1)
        .when(l.getField("cos") < r.getField("cos"), 1)
        .when(l.getField("cent_id") < r.getField("cent_id"), -1)
        .when(l.getField("cent_id") > r.getField("cent_id"), 1)
        .otherwise(0)
    for (keep <- Seq(1, 3)) {
      val both = emb.crossJoin(broadcast(cOne)).select(
        GraftFunctions.centroidTopIdsKernel(col("embedding"), col("cents"),
          lit(keep), lit(true), lit(true)).as("k"),
        slice(transform(array_sort(scored, cmp), x => x.getField("cent_id")),
          1, keep).as("h"))
      assert(both.filter(col("k") =!= col("h")).count() == 0, s"keep=$keep")
    }
  }

  test("rleWedgeCount path == groupBy-count + anti-join reference on random graphs") {
    // the one-shuffle sort/RLE wedge count (with in-shuffle edge
    // suppression) must equal the declarative reference: count wedges per
    // pair, drop adjacent pairs. Random-ish graphs via deterministic hash
    // mixing — three densities, including bucket-collision-heavy ones.
    import spark.implicits._
    // the 4th graph offsets ids past 2³¹ — the upper half of the packed
    // kernel's 32-bit id contract, where a sign/shift slip would corrupt
    for ((nNodes, nEdges, seed, off) <- Seq((40, 120, 1, 0L), (25, 260, 2, 0L),
      (60, 90, 3, 0L), (40, 120, 4, 1L << 31))) {
      val raw = (0 until nEdges).map { i =>
        val a = off + math.abs((i * 2654435761L + seed) % nNodes)
        val b = off + math.abs((i * 40503L + seed * 7919L) % nNodes)
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.distinct
      val und = raw.toDF("src", "dst")
      val sym = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
      val adj = graft.ops.Dedup.truncate(
        sym.groupBy(col("src")).agg(collect_set(col("dst")).as("ids")))
      // production path: full neighborJaccard output
      val got = graft.ops.Graph.neighborJaccardDf(sym).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      // reference: plain groupBy wedge count + anti-join + same scoring
      import graft.functions.GraftFunctions.sortedLongPairsPackedKernel
      val kept = adj.filter(size(col("ids")) <= 256)
      val sizes = kept.select(explode(col("ids")).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("sz"))
      val wedges = kept.select(explode(sortedLongPairsPackedKernel(col("ids"))).as("uv"))
      val undPacked = adj.select(col("src"), explode(col("ids")).as("v"))
        .select(shiftleft(col("src"), 32).bitwiseOR(col("v")).as("uv"))
      val ref = wedges.groupBy(col("uv")).agg(count(lit(1)).as("common"))
        .join(undPacked, Seq("uv"), "left_anti")
        .select(shiftrightunsigned(col("uv"), 32).as("u"),
          col("uv").bitwiseAND(lit(4294967295L)).as("v"), col("common"))
        .join(sizes.select(col("node").as("u"), col("sz").as("sz_u")), Seq("u"))
        .join(sizes.select(col("node").as("v"), col("sz").as("sz_v")), Seq("v"))
        .select(col("u"), col("v"),
          round(col("common").cast("double") /
            (col("sz_u") + col("sz_v") - col("common")), 4).as("j"))
        .orderBy(desc("j"), col("u"), col("v")).limit(50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(got == ref, s"graph seed=$seed")
    }
  }

  test("roundHalfUp4 == Catalyst round(_, 4) on randomized + near-midpoint doubles") {
    // the fused wedge top-k cuts its heap by this JVM replay of Spark's
    // double rounding; any grid divergence could flip a rounded tie
    // across the top-50 boundary vs the DataFrame fallback path
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val xs = Seq.tabulate(20000)(_ => rnd.nextDouble()) ++
      Seq.tabulate(2000)(i => (i + 1).toDouble / (i + 7)) ++ // ratio-shaped, like J
      Seq.tabulate(2000)(i => i * 1e-4 + 5e-5) // hugging decimal midpoints
    val bad = xs.toDF("x").select(col("x"), round(col("x"), 4).as("r")).collect()
      .filter(r => GraftFunctions.roundHalfUp4(r.getDouble(0)) != r.getDouble(1))
    assert(bad.isEmpty, bad.take(5).mkString(","))
  }

  test("pqBestOf kernel == interpreted filter/transform/array_sort reference") {
    // real trained codebooks, then compare the per-subvector argmin between
    // the kernel and the pre-kernel lambda pipeline (score AND code)
    val cb = Vectors.pqTrainCodebooks(emb, iters = 1)
    val cbRow = cb.agg(collect_list(struct(col("sub"), col("code"), col("cent_vec"),
      Vectors.dotCol(col("cent_vec"), col("cent_vec")).as("cent_norm2"))).as("cbs"))
    val sv = emb.select(col("vec_id"),
      explode(array((0 until Vectors.PqSub).map(s => struct(lit(s).as("sub"),
        slice(col("embedding"), s * Vectors.PqSubDim + 1, Vectors.PqSubDim)
          .cast("array<double>").as("v"))): _*)).as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.v").as("v"))
    val cands = filter(col("cbs"), c => c.getField("sub") === col("sub"))
    val scored = transform(cands, c => struct(
      (Vectors.dotCol(col("v"), c.getField("cent_vec")) -
        lit(0.5) * c.getField("cent_norm2")).as("score"),
      c.getField("code").as("code")))
    val cmp = (l: Column, r: Column) =>
      when(l.getField("score") > r.getField("score"), -1)
        .when(l.getField("score") < r.getField("score"), 1)
        .when(l.getField("code") < r.getField("code"), -1)
        .when(l.getField("code") > r.getField("code"), 1)
        .otherwise(0)
    val refBest = element_at(array_sort(scored, cmp), 1)
    val both = sv.crossJoin(broadcast(cbRow)).select(
      Vectors.pqBestKernel(col("v"), col("sub"), col("cbs")).as("k"),
      refBest.as("h"))
      .select(
        col("k").getItem(0).as("k_score"),
        col("k").getItem(1).cast("int").as("k_code"),
        col("h").getField("score").as("h_score"),
        col("h").getField("code").as("h_code"))
    val bad = both.filter(
      !(col("k_score") <=> col("h_score")) || !(col("k_code") <=> col("h_code"))).count()
    assert(bad == 0)
  }

  test("sigMatchCount kernel == size(filter(zip_with)) on real minhash signatures") {
    // every ordered pair of consecutive signatures from the real corpus,
    // plus self-pairs (full match) — the est_sim numerator both forms feed
    val sigs = Tables.documents(spark, sfDir).select(col("doc_id"),
      TextKernels.minhashSigKernel(
        TextKernels.shinglesKernel(col("text"), 3), graft.ops.Dedup.NumPerms).as("sig"))
    val lagged = sigs.select(col("sig").as("a"),
      lag(col("sig"), 1).over(org.apache.spark.sql.expressions.Window.orderBy("doc_id")).as("b"))
      .filter(col("b").isNotNull)
      .union(sigs.select(col("sig").as("a"), col("sig").as("b")))
    val bad = lagged.select(
      GraftFunctions.sigMatchCountKernel(col("a"), col("b")).as("k"),
      GraftFunctions.sigMatchCountAtLeastKernel(col("a"), col("b"), 8).as("g"),
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), x => x)).as("h"))
      .filter(col("k") =!= col("h") ||
        !(col("g") <=> when(col("h") >= 8, array(col("h"))).otherwise(array().cast("array<int>"))))
      .count()
    assert(bad == 0)
  }

  test("jaccardLongSets kernel == size(intersect)/size(union) on real hashed shingles") {
    import spark.implicits._
    // consecutive-doc pairs (mostly disjoint sets), self-pairs (jaccard 1),
    // plus crafted duplicates-in-array and subset/disjoint edges
    val sh = Tables.documents(spark, sfDir).select(col("doc_id"),
      transform(TextKernels.shinglesKernel(col("text"), 3), s => xxhash64(s)).as("sh"))
    val lagged = sh.select(col("sh").as("a"),
      lag(col("sh"), 1).over(org.apache.spark.sql.expressions.Window.orderBy("doc_id")).as("b"))
      .filter(col("b").isNotNull)
      .union(sh.select(col("sh").as("a"), col("sh").as("b")))
      .union(Seq(
        (Array(1L, 2L, 3L, 2L, 1L), Array(2L, 3L, 4L, 4L)), // dups inside arrays
        (Array(1L, 2L), Array(1L, 2L, 3L, 4L)),             // subset
        (Array(0L, Long.MinValue), Array(Long.MaxValue, 0L)), // sentinel-ish values
        (Array(5L), Array(6L)),                              // disjoint
        (Array.empty[Long], Array.empty[Long]),              // empty∕empty → 0.0
        (Array.empty[Long], Array(7L)),                      // one side empty
        (Array(7L), Array.empty[Long])
      ).toDF("a", "b"))
    // The division is zero-divisor ONLY for empty∕empty (union size 0):
    // under ANSI (Spark 4 default) a raw Divide would THROW there and the
    // legacy path yielded null; the kernel returns 0.0 so the callers'
    // `>= threshold` gates drop the row exactly like null did — NaN would
    // sort ABOVE every numeric and sail through them. try_divide+coalesce
    // maps that one sanctioned divergence onto the kernel's value;
    // everywhere else equality is raw.
    // The kernel is reached through its gated form: a >= 0.0 gate passes
    // every value, and the >= 0.2 gate must keep exactly the rows a
    // filter on the value keeps.
    val gated = (min: Double) =>
      GraftFunctions.jaccardLongSetsAtLeastKernel(col("a"), col("b"), min)
    val bad = lagged.select(
      gated(0.0).as("k0"), gated(0.2).as("k2"),
      coalesce(try_divide(size(array_intersect(col("a"), col("b"))).cast("double"),
        size(array_union(col("a"), col("b")))), lit(0.0)).as("h"))
      .filter(size(col("k0")) =!= 1 || !(element_at(col("k0"), 1) <=> col("h")) ||
        !(col("k2") <=> when(col("h") >= 0.2, array(col("h"))).otherwise(array().cast("array<double>"))))
      .count()
    assert(bad == 0)
    // pin the empty∕empty value explicitly: 0.0, and it FAILS a >= 0.2 gate
    import spark.implicits._
    val ee = Seq((Array.empty[Long], Array.empty[Long])).toDF("a", "b")
      .select(gated(0.0).as("j0"), gated(0.2).as("j2")).collect().head
    assert(ee.getSeq[Double](0) == Seq(0.0))
    assert(ee.getSeq[Double](1).isEmpty)
  }

  test("sortedLongIntersect kernel == array_intersect on the real oriented-adjacency feed") {
    import spark.implicits._
    // the exact (un, vn) pair stream graph_triangles closes over: oriented
    // co-purchase adjacency, lists sorted + duplicate-free (the kernel's
    // input contract), joined per oriented edge — plus empty/subset/
    // disjoint/identical edges the graph may not produce at this sf
    val (degs, nodes, _) = graft.ops.Graph.degreesObserved(spark, sfDir)
    val oriented = graft.ops.Graph.orientedEdges(graft.ops.Graph.edges(spark, sfDir), degs, nodes)
    val oadj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("on"))
    val pairs = oadj
      .select(col("on").as("a"), explode(col("on")).as("v"))
      .join(oadj.select(col("u").as("v"), col("on").as("b")), Seq("v"))
      .select(col("a"), col("b"))
      .union(Seq(
        (Array.empty[Long], Array(1L, 2L)),
        (Array(1L, 2L, 3L), Array.empty[Long]),
        (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),            // identical
        (Array(1L, 3L, 5L), Array(2L, 4L, 6L)),            // disjoint, interleaved
        (Array(1L, 2L), Array(1L, 2L, 3L, 4L)),            // subset
        (Array(Long.MinValue, 0L, Long.MaxValue), Array(Long.MinValue, Long.MaxValue))
      ).toDF("a", "b"))
    // array_intersect keeps first-argument order; inputs are sorted and
    // duplicate-free, so its contents in ascending order == the kernel
    val bad = pairs.select(
      GraftFunctions.sortedLongIntersectKernel(col("a"), col("b")).as("k"),
      array_sort(array_intersect(col("a"), col("b"))).as("h"))
      .filter(!(col("k") <=> col("h"))).count()
    assert(bad == 0)
  }
}
