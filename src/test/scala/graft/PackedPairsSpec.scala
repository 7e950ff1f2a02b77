package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Parity for the packed candidate-pair emission (r19): when every doc id
  * fits unsigned 32 bits, the MinHash candidate/chain distincts shuffle
  * ONE packed long (a·2³² | b) instead of a 16-byte struct and unpack
  * after. These tests pin that packing is invisible in the output —
  * including on ids in the UPPER half of the 32-bit range, where a
  * sign/shift slip would corrupt the pack — and that ids past 2³² fall
  * back to the struct form with identical results.
  *
  * Method: the shingle pipeline is id-independent, so running the same
  * TEXTS under uniformly shifted ids must yield the same pairs with both
  * endpoints shifted. The +2³¹ corpus exercises the packed path's upper
  * half; the +2³³ corpus exceeds the id gate and must take the struct
  * fallback (asserted on the plan) yet still produce the shifted output.
  */
class PackedPairsSpec extends SparkSpec {

  private val rng = new scala.util.Random(4321)

  /** 30 base docs + 8 planted near-dups — enough collisions that the
    * candidate distinct actually dedups something. */
  private lazy val baseDocs = {
    import spark.implicits._
    val vocab = Array.tabulate(1500)(i => s"w$i")
    val bases = Array.tabulate(30)(_ => Array.fill(60)(vocab(rng.nextInt(vocab.length))))
    val rows = bases.zipWithIndex.map { case (toks, i) => (i.toLong, toks.mkString(" ")) } ++
      (0 until 8).map { i =>
        val toks = bases(i).clone()
        (0 until 2).foreach(_ => toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.length)))
        ((100 + i).toLong, toks.mkString(" "))
      }
    rows.toSeq.toDF("doc_id", "text")
  }

  private def shifted(shift: Long) =
    baseDocs.select((col("doc_id") + shift).as("doc_id"), col("text"))

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Double)] =
    Dedup.minhashPairsDf(df).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_sim"), r.getAs[Double]("jaccard"))).toSet

  test("packed pair distinct ≡ struct form: ids in the upper 32-bit half") {
    val base = pairsOf(baseDocs)
    assert(base.nonEmpty, "fixture must produce pairs")
    val shift = 1L << 31
    val up = pairsOf(shifted(shift))
    assert(up == base.map { case (a, b, e, j) => (a + shift, b + shift, e, j) })
  }

  test("ids past 2^32 take the struct fallback with identical results") {
    val shift = 1L << 33
    val df = shifted(shift)
    // fallback plan: no packed emission (the packed kernel name is absent)
    val plan = Dedup.minhashPairsDf(df).queryExecution.sparkPlan.toString
    assert(!plan.contains("sortedLongPairsPacked"),
      "past the id gate the candidate emission must not pack")
    val base = pairsOf(baseDocs)
    assert(pairsOf(df) == base.map { case (a, b, e, j) => (a + shift, b + shift, e, j) })
  }

  test("min-band map-side emission ≡ default distinct path end to end (upper half + fallback)") {
    // The fixture sits below the default min-band floor, so the default
    // run takes the candidate distinct; a zero floor (broadcast ceiling
    // at its default) forces the first-surviving-collision kernel. The
    // full minhashPairsDf output — est_sim and jaccard included, in
    // order, so a duplicated pair would show — must not move.
    def rowsOf(out: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Double)] =
      out.collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("est_sim"), r.getAs[Double]("jaccard"))).toSeq
    for (shift <- Seq(1L << 31, 1L << 33)) {
      val df = shifted(shift)
      val default = rowsOf(Dedup.minhashPairsDf(df))
      spark.conf.set(Dedup.MinbandMinDocsKey, "0")
      val (minband, plan) =
        try {
          val out = Dedup.minhashPairsDf(df)
          (rowsOf(out), out.queryExecution.sparkPlan.toString)
        } finally spark.conf.unset(Dedup.MinbandMinDocsKey)
      assert(plan.contains("sharedBandsIfFirst"), s"shift=$shift: zero floor must take the kernel")
      assert(default.nonEmpty, s"shift=$shift: fixture must produce pairs")
      assert(minband == default, s"shift=$shift")
    }
  }

  test("packed chain distinct ≡ struct form for cluster reps (upper half + fallback)") {
    def repsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      Dedup.minhashClusterRepsDf(df).collect()
        .map(r => (r.getAs[Long]("rep_id"), r.getAs[Long]("n_members"),
          r.getAs[Long]("id_sum"), r.getAs[Long]("max_id"))).toSet
    val base = repsOf(baseDocs)
    assert(base.nonEmpty, "fixture must produce clusters")
    for (shift <- Seq(1L << 31, 1L << 33)) {
      val got = repsOf(shifted(shift))
      val want = base.map { case (rep, n, s, m) => (rep + shift, n, s + n * shift, m + shift) }
      assert(got == want, s"shift=$shift")
    }
  }
}
