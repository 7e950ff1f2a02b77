package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Column-level JVM kernels shared by the dedup/similarity operators:
  * static calls inside WholeStageCodegen (never UDFs), each for a case
  * where a higher-order-function composition's per-element interpreted
  * lambdas were the measured bottleneck (large arrays).
  */
object GraftFunctions {

  /** Long-array pair explosion: sorts and DEDUPS a copy of the int64
    * ids, then emits all C(n,2) distinct pairs (a < b) in one JVM call
    * per row (StaticInvoke — a direct static call inside codegen, zero
    * per-element closure overhead). Null elements
    * are dropped; duplicate ids collapse (a raw collect_list input can
    * never produce an (x, x) self-pair). Callers therefore pass
    * collect_set/collect_list output directly — no sort_array needed.
    * The caller must cap n BEFORE this (quadratic output). */
  def sortedLongPairs(ids: ArrayData): ArrayData = {
    val n0 = ids.numElements()
    val a = new Array[Long](n0)
    var m = 0
    var i = 0
    while (i < n0) {
      if (!ids.isNullAt(i)) { a(m) = ids.getLong(i); m += 1 }
      i += 1
    }
    java.util.Arrays.sort(a, 0, m)
    var n = 0 // compact unique in place (sorted, so dups are adjacent)
    i = 0
    while (i < m) {
      if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }
      i += 1
    }
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](a(i), a(j)))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def sortedLongPairsKernel(ids: Column): Column =
    bridge.column(StaticInvoke(
      GraftFunctions.getClass,
      ArrayType(StructType(Seq(
        StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false))), containsNull = false),
      "sortedLongPairs",
      Seq(bridge.expression(ids)),
      inputTypes = Seq(ArrayType(LongType)),
      returnNullable = false))

  /** [[sortedLongPairs]] with each (a, b) pair PACKED into one int64
    * (a << 32 | b, a < b) — half the shuffle-key bytes of the struct form
    * and ZERO per-pair allocations on the explode side (one primitive
    * long[] per row instead of one GenericInternalRow per pair; measured
    * ~2× faster on the ~10⁷-pair neighbor-Jaccard wedge stage). Requires
    * every id in [0, 2³²) and throws otherwise — callers with wider id
    * spaces use [[sortedLongPairs]] (the struct form) unchanged. */
  def sortedLongPairsPacked(ids: ArrayData): ArrayData = {
    val n0 = ids.numElements()
    val a = new Array[Long](n0)
    var m = 0
    var i = 0
    while (i < n0) {
      if (!ids.isNullAt(i)) { a(m) = ids.getLong(i); m += 1 }
      i += 1
    }
    java.util.Arrays.sort(a, 0, m)
    if (m > 0 && (a(0) < 0L || a(m - 1) > 0xFFFFFFFFL))
      throw new IllegalArgumentException(
        s"sortedLongPairsPacked: ids must fit in 32 bits, got [${a(0)}, ${a(m - 1)}] " +
          "— use the struct-pair form (graft_sorted_pairs) for wider id spaces")
    var n = 0
    i = 0
    while (i < m) {
      if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }
      i += 1
    }
    val out = new Array[Long](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = (a(i) << 32) | a(j)
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def sortedLongPairsPackedKernel(ids: Column): Column =
    bridge.column(StaticInvoke(
      GraftFunctions.getClass,
      ArrayType(LongType, containsNull = false),
      "sortedLongPairsPacked",
      Seq(bridge.expression(ids)),
      inputTypes = Seq(ArrayType(LongType)),
      returnNullable = false))

  /** O(log n) binary-search lookup into a DICTIONARY shipped as parallel
    * sorted arrays (keys ascending + aligned values) — the single-row
    * broadcast alternative to a per-key equi-join when a small table must
    * be probed per row from TWO key columns at once (one crossJoin with
    * one dictionary row replaces two join stages). A map column is not an
    * option: GetMapValue is a LINEAR scan per lookup (measured; see
    * [[graft.functions.TextKernels.trigramScore]], which exists for the
    * same reason). Returns 0 for an absent key — callers guarantee
    * presence (e.g. every pair endpoint has a restricted degree by
    * construction). */
  def sortedLongLookup(keys: ArrayData, vals: ArrayData, key: Long): Long = {
    var lo = 0
    var hi = keys.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val k = keys.getLong(mid)
      if (k == key) return vals.getLong(mid)
      else if (k < key) lo = mid + 1
      else hi = mid - 1
    }
    0L
  }

  def sortedLongLookupKernel(keys: Column, vals: Column, key: Column): Column =
    bridge.column(StaticInvoke(
      GraftFunctions.getClass,
      LongType,
      "sortedLongLookup",
      Seq(bridge.expression(keys), bridge.expression(vals), bridge.expression(key)),
      inputTypes = Seq(ArrayType(LongType), ArrayType(LongType), LongType),
      returnNullable = false))

  /** Number of positions where the two signature arrays carry the SAME
    * value — exactly `size(filter(zip_with(sigA, sigB, _ === _), x => x))`,
    * the numerator of the MinHash est_sim gate, as one tight loop instead
    * of the per-element interpreted HOF chain (zip_with/filter lambdas
    * evaluate interpreted per element and materialize two intermediate
    * arrays per row). Lets the min-band emission project est_sim directly
    * from the signatures it ALREADY attached for the first-band test, so
    * the verify stage skips its two re-attach broadcast joins. */
  def sigMatchCount(sigA: ArrayData, sigB: ArrayData): Int = {
    val n = sigA.numElements()
    var i = 0
    var matches = 0
    while (i < n) {
      if (sigA.getLong(i) == sigB.getLong(i)) matches += 1
      i += 1
    }
    matches
  }

  def sigMatchCountKernel(sigA: Column, sigB: Column): Column =
    bridge.column(StaticInvoke(
      GraftFunctions.getClass,
      IntegerType,
      "sigMatchCount",
      Seq(bridge.expression(sigA), bridge.expression(sigB)),
      inputTypes = Seq(ArrayType(LongType), ArrayType(LongType)),
      returnNullable = false))

  /** [[sigMatchCount]] and its gate in one call: a one-element array
    * holding the count when it is at least `minMatches`, else an empty
    * array. Exploded, it filters and projects with ONE evaluation per
    * pair: a Filter on a projected kernel column is pushed into the
    * attach join's condition (and the Project evaluates the kernel
    * again), while a Generate's output cannot be pushed below it. */
  def sigMatchCountAtLeast(sigA: ArrayData, sigB: ArrayData, minMatches: Int): ArrayData = {
    val m = sigMatchCount(sigA, sigB)
    new GenericArrayData(if (m >= minMatches) Array[Int](m) else Array.emptyIntArray)
  }

  def sigMatchCountAtLeastKernel(sigA: Column, sigB: Column, minMatches: Int): Column =
    bridge.column(StaticInvoke(
      GraftFunctions.getClass,
      ArrayType(IntegerType, containsNull = false),
      "sigMatchCountAtLeast",
      Seq(bridge.expression(sigA), bridge.expression(sigB),
        org.apache.spark.sql.catalyst.expressions.Literal(minMatches)),
      inputTypes = Seq(ArrayType(LongType), ArrayType(LongType), IntegerType),
      returnNullable = false))

  /** Set-space Jaccard of two int64 arrays in ONE pass —
    * `size(array_intersect(a, b)) / size(array_union(a, b))` exactly
    * (both Catalyst operands dedup their inputs; this computes the same
    * distinct-intersection and distinct-union COUNTS over one
    * open-addressing long table instead of four hash-set builds plus two
    * materialized result arrays per call, the measured wall of the
    * minhash verify at sf10). Division semantics: c > 0 ⟹ u > 0, so the
    * only case where the divisor is zero is empty∕empty, which returns
    * 0.0 — NOT NaN: Spark SQL orders NaN ABOVE every numeric, so a NaN
    * would PASS the callers' `jaccard >= 0.2` gates where the expression
    * form's null-on-zero-divisor Divide dropped the row (empty shingle
    * sets arise from <3-token docs, whose all-sentinel signatures collide
    * in every band). 0.0 fails the gates exactly like null does, so the
    * operator output is row-for-row identical (callers must keep a
    * threshold filter; KernelEquivalenceSpec pins parity against the
    * expression form, including the empty∕empty case). Null elements are
    * not handled — inputs are xxhash64 outputs, never null. */
  def jaccardLongSets(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var cap = 4
    while (cap < (na + nb) * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val state = new Array[Byte](cap) // 0 empty, 1 in A, 2 in B only, 3 in both
    val mask = cap - 1
    def slot(k: Long): Int = {
      // 64->32 bit finalizer (splitmix64 tail) for probe dispersion
      var h = k * -7046029254386353131L
      h ^= h >>> 32
      var i = h.toInt & mask
      while (state(i) != 0 && keys(i) != k) i = (i + 1) & mask
      i
    }
    var distinctA = 0
    var i = 0
    while (i < na) {
      val k = a.getLong(i)
      val s = slot(k)
      if (state(s) == 0) { keys(s) = k; state(s) = 1; distinctA += 1 }
      i += 1
    }
    var c = 0 // |distinct(A) ∩ distinct(B)|
    var bNew = 0 // distinct B elements outside A
    i = 0
    while (i < nb) {
      val k = b.getLong(i)
      val s = slot(k)
      if (state(s) == 0) { keys(s) = k; state(s) = 2; bNew += 1 }
      else if (state(s) == 1) { state(s) = 3; c += 1 }
      i += 1
    }
    val u = distinctA + bNew
    if (u == 0) 0.0 else c.toDouble / u
  }

  /** [[jaccardLongSets]] and its `>= min` gate in one call: a one-element
    * array when it passes, else empty — exploded, one evaluation per
    * pair (see [[sigMatchCountAtLeast]]). empty∕empty yields 0.0 and so
    * fails every positive gate, as the plain kernel under a filter does. */
  def jaccardLongSetsAtLeast(a: ArrayData, b: ArrayData, min: Double): ArrayData = {
    val j = jaccardLongSets(a, b)
    new GenericArrayData(if (j >= min) Array[Double](j) else Array.emptyDoubleArray)
  }

  def jaccardLongSetsAtLeastKernel(a: Column, b: Column, min: Double): Column =
    bridge.column(StaticInvoke(
      GraftFunctions.getClass,
      ArrayType(DoubleType, containsNull = false),
      "jaccardLongSetsAtLeast",
      Seq(bridge.expression(a), bridge.expression(b),
        org.apache.spark.sql.catalyst.expressions.Literal(min)),
      inputTypes = Seq(ArrayType(LongType), ArrayType(LongType), DoubleType),
      returnNullable = false))

  /** Intersection of two SORTED, duplicate-free int64 arrays by two-pointer
    * merge — the contents of `array_intersect(a, b)` (ascending order
    * instead of first-argument order; callers must be order-insensitive,
    * e.g. feeding explode → groupBy) without the per-call hash-set builds.
    * Callers guarantee sortedness (e.g. `sort_array` inside the adjacency
    * aggregate, paid once per NODE instead of a set build per EDGE). */
  def sortedLongIntersect(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val out = new Array[Long](math.min(na, nb))
    var i = 0
    var j = 0
    var k = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { out(k) = x; k += 1; i += 1; j += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }

  def sortedLongIntersectKernel(a: Column, b: Column): Column =
    bridge.column(StaticInvoke(
      GraftFunctions.getClass,
      ArrayType(LongType, containsNull = false),
      "sortedLongIntersect",
      Seq(bridge.expression(a), bridge.expression(b)),
      inputTypes = Seq(ArrayType(LongType), ArrayType(LongType)),
      returnNullable = false))

  /** First-surviving-collision gate for banded-LSH pair emission — the
    * one map-side rule behind [[graft.ops.Dedup.minbandPairs]] and
    * [[graft.ops.Dedup.minhashSqlPairs]]. A candidate row surfaces once
    * per band whose bucket holds both docs, but which bands collide is
    * fully determined by the two signatures, so each row can decide on
    * its own whether `band` is the pair's FIRST SURVIVING collision.
    * True iff no lower band both collides (all `rows` components equal)
    * and escaped the bucket cap, and some band at or after `band`
    * collides (a candidate collides at its own `band`, so that check is
    * one band's compares) — so filtering on it keeps exactly one row per
    * pair with NO distinct exchange. [[sharedBandsFrom]] is the count
    * half: the gate scans the bands below `band`, the count the bands
    * from `band` on, so a plan that filters on the gate (Catalyst puts it
    * in the attach join's condition) and projects the count scans each
    * band once per row.
    *
    * `minMatches` > 0 also requires that many equal signature components
    * (est_sim = matches / perms, so est_sim ≥ 0.25 ⇔ matches ≥ perms/4),
    * stopping at the `minMatches`-th match. Carrying the est gate here
    * leaves Catalyst no est_sim predicate to push into the join condition
    * beside the projected [[sigMatchCount]], which would call that kernel
    * a second time per surviving row.
    *
    * `hot` = per-band sorted arrays of capped-away bucket keys: a lower
    * band colliding in a capped-away bucket never emitted the pair, so it
    * must not suppress this one. Keys pack the band's first two
    * components as k0·prime + k1 (components are CW residues in
    * [0, prime), prime = 2³¹−1, so the pack is an injective long —
    * unconditionally, since [[graft.ops.Dedup.minhashBandRows]] excludes
    * all-sentinel (Long.MaxValue) signatures from banding; a sentinel
    * component would wrap the pack and could alias a real hot key,
    * falsely suppressing a surviving lower band). Cap-less callers pass
    * empty arrays. A ≤(bands·rows)-long-comparison loop per call, early
    * exit at the first surviving lower-band collision (the common
    * duplicate case) — a StaticInvoke kernel because the equivalent
    * 16-branch Catalyst predicate tree over constant-indexed array reads
    * measured 2.7× SLOWER end-to-end at sf1 (codegen bloat). */
  def sharedBandsIfFirst(sigA: ArrayData, sigB: ArrayData, band: Int,
                         rows: Int, hot: ArrayData, minMatches: Int): Boolean = {
    val prime = 2147483647L // TextKernels.SqlPrime — the family's CW modulus
    def cappedAway(j: Int): Boolean = {
      val hotJ = hot.getArray(j)
      val key = sigA.getLong(j * rows) * prime + sigA.getLong(j * rows + 1)
      var lo = 0
      var hi = hotJ.numElements() - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val k = hotJ.getLong(mid)
        if (k == key) return true
        else if (k < key) lo = mid + 1
        else hi = mid - 1
      }
      false
    }
    var j = 0
    while (j < band) {
      // a lower surviving band already emitted this pair
      if (bandCollides(sigA, sigB, j, rows) && !cappedAway(j)) return false
      j += 1
    }
    val bands = sigA.numElements() / rows
    while (j < bands && !bandCollides(sigA, sigB, j, rows)) j += 1
    if (j == bands) return false
    var seen = 0
    var i = 0
    while (seen < minMatches && i < sigA.numElements()) {
      if (sigA.getLong(i) == sigB.getLong(i)) seen += 1
      i += 1
    }
    seen >= minMatches
  }

  /** Number of bands at or after `band` whose `rows` components all agree
    * — the count half of [[sharedBandsIfFirst]]: for a row that passes
    * the gate of a cap-less caller, the pair's total shared-band count. */
  def sharedBandsFrom(sigA: ArrayData, sigB: ArrayData, band: Int, rows: Int): Long = {
    val bands = sigA.numElements() / rows
    var j = band
    var count = 0L
    while (j < bands) {
      if (bandCollides(sigA, sigB, j, rows)) count += 1
      j += 1
    }
    count
  }

  private def bandCollides(sigA: ArrayData, sigB: ArrayData, j: Int, rows: Int): Boolean = {
    var r = 0
    while (r < rows) {
      if (sigA.getLong(j * rows + r) != sigB.getLong(j * rows + r)) return false
      r += 1
    }
    true
  }

  def sharedBandsIfFirstKernel(sigA: Column, sigB: Column, band: Column,
                               rows: Column, hot: Column, minMatches: Column): Column =
    bridge.column(StaticInvoke(
      GraftFunctions.getClass,
      BooleanType,
      "sharedBandsIfFirst",
      Seq(bridge.expression(sigA), bridge.expression(sigB),
        bridge.expression(band), bridge.expression(rows), bridge.expression(hot),
        bridge.expression(minMatches)),
      inputTypes = Seq(ArrayType(LongType), ArrayType(LongType), IntegerType,
        IntegerType, ArrayType(ArrayType(LongType)), IntegerType),
      returnNullable = false))

  def sharedBandsFromKernel(sigA: Column, sigB: Column, band: Column, rows: Column): Column =
    bridge.column(StaticInvoke(
      GraftFunctions.getClass,
      LongType,
      "sharedBandsFrom",
      Seq(bridge.expression(sigA), bridge.expression(sigB),
        bridge.expression(band), bridge.expression(rows)),
      inputTypes = Seq(ArrayType(LongType), ArrayType(LongType), IntegerType, IntegerType),
      returnNullable = false))

  /** Spark's `round(_, 4)` double semantics replayed in plain JVM code —
    * the Catalyst Round expression for DoubleType goes through
    * BigDecimal.valueOf → setScale(HALF_UP) → toDouble, and RDD-space
    * kernels that pre-rank by a rounded score ([[graft.ops.Graph]]'s
    * fused wedge top-k) must cut at EXACTLY the same grid values or a
    * rounded tie could flip across the top-k boundary versus the
    * DataFrame path. KernelEquivalenceSpec pins value-parity against the
    * Catalyst expression over randomized inputs. */
  def roundHalfUp4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Top-`keep` centroid ids of `vec` by cosine similarity (ties → the
    * smaller cent_id), over a broadcast `cents` array of
    * (cent_id: long, cent_vec: array) structs — ONE compiled call per
    * row. A `transform(cents, c => cosine(...))` lambda evaluates every
    * 64-dim dot product in interpreted mode (HOFs are CodegenFallback;
    * measured ~160 µs/row), and unrolling nlist cosine EXPRESSIONS blows
    * the generated method past the JIT's huge-method limit, de-optimizing
    * the whole projection — so the scoring loop lives here as plain JVM
    * code instead. The per-centroid cosine mirrors
    * [[graft.functions.CosineSimilarity]]'s accumulation order exactly
    * (pairwise null-checked, left-to-right dot/na/nb in one loop,
    * `0.0` on zero norms) so results are bit-identical to the expression
    * form and the DuckDB oracle replay. `vecFloat`/`centsFloat` pick the
    * element reader (float embeddings vs double k-means centroids) —
    * ArrayData carries no element type at runtime. NaN cosines are never
    * selected. Returns at most `keep` ids, fewer when cents is smaller. */
  def centroidTopIds(vec: ArrayData, cents: ArrayData, keep: Int,
                     vecFloat: Boolean, centsFloat: Boolean): ArrayData = {
    val n = cents.numElements()
    val cos = new Array[Double](n)
    val ids = new Array[Long](n)
    var c = 0
    while (c < n) {
      val ent = cents.getStruct(c, 2)
      ids(c) = ent.getLong(0)
      val cv = ent.getArray(1)
      val m = math.min(vec.numElements(), cv.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < m) {
        if (!vec.isNullAt(i) && !cv.isNullAt(i)) {
          val x = if (vecFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
          val y = if (centsFloat) cv.getFloat(i).toDouble else cv.getDouble(i)
          dot += x * y; na += x * x; nb += y * y
        }
        i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      cos(c) = if (d == 0.0) 0.0 else dot / d
      c += 1
    }
    val k = math.min(keep, n)
    val out = new Array[Long](k)
    val taken = new Array[Boolean](n)
    var filled = 0
    while (filled < k) {
      var best = -1
      var bc = 0
      while (bc < n) {
        if (!taken(bc) &&
          (best < 0 || cos(bc) > cos(best) ||
            (cos(bc) == cos(best) && ids(bc) < ids(best)))) {
          // NaN never wins a > / == comparison, so a NaN slot can only
          // land in `best` via the best<0 seed — reject it at selection
          if (!cos(bc).isNaN) best = bc
        }
        bc += 1
      }
      if (best < 0) {
        // fewer than `keep` selectable centroids (NaN cosines): truncate
        return new GenericArrayData(java.util.Arrays.copyOf(out, filled))
      }
      taken(best) = true
      out(filled) = ids(best)
      filled += 1
    }
    new GenericArrayData(out)
  }

  def centroidTopIdsKernel(vec: Column, cents: Column, keep: Column,
                           vecFloat: Column, centsFloat: Column): Column =
    bridge.column(StaticInvoke(
      GraftFunctions.getClass,
      ArrayType(LongType, containsNull = false),
      "centroidTopIds",
      Seq(bridge.expression(vec), bridge.expression(cents),
        bridge.expression(keep), bridge.expression(vecFloat),
        bridge.expression(centsFloat)),
      returnNullable = false))
}
