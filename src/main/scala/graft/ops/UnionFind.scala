package graft.ops

/** Disjoint-set forest over arbitrary long keys: an open-addressing
  * long→index table (linear probing, power-of-two capacity) feeding a
  * dense parent/size forest with path-halving `find` and union-by-size.
  * Zero boxing, zero per-op allocation — the per-partition workhorse of
  * [[Dedup.connectedComponents]]'s dense path, where it runs once per
  * edge inside `mapPartitions` and once per merge inside `treeAggregate`.
  *
  * Capacity is keys actually seen (distinct node ids), NOT edges — a
  * partition of 10⁸ edges over 10⁶ nodes holds 10⁶ slots. Arrays double
  * on demand; the table rehashes at 50% load. Hard ceiling: 2^29
  * distinct keys (the 50%-load bound of the largest power-of-two int
  * table) — exceeding it fails with an explicit `require` directing the
  * caller to the partition-scaling fallback, never an opaque
  * NegativeArraySizeException from a wrapped shift.
  */
private[graft] object LongUnionFind {
  /** Largest power-of-two open-addressing table (2^30 ints = 4 GB). */
  val MaxTable: Int = 1 << 30
  /** Distinct-key ceiling: 50% load of [[MaxTable]]. */
  val MaxNodes: Int = 1 << 29
}

private[graft] final class LongUnionFind(initialCap: Int = 16) {
  private[this] var tab: Array[Int] = new Array[Int](tableSizeFor(initialCap))
  private[this] var nodes: Array[Long] = new Array[Long](math.max(4, initialCap))
  private[this] var parent: Array[Int] = new Array[Int](nodes.length)
  private[this] var csize: Array[Int] = new Array[Int](nodes.length)
  private[this] var n = 0

  private def tableSizeFor(c: Int): Int = {
    var s = 16
    while (s < c * 2 && s < LongUnionFind.MaxTable) s <<= 1
    s
  }

  // 64→32 bit mix (splitmix64 finalizer): linear probing needs the high
  // bits of sequential ids scattered or dense key ranges cluster
  private def mix(k: Long): Int = {
    var h = k
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h.toInt
  }

  /** Dense index of `k`, inserting it as a fresh singleton when absent.
    * Indices are stable for the structure's lifetime (rehash moves table
    * slots, never node indices). */
  def indexOf(k: Long): Int = {
    val mask = tab.length - 1
    var i = mix(k) & mask
    while (true) {
      val v = tab(i)
      if (v == 0) {
        require(n < LongUnionFind.MaxNodes,
          s"LongUnionFind supports at most ${LongUnionFind.MaxNodes} distinct " +
            "keys (2^29, the 50%-load bound of the largest power-of-two table); " +
            "this input exceeds the dense path's capacity — the " +
            "partition-scaling loop must take it instead")
        if (n == nodes.length) growNodes()
        nodes(n) = k; parent(n) = n; csize(n) = 1
        tab(i) = n + 1
        n += 1
        if (n * 2 > tab.length) rehash()
        return n - 1
      } else if (nodes(v - 1) == k) return v - 1
      i = (i + 1) & mask
    }
    -1 // unreachable
  }

  private def growNodes(): Unit = {
    nodes = java.util.Arrays.copyOf(nodes, nodes.length << 1)
    parent = java.util.Arrays.copyOf(parent, parent.length << 1)
    csize = java.util.Arrays.copyOf(csize, csize.length << 1)
  }

  private def rehash(): Unit = {
    val nt = new Array[Int](tab.length << 1)
    val mask = nt.length - 1
    var j = 0
    while (j < n) {
      var i = mix(nodes(j)) & mask
      while (nt(i) != 0) i = (i + 1) & mask
      nt(i) = j + 1
      j += 1
    }
    tab = nt
  }

  /** Root index with path halving. */
  def find(i0: Int): Int = {
    var i = i0
    while (parent(i) != i) {
      parent(i) = parent(parent(i))
      i = parent(i)
    }
    i
  }

  def union(a: Long, b: Long): Unit = {
    val ra = find(indexOf(a))
    val rb = find(indexOf(b))
    if (ra != rb) {
      if (csize(ra) < csize(rb)) { parent(ra) = rb; csize(rb) += csize(ra) }
      else { parent(rb) = ra; csize(ra) += csize(rb) }
    }
  }

  def size: Int = n
  def nodeAt(i: Int): Long = nodes(i)

  /** Packed (node, root-node) pairs — a star spanning forest equivalent
    * to everything union'd so far, 2·|V| longs regardless of edge count.
    * This is what crosses the wire between tree-merge levels. */
  def starEdges: Array[Long] = {
    val out = new Array[Long](n * 2)
    var i = 0
    while (i < n) {
      out(2 * i) = nodes(i)
      out(2 * i + 1) = nodes(find(i))
      i += 1
    }
    out
  }

  /** Component labels parallel to node-index order, label = MIN key in
    * the component — the exact fixpoint of the min-label-propagation
    * loop this structure replaces. */
  def minLabels: Array[Long] = {
    val minOf = new Array[Long](n)
    java.util.Arrays.fill(minOf, Long.MaxValue)
    var i = 0
    while (i < n) {
      val r = find(i)
      if (nodes(i) < minOf(r)) minOf(r) = nodes(i)
      i += 1
    }
    val out = new Array[Long](n)
    i = 0
    while (i < n) { out(i) = minOf(find(i)); i += 1 }
    out
  }
}
