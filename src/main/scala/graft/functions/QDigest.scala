package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** q-digest — the MERGEABLE percentile sketch (Shrivastava, Buragohain,
  * Agrawal, Suri, "Medians and Beyond: New Aggregation Techniques for
  * Sensor Networks", SenSys 2004; the same structure behind Trino's
  * `qdigest` type [pinned docker/devserver/Dockerfile:14]). This is the
  * percentile counterpart of [[KmvSketch]]: store ONE small sketch per
  * shard/day/corpus, roll them up at query time with `qdigest_merge_agg`
  * — percentiles over 100 TB without rescanning or re-sorting anything,
  * which `percentile_approx`/f10 cannot do (they need the raw rows).
  *
  * Structure: a sparse binary tree over the integer universe
  * [0, 2^32) — node at depth d (root d=0, leaves d=32) covering prefix
  * p has id `(1L << d) | p`, so parent(id) = id >>> 1 and sibling(id) =
  * id ^ 1, and every id fits a Long. Counts live on nodes; compression
  * folds any (node, sibling, parent) triple whose combined count is
  * ≤ ⌊n/k⌋ into the parent. Surviving size is O(k), rank error is
  * ≤ depth·⌊n/k⌋ ≤ 32·n/k (each ancestor of the true leaf can hide at
  * most ⌊n/k⌋ counts) — asserted empirically in QdigestSpec.
  *
  * Exactness contract (same device that makes f20 oracle-checkable):
  * while n < k the fold threshold ⌊n/k⌋ is 0, nothing ever compresses,
  * every count sits on its exact leaf — quantiles and ranks are EXACT
  * discrete statistics (value at sorted position ⌈q·n⌉), so the f22
  * entry runs against a full DuckDB oracle at sf0.01 and the merge of
  * shard digests is bit-identical to the digest of the union (asserted
  * in QdigestSpec). Memory in the exact regime is O(distinct values)
  * — bounded by k·16 bytes, since the regime by definition has n < k.
  *
  * Value contract: non-negative longs < 2^32 (doc lengths, token
  * counts, prices in cents, quality-score millis all fit); out-of-range
  * input fails loudly rather than silently clamping.
  *
  * Functions (registered in [[GraftFunctions]]):
  *  - `qdigest_agg(x, k)` — aggregate → binary sketch
  *  - `qdigest_merge_agg(sketch)` — aggregate union of sketch ROWS
  *  - `qdigest_merge(a, b)` — scalar pairwise merge
  *  - `qdigest_quantile(sketch, q)` — value at quantile q ∈ (0, 1]
  *  - `qdigest_rank_of(sketch, x)` — estimated fraction of values ≤ x
  *  - `qdigest_count(sketch)` — total row count n (exact always)
  * Scalars run once per GROUP (post-aggregation, off the per-row hot
  * path), so interpreted eval (CodegenFallback) is the right cost class.
  *
  * Wire format: [int k][long n][int m][m × (long id, long count)],
  * ids ascending — a canonical serialization, so equal digests are
  * equal bytes.
  */
/** Minimal open-addressing long→long counts map (power-of-2 capacity,
  * linear probing). r14 optimization (guide §1.2 step 2 — per-task
  * work): the previous `mutable.LongMap[Long]` boxed every VALUE (one
  * `java.lang.Long` allocation per update — values past the small-int
  * cache are fresh objects) and `compress()` snapshotted ids through
  * boxed `ArrayBuffer[Long]`s; measured with the f22 probe, `Buf.add` ran
  * ~1.6 µs/row (1.0 s single-threaded for sf0.1's 600k lineitem rows),
  * all of it allocation/GC. This map is two primitive arrays — zero
  * allocation per operation.
  *
  * Key contract: node ids are always ≥ 1 (the root is id 1, leaves
  * carry bit 32), so key 0 is the EMPTY sentinel. Counts are always
  * ≥ 1, so `getOrElse` defaults of 0/-1 are unambiguous. No removal:
  * compress() rebuilds a fresh map instead, so the class carries no
  * tombstone machinery (deleted r15 per ADVICE — it was dead,
  * untested code and a branch in every probe step).
  */
final class LongLongCounts(initialCapacity: Int = 64) {
  private var cap = Integer.highestOneBit(
    math.max(math.max(initialCapacity, 16) - 1, 8)) * 2
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var live = 0 // present entries

  @inline private def slot(id: Long): Int = {
    var h = id * 0x9E3779B97F4A7C15L
    h ^= h >>> 32
    (h & (cap - 1)).toInt
  }

  def size: Int = live

  /** counts(id) += c, inserting if absent. */
  def addTo(id: Long, c: Long): Unit = {
    var i = slot(id)
    while (true) {
      val k = keys(i)
      if (k == id) { vals(i) += c; return }
      else if (k == 0L) {
        keys(i) = id; vals(i) = c; live += 1
        if (live * 4 >= cap * 3) grow()
        return
      }
      i = (i + 1) & (cap - 1)
    }
  }

  /** Plain put (insert or overwrite). */
  def set(id: Long, c: Long): Unit = {
    var i = slot(id)
    while (true) {
      val k = keys(i)
      if (k == id) { vals(i) = c; return }
      else if (k == 0L) {
        keys(i) = id; vals(i) = c; live += 1
        if (live * 4 >= cap * 3) grow()
        return
      }
      i = (i + 1) & (cap - 1)
    }
  }

  def getOrElse(id: Long, default: Long): Long = {
    var i = slot(id)
    while (true) {
      val k = keys(i)
      if (k == id) return vals(i)
      else if (k == 0L) return default
      i = (i + 1) & (cap - 1)
    }
    default // unreachable
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals
    cap = math.max(cap, Integer.highestOneBit(math.max(live * 4 - 1, 8)) * 2)
    keys = new Array[Long](cap); vals = new Array[Long](cap)
    live = 0
    var j = 0
    while (j < ok.length) {
      val k = ok(j)
      if (k != 0L) set(k, ov(j))
      j += 1
    }
  }

  /** Specialized iteration — (Long, Long) => Unit hits the specialized
    * Function2 variant, no boxing. */
  def foreachEntry(f: (Long, Long) => Unit): Unit = {
    var j = 0
    while (j < keys.length) {
      val k = keys(j)
      if (k != 0L) f(k, vals(j))
      j += 1
    }
  }

  /** Live keys as a fresh array (unsorted). */
  def keysArray: Array[Long] = {
    val out = new Array[Long](live)
    var j = 0; var o = 0
    while (j < keys.length) {
      val k = keys(j)
      if (k != 0L) { out(o) = k; o += 1 }
      j += 1
    }
    out
  }

  /** Boxed-tuple view for the polymorphic merge() compat path. */
  def iterator: Iterator[(Long, Long)] =
    keys.indices.iterator
      .filter(j => keys(j) != 0L)
      .map(j => (keys(j), vals(j)))
}

object Qdigest {
  val MaxValue: Long = (1L << 32) - 1
  private val LeafDepth = 32

  /** Node helpers: id at depth d for prefix p is (1 << d) | p. */
  @inline private def depth(id: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(id)
  @inline private def nodeMin(id: Long): Long = {
    val d = depth(id)
    (id ^ (1L << d)) << (LeafDepth - d)
  }
  @inline private def nodeWidth(id: Long): Long = 1L << (LeafDepth - depth(id))
  @inline def leafId(v: Long): Long = (1L << LeafDepth) | v

  /** Growable primitive long buffer (compress()'s per-depth id
    * snapshots — previously boxed ArrayBuffer[Long]s). */
  private final class LongVec(initial: Int = 16) {
    private var a = new Array[Long](math.max(initial, 8))
    var len = 0
    def append(v: Long): Unit = {
      if (len == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(len) = v; len += 1
    }
    /** Sort the live prefix in place, return the backing array (read
      * only the first `len` entries). */
    def sortedPrefix(): Array[Long] = {
      java.util.Arrays.sort(a, 0, len)
      a
    }
    /** Raw backing array (read only the first `len` entries). */
    def array: Array[Long] = a
  }

  final class Buf(var k: Int, var n: Long, var counts: LongLongCounts) {
    /** Re-compress at 2× the post-compress size (amortized O(1) per
      * row); never below 4k so small digests don't thrash, and never
      * while n < k (threshold 0 — a compress pass would be a no-op). */
    var nextCompress: Int = 0

    def add(v: Long, c: Long): Unit = {
      require(v >= 0 && v <= MaxValue,
        s"qdigest value out of range [0, 2^32): $v")
      counts.addTo(leafId(v), c)
      n += c
      maybeCompress()
    }

    def maybeCompress(): Unit = {
      if (nextCompress == 0) nextCompress = math.max(64, 4 * k)
      if (counts.size >= nextCompress && n >= k) {
        compress()
        nextCompress = math.max(math.max(64, 4 * k), counts.size * 2)
      }
    }

    /** Bottom-up fold: any (node, sibling, parent) triple with combined
      * count ≤ ⌊n/k⌋ folds into the parent. ONE map snapshot bucketed
      * by depth (the previous spelling re-scanned the whole map once
      * per depth — 33 full scans per compress, the dominant cost of the
      * saturated-regime merge stage); a fold that CREATES a parent
      * appends it to the d-1 bucket, which is exactly the set the
      * per-depth rescan used to discover.
      *
      * r14 rewrite (guide §1.2 step 2, measured with the f22 probe,
      * 18f3aca:src/main/scala/graft/tools/ProbeF22.scala): the
      * hash-map spelling of this fold paid ~4 RANDOM map probes per
      * cascade step (own count, sibling, parent, update/remove) — with
      * sparse values and a small fold threshold a 262k-entry snapshot
      * cascades ~1.3M node visits, ≈16M random DRAM probes ≈ 0.7 s per
      * sf0.1 build (vs 0.03 s for the raw adds). This version runs the
      * SAME fold in sequential array passes: per level, entries are a
      * MERGE of the sorted snapshot bucket and the parents generated by
      * the level below (ascending by construction — parents of an
      * ascending id scan are monotone, each parent generated at most
      * once); the sibling is the adjacent stream entry; the parent
      * count lives at a forward-only pointer into the level-above
      * snapshot. No map operations at all inside the cascade; the
      * counts map is rebuilt once from the survivors.
      *
      * Fold-order equivalence (per depth, ascending id — the exact
      * order of the map spelling): a fold's inputs are its own count,
      * the live sibling count, and the parent count as updated by
      * earlier same-level folds; parents are updated by at most ONE
      * fold (their own child pair), siblings pair-fold atomically
      * (the even entry's check and the odd entry's check compute the
      * SAME sum, so a surviving even sibling implies the odd survives
      * too), and level d removals never touch level d-1 snapshot
      * entries. Surviving node set — and the canonical serialization —
      * is bit-identical (QdigestSpec pins this against a reference
      * fold). */
    def compress(): Unit = {
      val t = n / k
      if (t <= 0) return
      // ---- snapshot: per-level sorted ids + parallel counts arrays
      val sn = new Array[LongVec](LeafDepth + 1)
      var di = 0
      while (di <= LeafDepth) { sn(di) = new LongVec(); di += 1 }
      counts.foreachEntry((id, _) => sn(depth(id)).append(id))
      val snC = new Array[Array[Long]](LeafDepth + 1)
      di = 0
      while (di <= LeafDepth) {
        val v = sn(di); val a = v.sortedPrefix()
        val c = new Array[Long](v.len)
        var i = 0
        while (i < v.len) { c(i) = counts.getOrElse(a(i), 0L); i += 1 }
        snC(di) = c
        di += 1
      }
      // generated parents per level (ascending by construction)
      val gn = new Array[LongVec](LeafDepth + 1)
      val gnC = new Array[LongVec](LeafDepth + 1)
      di = 0
      while (di <= LeafDepth) { gn(di) = new LongVec(); gnC(di) = new LongVec(); di += 1 }
      val outIds = new LongVec(64); val outCnt = new LongVec(64) // survivors
      var d = LeafDepth
      while (d >= 1) {
        val e = sn(d).array; val ec = snC(d); val eLen = sn(d).len
        val g = gn(d).array; val gc = gnC(d).array; val gLen = gn(d).len
        val pIds = sn(d - 1).array; val pCnt = snC(d - 1); val pLen = sn(d - 1).len
        var ei = 0; var gi = 0; var pi = 0
        var prevId = -1L; var prevC = 0L; var prevSurvived = false
        while (ei < eLen || gi < gLen) {
          var id = 0L; var c = 0L
          if (gi >= gLen || (ei < eLen && e(ei) <= g(gi))) { id = e(ei); c = ec(ei); ei += 1 }
          else { id = g(gi); c = gc(gi); gi += 1 }
          if ((id & 1L) == 1L && prevSurvived && prevId == id - 1L) {
            // even sibling survived: its fold check computed the SAME
            // sum (c_even + c_odd + pc) and exceeded t, so this entry
            // survives without re-checking — identical to the map
            // spelling, where the even node's presence forces s > t.
            outIds.append(id); outCnt.append(c)
            prevId = id; prevSurvived = true
          } else {
            // sibling count: only a LARGER sibling can still be
            // unprocessed (adjacent next entry); a smaller one either
            // survived (branch above) or was absent/consumed.
            var sibC = 0L
            var sibFrom = 0 // 1 = snapshot stream, 2 = generated stream
            if ((id & 1L) == 0L) {
              if (ei < eLen && e(ei) == id + 1L) { sibC = ec(ei); sibFrom = 1 }
              else if (gi < gLen && g(gi) == id + 1L) { sibC = gc(gi); sibFrom = 2 }
            }
            val parent = id >>> 1
            while (pi < pLen && pIds(pi) < parent) pi += 1
            val pc = if (pi < pLen && pIds(pi) == parent) pCnt(pi) else -1L
            val s = c + sibC + math.max(pc, 0L)
            if (s <= t) {
              if (pc >= 0) pCnt(pi) = s
              else { gn(d - 1).append(parent); gnC(d - 1).append(s) }
              // fold consumes the sibling too
              if (sibFrom == 1) ei += 1 else if (sibFrom == 2) gi += 1
              prevId = id; prevSurvived = false
            } else {
              outIds.append(id); outCnt.append(c)
              prevId = id; prevSurvived = true
            }
          }
        }
        d -= 1
      }
      // level-0 leftovers (the root can never fold): snapshot entries
      // with any updates applied, plus generated roots
      var i0 = 0
      while (i0 < sn(0).len) {
        outIds.append(sn(0).array(i0)); outCnt.append(snC(0)(i0)); i0 += 1
      }
      i0 = 0
      while (i0 < gn(0).len) {
        outIds.append(gn(0).array(i0)); outCnt.append(gnC(0).array(i0)); i0 += 1
      }
      // rebuild the map from survivors in one pass
      val m = new LongLongCounts(math.max(16, outIds.len * 2))
      var oi = 0
      while (oi < outIds.len) { m.set(outIds.array(oi), outCnt.array(oi)); oi += 1 }
      counts = m
    }

    def mergeIn(ok: Int, on: Long, oc: LongLongCounts): Unit = {
      k = math.min(k, ok)
      n += on
      oc.foreachEntry((id, c) => counts.addTo(id, c))
      maybeCompress()
    }

    /** Boxed-iterator compat overload (polymorphic merge() path). */
    def mergeIn(ok: Int, on: Long, om: Iterator[(Long, Long)]): Unit = {
      k = math.min(k, ok)
      n += on
      om.foreach { case (id, c) => counts.addTo(id, c) }
      maybeCompress()
    }
  }

  def emptyBuf(k: Int): Buf = new Buf(k, 0L, new LongLongCounts())

  /** Wire magic ("QDG1"): qdigest scalars reject foreign binaries
    * (a KMV/HLL sketch column, arbitrary bytes) LOUDLY instead of
    * misparsing them into plausible garbage statistics. */
  val Magic = 0x51444731

  def serialize(b: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream(20 + b.counts.size * 16)
    val out = new DataOutputStream(bos)
    out.writeInt(Magic)
    out.writeInt(b.k); out.writeLong(b.n); out.writeInt(b.counts.size)
    val ids = b.counts.keysArray
    java.util.Arrays.sort(ids)
    var i = 0
    while (i < ids.length) {
      out.writeLong(ids(i)); out.writeLong(b.counts.getOrElse(ids(i), 0L))
      i += 1
    }
    out.flush(); bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    require(bytes.length >= 20 && in.readInt() == Magic,
      "not a qdigest sketch (wrong magic): qdigest_* functions take " +
        "binaries produced by qdigest_agg/qdigest_merge_agg/qdigest_merge")
    val k = in.readInt(); val n = in.readLong(); val m = in.readInt()
    require(m >= 0 && bytes.length == 20 + m.toLong * 16,
      s"not a qdigest (length ${bytes.length} != 20 + $m*16): corrupt or truncated binary")
    val map = new LongLongCounts(math.max(16, m * 2))
    var i = 0
    while (i < m) { map.set(in.readLong(), in.readLong()); i += 1 }
    val b = new Buf(k, n, map)
    b
  }

  /** Nodes in "postorder" value space: ascending max value, descendants
    * (larger min) before ancestors on ties — the SenSys 2004 query
    * order. Returns (min, max, count) triples. */
  /** r14: primitive postorder — (max asc, min desc) packs into ONE
    * sortable long (both bounds < 2^32: key = max << 32 | ~min's low
    * 32 bits), co-sorted with counts by a dual-array quicksort. The
    * previous boxed-tuple stableSort with a closure comparator ran
    * once per qdigest_quantile call (3 per f22 output row) over the
    * full node set. Key uniqueness: (min, max) determines the node, so
    * ties are impossible and stability is moot — the sort order is the
    * same total order as before. Keys with max >= 2^31 have the long
    * sign bit set; flipping it (XOR Long.MIN_VALUE) makes signed sort
    * equal unsigned key order. */
  private def orderedKeys(b: Buf): (Array[Long], Array[Long]) = {
    val m = b.counts.size
    val keys = new Array[Long](m)
    val cnts = new Array[Long](m)
    var o = 0
    b.counts.foreachEntry { (id, c) =>
      val mn = nodeMin(id)
      val mx = mn + nodeWidth(id) - 1
      keys(o) = ((mx << 32) | ((~mn) & 0xFFFFFFFFL)) ^ Long.MinValue
      cnts(o) = c
      o += 1
    }
    coSort(keys, cnts, 0, m - 1)
    (keys, cnts)
  }

  @inline private def keyMax(key: Long): Long = ((key ^ Long.MinValue) >>> 32)

  private def coSort(k: Array[Long], v: Array[Long], lo0: Int, hi0: Int): Unit = {
    // recurse into the SMALLER partition, loop on the larger (ADVICE
    // r14): bounds stack depth at log2(n) even on adversarial/patterned
    // key distributions, where plain two-sided recursion could reach
    // depth n.
    var lo = lo0; var hi = hi0
    while (lo < hi) {
      var i = lo; var j = hi
      val pivot = k((lo + hi) >>> 1)
      while (i <= j) {
        while (k(i) < pivot) i += 1
        while (k(j) > pivot) j -= 1
        if (i <= j) {
          val tk = k(i); k(i) = k(j); k(j) = tk
          val tv = v(i); v(i) = v(j); v(j) = tv
          i += 1; j -= 1
        }
      }
      if (j - lo < hi - i) { coSort(k, v, lo, j); lo = i }
      else { coSort(k, v, i, hi); hi = j }
    }
  }

  /** Value at quantile q ∈ (0, 1]: the max value of the first postorder
    * node whose cumulative count reaches rank ⌈q·n⌉ (exact discrete
    * quantile — value at sorted position ⌈q·n⌉ — in the uncompressed
    * regime). Null (None) on an empty digest. */
  def valueAtQuantile(b: Buf, q: Double): Option[Long] = {
    require(q > 0.0 && q <= 1.0, s"quantile must be in (0, 1], got $q")
    if (b.n == 0) return None
    val rank = math.max(1L, math.ceil(q * b.n).toLong)
    var cum = 0L
    val (keys, cnts) = orderedKeys(b)
    var i = 0
    while (i < keys.length) {
      cum += cnts(i)
      if (cum >= rank) return Some(keyMax(keys(i)))
      i += 1
    }
    Some(keyMax(keys(keys.length - 1)))
  }

  /** Estimated fraction of values ≤ x: full counts of nodes entirely
    * ≤ x, proportional credit for the straddling node (exact in the
    * uncompressed regime, where every node is a leaf). */
  /** Numeric operand coercion: SQL decimal literals (e.g. `0.5`) eval
    * to Spark's Decimal, which is not a java.lang.Number. */
  def toDouble(v: Any): Double = v match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }
  def toLong(v: Any): Long = v match {
    case d: org.apache.spark.sql.types.Decimal => d.toLong
    case n: Number => n.longValue()
  }

  def rankOf(b: Buf, x: Long): Option[Double] = {
    if (b.n == 0) return None
    var below = 0.0
    b.counts.foreachEntry { (id, c) =>
      val mn = nodeMin(id)
      val mx = mn + nodeWidth(id) - 1
      if (mx <= x) below += c
      else if (mn <= x) below += c * ((x - mn + 1).toDouble / nodeWidth(id))
    }
    Some(below / b.n)
  }
}

/** `qdigest_agg(x, k)` — build a mergeable percentile sketch. */
final case class QdigestAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Qdigest.Buf] {

  require(k >= 16 && k <= (1 << 20), s"qdigest_agg k must be in [16, 1048576], got $k")

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Qdigest.Buf = Qdigest.emptyBuf(k)

  override def update(b: Qdigest.Buf, input: InternalRow): Qdigest.Buf = {
    val v = child.eval(input)
    if (v != null) b.add(Qdigest.toLong(v), 1L)
    b
  }

  override def merge(b: Qdigest.Buf, o: Qdigest.Buf): Qdigest.Buf = {
    b.mergeIn(o.k, o.n, o.counts)
    b
  }

  override def eval(b: Qdigest.Buf): Any = { b.compress(); Qdigest.serialize(b) }

  override def serialize(b: Qdigest.Buf): Array[Byte] = Qdigest.serialize(b)
  override def deserialize(bytes: Array[Byte]): Qdigest.Buf = Qdigest.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): QdigestAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QdigestAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "qdigest_agg"
}

/** `qdigest_merge_agg(sketch)` — roll up stored per-shard digests
  * without rescanning the shards (the 100 TB reporting pattern). */
final case class QdigestMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Qdigest.Buf] {

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Qdigest.Buf = Qdigest.emptyBuf(1 << 20)

  override def update(b: Qdigest.Buf, input: InternalRow): Qdigest.Buf =
    child.eval(input) match {
      case null => b
      case bytes: Array[Byte] =>
        val o = Qdigest.deserialize(bytes)
        b.mergeIn(o.k, o.n, o.counts)
        b
      case other => throw new IllegalArgumentException(
        s"qdigest_merge_agg expects qdigest binaries, got ${other.getClass.getSimpleName}")
    }

  override def merge(b: Qdigest.Buf, o: Qdigest.Buf): Qdigest.Buf = {
    b.mergeIn(o.k, o.n, o.counts)
    b
  }

  override def eval(b: Qdigest.Buf): Any = { b.compress(); Qdigest.serialize(b) }

  override def serialize(b: Qdigest.Buf): Array[Byte] = Qdigest.serialize(b)
  override def deserialize(bytes: Array[Byte]): Qdigest.Buf = Qdigest.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): QdigestMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QdigestMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "qdigest_merge_agg"
}

/** Scalar finalizers — once per group result, off the hot path. */
final case class QdigestQuantile(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(sk: Any, q: Any): Any =
    Qdigest.valueAtQuantile(
      Qdigest.deserialize(sk.asInstanceOf[Array[Byte]]),
      Qdigest.toDouble(q)).orNull
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "qdigest_quantile"
}

final case class QdigestRankOf(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def nullSafeEval(sk: Any, x: Any): Any =
    Qdigest.rankOf(
      Qdigest.deserialize(sk.asInstanceOf[Array[Byte]]),
      Qdigest.toLong(x)).orNull
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "qdigest_rank_of"
}

final case class QdigestMerge(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = Qdigest.deserialize(l.asInstanceOf[Array[Byte]])
    val b = Qdigest.deserialize(r.asInstanceOf[Array[Byte]])
    a.mergeIn(b.k, b.n, b.counts)
    a.compress()
    Qdigest.serialize(a)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "qdigest_merge"
}

final case class QdigestCount(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    Qdigest.deserialize(v.asInstanceOf[Array[Byte]]).n
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "qdigest_count"
}
