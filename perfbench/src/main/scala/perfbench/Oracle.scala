package perfbench

import java.nio.file.{Files, Path}
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

/** Expected answers, computed in plain Scala from the generated edge
  * arrays — never through the engine. Each program keeps its reference
  * quirks:
  *
  *   - bag multiplicities: duplicate edges multiply every count;
  *   - SocialTriangle_RS: strict `< max` on both ids, and the 2-path
  *     x→y→z must have x ≠ z before the closing edge z→x is joined
  *     (with its multiplicity);
  *   - ReplicatedJoin: inclusive `<= max`, no x ≠ z guard, and the
  *     closing edge only has to exist (multiplicity ignored);
  *   - the 2-path cardinalities count in(v) · out(v) per vertex.
  *
  * Counts use exact long arithmetic and fail loudly on overflow.
  */
object Oracle {

  /** Distinct edges with their multiplicity, grouped by source (CSR):
    * the out-edges of `s` are `dst(offs(s) until offs(s + 1))`, sorted.
    */
  final class Weighted(val offs: Array[Int], val dst: Array[Int], val w: Array[Long]) {
    def vertices: Int = offs.length - 1
    def distinct: Int = dst.length
    def raw: Long = w.sum

    /** Multiplicity of s→d, 0 when absent. */
    def weight(s: Int, d: Int): Long =
      if (s >= vertices) 0L
      else {
        val i = java.util.Arrays.binarySearch(dst, offs(s), offs(s + 1), d)
        if (i >= 0) w(i) else 0L
      }
  }

  def keep(max: Long, inclusive: Boolean)(s: Int, d: Int): Boolean =
    if (inclusive) s <= max && d <= max else s < max && d < max

  /** The kept edges of `el`, collapsed to distinct (src, dst) with counts. */
  def weighted(el: EdgeList, max: Long, inclusive: Boolean): Weighted = {
    val k = keep(max, inclusive) _
    val keys = Array.newBuilder[Long]
    var top = -1
    var i = 0
    while (i < el.size) {
      val s = el.src(i); val d = el.dst(i)
      if (k(s, d)) { keys += (s.toLong << 32) | d.toLong; top = math.max(top, s) }
      i += 1
    }
    val sorted = keys.result()
    java.util.Arrays.sort(sorted)
    val dst = Array.newBuilder[Int]
    val w = Array.newBuilder[Long]
    val offs = new Array[Int](top + 2)
    var j = 0
    var distinct = 0
    while (j < sorted.length) {
      var e = j
      while (e < sorted.length && sorted(e) == sorted(j)) e += 1
      offs((sorted(j) >>> 32).toInt + 1) += 1
      dst += sorted(j).toInt
      w += (e - j).toLong
      distinct += 1
      j = e
    }
    var v = 0
    while (v < top + 1) { offs(v + 1) += offs(v); v += 1 }
    new Weighted(offs, dst.result(), w.result())
  }

  /** Row count, Σ paths and row-hash sum of a per-vertex 2-path relation. */
  final case class Path2(rows: Long, total: Long, checksum: Long)

  /** ExactCardinality (max = Long.MaxValue) / ApproxCardinality (strict `<`). */
  def path2(el: EdgeList, max: Long): Path2 = {
    val k = keep(max, inclusive = false) _
    var top = 0
    var i = 0
    while (i < el.size) { top = math.max(top, math.max(el.src(i), el.dst(i))); i += 1 }
    val in = new Array[Long](top + 1)
    val out = new Array[Long](top + 1)
    i = 0
    while (i < el.size) {
      val s = el.src(i); val d = el.dst(i)
      if (k(s, d)) { out(s) += 1; in(d) += 1 }
      i += 1
    }
    var rows, total, checksum = 0L
    var v = 0
    while (v <= top) {
      if (in(v) + out(v) > 0) {
        val p = Math.multiplyExact(in(v), out(v))
        rows += 1
        total = Math.addExact(total, p)
        checksum += RowHash(v.toLong, p)
      }
      v += 1
    }
    Path2(rows, total, checksum)
  }

  /** SocialTriangle_RS before its final `div 3`: Σ w1·w2·w3 over
    * x→y, y→z, z→x with x ≠ z. Also the per-vertex relation (anchor x,
    * its closed 2-paths): row count and row-hash sum; its Σ is `raw`.
    */
  final case class Cycles(raw: Long, anchors: Long, checksum: Long)

  def cyclesRS(g: Weighted): Cycles = {
    var raw, anchors, checksum = 0L
    var x = 0
    while (x < g.vertices) {
      var mine = 0L
      var a = g.offs(x)
      while (a < g.offs(x + 1)) {
        val y = g.dst(a)
        if (y < g.vertices) {
          var b = g.offs(y)
          while (b < g.offs(y + 1)) {
            val z = g.dst(b)
            if (z != x) {
              val w3 = g.weight(z, x)
              if (w3 > 0)
                mine = Math.addExact(mine,
                  Math.multiplyExact(Math.multiplyExact(g.w(a), g.w(b)), w3))
            }
            b += 1
          }
        }
        a += 1
      }
      if (mine > 0) {
        anchors += 1
        raw = Math.addExact(raw, mine)
        checksum += RowHash(x.toLong, mine)
      }
      x += 1
    }
    Cycles(raw, anchors, checksum)
  }

  /** ReplicatedJoin before its final `div 3`: Σ w1·w2 over x→y, y→z
    * whenever some z→x exists (no x ≠ z guard).
    */
  def cyclesRep(g: Weighted): Long = {
    var raw = 0L
    var x = 0
    while (x < g.vertices) {
      var a = g.offs(x)
      while (a < g.offs(x + 1)) {
        val y = g.dst(a)
        if (y < g.vertices) {
          var b = g.offs(y)
          while (b < g.offs(y + 1)) {
            if (g.weight(g.dst(b), x) > 0)
              raw = Math.addExact(raw, Math.multiplyExact(g.w(a), g.w(b)))
            b += 1
          }
        }
        a += 1
      }
      x += 1
    }
    raw
  }

  /** Row count and row-hash sum of the 2-path triples (x, y, z),
    * x→y, y→z, x ≠ z, one row per pair of bag edges.
    */
  final case class Triples(rows: Long, checksum: Long)

  def triples(g: Weighted): Triples = {
    var rows, checksum = 0L
    var x = 0
    while (x < g.vertices) {
      var a = g.offs(x)
      while (a < g.offs(x + 1)) {
        val y = g.dst(a)
        if (y < g.vertices) {
          var b = g.offs(y)
          while (b < g.offs(y + 1)) {
            val z = g.dst(b)
            if (z != x) {
              val n = Math.multiplyExact(g.w(a), g.w(b))
              rows = Math.addExact(rows, n)
              checksum += n * RowHash(x.toLong, y.toLong, z.toLong)
            }
            b += 1
          }
        }
        a += 1
      }
      x += 1
    }
    Triples(rows, checksum)
  }
}

/** Order-free checksum of a relation: the wrapping sum of one 64-bit
  * hash per row, so the engine's partitioning and row order do not
  * matter but any changed, lost or extra row does.
  */
object RowHash {
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def apply(a: Long, b: Long): Long = mix(mix(a) * 31 + b)
  def apply(a: Long, b: Long, c: Long): Long = mix(apply(a, b) * 31 + c)

  /** Rows and checksum of a Spark text output directory whose lines
    * hold two or three integer fields separated by `sep`.
    */
  def ofDir(dir: Path, sep: Char): (Long, Long) = {
    val parts = Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toVector
    val sums = parts.par.map { p =>
      val bytes = Files.readAllBytes(p)
      val f = new Array[Long](3)
      var rows, sum = 0L
      var k = 0
      var cur = 0L
      var i = 0
      while (i < bytes.length) {
        val c = bytes(i)
        if (c == sep) { f(k) = cur; k += 1; cur = 0 }
        else if (c == '\n') {
          f(k) = cur
          sum += (if (k == 1) apply(f(0), f(1)) else apply(f(0), f(1), f(2)))
          rows += 1; k = 0; cur = 0
        } else if (c >= '0' && c <= '9') cur = cur * 10 + (c - '0')
        else if (c != '\r') throw new IllegalStateException(s"unexpected byte $c in $p")
        i += 1
      }
      (rows, sum)
    }
    (sums.map(_._1).sum, sums.map(_._2).sum)
  }
}
