package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** A directed multigraph as two parallel id arrays: edge i is
  * `src(i) follows dst(i)`. Duplicates and self-loops are kept — the
  * reference's programs run on the raw bag.
  */
final case class EdgeList(src: Array[Int], dst: Array[Int]) {
  def size: Int = src.length
}

/** Seeded edge-list generator. It uses no engine code: the engine only
  * ever sees the CSV file this writes.
  *
  * Each endpoint is drawn independently as `id = floor(n * u^power)`
  * with `u` uniform in [0, 1). Power 1 is uniform; larger powers pile
  * edges onto the low ids, so an id-range cutoff (the reference's MAX
  * filters) keeps a small, dense core. `SplittableRandom` is specified
  * bit-for-bit, so one seed gives one file on every JVM.
  */
object EdgeGen {

  def edges(seed: Long, m: Int, n: Int, power: Int): EdgeList = {
    require(m > 0 && n > 0 && power >= 1, s"bad sizes m=$m n=$n power=$power")
    val rnd = new SplittableRandom(seed)
    def draw(): Int = {
      val u = rnd.nextDouble()
      var p = u
      var k = 1
      while (k < power) { p *= u; k += 1 }
      math.min(n - 1, (n * p).toInt)
    }
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    var i = 0
    while (i < m) { src(i) = draw(); dst(i) = draw(); i += 1 }
    EdgeList(src, dst)
  }

  /** Write `src,dst` lines, no header — the reference's input format. */
  def writeCsv(el: EdgeList, path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 20)
    val digits = new Array[Byte](12)
    def put(v: Int): Unit = {
      var x = v
      var k = 0
      if (x == 0) { digits(0) = '0'; k = 1 }
      while (x > 0) { digits(k) = ('0' + x % 10).toByte; x /= 10; k += 1 }
      while (k > 0) { k -= 1; out.write(digits(k)) }
    }
    try {
      var i = 0
      while (i < el.size) {
        put(el.src(i)); out.write(','); put(el.dst(i)); out.write('\n')
        i += 1
      }
    } finally out.close()
  }
}
