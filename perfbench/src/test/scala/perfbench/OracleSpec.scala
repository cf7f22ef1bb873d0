package perfbench

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The oracle's counts on a hand-built graph, and the generator's
  * determinism. Run with `sbt test` from the benchmark's directory.
  */
class OracleSpec extends AnyFunSuite {

  /** A planted 3-cycle 1→2→3→1 whose first edge is duplicated, and a
    * 2-cycle 5↔6 with a self-loop on 5.
    */
  private val g = EdgeList(
    Array(1, 1, 2, 3, 5, 5, 6),
    Array(2, 2, 3, 1, 5, 6, 5))
  private val all = 100L

  /** Scratch directories stay inside the build's target directory. */
  private def scratch(prefix: String): Path =
    Files.createTempDirectory(Files.createDirectories(Path.of("target", "test-tmp")), prefix)

  test("distinct edges carry their bag multiplicity") {
    val w = Oracle.weighted(g, all, inclusive = false)
    assert(w.distinct == 6 && w.raw == 7)
    assert(w.weight(1, 2) == 2 && w.weight(2, 1) == 0 && w.weight(5, 5) == 1)
  }

  test("2-path cardinality is in-degree times out-degree, duplicates counted") {
    // out 1:2 2:1 3:1 5:2 6:1, in 1:1 2:2 3:1 5:2 6:1
    val p = Oracle.path2(g, Long.MaxValue)
    assert(p.rows == 5 && p.total == 2 + 2 + 1 + 4 + 1)
    val cut = Oracle.path2(g, 5) // strict: 5 and 6 are out
    assert(cut.rows == 3 && cut.total == 2 + 2 + 1)
  }

  test("RS: duplicates multiply, x != z drops the 2-cycle, the self-loop closes twice") {
    // each rotation of the 3-cycle: 2 (the doubled edge 1→2 is in every
    // rotation); 5→5→6→5 and 6→5→5→6 are the self-loop quirk; 5→6→5 is
    // x = z and never counts
    val c = Oracle.cyclesRS(Oracle.weighted(g, all, inclusive = false))
    assert(c.raw == 3 * 2 + 2)
    assert(c.raw / 3 == 2)
    assert(c.anchors == 5)
  }

  test("RS's strict cutoff drops the boundary vertex") {
    val c = Oracle.cyclesRS(Oracle.weighted(g, 6, inclusive = false))
    assert(c.raw == 6 && c.anchors == 3)
  }

  test("Rep: inclusive cutoff, no x != z guard, closing edge by existence") {
    // 3-cycle rotations 2 + 1 + 2 (the doubled 1→2 closes once), and on
    // {5, 6}: 5→5→5, 5→5→6, 5→6→5, 6→5→5 close; 6→5→6 needs 6→6
    val raw = Oracle.cyclesRep(Oracle.weighted(g, 6, inclusive = true))
    assert(raw == 5 + 4)
    assert(raw / 3 == 3)
  }

  test("triples: one row per pair of bag edges with x != z") {
    // Σ in·out = 10, less the x = z pairs 5→5→5, 5→6→5, 6→5→6
    val t = Oracle.triples(Oracle.weighted(g, all, inclusive = false))
    assert(t.rows == 10 - 3)
  }

  test("the row-hash checksum of a written directory matches the oracle's") {
    val dir = scratch("rowhash")
    try {
      Files.writeString(dir.resolve("part-00000.csv"), "1\t2\n3\t4\n")
      Files.writeString(dir.resolve("part-00001.csv"), "5\t6\n")
      Files.writeString(dir.resolve("_SUCCESS"), "")
      assert(RowHash.ofDir(dir, '\t') ==
        (3L, RowHash(1L, 2L) + RowHash(3L, 4L) + RowHash(5L, 6L)))
      Files.writeString(dir.resolve("part-00001.csv"), "5\t7\n")
      assert(RowHash.ofDir(dir, '\t')._2 != RowHash(1L, 2L) + RowHash(3L, 4L) + RowHash(5L, 6L))
    } finally {
      Files.list(dir).forEach(Files.delete(_))
      Files.delete(dir)
    }
  }

  test("one seed writes one file, byte for byte; another seed another") {
    val dir = scratch("edgegen")
    def file(seed: Long, name: String): Array[Byte] = {
      val p = dir.resolve(name)
      EdgeGen.writeCsv(EdgeGen.edges(seed, 10000, 5000, 3), p)
      Files.readAllBytes(p)
    }
    try {
      val a = file(7, "a.csv")
      assert(java.util.Arrays.equals(a, file(7, "b.csv")))
      assert(!java.util.Arrays.equals(a, file(8, "c.csv")))
      assert(new String(a, "US-ASCII").linesIterator.forall(_.matches("\\d+,\\d+")))
    } finally {
      Files.list(dir).forEach(Files.delete(_))
      Files.delete(dir)
    }
  }
}
