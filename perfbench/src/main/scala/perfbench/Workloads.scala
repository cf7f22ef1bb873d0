package perfbench

import graft.cli.CliSupport
import graft.operators.GraphOps
import graft.sources.Tables
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a program run sees: the session, the generated input and a
  * directory for its outputs.
  */
final class Ctx(val spark: SparkSession, val input: String, val out: Path) {
  def edges: DataFrame = Tables.edgesCsv(spark, input)
  def dir(name: String): String = out.resolve(name).toString
}

/** One action of the reference's programs, run through the engine's
  * public functions. A counting program collects a number; a writing
  * one (`writes`) writes a relation through an output sink. `frames`
  * builds the relations it executes (for plan timing); `run` executes
  * them and returns the check against the oracle, which the caller runs
  * outside the timed interval. The traced pass fails a `broadcasts`
  * program whose final plan has no broadcast exchange.
  */
final case class Program(name: String, writes: Boolean, frames: Ctx => Seq[DataFrame],
    run: Ctx => Check, broadcasts: Boolean = false)

/** A check returns None when the outputs match the oracle, else why not.
  * The oracle's answer is only computed when the check runs, outside
  * the timed interval.
  */
trait Check { def apply(): Option[String] }

object Check {
  def apply(what: String, got: Any, want: => Any): Check = () =>
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Rows and checksum of a written directory against the oracle's. */
  def dir(what: String, dir: String, sep: Char, want: => (Long, Long)): Check = () =>
    Check(s"$what (rows, checksum)", RowHash.ofDir(Path.of(dir), sep), want)()
}

/** A workload: a generated graph (`edges` draws over `vertices` ids with
  * skew `power`, see EdgeGen), the programs timed on it, the cutoff of
  * its core (the id range the layer probes filter to), the sink the
  * traced pass times on its own, and the cutoff of a replicated-join
  * program whose plan must stay broadcast.
  */
final case class Workload(name: String, edges: Int, vertices: Int, power: Int,
    core: Long, programs: Seq[Program], sink: Sink, repMax: Option[Long] = None)

/** The relation a workload's output sink writes, the write itself, and
  * the check of the written directory.
  */
final case class Sink(relation: Ctx => DataFrame, write: (DataFrame, String) => Unit,
    check: String => Check)

/** Oracle answers for one generated edge list, computed on first use
  * (the list itself is only read then, so it may be bound after the
  * workloads are built).
  */
final class Expect(edges: => EdgeList) {
  private lazy val el = edges
  private val memo = scala.collection.mutable.Map.empty[Any, Any]
  private def once[A](key: Any)(f: => A): A =
    synchronized(memo.getOrElseUpdate(key, f)).asInstanceOf[A]

  def path2(max: Long): Oracle.Path2 = once(("path2", max))(Oracle.path2(el, max))
  def weighted(max: Long, inclusive: Boolean): Oracle.Weighted =
    once(("weighted", max, inclusive))(Oracle.weighted(el, max, inclusive))
  def rs(max: Long): Oracle.Cycles = once(("rs", max))(Oracle.cyclesRS(weighted(max, false)))
  def rep(max: Long): Long = once(("rep", max))(Oracle.cyclesRep(weighted(max, true)))
  def triples(max: Long): Oracle.Triples =
    once(("triples", max))(Oracle.triples(weighted(max, false)))
}

object Workloads {

  /** The 2-path graph: mild skew, most of the work is the scan and the
    * per-vertex degree aggregation over hundreds of thousands of ids.
    */
  val PathsEdges = 1000000
  val PathsVertices = 500000

  /** The triangle graph: celebrity skew, so the low-id core the
    * reference's MAX filters keep is small and dense.
    */
  val TrianglesEdges = 1000000
  val TrianglesVertices = 500000
  /** SocialTriangle_RS's strict cutoff (the reference's is 50,000). */
  val RsMax = 2500L
  /** ReplicatedJoin's inclusive cutoff, at the reference's 40,000 : 50,000. */
  val RepMax = 2000L
  /** The cutoff of the 2-path triples the RS app writes. */
  val WedgesMax = 1000L

  /** ApproxCardinality's MAX = 7,812,500 is 69% of the 11,316,811 user
    * ids of the Twitter follower list the reference ran on; the paths
    * workload keeps the same share of its own id range.
    */
  def approxMax(vertices: Int): Long = vertices.toLong * 7812500L / 11316811L

  def all(expect: Expect): Seq[Workload] = Seq(paths(expect), triangles(expect))

  private def one(df: DataFrame): Long = df.collect()(0).getLong(0)

  /** ExactCardinalityApp / ApproxCardinalityApp: the per-vertex relation
    * written through `writeTsv`, then the global total returned.
    */
  private def path2Programs(tag: String, expect: Expect, max: Long): Seq[Program] = {
    def core(c: Ctx): DataFrame =
      if (max == Long.MaxValue) c.edges else GraphOps.filterMaxId(c.edges, max)
    val write = s"${tag}_write"
    Seq(
      Program(write, writes = true, c => Seq(GraphOps.path2PerVertex(core(c))), c => {
        CliSupport.writeTsv(GraphOps.path2PerVertex(core(c)), c.dir(write))
        Check.dir(write, c.dir(write), '\t', {
          val want = expect.path2(max); (want.rows, want.checksum)
        })
      }),
      Program(s"${tag}_total", writes = false, c => Seq(GraphOps.path2Total(core(c))),
        c => Check(s"${tag}_total", one(GraphOps.path2Total(core(c))), expect.path2(max).total)))
  }

  def paths(expect: Expect): Workload = {
    val approx = approxMax(PathsVertices)
    Workload("paths", PathsEdges, PathsVertices, power = 2, core = approx,
      programs = path2Programs("path2_exact", expect, Long.MaxValue) ++
        path2Programs("path2_approx", expect, approx),
      sink = Sink(c => GraphOps.path2PerVertex(c.edges),
        (df, dir) => CliSupport.writeTsv(df, dir),
        dir => Check.dir("sink per-vertex paths", dir, '\t', {
          val want = expect.path2(Long.MaxValue); (want.rows, want.checksum)
        })))
  }

  def triangles(expect: Expect): Workload =
    Workload("triangles_core", TrianglesEdges, TrianglesVertices, power = 3, core = RsMax,
      programs = Seq(
        Program("triangles_rs", writes = false, c => Seq(GraphOps.trianglesRS(c.edges, RsMax)),
          c => Check("triangles_rs", one(GraphOps.trianglesRS(c.edges, RsMax)),
            expect.rs(RsMax).raw / 3)),
        Program("triangles_rep", writes = false, c => Seq(GraphOps.trianglesRep(c.edges, RepMax)),
          c => Check("triangles_rep", one(GraphOps.trianglesRep(c.edges, RepMax)),
            expect.rep(RepMax) / 3), broadcasts = true),
        Program("triangles_vertex", writes = false, c => Seq(vertexTotals(c)), c => {
          val r = vertexTotals(c).collect()(0)
          Check("triangles_vertex (rows, sum)", (r.getLong(0), r.getLong(1)), {
            val want = expect.rs(RsMax); (want.anchors, want.raw)
          })
        }),
        Program("wedges_write", writes = true, c => Seq(triples(c)), c => {
          triples(c).write.mode("overwrite").csv(c.dir("wedges_write"))
          triplesCheck(expect, c.dir("wedges_write"))
        })),
      sink = Sink(triples, (df, dir) => df.write.mode("overwrite").csv(dir),
        dir => triplesCheck(expect, dir)),
      repMax = Some(RepMax))

  /** SocialTriangleRSApp's intermediate-dir relation: the 2-path triples. */
  private def triples(c: Ctx): DataFrame =
    GraphOps.path2Triples(GraphOps.filterMaxId(c.edges, WedgesMax))

  private def triplesCheck(expect: Expect, dir: String): Check =
    Check.dir("triples", dir, ',', {
      val want = expect.triples(WedgesMax); (want.rows, want.checksum)
    })

  /** Count-only consumption of the per-vertex triangle relation. */
  private def vertexTotals(c: Ctx): DataFrame =
    GraphOps.trianglesPerVertex(c.edges, RsMax)
      .agg(count(lit(1)).as("rows"), coalesce(sum("triangles"), lit(0L)).as("sum"))
}
