package perfbench

import graft.Caches
import graft.cli.CliSupport
import graft.operators.GraphOps
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Runs one workload of the benchmark and prints its result as one JSON
  * line on stdout:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up runs `SetupReps` times, each in a fresh session: generate and
  * write the edge list, then scan it once through the engine's loader;
  * `setup_s` is the median rep. `WarmupPasses` untimed passes over the
  * workload's programs warm the JIT. Then timed passes repeat for
  * `--seconds`.
  * With `--trace 0` the passes are untraced and the run reports the
  * end-to-end metrics; with `--trace 1` each untraced pass is followed by
  * a traced one plus one timed call into each layer, and the run reports
  * the per-layer metrics. Every program output is checked against the
  * oracle; a mismatch or an exception counts as a failed operation and
  * is never timed.
  */
object Main {
  val SetupReps = 3
  val WarmupPasses = 2
  val MB = 1024.0 * 1024.0

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  final class SetupFailure(msg: String) extends RuntimeException(msg)

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val code = try {
      println(new Run(args).apply())
      0
    } catch {
      case e: SetupFailure =>
        System.err.println(s"perfbench: set-up failed: ${e.getMessage}")
        3
    }
    sys.exit(code)
  }

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "arguments come in --name value pairs")
    val m = argv.grouped(2).map(a => a(0) -> a(1)).toMap
    val known = Set("--workload", "--seed", "--seconds", "--trace", "--work")
    require(m.keySet.subsetOf(known), s"unknown arguments ${m.keySet -- known}")
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val trace = get("--trace")
    require(trace == "0" || trace == "1", "--trace is 0 or 1")
    val seconds = get("--seconds").toInt
    require(seconds > 0, "--seconds must be positive")
    val workload = get("--workload")
    val names = Workloads.all(new Expect(sys.error("unused"))).map(_.name)
    require(names.contains(workload), s"unknown workload $workload; known: ${names.mkString(", ")}")
    Args(workload, get("--seed").toLong, seconds, trace == "1", Path.of(get("--work")))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** CPU seconds of every thread of this JVM so far. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }
}

/** Wall and process-CPU seconds of one program run. */
final case class Timing(wall: Double, cpu: Double)

/** What the traced pass saw of one program run. */
final case class Op(wall: Double, totals: ExecStats.Totals, exchanges: Exchanges.Counts,
    persistedBytes: Long)

final class Run(args: Main.Args) {
  import Main._

  private val spans = new Spans(System.nanoTime())
  private var attempted = 0
  private var failed = 0
  private var edges: EdgeList = _
  private val expect = new Expect(edges)
  private val workload = Workloads.all(expect).find(_.name == args.workload).get
  private val dir = args.work.resolve(workload.name)
  private val input = dir.resolve("edges.csv")
  private var gate = Map.empty[String, Double]
  private var warmup = Seq.empty[Map[String, Timing]]
  private var passes = 0

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** Count one checked operation; a failed one is logged. */
  private def record(what: String)(check: => Option[String]): Boolean = {
    attempted += 1
    val outcome = try check catch { case NonFatal(e) => Some(s"$what: check threw $e") }
    outcome.foreach { m => failed += 1; log(s"FAILED $m") }
    outcome.isEmpty
  }

  /** Run a program under its own cache lease, then check it. `inside`
    * runs after the action, before the lease releases the program's
    * caches. Returns the timing when the program succeeded.
    */
  private def timed(p: Program, c: Ctx, parent: Int,
      inside: => Unit = ()): Option[Timing] = {
    val cpu0 = processCpuS()
    val run = try Some(spans(p.name, "program", parent) { _ =>
      Caches.scoped { val ch = p.run(c); inside; ch }
    }) catch { case NonFatal(e) => log(s"${p.name} threw $e"); None }
    val cpu = processCpuS() - cpu0
    run match {
      case None => record(p.name)(Some(s"${p.name} threw")); None
      case Some((check, span)) =>
        if (record(p.name)(check())) Some(Timing(span.seconds, cpu)) else None
    }
  }

  def apply(): String = {
    Files.createDirectories(dir)
    val setup = ArrayBuffer.empty[Double]
    var digest = ""
    var result = ""
    for (rep <- 1 to SetupReps) {
      val start = System.nanoTime()
      CliSupport.withSession("perfbench") { spark =>
        val c = new Ctx(spark, input.toString, dir.resolve("out"))
        val el = EdgeGen.edges(args.seed, workload.edges, workload.vertices, workload.power)
        EdgeGen.writeCsv(el, input)
        noop(c.edges)
        setup += (System.nanoTime() - start) / 1e9
        val d = sha256(input)
        if (rep == 1) { edges = el; digest = d; guardBroadcast(spark) }
        else if (d != digest)
          throw new SetupFailure(s"seed ${args.seed} wrote a different file on rep $rep")
        if (rep == SetupReps) {
          log(setup.map(s => f"$s%.3f").mkString("set-up reps [", " ", "] s"))
          warm(c)
          result = measure(spark, c, median(setup.toSeq))
        }
      }
    }
    result
  }

  /** Untimed passes over the full graph, so the JIT has compiled the
    * programs' code (and its first-use classes are loaded) before the
    * first timed pass.
    */
  private def warm(c: Ctx): Unit =
    warmup = (1 to WarmupPasses).map(i => pass(s"warmup$i", c))

  /** Rep's distinct core must sit clearly on the broadcast side of its
    * size gate (48 B/row against autoBroadcastJoinThreshold), or a plan
    * flip would make its timings bimodal.
    */
  private def guardBroadcast(spark: SparkSession): Unit = workload.repMax.foreach { max =>
    val rows = expect.weighted(max, inclusive = true).distinct.toLong
    val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    val ratio = rows * 48.0 / threshold
    gate = Map("rep_core_rows" -> rows.toDouble, "rep_core_est_bytes" -> rows * 48.0,
      "broadcast_threshold_bytes" -> threshold.toDouble, "rep_gate_ratio" -> ratio)
    log(f"rep core $rows%d rows, estimate ${rows * 48}%d B = $ratio%.3f of the broadcast gate")
    if (threshold <= 0 || ratio > 0.75)
      throw new SetupFailure(f"rep core estimate is $ratio%.3f of the broadcast gate; " +
        "it must stay at or below 0.75 so the plan cannot flip")
  }

  private def measure(spark: SparkSession, c: Ctx, setupS: Double): String = {
    val sc = spark.sparkContext
    val peak = new PeakMemory
    sc.addSparkListener(peak)
    val untraced = ArrayBuffer.empty[Map[String, Timing]]
    val traced = ArrayBuffer.empty[Map[String, Timing]]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var last = 0.0
    // start another iteration while at least half of it fits in --seconds
    while (untraced.isEmpty || elapsed + last / 2 <= args.seconds) {
      val t = elapsed
      untraced += pass(s"pass${untraced.size + 1}", c)
      if (args.trace) {
        sc.removeSparkListener(peak)
        val (tp, l) = tracedPass(s"traced${traced.size + 1}", spark, c)
        traced += tp
        layers += l + ("trace.overhead_s" ->
          (tp.values.map(_.wall).sum - untraced.last.values.map(_.wall).sum))
        sc.addSparkListener(peak)
      }
      last = elapsed - t
    }
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(peak)

    // passes where every program succeeded; on a failing run (reported
    // as not correct) whatever did succeed, so every metric is a number
    val full = untraced.filter(_.size == workload.programs.size).toSeq
    val counted = if (full.nonEmpty) full else untraced.toSeq
    def total(keep: Program => Boolean, f: Timing => Double): Double = median(counted.map(pass =>
      workload.programs.filter(keep).flatMap(p => pass.get(p.name)).map(f).sum))
    val passWall = total(_ => true, _.wall)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("count_s", total(!_.writes, _.wall), "s"),
      ("write_s", total(_.writes, _.wall), "s"),
      ("edges_per_s", if (passWall > 0) workload.edges / passWall else 0.0, "1/s"),
      ("cpu_s", total(_ => true, _.cpu), "s"),
      ("peak_exec_mb", peak.peakBytes / MB, "MB"))
    val perLayer = if (layers.isEmpty) Seq.empty else
      layers.head.keys.toSeq.sorted.map(k => (k, median(layers.map(_(k)).toSeq), Units(k)))

    val programs = workload.programs.map { p =>
      def walls(ps: Iterable[Map[String, Timing]]) = ps.flatMap(_.get(p.name)).map(_.wall).toSeq
      val xs = walls(untraced)
      log(f"${p.name}%-20s median ${median(xs)}%.3f s over ${xs.size} passes " +
        xs.map(x => f"$x%.3f").mkString("[", " ", "]"))
      p.name -> Map("warmup_s" -> walls(warmup), "untraced_s" -> xs, "traced_s" -> walls(traced),
        "untraced_cpu_s" -> untraced.flatMap(_.get(p.name)).map(_.cpu).toSeq)
    }
    val shown = if (args.trace) perLayer else endToEnd
    shown.foreach { case (k, v, u) => log(f"$k%-28s $v%.4f $u") }
    writeTrace(spark, setupS, endToEnd, perLayer, programs)
    val metrics = shown.map { case (k, v, u) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${metrics.mkString(", ")}}}"""
  }

  /** One untraced pass: each program's timing, successes only. */
  private def pass(name: String, c0: Ctx): Map[String, Timing] =
    freshInput(c0) { c =>
      System.gc()
      spans(name, "pass") { id =>
        workload.programs.flatMap(p => timed(p, c, id).map(p.name -> _)).toMap
      }._1
    }

  /** Each pass reads its input under a new name (a hard link to the same
    * bytes), as a new run of the reference's programs would: a result
    * the engine kept from an earlier pass cannot answer this one.
    */
  private def freshInput[A](c: Ctx)(body: Ctx => A): A = {
    passes += 1
    val src = Path.of(c.input)
    val link = src.resolveSibling(s"pass$passes-${src.getFileName}")
    Files.deleteIfExists(link)
    Files.createLink(link, src)
    try body(new Ctx(c.spark, link.toString, c.out))
    finally Files.deleteIfExists(link)
  }

  /** A traced pass: the programs under the scheduler and plan listeners,
    * then one timed call into each layer. Returns the programs' timings
    * and the pass's per-layer metrics.
    */
  private def tracedPass(name: String, spark: SparkSession, c0: Ctx)
      : (Map[String, Timing], Map[String, Double]) = {
    val sc = spark.sparkContext
    val exec = new ExecStats
    val plans = new Plans
    sc.addSparkListener(exec)
    spark.listenerManager.register(plans)
    System.gc()
    try freshInput(c0) { c => spans(name, "pass") { pid =>
      val timings = ArrayBuffer.empty[(String, Timing)]
      val ops = ArrayBuffer.empty[Op]
      for (p <- workload.programs) {
        var persisted = 0L
        val ((timing, t), ps) = plans.window(spark) {
          exec.window(spark)(timed(p, c, pid, inside = persisted = storedBytes(spark)))
        }
        timing.foreach { tm =>
          val op = Op(tm.wall, t, ps.map(Exchanges.of).foldLeft(Exchanges.Counts(0, 0))(_ + _),
            persisted)
          timings += p.name -> tm
          ops += op
          tracedOps += ((name, p.name, layerMetrics(Seq(op), sc.defaultParallelism)))
          if (p.broadcasts)
            record(s"${p.name} plan")(if (op.exchanges.broadcast > 0) None
              else Some(s"${p.name}: no BroadcastExchangeExec in the final plan"))
        }
      }
      val program = layerMetrics(ops.toSeq, sc.defaultParallelism)
      (timings.toMap, program ++ probes(spark, c, pid, exec))
    }._1 }
    finally {
      spark.listenerManager.unregister(plans)
      sc.removeSparkListener(exec)
    }
  }

  /** Traced per-program metrics: (pass, program, metrics). */
  private val tracedOps = ArrayBuffer.empty[(String, String, Map[String, Double])]

  /** The scheduler, plan and cache metrics of some program runs. */
  private def layerMetrics(ops: Seq[Op], cores: Int): Map[String, Double] = {
    def sum(f: ExecStats.Totals => Long): Double = ops.map(o => f(o.totals)).sum.toDouble
    def max(f: ExecStats.Totals => Long): Double = (0L +: ops.map(o => f(o.totals))).max.toDouble
    Map(
      "plans.shuffle_exchanges" -> ops.map(_.exchanges.shuffle).sum.toDouble,
      "plans.broadcast_exchanges" -> ops.map(_.exchanges.broadcast).sum.toDouble,
      "caches.persisted_mb" -> ops.map(_.persistedBytes).sum / MB,
      "exec.jobs" -> sum(_.jobs),
      "exec.stages" -> sum(_.stages),
      "exec.tasks" -> sum(_.tasks),
      "exec.failed_tasks" -> sum(_.failedTasks),
      "exec.shuffle_write_mb" -> sum(_.shuffleWriteBytes) / MB,
      "exec.shuffle_read_mb" -> sum(_.shuffleReadBytes) / MB,
      "exec.spill_mb" -> sum(_.spillBytes) / MB,
      "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "exec.task_busy_s" -> sum(_.runMs) / 1e3,
      "exec.max_task_s" -> max(_.maxTaskMs) / 1e3,
      "exec.straggler_share" -> (0.0 +: ops.map(o => o.totals.maxTaskMs / 1e3 / o.wall)).max,
      "exec.core_util" -> sum(_.runMs) / 1e3 / (ops.map(_.wall).sum * cores),
      "exec.peak_exec_mb" -> max(_.peakExecBytes) / MB)
  }

  private def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** One timed call into each layer's public functions, checked where
    * the call has an answer.
    */
  private def probes(spark: SparkSession, c: Ctx, pid: Int, exec: ExecStats)
      : Map[String, Double] = {
    val core = workload.core
    val (scanT, scan) = spans("sources.scan", "sources", pid) { _ =>
      exec.window(spark)(noop(c.edges))._2
    }
    val (_, degrees) = spans("graphops.degrees", "graphops", pid) { _ =>
      noop(GraphOps.degrees(c.edges))
    }
    val (we, weSpan) = spans("graphops.weighted_edges", "graphops", pid) { _ =>
      GraphOps.weightedEdges(GraphOps.filterMaxId(c.edges, core))
        .agg(count(lit(1)), sum("w")).collect()(0)
    }
    record("graphops.weighted_edges")(Check("weighted core (distinct, raw)",
      (we.getLong(0), we.getLong(1)), {
        val want = expect.weighted(core, inclusive = false); (want.distinct.toLong, want.raw)
      })())
    val (wedges, _) = spans("graphops.wedges", "graphops", pid) { _ =>
      GraphOps.path2Total(GraphOps.filterMaxId(c.edges, core)).collect()(0).getLong(0)
    }
    record("graphops.wedges")(Check("core wedges", wedges, expect.path2(core).total)())
    val (_, plan) = spans("plans.plan", "plans", pid) { _ =>
      workload.programs.foreach(_.frames(c).foreach(_.queryExecution.executedPlan))
    }
    // the sink's input is materialized first, so the span times the write
    val sinkDir = dir.resolve("out").resolve("sink").toString
    val relation = Caches.scoped {
      val r = workload.sink.relation(c).persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    val (_, write) = try spans("cli.write", "cli", pid) { _ =>
      workload.sink.write(relation, sinkDir)
    } finally relation.unpersist(blocking = true)
    record("cli.write")(workload.sink.check(sinkDir)())
    Map(
      "sources.scan_s" -> scan.seconds,
      "sources.read_mb" -> scanT.inputBytes / MB,
      "graphops.degrees_s" -> degrees.seconds,
      "graphops.weighted_edges_s" -> weSpan.seconds,
      "graphops.core_edges" -> we.getLong(1).toDouble,
      "graphops.core_distinct_ratio" -> we.getLong(0).toDouble / math.max(1L, we.getLong(1)),
      "graphops.wedges" -> wedges.toDouble,
      "graphops.closure_ratio" -> expect.rs(core).raw.toDouble / math.max(1L, wedges),
      "plans.plan_s" -> plan.seconds,
      "cli.write_s" -> write.seconds,
      "cli.written_mb" -> dirBytes(Path.of(sinkDir)) / MB)
  }

  private def writeTrace(spark: SparkSession, setupS: Double,
      endToEnd: Seq[(String, Double, String)], perLayer: Seq[(String, Double, String)],
      programs: Seq[(String, Map[String, Seq[Double]])]): Unit = {
    val conf = spark.conf
    val regime = Map(
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "adaptive" -> conf.get("spark.sql.adaptive.enabled"),
      "broadcast_threshold" -> conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"))
    def obj(kv: Iterable[(String, String)]): String =
      kv.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    def metrics(ms: Seq[(String, Double, String)]): String =
      obj(ms.map { case (k, v, u) => k -> s"""{"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" })
    val progs = obj(programs.map { case (n, m) =>
      n -> obj(m.map { case (k, xs) => k -> xs.map(Json.num).mkString("[", ", ", "]") })
    })
    val text =
      s"""{
  "workload": ${Json.str(workload.name)},
  "seed": ${args.seed},
  "trace": ${args.trace},
  "edges": ${workload.edges},
  "vertices": ${workload.vertices},
  "regime": ${obj(regime.map { case (k, v) => k -> Json.str(v) })},
  "broadcast_gate": ${obj(gate.map { case (k, v) => k -> Json.num(v) })},
  "setup_s": ${Json.num(setupS)},
  "programs": $progs,
  "traced_programs": ${tracedOps.map { case (pass, prog, m) =>
      obj(Seq("pass" -> Json.str(pass), "program" -> Json.str(prog)) ++
        m.map { case (k, v) => k -> Json.num(v) })
    }.mkString("[\n    ", ",\n    ", "\n  ]")},
  "end_to_end": ${metrics(endToEnd)},
  "per_layer": ${metrics(perLayer)},
  "attempted": $attempted,
  "failed": $failed,
  "spans": ${spans.json}
}
"""
    val out = dir.resolve(s"trace-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
    Files.writeString(out, text)
    log(s"trace written to $out")
  }

  private def sha256(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Units of the per-layer metrics, by name suffix. */
object Units {
  def apply(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ratio") || name.endsWith("_share") || name.endsWith("_util")) "ratio"
    else "count"
}
