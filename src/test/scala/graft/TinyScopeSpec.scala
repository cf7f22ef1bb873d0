package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import graft.operators.GraphOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.graft.ColumnBridge.TinyScope
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The tiny-regime scope runs its body in a session clone: narrowed
  * there, never on the caller's shared session.
  */
class TinyScopeSpec extends SparkSpec {

  private val ShufKey = "spark.sql.shuffle.partitions"
  private val AqeKey = "spark.sql.adaptive.enabled"
  private val WscKey = "spark.sql.codegen.wholeStage"

  /** Run `body` with `l` attached, draining the bus before detaching. */
  private def listening[A](l: SparkListener)(body: => A): A = {
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      ColumnBridge.waitListeners(spark)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  /** 7 disjoint chains of 300 hops each (2100 edges): a deep-stride
    * hop budget over them stays far under the scope's ~98k-edge bound.
    */
  private def chains: (DataFrame, DataFrame) = {
    val e = spark.range(0L, 2100L)
      .select(col("id").as("src"), (col("id") + lit(7L)).as("dst"))
    (e, spark.range(0L, 7L).select(col("id").as("v")))
  }

  test("a concurrent query plans with the session's own shuffle width " +
      "and AQE while hopDistances runs its tiny scope") {
    val s = spark
    val own = (s.conf.get(ShufKey), s.conf.get(AqeKey))
    val (e, seeds) = chains
    // the caller's conf, sampled from the listener thread at every job
    // start of the hop loop (thread A), and the plans of thread B
    val sampled = new ConcurrentLinkedQueue[(String, String)]()
    val tinyExecs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        sampled.add((s.conf.get(ShufKey), s.conf.get(AqeKey)))
      override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
        case x: SparkListenerSQLExecutionStart
            if x.modifiedConfigs.get(ShufKey).contains("1") =>
          tinyExecs.incrementAndGet()
        case _ => ()
      }
    }
    val done = new AtomicBoolean(false)
    val planned = new ConcurrentLinkedQueue[(Boolean, Seq[Int])]()
    val b = new Thread(() =>
      while (!done.get()) {
        val plan = s.range(0L, 64L, 1L, 2).groupBy(col("id") % 7).count()
          .queryExecution.executedPlan
        val (adaptive, phys) = plan match {
          case a: AdaptiveSparkPlanExec => (true, a.initialPlan)
          case p => (false, p)
        }
        planned.add((adaptive, phys.collect {
          case x: ShuffleExchangeExec => x.outputPartitioning.numPartitions
        }))
      })
    val rows = listening(listener) {
      b.start()
      try GraphOps.hopDistances(e, seeds, 64, hopStride = 16,
          localThreshold = 0L).collect()
      finally { done.set(true); b.join() }
    }
    // the loop really ran in the tiny regime: chain i reaches its
    // first 64 hops, seeds at 0
    assert(rows.length == 7 * 65)
    assert(rows.forall(r => r.getLong(1) == r.getLong(0) / 7))
    assert(tinyExecs.get() > 0, "the tiny scope never fired")
    assert(!sampled.isEmpty)
    val leaked = sampled.asScala.filter(_ != own)
    assert(leaked.isEmpty, s"the caller's conf read ${leaked.headOption} " +
      s"during the hop loop; its own setting is $own")
    assert(!planned.isEmpty)
    val ownAdaptive = own._2.toBoolean
    planned.asScala.foreach { case (adaptive, parts) =>
      assert(adaptive == ownAdaptive)
      assert(parts.nonEmpty && parts.forall(_ == own._1.toInt),
        s"thread B planned $parts shuffle partitions, session says ${own._1}")
    }
  }

  test("every shuffle stage of a TinyScope body runs with one partition") {
    val tag = "tinyscope.spec"
    val reduceTasks = new ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(tag) == "body")
          j.stageInfos.filter(_.parentIds.nonEmpty)
            .foreach(st => reduceTasks.add(st.numTasks))
    }
    val in = spark.range(0L, 4000L, 1L, 4).toDF()
    val out = listening(listener) {
      spark.sparkContext.setLocalProperty(tag, "body")
      try TinyScope(Seq(in)) { case Seq(x) =>
        val g = x.groupBy((col("id") % 13).as("k")).count()
        g.join(x.select((col("id") % 13).as("k")).distinct(), "k")
      } finally spark.sparkContext.setLocalProperty(tag, null)
    }
    assert(out.count() == 13)
    assert(!reduceTasks.isEmpty)
    assert(reduceTasks.asScala.forall(_ == 1), reduceTasks.asScala.toSeq)
  }

  test("whole-stage codegen is off only for the caller that asks") {
    val in = spark.range(4L).toDF()
    def confIn(wsc: Boolean): (String, String, String) = {
      var seen = ("", "", "")
      TinyScope(Seq(in), wholeStageCodegen = wsc) { case Seq(x) =>
        val c = x.sparkSession.conf
        seen = (c.get(ShufKey), c.get(AqeKey), c.get(WscKey))
        x
      }
      seen
    }
    val sessionWsc = spark.conf.get(WscKey)
    assert(confIn(wsc = true) == (("1", "false", sessionWsc)))
    assert(confIn(wsc = false) == (("1", "false", "false")))
    assert(spark.conf.get(WscKey) == sessionWsc)
  }

  test("a throwing body leaves the caller's conf byte-identical") {
    val before = spark.conf.getAll
    val in = spark.range(8L).toDF()
    intercept[IllegalStateException] {
      TinyScope(Seq(in), wholeStageCodegen = false) { case Seq(x) =>
        x.count()
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.getAll == before)
  }

  test("body caches ride the caller's lease; the result outlives the scope") {
    var owned: DataFrame = null
    val caller = spark.range(0L, 100L).select(col("id").as("k"),
      (col("id") * 2).as("twice"))
    val joined = Caches.scoped {
      val res = TinyScope(Seq(spark.range(0L, 100L).toDF())) { case Seq(x) =>
        owned = Caches.track(x.select(col("id").as("k"))
          .persist(StorageLevel.MEMORY_AND_DISK))
        owned.count()
        owned.filter(col("k") % 2 === 0)
      }
      assert(owned.storageLevel != StorageLevel.NONE)
      // read after the body returned, against a frame of the caller
      assert(res.sparkSession eq spark)
      res.join(caller, "k").agg(sum("twice")).collect()(0).getLong(0)
    }
    assert(joined == (0L until 100L by 2L).map(_ * 2).sum)
    assert(owned.storageLevel == StorageLevel.NONE,
      "a body-tracked cache survived the caller's lease")
  }

  test("no operator mutates a session conf (source guard)") {
    val root = new java.io.File("src/main/scala/graft/operators")
    assert(root.isDirectory, s"run from the repository root: $root")
    // and no gate hand-sizes a memo: every memo goes through the one
    // byte-budgeted PlanMemo registry
    val pat = """conf\.(un)?set\(|new (graft\.)?PlanMemo\b""".r
    val hits = (root.listFiles().filter(_.getName.endsWith(".scala"))
      .sortBy(_.getName).toSeq :+
      new java.io.File("src/main/scala/graft/SparkEntry.scala")).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (l, i) if pat.findFirstIn(l).isDefined =>
            s"${f.getName}:${i + 1}: ${l.trim}"
        }.toList
        finally src.close()
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
