package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (they live behind the Spark Connect column-node
  * abstraction), so — like other Spark extension libraries — we expose
  * them through a shim compiled into a child package of
  * org.apache.spark.sql.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → catalyst conversion through the session's
    * ColumnNodeToExpressionConverter. `expression` above returns a
    * LAZY ColumnNodeExpression wrapper — fine inside a plan the
    * analyzer will rewrite, wrong when the caller needs the converted
    * tree itself (it doesn't even serialize): a `col("x").desc` only
    * becomes a catalyst SortOrder through THIS path.
    */
  def convertedExpression(spark: org.apache.spark.sql.SparkSession,
      c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** Register a temp SQL function on an EXISTING session (the
    * SparkSessionExtensions path only applies at session build time).
    * `sessionState` is private[sql]; this shim is the supported way in.
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The OWNING session's SQLConf (`sessionState` is private[sql]) —
    * for reading config pinned to the session a DataFrame belongs to.
    * The thread-local `SQLConf.get` can resolve to a DIFFERENT
    * session's conf in multi-session apps (whichever session was
    * active on the calling thread), so plan-construction-time
    * decisions must read through this instead.
    */
  def sqlConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.internal.SQLConf =
    spark.sessionState.conf

  /** DataFrame from a raw LogicalPlan (`Dataset.ofRows` is
    * private[sql]) — the way a custom logical operator enters the
    * public Column/DataFrame world.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Eager local checkpoint WITHOUT origin-stats propagation — for
    * ITERATIVE dataframe loops. `Dataset.localCheckpoint` truncates
    * LINEAGE but (Spark 4) hands the new `LogicalRDD` the original
    * plan's computed statistics, so a loop that joins checkpointed
    * state into the next state COMPOUNDS sizeInBytes multiplicatively
    * across iterations: the BigInt's digit count roughly multiplies
    * per round (measured ×4/sweep in the SCC fixpoint — 80 → 407,285
    * digits in seven sweeps), until every optimizer stats lookup
    * (join-selection, runtime-filter injection) spends MINUTES
    * multiplying million-digit integers and the driver livelocks at
    * 100% of one core. This helper materializes the plan's
    * InternalRow RDD (copied — unsafe rows are reused buffers), marks
    * it localCheckpoint'ed, forces it, and rebuilds the DataFrame
    * through `internalCreateDataFrame` — a fresh LogicalRDD with
    * DEFAULT stats, so each iteration's plan starts from a constant-
    * size estimate. Release blocks early via `unpersistCheckpoint`
    * (GC/ContextCleaner otherwise reclaims them lazily).
    *
    * FAULT-TOLERANCE TRADE (deliberate): local checkpoints live in
    * executor block stores, not a reliable store, and the eager
    * release drops blocks a downstream retry might still want — so an
    * EXECUTOR LOSS mid-loop aborts the whole operator instead of
    * recomputing (lineage is gone by construction). The iterative
    * operators' loops are minutes, not hours, so rerunning the
    * operator is the cheap branch of the trade; a deployment where
    * executor churn makes mid-loop loss routine should swap `ck` for
    * reliable `checkpoint()` against the cluster checkpoint dir (same
    * stats-free rebuild applies) and defer each `drop` until the next
    * state AND its consuming shuffle have fully materialized.
    */
  def statsFreeLocalCheckpoint(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    statsFreeLocalCheckpointCounted(df)._1

  /** `statsFreeLocalCheckpoint` + the row count of the materialized
    * state, for free: the forcing action IS a count, so iterative
    * loops that need their convergence/emptiness signal anyway
    * (BFS frontier size, SCC active count) read it from here instead
    * of paying a separate counting job per sweep.
    */
  def statsFreeLocalCheckpointCounted(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) =
    statsFreeCheckpointCounted(df, reliable = false)

  /** `statsFreeLocalCheckpointCounted` with an optional RELIABLE
    * checkpoint: when `reliable` AND the context has a checkpoint
    * dir, the materialized rows are persisted then written to the
    * reliable store — the fault-tolerance variant an iterative loop
    * uses every Nth round to bound its recompute horizon. A reliable
    * request WITHOUT a checkpoint dir falls back to the local
    * checkpoint (announced on stderr) instead of letting
    * `rdd.checkpoint()` throw from deep inside the loop — the caller
    * asked for lineage truncation either way, and only the
    * fault-tolerance upgrade needs the directory. The persist
    * keeps the checkpoint write from recomputing the plan; the
    * blocks remain releasable afterwards (reads fall back to the
    * checkpoint files), so `unpersistCheckpoint` stays safe — safer,
    * in fact, than on a local checkpoint.
    */
  def statsFreeCheckpointCounted(df: org.apache.spark.sql.DataFrame,
      reliable: Boolean): (org.apache.spark.sql.DataFrame, Long) =
    checkpointInto(asClassic(df).sparkSession, df, reliable)

  /** The checkpoint behind `statsFreeCheckpointCounted`, rebuilt as a
    * frame of `spark` — which need not be the session `df` was planned
    * in (`TinyScope` plans in a clone and hands the rows back to the
    * caller's session).
    */
  private def checkpointInto(spark: org.apache.spark.sql.classic.SparkSession,
      df: org.apache.spark.sql.DataFrame,
      reliable: Boolean): (org.apache.spark.sql.DataFrame, Long) = {
    val cdf = asClassic(df)
    val rdd = cdf.queryExecution.toRdd.map(_.copy())
    val reliableOk = reliable &&
      spark.sparkContext.getCheckpointDir.isDefined
    if (reliable && !reliableOk)
      System.err.println("[ck] reliable checkpoint requested but the " +
        "SparkContext has no checkpoint dir — falling back to " +
        "localCheckpoint (lineage truncated, no executor-loss recovery)")
    if (reliableOk) {
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
    val n = rdd.count()
    (spark.internalCreateDataFrame(rdd, cdf.schema), n)
  }

  private def asClassic(df: org.apache.spark.sql.DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]

  /** TINY-REGIME SCOPE: run `body` over `inputs` rebound into a clone
    * of their session with 1 shuffle partition and AQE off (whole-stage
    * codegen too, unless `wholeStageCodegen`), and return its result as
    * a stats-free local checkpoint of the CALLER's session.
    *
    * Isolation contract: the caller's conf is never written, so a query
    * another thread plans on that session meanwhile keeps its settings,
    * and a throwing body leaves nothing to restore. The clone shares the
    * caller's SparkContext, CacheManager and block store: frames the
    * caller persisted serve the body, and what the body registers with
    * `graft.Caches.track` is released by the caller's (per-thread)
    * lease. Frames derived in the body belong to the clone; only the
    * returned checkpoint outlives the scope.
    */
  object TinyScope {
    def apply(inputs: Seq[org.apache.spark.sql.DataFrame],
        wholeStageCodegen: Boolean = true)(
        body: Seq[org.apache.spark.sql.DataFrame] => org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      require(inputs.nonEmpty, "TinyScope needs at least one input frame")
      val caller = asClassic(inputs.head).sparkSession
      val clone = narrowed(caller, wholeStageCodegen)
      val out = body(inputs.map(df => ofRows(clone, asClassic(df).logicalPlan)))
      checkpointInto(caller, out, reliable = false)._1
    }

    /** One narrowed clone per (caller, codegen flag), with the caller
      * conf it was taken from, re-cloned only when that conf changes:
      * a fresh session misses the codegen cache, so a clone per call
      * recompiled every whole-stage class of the body (measured: 35
      * janino compiles per postings merge, 0 with a reused clone).
      * Functions or temp views registered on the caller after its
      * clone was taken are not seen by the body. The slots are held
      * softly: a clone's state references its caller's, so a strong
      * value would pin the weak key of a discarded session forever.
      */
    private val clones = new java.util.WeakHashMap[
      org.apache.spark.sql.classic.SparkSession, java.lang.ref.SoftReference[
        Array[(Map[String, String], org.apache.spark.sql.classic.SparkSession)]]]()

    private def narrowed(caller: org.apache.spark.sql.classic.SparkSession,
        wholeStageCodegen: Boolean) = clones.synchronized {
      val conf = caller.sessionState.conf.getAllConfs
      val slots = Option(clones.get(caller)).flatMap(r => Option(r.get))
        .getOrElse {
          val fresh = new Array[(Map[String, String],
            org.apache.spark.sql.classic.SparkSession)](2)
          clones.put(caller, new java.lang.ref.SoftReference(fresh))
          fresh
        }
      val i = if (wholeStageCodegen) 1 else 0
      if (slots(i) == null || slots(i)._1 != conf) {
        val clone = caller.cloneSession()
        clone.conf.set("spark.sql.shuffle.partitions", "1")
        clone.conf.set("spark.sql.adaptive.enabled", "false")
        if (!wholeStageCodegen) clone.conf.set("spark.sql.codegen.wholeStage", "false")
        slots(i) = (conf, clone)
      }
      slots(i)._2
    }
  }

  /** Eagerly drop the checkpoint blocks behind a
    * `statsFreeLocalCheckpoint` frame (no-op on anything else). After
    * this the frame CANNOT be recomputed — only call once every
    * consumer is done.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Drain the listener bus (`listenerBus` is private[spark]) — lets
    * a spec assert on listener-observed state without sleeping.
    */
  def waitListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The ids of the checkpoint-backing RDDs behind a
    * `statsFreeLocalCheckpoint` frame (empty on anything else) — what
    * the debug-mode use-after-release guard keys its released set by
    * (`LogicalRDD` is private[sql], hence the shim).
    */
  def checkpointRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
}
