package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ColumnBridge

/** The session memo registry: one process-wide map of expensive
  * relations that several gates consume back to back over the SAME
  * input — the Brandes σ layers (`graph_path_counts` →
  * `graph_stress`), the labeled centrality sweep (`graph_closeness` →
  * `graph_eccentricity` → `graph_diameter`), the default ngram cluster
  * labelling (five dedup/curation gates), the corpus kNN graph
  * (`knn_graph` → `knn_mutual` → the beam family), the stored-tier
  * artifact dirs. Call sites name a `kind` and never size anything:
  * retention is one global byte budget.
  *
  * Keying discipline: the key is the session (applicationId + session
  * identity hash), `kind|params` (params must carry every constant the
  * value depends on), and the canonicalized ANALYZED PLANS of every
  * input, compared as OBJECTS, not strings — structural equality sees
  * LocalRelation data and file-index roots, both of which plan strings
  * elide, so a stale reuse across different inputs is structurally
  * impossible rather than merely improbable.
  *
  * Budget: an entry weighs the bytes of the checkpoint blocks its
  * value holds (`sc.getRDDStorageInfo` over the value's checkpoint RDD
  * ids — the values are statsFreeLocalCheckpoint-backed, so the
  * per-query `Caches.clear` lease drain cannot evict them). The budget
  * is the storage memory the block managers report
  * (`sc.getExecutorMemoryStatus`): after every build, while the held
  * bytes exceed it, the least recently used entry that holds blocks is
  * evicted (never the one just built). A value that holds no blocks
  * (a stored-dir path, a driver-side weight array) weighs 0 and is
  * never evicted — evicting it frees nothing. Bytes are read from the
  * status store, which the listener bus fills asynchronously, so the
  * newest entry may weigh less than it will until the next build.
  *
  * Lifetime is REF-COUNTED, so eviction cannot destroy a value out
  * from under a consumer: the map holds one reference per entry, and
  * every `getOrBuild` return takes another, released when the caller's
  * `Caches` lease drains (the query-end signal — `scoped` exit or
  * `Caches.clear`). Eviction and `releaseAll` only drop the MAP's
  * reference; the value's checkpoint blocks are unpersisted when the
  * last in-flight query that was handed it finishes. A racing duplicate
  * build resolves FIRST-WRITE-WINS — the loser releases the value IT
  * just built (provably unreferenced) and serves the incumbent under a
  * fresh reference.
  */
object PlanMemo {

  /** The checkpoint frames a memoized value holds: what its release
    * unpersists and what its bytes are measured over.
    */
  final class Frames[T](val of: T => Seq[DataFrame])

  object Frames {
    implicit val frame: Frames[DataFrame] = new Frames(Seq(_))
    implicit val counted: Frames[(DataFrame, Long)] = new Frames(v => Seq(v._1))
    implicit val frames: Frames[Seq[DataFrame]] = new Frames(identity)
    implicit val triple: Frames[(DataFrame, DataFrame, DataFrame)] =
      new Frames(v => Seq(v._1, v._2, v._3))
    implicit val path: Frames[String] = new Frames(_ => Nil)
    implicit val weights: Frames[Array[Long]] = new Frames(_ => Nil)
  }

  /** A memoized value plus its reference count. Starts at 1 — the
    * map's own reference. The frames are released exactly once, when
    * the count first reaches zero.
    */
  private final class Entry(val value: Any, frames: Seq[DataFrame],
      val sc: SparkContext) {
    private val refs = new AtomicInteger(1)
    val rddIds: Seq[Int] = frames.flatMap(ColumnBridge.checkpointRddIds)
    var bytes = 0L // last measurement; written under the map lock
    def retain(): Unit = refs.incrementAndGet()
    def releaseRef(): Unit =
      if (refs.decrementAndGet() == 0) frames.foreach(releaseDf)
  }

  // access-ordered: iteration runs least recently used first. The
  // PLANS are part of the key (tuple equality → structural plan
  // equality), so two inputs under the same params are distinct entries
  private val map =
    new java.util.LinkedHashMap[(String, List[AnyRef]), Entry](16, 0.75f, true)

  /** Total nanoseconds spent inside `build` blocks. Monotone; readers
    * take before/after deltas (graft.Bench's per-gate `memo_build_s`).
    * Builds are charged where they run, so the FIRST query to touch a
    * shared relation carries its cost.
    */
  val buildNanos = new AtomicLong
  /** Process-wide lookups that served a stored value / ran a build. */
  val hitCount = new AtomicLong
  val missCount = new AtomicLong
  /** Entries dropped to bring the held bytes back under the budget. */
  val evictions = new AtomicLong

  private val kindHits = new ConcurrentHashMap[String, AtomicLong]()

  /** Hits served for `kind` — what the reuse specs read to pin that a
    * twin gate reused instead of silently rebuilding.
    */
  def hits(kind: String): Long =
    Option(kindHits.get(kind)).map(_.get()).getOrElse(0L)

  // test-only override of the block-manager budget (< 0 = none)
  private val budgetOverride = new AtomicLong(-1L)

  private[graft] def withBudget[A](bytes: Long)(body: => A): A = {
    val prev = budgetOverride.getAndSet(bytes)
    try body finally budgetOverride.set(prev)
  }

  /** The byte budget: storage memory across the block managers. */
  def budget(sc: SparkContext): Long = {
    val o = budgetOverride.get()
    if (o >= 0) o else sc.getExecutorMemoryStatus.valuesIterator.map(_._1).sum
  }

  /** Re-measure every entry of `sc` and return their held bytes. */
  def heldBytes(sc: SparkContext): Long = map.synchronized(measure(sc))

  private def measure(sc: SparkContext): Long = {
    val held = sc.getRDDStorageInfo.iterator
      .map(ri => ri.id -> (ri.memSize + ri.diskSize)).toMap
    var total = 0L
    map.values.forEach { e =>
      e.bytes = if (e.sc ne sc) 0L else e.rddIds.map(held.getOrElse(_, 0L)).sum
      total += e.bytes
    }
    total
  }

  /** Drop least-recently-used entries that hold blocks until the held
    * bytes fit the budget; `newest` (just built) always stays.
    */
  private def evictOverBudget(newest: Entry): Unit = {
    val sc = newest.sc
    var total = measure(sc)
    val limit = budget(sc)
    val it = map.values.iterator
    while (total > limit && it.hasNext) {
      val e = it.next()
      if (e.bytes > 0 && (e ne newest)) {
        it.remove()
        e.releaseRef() // drop the MAP's reference only
        evictions.incrementAndGet()
        total -= e.bytes
      }
    }
  }

  /** Hand `e`'s value to the calling query: one reference taken now,
    * given back when the caller's Caches lease drains.
    */
  private def lend[T](e: Entry): T = {
    e.retain()
    Caches.onRelease(() => e.releaseRef())
    e.value.asInstanceOf[T]
  }

  /** Return the memoized `kind` value for (input plans, params),
    * building and recording it on a miss. `input` is the relation whose
    * canonical plan identifies the data; `extraInputs` are any FURTHER
    * relations the built value depends on (a beam ranking depends on
    * the graph AND the corpus AND the query batch) — every one
    * participates in the key as a canonicalized plan OBJECT (digest
    * strings in `params` would leave a hash collision silently serving
    * the wrong value). `params` must carry every remaining constant the
    * built value depends on. The returned value is guaranteed alive
    * until the calling query's lease drains, whatever later calls evict.
    */
  def getOrBuild[T](kind: String, input: DataFrame, params: String = "",
      extraInputs: Seq[DataFrame] = Nil)(build: => T)(
      implicit frames: Frames[T]): T = {
    val s = input.sparkSession
    val key = (s"${s.sparkContext.applicationId}|" +
      s"${System.identityHashCode(s)}|$kind|$params",
      (input +: extraInputs).toList
        .map(_.queryExecution.analyzed.canonicalized: AnyRef))
    map.synchronized {
      val e = map.get(key)
      if (e != null) {
        hitCount.incrementAndGet()
        kindHits.computeIfAbsent(kind, _ => new AtomicLong).incrementAndGet()
        return lend(e)
      }
    }
    missCount.incrementAndGet()
    // the timer wraps ONLY the build closure (plan construction +
    // checkpoint job), never the map bookkeeping — hits must read as
    // zero build cost
    val t0 = System.nanoTime()
    val v = build
    buildNanos.addAndGet(System.nanoTime() - t0)
    map.synchronized {
      val prev = map.get(key)
      if (prev != null && prev.value != v) {
        // racing duplicate build: FIRST write wins. The incumbent may
        // already be held by the racer that stored it, so the only
        // value that is provably unreferenced is the one WE just
        // built and have not yet returned — release v, serve prev.
        frames.of(v).foreach(releaseDf)
        lend(prev)
      } else {
        val e = new Entry(v, frames.of(v), s.sparkContext)
        map.put(key, e)
        evictOverBudget(e)
        lend(e)
      }
    }
  }

  /** Drop every entry (releasing the MAP's reference on each; blocks
    * held by an in-flight query survive until its lease drains) — the
    * hook a leak audit (or an embedding host tearing a session down)
    * calls; entries otherwise hold their checkpoint blocks for the life
    * of the session BY DESIGN (that reuse is their whole point).
    */
  def releaseAll(): Unit = map.synchronized {
    map.values.forEach(_.releaseRef())
    map.clear()
  }

  /** Drop a released value's checkpoint blocks eagerly (GC-driven
    * cleanup is lazy). Under the debug guard the release is also
    * RECORDED, so any later job reading the dead checkpoint names this
    * release site instead of failing with a bare missing-block error.
    */
  private def releaseDf(df: DataFrame): Unit =
    try {
      if (MemoDebug.enabled) MemoDebug.recordRelease(df)
      ColumnBridge.unpersistCheckpoint(df)
    } catch { case scala.util.control.NonFatal(_) => () }
}

/** DEBUG-MODE use-after-release guard (`-Dgraft.memo.debug=1`, or
  * `sys.props` in a spec). The ref-count makes eviction safe, but one
  * hazard stays conventional: a served DataFrame that ESCAPES its
  * query's lease and is executed after `Caches.clear` drains it would
  * read checkpoint blocks the release already dropped — at best an
  * obscure CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND from deep inside the
  * scan, at worst (blocks not yet evicted by the async unpersist) a
  * silently-served stale read. No in-repo caller violates the
  * convention; this guard exists so a future one fails LOUDLY and
  * NAMED: every release records the checkpoint RDD ids plus the
  * releasing stack, a SparkListener flags any later job that reads a
  * released id, and specs (or a paranoid host app) assert
  * `useAfterRelease` stayed null.
  *
  * Off by default: the per-release stack capture and per-job id sweep
  * are debug-budget work, and the listener path is advisory (jobs are
  * flagged, not aborted — a listener cannot veto a running query).
  */
object MemoDebug {
  def enabled: Boolean = sys.props.get("graft.memo.debug").contains("1")

  /** released checkpoint-RDD id → abbreviated release-site stack */
  private val released =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val installed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** First violation seen (null = none) — the spec-facing signal. */
  val useAfterRelease =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Forget recorded releases + any flagged violation (spec hygiene —
    * one test's releases must not flag another's legitimate jobs).
    */
  def reset(): Unit = { released.clear(); useAfterRelease.set(null) }

  private[graft] def recordRelease(
      df: org.apache.spark.sql.DataFrame): Unit = {
    val sc = df.sparkSession.sparkContext
    if (installed.add(sc.applicationId)) sc.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          js.stageInfos.foreach(_.rddInfos.foreach { ri =>
            val at = released.get(ri.id)
            if (at != null) {
              val msg = s"[memo] USE-AFTER-RELEASE: job ${js.jobId} reads " +
                s"checkpoint RDD ${ri.id} (${ri.name}) whose memo entry " +
                s"was released at: $at"
              System.err.println(msg)
              useAfterRelease.compareAndSet(null, msg)
            }
          })
      })
    val stack = Thread.currentThread().getStackTrace.iterator
      .drop(1) // getStackTrace frame
      .filterNot(f => f.getClassName.startsWith("graft.PlanMemo") ||
        f.getClassName.startsWith("graft.MemoDebug"))
      .take(10).mkString(" <- ")
    org.apache.spark.sql.graft.ColumnBridge.checkpointRddIds(df)
      .foreach(id => released.put(id, stack))
  }
}
