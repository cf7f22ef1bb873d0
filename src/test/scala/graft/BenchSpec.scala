package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench's failure-visibility contract: a throwing query must surface
  * as an `errors` count (and an all-reps failure must fail the run),
  * never as a suspiciously fast timing sample.
  */
class BenchSpec extends SparkSpec {

  private def q(fn: SparkSession => DataFrame)
      : (SparkSession, String) => DataFrame = (s, _) => fn(s)

  test("a throwing query becomes an errors entry, not a timing") {
    val queries = Map(
      "good" -> q(s => s.range(10).toDF()),
      "boom" -> q(_ => throw new RuntimeException("deliberate")))
    val samples = Bench.sample(spark, "unused", queries, reps = 2)
    assert(samples.forall(_("good").isDefined))
    assert(samples.forall(_("boom").isEmpty))
    val (stdoutJson, fileJson, allFailed) =
      Bench.render(queries.keys.toSeq, samples, 2, "sf-test")
    assert(allFailed === Seq("boom"))
    // the broken query reports -1 (no fabricated duration) and an
    // explicit failure count in BOTH json forms
    assert(stdoutJson.contains("\"boom\":-1"), stdoutJson)
    assert(stdoutJson.contains("\"errors\":{\"boom\":2}"), stdoutJson)
    assert(fileJson.contains("\"boom\":[-1,-1]"), fileJson)
    assert(fileJson.contains("\"errors\":{\"boom\":2}"), fileJson)
    // the healthy query still reports a real median and no error
    assert(!stdoutJson.contains("\"good\":-1"), stdoutJson)
  }

  test("a transient failure counts as an error but keeps the surviving medians") {
    var calls = 0
    val queries = Map(
      "flaky" -> q { s => calls += 1
        if (calls == 1) throw new RuntimeException("first rep only")
        s.range(10).toDF()
      })
    val samples = Bench.sample(spark, "unused", queries, reps = 3)
    val (stdoutJson, _, allFailed) =
      Bench.render(queries.keys.toSeq, samples, 3, "sf-test")
    // two good samples → a real median; one failure → errors:1; the
    // run as a whole still passes (exit stays 0)
    assert(allFailed.isEmpty)
    assert(stdoutJson.contains("\"errors\":{\"flaky\":1}"), stdoutJson)
    assert(!stdoutJson.contains("\"flaky\":-1"), stdoutJson)
  }

  test("a query-local fatal error is recorded; the run continues to later queries") {
    // a StackOverflowError (e.g. from pathologically deep codegen) is
    // fatal-but-query-local: the old NonFatal catch let it abort the
    // whole run before any JSON was emitted — it must instead become an
    // errors entry while the remaining queries still get timed
    val queries = scala.collection.immutable.ListMap(
      "deep" -> q(_ => throw new StackOverflowError("deliberate")),
      "after" -> q(s => s.range(5).toDF()))
    val samples = Bench.sample(spark, "unused", queries, reps = 2)
    assert(samples.forall(_("deep").isEmpty))
    assert(samples.forall(_("after").isDefined))
    // process-fatal errors still abort: a dead JVM must not keep timing
    val oom = Map("oom" -> q(_ => throw new OutOfMemoryError("deliberate")))
    intercept[OutOfMemoryError] {
      Bench.sample(spark, "unused", oom, reps = 1)
    }
  }

  test("warm medians exclude the cold rep; build_s is the first-rep excess") {
    // samples: rep1 (cold, includes a one-time artifact build), then
    // two warm reps — the warm median must ignore the 10.0 and the
    // build cost must be its excess over the warm median
    val samples = Seq(
      Map("stored" -> Some(10.0), "plain" -> Some(1.0)),
      Map("stored" -> Some(2.0), "plain" -> Some(1.2)),
      Map("stored" -> Some(3.0), "plain" -> Some(0.8)))
    val warm = Bench.warmMedians(Seq("stored", "plain"), samples)
    assert(warm("stored") === 2.5)
    assert(warm("plain") === 1.0)
    val (_, fileJson, _) =
      Bench.render(Seq("stored", "plain"), samples, 3, "sf-test")
    assert(fileJson.contains("\"queries_warm\":{\"stored\":2.5,\"plain\":1.0}"),
      fileJson)
    assert(fileJson.contains("\"build_s\":{\"stored\":7.5,\"plain\":0.0}"),
      fileJson)
    // single-rep runs fall back to the only sample (build_s = 0)
    val one = Seq(Map("q" -> Some(4.0)))
    assert(Bench.warmMedians(Seq("q"), one)("q") === 4.0)
    val (_, oneJson, _) = Bench.render(Seq("q"), one, 1, "sf-test")
    assert(oneJson.contains("\"build_s\":{\"q\":0.0}"), oneJson)
  }

  test("sub-second extra passes: partial maps, absent names are not errors, warm stats fold the extras, minmax is warm-only") {
    // sample() appends extraPasses partial passes covering only
    // extraFor names — the other queries are simply absent, never an
    // error entry
    val queries = Map(
      "a" -> q(s => s.range(2).toDF()),
      "b" -> q(s => s.range(2).toDF()))
    val got = Bench.sample(spark, "unused", queries, reps = 2,
      extraFor = Set("a"), extraPasses = 2)
    assert(got.size === 4)
    assert(got.take(2).forall(m => m.contains("a") && m.contains("b")))
    assert(got.drop(2).forall(m => m.contains("a") && !m.contains("b")))
    // hand-built samples: 1 cold + 2 warm full passes, 2 extra partial
    val samples = Seq(
      Map("sub" -> Some(9.0), "big" -> Some(5.0)),
      Map("sub" -> Some(0.5), "big" -> Some(5.0)),
      Map("sub" -> Some(0.75), "big" -> Some(5.0)),
      Map("sub" -> Some(0.25)),
      Map("sub" -> Some(1.0)))
    val warm = Bench.warmMedians(Seq("sub", "big"), samples)
    assert(warm("sub") === 0.625) // median of 0.25, 0.5, 0.75, 1.0
    assert(warm("big") === 5.0)
    val (_, fileJson, allFailed) =
      Bench.render(Seq("sub", "big"), samples, 3, "sf-test")
    assert(allFailed.isEmpty)
    assert(fileJson.contains("\"errors\":{}"), fileJson)
    // minmax describes the WARM serving path: the cold 9.0 is build
    // territory (build_s), not spread; at 4 warm samples no trim yet
    assert(fileJson.contains("\"sub\":[0.25,1.0]"), fileJson)
    assert(fileJson.contains("\"big\":[5.0,5.0]"), fileJson)
    // with >=5 warm samples the single worst is trimmed from the max
    // (one GC pause of 6 is noise, not spread); min is untouched
    val five = samples ++ Seq(Map("sub" -> Some(0.5)))
    val (_, fiveJson, _) = Bench.render(Seq("sub", "big"), five, 3, "sf")
    assert(fiveJson.contains("\"sub\":[0.25,0.75]"), fiveJson)
    assert(fiveJson.contains("\"big\":[5.0,5.0]"), fiveJson)
  }

  test("the warm-regression alarm trips on >1.5x with absolute delta, stays quiet otherwise") {
    val base = java.nio.file.Files.createTempFile("graft_bench_base", ".json")
    java.nio.file.Files.writeString(base,
      """{"queries_warm":{"slow":1.0,"fast":0.02,"gone":2.0,"ok":3.0}}""")
    val got = Bench.regressions(
      Map("slow" -> 2.0,   // 2.0x and +1.0s → trips
        "fast" -> 0.2,     // 10x but +0.18s < 0.25s floor → quiet
        "ok" -> 3.5,       // 1.17x → quiet
        "new" -> 9.9),     // not in baseline → quiet
      base.toString)
    assert(got.map(_._1) === Seq("slow"), got.toString)
    val (_, ratio, now, b) = got.head
    assert(now === 2.0 && b === 1.0 && math.abs(ratio - 2.0) < 1e-9)
    // a mirror recorded before queries_warm existed still works
    val legacy = java.nio.file.Files.createTempFile("graft_bench_leg", ".json")
    java.nio.file.Files.writeString(legacy, """{"queries":{"slow":1.0}}""")
    assert(Bench.regressions(Map("slow" -> 2.0), legacy.toString)
      .map(_._1) === Seq("slow"))
    // a missing baseline disables the alarm rather than crashing
    assert(Bench.regressions(Map("slow" -> 99.0),
      "/nonexistent/graft.json").isEmpty)
  }

  test("the headline split: total_warm sums warm medians, build_total the rep-1 excess") {
    val samples = Seq(
      Map("stored" -> Some(10.0), "plain" -> Some(1.0)),
      Map("stored" -> Some(2.0), "plain" -> Some(1.2)),
      Map("stored" -> Some(3.0), "plain" -> Some(0.8)))
    val (stdoutJson, fileJson, _) =
      Bench.render(Seq("stored", "plain"), samples, 3, "sf-test")
    // warm = 2.5 + 1.0; build = 7.5 + 0.0; value stays the raw total
    assert(fileJson.contains("\"total_warm\":3.5"), fileJson)
    assert(fileJson.contains("\"build_total\":7.5"), fileJson)
    assert(stdoutJson.contains("\"total_warm\":3.5"), stdoutJson)
    assert(stdoutJson.contains("\"build_total\":7.5"), stdoutJson)
  }

  test("the baseline ratchet lowers on >=20% improvement, seeds unseen, never raises") {
    val base = java.nio.file.Files.createTempFile("graft_bench_rat", ".json")
    java.nio.file.Files.writeString(base,
      """{"metric":"total","value":9,""" +
        """"queries_warm":{"big":2.0,"small":1.0,"worse":1.0}}""")
    Bench.ratchet(Map(
      "big" -> 1.0,    // 50% faster → lowered
      "small" -> 0.9,  // 10% faster → sub-threshold, kept at 1.0
      "worse" -> 5.0,  // regression → NEVER raised (the alarm's job)
      "fresh" -> 0.3,  // unseen → seeded
      "dead" -> -1.0), // failed query → ignored
      base.toString)
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(base))
    val qw = root.get("queries_warm")
    assert(qw.get("big").asDouble() === 1.0)
    assert(qw.get("small").asDouble() === 1.0)
    assert(qw.get("worse").asDouble() === 1.0)
    assert(qw.get("fresh").asDouble() === 0.3)
    assert(qw.get("dead") == null)
    // the rest of the baseline file is preserved verbatim
    assert(root.get("value").asInt() === 9)
    // an explicitly REBASED query is the one sanctioned raise (a
    // deliberate semantic change made the old number unreachable);
    // unnamed regressions stay unraised even in the same call
    Bench.ratchet(Map("worse" -> 5.0, "big" -> 4.0), base.toString,
      rebase = Set("worse"))
    val root2 = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(base))
    assert(root2.get("queries_warm").get("worse").asDouble() === 5.0)
    assert(root2.get("queries_warm").get("big").asDouble() === 1.0)
    // a missing file is created whole-cloth from the run
    val fresh = java.nio.file.Files.createTempDirectory("graft_rat")
      .resolve("b.json")
    Bench.ratchet(Map("q" -> 0.5), fresh.toString)
    val seeded = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(fresh))
    assert(seeded.get("queries_warm").get("q").asDouble() === 0.5)
  }

  test("raiseOnly ratchet (restricted-run rebase): only the explicit raise fires — no seeding, no lowering") {
    val base = java.nio.file.Files.createTempFile("graft_bench_ro", ".json")
    java.nio.file.Files.writeString(base,
      """{"queries_warm":{"rebased":1.0,"quiet":2.0}}""")
    // a restricted run's isolated medians are quieter than in-suite:
    // "quiet" improved 5x and "fresh" is unseen, but neither may touch
    // the file — only the named rebase raise
    Bench.ratchet(
      Map("rebased" -> 3.0, "quiet" -> 0.4, "fresh" -> 0.2),
      base.toString, rebase = Set("rebased"), raiseOnly = true)
    val qw = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(base)).get("queries_warm")
    assert(qw.get("rebased").asDouble() === 3.0)
    assert(qw.get("quiet").asDouble() === 2.0, "quiet-box median lowered the bar")
    assert(qw.get("fresh") == null, "quiet-box median seeded an entry")
  }

  test("ratchet stamps provenance; baselineProvenance reads it back; unstamped baselines read None") {
    val base = java.nio.file.Files.createTempFile("graft_bench_pv", ".json")
    java.nio.file.Files.writeString(base, """{"queries_warm":{"q":5.0}}""")
    assert(Bench.baselineProvenance(base.toString).isEmpty)
    Bench.ratchet(Map("q" -> 1.0), base.toString,
      provenance = Map("runner" -> "mirror", "cpus" -> "32",
        "reps" -> "3", "codegen" -> "true"))
    val got = Bench.baselineProvenance(base.toString)
    assert(got === Some(Map("runner" -> "mirror", "cpus" -> "32",
      "reps" -> "3", "codegen" -> "true")))
    // a missing file also reads None (alarm/ratchet stay enabled)
    assert(Bench.baselineProvenance("/nonexistent/p.json").isEmpty)
  }

  test("a steady-state ratchet still stamps provenance (the guard must engage on mature baselines)") {
    val base = java.nio.file.Files.createTempFile("graft_bench_ss", ".json")
    java.nio.file.Files.writeString(base, """{"queries_warm":{"q":1.0}}""")
    // no entry moves (same warm median) — before the fix the file was
    // left unstamped forever and the cross-regime guard never engaged
    Bench.ratchet(Map("q" -> 1.0), base.toString,
      provenance = Map("runner" -> "mirror", "cpus" -> "32"))
    assert(Bench.baselineProvenance(base.toString) ===
      Some(Map("runner" -> "mirror", "cpus" -> "32")))
    // already-stamped and unchanged → no rewrite churn (mtime stable)
    val before = java.nio.file.Files.getLastModifiedTime(base)
    Thread.sleep(10)
    Bench.ratchet(Map("q" -> 1.0), base.toString,
      provenance = Map("runner" -> "mirror", "cpus" -> "32"))
    assert(java.nio.file.Files.getLastModifiedTime(base) === before)
  }

  test("provenance values are JSON-escaped in both rendered forms") {
    val samples = Seq(Map("q" -> Some(1.0)))
    val (stdoutJson, fileJson, _) = Bench.render(Seq("q"), samples, 1,
      "sf-\"quoted\"", provenance = Map("runner" -> "a\"b\\c"))
    // both lines must stay parseable JSON with the hostile values intact
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    for (j <- Seq(stdoutJson, fileJson)) {
      val root = m.readTree(j)
      assert(root.get("provenance").get("runner").asText() === "a\"b\\c", j)
      assert(root.get("sf").asText() === "sf-\"quoted\"", j)
    }
    assert(Bench.esc("plain") === "plain")
    assert(Bench.esc("a\nb") === "a\\u000ab")
  }

  test("an all-green run renders an empty errors object") {
    val queries = Map("good" -> q(s => s.range(3).toDF()))
    val samples = Bench.sample(spark, "unused", queries, reps = 1)
    val (stdoutJson, _, allFailed) =
      Bench.render(queries.keys.toSeq, samples, 1, "sf-test")
    assert(allFailed.isEmpty)
    assert(stdoutJson.contains("\"errors\":{}"), stdoutJson)
  }

  test("the committed bench mirror covers every registered gate (structural completeness)") {
    // the round mirror has shipped N-1 gates stale two rounds running
    // (a gate added after the final full bench). This pins the
    // invariant mechanically: BENCH_LAST.json's warm-median key set ==
    // SparkEntry.queries' key set — adding or removing a gate without
    // re-running the full mirror (SPARK_GRAFT_BENCH_RUNNER=mirror,
    // no BENCH_ONLY) fails the suite, so a stale mirror can't be
    // committed green.
    val path = java.nio.file.Paths.get("BENCH_LAST.json")
    assert(java.nio.file.Files.exists(path),
      "BENCH_LAST.json missing — run the full bench mirror")
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(path))
    val qw = root.get("queries_warm")
    assert(qw != null, "BENCH_LAST.json has no queries_warm node")
    val mirrored = {
      val it = qw.fieldNames()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    val registered = SparkEntry.queries.keySet
    val missing = (registered -- mirrored).toSeq.sorted
    val extra = (mirrored -- registered).toSeq.sorted
    assert(missing.isEmpty && extra.isEmpty,
      s"bench mirror is stale vs SparkEntry.queries — " +
        s"missing=${missing.mkString(",")} extra=${extra.mkString(",")}; " +
        "re-run the full bench mirror before committing")
  }

  test("memo_build_s attributes PlanMemo build time to the gate that paid it") {
    // a memo-backed "gate": the first timed call pays the build (the
    // closure sleeps, standing in for a checkpoint job) and misses,
    // later calls hit. memo_build_s and memo_misses must charge the
    // build to that gate, memo_hits its later calls, and a memo-free
    // gate must be ABSENT from all three fields (sparse form). Every
    // pass ends with the registry's held bytes, evictions and budget.
    val base = spark.range(3).toDF()
    val queries = scala.collection.immutable.ListMap(
      "memoized" -> q { s =>
        PlanMemo.getOrBuild("bench-spec-memo", base) {
          Thread.sleep(30); "artifact"
        }
        s.range(10).toDF()
      },
      "plain" -> q(s => s.range(10).toDF()))
    val memo = new Bench.MemoTraffic
    val samples = Bench.sample(spark, "unused", queries, reps = 3,
      memo = memo)
    assert(samples.size === 3)
    // only the first call built; reps 2-3 hit (zero build charged)
    val use = memo.perGate("memoized")
    assert(use.buildS >= 0.03, use)
    assert(use.buildS < 10.0, use)
    assert(use.misses === 1L && use.hits === 2L, use)
    assert(!memo.perGate.contains("plain"), memo.perGate)
    assert(memo.passes.size === 3, memo.passes)
    assert(memo.passes.forall { case (bytes, evictions, budget) =>
      bytes >= 0 && evictions == 0 && budget > 0 }, memo.passes)
    val (_, fileJson, _) = Bench.render(queries.keys.toSeq, samples, 3,
      "sf-test", memo = memo)
    assert(fileJson.contains("\"memo_build_s\":{\"memoized\":"), fileJson)
    assert(!fileJson.contains("\"memo_build_s\":{\"memoized\":0.0,"),
      fileJson)
    assert(!fileJson.matches("(?s).*\"memo_build_s\":\\{[^}]*\"plain\".*"),
      fileJson)
    assert(fileJson.contains("\"memo_hits\":{\"memoized\":2}"), fileJson)
    assert(fileJson.contains("\"memo_misses\":{\"memoized\":1}"), fileJson)
    assert(fileJson.matches("(?s).*\"memo_bytes\":\\[\\d+,\\d+,\\d+\\].*"),
      fileJson)
    assert(fileJson.contains("\"memo_evictions\":[0,0,0]"), fileJson)
    assert(fileJson.matches("(?s).*\"memo_budget\":[1-9]\\d*,.*"), fileJson)
    PlanMemo.releaseAll()
  }
}
