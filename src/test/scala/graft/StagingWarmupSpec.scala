package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Bench's staging warm-up contract (VERDICT r9 directive #1): every
  * query whose FIRST invocation does one-time disk work (bucketed-table
  * writes, signature/image/IVF/drift store builds, the events-stage
  * copy) must have that work pre-paid in `Bench.stageWarmup`, or the
  * 1-sample steady state times an index build instead of the query
  * (q92's phantom 11.8× in r9).
  *
  * Enforcement is structural, not timing-based (timings flake):
  *   1. grep the query/operator sources for `Staging.x` / `Bucketing.x`
  *      call sites — every helper used anywhere must be either in
  *      `Bench.warmedStagingHelpers` or explicitly exempt;
  *   2. grep Bench.scala itself — every claimed-warmed helper must
  *      actually be invoked in the stageWarmup body;
  *   3. run stageWarmup twice against sf0.001 — it must not throw, and
  *      the second call must hit the per-JVM caches (observable as the
  *      same returned staging paths, asserted via the events dir).
  */
class StagingWarmupSpec extends SparkSpec {

  private def sources(dir: String): Seq[(Path, String)] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq

  // helpers whose first call does NO one-time heavy work: sinkDir and
  // tempDir only mkdir a temp dir (the batch data a sink query writes
  // there is the query's own measured work, not staging); stageFrames
  // writes the file batches of a streaming query's own invocation, fresh
  // every call; ivfDeleteLo/Hi are plain Long constants the s68 oracle
  // generator interpolates (rule 12), not lazily-built artifacts
  private val exempt =
    Set("sinkDir", "tempDir", "stageFrames", "ivfDeleteLo", "ivfDeleteHi")

  private val helperCall = raw"(?:Staging|Bucketing)\.(\w+)".r

  test("every Staging/Bucketing helper used by a query is warmed or exempt") {
    val used = sources("src/main/scala/graft/queries")
      .flatMap { case (p, text) =>
        helperCall.findAllMatchIn(text).map(m => (p.getFileName.toString, m.group(1)))
      }
      // object-definition files mention their own members without being
      // call sites of staging work
      .filterNot(_._1 == "Staging.scala")
      .filter { case (_, h) => h.headOption.exists(_.isLower) } // methods, not types
      .toSet
    assert(used.nonEmpty, "grep found no staging call sites — pattern broken?")
    val uncovered = used.filterNot { case (_, h) =>
      Bench.warmedStagingHelpers.contains(h) || exempt.contains(h)
    }
    assert(uncovered.isEmpty,
      s"staging helpers used by queries but not in Bench.warmedStagingHelpers " +
        s"(add them to Bench.stageWarmup): $uncovered")
  }

  test("Bench.stageWarmup actually invokes every claimed-warmed helper") {
    val benchSrc = new String(
      Files.readAllBytes(Paths.get("src/main/scala/graft/Bench.scala")), "UTF-8")
    // bucketedJoin is warmed THROUGH bucketedTable (it delegates with the
    // same defaults), so the text check maps it there
    val mustAppear = Bench.warmedStagingHelpers - "bucketedJoin"
    val missing = mustAppear.filterNot(h => benchSrc.contains(h + "("))
    assert(missing.isEmpty,
      s"warmedStagingHelpers claims these but stageWarmup never calls them: $missing")
  }

  test("stageWarmup is idempotent and cache-backed at sf0.001") {
    Bench.stageWarmup(spark, sf0001)
    val first = graft.queries.Staging.eventsDir(sf0001)
    Bench.stageWarmup(spark, sf0001)
    val second = graft.queries.Staging.eventsDir(sf0001)
    assert(first === second, "events staging dir not cached across calls")
  }
}
