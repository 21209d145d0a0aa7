package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins the failure-reporting contract of the driver harnesses: a broken
  * query must surface as an explicit error in Verify's `_failures.json`
  * and Bench's error map — never as silence (round 8: 36 broken queries
  * were invisible in the correctness sheet) and never as a fake timing.
  */
class HarnessSpec extends SparkSpec {

  private val good: Tables => DataFrame =
    t => { import t.spark.implicits._; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
  private val broken: Tables => DataFrame =
    _.documents.selectExpr("no_such_column + 1")
  private def keyed(build: Tables => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => build(Tables(s, dir))

  test("Verify records a broken query in _failures.json and still dumps the rest") {
    val out = java.nio.file.Files.createTempDirectory("graft-harness").toString
    val failures = Verify.run(spark, "/root/testdata/sf0.001", out,
      Seq(QueryDef("ok_query", good, "SELECT 1"),
        QueryDef("broken_query", broken, "SELECT 1")))
    assert(failures.keySet == Set("broken_query"))
    assert(failures("broken_query").nonEmpty)
    // the good query's parquet landed; the broken one left no output dir
    assert(new java.io.File(s"$out/ok_query").exists())
    assert(!new java.io.File(s"$out/broken_query").exists())
    // the durable artifact carries the same contract
    val failJson = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$out/_failures.json")), "UTF-8")
    assert(failJson.contains("\"broken_query\""))
    assert(!failJson.contains("ok_query"))
  }

  test("Verify writes an EMPTY _failures.json on a clean run (absence is provable)") {
    val out = java.nio.file.Files.createTempDirectory("graft-harness2").toString
    val failures = Verify.run(spark, "/root/testdata/sf0.001", out,
      Seq(QueryDef("ok_query", good, "SELECT 1")))
    assert(failures.isEmpty)
    val failJson = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$out/_failures.json")), "UTF-8")
    assert(failJson.trim == "{}")
  }

  test("Bench.historyMedians: per-query median across rounds, work units where recorded, fail-open on bad file") {
    val f = java.nio.file.Files.createTempFile("graft-hist", ".csv")
    java.nio.file.Files.write(f,
      ("round,query,median_sec,min_sec,calib_sec,median_wu,min_wu\n" +
        "r09,q_a,1.0,,,,\n" +     // pre-r17 row shape: no calib, no wu
        "r10,q_a,3.0,2.9,0.15,20.0,19.3\n" +
        "r11,q_a,2.0,1.8,0.20,10.0,9.0\n" +
        "r10,q_b,0.5,0.4,,,\n" +
        "r11,q_bad,notanumber,,,,\n" // unparseable row is skipped, not fatal
        ).getBytes("UTF-8"))
    val hist = Bench.historyMedians(f.toString)
    assert(hist("q_a").sec == 2.0)         // median of 1.0, 3.0, 2.0
    assert(hist("q_a").wu.contains(20.0))  // median of 20.0, 10.0 (2 rows)
    assert(hist("q_b") == Bench.HistRef(0.5, None))
    assert(!hist.contains("q_bad"))
    // a missing file must not break the bench — empty map, no requeue
    assert(Bench.historyMedians("/no/such/file.csv").isEmpty)
  }

  test("Bench.requeueSet: normalized (work-unit) rule where history has it, seconds fallback, new queries never requeue") {
    val hist = Map(
      "q_a" -> Bench.HistRef(1.0, None),       // seconds-only history
      "q_b" -> Bench.HistRef(1.0, None),
      "q_wu" -> Bench.HistRef(1.0, Some(5.0))) // wu history: 1.0s at calib 0.2
    val measured = Map(
      "q_a" -> (2.6, 2.5),  // 2.6x history seconds -> requeue
      "q_b" -> (2.4, 2.3),  // under the factor -> keep
      "q_new" -> (99.0, 98.0)) // no history -> nothing to adjudicate against
    assert(Bench.requeueSet(measured, hist, calib = 0.2) == Set("q_a"))
    // exactly at the factor is NOT a requeue (strict >): a query pinned
    // at precisely 2.5x forever should not churn the requeue pass
    assert(Bench.requeueSet(Map("q_a" -> (2.5, 2.5)), hist).isEmpty)
    // empty history (missing file) -> no requeues at all
    assert(Bench.requeueSet(measured, Map.empty).isEmpty)
    // NORMALIZATION: 2.6s on a host whose calibration runs 2x slower
    // (0.4 vs the 0.2 the history was recorded at) is 6.5 wu — 1.3x the
    // 5.0 wu reference, NOT a requeue; the same 2.6s at calib 0.2 is
    // 13 wu = 2.6x -> requeue. The r16 cross-host false-positive case.
    assert(Bench.requeueSet(Map("q_wu" -> (2.6, 2.5)), hist, calib = 0.4).isEmpty)
    assert(Bench.requeueSet(Map("q_wu" -> (2.6, 2.5)), hist, calib = 0.2) == Set("q_wu"))
    // no calibration available -> wu rule can't run, seconds fallback
    assert(Bench.requeueSet(Map("q_wu" -> (2.6, 2.5)), hist, calib = 0.0) == Set("q_wu"))
  }

  test("Bench.adjudicate: clean rerun takes min; rerun above the trust bar keeps first and is UNTRUSTED") {
    val hist = Map(
      "q_clean" -> Bench.HistRef(1.0, Some(5.0)),
      "q_noisy" -> Bench.HistRef(0.888, Some(4.4))) // the r16 dedup_tier_eval shape
    val measured = Map(
      "q_clean" -> (3.0, 2.9),   // inflated first measurement
      "q_noisy" -> (5.16, 5.0),  // first 5.16 ...
      "q_other" -> (1.0, 0.9))   // not requeued: passes through
    val remeasured = Map(
      "q_clean" -> (1.1, 1.0),   // rerun landed clean (5.5 wu at calib 0.2)
      "q_noisy" -> (8.17, 8.0))  // ... rerun HIGHER: both runs contended
    val (adj, untrusted) = Bench.adjudicate(measured, remeasured, hist,
      calibRerun = 0.2)
    assert(adj("q_clean") == (1.1, 1.0), "clean rerun must adjudicate to min")
    // the noisy row must NOT launder 5.16 as an adjudicated value of
    // min(5.16, 8.17) with a straight face — first kept, row flagged
    assert(adj("q_noisy") == (5.16, 5.0))
    assert(untrusted == Set("q_noisy"))
    assert(adj("q_other") == (1.0, 0.9))
    // a query with NO history is trusted by default (nothing to compare)
    val (adj2, u2) = Bench.adjudicate(
      Map("q_new" -> (9.0, 8.0)), Map("q_new" -> (2.0, 1.9)), Map.empty, 0.2)
    assert(adj2("q_new") == (2.0, 1.9) && u2.isEmpty)
  }

  test("Bench routes a broken query to the error map, excluded from timings") {
    val (results, errs, _) = Bench.measure(spark, "/root/testdata/sf0.001",
      Map("ok_query" -> keyed(good), "broken_query" -> keyed(broken)), reps = 2)
    assert(results.keySet == Set("ok_query"))
    assert(errs.keySet == Set("broken_query"))
    assert(errs("broken_query").nonEmpty)
    val (med, min) = results("ok_query")
    assert(med > 0 && min > 0 && min <= med)
  }
}
