package graft

import graft.BenchSentinel.QStat
import org.scalatest.funsuite.AnyFunSuite

/** Synthetic-load tests of the bench retry policy — replays the r8
  * blind spot (suite probe spike, per-query sentinels silent, five
  * queries ~2x their previous-round medians) and asserts the r9 policy
  * names them. No Spark needed: the policy is pure. */
class BenchSentinelSpec extends AnyFunSuite {

  private val thresh = 0.3
  private val extThresh = 0.12

  test("r8 replay: suite spike + prev-round regression flags the phantom five") {
    // per-query probes quiet (px ~ 0.1 < 0.3), ext 0.0 everywhere —
    // exactly what r8's artifact recorded for q45/q100/q108/q123/q127
    val prev = Map("45" -> 1.5, "100" -> 4.0, "108" -> 0.4, "123" -> 1.6,
      "127" -> 2.3, "114" -> 3.2, "01" -> 0.9)
    val stats = Seq(
      QStat("q45_bilinear_stere", 2.5, 2.4, 0.10, 0.0), // 1.67x prev, +0.9s
      QStat("q100_margin_mine", 4.9, 4.8, 0.11, 0.0),   // 1.2x prev: NOT flagged (honest drift)
      QStat("q108_semantic_decontaminate", 1.2, 1.15, 0.10, 0.0), // 3x prev, +0.8s
      QStat("q123_fifo_ledger", 2.5, 2.4, 0.09, 0.0),   // 1.6x... wait 2.5/1.6=1.56
      QStat("q127_eval_overlap", 3.6, 3.5, 0.10, 0.0),  // 1.57x prev
      QStat("q114_neardup_cluster", 3.2, 3.1, 0.10, 0.0), // matches prev: clean
      QStat("q01_bucket_count", 0.9, 0.88, 0.10, 0.0))  // matches prev: clean
    val (suspects, retry) =
      BenchSentinel.candidates(stats, thresh, extThresh, suiteSpike = true, prev, cap = 25)
    // the >1.8x-with->0.3s-delta regressions are flagged
    assert(suspects.contains("q108_semantic_decontaminate"))
    // sub-1.8x drifts and matching queries are not (retry is not free)
    assert(!suspects.contains("q114_neardup_cluster"))
    assert(!suspects.contains("q01_bucket_count"))
    assert(retry.toSet === suspects.toSet)
  }

  test("iteration disagreement flags under a suite spike even with no prev file") {
    val stats = Seq(
      QStat("q50_multi_uncertainty", 1.8, 0.6, 0.10, 0.0), // med 3x min: noisy
      QStat("q51_ivf_topk", 0.5, 0.45, 0.10, 0.0))
    val (suspects, _) = BenchSentinel.candidates(
      stats, thresh, extThresh, suiteSpike = true, Map.empty, cap = 25)
    assert(suspects === Seq("q50_multi_uncertainty"))
  }

  test("no suite spike: only the direct per-query sentinels flag") {
    val prev = Map("45" -> 1.0)
    val stats = Seq(
      QStat("q45_bilinear_stere", 2.5, 0.5, 0.10, 0.0), // regressed AND noisy, but no spike
      QStat("q46_ewa_stere", 1.0, 0.9, 0.95, 0.0),      // probe pair saw load
      QStat("q47_optimal_bb", 1.0, 0.9, 0.10, 0.25))    // MXBean saw load
    val (suspects, retry) = BenchSentinel.candidates(
      stats, thresh, extThresh, suiteSpike = false, prev, cap = 25)
    assert(suspects.toSet === Set("q46_ewa_stere", "q47_optimal_bb"))
    assert(retry.nonEmpty)
  }

  test("retry list is capped worst-first; suspects stay uncapped") {
    val stats = (1 to 40).map(i => QStat(f"q$i%02d_x", 1.0, 0.9, 1.0 + i * 0.01, 0.0))
    val (suspects, retry) = BenchSentinel.candidates(
      stats, thresh, extThresh, suiteSpike = false, Map.empty, cap = 10)
    assert(suspects.size === 40 && retry.size === 10)
    // worst px first
    assert(retry.head === "q40_x")
  }

  test("archive parsing: short-key medians + sf tag from an escaped stdout tail") {
    val tail = """{"n": 8, "tail": "[info] {\"metric\":\"detail\",...}\n[info] {\"metric\":\"total\",\"value\":123.77,\"unit\":\"sec\",\"queries\":{\"01\":0.9,\"100\":4.9,\"45\":2.5},\"qtrunc\":17,\"pm\":0.10,\"px\":0.86,\"xx\":0.00,\"nr\":5,\"suspect\":[],\"sf\":\"sf0.1\"}\n"}"""
    val (meds, sf) = BenchSentinel.parsePrevMedians(tail)
    assert(meds === Map("01" -> 0.9, "100" -> 4.9, "45" -> 2.5))
    assert(sf === Some("sf0.1"))
    // the real r8 artifact parses and carries the five phantom medians
    val f = new java.io.File("BENCH_r08.json")
    if (f.isFile) {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val (m8, sf8) = BenchSentinel.parsePrevMedians(txt)
      assert(sf8 === Some("sf0.1"))
      assert(m8.get("45").exists(v => math.abs(v - 2.5) < 0.01), m8.get("45"))
      assert(m8.get("100").exists(v => math.abs(v - 4.9) < 0.01))
      assert(m8.size > 150)
    }
  }

  test("archive parsing: r18 decisecond contract lines normalize to seconds") {
    val tail = """{"n": 18, "tail": "{\"metric\":\"total\",\"value\":123.77,\"unit\":\"sec\",\"qunit\":\"ds\",\"queries\":{\"01\":9,\"100\":49,\"45\":25},\"px\":0.10,\"rl\":0,\"suspect\":[],\"sf\":\"sf0.1\"}\n"}"""
    val (meds, sf) = BenchSentinel.parsePrevMedians(tail)
    assert(meds === Map("01" -> 0.9, "100" -> 4.9, "45" -> 2.5))
    assert(sf === Some("sf0.1"))
    // unescaped (BENCH_QUIET jsonl) form too
    val raw = """{"metric":"total","value":1.2,"unit":"sec","qunit":"ds","queries":{"01":12},"px":0.1,"rl":0,"suspect":[],"sf":"sf0.01"}"""
    val (m2, sf2) = BenchSentinel.parsePrevMedians(raw)
    assert(m2 === Map("01" -> 1.2) && sf2 === Some("sf0.01"))
  }

  test("archive parsing: qunit counts anywhere in the contract line, and only there") {
    // a field wider than any fixed window sits between qunit and queries
    val pad = "x" * 120
    val tail = s"""{"n": 19, "tail": "{\\"metric\\":\\"total\\",\\"value\\":1.2,\\"unit\\":\\"sec\\",\\"qunit\\":\\"ds\\",\\"note\\":\\"$pad\\",\\"queries\\":{\\"01\\":12},\\"sf\\":\\"sf0.1\\"}\\n"}"""
    assert(BenchSentinel.parsePrevMedians(tail)._1 === Map("01" -> 1.2))
    val raw = s"""{"metric":"total","qunit":"ds","note":"$pad","queries":{"01":12},"sf":"sf0.01"}"""
    assert(BenchSentinel.parsePrevMedians(raw)._1 === Map("01" -> 1.2))
    // a qunit on the line BEFORE a seconds-unit contract line does not leak
    val twoLines = s"""{"qunit":"ds"}\n{"metric":"total","queries":{"01":1.2},"sf":"sf0.01"}"""
    assert(BenchSentinel.parsePrevMedians(twoLines)._1 === Map("01" -> 1.2))
    val twoEscaped = s"""{"tail": "{\\"qunit\\":\\"ds\\"}\\n{\\"metric\\":\\"total\\",\\"queries\\":{\\"01\\":1.2}}\\n"}"""
    assert(BenchSentinel.parsePrevMedians(twoEscaped)._1 === Map("01" -> 1.2))
  }

  test("newestPrevFile picks the highest round number") {
    val dir = java.nio.file.Files.createTempDirectory("benchsent").toFile
    try {
      for (n <- Seq(2, 10, 9)) {
        val f = new java.io.File(dir, s"BENCH_r0$n.json")
        java.nio.file.Files.write(f.toPath, "{}".getBytes)
      }
      assert(BenchSentinel.newestPrevFile(dir).map(_.getName) === Some("BENCH_r010.json"))
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete())); dir.delete()
    }
  }

  test("run_loaded: set only when pass 0 spiked and the rerun could not find quiet (r14 verdict #5)") {
    // quiet run, no rerun fired
    assert(!BenchSentinel.runLoaded(pass0Spike = false, rerunSpike = None))
    // pass 0 spiked, rerun ran quiet — the artifact is adjudicated
    assert(!BenchSentinel.runLoaded(pass0Spike = true, rerunSpike = Some(false)))
    // both passes spiked — the whole artifact is unadjudicated
    assert(BenchSentinel.runLoaded(pass0Spike = true, rerunSpike = Some(true)))
    // defensive: a spike with no rerun recorded reads as loaded
    assert(BenchSentinel.runLoaded(pass0Spike = true, rerunSpike = None))
  }
}
