package graft

/** Load-sentinel policy for [[Bench]], extracted pure so it is
  * unit-testable with synthetic numbers (BenchSentinelSpec).
  *
  * r8 lesson: a co-tenant load window can be invisible to BOTH per-query
  * sentinels — the cheap probes can slip between load bursts while the
  * 3-iteration queries are exposed, and in this sandbox
  * `OperatingSystemMXBean` reads external CPU as 0 — yet leave a
  * suite-level fingerprint (one probe at 8.6x the probe median). Five
  * healthy queries shipped ~2x inflated with `suspect: []`. The fix:
  * when the probe HISTORY shows a spike anywhere, widen the retry set to
  * queries whose own iterations disagree (med >> min) or that regressed
  * vs the previous round's archived medians. */
object BenchSentinel {

  final case class QStat(name: String, med: Double, min: Double, px: Double, ext: Double)

  /** Short contract-line key of a query name ("q45_bilinear_stere" -> "45"). */
  def shortKey(name: String): String = name.split("_").head.drop(1)

  /** Top-level "this whole artifact is unadjudicated" flag (r14 verdict
    * "What's wrong #5"): when pass 0's run-level probe spiked AND the
    * suite-level rerun could not find a quiet window either, per-query
    * `suspect` marks under-state the problem — every number in the file
    * was measured under load. `rerunSpike` is None when no rerun was
    * recorded; with a pass-0 spike that defensively reads as loaded
    * (the rerun should always fire on a spike). */
  def runLoaded(pass0Spike: Boolean, rerunSpike: Option[Boolean]): Boolean =
    pass0Spike && rerunSpike.getOrElse(true)

  /** Parse the short-key -> median map (and the sf tag) out of a driver
    * BENCH_r{N}.json archive — the stdout tail holds the contract line;
    * quotes arrive backslash-escaped inside the JSON string. Returns the
    * LAST "queries" map in the text (the contract line prints after the
    * detail line). */
  def parsePrevMedians(archiveText: String): (Map[String, Double], Option[String]) = {
    val i = archiveText.lastIndexOf("\\\"queries\\\":{") match {
      case -1 => archiveText.lastIndexOf("\"queries\":{")
      case x => x
    }
    if (i < 0) return (Map.empty, None)
    val j = archiveText.indexOf('}', i)
    if (j < 0) return (Map.empty, None)
    val body = archiveText.substring(i, j)
    // r18 contract lines mark the per-query unit as deciseconds
    // ("qunit":"ds", anywhere in the same contract line); pre-r18
    // archives carried 1-decimal seconds. Normalize to seconds so the
    // regression sentinel compares like with like across the format
    // change. The line ends at a raw newline or at a JSON-escaped one
    // (the archive's stdout tail is one escaped string).
    def nlBefore(c: String) = archiveText.lastIndexOf(c, i) match {
      case -1 => 0
      case x => x + c.length
    }
    def nlAfter(c: String) = archiveText.indexOf(c, i) match {
      case -1 => archiveText.length
      case x => x
    }
    val line = archiveText.substring(
      math.max(nlBefore("\n"), nlBefore("\\n")), math.min(nlAfter("\n"), nlAfter("\\n")))
    val deci =
      line.contains("\\\"qunit\\\":\\\"ds\\\"") || line.contains("\"qunit\":\"ds\"")
    val re = """\\?"(\d+)\\?":([0-9.]+)""".r
    val meds = re.findAllMatchIn(body)
      .map { m =>
        val v = m.group(2).toDouble
        m.group(1) -> (if (deci) v / 10.0 else v)
      }.toMap
    val sfRe = """\\?"sf\\?":\\?"(sf[0-9.]+)\\?"""".r
    val sf = sfRe.findAllMatchIn(archiveText.substring(j)).map(_.group(1)).toSeq.lastOption
    (meds, sf)
  }

  /** Newest BENCH_r*.json in `dir` (by round number), if any. */
  def newestPrevFile(dir: java.io.File): Option[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
      .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
      .lastOption

  /** The retry policy. Returns (allSuspects, toRetry):
    *  - direct: a query's OWN sentinels saw load (adjacent probe above
    *    `thresh`, or external CPU above `extThresh`);
    *  - indirect (only when `suiteSpike` — some probe in the whole run
    *    spiked): iterations disagree (med > 1.5x min) or the median
    *    regressed vs the previous round (> 1.8x and > 0.3 s absolute).
    * `toRetry` is worst-first, capped; `allSuspects` is uncapped (a
    * flagged-but-unretried query must still ship marked). */
  def candidates(
      stats: Seq[QStat], thresh: Double, extThresh: Double,
      suiteSpike: Boolean, prev: Map[String, Double], cap: Int): (Seq[String], Seq[String]) = {
    def direct(s: QStat): Boolean = s.px > thresh || s.ext > extThresh
    def indirect(s: QStat): Boolean = suiteSpike && !direct(s) && (
      s.med / math.max(s.min, 0.02) > 1.5 ||
        prev.get(shortKey(s.name)).exists(p => s.med > 1.8 * p && s.med - p > 0.3))
    def score(s: QStat): Double = {
      val loadScore = math.max(s.px / thresh, s.ext / extThresh)
      val regScore = prev.get(shortKey(s.name)).map(p => s.med / math.max(p, 0.05)).getOrElse(0.0)
      val iterScore = s.med / math.max(s.min, 0.02)
      math.max(loadScore, math.max(regScore, iterScore))
    }
    val flagged = stats.filter(s => direct(s) || indirect(s))
    (flagged.map(_.name), flagged.sortBy(s => -score(s)).take(cap).map(_.name))
  }
}
