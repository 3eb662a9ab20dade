package searchbench

/** Output: human-readable lines first, then the one-line JSON result the
  * harness reads (`correct`, `attempted`, `failed`, `metrics`).
  */
object Report {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "query_p50_ms" -> "ms", "query_tail_ms" -> "ms", "queries_per_s" -> "1/s",
    "commit_p50_ms" -> "ms", "commit_tail_ms" -> "ms", "stored_bytes_per_user_byte" -> "ratio",
    "cached_mb" -> "MB", "ok_ratio" -> "ratio")

  def unitOf(name: String): String = EndToEnd.toMap.getOrElse(name,
    if (name.contains("_ms")) "ms"
    else if (name.contains("_ns_per_")) "ns"
    else if (name.contains("bytes")) "bytes"
    else if (name.endsWith("_per_s")) "1/s"
    else if (name.contains("ratio") || name.contains("amplification") || name.startsWith("drift.")) "ratio"
    else "count")

  private def num(v: Double): String =
    if (v.isNaN) "0" else if (v.isInfinite) (if (v > 0) "1e12" else "-1e12") else v.toString

  def json(metrics: Seq[(String, Double)]): String =
    metrics.map { case (k, v) => s""""$k": {"value": ${num(v)}, "unit": "${unitOf(k)}"}""" }
      .mkString("{", ", ", "}")

  def print(b: Bench, e2e: Map[String, Double], tailPct: (Double, Double)): Unit = {
    val p = b.measured
    println(f"[searchbench] queries=${p.queryMs.size} commits=${p.commitMs.size} " +
      f"query_tail=p${tailPct._1}%.1f commit_tail=p${tailPct._2}%.1f " +
      f"drift_query_p50=${Stats.drift(b.searchedMs)}%+.3f " +
      s"hits=${p.hits} misses=${p.misses} attempted=${b.attempted} failed=${b.failed}")
    println("[searchbench] query_ms " + p.queryMs.map(x => f"$x%.0f").mkString(" "))
    println("[searchbench] commit_ms " + p.commitMs.map(x => f"$x%.0f").mkString(" "))
    EndToEnd.foreach { case (k, u) => println(f"[searchbench] $k%-28s ${e2e(k)}%14.4f $u") }
  }

  def last(b: Bench, e2e: Map[String, Double]): String = {
    val metrics =
      if (!b.traced) EndToEnd.map { case (k, _) => k -> e2e(k) }
      else {
        val l = b.traceReport()
        l.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"[searchbench] $k%-36s $v%16.4f ${unitOf(k)}") }
        l.toSeq
      }
    s"""{"correct": ${b.failed == 0 && b.attempted > 0}, "attempted": ${b.attempted}, "failed": ${b.failed}, "metrics": ${json(metrics)}}"""
  }
}
