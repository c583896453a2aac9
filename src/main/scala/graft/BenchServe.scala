package graft

/** Line-protocol bench server for the PAIRED A/B harness
  * (`scripts/run_bench_paired.sh`): one long-lived Spark session that
  * runs named gate queries on demand, so an external driver can
  * interleave the SAME query on a reference build and the current build
  * back-to-back in time — ambient box load (the r14/r15 verdicts'
  * standing complaint: median 1.2x drift across untouched queries with
  * no way to call signal vs noise) then cancels PAIRWISE instead of
  * accumulating across a 100 s suite gap.
  *
  * Two separate JVMs (one per build) rather than two classloaders in
  * one JVM, deliberately: Spark's executor-side deserialization
  * resolves task closures and custom Expression classes BY NAME through
  * the executor classloader, so a dual-classloader harness would
  * silently run one side's hot-path classes for both sides exactly when
  * the A/B diff lives in such a class — the one case the harness
  * exists to measure. Process isolation makes each side's bytecode
  * provably its own; the pairing driver keeps only one query in flight
  * so the idle JVM never competes for cores.
  *
  * Protocol (stdin line → one stdout JSON line, flushed):
  *   - `LIST`        → `{"queries":["name",...]}` (sorted)
  *   - `<queryName>` → `{"q":"<name>","secs":N}` — one timed count(),
  *     storage-hygiene'd after, exactly [[Bench]]'s per-repeat shape
  *     (repeats/min-of-N policy belongs to the DRIVER, which interleaves
  *     them) — or `{"q":"<name>","err":"..."}` (unknown name / threw;
  *     unknown names are expected when the reference build predates a
  *     gate query — the driver reports those rows unpaired)
  *   - `EXIT`        → stops the session and exits 0
  * Startup prints `{"ready":true,"n_queries":N}` AFTER the flagship
  * warmup, so the driver can await both sides before the first pair.
  * All non-protocol output (Spark chatter) goes to stderr; the driver
  * parses only JSON lines. */
object BenchServe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ToolSession.local(ToolSession.cpus(), logLevel = "WARN")
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(System.out, "UTF-8"), true)
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    out.println(s"""{"ready":true,"n_queries":${SparkEntry.queries.size}}""")
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(System.in, "UTF-8"))
    var line = in.readLine()
    while (line != null && line.trim != "EXIT") {
      val name = line.trim
      if (name == "LIST")
        out.println(SparkEntry.queries.keys.toSeq.sorted
          .map(q => "\"" + esc(q) + "\"").mkString("{\"queries\":[", ",", "]}"))
      else if (name.nonEmpty) SparkEntry.queries.get(name) match {
        case None =>
          out.println(s"""{"q":"${esc(name)}","err":"unknown query"}""")
        case Some(fn) =>
          val t0 = System.nanoTime()
          val res =
            try { fn(spark, sfDir).count()
              Right((System.nanoTime() - t0) / 1e9) }
            catch { case e: Throwable =>
              Left(Option(e.getMessage).getOrElse(e.getClass.getName))
            }
          // Same per-execution storage hygiene as Bench: leaked blocks
          // from one query must not tax the next (outside the timing).
          ToolSession.clearStorage(spark)
          res match {
            case Right(secs) =>
              out.println(f"""{"q":"${esc(name)}","secs":$secs%.4f}""")
            case Left(msg) =>
              out.println(s"""{"q":"${esc(name)}","err":"${esc(msg)}"}""")
          }
      }
      line = in.readLine()
    }
    spark.stop()
  }
}
