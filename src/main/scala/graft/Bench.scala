package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): run every gate query at
  * SPARK_GRAFT_SF_DIR and report per-query seconds.
  *
  * Reporting channel (hardened in round 4 — BENCH_r01..r03 all captured as
  * `parsed: null` because the old single giant JSON line was truncated by
  * the driver's byte-limited output capture):
  *   1. a SHORT summary line `{"metric":"total",...}` (no per-query map,
  *      ~200 bytes) is printed on both sides of the legacy full-map line —
  *      and it is the very LAST line, so a tail-limited capture window
  *      always ends with one complete parseable copy;
  *   2. each query prints its own one-line `{"bench_query":...}` record as
  *      it finishes (streamed, so a mid-run kill still leaves data);
  *   3. the full machine-readable result (totals + per-query map + canary
  *      series) is written to BENCH_LOCAL.json (override via
  *      SPARK_GRAFT_BENCH_OUT) and committed per round as BENCH_LOCAL_r{N}.
  *
  * Host-degradation canary: q_s3_scan_projection (a trivial 2-column scan
  * whose cost cannot legitimately change) is re-timed every ~20 queries.
  * `host_degraded` is set when EITHER (a) any sample drifts >3× from the
  * run's own baseline, or (b) the baseline itself exceeds an absolute
  * floor (0.35 s — clean windows on this container measure 0.12–0.19 s;
  * the round-6 driver window started ALREADY degraded at 0.46 s, so a
  * purely relative test reported drift ≈ 1 while every query ran ~3.5×
  * slow). A contended window (the r03 artifact showed 20–66× spikes on
  * physically-cheap queries; a quiet-host rerun of the same binary did
  * all 103 in 37.7 s) must be distinguishable from a plan regression
  * inside the artifact itself.
  *
  * Runs on [[Session]], the config every graft main ships (AQE on,
  * shuffle partitions = cores, UTC). A throwaway action first absorbs
  * session/codegen warm-up so query 1 isn't billed JVM startup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // the f-interpolator is locale-sensitive (String.format): a de_DE/fr_FR
    // host would print decimal COMMAS and corrupt every JSON line this main
    // exists to keep parseable — pin the whole process to ROOT
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val spark = Session()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM/codegen warm-up

    // (seconds, succeeded): a failing query must surface as FAILED, never
    // as a suspiciously fast time — a conf experiment that broke every
    // query once benched as a 60× "speed-up" before this flag existed.
    // The noop sink executes every output column, as perfbench's sink
    // does: a `count()` lets Catalyst prune the columns nothing reads, and
    // at sf0.1 it ranked q_x_asof_join ahead of q_x_asof_native when the
    // full output ranks them the other way round.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
      } catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }

    val canaryName = "q_s3_scan_projection"
    val canaryFn = SparkEntry.queries(canaryName)
    timeOnce(canaryFn) // absorb the canary's own first-run planning cost
    val canaryBase = math.max(Seq(timeOnce(canaryFn)._1, timeOnce(canaryFn)._1).min, 0.01)
    val canarySamples = scala.collection.mutable.ArrayBuffer[(Int, Double)]((0, canaryBase))

    // Best-of-2: the second run reuses compiled codegen + OS page cache, so
    // it measures the plan, not JIT/janino/GC noise. Variance guard: when
    // the two runs disagree by >3× (a transient GC/IO stall hit one of
    // them — observed in driver environments), a third run breaks the tie
    // so one stall can't publish as the query's cost.
    // Dev filter for warm in-session A/B timing of a few queries
    // (comma-separated names); the official artifact always runs unfiltered.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val selected =
      if (only.isEmpty) SparkEntry.allQueries
      else SparkEntry.allQueries.filter(q => only(q.name))
    val results = selected.zipWithIndex.map { case (q, i) =>
      def run(): (Double, Boolean) = timeOnce(q.fn)
      val times = Seq(run(), run())
      val all = if (times.map(_._1).max > 3 * times.map(_._1).min &&
        times.map(_._1).max > 0.5) times :+ run() else times
      // Drop the Q.cached fixtures this gate persisted, so every gate
      // starts from the same cache state: its first run builds the
      // fixtures it reads. Session-catalog tables, on-disk indexes, and
      // analyzed-plan caches are untouched.
      spark.catalog.clearCache()
      val ok = all.forall(_._2)
      // A failed query publishes -1, not its (meaningless) elapsed time.
      val sec = if (ok) all.map(_._1).min else -1.0
      println(f"""{"bench_query":"${q.name}","sec":$sec%.4f,"ok":$ok}""")
      if ((i + 1) % 20 == 0) {
        // Off the timing path: clearCache() above reclaims persist()ed
        // frames but NOT localCheckpoint blocks — those free only when the
        // ContextCleaner sees the RDD object collected on the driver, and
        // its own periodic GC runs every 30 min. Hundreds of dead
        // checkpoint RDDs from the graph/dedup/ER loops would otherwise
        // make late-query timings a function of driver heap. (A
        // periodicGC.interval=1min instead landed full GCs mid-query.)
        System.gc()
        canarySamples += ((i + 1, timeOnce(canaryFn)._1))
      }
      q.name -> sec
    }
    canarySamples += ((results.size, timeOnce(canaryFn)._1))

    val maxDrift = canarySamples.map(_._2).max / canaryBase
    // see the canary doc above: relative drift alone misses a window that
    // STARTS degraded, the absolute floor alone misses mid-run contention
    val hostDegraded = maxDrift > 3.0 || canaryBase > 0.35
    // Acceptance band (SCALE.md "bench window acceptance"): the r11 32-core
    // window published at drift 1.69 with host_degraded=false and its
    // headline number was uninterpretable — the 5× degradation flag is for
    // broken hosts, the band below is for COMPARABILITY. Round-over-round
    // conclusions should only be drawn from `clean` windows; an `elevated`
    // or `contaminated` artifact is publishable but must be annotated and
    // re-run before it anchors a comparison.
    val driftBand =
      if (hostDegraded) "degraded"
      else if (maxDrift > 1.5) "contaminated"
      else if (maxDrift > 1.2) "elevated"
      else "clean"
    if (driftBand != "clean")
      System.err.println(s"[bench] WARNING: canary drift band '$driftBand' " +
        f"(max drift $maxDrift%.2fx, base $canaryBase%.3fs) — do not use this " +
        "window for round-over-round comparison; re-run on a quiet host")
    val failed = results.count(_._2 < 0)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // A leftover SPARK_GRAFT_BENCH_ONLY must never let a partial run pass
    // for an official artifact: stamp the filter into every emitted line.
    val filtered =
      if (only.isEmpty) ""
      else s""""filtered":true,"filter":[${only.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}],"""
    val summary =
      f"""{$filtered"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","n_queries":${results.size},""" +
      f""""n_failed":$failed,"host_degraded":$hostDegraded,"canary_base_sec":$canaryBase%.4f,""" +
      f""""canary_max_drift":$maxDrift%.2f,"drift_band":"$driftBand","detail":"$outPath"}"""

    val qs = results.map { case (k, v) => f""""$k":$v%.4f""" }.mkString("{", ",", "}")
    val canaries = canarySamples.map { case (i, s) => f"""[$i,$s%.4f]""" }.mkString("[", ",", "]")
    val full = s"""{"summary":$summary,"queries":$qs,"canary_samples":$canaries}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // Summary first AND last (around the full map) so any single contiguous
    // capture window — head-limited or tail-limited — holds a complete copy.
    println(summary)
    println(s"""{$filtered"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    println(summary)
    spark.stop()
  }
}
