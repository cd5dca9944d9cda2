package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE inside persisted subplans (off by default): without it every
      // persist() materializes its exchanges at the raw shuffle.partitions
      // width — the iterative operators (closures, CC, trainers) cache per
      // round and were paying hundreds of near-empty tasks per query
      // (q_tree_rollup: 2825 tasks at sf0.1). Scale-independent: this only
      // lets AQE size cached-plan shuffles like it already sizes uncached
      // ones.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Janino class cache (STATIC conf, default 100 entries): a session
      // running hundreds of distinct query plans generates thousands of
      // codegen fragments, so a 100-entry LRU recompiles nearly every
      // fragment on every reuse (janino ~10-50 ms per fragment, pure
      // driver time). 4096 keeps a full board's fragments resident;
      // scale-independent (driver-side JVM cache, bounded by entry count).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/parquet-reader paths once so the first measured
    // query doesn't absorb ~4s of one-time startup cost. Best-effort: a
    // broken sf dir should still fall through to the per-query try/catch.
    try Tables.readParquet(spark, s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    catch { case _: Throwable => () }
    // Then compile every query's plan shapes once against the smallest
    // fixture (janino codegen + JIT, driver-side planning): measured runs
    // then reflect steady-state data throughput, not one-time compilation.
    // Skipped when the tiny fixture is absent or SPARK_GRAFT_NOWARM is set.
    // Min-of-2 by default: single-shot timings on a shared host swing 2-4x
    // on unlucky queries (observed: a 0.6s scan-only query reading 4.0s in
    // one run). The cache is cleared BETWEEN reps, so every rep does the
    // full cold-cache work — the min removes host noise, not computation.
    // SPARK_GRAFT_REPS overrides.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val selected = SparkEntry.selectedQueries
    val warmDir = "/root/testdata/sf0.001"
    def canon(p: String) = try new java.io.File(p).getCanonicalPath
      catch { case _: Throwable => p }
    if (!sys.env.contains("SPARK_GRAFT_NOWARM") &&
        new java.io.File(warmDir).isDirectory && canon(warmDir) != canon(sfDir)) {
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // Reps are INTERLEAVED, not consecutive: sweep every query once, then
    // repeat the whole sweep, and take the per-query min ACROSS sweeps. A
    // sustained host-contention window (minutes long) then lands on one
    // sweep's worth of *different* queries instead of inflating both reps
    // of the same block of queries — contention decorrelates from query
    // identity. (Consecutive min-of-2 only defends against point spikes.)
    val names = selected.keys.toSeq
    val best = scala.collection.mutable.Map.empty[String, Double]
    // queries that threw in any sweep: still timed (the min is unchanged),
    // but listed by name in both result lines so a fast failure cannot
    // pass as a fast query
    val failed = scala.collection.mutable.SortedSet.empty[String]
    // Per-sweep wall-clock stamps: when a round's numbers drift uniformly,
    // these let the reader attribute it to a host-contention window (one
    // slow sweep, one normal) instead of re-litigating per-query deltas.
    def stamp(tag: String): Unit = println(
      s"""{"metric":"sweep","event":"$tag","epoch_ms":${System.currentTimeMillis()}}""")
    for (rep <- 1 to reps) {
      stamp(s"start_$rep")
      for (name <- names) {
        val fn = selected(name)
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => failed += name }
        val dt = (System.nanoTime() - t0) / 1e9
        // Cleared after EVERY measurement, for two reasons: a later sweep
        // must not reuse an earlier sweep's persisted blocks (min-of-reps
        // would then measure warm-cache work, overstating throughput), and
        // persist-heavy queries must not evict a neighbor's blocks under
        // storage pressure mid-measurement. The RDD sweep additionally
        // frees localCheckpoint blocks (invisible to the cacheManager) so
        // iterative queries don't accumulate |V|-row block sets per sweep.
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        best(name) = best.get(name).fold(dt)(math.min(_, dt))
      }
      stamp(s"end_$rep")
    }
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = names.map(k => s"\"" + k + "\":" + fmt(best(k))).mkString("{", ",", "}")
    val total = if (best.nonEmpty) best.values.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    // Full per-query detail: one line on stdout AND a file, for humans and
    // local tooling.
    println(full)
    // Anchored via env when running from outside the repo (the java-direct
    // workflow); a failed write is reported, never silently swallowed —
    // stale numbers in an old file must not pass as current.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val out = new java.io.File(outPath).getAbsoluteFile
      out.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(out); try w.println(full) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    // The harness captures a bounded log TAIL; the ~2.5KB per-query line can
    // get its head (including "value":) truncated away. So the LAST line
    // before exit is a short summary-only JSON that always fits: this is the
    // line the driver's parse must find — and it carries the slowest-20
    // queries inline, so regressions in the truncated half of the full
    // per-query map stay visible from the artifact alone.
    val slowest = best.toSeq.sortBy { case (k, v) => (-v, k) }.take(20)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${best.size},"slowest":$slowest,"failed":$failedJson,"sf":"$sfDir"}""")
  }
}
