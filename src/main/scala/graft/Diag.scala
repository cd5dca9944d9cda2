package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/**
 * Optimization-round diagnostic harness (guide §1): per declared query,
 * wall time (min of SPARK_GRAFT_REPS, default 2), Spark job/stage/task
 * counts and total shuffle read/write bytes from a listener, plus
 * `.explain("formatted")` dumped to a file. Same session shape and timed
 * action as graft.Bench (count on the query frame, cache cleared between
 * measurements) so numbers are comparable with the bench board. Never
 * run by the driver; local tooling only.
 *
 * Usage: tools/run.sh graft.Diag <outDir> [suffix]
 *   SPARK_GRAFT_ONLY selects queries; suffix names the plan files
 *   (<outDir>/<query>_<suffix>.txt, default "before").
 */
object Diag {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "plans/r17"
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE for persisted subplans — see Bench.scala for the rationale
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
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shR = new AtomicLong; val shW = new AtomicLong
    val spillD = new AtomicLong
    // SPARK_GRAFT_JOBLOG=1: per-job wall times with call sites, for
    // attributing a multi-job query's cost to its driver round-trips
    // (which collect/persist/broadcast eats the time) — local tooling,
    // off by default, noisy on full sweeps.
    val jobLogEnv = sys.env.contains("SPARK_GRAFT_JOBLOG")
    val jobLog = new java.util.concurrent.atomic.AtomicBoolean(false)
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobLog.get) jobStart.put(j.jobId, (System.nanoTime(),
          j.stageInfos.lastOption.map(_.name).getOrElse("?")))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        // remove unconditionally: a job ending after jobLog flips false
        // must still clear its entry, or the map grows across a sweep
        val started = Option(jobStart.remove(j.jobId))
        if (jobLog.get) started.foreach { case (t0, cs) =>
          println(f"    [job ${j.jobId}%3d] ${(System.nanoTime() - t0) / 1e9}%7.3f s  $cs")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spillD.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.selectedQueries
    // warm codegen/JIT on the tiny fixture, as Bench does
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    def clear(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    val rows = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      // plan dump (pre-execution; AQE initial plan)
      try {
        val pw = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
        try pw.println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        finally pw.close()
      } catch { case e: Throwable =>
        System.err.println(s"[diag] explain $name failed: ${e.getMessage}")
      }
      clear()
      var best = Double.MaxValue
      var (bj, bs, bt, br, bw, bsp) = (0, 0, 0, 0L, 0L, 0L)
      // "failed" when any rep threw: its time is still the min of reps,
      // but must not read as a fast success
      var status = "ok"
      for (rep <- 1 to reps) {
        jobs.set(0); stages.set(0); tasks.set(0)
        shR.set(0); shW.set(0); spillD.set(0)
        if (jobLogEnv) { println(s"  -- $name rep $rep"); jobLog.set(true) }
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch { case _: Throwable => status = "failed" }
        val dt = (System.nanoTime() - t0) / 1e9
        jobLog.set(false)
        clear()
        // listener events are async; give the bus a moment on first use
        Thread.sleep(30)
        if (dt < best) {
          best = dt
          bj = jobs.get; bs = stages.get; bt = tasks.get
          br = shR.get; bw = shW.get; bsp = spillD.get
        }
      }
      val line = f"$name%-28s ${best}%8.3f s  jobs=$bj%-3d stages=$bs%-3d " +
        f"tasks=$bt%-5d shufR=${br / 1024}%8d KiB shufW=${bw / 1024}%8d KiB " +
        f"spill=${bsp / 1024}%d KiB  $status"
      println(line)
      (name, best, bj, bs, bt, br, bw, status)
    }
    val total = rows.map(_._2).sum
    println(f"TOTAL ${total}%.3f s over ${rows.size} queries")
    // machine-readable summary for diffing
    val pw = new java.io.PrintWriter(s"$outDir/diag_$suffix.tsv")
    try {
      pw.println("query\tsec\tjobs\tstages\ttasks\tshuf_read\tshuf_write\tstatus")
      rows.foreach { case (n, t, j, s, k, r, w, st) =>
        pw.println(f"$n\t$t%.3f\t$j\t$s\t$k\t$r\t$w\t$st")
      }
    } finally pw.close()
    spark.stop()
  }
}
