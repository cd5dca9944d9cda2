package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Ann, ConfigIO, Curate, Engine, Planner, Prepare, Tables}
import org.apache.spark.sql.SparkSession

/**
 * Closed-loop, single-client benchmark over the user-facing entry points.
 * One JVM, one warmed `local[4]` session, one workload per process:
 *
 *   batch  rounds of apply op (apply + validateApply), curate op and
 *          prepare op, each followed by a dry-run op
 *   ann    rounds of Ann.build, small searches, one batch search,
 *          Ann.append, small searches
 *
 * Every op checks its output against `expected.json`; the result (one
 * JSON object) goes to `--result`. See the package README for the metric
 * definitions.
 */
object Main {
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, ann: String, work: String,
      config: String, expected: String, result: String)

  def parse(a: Array[String]): Args = {
    def opt(n: String): Option[String] = {
      val i = a.indexOf(s"--$n")
      if (i >= 0 && i + 1 < a.length) Some(a(i + 1)) else None
    }
    def req(n: String) = opt(n).getOrElse(sys.error(s"--$n is required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("data"), req("ann"), req("work"),
      req("config"), req("expected"), req("result"))
  }

  /** The session confs of graft.Bench, at the benchmark's fixed width. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Spark block storage (memory + disk) of every cached RDD, in MiB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  def clearStorage(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  // ------------------------------------------------------------ expected

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def readJson(path: String): Map[String, Any] =
    mapper.readValue(new File(path), classOf[java.util.Map[String, Any]])
      .asScala.toMap

  def obj(m: Map[String, Any], k: String): Map[String, Any] =
    m(k).asInstanceOf[java.util.Map[String, Any]].asScala.toMap

  def num(m: Map[String, Any], k: String): Double =
    m(k).asInstanceOf[Number].doubleValue

  def longs(m: Map[String, Any]): Map[String, Long] =
    m.map { case (k, v) => k -> v.asInstanceOf[Number].longValue }

  // ------------------------------------------------------------ workloads

  /** The end-to-end latency slots every workload fills, in the order
    * the report prints them; [[Workload.roles]] maps each to an op kind. */
  val Slots: Seq[String] = Seq("query_s", "bulk_s", "train_s", "ingest_s")

  /** Untimed rounds before the first timed one. Whole rounds, so the
    * warm-up runs every op kind and plan shape a timed round runs. One
    * only: op times still fall over later rounds (see the README). */
  val WarmupRounds = 1

  /** A workload: rounds of ops, each op run through `rec.op`. */
  trait Workload {
    def round(rec: Recorder): Unit
    /** Slot name -> op kind. */
    def roles: Map[String, String]
    /** Extra (name, JSON value) pairs for the result. */
    def report: Seq[(String, String)] = Nil
  }

  /** The batch CLIs in one loop: anonymize apply with validation, curate
    * with its writes and prepare, each followed by an anonymize dry run
    * (three dry-run samples a round). */
  final class Batch(spark: SparkSession, a: Args, exp: Map[String, Any],
      tr: Trace) extends Workload {
    private val want = longs(obj(exp, "dryrun"))
    private var n = 0
    val roles: Map[String, String] = Map("query_s" -> "dryrun",
      "bulk_s" -> "apply", "train_s" -> "prepare", "ingest_s" -> "curate")

    def round(rec: Recorder): Unit = {
      n += 1
      apply(rec); dryRun(rec)
      curate(rec); dryRun(rec)
      prepare(rec); dryRun(rec)
    }

    private def plan(mode: Planner.Mode) = tr.span("Planner.buildPlan") {
      val config = ConfigIO.readConfig(a.config)
      val errs = Planner.preflight(config, mode)
      if (errs.nonEmpty) sys.error(errs.mkString("; "))
      Planner.buildPlan(config, "2026-01-01T00:00:00Z")
    }

    private def catalog() = tr.span("Tables.catalogFromDir")(
      Tables.catalogFromDir(spark, a.data))

    /** The `--dryrun` body. */
    private def dryRun(rec: Recorder): Unit =
      rec.op("dryrun") {
        val cat = catalog()
        val p = plan(Planner.DryRun)
        tr.span("Engine.dryRun")(Engine.dryRun(p, cat))
      } { counts =>
        Check.equal("dry-run counts", counts, want)
        Check.equal("dry-run total", Engine.totalRows(counts),
          num(exp, "dryrun_total").toLong)
      }

    /** The `--apply --validate` body, into a fresh directory. */
    private def apply(rec: Recorder): Unit = {
      val out = s"${a.work}/anonymized-$n"
      rec.op("apply") {
        val cat = catalog()
        val p = plan(Planner.Apply)
        val counts = tr.span("Engine.apply")(Engine.apply(p, cat, out))
        val digests = tr.span("Engine.validateApply")(
          Engine.validateApply(p, cat, out))
        (counts, digests)
      } { case (counts, digests) =>
        deleteRecursively(new File(out))
        Check.equal("apply counts", counts, want)
        Check.equal("validated tables", digests.size,
          counts.count(_._2 > 0))
      }
    }

    /** The curate `--run` body: Curate.run plus the train/val writes. */
    private def curate(rec: Recorder): Unit = {
      val out = s"${a.work}/curated-$n"
      rec.op("curate") {
        val r = tr.span("Curate.run") {
          val docs = Tables.load(spark, a.data, "documents")
          Curate.run(docs, Curate.DefaultConfig)
        }
        tr.span("Curate.write") {
          r.train.write.mode("overwrite").parquet(s"$out/train")
          r.`val`.write.mode("overwrite").parquet(s"$out/val")
        }
        r.funnel
      } { f =>
        Check(new File(s"$out/train/_SUCCESS").isFile &&
          new File(s"$out/val/_SUCCESS").isFile, "train/val not written")
        deleteRecursively(new File(out))
        Check.equal("curate funnel", f.toMap,
          longs(obj(exp, "curate_funnel")))
      }
    }

    /** `Prepare.run` with the CLI defaults. */
    private def prepare(rec: Recorder): Unit = {
      val out = s"${a.work}/prepared-$n"
      new File(out).mkdirs()
      rec.op("prepare") {
        tr.span("Prepare.run")(Prepare.run(spark, a.data, out))
      } { r =>
        deleteRecursively(new File(out))
        Check.equal("prepare report", Map[String, Long](
          "nDocs" -> r.nDocs, "nGated" -> r.nGated, "nPacked" -> r.nPacked,
          "nOversize" -> r.nOversize, "nSequences" -> r.nSequences,
          "totalPadding" -> r.totalPadding,
          "nFallbackWords" -> r.nFallbackWords, "nWords" -> r.nWords),
          longs(obj(exp, "prepare")))
      }
    }
  }

  /** Small requests before and after the appends, per round. */
  val SmallPerPhase = 2
  /** Batch searches per round: a single one is too short a sample. */
  val BatchSearches = 3
  /** Query vectors per small request. */
  val BatchQueries = 8
  val TopK = 10
  val NProbe = 4

  /** Per round: Ann.build into a fresh directory, small searches, batch
    * searches with every corpus vector as a query, Ann.append of each
    * delta file in turn, the probe search, more small searches. */
  final class AnnWl(spark: SparkSession, a: Args,
      exp: Map[String, Any], tr: Trace) extends Workload {
    private val corpusPath = s"${a.data}/embeddings.parquet"
    private val batches = new File(a.ann).listFiles().map(_.getName)
      .filter(_.matches("q\\d+\\.parquet")).sorted
      .map(f => s"${a.ann}/$f").toSeq
    private val deltas = new File(a.ann).listFiles().map(_.getName)
      .filter(_.matches("d\\d+\\.parquet")).sorted
      .map(f => s"${a.ann}/$f").toSeq
    private val probePath = s"${a.ann}/delta_probe.parquet"
    // the generator's row counts, so set-up runs no Spark job of its own
    private val sizes = Files.readAllLines(Paths.get(s"${a.ann}/sizes.csv"))
      .asScala.map(_.split(',')).map(r => r(0) -> r(1).toLong).toMap
    private val nCorpus = sizes("corpus_rows")
    private val maxId = sizes("corpus_max_id")
    // the generator's exact top-k (the Similarity.exactTopK ranking)
    private val truth = Files.readAllLines(Paths.get(s"${a.ann}/truth.csv"))
      .asScala.map(_.split(',')).groupBy(_(0)).map { case (phase, rs) =>
        phase -> rs.groupBy(_(1).toLong).map { case (q, qs) =>
          q -> qs.map(_(2).toLong).toSet }
      }
    private val floor = num(exp, "recall_floor")
    private val recalls = mutable.ArrayBuffer.empty[Double]
    private var n = 0
    private var next = 0
    val roles: Map[String, String] = Map("query_s" -> "search",
      "bulk_s" -> "search_batch", "train_s" -> "build",
      "ingest_s" -> "append")

    /** Recall@k of every small search, warm-up included. */
    override def report: Seq[(String, String)] = Seq(
      "recall_min" -> Json.num(if (recalls.isEmpty) Double.NaN
        else recalls.min),
      "recall_median" -> Json.num(if (recalls.isEmpty) Double.NaN
        else Stats.median(recalls.toSeq)))

    private def search(rec: Recorder, idx: String, path: String,
        want: Map[Long, Set[Long]], probe: Boolean): Unit =
      rec.op("search") {
        tr.span("Ann.search.small")(Ann.search(spark, idx, path, None,
          TopK, NProbe, "vec_id", "embedding").select("q_id", "vec_id")
          .collect())
      } { rows =>
        val got = rows.groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        Check.equal("small-search queries", got.size, BatchQueries)
        Check.equal("small-search rows", rows.length, BatchQueries * TopK)
        if (probe) {
          // every probe query is an appended vector of a cluster the
          // corpus does not have, so each must reach appended ids
          val missed = got.count { case (_, ids) => !ids.exists(_ > maxId) }
          Check(missed == 0,
            s"$missed of ${got.size} probe queries reached no appended id")
        } else {
          val hits = got.map { case (q, ids) =>
            (ids intersect want(q)).size }.sum
          val recall = hits.toDouble / (got.size * TopK)
          recalls += recall
          Check(recall >= floor,
            f"recall@$TopK $recall%.3f below the floor $floor")
        }
      }

    private def smallSearches(rec: Recorder, idx: String,
        want: Map[Long, Set[Long]], count: Int): Unit =
      (1 to count).foreach { _ =>
        val b = batches(next % batches.size)
        next += 1
        search(rec, idx, b, want, probe = false)
      }

    def round(rec: Recorder): Unit = {
      n += 1
      val idx = s"${a.work}/index-$n"
      val built = rec.op("build") {
        tr.span("Ann.build")(Ann.build(spark, corpusPath, idx, k = 16,
          iters = 4, m = 4, codes = 8, dim = 64, idCol = "vec_id",
          vecCol = "embedding", trained = true))
      } { got => Check.equal("built vectors", got, nCorpus) }
      if (built) {
        smallSearches(rec, idx, truth("before"), SmallPerPhase)
        (1 to BatchSearches).foreach { _ =>
          rec.op("search_batch") {
            tr.span("Ann.search.batch")(Ann.search(spark, idx, corpusPath,
              None, TopK, NProbe, "vec_id", "embedding")
              .select("q_id", "vec_id").collect())
          } { rows =>
            Check.equal("batch-search rows", rows.length.toLong,
              nCorpus * TopK)
          }
        }
        val appended = deltas.forall { d =>
          rec.op("append") {
            tr.span("Ann.append")(Ann.append(spark, idx, d, "embedding"))
          } { got => Check.equal("appended vectors", got,
            sizes(new File(d).getName)) }
        }
        if (appended) {
          search(rec, idx, probePath, Map.empty, probe = true)
          smallSearches(rec, idx, truth("after"), SmallPerPhase - 1)
        }
      }
      deleteRecursively(new File(idx))
    }
  }

  // ------------------------------------------------------------ report

  val Spans: Seq[String] = Seq("Tables.catalogFromDir", "Planner.buildPlan",
    "Engine.dryRun", "Engine.apply", "Engine.validateApply", "Curate.run",
    "Curate.write", "Prepare.run", "Ann.build", "Ann.search.small",
    "Ann.search.batch", "Ann.append")

  /** The published per-layer metric names: every counter of every span,
    * except that Planner.buildPlan (driver-only) records `s` alone. */
  val LayerMetrics: Seq[String] = Spans.flatMap { s =>
    if (s == "Planner.buildPlan") Seq(s"$s.s")
    else Counters.names.map(c => s"$s.$c")
  }

  /** Per-call medians of every counter of `spans`. */
  def layerValues(tr: Trace, spans: Seq[Span]): Map[String, Double] =
    spans.groupBy(_.name).flatMap { case (name, ss) =>
      val cs = ss.map(tr.inclusive)
      Counters.names.zipWithIndex.map { case (c, i) =>
        s"$name.$c" -> Stats.median(cs.map(_.toSeq(i)._2))
      }
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    new File(a.work).mkdirs()
    val exp = readJson(a.expected)
    val spark = session(a.work)
    try run(spark, a, exp, jvmStart) finally spark.stop()
  }

  def run(spark: SparkSession, a: Args, exp: Map[String, Any],
      jvmStart: Long): Unit = {
    val tr = new Trace(if (a.trace) Some(spark.sparkContext) else None)
    if (a.trace) tr.attach(spark)
    var peakStorage = 0.0
    val rec = new Recorder(tr, () => {
      peakStorage = math.max(peakStorage, storageMb(spark))
      clearStorage(spark)
    })
    // set-up breakdown for the JVM log
    def phase[A](name: String)(body: => A): A = {
      val t = System.nanoTime()
      val r = body
      System.err.println(
        f"[perfbench] $name%-16s ${(System.nanoTime() - t) / 1e9}%.3f s")
      r
    }
    System.err.println(f"[perfbench] JVM to session   " +
      f"${(System.currentTimeMillis() - jvmStart) / 1e3}%.3f s")
    val wl: Workload = phase("inputs")(a.workload match {
      case "batch" => new Batch(spark, a, exp, tr)
      case "ann" => new AnnWl(spark, a, exp, tr)
      case w => sys.error(s"unknown workload: $w")
    })
    phase("warm-up")((1 to WarmupRounds).foreach(_ => wl.round(rec)))
    peakStorage = 0.0
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val firstSpan = tr.spans.size
    rec.measuring = true
    val rounds = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    var nRounds = 0
    while (nRounds == 0 || System.nanoTime() < deadline) {
      nRounds += 1
      val failedBefore = rec.failures.size
      val r0 = System.nanoTime()
      wl.round(rec)
      if (rec.failures.size == failedBefore)
        rounds += (System.nanoTime() - r0) / 1e9
    }
    val measured = tr.spans.drop(firstSpan)
    val lat = rec.samples.map { case (k, v) => k -> v.toSeq }.toMap
    def med(k: String) = lat.get(k).filter(_.nonEmpty).map(Stats.median)
    val e2e = Seq(
      "setup_s" -> Some(setupS),
      "round_s" -> Some(rounds.toSeq).filter(_.nonEmpty).map(Stats.median)) ++
      Slots.map(k => k -> med(wl.roles(k)))
    val layers = layerValues(tr, measured)
    val layerOut = LayerMetrics.map(m => m -> layers.getOrElse(m, 0.0))
    val table = layerTable(tr, measured)
    val res = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> Json.str(a.seed.toString),
      "trace" -> a.trace.toString,
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failures.size.toString,
      "failures" -> Json.arr(rec.failures.toSeq.map(f =>
        Json.obj(Seq("op" -> Json.str(f.op), "error" -> Json.str(f.error))))),
      "e2e" -> Json.obj(e2e.collect { case (k, Some(v)) => k -> Json.num(v) }),
      "ops" -> Json.obj(lat.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.obj(Seq("n" -> v.size.toString,
          "median_s" -> Json.num(Stats.median(v)),
          "samples_s" -> Json.arr(v.map(Json.num)))) }),
      "storage_mb" -> Json.num(peakStorage),
      "rounds" -> nRounds.toString,
      "layers" -> (if (a.trace) Json.obj(layerOut.map { case (k, v) =>
        k -> Json.num(v) }) else "null"),
      "layer_table" -> (if (a.trace) Json.arr(table) else "null"))
      ++ wl.report)
    Files.writeString(Paths.get(a.result), res)
    if (a.trace) {
      val sb = new StringBuilder
      tr.spans.foreach { s =>
        sb ++= Json.obj(Seq("id" -> s.id.toString,
          "name" -> Json.str(s.name),
          "parent" -> s.parent.map(_.id.toString).getOrElse("null"),
          "op" -> s.opId.toString,
          "start_s" -> Json.num((s.startNs - tr.spans.head.startNs) / 1e9),
          "end_s" -> Json.num((s.endNs - tr.spans.head.startNs) / 1e9),
          "measured" -> (s.id >= firstSpan).toString))
        sb += '\n'
      }
      Files.writeString(Paths.get(a.result + ".spans.jsonl"), sb.toString)
    }
  }

  /** One row per span name: calls, per-call medians of s / self time /
    * driver_s, utilization and the driver- or task-bound class. */
  def layerTable(tr: Trace, spans: Seq[Span]): Seq[String] =
    spans.groupBy(_.name).toSeq.sortBy(_._2.head.id).map { case (name, ss) =>
      val cs = ss.map(tr.inclusive)
      val s = Stats.median(cs.map(_.s))
      val self = Stats.median(ss.map(tr.selfSeconds))
      val drv = Stats.median(cs.map(_.driverS))
      val run = Stats.median(cs.map(_.taskRunS))
      val util = if (s > 0) run / (s * Cores) else 0.0
      Json.obj(Seq("span" -> Json.str(name), "calls" -> ss.size.toString,
        "s" -> Json.num(s), "self_s" -> Json.num(self),
        "driver_s" -> Json.num(drv), "util" -> Json.num(util),
        "jobs" -> Json.num(Stats.median(cs.map(_.jobs))),
        "class" -> Json.str(if (drv >= s / 2) "driver-bound"
          else "task-bound")))
    }
}

/** Minimal JSON rendering; values are pre-rendered strings. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
