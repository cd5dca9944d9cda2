package perfbench

/**
 * The benchmark's own tests, as a plain main (no test framework on the
 * benchmark's classpath):  python3 perfbench/run.py --self-test
 * Exits non-zero when any case fails.
 */
object SelfTest {
  private var failed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failed += 1
        println(s"FAIL $name: $e")
    }

  private def expect(ok: Boolean, what: => String): Unit =
    if (!ok) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    test("span self time is duration minus direct children") {
      val tr = new Trace(None)
      tr.span("root") {
        Thread.sleep(30)
        tr.span("a")(Thread.sleep(20))
        tr.span("b")(tr.span("b.inner")(Thread.sleep(10)))
      }
      val byName = tr.spans.map(s => s.name -> s).toMap
      val (root, a, b) = (byName("root"), byName("a"), byName("b"))
      val self = tr.selfSeconds(root)
      expect(math.abs(self - (root.seconds - a.seconds - b.seconds)) < 1e-12,
        s"self $self")
      expect(self >= 0.029 && self < root.seconds, s"root self $self")
      expect(tr.selfSeconds(b) < b.seconds - 0.009, "b's child not removed")
      expect(byName("b.inner").parent.contains(b), "nesting")
      expect(tr.spans.map(_.opId).distinct == Seq(1), "one op")
    }

    test("job-interval union clips and merges overlaps") {
      expect(Trace.unionMs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100)
        == 30, "merge")
      expect(Trace.unionMs(Seq((0L, 10L), (50L, 200L)), 5, 100) == 55,
        "clip")
      expect(Trace.unionMs(Nil, 0, 10) == 0, "empty")
    }

    test("median of an even count is the mean of the middle two") {
      expect(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median")
      expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "odd count")
    }

    test("failed and throwing ops count in failed_frac, not in latency") {
      val rec = new Recorder(new Trace(None))
      rec.op("warm")(1)(_ => ())
      rec.measuring = true
      rec.op("good")(1)(v => Check.equal("v", v, 1))
      rec.op("wrong")(2)(v => Check.equal("v", v, 1))
      rec.op("throws")(sys.error("boom"): Int)(_ => ())
      expect(rec.attempted == 3, s"attempted ${rec.attempted}")
      expect(rec.failures.map(_.op) == Seq("wrong#3", "throws#4"),
        s"${rec.failures}")
      expect(math.abs(rec.failedFrac - 2.0 / 3) < 1e-12, "failed_frac")
      expect(rec.samples.keySet == Set("good"), s"${rec.samples.keySet}")
    }

    val work = args.headOption.getOrElse("selftest")
    val spark = Main.session(work)
    try test("listener attributes one count() to its span as one job") {
      val tr = new Trace(Some(spark.sparkContext))
      tr.attach(spark)
      val rdd = spark.sparkContext.parallelize(1 to 1000, 4)
      rdd.count()
      tr.span("op") {
        tr.span("count")(rdd.count())
        tr.span("query")(spark.range(1000).selectExpr("id * 2").collect())
      }
      rdd.count()
      val c = tr.spans.map(s => s.name -> tr.inclusive(s)).toMap
      expect(c("count").jobs == 1, s"jobs ${c("count").jobs}")
      expect(c("count").tasks == 4, s"tasks ${c("count").tasks}")
      expect(c("count").catalystS == 0, "an RDD job has no Catalyst phases")
      expect(c("query").catalystS > 0, "no Catalyst phases seen")
      expect(c("op").jobs == c("count").jobs + c("query").jobs,
        s"inclusive jobs ${c("op").jobs}")
      expect(c("count").driverS <= c("count").s, "driver_s > s")
    } finally spark.stop()

    println(if (failed == 0) "all self-tests passed"
      else s"$failed self-test(s) failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
