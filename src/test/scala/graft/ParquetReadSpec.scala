package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.readParquet`: the schema Spark's inference job would find,
  * read from one footer on the driver without a job. */
class ParquetReadSpec extends SparkSpec {

  private val fixtures = "/root/testdata/sf0.001"

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_pq_$tag").toString

  private def sameAsSpark(path: String): DataFrame = {
    val fast = Tables.readParquet(spark, path)
    assert(fast.schema == spark.read.parquet(path).schema, path)
    fast
  }

  /** Jobs started while `body` runs (listener bus drained both sides). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.GraftListenerBridge.waitForListeners(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.GraftListenerBridge.waitForListeners(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("every fixture table: the schema equals spark.read.parquet's " +
      "under nanosAsLong, and the rows are the same") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach { n =>
      val p = s"$fixtures/$n.parquet"
      val fast = sameAsSpark(p)
      assert(fast.count() == spark.read.parquet(p).count(), n)
    }
    val ev = s"$fixtures/events.parquet"
    assert(Tables.readParquet(spark, ev).exceptAll(spark.read.parquet(ev))
      .isEmpty)
  }

  test("a Spark-written directory of several part files with a " +
      "non-nullable column reads with Spark's schema") {
    val dir = tmp("parts")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("v", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    val rows = (0 until 40).map(i => Row(i.toLong,
      if (i % 3 == 0) null else s"r$i", Seq(i.toDouble, -i.toDouble)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(3).write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts == 3)
    val fast = sameAsSpark(dir)
    assert(fast.exceptAll(spark.read.parquet(dir)).isEmpty &&
      fast.count() == 40)
  }

  test("an Ann index's codes.parquet after Ann.append reads with " +
      "Spark's schema") {
    val idx = tmp("idx"); val a = tmp("a"); val b = tmp("b")
    val emb = spark.read.parquet(s"$fixtures/embeddings.parquet")
    emb.filter(col("vec_id") < 30).write.mode("overwrite").parquet(a)
    emb.filter(col("vec_id") >= 30 && col("vec_id") < 60)
      .write.mode("overwrite").parquet(b)
    Ann.build(spark, a, idx, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding")
    assert(Ann.append(spark, idx, b, "embedding") == 30)
    val fast = sameAsSpark(s"$idx/codes.parquet")
    assert(fast.select("vec_id").distinct().count() == 60)
  }

  test("a partitioned directory keeps Spark's partition discovery") {
    val dir = tmp("part")
    graft.sources.Sources.writePartitioned(
      spark.range(12).withColumn("shard", col("id") % 3), dir, Seq("shard"))
    assert(sameAsSpark(dir).columns.contains("shard"))
  }

  test("with schema merging on, part files of different columns merge as " +
      "Spark merges them") {
    val dir = tmp("merge")
    spark.range(3).write.mode("overwrite").parquet(dir)
    spark.range(3).withColumn("x", lit("a")).write.mode("append").parquet(dir)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(sameAsSpark(dir).columns.toSeq == Seq("id", "x"))
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("Tables.catalogFromDir starts no Spark job") {
    val (cat, jobs) = jobsDuring(Tables.catalogFromDir(spark, fixtures))
    assert(cat.keys.toSeq == Tables.names)
    assert(jobs == 0, s"$jobs jobs during the catalog listing")
    // the plain read runs its inference job (the cost removed above)
    assert(jobsDuring(spark.read.parquet(s"$fixtures/nation.parquet"))._2 > 0)
  }

  test("a missing path and an empty directory fail as spark.read.parquet " +
      "does") {
    val empty = tmp("empty")
    Seq(s"$empty/missing.parquet", empty).foreach { p =>
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Tables.readParquet(spark, p))
      assert(got.getClass == want.getClass, p)
      assert(got.getMessage == want.getMessage, p)
    }
  }
}
