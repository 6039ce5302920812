package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The per-session schema cache behind `Tables.load` / `Tables.validate`:
  * a warm read launches no Spark job and yields exactly the schema
  * inference would, while a rewritten table or a changed parquet-reader
  * conf is re-inferred on its next read. */
class TablesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Runs `body` and counts the Spark jobs it launched on this thread
    * (tagged by a fresh job group, so other threads' jobs don't count). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "TablesSpec")
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def withTempDir(body: String => Unit): Unit = {
    val d = Files.createTempDirectory("graft_tables_spec")
    try body(d.toString)
    finally Files.walk(d).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach((p: Path) => Files.delete(p))
  }

  test("a repeated load launches no Spark job and keeps the inferred schema") {
    val path = s"$sf0001/orders.parquet"
    // the counter sees inference's job, so the zero below is not vacuous
    assert(jobsDuring(spark.read.parquet(path))._2 >= 1)
    Tables.load(spark, sf0001, "orders")
    val (orders, jobs) = jobsDuring(Tables.load(spark, sf0001, "orders"))
    assert(jobs == 0, s"warm load launched $jobs job(s)")
    assert(orders.schema == spark.read.parquet(path).schema)
    assert(orders.count() == spark.read.parquet(path).count())
    // the events loader normalizes ts on top of the same cached scan
    Tables.load(spark, sf0001, "events")
    val (events, eventJobs) = jobsDuring(Tables.load(spark, sf0001, "events"))
    assert(eventJobs == 0, s"warm events load launched $eventJobs job(s)")
    assert(events.schema == spark.read.parquet(s"$sf0001/events.parquet").schema)
  }

  test("a table rewritten in place is re-inferred by the next load and validate") {
    withTempDir { dir =>
      val path = s"$dir/region.parquet"
      Seq((1, "AFRICA")).toDF("r_regionkey", "r_name").write.parquet(path)
      assert(Tables.load(spark, dir, "region").schema("r_regionkey").dataType ==
        IntegerType)
      Tables.validate(spark, dir, Seq("region"))
      Seq((2L, "ASIA")).toDF("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(path)
      val retyped = Tables.load(spark, dir, "region")
      assert(retyped.schema("r_regionkey").dataType == LongType)
      assert(retyped.as[(Long, String)].collect().toSeq == Seq((2L, "ASIA")))
      Seq(("3", "EUROPE")).toDF("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(path)
      val err = intercept[IllegalStateException] {
        Tables.validate(spark, dir, Seq("region"))
      }
      assert(err.getMessage.contains("region.r_regionkey: scanned string"),
        err.getMessage)
    }
  }

  test("changing a parquet-reader conf in the same session misses the cache") {
    Seq("spark.sql.parquet.binaryAsString", GraftSession.NanosKey,
        "spark.sql.caseSensitive").foreach { key =>
      Tables.load(spark, sf0001, "nation")
      assert(jobsDuring(Tables.load(spark, sf0001, "nation"))._2 == 0)
      val before = spark.conf.getOption(key)
      try {
        spark.conf.set(key, if (before.contains("true")) "false" else "true")
        assert(jobsDuring(Tables.load(spark, sf0001, "nation"))._2 >= 1,
          s"$key changed but the cached schema was reused")
        assert(jobsDuring(Tables.load(spark, sf0001, "nation"))._2 == 0,
          s"$key: the re-inferred schema was not cached")
      } finally before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("building the star-join queries a second time launches no Spark job") {
    val names = Seq("q02_type_rollup", "q05_dashboard_extract",
      "q06_star_features", "q08_cooccurrence", "q31_encode_ladders",
      "q32_widekey_fanout")
    names.foreach(n => SparkEntry.queries(n)(spark, sf0001))
    val jobs = names.map(n => n -> jobsDuring(SparkEntry.queries(n)(spark, sf0001))._2)
    assert(jobs.forall(_._2 == 0), jobs.mkString(", "))
  }
}
