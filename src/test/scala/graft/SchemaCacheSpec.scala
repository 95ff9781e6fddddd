package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.ops.Sinks

/** The schema resolver behind every parquet table read (`Tables.parquet`):
  * a table's schema is inferred once per file version and reused while the
  * leaf files are unchanged. These specs pin that it
  *  - runs no Spark job on a repeat load of an unchanged table;
  *  - sees a file swapped in under the same path;
  *  - re-infers when a directory table gains a part file;
  *  - never stores a failed inference;
  *  - gives a hit the same schema and rows as inference on a
  *    date-partitioned root.
  */
class SchemaCacheSpec extends SparkSpec {

  /** Spark jobs started while `body` runs, counted by job group so jobs of
    * anything else sharing the context are not counted. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"schema-cache-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "schema cache probe")
    try {
      val out = body
      org.apache.spark.graftshim.ListenerShim.waitUntilListenerBusEmpty(sc)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def withConf(k: String, v: String)(body: => Unit): Unit = {
    val old = spark.conf.getOption(k)
    try { spark.conf.set(k, v); body }
    finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Writes `df` as one parquet file at `dst` (the fixtures' layout). */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame, dst: String): Unit = {
    val staging = Files.createTempDirectory("graft-schema-staging").toString + "/t"
    df.coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(dst).getParent)
    Files.copy(part.toPath, Paths.get(dst), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second load of an unchanged table starts no Spark job") {
    val dir = Files.createTempDirectory("graft-schema-hit").toString
    writeSingleFile(spark.range(10).select(col("id").as("k"), lit("v").as("v")),
      s"$dir/t.parquet")
    val (first, firstJobs) = jobsDuring(Tables.table(spark, dir, "t").schema)
    assert(firstJobs >= 1, "the first load infers the schema (one job)")
    val (second, secondJobs) = jobsDuring(Tables.table(spark, dir, "t").schema)
    assert(secondJobs == 0, s"repeat load of an unchanged file ran $secondJobs job(s)")
    assert(second == first)
    assert(Tables.table(spark, dir, "t").count() == 10)
  }

  test("a file swapped in under the same path is seen on the next load") {
    val dir = Files.createTempDirectory("graft-schema-swap").toString
    writeSingleFile(spark.range(5).select(col("id").as("a")), s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"))
    writeSingleFile(spark.range(7).select(col("id").cast("string").as("b"),
      (col("id") * 2).as("c")), s"$dir/t.parquet")
    val swapped = Tables.table(spark, dir, "t")
    assert(swapped.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(swapped.schema("b").dataType.simpleString == "string")
    assert(swapped.count() == 7)
  }

  test("adding a part file to a directory table re-infers the schema") {
    val dir = Files.createTempDirectory("graft-schema-grow").toString
    val table = s"$dir/t.parquet"
    spark.range(4).select(col("id")).coalesce(1).write.parquet(table)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("id"))
      spark.range(4, 6).select(col("id"), lit("x").as("extra"))
        .coalesce(1).write.mode("append").parquet(table)
      val (grown, jobs) = jobsDuring(Tables.table(spark, dir, "t"))
      assert(jobs >= 1, "a new part file must re-infer")
      assert(grown.schema.fieldNames.toSeq == Seq("id", "extra"),
        s"stale schema after append: ${grown.schema.simpleString}")
      assert(grown.where(col("extra") === "x").count() == 2)
      assert(jobsDuring(Tables.table(spark, dir, "t").schema)._2 == 0)
    }
  }

  test("a failed inference is not cached") {
    val dir = Files.createTempDirectory("graft-schema-fail").toString
    Files.createDirectories(Paths.get(s"$dir/t.parquet"))
    Files.write(Paths.get(s"$dir/t.parquet/part-0.parquet"),
      "not a parquet file at all".getBytes("UTF-8"))
    // both loads must fail: a stored entry would turn the second into a
    // lazy read that "succeeds" with whatever schema was stored
    (1 to 2).foreach(_ => intercept[Exception](Tables.table(spark, dir, "t")))
  }

  test("a hit on a date-partitioned root matches inference in schema and rows") {
    val dir = Files.createTempDirectory("graft-schema-part").toString + "/events"
    Sinks.writePartitioned(spark.range(20).select(col("id").as("event_id"),
      date_format(date_add(lit("2024-01-01").cast("date"), (col("id") % 5).cast("int")),
        "yyyy-MM-dd").as("date")), dir, Seq("date"))
    val inferred = spark.read.parquet(dir)
    val (_, firstJobs) = jobsDuring(Sinks.readDateWindow(spark, dir, "date", "2024-01-04", 2))
    val (window, jobs) = jobsDuring(Sinks.readDateWindow(spark, dir, "date", "2024-01-04", 2))
    assert(firstJobs >= 1 && jobs == 0)
    assert(window.schema == inferred.schema)
    assert(window.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 20L).filter(i => i % 5 == 2 || i % 5 == 3))
  }
}
