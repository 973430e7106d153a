package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.time.temporal.ChronoUnit
import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `Tables.t` infers each fixture's schema once per session and still
  * hands out a fresh relation on every call. The last test stops the
  * shared session; later suites start a new one. */
class TablesSpec extends SparkSpec {

  private val fenceProp = "graft.tablesSpec.fence"

  /** Spark jobs that `body` starts in `s`'s context. Listener events
    * arrive late but in order, so a marked fence job before `body`
    * (for events of earlier work still queued) and one after it bound
    * the count exactly. */
  private def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val jobs = new AtomicInteger
    val fences = new Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(fenceProp) != null))
          fences.release()
        else jobs.incrementAndGet()
    }
    def fence(): Unit = {
      sc.setLocalProperty(fenceProp, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(fenceProp, null)
      assert(fences.tryAcquire(60, TimeUnit.SECONDS), "fence job never seen")
    }
    sc.addSparkListener(listener)
    try {
      fence()
      jobs.set(0)
      body
      fence()
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def tempDir(): String =
    Files.createTempDirectory("graft-tables").toString

  test("a second read of a fixture starts no Spark job, same schema") {
    val first = Tables.t(spark, sf, "nation")
    var again: DataFrame = null
    assert(jobsDuring(spark) {
      again = Tables.t(spark, sf, "nation")
      again.schema
    } == 0)
    assert(again.schema == spark.read.parquet(s"$sf/nation.parquet").schema)
    assert(again.count() == first.count())
  }

  test("two reads of one table self-join on distinct attributes") {
    val a = Tables.t(spark, sf, "nation")
    val b = Tables.t(spark, sf, "nation")
    val pairs = a.join(b, a("n_regionkey") === b("n_regionkey")
      && a("n_nationkey") < b("n_nationkey")).count()
    val perRegion = a.groupBy("n_regionkey").count().collect()
      .map(_.getLong(1))
    assert(pairs > 0)
    assert(pairs == perRegion.map(c => c * (c - 1) / 2).sum)
  }

  /** An events fixture whose ts is TIMESTAMP(NANOS), the encoding Spark
    * reads only as LONG nanos under the legacy conf. */
  private def nanosEvents(nanos: Seq[Long]): String = {
    val dir = tempDir()
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional binary event_type (STRING);
        |  optional double value;
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (n, i) =>
      w.write(g.newGroup().append("event_id", i.toLong).append("ts", n)
        .append("event_type", "view").append("value", 1.0))
    } finally w.close()
    dir
  }

  test("Tables.events yields µs timestamps with or without a plain read first") {
    val nanos = Seq(1700000000123456789L, 1L, -1500L)
    val want = nanos.map(n => Math.floorDiv(n, 1000L))
    val dir = nanosEvents(nanos)
    val epoch = LocalDateTime.of(1970, 1, 1, 0, 0)
    def micros(s: SparkSession): Seq[Long] =
      Tables.events(s, dir).orderBy("event_id").collect().toSeq
        .map(r => ChronoUnit.MICROS.between(epoch, r.getAs[LocalDateTime]("ts")))

    assert(micros(spark.newSession()) == want)

    val plainFirst = spark.newSession()
    Try(Tables.t(plainFirst, dir, "events").schema)
    assert(micros(plainFirst) == want)

    // And back: once `events` flipped the conf, a plain read under the
    // default conf sees what an uncached read sees.
    val eventsFirst = spark.newSession()
    assert(micros(eventsFirst) == want)
    eventsFirst.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(Try(Tables.t(eventsFirst, dir, "events").schema).toOption ==
      Try(eventsFirst.read.parquet(s"$dir/events.parquet").schema).toOption)
  }

  test("a fixture rewritten at the same path is inferred again") {
    val src = tempDir()
    spark.range(3).toDF("a").coalesce(1).write.parquet(s"$src/one")
    spark.range(3).selectExpr("id AS b", "id * 2 AS c").coalesce(1)
      .write.parquet(s"$src/two")
    def part(d: String) = Files.list(Paths.get(s"$src/$d")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get

    // A single parquet file, as the fixtures are.
    val dir = tempDir()
    val file = Paths.get(s"$dir/region.parquet")
    Files.copy(part("one"), file)
    assert(Tables.t(spark, dir, "region").columns.toSeq == Seq("a"))
    Files.copy(part("two"), file, StandardCopyOption.REPLACE_EXISTING)
    assert(jobsDuring(spark) {
      assert(Tables.t(spark, dir, "region").columns.toSeq == Seq("b", "c"))
    } > 0)

    // A directory of part files, as Spark writes a table.
    val table = s"$dir/nation.parquet"
    spark.range(3).toDF("a").coalesce(1).write.parquet(table)
    assert(Tables.t(spark, dir, "nation").columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS b", "id * 2 AS c").coalesce(1)
      .write.mode("overwrite").parquet(table)
    assert(Tables.t(spark, dir, "nation").columns.toSeq == Seq("b", "c"))
  }

  test("a new session infers again; no stopped session stays cached") {
    Tables.t(spark, sf, "region").schema
    val child = spark.newSession()
    assert(jobsDuring(child)(Tables.t(child, sf, "region").schema) > 0)
    assert(Tables.holds(spark) && Tables.holds(child))

    spark.stop()
    val fresh = SparkSpec.session()
    assert(jobsDuring(fresh)(Tables.t(fresh, sf, "region").schema) > 0)
    assert(Tables.holds(fresh))
    assert(!Tables.holds(spark) && !Tables.holds(child))
  }
}
