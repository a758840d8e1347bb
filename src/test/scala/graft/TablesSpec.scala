package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class TablesSpec extends SparkSpec {

  /** `body`'s result and the Spark jobs it started, counted by a listener.
    * Jobs are told apart by a local property, and a marker job run after
    * `body` flushes the listener queue: events arrive in order, so once the
    * marker's start is seen, every job `body` started has been counted.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.spec.region")) match {
          case Some("body")   => jobs.incrementAndGet()
          case Some("marker") => marker.countDown()
          case _              =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.region", "body")
      val result = body
      sc.setLocalProperty("graft.spec.region", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      (result, jobs.get)
    } finally {
      sc.setLocalProperty("graft.spec.region", null)
      sc.removeSparkListener(listener)
    }
  }

  test("documentsSpread sizes documents.parquet on a non-file scheme") {
    FlakyLocalFs.registered(spark) {
      val df = Tables.documentsSpread(spark, "graftflaky:" + sf("sf0.001"), minBytes = 1)
      val plan = df.queryExecution.logical
      assert(plan.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      }.nonEmpty, plan.toString)
    }
  }

  test("a second Warehouse.table call for the same key runs no Spark job") {
    val root = Files.createTempDirectory("graft-wh-memo-").toString
    spark.conf.set("spark.graft.warehouseDir", root)
    try {
      def table() = Warehouse.table(spark, "memo_t", "key-a")(spark.range(0, 3).toDF("id"))
      val (_, first) = jobsOf(table())
      assert(first > 0, "the first call builds and reads the table")
      val (again, second) = jobsOf(table())
      assert(second == 0, s"the second call re-read the published table: $second jobs")
      assert(again.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    } finally spark.conf.unset("spark.graft.warehouseDir")
  }

  test("a Warehouse.table read for a different input key returns its own rows") {
    val root = Files.createTempDirectory("graft-wh-keys-").toString
    spark.conf.set("spark.graft.warehouseDir", root)
    try {
      def ids(key: String, from: Long) =
        Warehouse.table(spark, "keys_t", key)(spark.range(from, from + 3).toDF("id"))
          .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids("key-a", 0) == Seq(0L, 1L, 2L))
      assert(ids("key-b", 10) == Seq(10L, 11L, 12L))
      assert(ids("key-a", 99) == Seq(0L, 1L, 2L))
    } finally spark.conf.unset("spark.graft.warehouseDir")
  }

  test("Tables.load sees a part file of a directory dataset rewritten in place") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables").toString
    def write(name: String, ids: Range): File = {
      ids.toDF("id").coalesce(1).write.parquet(s"$dir/$name.parquet")
      new File(s"$dir/$name.parquet").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    }
    def ids() = Tables.load(spark, dir, "t").collect().map(_.getInt(0)).sorted.toSeq
    val part = write("t", 1 to 3)
    assert(ids() == (1 to 3))
    // same file names, contents replaced through the existing inodes: the
    // dataset directory's own mtime and size stay as they were
    val other = write("other", 100 to 20099)
    def crc(f: File) = new File(f.getParentFile, s".${f.getName}.crc").toPath
    Files.write(part.toPath, Files.readAllBytes(other.toPath))
    Files.write(crc(part), Files.readAllBytes(crc(other)))
    // a stale relation keeps the old listing, whose file length ends before
    // the new row group, and so returns no rows at all
    val got = ids()
    assert(got.size == 20000 && got == (100 to 20099), s"read ${got.size} rows")
  }
}
