package graft

/** Pins the input-stats advisory rule of [[SparkEntry.tuneFor]]: ~4 task
  * waves over the dataset (`bytes/(4·cores)`), 1 MB floor (sub-floor
  * shuffles still coalesce to single tasks), 64 MB cap (any corpus
  * ≥ 256 MB·cores saturates it, making the constant-advisory 100 TB posture
  * a special case of the rule, not an override of it).
  *
  * Exercised through the real entry point on real directories — a tiny
  * corpus for the floor, a sparse file of cluster-scale APPARENT size for
  * the cap (tuneFor reads file lengths, which for a sparse file report the
  * logical size, so the cap is testable without writing 100 GB).
  */
class TuneForSpec extends SparkSpec {

  private def advisoryAfter(dir: String): Long = {
    SparkEntry.tuneFor(spark, dir)
    spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes").toLong
  }

  test("a sub-floor corpus clamps the advisory to the 1 MB floor") {
    // sf0.001 is ~1 MB of parquet: bytes/(4*cores) is far below 1 MB
    assert(advisoryAfter(sf("sf0.001")) == (1L << 20))
  }

  test("a mid-size corpus sizes the advisory to ~4 task waves") {
    val dir = sf("sf0.1") // ~18 MB
    def total(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(total).sum).getOrElse(0L)
      else f.length
    val bytes = total(new java.io.File(dir))
    val cores = spark.sparkContext.defaultParallelism.toLong
    val expected = (bytes / (4L * cores)).max(1L << 20).min(64L << 20)
    assert(advisoryAfter(dir) == expected)
  }

  test("a file:-scheme URI resolves to the same advisory as the bare path") {
    // tuneFor now sizes the input through the Hadoop FileSystem API, so any
    // scheme the session can read works; the local round-trip is the
    // testable instance (plain path and file: URI must agree byte-for-byte)
    val bare = advisoryAfter(sf("sf0.01"))
    assert(advisoryAfter("file:" + sf("sf0.01")) == bare)
  }

  /** Runs `body` and puts the shared session's advisory back as it was. */
  private def keepingAdvisory(body: => Unit): Unit = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.getOption(key)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("an unreachable remote URI degrades to the session-default advisory") {
    // a scheme no FileSystem is registered for fails inside the lookup
    // itself, before any name resolution or connect retry; bytes read 0 and
    // tuneFor must leave the advisory exactly as it found it (the
    // documented at-scale fallback)
    keepingAdvisory {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "12345678")
      SparkEntry.tuneFor(spark, "graft-unregistered-scheme://namenode/data/corpus")
      assert(spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes") == "12345678")
    }
  }

  test("a failed size lookup is not memoized: the next call sizes the corpus") {
    // the local filesystem under a scheme of its own, made to fail on demand:
    // a transient storage fault must not pin the fallback for the JVM's life
    val dir = "graftflaky:" + sf("sf0.001")
    FlakyLocalFs.registered(spark)(keepingAdvisory {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "12345678")
      FlakyLocalFs.failing = true
      SparkEntry.tuneFor(spark, dir)
      assert(spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes") == "12345678")
      FlakyLocalFs.failing = false
      // the same directory, now reachable: sized to the sub-floor advisory
      assert(advisoryAfter(dir) == (1L << 20))
    })
  }

  test("a cluster-scale corpus saturates the 64 MB cap") {
    val dir = java.nio.file.Files.createTempDirectory("tunefor").toFile
    try {
      val f = new java.io.RandomAccessFile(new java.io.File(dir, "big.parquet"), "rw")
      try f.setLength(300L << 30) // 300 GB apparent ≥ 256 MB × 32 cores
      finally f.close()
      assert(advisoryAfter(dir.getAbsolutePath) == (64L << 20))
    } finally {
      Option(dir.listFiles).foreach(_.foreach(_.delete()))
      dir.delete()
      ()
    }
  }
}
