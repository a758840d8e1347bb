package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `graftflaky:` scheme: a non-`file`
  * filesystem that needs no network. While `failing` is set, every status
  * lookup throws as an unreachable store would.
  */
class FlakyLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftflaky:///")
  override def getScheme: String = "graftflaky"
  override def getFileStatus(f: Path): FileStatus =
    if (FlakyLocalFs.failing) throw new java.io.IOException(s"transient fault reading $f")
    else plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)

  // a plain status: the local one loads its permissions lazily through
  // `new File(uri)`, which refuses any scheme but `file` (a recursive
  // `listFiles`, as `Warehouse.fingerprint` walks, asks for them)
  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getPath)
}

object FlakyLocalFs {
  @volatile var failing = false

  /** Runs `body` with `graftflaky:` registered on the session's Hadoop conf,
    * then unregisters it and clears `failing`.
    */
  def registered[T](spark: SparkSession)(body: => T): T = {
    val hadoop = spark.sparkContext.hadoopConfiguration
    hadoop.set("fs.graftflaky.impl", classOf[FlakyLocalFs].getName)
    hadoop.setBoolean("fs.graftflaky.impl.disable.cache", true)
    try body
    finally {
      failing = false
      hadoop.unset("fs.graftflaky.impl")
      hadoop.unset("fs.graftflaky.impl.disable.cache")
    }
  }
}
