package graft

import java.io.File
import java.nio.file.Files

class TablesSpec extends SparkSpec {

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
