package graft.operators

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec

class TableFsSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_tablefs_$tag").resolve("t").toString

  test("locality is a function of the path and default-FS URIs") {
    val hdfs = new URI("hdfs://nn:8020")
    val local = new URI("file:///")
    // a scheme-less path follows the default FS, never "null = local"
    assert(!TableFs.isLocal(new URI("/x"), hdfs))
    assert(TableFs.isLocal(new URI("/x"), local))
    assert(TableFs.isLocal(new URI("file:/x"), local))
    // an explicit scheme wins over the default FS either way
    assert(TableFs.isLocal(new URI("file:/x"), hdfs))
    assert(!TableFs.isLocal(new URI("hdfs://nn:8020/x"), local))
    assert(!TableFs.isLocal(new URI("s3a://bucket/x"), local))
    // the session's own default FS is local
    assert(TableFs(spark, tmpDir("loc")).local)
  }

  test("pointer files: missing reads None; publish replaces in one step") {
    val dir = tmpDir("ptr")
    val fs = TableFs(spark, dir)
    val p = new Path(dir, "_CURRENT")
    assert(fs.readPointer(p).isEmpty)
    fs.publishPointer(p, 3)
    fs.publishPointer(p, 4)
    assert(fs.readPointer(p).contains(4L))
    // the tmp moved onto the pointer; nio writes leave no .crc sidecars
    assert(fs.list(new Path(dir)).map(_.getPath.getName).toSet ==
      Set("_CURRENT"))
  }

  test("partitioned merge restores a partition a crash left aside") {
    import spark.implicits._
    val dir = tmpDir("restore")
    Seq((1L, "A", 1.0, 1L), (2L, "A", 2.0, 1L), (3L, "B", 3.0, 1L))
      .toDF("k", "p", "v", "ver")
      .write.partitionBy("p").parquet(dir)
    // a merge that died between the swap's two renames: the old p=A
    // sits at the aside name and p=A itself is missing
    Files.move(java.nio.file.Paths.get(dir, "p=A"),
      java.nio.file.Paths.get(dir, ".p=A.__merge_old"))
    val batch = Seq((2L, "A", 20.0, 2L), (4L, "A", 4.0, 2L)).toDF("k", "p", "v", "ver")
    Layout.merge(spark, dir, batch, Seq("k"), "ver", partitionCols = Seq("p"))
    val got = spark.read.parquet(dir).select("k", "p", "v").as[(Long, String, Double)]
      .collect().toSet
    assert(got == Set((1L, "A", 1.0), (2L, "A", 20.0), (4L, "A", 4.0),
      (3L, "B", 3.0)))
    assert(!Files.exists(java.nio.file.Paths.get(dir, ".p=A.__merge_old")))
  }

  test("compact restores a table a crash left aside before reading it") {
    import spark.implicits._
    val dir = tmpDir("restore_whole")
    val rows = Set((1L, "a"), (2L, "b"), (3L, "c"))
    rows.toSeq.toDF("k", "s").write.parquet(dir)
    // a whole-table swap that died between its two renames: the table
    // sits at the aside name and `dir` itself is missing
    Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(s"$dir.__compact_old"))
    Layout.compact(spark, dir)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet == rows)
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir.__compact_old")))
  }
}
