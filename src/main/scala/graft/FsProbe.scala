package graft

import org.apache.hadoop.fs.{FileContext, Path}

/** Micro-probe for publish-path filesystem op costs (r18): FileContext
  * mkdir-with-permission vs plain mkdirs vs java.nio, rename, and
  * parquet footer open — quantifies the per-op fixed latency the
  * rename/commit pools pay per partition dir.
  */
object FsProbe {
  def main(args: Array[String]): Unit = {
    val n = 200
    val base = java.nio.file.Files.createTempDirectory("graft_fsprobe")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fc = FileContext.getFileContext(
      new Path(base.toString).toUri, conf)
    def t(tag: String)(f: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      (0 until n).foreach(f)
      println(f"$tag%-46s ${(System.nanoTime() - t0) / 1e6 / n}%8.3f ms/op")
    }
    t("fc.mkdir(perm=getDirDefault)") { i =>
      fc.mkdir(new Path(s"$base/m1_$i"),
        org.apache.hadoop.fs.permission.FsPermission.getDirDefault, true)
    }
    t("java.nio createDirectories") { i =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$base/m3_$i"))
    }
    t("fc.util.exists") { i =>
      fc.util.exists(new Path(s"$base/m3_$i")); ()
    }
    // rename dirs
    (0 until n).foreach(i => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/src_$i")))
    t("fc.rename(dir)") { i =>
      fc.rename(new Path(s"$base/src_$i"), new Path(s"$base/dst_$i"))
    }
    (0 until n).foreach(i => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/src2_$i")))
    t("java.nio Files.move(dir)") { i =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$base/src2_$i"),
        java.nio.file.Paths.get(s"$base/dst2_$i"))
    }
    // footer open cost on a real parquet file
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val pq = s"$base/pq"
    spark.range(0, 100000).selectExpr("id", "id * 2 as v")
      .coalesce(1).write.parquet(pq)
    val file = new java.io.File(pq).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val hconf = spark.sessionState.newHadoopConf()
    t("ParquetFileReader.open+footer (Hadoop path)") { _ =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(file.toString), hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try { r.getFooter.getBlocks.size(); () } finally r.close()
    }
    val rawConf = new org.apache.hadoop.conf.Configuration(hconf)
    t("ParquetFileReader.open+footer (raw local fs)") { _ =>
      val rawFs = new org.apache.hadoop.fs.RawLocalFileSystem()
      rawFs.initialize(new java.net.URI("file:///"), rawConf)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
        rawFs.getFileStatus(new Path(file.toString)), rawConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try { r.getFooter.getBlocks.size(); () } finally r.close()
    }
    t("ParquetFileReader.open+footer (nio LocalInputFile)") { _ =>
      val in = new org.apache.parquet.io.LocalInputFile(file.toPath)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try { r.getFooter.getBlocks.size(); () } finally r.close()
    }
    // FileSystem-API (not FileContext) metadata ops
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(s"file://$base"), hconf)
    t("fs.mkdirs (no explicit perm)") { i =>
      fs.mkdirs(new Path(s"$base/m4_$i")); ()
    }
    (0 until n).foreach(i => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/src3_$i")))
    t("fs.rename(dir)") { i =>
      fs.rename(new Path(s"$base/src3_$i"), new Path(s"$base/dst3_$i")); ()
    }
    t("fs.listStatus(dir of 3)") { _ =>
      fs.listStatus(new Path(s"$base")).length; ()
    }
    t("fc.util.listStatus(dir)") { _ =>
      fc.util.listStatus(new Path(s"$pq")).length; ()
    }
    t("fs.getFileStatus(file)") { _ =>
      fs.getFileStatus(new Path(file.toString)); ()
    }
    spark.stop()
  }
}
